"""Metric arithmetic over the harness's raw record. Pure functions, so the
benchmark's tests can check them on hand-built event sequences.

Tracker event rows (as the harness writes them):
    ["run_started", n_tasks, ts]
    ["task_started", task, ts]
    ["task_finished", task, status, ts, duration_ms, error]
    ["step_started", task, step, ts]
    ["step_finished", task, step, ok, ts, duration_ms]
    ["run_finished", ok, ts, duration_ms]
"""
import statistics


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return float(statistics.median(values)) if values else 0.0


def task_intervals(events):
    """task -> (start_ts, end_ts, status) for tasks that started; tasks
    skipped without starting get start == end."""
    start, out = {}, {}
    for e in events:
        if e[0] == "task_started":
            start[e[1]] = e[2]
        elif e[0] == "task_finished":
            end = e[3]
            out[e[1]] = (start.get(e[1], end), end, e[2])
    return out


def run_bounds(events):
    """(RunStarted ts, RunFinished ts) of one App.run."""
    t0 = next(e[2] for e in events if e[0] == "run_started")
    t1 = next(e[2] for e in events if e[0] == "run_finished")
    return t0, t1


def ready_wait_ms(intervals, dag, run_start):
    """Sum over started tasks of TaskStarted minus the moment the task became
    ready: its last parent's TaskFinished, or RunStarted for a root."""
    total = 0
    for t, (s, _, _) in intervals.items():
        parents = [p for p in dag.get(t, []) if p in intervals]
        ready = max([intervals[p][1] for p in parents], default=run_start)
        total += max(0, s - ready)
    return total


def critical_path_ms(intervals, dag):
    """Longest parent chain, weighting each task by its wall time."""
    memo = {}

    def longest(t, seen=()):
        if t not in memo:
            s, e, _ = intervals[t]
            ps = [p for p in dag.get(t, []) if p in intervals and p not in seen]
            memo[t] = (e - s) + max((longest(p, seen + (t,)) for p in ps), default=0)
        return memo[t]
    return max((longest(t) for t in intervals), default=0)


def slot_busy_frac(runs, jobs):
    """Share of the slot-time (jobs x run wall, summed over the pass's
    App.run calls) spent inside tasks. `runs` holds one
    (intervals, run_start, run_end) per App.run."""
    busy = sum(e - s for iv, _, _ in runs for s, e, _ in iv.values())
    span = sum(max(1, t1 - t0) for _, t0, t1 in runs) * jobs
    return busy / span


def tail_ms(intervals, jobs, run_end):
    """Time from the last moment every slot was busy to the run's end (the
    whole run when the slots were never all busy)."""
    points = sorted([(s, 1) for s, e, _ in intervals.values() if e > s] +
                    [(e, -1) for s, e, _ in intervals.values() if e > s])
    busy, last_full = 0, None
    for ts, d in points:  # at equal times, ends sort before starts
        before, busy = busy, busy + d
        if before >= jobs > busy:
            last_full = ts
    if last_full is None:
        return run_end - min((p[0] for p in points), default=run_end)
    return max(0, run_end - last_full)


def step_totals(events):
    """step name -> summed duration (ms) over StepFinished events."""
    out = {}
    for e in events:
        if e[0] == "step_finished":
            out[e[2]] = out.get(e[2], 0) + e[5]
    return out


def test_ms(events, test_tasks):
    """Time spent in tests: whole custom-test tasks, plus for other tasks
    the gap between their last step and TaskFinished (column tests run
    there under --with-tests)."""
    last_step, total = {}, 0
    for e in events:
        if e[0] == "step_finished":
            last_step[e[1]] = e[4]
    for t, (s, e, status) in task_intervals(events).items():
        if t in test_tasks:
            total += e - s
        elif t in last_step and status == "succeeded":
            total += max(0, e - last_step[t])
    return total


def spark_totals(spark):
    """Summed listener data of one pass."""
    jobs = spark.get("jobs", [])
    stages = spark.get("stages", [])
    qs = spark.get("queries", [])
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s[4] for s in stages),
        "job_wall_ms": sum(max(0, j[4] - j[3]) for j in jobs),
        "executor_run_ms": sum(s[5] for s in stages),
        "executor_cpu_ms": sum(s[6] for s in stages),
        "gc_ms": sum(s[7] for s in stages),
        "shuffle_write_mb": sum(s[8] for s in stages) / 1e6,
        "spill_mb": sum(s[9] for s in stages) / 1e6,
        "input_mb": sum(s[10] for s in stages) / 1e6,
        "max_task_ms": max((s[11] for s in stages), default=0),
        "plan_ms": sum(q[2] + q[3] + q[4] for q in qs),
        "queries": len(qs),
        "rows_written": sum(q[6] for q in qs),
        "bytes_written_mb": sum(q[7] for q in qs) / 1e6,
        "files_written": sum(q[8] for q in qs),
    }


def catalog_counts(spark):
    kinds = {"CreateTableEvent": "create", "DropTableEvent": "drop",
             "RenameTableEvent": "rename", "AlterTableEvent": "alter"}
    out = {v: 0 for v in kinds.values()}
    total = 0
    for kind, _ in spark.get("catalog", []):
        total += 1
        if kind in kinds:
            out[kinds[kind]] += 1
    out["ops"] = total
    return out


def codegen_delta(c0, c1):
    """(compiles, estimated ms) between two CodegenMetrics readings of
    (count, mean ms). The histogram keeps a sample, not a sum, so the time
    is count x the later mean."""
    n = c1[0] - c0[0]
    return n, n * c1[1]


# ---- spans ---------------------------------------------------------------

def build_spans(pass_rec, kind):
    """JSONL-ready spans for one pass: pass > app.run|entry > task > step >
    query > job > stage. Each span: {id, parent, layer, name, t0, t1}.
    Tasks link to their queries and jobs through the `graft:<task>` job
    group; queries link to jobs through the SQL execution id."""
    spans = []

    def add(parent, layer, name, t0, t1):
        sid = len(spans)
        spans.append({"id": sid, "parent": parent, "layer": layer,
                      "name": name, "t0": t0, "t1": max(t0, t1)})
        return sid

    root = add(None, "bench", "pass", pass_rec["t0"], pass_rec["t1"])
    spark = pass_rec.get("spark", {})
    task_span, entry_span = {}, []
    if kind == "corpus":
        for op in pass_rec["ops"]:
            t0 = op["t_wall"]
            t1 = t0 + op.get("build_ms", 0) + op.get("exec_ms", 0)
            sid = add(root, "queries", op["name"], t0, t1)
            entry_span.append((t0, t1, sid))
    else:
        for run in pass_rec["runs"]:
            app = add(root, "app", "App.run", run["t_call"], run["t_end"])
            steps_open = {}
            for t, (s, e, _) in task_intervals(run["events"]).items():
                task_span[t] = add(app, "tasks", t, s, e)
            for e in run["events"]:
                if e[0] == "step_started":
                    steps_open[(e[1], e[2])] = e[3]
                elif e[0] == "step_finished" and e[1] in task_span:
                    s0 = steps_open.pop((e[1], e[2]), e[4] - e[5])
                    layer = "core" if e[2] == "compile" else "tasks.step"
                    add(task_span[e[1]], layer, e[2], s0, e[4])

    def owner(group, t0):
        if group and group.startswith("graft:") and group[6:] in task_span:
            return task_span[group[6:]]
        for s0, s1, sid in entry_span:
            if s0 <= t0 <= s1:
                return sid
        return root

    sql_span = {}
    for ex_id, group, t0, t1, desc in spark.get("sql", []):
        sql_span[str(ex_id)] = add(owner(group, t0), "spark.query",
                                   desc or f"query {ex_id}", t0, t1 or t0)
    job_span = {}
    for jid, group, ex_id, t0, t1, _ in spark.get("jobs", []):
        parent = sql_span.get(str(ex_id)) if ex_id is not None else None
        job_span[jid] = add(parent if parent is not None else owner(group, t0),
                            "spark.job", f"job {jid}", t0, t1 or t0)
    for st in spark.get("stages", []):
        sid, jid, t0, t1 = st[0], st[1], st[2], st[3]
        add(job_span.get(jid, root), "spark.stage", f"stage {sid}", t0, t1 or t0)
    return spans


def self_times(spans):
    """layer -> summed self time: each span's duration minus the part of its
    interval that its children cover (children of parallel tasks overlap,
    so the covered part is their union, not their sum)."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0, s["t0"]
        for c0, c1 in sorted(children.get(s["id"], [])):
            c0, c1 = max(c0, end), min(c1, s["t1"])
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[s["layer"]] = out.get(s["layer"], 0) + (s["t1"] - s["t0"]) - covered
    return out
