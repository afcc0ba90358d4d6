"""Seeded generator of sayn-style graft projects over the sf0.1 fixtures.

    generate(seed, out_dir, kind)  ->  manifest (dict)

`kind` is "fresh" (copy tasks, staging views, 4 layers of autosql tables,
sql scripts, custom tests) or "incremental" (an incremental events copy
plus incremental autosql models, half of them partitioned by day).

Only `out_dir/project/` is handed to graft. The manifest (returned and
written to `out_dir/manifest.json`) carries, per materialised table, the
equivalent DuckDB SQL that the oracle uses, plus task-type counts and the
expected DAG size and depth.

Rules that keep the oracle exact on both engines:
  - all SQL is in the Spark/DuckDB common subset;
  - money is DECIMAL(18,2) (every fixture double has at most 2 decimals,
    so the casts are exact) and aggregates are integer or decimal sums;
  - windows order by a unique key, so ranks and running sums are total;
  - no division, no AVG, no floating point in outputs.
The same seed gives a byte-identical project; the fixture directory is
passed at run time as the `fixtures` parameter, not written into files.
"""
import json
import os
import random
import sys

# copied into the warehouse; lineitem is read in place by its staging view,
# which keeps the 600k-row copy off the DAG's critical path
FIXTURES = ["orders", "customer", "part", "supplier", "nation", "region",
            "events"]

STAGING = {
    "stg_lineitem": """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
  CAST(l_quantity AS DECIMAL(18,2)) AS qty,
  CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
  CAST(l_discount AS DECIMAL(18,2)) AS disc,
  l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_day
FROM {lineitem_parquet}
WHERE l_orderkey % 5 = 0""",
    "stg_orders": """SELECT o_orderkey, o_custkey, o_orderstatus,
  CAST(o_totalprice AS DECIMAL(18,2)) AS total,
  CAST(o_orderdate AS DATE) AS order_day, o_orderpriority
FROM {raw_orders}""",
    "stg_customer": """SELECT c_custkey, c_nationkey, c_mktsegment,
  CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
FROM {raw_customer}""",
    "stg_part": """SELECT p_partkey, p_brand, p_size,
  CAST(p_retailprice AS DECIMAL(18,2)) AS retail
FROM {raw_part}""",
    "stg_supplier": """SELECT s_suppkey, s_nationkey,
  CAST(s_acctbal AS DECIMAL(18,2)) AS acctbal
FROM {raw_supplier}""",
    "stg_nation": """SELECT n_nationkey, n_name, n_regionkey FROM {raw_nation}""",
    "stg_region": """SELECT r_regionkey, r_name FROM {raw_region}""",
    "stg_events": """SELECT event_id, user_id, event_type,
  CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,2)) AS amt
FROM {raw_events}""",
}

# Every layer-1+ model has the uniform shape (k, grp, n, amt):
#   k    BIGINT, unique and not null
#   grp  STRING in ('a','b','c'), a function of k
#   n    BIGINT >= 1
#   amt  DECIMAL(18,2) sum
# so later layers can combine any earlier models.
GRP = "CASE WHEN {k} % 3 = 0 THEN 'a' WHEN {k} % 3 = 1 THEN 'b' ELSE 'c' END"


def _l1_templates(rng):
    """Layer-1 aggregates over the staging views."""
    m = rng.choice([37, 53, 97, 211, 401, 997])
    q = rng.choice([5, 10, 20, 30])
    flag = rng.choice(["A", "N", "R"])
    status = rng.choice(["F", "O", "P"])
    etype = rng.choice(["click", "view", "purchase", "signup", "error"])
    year = rng.choice([1995, 1996, 1997, 1998])
    seg = rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                      "BUILDING"])
    return [
        ("li_part", f"""SELECT l_partkey % {m} AS k, COUNT(*) AS n,
  SUM(price) AS amt
FROM {{stg_lineitem}} WHERE qty >= {q}
GROUP BY l_partkey % {m}"""),
        ("li_flag", f"""SELECT l_suppkey % {m} AS k, COUNT(*) AS n,
  SUM(price - disc) AS amt
FROM {{stg_lineitem}} WHERE l_returnflag = '{flag}'
GROUP BY l_suppkey % {m}"""),
        ("ord_cust", f"""SELECT o_custkey % {m} AS k, COUNT(*) AS n,
  SUM(total) AS amt
FROM {{stg_orders}} WHERE o_orderstatus = '{status}'
GROUP BY o_custkey % {m}"""),
        ("ord_year", f"""SELECT o_custkey % {m} AS k, COUNT(DISTINCT o_orderpriority) AS n,
  SUM(total) AS amt
FROM {{stg_orders}} WHERE order_day >= DATE '{year}-01-01'
GROUP BY o_custkey % {m}"""),
        ("cust_seg", f"""SELECT c.c_custkey % {m} AS k, COUNT(*) AS n,
  SUM(o.total) AS amt
FROM {{stg_orders}} o JOIN {{stg_customer}} c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{seg}'
GROUP BY c.c_custkey % {m}"""),
        ("part_size", f"""SELECT p.p_size * 1000 + l.l_linenumber AS k, COUNT(*) AS n,
  SUM(l.price) AS amt
FROM {{stg_lineitem}} l JOIN {{stg_part}} p ON l.l_partkey = p.p_partkey
WHERE l.qty >= {q}
GROUP BY p.p_size * 1000 + l.l_linenumber"""),
        ("supp_nation", f"""SELECT s.s_nationkey * 100 + l.l_linenumber AS k, COUNT(*) AS n,
  SUM(l.price) AS amt
FROM {{stg_lineitem}} l JOIN {{stg_supplier}} s ON l.l_suppkey = s.s_suppkey
JOIN {{stg_nation}} na ON s.s_nationkey = na.n_nationkey
GROUP BY s.s_nationkey * 100 + l.l_linenumber"""),
        ("ev_user", f"""SELECT user_id % {m} AS k, COUNT(*) AS n, SUM(amt) AS amt
FROM {{stg_events}} WHERE event_type = '{etype}'
GROUP BY user_id % {m}"""),
        ("ev_day", f"""SELECT CAST(EXTRACT(DAY FROM day) AS BIGINT) * 10 + user_id % 7 AS k,
  COUNT(*) AS n, SUM(amt) AS amt
FROM {{stg_events}}
GROUP BY CAST(EXTRACT(DAY FROM day) AS BIGINT) * 10 + user_id % 7"""),
        ("region_rev", f"""SELECT r.r_regionkey * 10 + l.l_linenumber AS k, COUNT(*) AS n,
  SUM(l.price) AS amt
FROM {{stg_lineitem}} l JOIN {{stg_supplier}} s ON l.l_suppkey = s.s_suppkey
JOIN {{stg_nation}} na ON s.s_nationkey = na.n_nationkey
JOIN {{stg_region}} r ON na.n_regionkey = r.r_regionkey
WHERE l.l_returnflag = '{flag}'
GROUP BY r.r_regionkey * 10 + l.l_linenumber"""),
    ]


def _combine_templates(rng, a, b):
    """Layer-2+ models over earlier (k, grp, n, amt) models."""
    top = rng.choice([3, 5, 10, 25])
    m = rng.choice([7, 11, 13, 29])
    return [
        ("join", f"""SELECT x.k, x.n + COALESCE(y.n, 0) AS n,
  x.amt - COALESCE(y.amt, 0) AS amt
FROM {{{a}}} x LEFT JOIN {{{b}}} y ON x.k = y.k"""),
        ("topn", f"""SELECT k, n, amt FROM (
  SELECT k, n, amt, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY amt DESC, k) AS rn
  FROM {{{a}}}) t
WHERE rn <= {top}"""),
        ("rollup", f"""SELECT k % {m} AS k, SUM(n) AS n, SUM(amt) AS amt
FROM {{{a}}} GROUP BY k % {m}"""),
        ("running", f"""SELECT k, n,
  SUM(amt) OVER (PARTITION BY grp ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS amt
FROM {{{a}}}"""),
        ("union", f"""SELECT k, SUM(n) AS n, SUM(amt) AS amt FROM (
  SELECT k, n, amt FROM {{{a}}}
  UNION ALL
  SELECT k, n, amt FROM {{{b}}}) u
GROUP BY k"""),
        ("lag", f"""SELECT k, n,
  amt - COALESCE(LAG(amt) OVER (PARTITION BY grp ORDER BY k), 0) AS amt
FROM {{{a}}}"""),
        ("rank", f"""SELECT x.k, CAST(RANK() OVER (PARTITION BY x.grp ORDER BY x.n DESC, x.k) AS BIGINT) AS n,
  x.amt
FROM {{{a}}} x WHERE x.k IN (SELECT k FROM {{{b}}})"""),
    ]


def _shape(body):
    """Wrap a (k, n, amt) body into the uniform (k, grp, n, amt) shape."""
    return ("SELECT CAST(k AS BIGINT) AS k, " + GRP.format(k="k") + " AS grp,\n"
            "  CAST(n AS BIGINT) AS n, CAST(amt AS DECIMAL(18,2)) AS amt\n"
            f"FROM (\n{body}\n) s")


SHAPE_COLUMNS = [
    {"name": "k", "tests": ["unique", "not_null"]},
    {"name": "grp", "tests": [{"allowed_values": ["a", "b", "c"]}]},
    {"name": "n", "tests": ["not_null"]},
    {"name": "amt"},
]


def _render(template, spark):
    """Fill `{name}` references: `{{ src('name') }}` for graft, the bare
    table name for DuckDB."""
    class Refs(dict):
        def __missing__(self, key):
            if key == "lineitem_parquet":
                return ("parquet.`{{ fixtures }}/lineitem.parquet`" if spark
                        else "read_parquet('{fixtures}/lineitem.parquet')")
            return "{{ src('%s') }}" % key if spark else key
    return template.format_map(Refs())


def _dump(obj):
    return json.dumps(obj, indent=1, sort_keys=True) + "\n"


# The DAG shape (which template fills each slot and which models feed it)
# is fixed, so every seed costs about the same to run; the workload seed
# varies only the literals (moduli, thresholds, filter values, top-N).
SHAPE_SEED = 20240101


def generate_fresh(seed, n_layer=(5, 4, 3, 2), n_marts=4, n_scripts=2,
                   n_tests=6):
    rng = random.Random(seed)
    shape = random.Random(SHAPE_SEED)
    tasks = {}      # group -> {task: cfg}
    sql_files = {}  # file -> text
    oracle = []     # [name, duckdb sql, is_table] in creation order
    depth = {}

    def add(group, name, cfg, d):
        tasks.setdefault(group, {})[name] = cfg
        depth[name] = d

    for t in FIXTURES:
        name = f"raw_{t}"
        add("load", f"load_{t}", {
            "type": "copy",
            "source": "parquet:{{ fixtures }}/%s.parquet" % t,
            "destination": name}, 0)
        oracle.append([name, f"SELECT * FROM read_parquet('{{fixtures}}/{t}.parquet')", True])
    for v, body in STAGING.items():
        sql = _render(body, spark=True)
        sql_files[f"{v}.sql"] = sql + "\n"
        add("staging", v, {"type": "autosql", "materialisation": "view",
                           "destination": v, "file_name": f"{v}.sql"}, 1)
        oracle.append([v, _render(body, spark=False), False])

    layers = []
    l1 = []
    for i in range(n_layer[0]):
        templates = _l1_templates(rng)
        kind, body = templates[shape.randrange(len(templates))]
        l1.append((f"l1_{i:02d}_{kind}", body))
    layers.append(l1)
    for li, count in enumerate(n_layer[1:], start=2):
        prev = [n for n, _ in layers[-1]]
        pool = [n for layer in layers for n, _ in layer]
        layer = []
        for i in range(count):
            a = shape.choice(prev)
            b = shape.choice(pool)
            templates = _combine_templates(rng, a, b)
            kind, body = templates[shape.randrange(len(templates))]
            layer.append((f"l{li}_{i:02d}_{kind}", body))
        layers.append(layer)

    for li, layer in enumerate(layers, start=1):
        for name, body in layer:
            shaped = _shape(body)
            sql = _render(shaped, spark=True)
            # a minority of layer-1 models are views, not tables
            mat = "view" if li == 1 and shape.random() < 0.3 else "table"
            sql_files[f"{name}.sql"] = sql + "\n"
            cfg = {"type": "autosql", "materialisation": mat,
                   "destination": name, "file_name": f"{name}.sql"}
            if mat == "table":
                cfg["columns"] = SHAPE_COLUMNS
            add(f"layer{li}", name, cfg, li + 1)
            oracle.append([name, _render(shaped, spark=False), mat == "table"])

    models = [n for layer in layers for n, _ in layer]
    # cheap filtered views over the upper layers
    upper = [n for layer in layers[1:] for n, _ in layer] or models
    for i in range(n_marts):
        a = shape.choice(upper)
        name = f"mart_{i:02d}"
        body = "SELECT k, grp, n, amt FROM {%s} WHERE grp = '%s'" % (
            a, rng.choice("abc"))
        sql = _render(body, spark=True)
        sql_files[f"{name}.sql"] = sql + "\n"
        add("marts", name, {
            "type": "autosql", "materialisation": "view", "destination": name,
            "file_name": f"{name}.sql"}, depth[a] + 1)
        oracle.append([name, _render(body, spark=False), False])
    for i in range(n_scripts):
        a = shape.choice(models)
        name = f"snap_{i:02d}"
        body = "SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS DECIMAL(18,2)) AS amt\nFROM {%s} GROUP BY grp" % a
        sql = _render(body, spark=True)
        script = ("DROP TABLE IF EXISTS {{ out('%s') }};\n"
                  "CREATE TABLE {{ out('%s') }} USING parquet AS\n%s;\n"
                  % (name, name, sql))
        sql_files[f"{name}.sql"] = script
        add("scripts", name, {"type": "sql", "file_name": f"{name}.sql"},
            depth[a] + 1)
        oracle.append([name, _render(body, spark=False), True])
    checks = [
        "SELECT k FROM {%s} WHERE n < 1 OR k IS NULL",
        "SELECT k, COUNT(*) AS c FROM {%s} GROUP BY k HAVING COUNT(*) > 1",
        "SELECT grp FROM {%s} WHERE grp NOT IN ('a', 'b', 'c')",
    ]
    for i in range(n_tests):
        a = shape.choice(models)
        sql = _render(checks[shape.randrange(len(checks))] % a, spark=True)
        name = f"check_{i:02d}"
        sql_files[f"{name}.sql"] = sql + "\n"
        # custom-test SQL is compiled at run time, so the edge is explicit
        add("checks", name, {"type": "test", "file_name": f"{name}.sql",
                             "parents": [a]}, depth[a] + 1)
    return tasks, sql_files, oracle, depth


INCREMENTAL_MODELS = [
    # (name, partitioned, body selecting from inc_events, delete key)
    ("inc_day_type", True, """SELECT CAST(ts AS DATE) AS day, event_type,
  CAST(CAST(ts AS DATE) AS STRING) || '|' || event_type AS k,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS amt
FROM {inc_events}{where}
GROUP BY CAST(ts AS DATE), event_type"""),
    ("inc_day_bucket", True, """SELECT CAST(ts AS DATE) AS day, user_id % {m} AS bucket,
  CAST(CAST(ts AS DATE) AS STRING) || '|' || CAST(user_id % {m} AS STRING) AS k,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS amt
FROM {inc_events}{where}
GROUP BY CAST(ts AS DATE), user_id % {m}"""),
    ("inc_event_fact", False, """SELECT event_id AS k, user_id, event_type,
  CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,2)) AS amt
FROM {inc_events}{where}"""),
    ("inc_day_user_type", False, """SELECT CAST(CAST(ts AS DATE) AS STRING) || '|' || event_type || '|' || CAST(user_id % {m} AS STRING) AS k,
  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS amt
FROM {inc_events}{where}
GROUP BY CAST(CAST(ts AS DATE) AS STRING) || '|' || event_type || '|' || CAST(user_id % {m} AS STRING)"""),
]


def generate_incremental(seed):
    rng = random.Random(seed)
    tasks, sql_files, depth = {}, {}, {}
    tasks["ingest"] = {"inc_events": {
        "type": "copy", "source": "landing_events", "destination": "inc_events",
        "incremental_key": "ts", "delete_key": "event_id"}}
    depth["inc_events"] = 0
    # the oracle sees the landing view as it stands after the last window
    oracle = [["inc_events", "SELECT * FROM landing_events", True]]
    models = {}
    for name, partitioned, body in INCREMENTAL_MODELS:
        m = rng.choice([7, 13, 29, 53])  # bucket count; cost is seed-independent
        where = "\n{% if not full_load %}WHERE CAST(ts AS DATE) >= DATE '{{ start_dt }}'{% endif %}"
        spark_body = body.replace("{m}", str(m)).replace("{where}", "{{where}}")
        sql = _render(spark_body, spark=True)
        sql = sql.replace("{where}", where)
        sql_files[f"{name}.sql"] = sql + "\n"
        cfg = {"type": "autosql", "materialisation": "incremental",
               "destination": name, "delete_key": "k", "file_name": f"{name}.sql",
               "columns": [{"name": "k", "tests": ["unique", "not_null"]},
                           {"name": "n" if "COUNT" in body else "amt",
                            "tests": ["not_null"]}]}
        if partitioned:
            cfg["partition"] = ["day"]
        models[name] = cfg
        depth[name] = 1
        duck = _render(spark_body, spark=False)
        oracle.append([name, duck.replace("{where}", ""), True])
    tasks["models"] = models
    check = "SELECT k FROM {inc_day_type} WHERE n < 1 OR amt < 0"
    sql = _render(check, spark=True)
    sql_files["check_inc.sql"] = sql + "\n"
    tasks["checks"] = {"check_inc": {"type": "test", "file_name": "check_inc.sql",
                                     "parents": ["inc_day_type"]}}
    depth["check_inc"] = 2
    return tasks, sql_files, oracle, depth


def generate(seed, out_dir, kind, failing_task=False):
    """Write `out_dir/project` and `out_dir/manifest.json`; return the
    manifest. `failing_task` adds one custom test that always fails (the
    benchmark's own failure-path test uses it)."""
    if kind == "fresh":
        tasks, sql_files, oracle, depth = generate_fresh(seed)
    elif kind == "tiny":
        tasks, sql_files, oracle, depth = generate_fresh(
            seed, n_layer=(2, 1), n_marts=1, n_scripts=0, n_tests=1)
    elif kind == "incremental":
        tasks, sql_files, oracle, depth = generate_incremental(seed)
    else:
        raise ValueError(f"unknown project kind {kind!r}")
    if failing_task:
        sql_files["always_fails.sql"] = "SELECT 1 AS x\n"
        tasks.setdefault("checks", {})["always_fails"] = {
            "type": "test", "file_name": "always_fails.sql"}
        depth["always_fails"] = 0
    proj = os.path.join(out_dir, "project")
    os.makedirs(os.path.join(proj, "tasks"), exist_ok=True)
    os.makedirs(os.path.join(proj, "sql"), exist_ok=True)
    with open(os.path.join(proj, "project.yaml"), "w") as f:
        f.write(_dump({"default_db": "spark", "parameters": {"fixtures": ""}}))
    for group, ts in sorted(tasks.items()):
        with open(os.path.join(proj, "tasks", f"{group}.yaml"), "w") as f:
            f.write(_dump({"tasks": ts}))
    for fn, text in sorted(sql_files.items()):
        with open(os.path.join(proj, "sql", fn), "w") as f:
            f.write(text)
    types = {}
    for ts in tasks.values():
        for cfg in ts.values():
            key = cfg["type"] + (f":{cfg['materialisation']}"
                                 if "materialisation" in cfg else "")
            types[key] = types.get(key, 0) + 1
    manifest = {
        "seed": seed, "kind": kind,
        "n_tasks": sum(len(ts) for ts in tasks.values()),
        "dag_depth": max(depth.values()) + 1,
        "task_types": dict(sorted(types.items())),
        "oracle": oracle,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        f.write(_dump(manifest))
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen_project.py SEED OUT_DIR fresh|incremental|tiny")
    m = generate(int(sys.argv[1]), sys.argv[2], sys.argv[3])
    print(json.dumps({k: m[k] for k in ("seed", "n_tasks", "dag_depth", "task_types")}))
