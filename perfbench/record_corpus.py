#!/usr/bin/env python3
"""Record the expected corpus_mix digests once, cross-checked against DuckDB.

    python3 perfbench/record_corpus.py

Run from the repository root. It
  1. runs the harness over the corpus_mix entries twice and keeps each
     entry's Spark digest, requiring the two runs to agree;
  2. dumps every entry's result with `graft.Verify` and compares it row by
     row with the entry's DuckDB oracle SQL (`SparkEntry.oracleSql`), the
     same comparison as scripts/check_oracle.py;
  3. writes perfbench/expected/corpus.json with the digests and the
     per-entry DuckDB verdict. Entries without an oracle keep their Spark
     digest only; the verdict says so.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(df.notnull(), None)
    return sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))


def duckdb_verdicts(fixtures, dump_dir, names):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in sorted(os.listdir(fixtures)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(fixtures, p)}')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    out = {}
    for name in names:
        if name not in oracle_sql:
            out[name] = "no oracle"
            continue
        files = [os.path.join(dump_dir, name, f)
                 for f in os.listdir(os.path.join(dump_dir, name))
                 if f.endswith(".parquet")] if os.path.isdir(
                     os.path.join(dump_dir, name)) else []
        if not files:
            out[name] = "fail: no spark output"
            continue
        s = pd.concat([pd.read_parquet(f) for f in files])
        d = con.execute(oracle_sql[name]).df()
        if sorted(s.columns) != sorted(d.columns):
            out[name] = "fail: columns differ"
        elif canon(s) != canon(d):
            out[name] = "fail: rows differ"
        else:
            out[name] = f"pass ({len(s)} rows)"
    return out


def main():
    root = os.getcwd()
    classes, _ = run.build(root)
    fixtures = os.path.join(HERE, "fixtures", "sf0.1")
    work = os.path.join(root, ".bench_build", "work", "record-corpus")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runs = []
    for seed in (0, 1):
        _, raw = run.run_jvm(classes, work, {
            "mode": "corpus", "out": os.path.join(work, f"raw{seed}.json"),
            "work": work, "fixtures": fixtures, "seconds": 0, "trace": 0,
            "seed": seed, "entries": ",".join(run.NAMED_ENTRIES + run.SAMPLE_ENTRIES)},
            deadline=time.time() + 600)
        runs.append(raw)
    first, second = runs[0]["digests"], runs[1]["digests"]
    unstable = sorted(n for n in first if first[n] != second.get(n))
    if unstable:
        sys.exit(f"digests differ between passes: {unstable}")

    dump = os.path.join(work, "verify")
    cp = ":".join([os.path.join(classes, "graft"),
                   os.path.join(run.spark_jars(), "*")])
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
           [f"-Xmx{run.XMX}", f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.Verify",
            fixtures, dump] + raw["entries"])
    subprocess.run(cmd, cwd=work, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    verdicts = duckdb_verdicts(fixtures, dump, raw["entries"])
    failed = {n: v for n, v in verdicts.items() if v.startswith("fail")}
    out = {"fixtures": "sf0.1", "entries": raw["entries"],
           "digests": dict(sorted(first.items())),
           "duckdb": dict(sorted(verdicts.items()))}
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "corpus.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"entries": len(first), "duckdb_failed": failed}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
