"""DuckDB oracle for the benchmark's output checks.

Digest = (row count, sum over rows of the first 15 hex digits of
md5(columns in name order, rendered as text, joined by '|')). The harness
computes the same digest in Spark (`Harness.digestColumn`); doubles render
as DECIMAL(18,2) and timestamps as epoch microseconds so that both engines
print identical text.

Project outputs are checked against DuckDB at run time: the manifest from
`gen_project.py` carries each object's DuckDB SQL. Corpus outputs are
checked against digests committed in `expected/corpus.json`, which
`record_corpus.py` recorded once and cross-checked against DuckDB.
"""
import duckdb


def _text(col, typ):
    q = '"%s"' % col
    t = typ.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        s = f"CAST(CAST({q} AS DECIMAL(18,2)) AS VARCHAR)"
    elif t.startswith("TIMESTAMP"):
        s = f"CAST(epoch_us({q}) AS VARCHAR)"
    else:
        s = f"CAST({q} AS VARCHAR)"
    return f"COALESCE({s}, '\\N')"


def digest(con, relation):
    """[count, digest-as-string] of a DuckDB table or view."""
    cols = sorted(con.execute(f"DESCRIBE {relation}").fetchall())
    row = "concat_ws('|', %s)" % ", ".join(_text(c[0], c[1]) for c in cols)
    n, d = con.execute(
        f"SELECT COUNT(*), SUM(('0x' || substr(md5({row}), 1, 15))::BIGINT) "
        f"FROM {relation}").fetchone()
    return [n, str(d if d is not None else 0)]


def project_expected(manifest, fixtures, landing_day=None):
    """table -> [count, digest] for every materialised table of a generated
    project, after a full load (fresh) or after the last incremental window
    `landing_day` (incremental; the full recompute equals the merged state
    because every window recomputes whole days)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if landing_day is not None:
        con.execute(
            "CREATE VIEW landing_events AS SELECT * FROM "
            f"read_parquet('{fixtures}/events.parquet') "
            f"WHERE CAST(ts AS DATE) <= DATE '{landing_day}'")
    out = {}
    for name, sql, is_table in manifest["oracle"]:
        con.execute(f"CREATE TABLE {name} AS {sql.replace('{fixtures}', fixtures)}")
        if is_table:
            out[name] = digest(con, name)
    con.close()
    return out
