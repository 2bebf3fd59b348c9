"""Output check for the batch workload: each query's Spark result (written by
the untimed pass) against its DuckDB oracle SQL over the same sf dir, with the
canonicalization of tools/local_verify.py: columns sorted by name, doubles
rounded to 6 places, rows sorted, Arrow column types equal."""
import json
import math
from pathlib import Path

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def compare(con, result_dir: Path, sql: str):
    """None when the Spark result equals the oracle's, else the reason."""
    if not list(result_dir.glob("*.parquet")):
        return "no spark output"
    spark_sql = f"select * from read_parquet('{result_dir}/*.parquet')"
    s = con.execute(spark_sql)
    scols, srows = [d[0] for d in s.description], s.fetchall()
    try:
        o = con.execute(sql)
        ocols, orows = [d[0] for d in o.description], o.fetchall()
    except Exception as e:  # the oracle itself failing is a failed check too
        return f"oracle error {e}"
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    stypes = {f.name: str(f.type) for f in con.execute(spark_sql).arrow().schema}
    otypes = {f.name: str(f.type) for f in con.execute(sql).arrow().schema}
    drift = {c: (stypes[c], otypes[c]) for c in stypes if stypes[c] != otypes.get(c, stypes[c])}
    if drift:
        return f"arrow type drift {drift}"
    if canon_rows(scols, srows) != canon_rows(ocols, orows):
        return f"rows differ (spark {len(srows)}, oracle {len(orows)})"
    return None


def check(results: Path):
    """{query name: reason} for every query whose output failed its check.
    A query that threw in the untimed pass, or has no oracle SQL, fails."""
    import duckdb
    meta = json.loads((results / "oracle.json").read_text())
    bad = dict(meta["errors"])
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = Path(meta["sf"]) / f"{t}.parquet"
        if p.exists():
            con.execute(f"create view {t} as select * from read_parquet('{p}')")
    names = {p.name for p in results.iterdir() if p.is_dir()} | set(meta["errors"])
    for name in sorted(names - set(bad)):
        sql = meta["oracle"].get(name)
        reason = compare(con, results / name, sql) if sql else "no oracle SQL"
        if reason:
            bad[name] = reason
    con.close()
    return bad
