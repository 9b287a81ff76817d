"""DuckDB oracle check for the batch workloads' output dumps.

Each op's warm-pass output (parquet under `<out>/dumps/<op>`) is compared
with the op's oracle SQL (`SparkEntry.oracleSql`, or the staged pipeline
from `SparkEntry.oracleStages`) run by DuckDB over the same generated
parquet: same column names, and the same multiset of rows with values
compared at full precision (columns sorted by name, rows sorted).
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Benchmark-side oracles for ops that are not SparkEntry queries.
LOCAL_ORACLES = {
    "ingest_warc_gz": "SELECT 'https://corpus.example.com/doc/' || doc_id AS target_uri, "
                      "text AS block, true AS length_ok FROM documents",
}


def _con(data, views=None, tmp=None):
    c = duckdb.connect()
    c.execute("SET threads = 4")
    c.execute("SET memory_limit = '2GB'")
    if tmp:
        c.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = f"{data}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for v, p in (views or {}).items():
        c.execute(f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{p}')")
    return c


def _cc(c, pairs_view, out_path):
    """Min-label connected components over (vec_a, vec_b) pairs."""
    c.execute(f"CREATE TABLE bidir AS SELECT vec_a AS a, vec_b AS b FROM {pairs_view} "
              f"UNION SELECT vec_b, vec_a FROM {pairs_view}")
    c.execute("CREATE TABLE lbl AS SELECT DISTINCT a AS v, a AS l FROM bidir")
    for _ in range(200):
        c.execute("""CREATE OR REPLACE TABLE nl AS
            SELECT v, min(l) AS l FROM (
              SELECT v, l FROM lbl
              UNION ALL SELECT e.a, l2.l FROM bidir e JOIN lbl l2 ON l2.v = e.b
              UNION ALL SELECT l1.v, l2.l FROM lbl l1 JOIN lbl l2 ON l2.v = l1.l
            ) GROUP BY v""")
        changed = c.execute("SELECT count(*) FROM nl JOIN lbl USING (v) "
                            "WHERE nl.l <> lbl.l").fetchone()[0]
        c.execute("CREATE OR REPLACE TABLE lbl AS SELECT v, l FROM nl")
        if changed == 0:
            break
    else:
        raise RuntimeError("connected components did not converge")
    c.execute(f"COPY (SELECT v AS vec_id, l AS cluster_id FROM lbl) TO '{out_path}' (FORMAT parquet)")


def _staged(name, stages, data, tmp):
    """Run a partitioned oracle pipeline; returns SQL selecting its result."""
    views = {}
    for st in stages:
        outdir = os.path.join(tmp, name, st["name"])
        os.makedirs(outdir, exist_ok=True)
        if st["sql"].startswith("@cc "):
            c = _con(data, views, tmp)
            _cc(c, st["sql"][4:].strip(), f"{outdir}/s0.parquet")
            c.close()
        else:
            shards = max(1, st["shards"])
            for i in range(shards):
                sql = st["sql"].replace("{NSHARDS}", str(shards)).replace("{SHARD}", str(i))
                c = _con(data, views, tmp)
                c.execute(f"COPY ({sql}) TO '{outdir}/s{i}.parquet' (FORMAT parquet)")
                c.close()
        views[st["name"]] = f"{outdir}/*.parquet"
    return f"SELECT * FROM read_parquet('{views[stages[-1]['name']]}')"


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def check(result, data, out):
    """Returns {op: None if correct else reason}."""
    oracle = dict(LOCAL_ORACLES)
    oracle.update(result.get("oracle_sql", {}))
    stages = result.get("oracle_stages", {})
    tmp = os.path.join(out, "oracle_tmp")
    os.makedirs(tmp, exist_ok=True)
    verdict = {}
    con = _con(data, tmp=tmp)
    for op in result["ops"]:
        files = glob.glob(f"{out}/dumps/{op}/*.parquet")
        if not files:
            verdict[op] = "no output dump"
            continue
        if op in stages:
            sql = _staged(op, stages[op], data, tmp)
        elif op in oracle:
            sql = oracle[op]
        else:
            verdict[op] = "no oracle"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        exp = con.execute(sql)
        exp_cols = [d[0] for d in exp.description]
        exp_rows = exp.fetchall()
        if sorted(got_cols) != sorted(exp_cols):
            verdict[op] = f"columns {sorted(got_cols)} vs oracle {sorted(exp_cols)}"
            continue
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        ei = [exp_cols.index(c) for c in sorted(exp_cols)]
        g = sorted(tuple(_norm(r[i]) for i in gi) for r in got_rows)
        e = sorted(tuple(_norm(r[i]) for i in ei) for r in exp_rows)
        verdict[op] = None if g == e else f"rows differ: {len(g)} vs oracle {len(e)}"
    con.close()
    return verdict
