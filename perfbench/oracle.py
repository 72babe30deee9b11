"""DuckDB checks of the benchmark's outputs.

Each checked output is a query result the harness collected in a
measured rep and wrote as parquet. Three kinds of check:

  oracle    the query's own oracle SQL (`QueryDef.oracle`) runs in DuckDB
            over the same generated input; column names, row count and
            every cell must agree exactly (the engine's oracled queries
            are built to be bit-stable).
  kcore     q126 against the same peel iterated to its fixpoint. The
            query's oracle unrolls a fixed number of peel rounds
            (`KCore.OracleRounds`), which is exact only on graphs that
            peel within that depth; a skewed co-purchase graph can need
            more.
  curation  q153's invariants. Its oracle SQL needs more memory than a
            benchmark run may take (it does not finish in 6 GB on 500
            documents), so the run checks what holds for any correct
            output: 1..SelectNV3 rows, unique doc ids from the input with
            their input source and lang, token counts within the
            document's, shards and allocations non-negative, doc order.
"""
import glob
import math
import os

import duckdb


def _connect(input_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare(con, got_dir, sql):
    """None when the parquet under got_dir equals the oracle's result,
    else a one-line description of the first difference."""
    got_rel = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    got_cols = [d[0] for d in got_rel.description]
    got = got_rel.fetchall()
    exp_rel = con.sql(sql)
    exp_cols = [d[0] for d in exp_rel.description]
    exp = exp_rel.fetchall()
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {got_cols} vs oracle {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    for n, (g, e) in enumerate(zip(got, exp)):
        for i, j in zip(gi, ei):
            if not _same(g[i], e[j]):
                return f"row {n} column {got_cols[i]}: {g[i]!r} vs {e[j]!r}"
    return None


KCORE_EDGES = """
    CREATE OR REPLACE TEMP TABLE kc_e AS
    SELECT DISTINCT least(pa, pb) AS a, greatest(pa, pb) AS b
    FROM (SELECT l1.l_partkey AS pa, l2.l_partkey AS pb
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l2.l_linenumber = l1.l_linenumber + 1)
    WHERE pa <> pb"""
KCORE_DEG = "SELECT node, count(*) AS core_deg FROM (SELECT a AS node " \
    "FROM kc_e UNION ALL SELECT b FROM kc_e) GROUP BY node"


def kcore_fixpoint_sql(con):
    """Peel q126's edge set to its k-core fixpoint (k = max(3,
    ceil(edges / nodes)) on the initial graph, as the query defines it);
    returns SQL selecting (node, core_deg) of the survivors."""
    con.execute(KCORE_EDGES)
    m = con.sql("SELECT count(*) FROM kc_e").fetchone()[0]
    n = con.sql("SELECT count(*) FROM (SELECT a FROM kc_e UNION "
                "SELECT b FROM kc_e)").fetchone()[0]
    k = max(3, math.ceil(m / max(n, 1)))
    while True:
        weak = f"SELECT node FROM ({KCORE_DEG}) WHERE core_deg < {k}"
        if con.sql(f"SELECT count(*) FROM ({weak})").fetchone()[0] == 0:
            break
        con.execute(f"DELETE FROM kc_e WHERE a IN ({weak}) "
                    f"OR b IN ({weak})")
    return f"{KCORE_DEG} ORDER BY node"


def curation_violations(con, got_dir, limit):
    """None when q153's output holds its invariants, else a description."""
    out = f"'{got_dir}/*.parquet'"
    n, distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {out}").fetchone()
    if not 0 < n <= limit:
        return f"{n} rows, expected 1..{limit}"
    if distinct != n:
        return f"{n - distinct} duplicate doc ids"
    bad = con.sql(f"""
        SELECT count(*) FROM {out} o LEFT JOIN documents d USING (doc_id)
        WHERE d.doc_id IS NULL OR o.source <> d.source OR o.lang <> d.lang
           OR o.n_toks < 1 OR o.n_toks > len(string_split(d.text, ' '))
           OR o.shard < 0 OR o.alloc_tokens < 0""").fetchone()[0]
    if bad:
        return f"{bad} rows break the doc, token, shard or budget invariants"
    ids = [r[0] for r in con.sql(f"SELECT doc_id FROM {out}").fetchall()]
    if ids != sorted(ids):
        return "rows not in doc_id order"
    return None


def check(input_dir, checks, tmp_dir):
    """Run every check; returns [{name, ok, detail}]."""
    if not checks:
        return []
    con = _connect(input_dir, tmp_dir)
    out = []
    for c in checks:
        try:
            if c["kind"] == "kcore":
                err = compare(con, c["dir"], kcore_fixpoint_sql(con))
            elif c["kind"] == "curation":
                err = curation_violations(con, c["dir"], c["limit"])
            else:
                err = compare(con, c["dir"], c["oracle"])
        except duckdb.Error as e:
            err = f"oracle failed: {e}"
        out.append({"name": c["name"], "ok": err is None,
                    "detail": err or "match"})
    con.close()
    return out
