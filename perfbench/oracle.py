"""DuckDB oracle replay for the `curate` workload.

The benchmark JVM writes each stage's collected rows
(`<run root>/out/<query>.json`) and the stage's DuckDB oracle text from
`graft.SparkEntry.oracleSql` (`out/oracle_sql.json`). This replays each
oracle over the generated `documents` table and compares: columns by
name, rows as multisets, floats to a relative 1e-6. SimHash-verified
pairs (`d05b`) are, by design, the simhash candidates that exact
verification confirms (see `Dedup.simhashVerifiedPairs`): on a corpus
whose exact near-duplicate pairs reach past the sketch's hamming radius
that is a subset of the exact pairs. The run also writes the candidates
(`out/d05_simhash_pairs.json`), and the oracle's exact pairs are
restricted to them before the comparison.

Every plain CTE is marked MATERIALIZED before the replay: DuckDB 1.0
otherwise re-evaluates a CTE at each reference, including at every step
of a recursive closure, which makes the c06/d16 replays ~30x slower.
Materialisation does not change any result.
"""
import json
import math
import os
import sys
import time
import re


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda r: repr(_norm(r)))


# stage -> the file of candidate pairs its exact answer is restricted to
CANDIDATES = {"d05b_simhash_verified": "d05_simhash_pairs"}
_CTE = re.compile(r"(\b[a-z_][a-z0-9_]*) AS \(")


def _pairs(path):
    with open(path) as fh:
        c = json.load(fh)
    a, b = c["columns"].index("doc_a"), c["columns"].index("doc_b")
    return {(r[a], r[b]) for r in c["rows"]}


def check(run_root):
    """Return (ok, detail) for every stage the run wrote out."""
    out = os.path.join(run_root, "out")
    sql_path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(sql_path):
        return False, "no stage outputs written"
    import duckdb
    with open(sql_path) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(run_root, 'duckdb_tmp')}'")
    docs = os.path.join(run_root, "data", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")

    bad = []
    times = []
    for name in sorted(oracle):
        t = time.monotonic()
        rel = con.execute(_CTE.sub(r"\1 AS MATERIALIZED (", oracle[name]))
        want_cols = [d[0] for d in rel.description]
        want_rows = [tuple(_norm(v) for v in r) for r in rel.fetchall()]
        if name in CANDIDATES:
            cand = _pairs(os.path.join(out, CANDIDATES[name] + ".json"))
            a, b = want_cols.index("doc_a"), want_cols.index("doc_b")
            want_rows = [r for r in want_rows if (r[a], r[b]) in cand]
            if not want_rows:
                bad.append(f"{name}: no exact pair among {len(cand)} candidates")
        times.append(f"{name} {time.monotonic() - t:.1f}s")
        with open(os.path.join(out, name + ".json")) as fh:
            got = json.load(fh)
        gc, gr = _canon(got["columns"], [tuple(r) for r in got["rows"]])
        wc, wr = _canon(want_cols, want_rows)
        if gc != wc:
            bad.append(f"{name}: columns {gc} != {wc}")
        elif len(gr) != len(wr) or not all(_close(a, b) for a, b in zip(gr, wr)):
            bad.append(f"{name}: {len(gr)} rows vs oracle {len(wr)}")
    con.close()
    print("[perfbench] oracle replay: " + ", ".join(times), file=sys.stderr)
    return not bad, "; ".join(bad)
