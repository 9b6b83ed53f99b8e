"""Independent correctness check: every pass's outputs against DuckDB.

The reference for each output is the SQL graft registers for the same
query in SparkEntry.oracleSql, replayed by DuckDB on the same generated
parquet. Results are compared with the repository's oracle gate
(tools/verify_local.py: columns sorted by name, rows sorted by value,
cell by cell, floats to a relative 1e-9).

References are computed once per input and oracle text (outside the
timed region) and cached next to the generated inputs.
"""
import glob
import hashlib
import json
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from verify_local import canon as _canon, eq  # noqa: E402

TABLES = {
    "collection_build": ["orders", "part", "lineitem"],
    "corpus_build": ["documents"],
    "ingest_serving": ["documents", "embeddings"],
}


def _num(x):
    # DuckDB returns DECIMAL as decimal.Decimal; compare it as a float.
    return float(x) if type(x).__name__ == "Decimal" else x


def canon(rows, cols):
    return _canon([tuple(_num(x) for x in r) for r in rows], cols)


def compare(got, want):
    (grows, gcols), (wrows, wcols) = got, want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} != {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if not all(eq(x, y) for x, y in zip(g, w)):
            return f"row {i}: got {g} want {w}"
    return None


def _tables_of(workload, inputs, name):
    """{table: parquet path list} as the pass on input `name` reads it."""
    if workload != "ingest_serving":
        return {t: [f"{inputs}/{t}.parquet"] for t in TABLES[workload]}
    return {t: [f"{inputs}/base/{t}.parquet", f"{inputs}/{name}/{t}.parquet"]
            for t in TABLES[workload]}


def _reference(tables, sqls, threads):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET threads TO {threads}")
    for t, paths in tables.items():
        con.execute(f"CREATE VIEW {t} AS " + " UNION ALL ".join(
            f"SELECT * FROM read_parquet('{p}')" for p in paths))
    out = {}
    for name, sql in sqls.items():
        r = con.sql(sql)
        out[name] = canon(r.fetchall(), r.columns)
    con.close()
    return out


def references(workload, inputs, oracles, names):
    """Input name -> {query: canonical DuckDB result} for each input in
    `names`, from the oracle SQL the benchmark JVM dumped. Cached per
    input under a digest of the SQL, so a changed oracle is recomputed."""
    key = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()[:12]
    cache = os.path.join(inputs, "references")
    os.makedirs(cache, exist_ok=True)

    def path(n):
        return os.path.join(cache, f"{n.replace('/', '_')}-{key}.pkl")
    # One input at a time on every core: DuckDB parallelises each oracle
    # well, and an uneven split of inputs over workers leaves cores idle.
    cores = len(os.sched_getaffinity(0))
    for n in sorted(n for n in set(names) if not os.path.exists(path(n))):
        ref = _reference(_tables_of(workload, inputs, n), oracles, cores)
        tmp = f"{path(n)}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(ref, f)
        os.replace(tmp, path(n))
    refs = {}
    for n in set(names):
        with open(path(n), "rb") as f:
            refs[n] = pickle.load(f)
    return refs


def _es_entries(path):
    """The ES bulk sink's files as two-line entries (action + document)."""
    entries = []
    for p in sorted(glob.glob(f"{path}/part-*")):
        with open(p, encoding="utf-8") as f:
            lines = f.read().split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        if len(lines) % 2:
            raise ValueError(f"{p}: odd line count {len(lines)}")
        entries += [lines[i] + "\n" + lines[i + 1] for i in range(0, len(lines), 2)]
    return entries


def verify(out, ref):
    """None when every output of the pass under `out` matches `ref`,
    else a one-line description of the first mismatch."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for name, want in ref.items():
            path = f"{out}/{name}"
            if not os.path.isdir(path):
                return f"{name}: no output"
            if name == "p6_sync_render":
                got = canon([(e,) for e in _es_entries(path)], ["value"])
            else:
                cols = ", ".join(f'"{c}"' for c in want[1])
                got = con.sql(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')")
                got = canon(got.fetchall(), got.columns)
            err = compare(got, want)
            if err:
                return f"{name}: {err}"
            if name == "p1_pipeline":
                # DuckDB has no keccak: check the namehash stamp's shape
                # and that distinct names hash to distinct values.
                n, bad, distinct, names = con.sql(
                    f"SELECT count(*), count(*) FILTER (WHERE NOT regexp_full_match("
                    f"coalesce(namehash, ''), '[0-9A-F]{{64}}')), "
                    f"count(DISTINCT namehash), count(DISTINCT collection_name) "
                    f"FROM read_parquet('{path}/*.parquet')").fetchone()
                if bad or distinct != names:
                    return f"{name}: namehash malformed ({bad}) or colliding"
        return None
    except Exception as e:  # a failed read is a failed pass
        return f"{type(e).__name__}: {e}"
    finally:
        con.close()
