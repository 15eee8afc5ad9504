#!/usr/bin/env python3
"""Regenerate perfbench/expected_counts.json: the row count of every
query's DuckDB oracle (`SparkEntry.oracleSql`) over the sf0.1 tables.

    python3 perfbench/gen_expected.py [sfDir]

Run from the root of a checkout; it builds the classes as run.py does.
The benchmark compares each timed query's row count with these.
"""
import json
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# The near-dup cluster oracles (SparkEntry.oracleSql's q89, q173-q177)
# share one prefix that labels each document with the least id reachable
# over its near-dup edges. As written, DuckDB takes tens of minutes on
# it at sf0.1: the edges come from an all-pairs inequality join, and the
# labels from a recursive transitive closure. `with_labels` evaluates
# exactly that prefix faster and leaves the rest of the SQL as written:
#  - edges: only pairs sharing a shingle can satisfy 3c >= na + nb (both
#    shingle sets are non-empty), and c, the size of the intersection of
#    two distinct lists, is the number of shared shingles, so a join on
#    the shingle gives the same pairs;
#  - labels: the least id reachable from a node is the least id of its
#    connected component, which union-find computes.
# The rewrite applies only when the prefix reads exactly as below.
EDGES = """p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
  len(list_intersect(a.s, b.s)) AS c, len(a.s) AS na, len(b.s) AS nb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
dup AS (SELECT doc_i, doc_j FROM p WHERE 3*c >= na + nb),
e AS (SELECT doc_i AS a, doc_j AS b FROM dup
      UNION SELECT doc_j, doc_i FROM dup),
reach AS (SELECT a, b FROM e
          UNION
          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
lbl AS (SELECT a AS doc_id, min(b) AS cl FROM reach GROUP BY a)"""
FAST_EDGES = """shx AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh),
pc AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS c,
  any_value(a.n) AS na, any_value(b.n) AS nb
  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_i, doc_j FROM pc WHERE 3*c >= na + nb"""
_labelled = {}


def with_labels(con, sql):
    if EDGES not in sql:
        return sql
    head = sql[:sql.index(EDGES)].replace("WITH RECURSIVE", "WITH", 1)
    rest = sql[sql.index(EDGES) + len(EDGES):]
    relabelled = head + "lbl AS (SELECT doc_id, cl FROM cc_labels)" + rest
    if _labelled.get("head") == head:
        return relabelled
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in con.execute(head + FAST_EDGES).fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    con.execute("CREATE OR REPLACE TABLE cc_labels (doc_id BIGINT, cl BIGINT)")
    con.executemany("INSERT INTO cc_labels VALUES (?, ?)",
                    [(x, find(x)) for x in sorted(parent)])
    _labelled["head"] = head
    return relabelled


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else str(Path.home() / "testdata" / "sf0.1")
    jars = run.spark_jars()
    classes = run.build(jars)
    with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
        out = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{jars}/*",
                        "perfbench.DumpOracle", str(out)], check=True)
        oracle = json.loads(out.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    counts = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        sql = with_labels(con, sql)
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        print(f"{name}: {counts[name]} rows, {time.time() - t0:.1f} s", flush=True)
    (run.HERE / "expected_counts.json").write_text(json.dumps(
        {"sf": Path(sf).name, "duckdb": duckdb.__version__, "counts": counts},
        indent=1, sort_keys=True) + "\n")
    print(f"{len(counts)} oracle counts written")


if __name__ == "__main__":
    main()
