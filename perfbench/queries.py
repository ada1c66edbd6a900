"""iterative_dedup workload: loop-heavy queries from ``__spark_entry__``.

These are the connected-components consumers and other iterative queries:
most of each query's time is eager per-round jobs issued while the query
function builds its frame.  Each op is one query, forced with a noop write
as bench.py does.  Correctness is checked outside the timed region: the
warm-up pass collects every result, and the query's ``oracle_sql()`` twin
runs on DuckDB over the same generated tables in a child process
(``python3 perfbench/queries.py REPO DATA_DIR OUT QUERY...`` pickles the
results to OUT).
"""

from __future__ import annotations

import os
import pickle
import sys

#: Five of the loop-heavy queries: connected components, PageRank, label
#: propagation, MinHash-LSH and the corpus pipeline, which between them
#: reach the graph, checkpointing, dedup and pipeline layers.  q94, q128,
#: q200, q264, q267, q304 and q309 are left out to fit the per-run time
#: budget (q264's DuckDB oracle alone takes ~20 s at sf0.1).
QUERIES = [
    "q22_minhash_lsh",
    "q63_connected_components",
    "q129_corpus_prep",
    "q145_pagerank",
    "q286_label_propagation",
]
TABLES = ["customer", "documents", "part"]


def normalized(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """(lower-cased sorted column names, sorted multiset of rows normalized
    as ``scripts/check_oracle.py`` does)."""
    from check_oracle import norm

    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return (
        [columns[i].lower() for i in order],
        sorted(tuple(norm(r[i]) for i in order) for r in rows),
    )


def oracle_results(repo: str, data_dir: str, names: list[str]) -> dict:
    """Run each query's DuckDB oracle; runs in a child process."""
    import duckdb

    sys.path[:0] = [repo, os.path.join(repo, "scripts")]
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    out = {}
    for name in names:
        try:
            rel = con.sql(sqls[name])
            out[name] = normalized(list(rel.columns), rel.fetchall())
        except Exception as exc:  # noqa: BLE001 — reported as that op's failure
            out[name] = f"{type(exc).__name__}: {exc}"[:300]
    con.close()
    return out


def compare(spark_result, oracle) -> str | None:
    """None when equal, else a one-line reason."""
    if isinstance(oracle, str):
        return f"oracle error: {oracle}"
    s_cols, s_rows = spark_result
    o_cols, o_rows = oracle
    if s_cols != o_cols:
        return f"columns differ: {s_cols} vs {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"row count {len(s_rows)} vs {len(o_rows)}"
    if s_rows != o_rows:
        return "values differ"
    return None


if __name__ == "__main__":
    repo_dir, data, out_path, *query_names = sys.argv[1:]
    results = oracle_results(repo_dir, data, query_names)
    with open(out_path, "wb") as fh:
        pickle.dump(results, fh)
