"""Ultra-wide schema posture (SURVEY.md §7.3 risk #5): survey tables run to
~4k columns; planning must stay driver-cheap and profiling must stay
single-scan-per-chunk without codegen blowups."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pr2_transformation_spark import profiling
from pr2_transformation_spark.operators.clean_columns import compose_clean_columns
from pr2_transformation_spark.operators.clean_rows import clean_rows_df

N_COLS = 800  # keep the test quick; scaling is linear in column count


def _wide_frame(spark, n_rows=200):
    base = spark.range(n_rows).withColumnRenamed("id", "k")
    cols = [F.col("k").cast("string").alias("Connect_ID")]
    for i in range(N_COLS):
        cid = 100000000 + i
        if i % 3 == 0:  # binary-valued
            c = (
                F.when(F.col("k") % 3 == 0, F.lit("1"))
                .when(F.col("k") % 3 == 1, F.lit("0"))
                .otherwise(F.lit(None).cast("string"))
            )
        elif i % 3 == 1:  # false-array-valued
            c = (
                F.when(F.col("k") % 2 == 0, F.lit("[]"))
                .otherwise(F.lit("[178420302]"))
            )
        else:  # arbitrary strings
            c = F.concat(F.lit("v"), (F.col("k") % 50).cast("string"))
        cols.append(c.alias(f"d_{cid}_1_1"))
    return base.select(*cols)


def test_wide_clean_columns_planning_is_fast(spark):
    names = ["Connect_ID"] + [f"d_{100000000 + i}_1_1" for i in range(4000)]
    t0 = time.perf_counter()
    clauses = compose_clean_columns(names, "", "")
    elapsed = time.perf_counter() - t0
    assert len(clauses) == 4001
    assert elapsed < 5.0, f"driver planning took {elapsed:.1f}s for 4k columns"


def test_wide_profiling_single_pass_chunked(spark):
    df = _wide_frame(spark)
    t0 = time.perf_counter()
    binary = profiling.binary_columns(df, batch_size=500)
    elapsed = time.perf_counter() - t0
    # every i%3==0 column is binary, nothing else, in schema order
    assert binary == [f"d_{100000000 + i}_1_1" for i in range(0, N_COLS, 3)]
    assert elapsed < 120, f"wide profiling took {elapsed:.1f}s"


def test_wide_clean_rows_end_to_end(spark):
    df = _wide_frame(spark, n_rows=50)
    out = clean_rows_df(df, use_reference=False)
    assert len(out.columns) == N_COLS + 1
    row = out.limit(1).collect()[0]
    # binary columns recoded to CIDs, false arrays unwrapped
    binary_cols = [f"d_{100000000 + i}_1_1" for i in range(0, N_COLS, 3)]
    vals = {row[c] for c in binary_cols}
    assert vals <= {"353358909", "104430631", None}


def test_wide_merge_selectexpr_path(spark):
    """Wide 3-version merge through the aliased selectExpr projection."""
    from pr2_transformation_spark.operators.merge import merge_versions_df

    n_cols = 300
    base = spark.range(40).withColumnRenamed("id", "k")

    def version(tag, keep):
        cols = [F.col("k").cast("string").alias("Connect_ID")]
        for i in range(n_cols):
            cols.append(
                F.concat(F.lit(f"{tag}-"), (F.col("k") % 9).cast("string"))
                .alias(f"d_{200000000 + i}")
            )
        cols.append(F.lit(tag).alias(f"uniq_{tag}"))
        return base.filter(F.col("k") % keep == 0).select(*cols)

    out = merge_versions_df([version("a", 2), version("b", 3), version("c", 5)])
    # commons coalesced once each + 3 unique columns + Connect_ID
    assert len(out.columns) == n_cols + 4
    rows = out.collect()
    assert len(rows) > 0
    # keys present in the base (v3) align all versions: v1 wins the COALESCE
    aligned = {str(k) for k in range(0, 40, 10)}  # k%2==0 and k%5==0
    seen_aligned = 0
    for r in rows:
        if r["Connect_ID"] in aligned:
            seen_aligned += 1
            assert r["d_200000000"].startswith("a-")
    assert seen_aligned == len(aligned)
    # star-chain semantic: a key absent from the base but in v1 AND v2
    # (k=12: 12%2==0, 12%3==0, 12%5!=0) yields TWO unaligned output rows
    k12 = [r for r in rows if r["Connect_ID"] == "12"]
    assert len(k12) == 2
    assert {r["d_200000000"] for r in k12} == {"a-3", "b-3"}
