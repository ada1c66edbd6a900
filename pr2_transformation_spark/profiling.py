"""Data-profiling detectors that classify columns before row cleaning.

The reference runs these as batched BigQuery jobs — ceil(N/500) full scans
for binary detection (/root/reference/core/utils.py:375-435) and *three
scalar subqueries per column* (≈3N table scans) for strict false-array
detection (/root/reference/core/utils.py:582-698).  Here each detector is a
single aggregation pass over the DataFrame: every per-column check becomes
one aggregate expression, so one job and one scan classifies every column at
once.  At 100 TB that is the difference between 1 scan and thousands.

The aggregates are composed as Spark-SQL text (one builder per flag family,
shared by every detector) and a whole batch goes to the engine in one
``df.selectExpr(...)`` call, the same idiom as the operators' projections.
Built from pyspark ``Column`` calls they would cost about a dozen Py4J
round-trips per column, each also capturing its Python call site: ~13 ms
of driver time per column, more than the scan itself on wide survey tables.

Expression counts are still chunked (config.*_BATCH) so ultra-wide tables
(~4k survey columns -> ~12k aggregates) don't push whole-stage codegen into
fallback; the chunks all derive from one cached scan.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from . import config
from .expressions import q, sql_str


def string_columns(df: DataFrame) -> list[str]:
    """Names of STRING-typed columns — the only type the detectors consider
    (/root/reference/core/utils.py:383-390)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def _chunks(xs: list, size: int):
    for i in range(0, len(xs), size):
        yield xs[i : i + size]


def _binary_flag_sql(name: str) -> str:
    """Aggregate that is true iff every value is "0", "1", "" or NULL.

    Equivalent to the reference's
    ``COUNTIF(NOT (c="0" OR c="1" OR c IS NULL OR c="")) = 0``
    (reference ``core/utils.py:406-408``): NULL folds into "" — note an
    all-NULL column therefore *is* binary.
    """
    return f"count_if(coalesce({q(name)}, '') NOT IN ('0', '1', '')) = 0"


_DOMAIN_SQL = ", ".join(sql_str(v) for v in config.FALSE_ARRAY_VALUES)
_BRACKETED_DOMAIN = [
    v for v in config.FALSE_ARRAY_VALUES if re.fullmatch(config.BRACKETED_NINE_DIGIT_PATTERN, v)
]


def _false_array_flag_sql(name: str) -> str:
    """Aggregate deciding the strict false-array checks.

    Equivalent to the reference's three checks but **distinct-free**: under
    check 2 every non-null value lies in ``config.FALSE_ARRAY_VALUES`` (3
    values), so COUNT(DISTINCT c) BETWEEN 1 AND 3 collapses to "some
    non-null exists", and "<=1 distinct bracketed CID" collapses to "at
    most one of the bracketed domain values is present".  This matters at
    scale: Spark rewrites multi-column COUNT(DISTINCT) aggregates with an
    Expand operator that replicates every input row once per distinct
    aggregate — 2 distincts x 100-column batches meant ~200x shuffle
    amplification; presence flags keep the pass a plain one-shuffle-free
    partial aggregation.
    """
    c = q(name)
    n_present = " + ".join(
        f"CAST(count_if({c} = {sql_str(v)}) > 0 AS INT)" for v in _BRACKETED_DOMAIN
    )
    return f"count_if({c} NOT IN ({_DOMAIN_SQL})) = 0 AND count({c}) > 0 AND {n_present} <= 1"


def _eval_flags(df: DataFrame, flags: list[str]) -> list[bool]:
    """Evaluate boolean aggregates over ``df`` in one aggregation pass; the
    whole batch crosses Py4J in one ``selectExpr`` call."""
    row = df.selectExpr(*[f"{sql} AS f{i}" for i, sql in enumerate(flags)]).first()
    return [bool(v) for v in row]


def binary_columns(df: DataFrame, batch_size: int = config.BINARY_DETECTION_BATCH) -> list[str]:
    """STRING columns whose every value is "0", "1", "" or NULL
    (:func:`_binary_flag_sql`).  One aggregation pass instead of
    ceil(N/500) table scans; returns names in input-schema order.
    """
    found: list[str] = []
    for batch in _chunks(string_columns(df), batch_size):
        hits = _eval_flags(df, [_binary_flag_sql(name) for name in batch])
        found.extend(name for name, hit in zip(batch, hits) if hit)
    return found


def false_array_columns_from_reference(
    columns: list[str], reference_file_path: Optional[str] = None
) -> list[str]:
    """Name-only false-array detection against the concept-pair config.

    A column matches when it equals ``d_<a>_d_<b>`` for some configured pair,
    or is that prefix plus an all-digit loop suffix (``_19``, ``_1_1`` ...).
    Zero data scans.  Parity: /root/reference/core/utils.py:505-580.
    """
    pairs = config.load_false_array_reference(reference_file_path)
    patterns = [f"d_{p[0]}_d_{p[1]}" for p in pairs if isinstance(p, list) and len(p) >= 2]

    matches: list[str] = []
    for col in columns:
        if col == "Connect_ID":
            continue
        for pat in patterns:
            if col == pat:
                matches.append(col)
                break
            if col.startswith(pat + "_"):
                suffix = col[len(pat) + 1 :]
                if suffix.replace("_", "").isdigit():
                    matches.append(col)
                    break
    return matches


def strict_false_array_columns(
    df: DataFrame,
    batch_size: int = config.FALSE_ARRAY_DETECTION_BATCH,
    use_reference: bool = False,
    reference_file_path: Optional[str] = None,
) -> list[str]:
    """Columns whose data proves them false arrays (or, fast path, whose
    names match the reference file).

    Computational mode checks, per STRING column (parity with
    /root/reference/core/utils.py:644-678, collapsed from 3 scalar
    subqueries/column into aggregates on one scan):

      1. 1 <= COUNT(DISTINCT c) <= 3  (some non-null value, few distincts);
      2. no non-null value outside ``config.FALSE_ARRAY_VALUES``;
      3. at most one distinct value matching ``[<9 digits>]``.

    A non-STRING column holds no bracketed strings, so it is never a false
    array (comparing it with the string domain would be an ANSI cast error).
    """
    if use_reference:
        cols = [c for c in df.columns if c != "Connect_ID"]
        return false_array_columns_from_reference(cols, reference_file_path)
    found: list[str] = []
    cols = [c for c in string_columns(df) if c != "Connect_ID"]
    for batch in _chunks(cols, batch_size):
        hits = _eval_flags(df, [_false_array_flag_sql(name) for name in batch])
        found.extend(name for name, hit in zip(batch, hits) if hit)
    return found


def profile_columns(
    df: DataFrame,
    batch_size: int = config.BINARY_DETECTION_BATCH,
) -> tuple[list[str], list[str]]:
    """Binary AND strict-false-array classification in ONE scan.

    ``clean_rows`` needs both; running the detectors separately costs two
    full-table scans.  Both flag families are plain conditional counts, so
    they share a single (chunked) aggregation pass: at 100 TB this is the
    difference between one and two passes over the table.

    Returns ``(binary_cols, false_array_cols)`` in input-schema order.
    """
    bin_found: list[str] = []
    fa_found: list[str] = []
    for batch in _chunks(string_columns(df), batch_size):
        flags = [(bin_found, name, _binary_flag_sql(name)) for name in batch]
        flags += [
            (fa_found, name, _false_array_flag_sql(name))
            for name in batch
            if name != "Connect_ID"
        ]
        hits = _eval_flags(df, [sql for _, _, sql in flags])
        for (out, name, _), hit in zip(flags, hits):
            if hit:
                out.append(name)
    return bin_found, fa_found


def table_profile(df: DataFrame, columns: Optional[list[str]] = None) -> DataFrame:
    """One-pass per-column profile: rows, nulls, exact min/max, approximate
    distinct (HLL sketch — mergeable, so this scales to any cluster width).

    Output is long-form (one row per column) so downstream tooling can
    filter/join on column names.  The approx distinct column is a sketch
    estimate (`approx_count_distinct`, default rsd 5%) — use exact
    ``count_distinct`` only when the cost of its shuffle is justified.
    """
    cols = columns or df.columns
    aggs = []
    for name in cols:
        c = F.col(name)
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{name}"),
            F.count_if(c.isNull()).alias(f"__nulls_{name}"),
            F.min(c).cast("string").alias(f"__min_{name}"),
            F.max(c).cast("string").alias(f"__max_{name}"),
            F.approx_count_distinct(c).alias(f"__approx_{name}"),
        ]
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    out = [
        (
            name,
            row[f"__rows_{name}"],
            row[f"__nulls_{name}"],
            row[f"__min_{name}"],
            row[f"__max_{name}"],
            row[f"__approx_{name}"],
        )
        for name in cols
    ]
    return spark.createDataFrame(
        out,
        "column string, n_rows long, n_nulls long, min_value string, "
        "max_value string, approx_distinct long",
    )


def key_skew_report(
    df, key_col: str, top_k: int = 10
):
    """Partition-skew diagnostic for a prospective shuffle key: the
    ``top_k`` heaviest key values with their share of all rows, plus the
    max/mean heavy-hitter ratio — the number that predicts whether a
    groupBy/join on this key needs salting or AQE skew handling BEFORE
    burning a cluster run on it.  One partial-aggregated shuffle over
    (key, count); the top-k is TakeOrdered, not a global sort.

    Returns ``(key, n_rows, share, rank)`` rows, rank 1..top_k, share
    rounded to 6dp.
    """
    from pyspark.sql import Window, functions as F

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("__t"))
    order = [F.col("n_rows").desc(), F.col("key")]
    top = counts.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
            "rank",
        )
    )


def equi_width_histogram(
    df, value_col: str, bins: int, lo: float, hi: float
):
    """Fixed-range equi-width histogram (the profiling primitive behind
    zone-map tuning and outlier triage): one partial-aggregated shuffle
    of 8-byte bucket ids.  Values at ``hi`` land in the last bucket;
    out-of-range values clamp to the edge buckets (bucket 1 / ``bins``),
    mirroring ``width_bucket`` clamped to [1, bins] so external engines
    replay it exactly.  Returns ``(bucket, n, lo_edge, hi_edge)``.
    """
    from pyspark.sql import functions as F

    width = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)) + 1
    bucket = F.least(F.greatest(raw.cast("int"), F.lit(1)), F.lit(bins))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            "n",
            F.round(F.lit(lo) + (F.col("bucket") - 1) * F.lit(width), 6).alias("lo_edge"),
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("hi_edge"),
        )
    )


def data_contract(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Great-Expectations-style data-contract gate in ONE scan.

    ``checks`` is a list of specs, each ``{"name": ..., "kind": ...}``:

    * ``not_null``  (``column``)          — observed = NULL count
    * ``unique``    (``column``)          — observed = rows − distinct
    * ``predicate`` (``expr`` SQL string) — observed = violating rows
      (rows where the expression is false OR NULL)
    * ``min_rows``  (``threshold``)       — observed = row count,
      passed = observed ≥ threshold

    Returns ``(check, observed, passed)``, one row per check, built by
    stacking columns of a single aggregate — the whole contract costs
    one pass over the table (plus the expand for the exact distinct),
    which is what makes running it on every ingest batch viable at
    100 TB.  The reference runs its profiling checks the same
    one-scan way (`/root/reference/core/utils.py` COUNTIF guards)."""
    aggs = []
    posts = []  # (name, observed_col_name, passed_expr_builder)
    for i, c in enumerate(checks):
        col = f"__c{i}"
        kind = c["kind"]
        if kind == "not_null":
            aggs.append(
                F.sum(
                    F.when(F.col(c["column"]).isNull(), 1).otherwise(0)
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "unique":
            aggs.append(
                (
                    F.count(F.col(c["column"]))
                    - F.countDistinct(F.col(c["column"]))
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "predicate":
            aggs.append(
                F.sum(
                    F.when(F.expr(c["expr"]), 0).otherwise(1)
                ).alias(col)
            )
            posts.append((c["name"], col, lambda o: o == 0))
        elif kind == "min_rows":
            aggs.append(F.count(F.lit(1)).alias(col))
            posts.append(
                (c["name"], col, lambda o, t=c["threshold"]: o >= t)
            )
        else:
            raise ValueError(f"unknown check kind {kind!r}")
    agg = df.agg(*aggs)
    rows = None
    for name, col, passed in posts:
        row = agg.select(
            F.lit(name).alias("check"),
            F.col(col).cast("long").alias("observed"),
            passed(F.col(col)).alias("passed"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    ks: tuple = (2, 5, 10),
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over a quasi-identifier set — the
    privacy-governance gate before a table leaves the trust boundary: a
    row is k-anonymous iff its quasi-identifier equivalence class holds
    at least k rows, so re-identification by linking on those columns
    narrows to >= k candidates.

    One groupBy on the quasi-identifier tuple (the class census), then a
    scalar roll-up per requested k — both map-side combinable, total
    shuffle bounded by the class count, never the row count.  Returns one
    row per k: classes and rows below the threshold, the at-risk row
    fraction, and the minimum class size observed (the table's actual
    anonymity level).  All integer counts: engine-exact everywhere."""
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__sz"))
    # one class census, then all thresholds in ONE pass: explode the k
    # list over the (small) class frame instead of re-scanning per k
    fanned = classes.select(
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"), "__sz"
    )
    risky = F.sum(F.when(F.col("__sz") < F.col("k"), F.col("__sz")))
    return fanned.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(
            F.when(F.col("__sz") < F.col("k"), 1).otherwise(0)
        ).alias("risky_classes"),
        F.coalesce(risky, F.lit(0)).alias("risky_rows"),
        F.round(F.coalesce(risky, F.lit(0)) / F.sum("__sz"), 4).alias(
            "risky_frac"
        ),
        F.min("__sz").alias("min_class_size"),
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    ls: tuple = (2, 3),
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a class can hold k rows yet leak the secret when
    every row SHARES the sensitive value (homogeneity attack).  A class
    is l-diverse iff its rows span at least l distinct sensitive values.

    One groupBy on (quasi tuple, sensitive) then a class-level rollup —
    shuffle bounded by class x value combinations, never rows.  Returns
    one row per l: classes/rows below the threshold, the at-risk
    fraction, and the table's minimum class diversity.  All integers:
    engine-exact."""
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("__n").alias("__sz"),
        F.count(F.lit(1)).alias("__div"),
    )
    fanned = classes.select(
        F.explode(F.array(*[F.lit(int(v)) for v in ls])).alias("l"),
        "__sz",
        "__div",
    )
    risky = F.sum(F.when(F.col("__div") < F.col("l"), F.col("__sz")))
    return fanned.groupBy("l").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("__div") < F.col("l"), 1).otherwise(0)).alias(
            "risky_classes"
        ),
        F.coalesce(risky, F.lit(0)).alias("risky_rows"),
        F.round(F.coalesce(risky, F.lit(0)) / F.sum("__sz"), 4).alias(
            "risky_frac"
        ),
        F.min("__div").alias("min_diversity"),
    )
