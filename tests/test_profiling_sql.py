"""The profiling detectors' SQL-text aggregates: semantics against a
pure-Python predicate, one job per batch with no pyspark ``Column`` calls,
and identifiers that need quoting."""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pr2_transformation_spark import config, profiling
from pr2_transformation_spark.expressions import render_select_sql
from pr2_transformation_spark.operators.clean_rows import clean_rows_df, compose_clean_rows

ODD_NAMES = ["d_1`b", "d.2", "d 3", "Connect_ID", "plain", "é_ü", "a``b", "x-y", "1st", "`"]
VALUES = ["0", "1", "", None, " 1", "01", "1.0", "[]", "[178420302]", "[958239616]", "x"]
DOMAINS = [
    [None],
    ["0", "1", "", None],
    ["[]", "[178420302]", None],
    ["[]", "[958239616]", "[178420302]"],
    VALUES,
]


def _is_binary(vals) -> bool:
    # reference core/utils.py:406-408
    return all(v is None or v in ("0", "1", "") for v in vals)


def _is_false_array(vals) -> bool:
    # the reference's three checks (core/utils.py:644-678)
    present = {v for v in vals if v is not None}
    bracketed = {v for v in present if re.fullmatch(r"\[\d{9}\]", v)}
    return (
        1 <= len(present) <= 3
        and present <= set(config.FALSE_ARRAY_VALUES)
        and len(bracketed) <= 1
    )


@st.composite
def frames(draw):
    names = draw(st.lists(st.sampled_from(ODD_NAMES), min_size=1, max_size=5, unique_by=str.lower))
    n_rows = draw(st.integers(0, 6))
    columns = []
    for _ in names:
        domain = draw(st.sampled_from(DOMAINS))
        columns.append(draw(st.lists(st.sampled_from(domain), min_size=n_rows, max_size=n_rows)))
    # a non-STRING column whose values are all 0/1: never binary, never a false array
    ints = draw(st.lists(st.sampled_from([0, 1, None]), min_size=n_rows, max_size=n_rows))
    return names, columns, ints


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(frames())
def test_detectors_match_python_predicate(spark, frame):
    names, columns, ints = frame
    schema = ", ".join(f"`{n.replace('`', '``')}` string" for n in names) + ", flag int"
    rows = [tuple(col[i] for col in columns) + (ints[i],) for i in range(len(ints))]
    df = spark.createDataFrame(rows, schema)

    binary = [n for n, vals in zip(names, columns) if _is_binary(vals)]
    false_arrays = [
        n for n, vals in zip(names, columns) if n != "Connect_ID" and _is_false_array(vals)
    ]
    assert profiling.binary_columns(df, batch_size=2) == binary
    assert profiling.strict_false_array_columns(df, batch_size=2, use_reference=False) == false_arrays
    assert profiling.profile_columns(df, batch_size=2) == (binary, false_arrays)


def test_detectors_use_no_column_calls_and_one_job_per_batch(spark, monkeypatch):
    n_cols, batch = 60, 25
    df = spark.range(40).select(
        *[(F.col("id") % (2 + i % 3)).cast("string").alias(f"c{i}") for i in range(n_cols)]
    )

    def boom(*args, **kwargs):
        raise AssertionError("detector built a pyspark Column")

    monkeypatch.setattr(F, "col", boom)
    monkeypatch.setattr(F, "count_if", boom)
    sc = spark.sparkContext
    # adaptive execution submits each batch's shuffle stage as a job of its
    # own; without it one batch is exactly one job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        calls = {
            "binary": lambda: profiling.binary_columns(df, batch_size=batch),
            "strict": lambda: profiling.strict_false_array_columns(df, batch_size=batch),
            "profile": lambda: profiling.profile_columns(df, batch_size=batch),
        }
        results = {}
        for name, call in calls.items():
            group = f"profiling-jobs-{name}"
            sc.setJobGroup(group, group)
            results[name] = call()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == math.ceil(n_cols / batch), name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # id % 2 columns are binary; none is a false array
    expected = [f"c{i}" for i in range(n_cols) if i % 3 == 0]
    assert results["binary"] == expected
    assert results["strict"] == []
    assert results["profile"] == (expected, [])


@pytest.mark.parametrize("use_reference", [True, False])
def test_clean_rows_quotes_odd_identifiers(spark, use_reference):
    names = ["Connect_ID", "d_1`b", "d.2", "d 3"]
    rows = [("1", "1", "[]", "x"), ("2", "0", "[178420302]", None)]
    schema = ", ".join(f"`{n.replace('`', '``')}` string" for n in names)
    df = spark.createDataFrame(rows, schema)

    out = clean_rows_df(df, use_reference=use_reference)
    got = {tuple(r[n] for n in names) for r in out.collect()}
    unwrapped = (None, "178420302") if not use_reference else ("[]", "[178420302]")
    assert got == {
        ("1", config.YES_CID, unwrapped[0], "x"),
        ("2", config.NO_CID, unwrapped[1], None),
    }

    df.createOrReplaceTempView("odd_names")
    sql = render_select_sql(compose_clean_rows(df, use_reference), "odd_names")
    assert {tuple(r) for r in spark.sql(sql).collect()} == {tuple(r) for r in out.collect()}
