"""Min/max pruning kernel (sources/pruning.py) and the lake paths that
use it: the bounds test's no-false-negatives property, footer stats on
decimal columns, and MERGE on typed keys through the candidate-file
probe."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pr2_transformation_spark.sources import delta as delta_mod
from pr2_transformation_spark.sources import iceberg as iceberg_mod
from pr2_transformation_spark.sources.delta import DeltaTable
from pr2_transformation_spark.sources.iceberg import IcebergTable
from pr2_transformation_spark.sources.orc import read_orc_bytes_pruned
from pr2_transformation_spark.sources.orc_write import write_orc_bytes
from pr2_transformation_spark.sources.parquet_data import (
    read_parquet_bytes_page_filtered,
)
from pr2_transformation_spark.sources.parquet_meta import (
    prune_pages,
    prune_row_groups,
    read_footer_bytes,
    read_page_index_bytes,
)
from pr2_transformation_spark.sources.parquet_write import write_parquet_bytes
from pr2_transformation_spark.sources.pruning import (
    PROBE_MIN_FILES,
    may_match,
)

# one strategy per comparability family: values within a family compare,
# values across families raise TypeError in Python
_FAMILIES = {
    "int": st.integers(),
    "float": st.floats(allow_nan=False),
    "decimal": st.decimals(allow_nan=False, allow_infinity=False),
    "str": st.text(max_size=8),
    "date": st.dates(),
    "datetime": st.datetimes(),
}
_OPS = ("=", "<", "<=", ">", ">=")
_HOLDS = {
    "=": lambda x, v: x == v, "<": lambda x, v: x < v,
    "<=": lambda x, v: x <= v, ">": lambda x, v: x > v,
    ">=": lambda x, v: x >= v,
}


@st.composite
def _bounded_point(draw):
    """(mn, x, mx, val) of one family with mn <= x <= mx."""
    fam = _FAMILIES[draw(st.sampled_from(sorted(_FAMILIES)))]
    mn, x, mx = sorted(draw(st.lists(fam, min_size=3, max_size=3)))
    return mn, x, mx, draw(fam)


@settings(max_examples=300, deadline=None)
@given(_bounded_point())
def test_may_match_never_drops_a_satisfiable_interval(case):
    mn, x, mx, val = case
    for op in _OPS:
        if _HOLDS[op](x, val):
            assert may_match(mn, mx, op, val), (mn, mx, op, val)
    lo, hi = sorted([x, val])
    assert may_match(mn, mx, "between", (lo, hi))
    assert may_match(mn, mx, "in", sorted([val, x]))
    # and it does prune: a literal above the max admits no equal value
    if val > mx:
        assert not may_match(mn, mx, "=", val)
        assert not may_match(mn, mx, "in", [val])


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_may_match_keeps_incomparable_types(data):
    fa, fb = data.draw(st.sampled_from(
        [(a, b) for a in _FAMILIES for b in _FAMILIES
         if {a, b} - {"int", "float", "decimal"} and a != b]))
    mn, mx = sorted(data.draw(st.lists(_FAMILIES[fa], min_size=2,
                                       max_size=2)))
    val = data.draw(_FAMILIES[fb])
    for op in _OPS:
        assert may_match(mn, mx, op, val)
    assert may_match(mn, mx, "between", (val, val))
    assert may_match(mn, mx, "in", [val])


def test_may_match_keeps_nan_bounds_and_literals():
    """NaN orders against nothing, so neither a NaN bound nor a NaN
    literal proves that no value can match."""
    nan = float("nan")
    cases = [(op, 0.5) for op in _OPS] + [("between", (0.0, 1.0)),
                                          ("in", [0.5])]
    for op, val in cases:
        assert may_match(nan, nan, op, val), op
        assert may_match(nan, 2.0, op, val), op
    for op in _OPS:
        assert may_match(0.0, 1.0, op, nan), op
    assert may_match(0.0, 1.0, "between", (nan, nan))
    assert may_match(decimal.Decimal(0), decimal.Decimal(1), "=",
                     decimal.Decimal("NaN"))


def test_nan_first_chunk_survives_range_scans():
    """The parquet and ORC writers take bounds with Python min()/max(),
    so a float chunk whose first value is NaN is written with NaN for
    both bounds.  Row-group, page and stripe pruning must keep that
    chunk and return its matching rows."""
    vals = [float("nan")] + [float(i) for i in range(1, 400)]
    want = [float(i) for i in range(10, 21)]
    buf = write_parquet_bytes([("v", "DOUBLE", vals)], codec="none",
                              row_group_rows=200, page_rows=100,
                              page_index=True)
    footer = read_footer_bytes(buf)
    plan = prune_row_groups(footer, "v", 10.0, 20.0)
    assert [p["selected"] for p in plan] == [True, False]
    chunk = read_page_index_bytes(buf, footer)[0][0]
    pages = prune_pages(chunk["column_index"], chunk["offset_index"], 200,
                        10.0, 20.0)
    assert [p["selected"] for p in pages] == [True, False]
    _, cols, _ = read_parquet_bytes_page_filtered(buf, "v", 10.0, 20.0)
    assert cols["v"] == want
    orc = write_orc_bytes([("v", "double", vals)], stripe_rows=200)
    _, cols, acc = read_orc_bytes_pruned(orc, "v", 10.0, 20.0)
    assert cols["v"] == want
    assert (acc["stripes_read"], acc["stripes_total"]) == (1, 2)


def _write(fmt: str, path: str, df):
    t = (DeltaTable if fmt == "delta" else IcebergTable)(path)
    t.write(df, mode="overwrite", now_ms=1_000)
    return t


def _merge(fmt: str, spark, t, src, key: str) -> dict:
    if fmt == "delta":
        return t.merge(spark, src, on=[key], now_ms=2_000)
    return t.merge(spark, src, on=key, now_ms=2_000)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_decimal_column_write_read_and_prune(spark, tmp_path, fmt):
    """An INT64-backed decimal(12,2) column has footer stats pyarrow
    cannot extract: the stats probe omits that column instead of
    failing the write, and pruning on the other columns still works."""
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.25).cast("decimal(12,2)").alias("amt"))
    t = _write(fmt, str(tmp_path / fmt),
               df.repartitionByRange(4, "k").sortWithinPartitions("k"))
    got = sorted((r["k"], r["amt"]) for r in t.read(spark).collect())
    assert got == [(i, decimal.Decimal(i * 125) / 100) for i in range(400)]
    assert t.files_matching([("k", ">=", 399)]) == (1, 4)
    assert t.files_matching([("amt", ">=", decimal.Decimal("1"))]) == (4, 4)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("ktype", ["date", "timestamp"])
def test_merge_on_date_and_timestamp_keys(spark, tmp_path, fmt, ktype):
    """Matched date/timestamp keys reach Iceberg's positional delete as
    typed SQL literals (``str()`` of a date parses as arithmetic)."""
    base = spark.range(30).select(
        F.date_add(F.lit(datetime.date(2024, 1, 1)),
                   F.col("id").cast("int")).cast(ktype).alias("k"),
        F.col("id").alias("v"))
    t = _write(fmt, str(tmp_path / fmt), base.coalesce(3))
    src = base.filter("v IN (2, 17)").select("k", F.lit(-1).cast("long")
                                             .alias("v")) \
        .unionByName(spark.range(1).select(
            F.lit(datetime.date(2030, 1, 1)).cast(ktype).alias("k"),
            F.lit(-2).cast("long").alias("v")))
    res = _merge(fmt, spark, t, src, "k")
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    got = sorted(r["v"] for r in t.read(spark).collect())
    assert got == sorted([-2, -1, -1] + [v for v in range(30)
                                         if v not in (2, 17)])


_KEYS = {
    "long": lambda c: c * 3,
    "string": lambda c: F.format_string("k%04d", c),
    "date": lambda c: F.date_add(F.lit(datetime.date(2020, 1, 1)),
                                 c.cast("int")),
}


def _file_keys(t, fmt: str, key: str) -> dict:
    """data file path (as the format names it) -> its key values."""
    if fmt == "delta":
        paths = list(t._replay(t._latest_version())[0])
    else:
        paths = [e["file_path"] for e in t._data_file_entries()]
    return {p: set(pq.read_table(os.path.join(t.path, p),
                                 columns=[key]).column(0).to_pylist())
            for p in paths}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("ktype", sorted(_KEYS))
def test_merge_candidate_probe(spark, tmp_path, monkeypatch, fmt, ktype):
    """A 40-file table crosses the probe gate: the candidate set must
    hold every file that holds a source key, and the MERGE result must
    equal the unpruned answer."""
    n_files = 40
    assert n_files > PROBE_MIN_FILES
    df = spark.range(400).select(_KEYS[ktype](F.col("id")).alias("k"),
                                 F.col("id").alias("v"))
    t = _write(fmt, str(tmp_path / fmt),
               df.repartitionByRange(n_files, "k").sortWithinPartitions("k"))
    by_file = _file_keys(t, fmt, "k")
    assert len(by_file) == n_files
    mod = delta_mod if fmt == "delta" else iceberg_mod
    seen = []

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    real = mod.merge_candidates
    monkeypatch.setattr(mod, "merge_candidates", spy)
    upd_ids = [3, 97, 180, 260, 391]
    src = df.filter(F.col("v").isin(upd_ids)) \
        .select("k", (F.col("v") + 10_000).alias("v"))
    src_keys = {r["k"] for r in src.collect()}
    res = _merge(fmt, spark, t, src, "k")

    assert res["rows_updated"] == 5 and res["rows_inserted"] == 0
    after = sorted(r["v"] for r in t.read(spark).collect())
    assert after == sorted([v for v in range(400) if v not in upd_ids]
                           + [v + 10_000 for v in upd_ids])
    [cand] = seen
    holding = {p for p, ks in by_file.items() if ks & src_keys}
    assert len(holding) == 5
    assert holding <= cand < set(by_file)


def test_sql_literal_round_trips(spark):
    """Iceberg MERGE renders collected keys into its delete predicate:
    each literal must parse back to the value it came from."""
    vals = ["O'Brien", "a\\b", 7, datetime.date(2024, 2, 29),
            datetime.datetime(2024, 3, 1, 4, 5, 6, 789)]
    [row] = spark.sql("SELECT " + ", ".join(
        f"{iceberg_mod._sql_literal(v)} AS c{i}"
        for i, v in enumerate(vals))).collect()
    assert list(row) == vals
