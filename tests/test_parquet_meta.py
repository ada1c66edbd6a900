"""Parquet footer reader (sources/parquet_meta.py) vs pyarrow's own
metadata API — a second independent reference besides q342's DuckDB
check — plus pruning-planner semantics."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pr2_transformation_spark.sources.parquet_meta import (
    prune_row_groups,
    read_footer,
)


@pytest.fixture()
def typed_file(tmp_path):
    path = str(tmp_path / "t.parquet")
    n = 1000
    tbl = pa.table({
        "i32": pa.array(range(n), pa.int32()),
        "i64": pa.array([x * 7 for x in range(n)], pa.int64()),
        "f32": pa.array([x / 4 for x in range(n)], pa.float32()),
        "f64": pa.array([x * 1.5 for x in range(n)], pa.float64()),
        "s": pa.array([f"k{x:04d}" for x in range(n)]),
        "b": pa.array([x % 3 == 0 for x in range(n)]),
        "with_nulls": pa.array(
            [None if x % 5 == 0 else x for x in range(n)], pa.int64()
        ),
    })
    pq.write_table(tbl, path, row_group_size=300)
    return path


def test_footer_matches_pyarrow_metadata(typed_file):
    footer = read_footer(typed_file)
    ref = pq.ParquetFile(typed_file).metadata
    assert footer["num_rows"] == ref.num_rows
    assert len(footer["row_groups"]) == ref.num_row_groups == 4
    assert [s["name"] for s in footer["schema"]] == [
        ref.schema.column(i).name for i in range(ref.num_columns)
    ]
    for g in range(ref.num_row_groups):
        rg_ref = ref.row_group(g)
        rg = footer["row_groups"][g]
        assert rg["num_rows"] == rg_ref.num_rows
        for c in range(rg_ref.num_columns):
            col_ref = rg_ref.column(c)
            col = rg["columns"][c]
            assert col["path"] == col_ref.path_in_schema
            assert col["num_values"] == col_ref.num_values
            st = col_ref.statistics
            assert col["null_count"] == st.null_count
            assert col["min"] == st.min and col["max"] == st.max, col["path"]


def test_prune_row_groups_semantics(typed_file):
    footer = read_footer(typed_file)
    # i64 ranges per 300-row group: [0,2093], [2100,4193], [4200,6293], [6300,6993]
    plan = prune_row_groups(footer, "i64", 2100, 4200)
    assert [p["selected"] for p in plan] == [False, True, True, False]
    # boundary inclusivity: exactly touching max keeps the group
    plan = prune_row_groups(footer, "i64", 2093, 2093)
    assert [p["selected"] for p in plan] == [True, False, False, False]
    # all-excluding predicate
    plan = prune_row_groups(footer, "i64", 10**9, 2 * 10**9)
    assert not any(p["selected"] for p in plan)
    # incomparable literal: no proof of exclusion, every group kept
    plan = prune_row_groups(footer, "i64", "a", "z")
    assert all(p["selected"] for p in plan)
    with pytest.raises(ValueError, match="not in row group"):
        prune_row_groups(footer, "nope", 0, 1)


def test_missing_stats_prune_conservatively(typed_file):
    footer = read_footer(typed_file)
    for rg in footer["row_groups"]:
        for c in rg["columns"]:
            if c["path"] == "i64":
                c["min"] = c["max"] = None
    plan = prune_row_groups(footer, "i64", 10**9, 2 * 10**9)
    assert all(p["selected"] for p in plan)  # no proof -> must scan


def test_bad_magic_rejected(tmp_path):
    p = str(tmp_path / "junk.bin")
    with open(p, "wb") as f:
        f.write(b"\x00" * 64)
    with pytest.raises(ValueError, match="bad magic"):
        read_footer(p)


def test_wide_schema_and_many_row_groups(tmp_path):
    """>=15 schema elements and >=15 row groups exercise the thrift
    compact long-list header (size nibble 15 + varint) and field-id
    delta escapes; stats must still match pyarrow everywhere."""
    path = str(tmp_path / "wide.parquet")
    n = 2000
    tbl = pa.table({f"c{i:02d}": pa.array([(x * (i + 1)) % 977 for x in range(n)],
                                          pa.int64())
                    for i in range(20)})
    pq.write_table(tbl, path, row_group_size=100)  # 20 row groups
    footer = read_footer(path)
    ref = pq.ParquetFile(path).metadata
    assert len(footer["row_groups"]) == ref.num_row_groups == 20
    assert len(footer["schema"]) == 20
    for g in (0, 7, 19):
        for c in (0, 11, 19):
            col = footer["row_groups"][g]["columns"][c]
            st = ref.row_group(g).column(c).statistics
            assert (col["min"], col["max"]) == (st.min, st.max)
