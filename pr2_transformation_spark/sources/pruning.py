"""Min/max statistics pruning shared by every lake and file format.

The one module that knows how column bounds are produced (parquet
footer statistics), compared against a predicate, and used to pick the
data files a scan or a MERGE must read.  The formats keep only their
bounds EXTRACTORS — Delta ``add.stats`` JSON, Iceberg manifest bounds
(plus field-id resolution), ORC stripe / row-index statistics and the
parquet footer / page index — and each reduces to "decode the bounds,
call :func:`may_match`".

Every verdict keeps the NO-FALSE-NEGATIVES contract data skipping
lives by: a file (row group, stripe, page) is dropped only when its
bounds PROVE no row can match.  A missing bound keeps it, an all-NULL
column drops it (NULL satisfies no comparison), and a literal that
cannot be compared with the bounds keeps it.
"""

from __future__ import annotations

import bisect

# The MERGE candidate probe (:func:`merge_candidates`) is one extra,
# small Spark job.  Below a few dozen files the full scan IS the cheap
# path (A/B'd on q416: pruning 8 files cost ~2x the scan it saved);
# above a few thousand the driver-built bounds frame stops being small.
PROBE_MIN_FILES = 32
PROBE_MAX_FILES = 4096


def may_match(mn, mx, op: str, val, all_null: bool = False) -> bool:
    """False only when the bounds ``[mn, mx]`` PROVE no value can
    satisfy ``value <op> val``.

    ``op`` is one of ``= < <= > >=``, ``"between"`` (``val`` is an
    inclusive ``(lo, hi)`` range) or ``"in"`` (``val`` is a SORTED key
    list; true iff some key lies inside ``[mn, mx]``).  A missing bound
    keeps the file unless ``all_null`` says every value is NULL; an
    incomparable ``val``, unordered bounds (a NaN bound: the writers
    take min/max with Python ``min()``/``max()``, so a chunk whose first
    value is NaN gets NaN for both) and an unknown op keep it.  Each
    test is written as "not (a comparison that proves exclusion)", so a
    NaN literal, which makes every comparison False, keeps it too."""
    if mn is None or mx is None:
        return not all_null
    try:
        if not mn <= mx:
            return True  # unordered bounds prove nothing
        if op == "=":
            return not (val < mn or val > mx)
        if op == "<":
            return not mn >= val
        if op == "<=":
            return not mn > val
        if op == ">":
            return not mx <= val
        if op == ">=":
            return not mx < val
        if op == "between":
            lo, hi = val
            return not (mx < lo or mn > hi)
        if op == "in":
            i = bisect.bisect_left(val, mn)
            return i < len(val) and not val[i] > mx
    except (TypeError, ArithmeticError):
        return True  # incomparable (or Decimal NaN) literal: keep the file
    return True


def file_stats_many(paths: "list[str]") -> "list[dict | None]":
    """:func:`file_stats` for many files, probed in a small thread pool
    — pyarrow's footer read releases the GIL, and a partitioned commit
    stages hundreds of files (serial driver probes were ~1 s of q403's
    write)."""
    if len(paths) <= 4:
        return [file_stats(p) for p in paths]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(file_stats, paths))


def file_stats(local_path: str) -> "dict | None":
    """Per-file column statistics from the parquet FOOTER only (zero
    data pages read): numRecords + min/max/nullCount per leaf column
    with JSON-representable stats — the payload Delta ``add.stats`` and
    Iceberg manifest bounds are written from.  Columns whose chunks
    lack stats, carry non-primitive values, or whose stats pyarrow
    cannot extract (e.g. an INT64-backed decimal) are simply omitted;
    skipping stays conservative for them.  None when the footer cannot
    be read."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    try:
        md = pq.ParquetFile(local_path).metadata
    except Exception:  # noqa: BLE001 — stats are an optimization, never fatal
        return None

    def _plain(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    skip: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in skip:
                continue
            st = col.statistics
            mn = mx = None
            if st is not None and st.has_min_max:
                try:
                    mn, mx = _plain(st.min), _plain(st.max)
                except pa.ArrowException:  # e.g. an INT64-backed decimal
                    pass
            if mn is None or mx is None:
                skip.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": {k: v for k, v in nulls.items() if k not in skip},
    }


def merge_candidates(keys, key: str, files: dict,
                     bounds) -> "set[str] | None":
    """The MERGE candidate-file probe: the paths of ``files`` whose
    ``key`` bounds admit at least one value of ``keys[key]`` — every
    target row whose key equals some source key lies in one of them.

    ``files`` maps path -> format entry and ``bounds(entry)`` returns
    that file's ``(lo, hi)`` for the key (None when it has no stats).
    The test is one broadcast interval join of the distinct keys
    against the driver-collected bounds.  Bounds travel as strings and
    are ``try_cast`` to the key column's Spark type, so a bound that
    fails the cast — or has no stats — keeps its file rather than
    riding on an implicit cast.  Returns None when the probe is not
    worth running (file count outside the gate, or no file has bounds):
    the caller then scans every file."""
    from pyspark.sql import functions as F

    if not PROBE_MIN_FILES < len(files) <= PROBE_MAX_FILES:
        return None
    rows, keep = [], set()
    for path, entry in files.items():
        lo, hi = bounds(entry)
        if lo is None or hi is None:
            keep.add(path)
        else:
            rows.append((path, str(lo), str(hi)))
    if not rows:
        return None
    ktype = keys.schema[key].dataType
    bdf = keys.sparkSession.createDataFrame(
        rows, "__fp string, __lo string, __hi string").select(
        "__fp", F.col("__lo").try_cast(ktype).alias("__lo"),
        F.col("__hi").try_cast(ktype).alias("__hi"))
    k, lo, hi = F.col("__k"), F.col("__lo"), F.col("__hi")
    hit = (keys.select(F.col(key).alias("__k"))
           .join(F.broadcast(bdf),
                 lo.isNull() | hi.isNull() | ((k >= lo) & (k <= hi)))
           .select("__fp").distinct().collect())
    return keep | {r["__fp"] for r in hit}
