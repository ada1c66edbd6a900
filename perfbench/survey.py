"""survey_etl workload: the Airflow endpoint chain over wide FlatConnect tables.

Two versions of one survey module are generated from the seed as all-STRING
parquet tables, each over a thousand columns wide.  Column names mix the
whole name grammar the planner parses (plain CIDs, ``_N_N`` loop variables,
version tags, ``_num``/``state_`` excision collisions, impure names that
clean_columns drops, the sensitive-tier CIDs), and values are planted per
final output column (binary flags, false arrays, free text), so the result
of the chain is known before it runs.

One pass runs ``api.clean_columns`` on each version, then
``api.merge_table_versions``, ``api.clean_rows`` and
``api.create_sensitive_tier``, all with ``audit_dir`` set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Columns per input version.  Width drives the cost (profiling and the
#: wide projections scale with columns), so the run length is fitted by
#: rows, never by narrowing.
WIDTH = 1000
N_ROWS = 300
#: Share of participants present in each version; the rest are split
#: between v1-only and v2-only so the FULL OUTER merge has both sides.
BOTH_SHARE = 0.7

MODULE = "module4"
PROJECT = "bench"

_WORDS = (
    "yes no maybe daily weekly never sometimes often rarely home work school "
    "clinic pharmacy mother father sibling cousin north south east west "
    "walking running cycling swimming reading cooking gardening travel"
).split()


def _cid(rng: np.random.Generator, used: set[str]) -> str:
    while True:
        c = str(int(rng.integers(100_000_000, 1_000_000_000)))
        if c not in used:
            used.add(c)
            return c


def plan_columns(seed: int, sensitive: list[str], false_pairs: list[list[str]], width: int = WIDTH):
    """Column layout of both versions, as ``(v1_sources, v2_sources)`` plus
    ``kinds``: final output name -> value kind.

    Each entry of a sources list is ``(flat_name, final_name)``.  Several
    flat names may share one final name (loop groups, excision collisions);
    all members of a group carry the same value kind.
    """
    rng = np.random.default_rng(seed)
    used = {s.split("_")[1] for s in sensitive if s.startswith("d_")}
    used.update(p[0] for p in false_pairs)
    used.update(p[1] for p in false_pairs)
    v1: list[tuple[str, str]] = []
    v2: list[tuple[str, str]] = []
    kinds: dict[str, str] = {}

    def add(members: list[str], final: str, kind: str, where: str) -> None:
        kinds[final] = kind
        for m in members:
            if where in ("both", "v1"):
                v1.append((m, final))
            if where in ("both", "v2"):
                v2.append((m, final))

    for s in sensitive[1:]:
        add([s.replace("d_", "D_", 1)], s, "text", "both")
    for a, b in false_pairs[:40]:
        add([f"D_{a}_D_{b}"], f"d_{a}_d_{b}", "false_array", "both")
        add([f"D_{a}_D_{b}_1_1"], f"d_{a}_d_{b}_1", "false_array", "both")

    # The mix of shapes, kinds and placements is the same for every seed, so
    # widths (and with them the cost) do not drift with the seed; the seed
    # picks the concept IDs, the order of families and every value.
    shapes = ["plain"] * 30 + ["loop"] * 18 + ["num"] * 10 + ["state"] * 10 + (
        ["loop2", "pairloop", "version", "vloop"] * 8
    )
    shapes = [shapes[(7 * k) % len(shapes)] for k in range(len(shapes))]  # interleave
    wheres = ["both"] * 4 + ["v1"] + ["both"] * 4 + ["v2"]
    i = 0
    while min(len(v1), len(v2)) + 4 < width:  # + Connect_ID and 3 impure names
        shape, where = shapes[i % len(shapes)], wheres[i % len(wheres)]
        kind = "binary" if (3 * i) % 20 < 7 else "text"
        i += 1
        a = _cid(rng, used)
        if shape == "plain":
            add([f"D_{a}"], f"d_{a}", kind, where)
        elif shape == "loop":
            for k in (1, 2):
                add([f"D_{a}_{k}_{k}"], f"d_{a}_{k}", kind, where)
        elif shape == "loop2":
            # two spellings of one (CID set, loop) group -> COALESCE
            b = _cid(rng, used)
            add([f"D_{a}_1_1_D_{b}_1", f"D_{a}_D_{b}_1_1"], f"d_{a}_d_{b}_1", kind, where)
        elif shape == "pairloop":
            b = _cid(rng, used)
            add([f"D_{a}_3_3_D_{b}_3"], f"d_{a}_d_{b}_3", kind, where)
        elif shape == "version":
            b = _cid(rng, used)
            add([f"D_{a}_V2_D_{b}"], f"d_{a}_d_{b}_v2", kind, where)
        elif shape == "vloop":
            add([f"D_{a}_v2_1_1"], f"d_{a}_1_v2", kind, where)
        elif shape == "num":
            # `_num` excision collides with the plain CID -> COALESCE
            add([f"D_{a}", f"D_{a}_num"], f"d_{a}", kind, where)
        else:
            add([f"D_{a}", f"state_D_{a}"], f"d_{a}", kind, where)
    # impure / forbidden names: clean_columns drops them
    for junk in ("token", "siteAcronym", f"D_{_cid(rng, used)}_SIBCANC3O"):
        v1.append((junk, ""))
        v2.append((junk, ""))
    return v1, v2, kinds


def _values(rng: np.random.Generator, kind: str, n: int) -> pa.Array:
    if kind == "binary":
        pool = np.array(["0", "1", "", None], dtype=object)
        return pa.array(pool[rng.choice(4, size=n, p=[0.45, 0.45, 0.04, 0.06])], pa.string())
    if kind == "false_array":
        pool = np.array(["[]", "[178420302]", None], dtype=object)
        return pa.array(pool[rng.choice(3, size=n, p=[0.5, 0.3, 0.2])], pa.string())
    words = np.array(_WORDS, dtype=object)
    picks = words[rng.integers(0, len(words), size=n)] + " " + words[rng.integers(0, len(words), size=n)]
    picks[rng.random(n) < 0.3] = None
    picks[0] = "free text"  # never an all-NULL column: that would profile as binary
    return pa.array(picks, pa.string())


def generate(
    seed: int, root: str, sensitive: list[str], false_pairs: list[list[str]],
    n_rows: int = N_ROWS, width: int = WIDTH,
) -> dict:
    """Write both FlatConnect versions under ``root``; return the planted truth."""
    rng = np.random.default_rng(seed + 1)
    v1_cols, v2_cols, kinds = plan_columns(seed, sensitive, false_pairs, width)
    ids = rng.choice(np.arange(10**9, 10**9 + 50 * n_rows), size=n_rows * 2, replace=False).astype(str)
    n_both = int(n_rows * BOTH_SHARE)
    n_only = n_rows - n_both
    both, only1, only2 = ids[:n_both], ids[n_both : n_both + n_only], ids[n_both + n_only : n_both + 2 * n_only]
    tables = {}
    for tag, cols, only in (("v1", v1_cols, only1), ("v2", v2_cols, only2)):
        conn = np.concatenate([both, only])
        rng.shuffle(conn)
        arrays = [pa.array(conn, pa.string())]
        names = ["Connect_ID"]
        for flat, final in cols:
            arrays.append(_values(rng, kinds.get(final, "text"), len(conn)))
            names.append(flat)
        path = table_path(root, "FlatConnect", f"{MODULE}_{tag}_JP")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, names=names), path)
        tables[tag] = path
    return {
        "binary": {f for f, k in kinds.items() if k == "binary"},
        "merged_rows": n_both + 2 * n_only,
        "tables": tables,
    }


def table_path(root: str, dataset: str, table: str) -> str:
    return os.path.join(root, PROJECT, dataset, f"{table}.parquet")


def fq(dataset: str, table: str) -> str:
    return f"{PROJECT}.{dataset}.{table}"


def run_pass(api, catalog, audit_dir: str, timer) -> None:
    """One endpoint chain; ``timer(name, fn)`` times and runs each call."""
    for tag in ("v1", "v2"):
        timer(
            f"clean_columns_{tag}",
            lambda tag=tag: api.clean_columns(
                catalog, fq("FlatConnect", f"{MODULE}_{tag}_JP"),
                fq("CleanConnect", f"{MODULE}_{tag}_JP"), audit_dir,
            ),
        )
    timer(
        "merge_versions",
        lambda: api.merge_table_versions(
            catalog,
            [fq("CleanConnect", f"{MODULE}_v1_JP"), fq("CleanConnect", f"{MODULE}_v2_JP")],
            fq("CleanConnect", f"{MODULE}_merged_JP"), audit_dir,
        ),
    )
    timer(
        "clean_rows",
        lambda: api.clean_rows(
            catalog, fq("CleanConnect", f"{MODULE}_merged_JP"),
            fq("CleanConnect", f"{MODULE}_JP"), audit_dir,
        ),
    )
    timer(
        "sensitive_tier",
        lambda: api.create_sensitive_tier(
            catalog, fq("CleanConnect", f"{MODULE}_JP"),
            fq("Sensitive", f"{MODULE}_JP"), audit_dir,
        ),
    )


def check(root: str, truth: dict, sensitive: list[str], yes_no: set[str]) -> list[tuple[str, str]]:
    """Compare the chain's outputs with the planted truth; return
    ``(endpoint charged, problem)`` pairs.

    A column was detected as binary when clean_rows recoded it: its values in
    the cleaned table are only the Yes/No concept IDs (and NULL)."""
    problems: list[tuple[str, str]] = []

    def read(endpoint: str, dataset: str, table: str):
        try:
            return pq.read_table(table_path(root, dataset, table))
        except (OSError, pa.ArrowInvalid) as exc:
            problems.append((endpoint, f"{dataset}.{table} unreadable: {exc}"[:200]))
            return None

    cleaned = read("clean_rows", "CleanConnect", f"{MODULE}_JP")
    if cleaned is not None:
        values = {n: set(c.unique().drop_null().to_pylist()) for n, c in zip(cleaned.column_names, cleaned.columns)}
        detected = {n for n, vs in values.items() if vs and vs <= yes_no}
        if detected != truth["binary"]:
            problems.append(("clean_rows", f"binary set: {len(detected - truth['binary'])} extra, "
                                           f"{len(truth['binary'] - detected)} missing"))
        if len(cleaned.column_names) != len({n.lower() for n in cleaned.column_names}):
            problems.append(("clean_rows", "duplicate output names in the cleaned table"))
    merged = read("merge_versions", "CleanConnect", f"{MODULE}_merged_JP")
    if merged is not None and merged.num_rows != truth["merged_rows"]:
        problems.append(("merge_versions", f"merge rows {merged.num_rows} != {truth['merged_rows']}"))
    tier = read("sensitive_tier", "Sensitive", f"{MODULE}_JP")
    if tier is not None and tier.column_names != list(sensitive):
        problems.append(("sensitive_tier", f"sensitive tier columns {tier.column_names[:3]}... != config list"))
    return problems
