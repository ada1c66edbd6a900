"""Pure column-name grammar for Connect survey variables.

Survey columns encode their meaning in the *name*: 9-digit "concept IDs"
(CIDs) prefixed by ``d_``/``D_``, optional repeated-question loop suffixes
(``_N_N``), and optional version tags (``_vK``).  The whole engine plans its
projections by parsing these names; no data is touched here.

Behavioral parity with the reference implementation
(/root/reference/core/utils.py:91-373) — each function cites the lines whose
observable behavior it reproduces.  All functions are pure and driver-side.
"""

from __future__ import annotations

import re
from collections import defaultdict

from . import config

# d_ or D_ immediately followed by exactly nine digits.
_CID_RE = re.compile(r"[dD]_(\d{9})")
# Any run of digits after d_/D_ terminated by '_' or end — used for linting.
_ANY_CID_RE = re.compile(r"[dD]_(\d+)(?=_|$)")
# A version tag _vN / _VN appearing anywhere (token-terminated).
_VERSION_RE = re.compile(r"_[vV](\d+)(?=_|$)")
# Loop patterns.
_VERSIONED_LOOP_RE = re.compile(r"_v\d+_(\d+)_\1(?!\d)", re.IGNORECASE)
_LOOP_PAIR_RE = re.compile(r"_(\d+)_\1(?!\d)")
_LOOP_PAIR_ANY_RE = re.compile(r"_(\d+)_\1")
_TRAILING_NUM_RE = re.compile(r"_(\d+)$")


def extract_concept_ids(name: str) -> list[str]:
    """All 9-digit concept IDs in ``name``, in order, duplicates preserved.

    Parity: reference ``extract_ordered_concept_ids``
    (/root/reference/core/utils.py:91-100).

    >>> extract_concept_ids("D_812370563_1_1_D_812370563_1_1_D_665036297")
    ['812370563', '812370563', '665036297']
    >>> extract_concept_ids("random_text")
    []
    """
    return _CID_RE.findall(name)


def find_non_standard_concept_ids(names: list[str]) -> list[tuple[str, str, int]]:
    """(column, digits, length) for every d_<digits> whose run is not 9 long.

    Parity: /root/reference/core/utils.py:102-120.
    """
    bad: list[tuple[str, str, int]] = []
    for name in names:
        for digits in _ANY_CID_RE.findall(name):
            if len(digits) != 9:
                bad.append((name, digits, len(digits)))
    return bad


def extract_version_suffix(name: str) -> str:
    """``"_v<N>"`` (lowercased) for the first version tag, else ``""``.

    Parity: /root/reference/core/utils.py:184-201.

    >>> extract_version_suffix("d_123456789_V3_1_1")
    '_v3'
    """
    m = _VERSION_RE.search(name)
    return f"_v{m.group(1)}" if m else ""


def excise_version(name: str) -> str:
    """Remove every ``_vN`` tag wherever it sits in the name.

    Parity: /root/reference/core/utils.py:203-220.

    >>> excise_version("D_899251483_V2_D_452438775")
    'D_899251483_D_452438775'
    """
    return _VERSION_RE.sub("", name)


def extract_loop_number(name: str) -> int | None:
    """The repeated-question loop number encoded in the name, else ``None``.

    Three-case cascade, parity with /root/reference/core/utils.py:222-245:
      1. a version-interleaved pattern ``_vK_N_N``;
      2. after excising versions, the first ``_N_N`` pair;
      3. a trailing ``_N`` — but only if some ``_N_N`` pair also exists.
    """
    m = _VERSIONED_LOOP_RE.search(name)
    if m:
        return int(m.group(1))

    cleaned = excise_version(name)
    pairs = _LOOP_PAIR_RE.findall(cleaned)
    if pairs:
        return int(pairs[0])

    if _LOOP_PAIR_ANY_RE.search(cleaned):
        m = _TRAILING_NUM_RE.search(cleaned)
        if m:
            return int(m.group(1))
    return None


def is_pure_variable(name: str) -> bool:
    """True iff every ``_``-token of ``name`` is an allowed shape.

    Allowed tokens: ``d``/``D``, all-digit runs, ``vN`` version tags, and the
    configured allow-list words; the whole name may also be an allowed
    non-CID name (``connect_id``).  Configured forbidden names are impure by
    fiat.  Parity: /root/reference/core/utils.py:138-182.

    >>> is_pure_variable("D_869387390_11_11_D_478706011_11")
    True
    >>> is_pure_variable("D_907590067_4_4_SIBCANC3O_D_650332509_4")
    False
    """
    low = name.lower()
    if low in config.ALLOWED_NON_CID_VARIABLE_NAMES:
        return True
    if low in (f.lower() for f in config.FORBIDDEN_NON_CID_VARIABLE_NAMES):
        return False
    for token in name.split("_"):
        token = token.strip()
        if not token:
            continue
        tl = token.lower()
        if tl == "d" or token.isdigit():
            continue
        if tl.startswith("v") and token[1:].isdigit():
            continue
        if tl in config.ALLOWED_NON_CID_SUBSTRINGS:
            continue
        return False
    return True


def excise_substrings(name: str, substrings: list[str]) -> str:
    """Delete each literal substring from the name, in list order.

    Parity: /root/reference/core/utils.py:352-358.
    """
    for sub in substrings:
        name = name.replace(sub, "")
    return name


def standardize_column_case(name: str) -> str:
    """Lowercase the name — except the literal key column ``Connect_ID``.

    Parity: /root/reference/core/utils.py:360-373.
    """
    return name if name == "Connect_ID" else name.lower()


GroupKey = tuple[frozenset, int, str]


def group_loop_variables(names: list[str]) -> dict[GroupKey, list[str]]:
    """Group loop variables by (CID set, loop number, version suffix).

    Key: (frozenset of CIDs extracted from the version-excised name, loop
    number, version suffix or "").  Names without any CID or without a loop
    number are dropped.  Insertion order of groups and of members follows
    input order.  Parity: /root/reference/core/utils.py:247-275.
    """
    groups: dict[GroupKey, list[str]] = defaultdict(list)
    for name in names:
        version = extract_version_suffix(name)
        cids = frozenset(extract_concept_ids(excise_version(name)))
        loop = extract_loop_number(name)
        if cids and loop is not None:
            groups[(cids, loop, version)].append(name)
    return dict(groups)


def canonical_loop_name(sample_member: str, loop_number: int, version_suffix: str) -> str:
    """Canonical output name for a loop group.

    Ordered CIDs from the version-excised first member, joined as
    ``d_<cid>_d_<cid>..._<loop>`` + version-at-end, then substring excision
    and case standardization.  Parity:
    /root/reference/core/transformations.py:479-489.
    """
    ordered = extract_concept_ids(excise_version(sample_member))
    raw = "_".join(f"d_{cid}" for cid in ordered) + f"_{loop_number}" + version_suffix
    return standardize_column_case(excise_substrings(raw, config.SUBSTRINGS_TO_FIX))


def canonical_nonloop_name(name: str) -> str:
    """Canonical output name for a non-loop variable.

    Substring excision, case standardization, then any version tag is moved
    to the very end of the name.  Parity:
    /root/reference/core/transformations.py:505-519.
    """
    out = standardize_column_case(excise_substrings(name, config.SUBSTRINGS_TO_FIX))
    version = extract_version_suffix(out)
    if version:
        out = excise_version(out) + version
    return out


def fix_impure_variable(name: str, exception_map: dict[str, str]) -> str:
    """Repair an impure name: each token present in ``exception_map`` becomes
    ``D_<mapped-cid>``; other tokens pass through.  Offline utility; parity:
    /root/reference/core/variable_normalizer.py:3-34.

    >>> fix_impure_variable("D_259089008_SIBCANC3O", {"SIBCANC3O": "123456789"})
    'D_259089008_D_123456789'
    """
    return "_".join(
        f"D_{exception_map[tok]}" if tok in exception_map else tok
        for tok in name.split("_")
    )


def fix_all_variables(names: list[str], exception_map: dict[str, str]) -> list[str]:
    """Validate-and-repair a batch of names; raise if an impure token has no
    mapping.  Parity: /root/reference/core/variable_normalizer.py:36-103.
    """
    fixed: list[str] = []
    for name in names:
        for token in name.split("_"):
            tl = token.lower()
            ok = (
                not token
                or tl == "d"
                or token.isdigit()
                or (tl.startswith("v") and token[1:].isdigit())
                or tl in config.ALLOWED_NON_CID_SUBSTRINGS
                or tl in config.ALLOWED_NON_CID_VARIABLE_NAMES
                or token in exception_map
            )
            if not ok:
                raise ValueError(
                    f"token {token!r} in {name!r} is impure and unmapped"
                )
        fixed.append(fix_impure_variable(name, exception_map))
    return fixed


def column_exceptions_to_exclude(columns: list[str]) -> list[str]:
    """Columns dropped before merging: forbidden whole names plus any name
    containing a datatype-conflict / misnamed substring (case-insensitive).

    Parity: /root/reference/core/utils.py:305-334.
    """
    forbidden = {f.lower() for f in config.FORBIDDEN_NON_CID_VARIABLE_NAMES}
    out: list[str] = []
    for col in columns:
        if col.lower() in forbidden:
            out.append(col)
        elif any(sub.lower() in col.lower() for sub in config.EXCLUDED_NON_CID_SUBSTRINGS):
            out.append(col)
    return out


def valid_column_names(columns: list[str]) -> list[str]:
    """All columns minus the exclusions, **original order preserved**.

    The reference computes this via set difference, which destroys order
    (/root/reference/core/utils.py:336-350) and later relies on ``sorted()``
    for determinism (/root/reference/core/transformations.py:92,117); we keep
    input order here and still sort at every emission point, so observable
    output is identical and intermediate behavior is deterministic.
    """
    excluded = set(column_exceptions_to_exclude(columns))
    return [c for c in columns if c not in excluded]
