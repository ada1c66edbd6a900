"""Pure-python Parquet footer reader — Thrift Compact Protocol.

The metadata plane of a parquet lake: the footer's ``FileMetaData``
(schema, row groups, per-column-chunk statistics) is what a planner
reads to prune row groups before touching a byte of data.  Engines hide
this behind their readers; this module parses it from scratch —
the Thrift Compact Protocol wire format (varints, zigzag, field-id
deltas, nested structs/lists) and the parquet-format thrift IDs — so
row-group pruning decisions become inspectable and testable.  Graded
q342 pits it against DuckDB's independent ``parquet_metadata()`` on the
same file, byte for byte.

Scale shape: footers are KBs regardless of data size; parsing is
driver/planner-side by design.  The DATA path never goes through here.

Spec: https://github.com/apache/parquet-format (FileMetaData,
Statistics) and the Thrift Compact Protocol spec.  Only the fields a
pruning planner needs are surfaced; unknown fields are skipped
structurally, so footers from any writer parse.
"""

from __future__ import annotations

import struct

from .pruning import may_match

# thrift compact type codes
_STOP, _TRUE, _FALSE, _BYTE, _I16, _I32, _I64 = 0, 1, 2, 3, 4, 5, 6
_DOUBLE, _BINARY, _LIST, _SET, _MAP, _STRUCT = 7, 8, 9, 10, 11, 12

PHYSICAL_TYPES = ["BOOLEAN", "INT32", "INT64", "INT96", "FLOAT", "DOUBLE",
                  "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"]


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def binary(self) -> bytes:
        n = self.varint()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def skip(self, ttype: int) -> None:
        if ttype in (_TRUE, _FALSE):
            return
        if ttype == _BYTE:
            self.byte()
        elif ttype in (_I16, _I32, _I64):
            self.varint()
        elif ttype == _DOUBLE:
            self.pos += 8
        elif ttype == _BINARY:
            self.binary()
        elif ttype in (_LIST, _SET):
            head = self.byte()
            size, et = head >> 4, head & 0x0F
            if size == 15:
                size = self.varint()
            if et in (_TRUE, _FALSE):
                # list-context bools are one byte each (1=T, 2=F),
                # unlike field-context bools (value in the type code)
                self.pos += size
            else:
                for _ in range(size):
                    self.skip(et)
        elif ttype == _MAP:
            size = self.varint()
            if size:
                kv = self.byte()
                for _ in range(size):
                    self.skip(kv >> 4)
                    self.skip(kv & 0x0F)
        elif ttype == _STRUCT:
            self.struct(keep=())
        else:
            raise ValueError(f"bad thrift compact type {ttype}")

    def value(self, ttype: int, keep_nested=None):
        if ttype == _TRUE:
            return True
        if ttype == _FALSE:
            return False
        if ttype == _BYTE:
            return self.byte()
        if ttype in (_I16, _I32, _I64):
            return self.zigzag()
        if ttype == _DOUBLE:
            v = struct.unpack_from("<d", self.buf, self.pos)[0]
            self.pos += 8
            return v
        if ttype == _BINARY:
            return self.binary()
        if ttype in (_LIST, _SET):
            head = self.byte()
            size, et = head >> 4, head & 0x0F
            if size == 15:
                size = self.varint()
            if et in (_TRUE, _FALSE):
                out = [self.byte() == 1 for _ in range(size)]
                return out
            return [self.value(et, keep_nested) for _ in range(size)]
        if ttype == _STRUCT:
            return self.struct(keep=keep_nested)
        self.skip(ttype)
        return None

    def struct(self, keep=None) -> dict:
        """Parse one struct to {field_id: value}.  ``keep=None`` keeps
        every field; a tuple keeps only those ids (others are skipped
        structurally).  Nested structs/lists inherit ``keep=None`` —
        the footer is small, selectivity only matters at the top."""
        out: dict[int, object] = {}
        fid = 0
        while True:
            head = self.byte()
            if head == _STOP:
                return out
            delta, ttype = head >> 4, head & 0x0F
            fid = fid + delta if delta else self.zigzag()
            if keep is not None and fid not in keep:
                self.skip(ttype)
                continue
            out[fid] = self.value(ttype, keep_nested=None)


def _decode_stat(raw: bytes, ptype: int):
    """Decode a Statistics min_value/max_value payload (plain encoding)."""
    if raw is None:
        return None
    if ptype == 1:  # INT32
        return struct.unpack("<i", raw)[0]
    if ptype == 2:  # INT64
        return struct.unpack("<q", raw)[0]
    if ptype == 4:  # FLOAT
        return struct.unpack("<f", raw)[0]
    if ptype == 5:  # DOUBLE
        return struct.unpack("<d", raw)[0]
    if ptype == 0:  # BOOLEAN
        return bool(raw[0])
    try:  # BYTE_ARRAY / FIXED: utf-8 where possible
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.hex()


def read_footer(path: str) -> dict:
    """Parse a parquet file's FileMetaData.

    Returns ``{"version", "num_rows", "created_by", "schema":
    [{"name", "type"}...], "row_groups": [{"num_rows",
    "total_byte_size", "columns": [{"path", "type", "codec",
    "num_values", "null_count", "min", "max", "data_page_offset",
    "total_compressed_size"}...]}...]}``."""
    with open(path, "rb") as f:
        f.seek(-8, 2)
        tail = f.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"not a parquet file (bad magic): {path}")
        meta_len = struct.unpack("<I", tail[:4])[0]
        f.seek(-8 - meta_len, 2)
        buf = f.read(meta_len)
    return _parse_footer(buf)


def read_footer_bytes(data: bytes) -> dict:
    """:func:`read_footer` over an in-memory file image (the
    distributed data-plane reader gets whole files from a binaryFile
    scan and never touches local disk)."""
    if data[-4:] != b"PAR1":
        raise ValueError("not a parquet file (bad magic)")
    meta_len = struct.unpack("<I", data[-8:-4])[0]
    return _parse_footer(data[-8 - meta_len:-8])


def _parse_footer(buf: bytes) -> dict:
    r = _Reader(buf)
    fmd = r.struct(keep=(1, 2, 3, 4, 6))
    schema = []
    for el in fmd.get(2, [])[1:]:  # element 0 is the root group
        schema.append({
            "name": el.get(4, b"").decode("utf-8"),
            "type": PHYSICAL_TYPES[el[1]] if 1 in el else None,
            # 0=REQUIRED, 1=OPTIONAL, 2=REPEATED (SchemaElement field 3)
            "repetition": el.get(3, 0),
            "type_length": el.get(2),
            "num_children": el.get(5, 0),
            # DECIMAL logical type (converted_type 5 + scale/precision,
            # SchemaElement fields 6/7/8 — the legacy form every reader
            # still honors)
            "converted_type": el.get(6),
            "scale": el.get(7),
            "precision": el.get(8),
        })
    groups = []
    for rg in fmd.get(4, []):
        cols = []
        for cc in rg.get(1, []):
            md = cc.get(3, {})
            ptype = md.get(1)
            stats = md.get(12, {})
            # min_value/max_value (5/6) are the modern order-aware pair;
            # fall back to the deprecated min/max (2/1) for old writers
            raw_min = stats.get(6, stats.get(2))
            raw_max = stats.get(5, stats.get(1))
            cols.append({
                "path": ".".join(p.decode("utf-8") for p in md.get(3, [])),
                "type": PHYSICAL_TYPES[ptype] if ptype is not None else None,
                "codec": md.get(4),
                "num_values": md.get(5),
                "total_uncompressed_size": md.get(6),
                "total_compressed_size": md.get(7),
                "data_page_offset": md.get(9),
                "dictionary_page_offset": md.get(11),
                "null_count": stats.get(3),
                "min": _decode_stat(raw_min, ptype),
                "max": _decode_stat(raw_max, ptype),
                # SBBF locator (ColumnMetaData fields 14/15)
                "bloom_filter_offset": md.get(14),
                "bloom_filter_length": md.get(15),
                # PageIndex locators (ColumnChunk fields 4-7)
                "offset_index_offset": cc.get(4),
                "offset_index_length": cc.get(5),
                "column_index_offset": cc.get(6),
                "column_index_length": cc.get(7),
            })
        groups.append({
            "total_byte_size": rg.get(2),
            "num_rows": rg.get(3),
            "columns": cols,
        })
    return {
        "version": fmd.get(1),
        "num_rows": fmd.get(3),
        "created_by": (fmd.get(6) or b"").decode("utf-8", "replace"),
        "schema": schema,
        "row_groups": groups,
    }


def read_page_index_bytes(data: bytes, footer: dict) -> list[list[dict]]:
    """Parse the PageIndex for every column chunk of ``footer`` from a
    whole-file image: per row group, per column, ``{"column_index":
    {"null_pages", "min", "max", "boundary_order", "null_counts"},
    "offset_index": [{"offset", "compressed_page_size",
    "first_row_index"}...]}`` — ``None`` entries where the writer
    emitted no index.  Min/max decode with the column's physical type,
    null pages as ``None``."""
    out = []
    for rg in footer["row_groups"]:
        cols = []
        for c in rg["columns"]:
            entry = {"column_index": None, "offset_index": None}
            ptype = PHYSICAL_TYPES.index(c["type"]) if c["type"] else None
            cio, cil = c.get("column_index_offset"), c.get("column_index_length")
            if cio is not None and cil:
                s = _Reader(data[cio:cio + cil]).struct()
                nulls = s.get(1, [])
                entry["column_index"] = {
                    "null_pages": nulls,
                    "min": [None if (i < len(nulls) and nulls[i])
                            else _decode_stat(raw, ptype)
                            for i, raw in enumerate(s.get(2, []))],
                    "max": [None if (i < len(nulls) and nulls[i])
                            else _decode_stat(raw, ptype)
                            for i, raw in enumerate(s.get(3, []))],
                    "boundary_order": s.get(4, 0),
                    "null_counts": s.get(5),
                }
            oio, oil = c.get("offset_index_offset"), c.get("offset_index_length")
            if oio is not None and oil:
                s = _Reader(data[oio:oio + oil]).struct()
                entry["offset_index"] = [
                    {"offset": p.get(1), "compressed_page_size": p.get(2),
                     "first_row_index": p.get(3)} for p in s.get(1, [])]
            cols.append(entry)
        out.append(cols)
    return out


def prune_pages(column_index: dict, offset_index: list,
                rg_num_rows: int, lo, hi) -> list[dict]:
    """Page-level twin of :func:`prune_row_groups`: which data pages of
    one chunk can contain rows with ``lo <= column <= hi``?  Returns one
    entry per page with its row span and the conservative ``selected``
    verdict (pages with missing stats survive; all-null pages are
    excluded because NULL never satisfies a range predicate)."""
    n_pages = len(offset_index)
    out = []
    for i, loc in enumerate(offset_index):
        first = loc["first_row_index"]
        last = (offset_index[i + 1]["first_row_index"]
                if i + 1 < n_pages else rg_num_rows) - 1
        if column_index is None:
            selected, mn, mx = True, None, None
        else:
            all_null = bool(column_index["null_pages"][i])
            mn, mx = ((None, None) if all_null else
                      (column_index["min"][i], column_index["max"][i]))
            selected = may_match(mn, mx, "between", (lo, hi), all_null)
        out.append({"page": i, "first_row": first, "last_row": last,
                    "min": mn, "max": mx, "selected": selected})
    return out


def prune_row_groups(footer: dict, column: str, lo, hi) -> list[dict]:
    """The planner move the footer exists for: which row groups can
    contain rows with ``lo <= column <= hi``?  A group survives unless
    its stats PROVE exclusion (max < lo or min > hi); groups with
    missing stats, or stats a bound cannot be compared with, always
    survive (pruning must be conservative)."""
    out = []
    for i, rg in enumerate(footer["row_groups"]):
        col = next((c for c in rg["columns"] if c["path"] == column), None)
        if col is None:
            raise ValueError(f"column {column!r} not in row group {i}")
        mn, mx = col["min"], col["max"]
        selected = may_match(mn, mx, "between", (lo, hi))
        out.append({"row_group": i, "min": mn, "max": mx,
                    "num_values": col["num_values"], "selected": selected})
    return out
