"""Pure-python Parquet DATA-PLANE reader — pages, levels, codecs.

`parquet_meta.py` (round 6) parsed the footer; this module completes
the format from scratch: page headers (Thrift Compact), page-body
compression codecs implemented from their public wire specs —
**Snappy** (raw block format) and **LZ4** (raw block format) in pure
python, GZIP via stdlib zlib — the RLE/bit-packed hybrid used for
definition levels and dictionary indexes, PLAIN decoding for every
flat physical type, and dictionary-page materialization.  Together
the two modules read a Spark/pyarrow/DuckDB-written parquet file with
zero parquet libraries, which makes the format's every layer — varint,
level run, snappy tag, dictionary index — inspectable and graded.

Graded q359 writes a snappy-compressed dictionary-encoded multi-row-
group file and reads it back DISTRIBUTED (binaryFile scan -> Arrow
``mapInPandas``, one task per file — the same scale shape as
`sources/avro.py`), while the DuckDB oracle reads the SAME file through
its own independent C++ parquet implementation.

Scope (honest seam): flat schemas plus one-level LISTs (Dremel
repetition-level assembly), data page v1 + v2, PLAIN /
PLAIN_DICTIONARY / RLE_DICTIONARY / DELTA_BINARY_PACKED /
BYTE_STREAM_SPLIT encodings, UNCOMPRESSED / SNAPPY /
GZIP / LZ4_RAW / ZSTD codecs (ZSTD via the from-scratch RFC 8878
decoder in `zstd.py`).  Anything else raises with the exact feature
named — same contract as the codec seams in `functions/multimodal.py`.

Specs: https://github.com/apache/parquet-format (PageHeader,
Encodings.md, Compression.md), https://github.com/google/snappy
(format_description.txt), https://github.com/lz4/lz4 (lz4_Block_format).
Reference parity note: the reference engine (BigQuery-delegating,
`core/transformations.py`) never touches bytes; this is EXT surface
for the 100 TB lake north star.
"""

from __future__ import annotations

import struct
import zlib

from .parquet_meta import _Reader, read_footer_bytes

# parquet-format enums
_PAGE_DATA, _PAGE_INDEX, _PAGE_DICT, _PAGE_DATA_V2 = 0, 1, 2, 3
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE, _ENC_BIT_PACKED = 0, 2, 3, 4
_ENC_RLE_DICT = 8
_ENC_DELTA_BINARY = 5
_ENC_DELTA_LENGTH_BA = 6
_ENC_DELTA_BA = 7
_ENC_BYTE_STREAM_SPLIT = 9
_CODEC_NONE, _CODEC_SNAPPY, _CODEC_GZIP = 0, 1, 2
_CODEC_LZ4_RAW = 7
_CODEC_ZSTD = 6
_CODEC_NAMES = {0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
                4: "BROTLI", 5: "LZ4_HADOOP", 6: "ZSTD", 7: "LZ4_RAW"}


# ---------------------------------------------------------------- codecs

def snappy_decompress(buf: bytes) -> bytes:
    """Raw Snappy block decode (google/snappy format_description.txt).

    Preamble: varint uncompressed length.  Then tagged elements —
    tag & 3 selects: 0 literal (length-1 in the high 6 bits, or
    60..63 -> that many extra little-endian length bytes), 1 copy with
    11-bit offset / 4..11 length, 2 copy with 16-bit offset,
    3 copy with 32-bit offset.  Copies may overlap themselves
    (offset < length replays recent output byte-by-byte).
    """
    pos, n = 0, 0
    shift = 0
    while True:  # uncompressed-length varint
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    out = bytearray()
    while pos < len(buf):
        tag = buf[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                ln = int.from_bytes(buf[pos:pos + extra], "little")
                pos += extra
            ln += 1
            out += buf[pos:pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset tail
            ln = ((tag >> 2) & 0x07) + 4
            off = ((tag >> 5) << 8) | buf[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: copy offset outside window")
        start = len(out) - off
        if off >= ln:
            out += out[start:start + ln]
        else:  # overlapping copy: replay bytes as they materialize
            for i in range(ln):
                out.append(out[start + i])
    if len(out) != n:
        raise ValueError(f"snappy: expected {n} bytes, produced {len(out)}")
    return bytes(out)


def snappy_compress(raw: bytes) -> bytes:
    """Raw Snappy block ENCODE — greedy hash-chain LZ with the standard
    tag grammar (the write-side twin of :func:`snappy_decompress`).
    Emits literals plus 2-byte-offset copies (tag 10); matches are
    found via a 4-byte rolling hash table and capped at 64 bytes per
    copy element as the format requires.  Any conformant decoder
    (including pyarrow's C++ snappy) accepts the output — pinned in
    tests both directions."""
    out = bytearray()
    n = len(raw)
    # preamble: uncompressed length varint
    v = n
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            break

    def emit_literal(start: int, end: int) -> None:
        nonlocal out
        while start < end:
            ln = min(end - start, 1 << 16)
            l1 = ln - 1
            if l1 < 60:
                out.append(l1 << 2)
            elif l1 < 256:
                out.append(60 << 2)
                out.append(l1)
            else:
                out.append(61 << 2)
                out += l1.to_bytes(2, "little")
            out += raw[start:start + ln]
            start += ln

    # key the match table by the raw 4-byte window itself (NOT Python
    # hash(), which is SipHash-salted per process — salted collisions
    # would make the emitted bytes differ across runs, breaking the
    # deterministic-output contract the writers advertise)
    table: dict[int, int] = {}
    i = 0
    lit_start = 0
    while i + 4 <= n:
        key = raw[i:i + 4]
        h = int.from_bytes(key, "little")
        cand = table.get(h)
        table[h] = i
        if (cand is not None and i - cand <= 0xFFFF
                and raw[cand:cand + 4] == key):
            # extend the match
            m = 4
            while i + m < n and m < 1 << 16 and raw[cand + m] == raw[i + m]:
                m += 1
            emit_literal(lit_start, i)
            off = i - cand
            rem = m
            while rem > 0:
                ln = min(rem, 64)
                if ln < 4:  # tail shorter than a legal copy: literal it
                    break
                out.append(((ln - 1) << 2) | 2)
                out += off.to_bytes(2, "little")
                rem -= ln
            i += m - rem
            lit_start = i
        else:
            i += 1
    emit_literal(lit_start, n)
    return bytes(out)


def lz4_block_decompress(buf: bytes, expected: int | None = None) -> bytes:
    """Raw LZ4 block decode (lz4 block-format spec; parquet LZ4_RAW).

    Sequences of: token byte (high nibble literal length, low nibble
    match length - 4; nibble 15 extends with 255-valued continuation
    bytes), literals, 2-byte little-endian match offset, match copy
    (overlap-safe).  The final sequence has no match part.
    """
    out = bytearray()
    _lz4_decode_into(buf, out)
    if expected is not None and len(out) != expected:
        raise ValueError(f"lz4: expected {expected} bytes, got {len(out)}")
    return bytes(out)


def lz4_block_compress(raw: bytes) -> bytes:
    """Raw LZ4 block ENCODE (lz4 block-format spec) — the write-side
    twin of :func:`lz4_block_decompress` and the parquet LZ4_RAW codec's
    compressor: greedy hash-table LZ77 emitting [token | literal-length
    extensions | literals | 2-byte LE offset | match-length extensions]
    sequences.  Spec end-of-block rules honored: the final sequence is
    literals-only, the last 5 bytes are always literals, and no match
    starts within the last 12 bytes.  Deterministic (match table keyed
    by raw window bytes, not salted hash()); conformance-pinned against
    liblz4 in tests."""
    n = len(raw)
    out = bytearray()

    def emit(lit_start: int, lit_end: int, off: int, mlen: int) -> None:
        lit = lit_end - lit_start
        tok_lit = 15 if lit >= 15 else lit
        if mlen:
            m = mlen - 4
            tok_m = 15 if m >= 15 else m
        else:
            tok_m = 0
        out.append((tok_lit << 4) | tok_m)
        if lit >= 15:
            rem = lit - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out.extend(raw[lit_start:lit_end])
        if mlen:
            out.extend(off.to_bytes(2, "little"))
            if mlen - 4 >= 15:
                rem = mlen - 4 - 15
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    if n < 13:  # too short for any legal match
        emit(0, n, 0, 0)
        return bytes(out)

    table: dict[int, int] = {}
    lit_start = 0
    i = 0
    match_limit = n - 12  # no match may start in the last 12 bytes
    while i < match_limit:
        key = int.from_bytes(raw[i:i + 4], "little")
        cand = table.get(key)
        table[key] = i
        if (cand is not None and i - cand <= 0xFFFF
                and raw[cand:cand + 4] == raw[i:i + 4]):
            mlen = 4
            # matches must end >= 5 literals before the block end
            mmax = n - 5 - i
            while mlen < mmax and raw[cand + mlen] == raw[i + mlen]:
                mlen += 1
            emit(lit_start, i, i - cand, mlen)
            i += mlen
            lit_start = i
        else:
            i += 1
    emit(lit_start, n, 0, 0)
    return bytes(out)


def _lz4_decode_into(buf: bytes, out: bytearray) -> None:
    """Decode one raw block APPENDING to ``out`` — matches may reach
    into bytes already present (the LZ4-frame linked-blocks mode, where
    each block's window includes its predecessors)."""
    pos = 0
    end = len(buf)
    while pos < end:
        token = buf[pos]
        pos += 1
        ln = token >> 4
        if ln == 15:
            while True:
                b = buf[pos]
                pos += 1
                ln += b
                if b != 255:
                    break
        out += buf[pos:pos + ln]
        pos += ln
        if pos >= end:  # last sequence: literals only
            break
        off = int.from_bytes(buf[pos:pos + 2], "little")
        pos += 2
        if off == 0 or off > len(out):
            raise ValueError("lz4: match offset outside window")
        mlen = token & 0x0F
        if mlen == 15:
            while True:
                b = buf[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        start = len(out) - off
        if off >= mlen:
            out += out[start:start + mlen]
        else:
            for i in range(mlen):
                out.append(out[start + i])


def _decompress(body: bytes, codec: int, uncompressed_size: int) -> bytes:
    if codec == _CODEC_NONE:
        return body
    if codec == _CODEC_SNAPPY:
        return snappy_decompress(body)
    if codec == _CODEC_GZIP:
        return zlib.decompress(body, 16 + zlib.MAX_WBITS)
    if codec == _CODEC_LZ4_RAW:
        return lz4_block_decompress(body, uncompressed_size)
    if codec == _CODEC_ZSTD:
        from .zstd import zstd_decompress
        return zstd_decompress(body, uncompressed_size)
    raise NotImplementedError(
        f"parquet codec {_CODEC_NAMES.get(codec, codec)} not supported by "
        "the from-scratch reader (UNCOMPRESSED/SNAPPY/GZIP/LZ4_RAW/ZSTD are)")


# ----------------------------------------------------- level/index decode

def rle_bp_hybrid(buf: bytes, pos: int, end: int, bit_width: int,
                  count: int) -> list[int]:
    """Parquet's RLE/bit-packed hybrid (Encodings.md): varint header —
    LSB 1 means (header >> 1) groups of 8 bit-packed values (LSB-first
    within each byte), LSB 0 means an RLE run of (header >> 1) copies
    of one fixed-width little-endian value."""
    out: list[int] = []
    mask = (1 << bit_width) - 1
    vbytes = (bit_width + 7) // 8
    while len(out) < count and pos < end:
        header = 0
        shift = 0
        while True:
            b = buf[pos]
            pos += 1
            header |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if header & 1:  # bit-packed: (header>>1) groups of 8
            ngroups = header >> 1
            nbytes = ngroups * bit_width
            acc = int.from_bytes(buf[pos:pos + nbytes], "little")
            pos += nbytes
            for i in range(ngroups * 8):
                out.append((acc >> (i * bit_width)) & mask)
        else:  # RLE run
            run = header >> 1
            val = int.from_bytes(buf[pos:pos + vbytes], "little") if vbytes else 0
            pos += vbytes
            out.extend([val] * run)
    del out[count:]  # bit-packed groups pad to multiples of 8
    if len(out) != count:
        raise ValueError(f"hybrid decode: wanted {count} values, got {len(out)}")
    return out


def _decode_plain(buf: bytes, pos: int, ptype: str, count: int,
                  type_length: int | None = None) -> tuple[list, int]:
    """PLAIN encoding for every flat physical type; returns (values,
    next position)."""
    if ptype == "INT32":
        vals = list(struct.unpack_from(f"<{count}i", buf, pos))
        return vals, pos + 4 * count
    if ptype == "INT64":
        vals = list(struct.unpack_from(f"<{count}q", buf, pos))
        return vals, pos + 8 * count
    if ptype == "FLOAT":
        vals = list(struct.unpack_from(f"<{count}f", buf, pos))
        return vals, pos + 4 * count
    if ptype == "DOUBLE":
        vals = list(struct.unpack_from(f"<{count}d", buf, pos))
        return vals, pos + 8 * count
    if ptype == "BOOLEAN":  # bit-packed, LSB-first
        vals = [bool((buf[pos + (i >> 3)] >> (i & 7)) & 1) for i in range(count)]
        return vals, pos + (count + 7) // 8
    if ptype == "BYTE_ARRAY":  # 4-byte LE length prefix per value
        vals = []
        for _ in range(count):
            n = int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
            vals.append(bytes(buf[pos:pos + n]))
            pos += n
        return vals, pos
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        if not type_length:
            raise ValueError("FIXED_LEN_BYTE_ARRAY without type_length")
        vals = [bytes(buf[pos + i * type_length:pos + (i + 1) * type_length])
                for i in range(count)]
        return vals, pos + count * type_length
    if ptype == "INT96":  # deprecated timestamps: surface raw 12 bytes
        vals = [bytes(buf[pos + i * 12:pos + (i + 1) * 12]) for i in range(count)]
        return vals, pos + 12 * count
    raise NotImplementedError(f"PLAIN decode for physical type {ptype}")


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def decode_delta_binary_packed(buf: bytes, pos: int,
                               count: int) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED (Encodings.md): header (block size, miniblocks
    per block, total count, zigzag first value), then per block a zigzag
    min-delta + per-miniblock bit widths + LSB-packed deltas."""
    block_size, pos = _uvarint(buf, pos)
    n_mini, pos = _uvarint(buf, pos)
    total, pos = _uvarint(buf, pos)
    zz, pos = _uvarint(buf, pos)
    first = (zz >> 1) ^ -(zz & 1)
    values = [first]
    per_mini = block_size // n_mini
    while len(values) < total:
        zz, pos = _uvarint(buf, pos)
        min_delta = (zz >> 1) ^ -(zz & 1)
        widths = buf[pos:pos + n_mini]
        pos += n_mini
        for m in range(n_mini):
            bw = widths[m]
            nbytes = per_mini * bw // 8
            if len(values) >= total:
                # trailing miniblocks: their bytes are still present
                pos += nbytes
                continue
            acc = int.from_bytes(buf[pos:pos + nbytes], "little")
            pos += nbytes
            mask = (1 << bw) - 1
            for i in range(per_mini):
                if len(values) >= total:
                    break
                d = (acc >> (i * bw)) & mask if bw else 0
                values.append(values[-1] + min_delta + d)
    return values[:count], pos


def decode_delta_length_byte_array(buf: bytes, pos: int,
                                   count: int) -> tuple[list[bytes], int]:
    """DELTA_LENGTH_BYTE_ARRAY (Encodings.md): one DELTA_BINARY_PACKED
    run of value lengths, then every value's bytes concatenated — the
    layout parquet-java/pyarrow v2 writers emit for strings when the
    dictionary falls back."""
    lengths, pos = decode_delta_binary_packed(buf, pos, count)
    vals = []
    for n in lengths:
        vals.append(bytes(buf[pos:pos + n]))
        pos += n
    return vals, pos


def decode_delta_byte_array(buf: bytes, pos: int,
                            count: int) -> tuple[list[bytes], int]:
    """DELTA_BYTE_ARRAY (incremental / front-coded): a
    DELTA_BINARY_PACKED run of shared-prefix lengths, then the suffixes
    as DELTA_LENGTH_BYTE_ARRAY; value i = value[i-1][:prefix[i]] +
    suffix[i]."""
    prefixes, pos = decode_delta_binary_packed(buf, pos, count)
    suffixes, pos = decode_delta_length_byte_array(buf, pos, count)
    vals: list[bytes] = []
    prev = b""
    for pl, suf in zip(prefixes, suffixes):
        prev = prev[:pl] + suf
        vals.append(prev)
    return vals, pos


def decode_byte_stream_split(buf: bytes, pos: int, count: int,
                             width: int) -> list[bytes]:
    """BYTE_STREAM_SPLIT: the page body holds byte-plane i of every
    value contiguously; reassemble per-value byte strings."""
    planes = [buf[pos + i * count: pos + (i + 1) * count]
              for i in range(width)]
    return [bytes(planes[i][j] for i in range(width)) for j in range(count)]


# ----------------------------------------------------------- page reader

_PAGE_HEADER_KEEP = (1, 2, 3, 5, 7, 8)


def _read_page_header(buf: bytes, pos: int) -> tuple[dict, int]:
    r = _Reader(buf, pos)
    h = r.struct(keep=_PAGE_HEADER_KEEP)
    return h, r.pos


def leaf_columns(schema: list[dict]) -> dict[str, dict]:
    """Rebuild the flattened SchemaElement list (depth-first, root
    excluded) into per-LEAF decode facts: dotted path, max definition /
    repetition levels (optional +1, repeated +1 each to def; repeated
    +1 to rep), the top-level column name, and — for the standard
    3-level LIST shape — whether the outer group and the element are
    optional."""
    leaves: dict[str, dict] = {}
    it = iter(schema)

    def walk(parts: list[str], reps: list[int]):
        el = next(it)
        parts = parts + [el["name"]]
        reps = reps + [el.get("repetition", 0)]
        if el.get("num_children"):
            for _ in range(el["num_children"]):
                walk(parts, reps)
            return
        max_def = sum(1 for r in reps if r in (1, 2))
        max_rep = sum(1 for r in reps if r == 2)
        leaves[".".join(parts)] = {
            "type": el["type"],
            "type_length": el.get("type_length"),
            "column": parts[0],
            "max_def": max_def,
            "max_rep": max_rep,
            "reps": reps,
            # DECIMAL logical type (converted_type 5): decoded values
            # convert from unscaled representation after the page layer
            "decimal": ((el.get("precision"), el.get("scale", 0))
                        if el.get("converted_type") == 5 else None),
        }

    while True:
        try:
            walk([], [])
        except StopIteration:
            break
    return leaves


def read_column_chunk(buf: bytes, chunk: dict, leaf: dict):
    """Decode one column chunk (all its pages) from the file bytes.

    ``chunk`` is a column entry from :func:`parquet_meta.read_footer`;
    ``leaf`` the matching :func:`leaf_columns` entry.  For flat columns
    (max_rep 0) returns python values with ``None`` for nulls, in row
    order; for repeated leaves returns ``(defs, reps, values)`` with
    values holding one entry per (rep, def) slot (None where the slot
    carries no value) for the caller to assemble."""
    ptype = chunk["type"]
    codec = chunk["codec"]
    max_def = leaf["max_def"]
    max_rep = leaf["max_rep"]
    bw_def = max_def.bit_length()
    bw_rep = max_rep.bit_length()
    tlen = leaf.get("type_length")

    pos = chunk["data_page_offset"]
    if chunk.get("dictionary_page_offset") is not None:
        pos = min(pos, chunk["dictionary_page_offset"])

    dictionary: list | None = None
    out: list = []
    all_defs: list[int] = []
    all_reps: list[int] = []
    remaining = chunk["num_values"]
    while remaining > 0:
        header, pos = _read_page_header(buf, pos)
        page_type = header.get(1)
        comp_size = header.get(3)
        unc_size = header.get(2)
        body = buf[pos:pos + comp_size]
        pos += comp_size

        if page_type == _PAGE_DICT:
            dph = header.get(7, {})
            if dph.get(2, _ENC_PLAIN) not in (_ENC_PLAIN, _ENC_PLAIN_DICT):
                raise NotImplementedError("non-PLAIN dictionary page")
            raw = _decompress(body, codec, unc_size)
            dictionary, _ = _decode_plain(raw, 0, ptype, dph.get(1, 0), tlen)
            continue
        if page_type == _PAGE_INDEX:
            continue

        if page_type == _PAGE_DATA:
            dh = header.get(5, {})
            nvals = dh[1]
            enc = dh.get(2, _ENC_PLAIN)
            raw = _decompress(body, codec, unc_size)
            p = 0
            if max_rep:
                if dh.get(4, _ENC_RLE) != _ENC_RLE:
                    raise NotImplementedError("non-RLE repetition levels")
                rl_len = int.from_bytes(raw[p:p + 4], "little")
                p += 4
                reps = rle_bp_hybrid(raw, p, p + rl_len, bw_rep, nvals)
                p += rl_len
            else:
                reps = None
            if max_def:
                if dh.get(3, _ENC_RLE) != _ENC_RLE:
                    raise NotImplementedError("non-RLE definition levels")
                lvl_len = int.from_bytes(raw[p:p + 4], "little")
                p += 4
                defs = rle_bp_hybrid(raw, p, p + lvl_len, bw_def, nvals)
                p += lvl_len
            else:
                defs = [max_def] * nvals
        elif page_type == _PAGE_DATA_V2:
            dh = header.get(8, {})
            nvals = dh[1]
            enc = dh.get(4, _ENC_PLAIN)
            dl_len = dh.get(5, 0)
            rl_len = dh.get(6, 0)
            rep_buf = body[:rl_len]
            levels = body[rl_len:rl_len + dl_len]
            payload = body[rl_len + dl_len:]
            if dh.get(7, True):
                payload = _decompress(payload, codec, unc_size - dl_len - rl_len)
            # v2 levels: hybrid runs with NO 4-byte length prefix
            reps = (rle_bp_hybrid(rep_buf, 0, rl_len, bw_rep, nvals)
                    if max_rep else None)
            defs = (rle_bp_hybrid(levels, 0, dl_len, bw_def, nvals)
                    if max_def else [max_def] * nvals)
            raw, p = payload, 0
        else:
            raise NotImplementedError(f"page type {page_type}")

        n_nonnull = sum(1 for d in defs if d == max_def) if max_def else nvals
        if enc == _ENC_PLAIN:
            vals, _ = _decode_plain(raw, p, ptype, n_nonnull, tlen)
        elif enc == _ENC_DELTA_BINARY and ptype in ("INT32", "INT64"):
            vals, _ = decode_delta_binary_packed(raw, p, n_nonnull)
        elif enc == _ENC_DELTA_LENGTH_BA and ptype == "BYTE_ARRAY":
            vals, _ = decode_delta_length_byte_array(raw, p, n_nonnull)
        elif enc == _ENC_DELTA_BA and ptype in (
                "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
            vals, _ = decode_delta_byte_array(raw, p, n_nonnull)
        elif enc == _ENC_BYTE_STREAM_SPLIT and ptype in (
                "FLOAT", "DOUBLE", "INT32", "INT64"):
            width = {"FLOAT": 4, "INT32": 4, "DOUBLE": 8, "INT64": 8}[ptype]
            packed = decode_byte_stream_split(raw, p, n_nonnull, width)
            fmt = {"FLOAT": "<f", "DOUBLE": "<d",
                   "INT32": "<i", "INT64": "<q"}[ptype]
            vals = [struct.unpack(fmt, b)[0] for b in packed]
        elif enc == _ENC_RLE and ptype == "BOOLEAN":
            # RLE-encoded booleans: 4-byte length prefix + hybrid runs, bw=1
            rl = int.from_bytes(raw[p:p + 4], "little")
            vals = [bool(v) for v in
                    rle_bp_hybrid(raw, p + 4, p + 4 + rl, 1, n_nonnull)]
        elif enc in (_ENC_PLAIN_DICT, _ENC_RLE_DICT):
            if dictionary is None:
                raise ValueError("dictionary-encoded page before dictionary")
            bw = raw[p]
            idx = rle_bp_hybrid(raw, p + 1, len(raw), bw, n_nonnull)
            vals = [dictionary[i] for i in idx]
        else:
            raise NotImplementedError(
                f"value encoding {enc} (PLAIN and dictionary are supported)")

        if max_def:
            it = iter(vals)
            out.extend(next(it) if d == max_def else None for d in defs)
        else:
            out.extend(vals)
        if max_rep:
            all_defs.extend(defs)
            all_reps.extend(reps)
        remaining -= nvals
    if max_rep:
        return all_defs, all_reps, out
    return out


def assemble_lists(defs: list[int], reps: list[int], vals: list,
                   leaf: dict) -> list:
    """Record assembly for the standard 3-level LIST shape
    (``<outer> group / repeated group / element``, Dremel encoding):
    rep 0 starts a new row; definition levels distinguish null list /
    empty list / null element / value."""
    reps_sig = leaf["reps"]
    if len(reps_sig) != 3 or reps_sig[1] != 2 or leaf["max_rep"] != 1:
        raise NotImplementedError(
            f"nested shape {reps_sig} (only one-level LIST is supported)")
    o_opt = 1 if reps_sig[0] == 1 else 0
    max_def = leaf["max_def"]
    rows: list = []
    for d, r, v in zip(defs, reps, vals):
        if r == 0:  # new record
            if d < o_opt:
                rows.append(None)       # null list
                continue
            rows.append([])
            if d == o_opt:
                continue                # empty list
        cur = rows[-1]
        cur.append(v if d == max_def else None)
    return rows


def _decode_flat_data_page(header: dict, body: bytes, codec: int,
                           ptype: str, tlen, bw_def: int, max_def: int,
                           dictionary) -> list:
    """Decode ONE v1/v2 data page of a FLAT column into row-ordered
    python values (``None`` for nulls) — the per-page core of
    :func:`read_column_chunk`, callable page-at-a-time so an
    OffsetIndex-driven reader can jump straight to selected pages."""
    page_type = header.get(1)
    unc_size = header.get(2)
    if page_type == _PAGE_DATA:
        dh = header.get(5, {})
        nvals = dh[1]
        enc = dh.get(2, _ENC_PLAIN)
        raw = _decompress(body, codec, unc_size)
        p = 0
        if max_def:
            if dh.get(3, _ENC_RLE) != _ENC_RLE:
                raise NotImplementedError("non-RLE definition levels")
            lvl_len = int.from_bytes(raw[p:p + 4], "little")
            p += 4
            defs = rle_bp_hybrid(raw, p, p + lvl_len, bw_def, nvals)
            p += lvl_len
        else:
            defs = [0] * nvals
    elif page_type == _PAGE_DATA_V2:
        dh = header.get(8, {})
        nvals = dh[1]
        enc = dh.get(4, _ENC_PLAIN)
        dl_len = dh.get(5, 0)
        levels = body[:dl_len]
        payload = body[dl_len:]
        if dh.get(7, True):
            payload = _decompress(payload, codec, unc_size - dl_len)
        defs = (rle_bp_hybrid(levels, 0, dl_len, bw_def, nvals)
                if max_def else [0] * nvals)
        raw, p = payload, 0
    else:
        raise NotImplementedError(f"page type {page_type} at data offset")

    n_nonnull = sum(1 for d in defs if d == max_def) if max_def else nvals
    if enc == _ENC_PLAIN:
        vals, _ = _decode_plain(raw, p, ptype, n_nonnull, tlen)
    elif enc == _ENC_DELTA_BINARY and ptype in ("INT32", "INT64"):
        vals, _ = decode_delta_binary_packed(raw, p, n_nonnull)
    elif enc == _ENC_DELTA_LENGTH_BA and ptype == "BYTE_ARRAY":
        vals, _ = decode_delta_length_byte_array(raw, p, n_nonnull)
    elif enc == _ENC_DELTA_BA and ptype in (
            "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        vals, _ = decode_delta_byte_array(raw, p, n_nonnull)
    elif enc == _ENC_BYTE_STREAM_SPLIT and ptype in (
            "FLOAT", "DOUBLE", "INT32", "INT64"):
        width = {"FLOAT": 4, "INT32": 4, "DOUBLE": 8, "INT64": 8}[ptype]
        packed = decode_byte_stream_split(raw, p, n_nonnull, width)
        fmt = {"FLOAT": "<f", "DOUBLE": "<d",
               "INT32": "<i", "INT64": "<q"}[ptype]
        vals = [struct.unpack(fmt, b)[0] for b in packed]
    elif enc == _ENC_RLE and ptype == "BOOLEAN":
        rl = int.from_bytes(raw[p:p + 4], "little")
        vals = [bool(v) for v in
                rle_bp_hybrid(raw, p + 4, p + 4 + rl, 1, n_nonnull)]
    elif enc in (_ENC_PLAIN_DICT, _ENC_RLE_DICT):
        if dictionary is None:
            raise ValueError("dictionary-encoded page before dictionary")
        bw = raw[p]
        idx = rle_bp_hybrid(raw, p + 1, len(raw), bw, n_nonnull)
        vals = [dictionary[i] for i in idx]
    else:
        raise NotImplementedError(f"value encoding {enc}")

    if max_def:
        it = iter(vals)
        return [next(it) if d == max_def else None for d in defs]
    return list(vals)


def read_column_chunk_pages(buf: bytes, chunk: dict, leaf: dict,
                            offset_index: list,
                            selected: "list[int]") -> dict[int, list]:
    """OffsetIndex-driven SELECTIVE chunk read (flat columns): decode
    only the pages whose indexes appear in ``selected``, jumping
    straight to each PageLocation — unselected pages are never
    decompressed or even header-parsed.  Returns ``{first_row_index:
    [values...]}`` per decoded page."""
    if leaf["max_rep"]:
        raise NotImplementedError(
            "page-selective reads are flat-column only")
    ptype, codec = chunk["type"], chunk["codec"]
    max_def = leaf["max_def"]
    bw_def = max_def.bit_length()
    tlen = leaf.get("type_length")

    dictionary = None
    if chunk.get("dictionary_page_offset") is not None:
        pos = chunk["dictionary_page_offset"]
        header, pos = _read_page_header(buf, pos)
        if header.get(1) != _PAGE_DICT:
            raise ValueError("dictionary_page_offset is not a dict page")
        body = buf[pos:pos + header.get(3)]
        raw = _decompress(body, codec, header.get(2))
        dictionary, _ = _decode_plain(
            raw, 0, ptype, header.get(7, {}).get(1, 0), tlen)

    out: dict[int, list] = {}
    for i in selected:
        loc = offset_index[i]
        header, pos = _read_page_header(buf, loc["offset"])
        body = buf[pos:loc["offset"] + loc["compressed_page_size"]]
        out[loc["first_row_index"]] = _decode_flat_data_page(
            header, body, codec, ptype, tlen, bw_def, max_def, dictionary)
    return out


def read_parquet_bytes_page_filtered(
        buf: bytes, column: str, lo, hi) -> tuple[
            list[str], dict[str, list], dict]:
    """PageIndex-driven filtered read: prune ``column``'s data pages
    with the ColumnIndex, map survivors to row ranges with the
    OffsetIndex, decode ONLY pages of every column intersecting those
    ranges, then apply the exact ``lo <= column <= hi`` residual.
    Returns ``(names, columns, accounting)`` where accounting counts
    pages decoded vs present — the proof the index actually pruned."""
    from .parquet_meta import prune_pages, read_page_index_bytes

    footer = read_footer_bytes(buf)
    names = [s["name"] for s in footer["schema"]
             if not s.get("num_children")]
    leaves = leaf_columns(footer["schema"])
    index = read_page_index_bytes(buf, footer)
    out: dict[str, list] = {n: [] for n in names}
    pages_total = pages_read = 0
    for rg, rg_index in zip(footer["row_groups"], index):
        cols = {c["path"]: (c, e) for c, e in zip(rg["columns"], rg_index)}
        if column not in cols:
            raise ValueError(f"column {column!r} not in file")
        pchunk, pentry = cols[column]
        if pentry["offset_index"] is None:
            raise ValueError(f"no PageIndex for column {column!r}")
        verdicts = prune_pages(pentry["column_index"],
                               pentry["offset_index"],
                               rg["num_rows"], lo, hi)
        pages_total += sum(len(e["offset_index"] or [1])
                           for _, e in cols.values())
        spans = [(v["first_row"], v["last_row"])
                 for v in verdicts if v["selected"]]
        if not spans:
            continue
        # decode survivors per column: a page survives when its row span
        # intersects any selected span of the predicate column
        rows_vals: dict[str, dict[int, list]] = {}
        for name in names:
            chunk, entry = cols[name]
            oi = entry["offset_index"]
            sel = []
            for i, p in enumerate(oi):
                first = p["first_row_index"]
                last = (oi[i + 1]["first_row_index"]
                        if i + 1 < len(oi) else rg["num_rows"]) - 1
                if any(not (b < first or a > last) for a, b in spans):
                    sel.append(i)
            pages_read += len(sel)
            rows_vals[name] = read_column_chunk_pages(
                buf, chunk, leaves[name], oi, sel)
        # align by absolute row index and apply the residual predicate
        import bisect

        col_starts = {n: sorted(rows_vals[n]) for n in names}
        for first, vals in sorted(rows_vals[column].items()):
            for off, v in enumerate(vals):
                if v is None or not lo <= v <= hi:  # NaN fails too
                    continue
                row = first + off
                for name in names:
                    starts = col_starts[name]
                    base = starts[bisect.bisect_right(starts, row) - 1]
                    out[name].append(rows_vals[name][base][row - base])
    return names, out, {"pages_total": pages_total,
                        "pages_read": pages_read}


def read_parquet(path: str) -> tuple[list[str], dict[str, list]]:
    """Read a whole flat parquet file with zero parquet libraries.

    Returns ``(column_names, {name: values})`` — python values, None
    for nulls."""
    with open(path, "rb") as f:
        return read_parquet_bytes(f.read())


def _convert_decimal(vals: list, leaf: dict) -> list:
    """Unscaled parquet DECIMAL values -> python Decimal: FLBA/BYTE_ARRAY
    carry big-endian two's complement unscaled ints, INT32/INT64 the
    unscaled int directly (Parquet LogicalTypes.md)."""
    import decimal

    _prec, scale = leaf["decimal"]
    q = decimal.Decimal(10) ** -scale
    ptype = leaf["type"]
    out = []
    for v in vals:
        if v is None:
            out.append(None)
        elif ptype in ("FIXED_LEN_BYTE_ARRAY", "BYTE_ARRAY"):
            out.append((decimal.Decimal(
                int.from_bytes(v, "big", signed=True)) * q).quantize(q))
        else:  # INT32 / INT64 unscaled
            out.append((decimal.Decimal(int(v)) * q).quantize(q))
    return out


def read_parquet_bytes(buf: bytes) -> tuple[list[str], dict[str, list]]:
    """:func:`read_parquet` over an in-memory file image."""
    footer = read_footer_bytes(buf)
    leaves = leaf_columns(footer["schema"])
    names: list[str] = []
    for leaf in leaves.values():
        if leaf["column"] not in names:
            names.append(leaf["column"])
    if len(leaves) != len(names):
        raise NotImplementedError(
            "struct columns (several leaves under one column)")
    cols: dict[str, list] = {n: [] for n in names}
    for rg in footer["row_groups"]:
        for chunk in rg["columns"]:
            path = chunk["path"]
            if path not in leaves:
                raise NotImplementedError(f"unknown column path {path!r}")
            leaf = leaves[path]
            decoded = read_column_chunk(buf, chunk, leaf)
            if leaf["max_rep"]:
                decoded = assemble_lists(*decoded, leaf)
            elif leaf["max_def"] > 1:
                raise NotImplementedError("nested struct leaves")
            if leaf.get("decimal"):
                decoded = _convert_decimal(decoded, leaf)
            cols[leaf["column"]].extend(decoded)
    n_rows = footer["num_rows"]
    for n, v in cols.items():
        if len(v) != n_rows:
            raise ValueError(f"column {n}: {len(v)} values for {n_rows} rows")
    return names, cols


def read_parquet_distributed(spark, path_glob: str, spark_schema: str,
                             columns: list[str] | None = None):
    """Distributed from-scratch parquet ingestion: ``binaryFile`` scan
    (one task per file — at 100 TB parallelism is per-file, exactly the
    `sources/avro.py` shape) -> Arrow-batched ``mapInPandas`` decode.
    ``spark_schema`` is the output DDL; BYTE_ARRAY columns whose target
    type is string are utf-8 decoded."""
    import pandas as pd

    want = columns

    def decode(batches):
        for pdf in batches:
            for blob in pdf["content"]:
                names, cols = read_parquet_bytes(bytes(blob))
                keep = want or names
                data = {}
                for n in keep:
                    vals = cols[n]
                    data[n] = [v.decode("utf-8") if isinstance(v, bytes) else v
                               for v in vals]
                yield pd.DataFrame(data)

    blobs = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("content")
    )
    return blobs.mapInPandas(decode, spark_schema)


def lz4_frame_compress(raw: bytes, block_max: int = 4 << 20) -> bytes:
    """LZ4 FRAME encode — the write-side twin of
    :func:`lz4_frame_decompress` (round-8 encoder symmetry: LZ4 joins
    deflate/snappy/zstd as bidirectional).  Independent blocks, content
    size + content checksum flags set, per-block stored fallback when
    compression doesn't pay, xxh32 header/content checksums via the
    from-scratch `functions/xxhash.py`."""
    from ..functions.xxhash import xxh32

    if block_max not in (1 << 16, 1 << 18, 1 << 20, 4 << 20):
        raise ValueError("block_max must be 64KiB/256KiB/1MiB/4MiB")
    bd_code = {1 << 16: 4, 1 << 18: 5, 1 << 20: 6, 4 << 20: 7}[block_max]
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    flg = (1 << 6) | (1 << 5) | (1 << 3) | (1 << 2)  # v1, indep, csize, cchk
    desc = bytes([flg, bd_code << 4]) + len(raw).to_bytes(8, "little")
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for i in range(0, len(raw), block_max):
        chunk = raw[i:i + block_max]
        comp = lz4_block_compress(chunk)
        if len(comp) < len(chunk):
            out += len(comp).to_bytes(4, "little") + comp
        else:  # stored block: high bit set
            out += (len(chunk) | 0x80000000).to_bytes(4, "little") + chunk
    out += (0).to_bytes(4, "little")  # EndMark
    out += xxh32(raw).to_bytes(4, "little")
    return bytes(out)


def lz4_frame_decompress(buf: bytes, expected: int | None = None) -> bytes:
    """LZ4 FRAME decode (lz4_Frame_format.md) — the container around the
    raw blocks :func:`lz4_block_decompress` handles: magic 0x184D2204,
    FLG/BD descriptor (version, block-independence, block/content
    checksums, content size) with its xxh32-verified header checksum,
    data blocks whose high size bit marks stored-uncompressed payloads,
    optional per-block xxh32, and the optional content xxh32 — all
    verified via the from-scratch `functions/xxhash.py`."""
    from ..functions.xxhash import xxh32

    if int.from_bytes(buf[0:4], "little") != 0x184D2204:
        raise ValueError("lz4 frame: bad magic")
    flg = buf[4]
    version = flg >> 6
    if version != 1:
        raise ValueError(f"lz4 frame: unsupported version {version}")
    b_indep = (flg >> 5) & 1
    b_checksum = (flg >> 4) & 1
    c_size_flag = (flg >> 3) & 1
    c_checksum = (flg >> 2) & 1
    dict_id = flg & 1
    pos = 6  # FLG + BD
    content_size = None
    if c_size_flag:
        content_size = int.from_bytes(buf[pos:pos + 8], "little")
        pos += 8
    if dict_id:
        pos += 4
    hc = buf[pos]
    pos += 1
    # header checksum: (xxh32(descriptor) >> 8) & 0xFF
    if ((xxh32(buf[4:pos - 1]) >> 8) & 0xFF) != hc:
        raise ValueError("lz4 frame: header checksum mismatch")
    out = bytearray()
    while True:
        bsize = int.from_bytes(buf[pos:pos + 4], "little")
        pos += 4
        if bsize == 0:  # EndMark
            break
        stored = bsize >> 31
        bsize &= 0x7FFFFFFF
        block = buf[pos:pos + bsize]
        pos += bsize
        if b_checksum:
            bc = int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
            if xxh32(block) != bc:
                raise ValueError("lz4 frame: block checksum mismatch")
        if stored:
            out += block
        elif b_indep:
            out += lz4_block_decompress(block)
        else:  # linked blocks share the frame window
            _lz4_decode_into(block, out)
    if c_checksum:
        cc = int.from_bytes(buf[pos:pos + 4], "little")
        pos += 4
        if xxh32(bytes(out)) != cc:
            raise ValueError("lz4 frame: content checksum mismatch")
    if content_size is not None and len(out) != content_size:
        raise ValueError("lz4 frame: content size mismatch")
    if expected is not None and len(out) != expected:
        raise ValueError(f"lz4 frame: expected {expected}, got {len(out)}")
    return bytes(out)
