"""Deduplication operators (EXT): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of each variant):

* **exact**: two forms.  ``exact_dedup`` windows over the content columns
  (exact under hash collisions; shuffles full rows — right when rows are
  narrow).  ``exact_dedup_by_hash`` shuffles only (xxhash64, key) pairs
  and semi-joins keepers back — the 100 TB path for fat text rows.
* **MinHash + LSH**: signatures are computed scan-side with built-in
  ``xxhash64``/``transform``/``array_min`` (no UDFs); candidate generation
  shuffles only (band_hash, id), never O(n²).  Verification re-joins
  shingle sets for the candidate pairs only.
* **SimHash**: per-token hashes folded into a small bit signature
  scan-side; near-dups = signatures equal (or banded by prefix).
* **n-gram Jaccard**: exact similarity for *candidate* pairs — candidates
  come from shared shingles (inverted-index join), so cost tracks true
  overlap, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import shingles_from_tokens, tokens


def _parse_byte_conf(raw: str) -> int:
    """Parse a Spark byte-size conf value ("134217728", "128m", "4MB")."""
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate a file scan's partition count from file sizes, driver-side.

    Mirrors Spark's ``FilePartition`` packing: splits are capped at
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + nFiles*openCost) / defaultParallelism))`` and small files
    are padded with the open cost.  Returns ``None`` when the frame isn't a
    plain local-file scan (no input files, or non-local URIs) — the caller
    then falls back to materializing the RDD lineage for an exact count.
    This keeps the common path (raw parquet scan feeding per-row hashing)
    free of the DataFrame→RDD conversion, which plans the whole query.
    """
    import os as _os

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimator is best-effort by contract
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            while path.startswith("//"):
                path = path[1:]
        elif "://" in uri:
            return None  # remote store: sizes unknowable driver-side
        else:
            path = uri
        try:
            sizes.append(_os.path.getsize(path))
        except OSError:
            return None
    spark = df.sparkSession
    max_part = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    open_cost = _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    parallelism = spark.sparkContext.defaultParallelism
    padded_total = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_part, max(open_cost, padded_total // max(parallelism, 1)))
    # Each file yields ceil(size/maxSplit) splits; splits then bin-pack, so
    # the partition count is bounded below by ceil(paddedTotal/maxSplit)
    # and above by the per-file split sum — use the lower bound (being low
    # only risks a repartition that the guard wanted anyway).
    return max(1, -(-padded_total // max(max_split, 1)))


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff the frame's logical plan is just relation + narrow nodes
    (projections / filters / aliases) — the only shapes where the FILE sizes
    predict the frame's partitioning.  Downstream of a shuffle (aggregate,
    join, repartition, window...) ``df.inputFiles()`` still reports the
    underlying scan, so the size estimate would be wrong there; this guard
    routes those frames to the exact RDD-partition count instead."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001 — estimator gating is best-effort
        return False
    allowed = ("Project", "Filter", "Relation", "LogicalRelation",
               "SubqueryAlias", "View", "GlobalLimit", "LocalLimit")
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        if node and not node.startswith(allowed):
            return False
    return True


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the scan produced fewer partitions than cores.

    Small parquet files arrive as one input split, serializing expensive
    per-row work (tokenization, hashing) onto a single core.  At warehouse
    scale inputs have >> cores partitions and this is a no-op — when the
    frame is a bare scan (relation + projections/filters) the check
    estimates the partition count from file sizes without touching
    ``df.rdd`` (which re-plans the query to build an RDD DAG), so no
    shuffle and no extra planning cost is ever added to a big scan.  For
    frames downstream of a shuffle the file estimate no longer describes
    the frame's actual partitioning, so the exact RDD count is used.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    current = _estimated_scan_partitions(df) if _is_bare_scan(df) else None
    if current is None:
        current = df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    return df


def md5_long(col) -> F.Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.

    Identical in Spark (``conv(substring(md5(x),1,15),16,10)``), DuckDB
    (``CAST('0x'||substring(md5(x),1,15) AS BIGINT)``), and Python
    (``int(hashlib.md5(x).hexdigest()[:15],16)``) — the hash the sketch
    operators use in their cross-engine-checkable ``hasher="md5"`` mode.
    ``xxhash64`` stays the production default (one JVM intrinsic vs a full
    md5 round + hex decode per value)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: list[str], key_col: str) -> DataFrame:
    """Keep one row (smallest ``key_col``) per distinct content.

    Equivalent to ``SELECT ... QUALIFY row_number() OVER (PARTITION BY
    content ORDER BY key) = 1``; the shuffle key is the content columns'
    hash, computed by Spark's HashPartitioner on the partition expressions.
    """
    w = Window.partitionBy(*[F.col(c) for c in content_cols]).orderBy(F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup_by_hash(
    df: DataFrame, content_cols: list[str], key_col: str, hasher: str = "xxhash64"
) -> DataFrame:
    """Scale-path exact dedup: shuffle narrow (hash, key) pairs, not rows.

    ``exact_dedup`` windows over the content columns, so the shuffle carries
    every full row sorted by content — at 100 TB of documents that shuffles
    the corpus text.  This variant:

      1. projects (key, xxhash64(content)) — 16 bytes/row on the wire;
      2. groups by hash keeping min(key)  — one narrow shuffle;
      3. left-semi joins the keeper keys back — AQE broadcasts the keeper
         set when duplication is heavy (keepers << rows).

    Trade-off: a 64-bit hash collision between two *different* contents
    would drop a non-duplicate (probability ~n²/2⁶⁵; for exact-exact
    semantics add a same-hash content verification pass or use
    ``exact_dedup``).  ``hasher="md5"`` swaps in the portable
    :func:`md5_long` over the '|'-joined columns (external engines can
    replay the keeper choice exactly).
    """
    if hasher == "md5":
        h = md5_long(F.concat_ws("|", *[F.col(c) for c in content_cols]))
    else:
        h = F.xxhash64(*[F.col(c) for c in content_cols])
    keepers = (
        df.select(F.col(key_col), h.alias("__h"))
        .groupBy("__h")
        .agg(F.min(key_col).alias(key_col))
        .select(key_col)
    )
    return df.join(keepers, key_col, "left_semi")


def duplicate_stats(df: DataFrame, content_cols: list[str]) -> DataFrame:
    """One-row summary: total rows, distinct contents, duplicate rows.

    Exact form: COUNT(DISTINCT content) shuffles the content itself (and
    costs an Expand rewrite).  For fat text at warehouse scale use
    :func:`duplicate_stats_by_hash`."""
    total = F.count(F.lit(1)).alias("total_rows")
    distinct = F.count_distinct(*[F.col(c) for c in content_cols]).alias("distinct_rows")
    return df.agg(total, distinct).select(
        "total_rows",
        "distinct_rows",
        (F.col("total_rows") - F.col("distinct_rows")).alias("duplicate_rows"),
    )


def duplicate_stats_by_hash(
    df: DataFrame, content_cols: list[str], hasher: str = "xxhash64"
) -> DataFrame:
    """Scale twin of :func:`duplicate_stats`: distinct-count over the
    64-bit content hash, so only 8-byte keys ride the distinct machinery
    (same collision caveat as :func:`exact_dedup_by_hash`).
    ``hasher="md5"`` swaps in the portable :func:`md5_long` over the
    '|'-joined columns so an external engine can replay the exact count."""
    if hasher == "md5":
        h = md5_long(F.concat_ws("|", *[F.col(c) for c in content_cols]))
    else:
        h = F.xxhash64(*[F.col(c) for c in content_cols])
    total = F.count(F.lit(1)).alias("total_rows")
    distinct = F.count_distinct(h).alias("distinct_rows")
    return df.agg(total, distinct).select(
        "total_rows",
        "distinct_rows",
        (F.col("total_rows") - F.col("distinct_rows")).alias("duplicate_rows"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

#: Modulus for affine MinHash permutations: Mersenne prime 2^31 - 1.  The
#: base hash is reduced mod P first, so a * h + b stays under 2^62 — no
#: overflow in Spark's wrapping LongType OR DuckDB's checked BIGINT, which
#: is what makes the md5 mode bit-replayable across engines.
MINHASH_P = (1 << 31) - 1


def minhash_affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine permutation family
    ``h -> (a_i * h + b_i) % MINHASH_P`` — LCG-derived, a_i forced nonzero.
    Shared by the Spark implementation and the generated oracle SQL."""
    out = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % MINHASH_P or 1
        b = (69069 * (i + 1) + 1) % MINHASH_P
        out.append((a, b))
    return out

def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Add a ``signature: array<bigint>`` MinHash column.

    Each of the ``num_hashes`` permutations is simulated by seeding the
    hash with the permutation index; the signature element is the min hash
    over the document's distinct word shingles.  Entirely JVM-side.

    ``hasher="xxhash64"`` (default) is the production path: one seeded JVM
    intrinsic per (permutation, shingle).  ``hasher="md5"`` is the
    cross-engine-deterministic mode: ONE :func:`md5_long` per shingle,
    then each permutation is an affine map ``(a_i * (h % P) + b_i) % P``
    over the base hash (P = 2^31 - 1, constants from
    :func:`minhash_affine_constants`) — standard affine MinHash, and a
    DuckDB oracle replays the integer arithmetic exactly.  (An earlier
    form md5-hashed ``"<seed>|<shingle>"`` per permutation: num_hashes
    full md5 rounds per shingle on BOTH engines, ~6x slower end-to-end
    at 16 permutations.)
    """
    # Materialize tokens, then shingles, each in its own projection, then
    # hash the *column reference*: inlining the tokenizer/shingle expression
    # into all num_hashes signature slots would re-tokenize once per slot
    # (HOF lambdas are interpreted — no codegen subexpression elimination).
    with_tokens = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    with_shingles = with_tokens.select(
        F.col(id_col), shingles_from_tokens(F.col("__toks"), shingle_n).alias("shingles")
    )
    # Factory closures, NOT default-arg lambdas: Spark derives the HOF's
    # expected variable count from the lambda's parameter list, so
    # ``lambda h, a=a: ...`` reads as a 2-arg (value, index) lambda.
    if hasher == "md5":
        def affine(a: int, b: int):
            return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

        hashed = with_shingles.select(
            F.col(id_col),
            F.col("shingles"),
            F.transform(F.col("shingles"), lambda s: md5_long(s) % MINHASH_P).alias("__h"),
        )
        sig = F.array(
            *[
                F.array_min(F.transform(F.col("__h"), affine(a, b)))
                for a, b in minhash_affine_constants(num_hashes)
            ]
        )
        return hashed.select(F.col(id_col), F.col("shingles"), sig.alias("signature"))

    def seeded(i: int):
        return lambda s: F.xxhash64(F.lit(i), s)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("shingles"), seeded(i)))
            for i in range(num_hashes)
        ]
    )
    return with_shingles.select(F.col(id_col), F.col("shingles"), sig.alias("signature"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    sig_len: int | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Banding: split each signature into ``bands`` slices; documents
    agreeing on any band become a candidate pair (id_a < id_b).

    Shuffle volume is O(n * bands) small rows; the per-bucket self-join is
    quadratic only within a bucket, which LSH keeps tiny for non-dup data.
    ``hasher="md5"`` buckets on md5 of the '|'-joined band slice (portable
    to the DuckDB oracle); the default buckets with one xxhash64 intrinsic.
    """
    if sig_len is None:  # avoid this probe job when the caller knows the length
        sig_len = sig_df.selectExpr("size(signature) AS n").first()["n"]
    rows_per_band = max(1, sig_len // bands)

    def band_bucket(b: int):
        elems = [
            F.element_at(F.col("signature"), b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if hasher == "md5":
            return F.md5(F.concat_ws("|", *[e.cast("string") for e in elems]))
        return F.xxhash64(*elems).cast("string")

    banded = sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_for_pairs(
    pairs: DataFrame, sig_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs."""
    sh = sig_df.select(F.col(id_col), F.col("shingles"))
    out = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
    )
    return out


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hasher: str = "xxhash64",
    checkpoint: str | None = "local",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> bands -> candidate
    pairs -> exact Jaccard filter at ``threshold``.

    The signature frame is materialized once (eager ``localCheckpoint``):
    it feeds both sides of the banded self-join *and* both sides of the
    Jaccard verification join, and recomputing tokenization+hashing four
    times dominates runtime otherwise.  localCheckpoint over ``persist``
    because the pipeline returns before the result is consumed, so an
    explicit ``unpersist`` has nowhere to live — a cache entry would
    outlive the call forever, while checkpoint blocks are reclaimed by the
    ContextCleaner once the result frame is garbage-collected.  On a
    multi-executor cluster a lost executor invalidates local checkpoint
    blocks — pass ``checkpoint="reliable"`` (with a configured
    ``setCheckpointDir``) for the durable variant at 100 TB, or ``None``
    to skip materialization (see ``checkpointing.checkpoint_frame``).
    """
    from ..checkpointing import checkpoint_frame
    # Partition + sort on the id before the checkpoint: the Jaccard
    # verification joins the signature frame on id twice (id_a, id_b), and
    # LogicalRDD's captured partitioning serves both — the (big) signature
    # side of each verification join needs no Exchange and no Sort; only
    # the (small) candidate-pair side shuffles.  The banding arm reshuffles
    # by (band, bucket) regardless, so it loses nothing.
    sig = checkpoint_frame(
        minhash_signature(df, text_col, id_col, num_hashes, hasher=hasher)
        .repartition(id_col)
        .sortWithinPartitions(id_col),
        checkpoint,
    )
    cands = lsh_candidate_pairs(sig, id_col, bands, sig_len=num_hashes, hasher=hasher)
    return jaccard_for_pairs(cands, sig, id_col).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Add a ``simhash: bigint`` column: for each bit position, sum +1/-1
    over token hashes and take the sign.  Near-duplicate texts agree on most
    bits; equality or small Hamming distance finds them.

    Token hashes are materialized in their own projection: each of the
    ``bits`` interpreted fold expressions references the hash *column*, not
    the tokenize+hash expression (which would re-run per bit).

    ``hasher="md5"`` votes on :func:`md5_long` bits instead of xxhash64 —
    deterministic across engines, so a DuckDB oracle can replay the fold."""
    token_hash = md5_long if hasher == "md5" else F.xxhash64
    hashed = ensure_parallelism(df).select(
        F.col(id_col),
        F.transform(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")),
            lambda t: token_hash(t),
        ).alias("__h"),
    )
    hashes = F.col("__h")

    def bit_votes(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(bits):
        votes = F.aggregate(hashes, F.lit(0), bit_votes(i))
        bit_cols.append(F.when(votes > 0, F.lit(2 ** i)).otherwise(F.lit(0)))
    total = bit_cols[0]
    for b in bit_cols[1:]:
        total = total + b
    return hashed.select(F.col(id_col), total.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted shingle index
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    min_jaccard: float = 0.05,
    bucket_cols: list[str] | None = None,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for every pair sharing >=1 shingle
    (optionally restricted to pairs agreeing on ``bucket_cols``).

    Implementation is an inverted index as *posting lists*: one shuffle
    groups (bucket, shingle) -> sorted [(id, size)...], pairs are expanded
    map-side from each list, and a second shuffle counts shared shingles per
    pair.  This halves the shuffles of the naive exploded self-join (which
    shuffles + sorts the full posting table twice) and the per-gram pair
    expansion is bounded by true overlap, never O(n²) over the corpus.

    ``max_posting`` is the scale lever for pathological shingles: a posting
    list longer than the cap (ultra-common phrases — boilerplate headers,
    license blurbs) is dropped *whole* before pair expansion, bounding any
    single shingle's pair fan-out at max_posting² instead of (corpus
    frequency)².  The tradeoff is standard index pruning: similarity is
    then computed only over *discriminating* shingles, so reported jaccard
    for a surviving pair can undercount by the pruned common shingles and
    pairs sharing ONLY ultra-common shingles vanish — almost always the
    intent of near-dup mining.  Default ``None`` keeps exact-oracle
    semantics.
    """
    bucket_cols = bucket_cols or []
    tok = ensure_parallelism(df).select(
        F.col(id_col), *[F.col(c) for c in bucket_cols],
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    sh = tok.select(
        F.col(id_col), *bucket_cols, shingles_from_tokens(F.col("__toks"), n).alias("sh")
    )
    # explode_outer + post-filter on the generated attribute, NOT explode:
    # explode makes InferFiltersFromGenerate add `size(sh)>0 AND isnotnull
    # (sh)`, and predicate pushdown then substitutes the full shingle
    # expression into that filter and pushes it below the repartition
    # Exchange — re-running tokenization twice per row on the (serial) scan
    # side.  A filter on the generated column `s` cannot sink below the
    # Generate, so the expensive projection stays put, post-shuffle.
    expl = sh.select(
        F.col(id_col), *bucket_cols, F.size("sh").alias("sz"),
        F.explode_outer("sh").alias("s"),
    ).filter(F.col("s").isNotNull())

    posts = (
        expl.groupBy(*bucket_cols, "s")
        .agg(F.sort_array(F.collect_list(F.struct(id_col, "sz"))).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_posting is not None:
        posts = posts.filter(F.size("docs") <= max_posting)
    pair_expr = f"""
        flatten(transform(docs, (x, i) ->
            transform(slice(docs, i + 2, size(docs) - i - 1), y ->
                struct(x.{id_col} AS id_a, y.{id_col} AS id_b,
                       x.sz AS sz_a, y.sz AS sz_b))))
    """
    inter = (
        posts.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # threshold on the UNROUNDED value (round only the reported column):
    # the prefix-filtered variant can only prune on true jaccard, so a
    # rounded threshold here would admit pairs in [t - 5e-5, t) that
    # ngram_jaccard_pairs_prefix provably never generates
    jac_raw = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.filter(jac_raw >= min_jaccard)
        .select("id_a", "id_b", F.round(jac_raw, 4).alias("jaccard"))
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprint set per document (Schleimer,
    Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03): hash every k-token gram, slide a window
    of ``w`` gram positions, keep each window's minimum hash; the
    distinct minima are the fingerprints.  Guarantee: any token run of
    length >= k + w - 1 shared between two documents yields at least one
    common fingerprint — substring-level sensitivity that whole-document
    and fixed-segment hashing miss.

    Returns ``(id, fingerprint)`` distinct rows.  One exchange: gram rows
    shuffle on the id for the window, already reduced to an 8-byte hash
    (conv over the md5 hex prefix — portable to external engines); the
    window-min and distinct reuse that partitioning.
    """
    # Materialize the token array in its own projection: referencing a bound
    # column inside the transform() lambda evaluates split() once per row,
    # where inlining the split expression into the lambda body re-tokenizes
    # the full text at every gram position (O(n_toks * len) per row —
    # measured 3.1 -> 1.1 s steady-state on the sf0.1 documents table).
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    # posexplode_outer + IS NOT NULL: see _positional_gram_hashes — the
    # inferred size-filter would inline the CASE/transform gram assembly
    # twice into the scan-side Filter
    grams = toks.select(
        F.col(id_col),
        F.size("__toks").alias("__n_toks"),
        F.posexplode_outer(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(0, size(__toks) - {k}), "
                f"i -> concat_ws(' ', slice(__toks, i + 1, {k}))) "
                "ELSE array() END"
            )
        ).alias("__pos", "__gram"),
    ).filter(F.col("__pos").isNotNull())
    h = F.conv(F.substring(F.md5("__gram"), 1, 6), 16, 10).cast("long")
    win = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    )
    return (
        grams.withColumn("__h", h)
        .withColumn("fingerprint", F.min("__h").over(win))
        # n_grams = n_toks - k + 1 grams at positions 0..n_toks-k; the last
        # window of w grams starts at n_grams - w = n_toks - k - w + 1
        .filter(F.col("__pos") <= F.col("__n_toks") - k - w + 1)
        .select(id_col, "fingerprint")
        .distinct()
    )


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_posting: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints: the
    substring-sensitive complement to ``ngram_jaccard_pairs`` (which
    measures whole-document shingle overlap).  Fingerprints form a
    posting list; same-fingerprint doc pairs join bucket-locally and
    pairs sharing >= ``min_shared`` fingerprints survive.  Returns
    ``(id_a, id_b, n_shared)`` with id_a < id_b — feed to
    ``operators.graph.dedup_clusters`` for transitive canonicalization.

    ``max_posting`` prunes fingerprints carried by more than that many
    documents (boilerplate substrings) before the self-join, bounding the
    per-fingerprint pair fan-out at max_posting² — same index-pruning
    tradeoff, and same default-off exactness, as ``ngram_jaccard_pairs``.
    The hot-fingerprint list is tiny by construction (only
    above-threshold counts survive), so the exclusion join broadcasts.
    """
    fp = winnowing_fingerprints(df, text_col, id_col, k, w)
    if max_posting is not None:
        hot = (
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") > max_posting)
            .select("fingerprint")
        )
        fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Segment-level corpus rewrite (C4-style line dedup, token-window segments)
# ---------------------------------------------------------------------------

def segment_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_tokens: int = 10,
    hasher: str = "xxhash64",
) -> DataFrame:
    """C4-style corpus rewrite: keep each distinct segment only at its
    FIRST global occurrence and reassemble the surviving documents.

    C4 deduplicates at line granularity ("we discard all but one of any
    three-sentence span occurring more than once") — this is the
    rewrite-the-corpus counterpart of :func:`q120`'s dup-fraction signal.
    Documents are split into consecutive ``segment_tokens``-word windows
    (ragged tail included); a segment survives only in the document (and
    position) where it first occurs, ordered by ``(id, position)``; each
    document is rebuilt from its surviving segments in original order.
    Documents whose every segment is claimed elsewhere drop out.

    Scale posture (the reason this is not a window over the segment text):

    1. the winner election groups 8-byte segment hashes carrying a 16-byte
       ``(id, pos)`` struct — the corpus text never enters that exchange;
    2. winners collapse to one narrow ``(id, sorted positions)`` row per
       surviving document before rejoining the corpus, so the only join
       against full documents is keyed on ``id`` with a tiny build side;
    3. reassembly re-slices the original token array driver-free in one
       projection — no per-segment text shuffle, no collect.

    ``hasher="md5"`` swaps xxhash64 for the portable 60-bit
    :func:`md5_long` so external engines (the DuckDB oracle) replay the
    winner election bit-for-bit.  A 64-bit collision merges two distinct
    segments (~n²/2⁶⁵): one true segment would be dropped as a phantom
    duplicate — the usual hash-dedup trade, documented not hidden.

    Returns ``(id, n_segments, n_kept, text)``.
    """
    k = int(segment_tokens)
    if k <= 0:
        raise ValueError("segment_tokens must be positive")
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    n_seg = F.ceil(F.size("__toks") / F.lit(k)).cast("int")
    # posexplode_outer + IS NOT NULL: see _positional_gram_hashes — the
    # inferred size-filter would inline the segment assembly twice
    segs = toks.select(
        F.col(id_col),
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, size(__toks) div {k} - if(size(__toks) % {k} == 0, 1, 0)), "
                f"i -> concat_ws(' ', slice(__toks, i * {k} + 1, {k})))"
            )
        ).alias("pos", "__seg"),
    ).filter(F.col("pos").isNotNull())
    h = md5_long(F.col("__seg")) if hasher == "md5" else F.xxhash64(F.col("__seg"))
    hashed = segs.select(F.col(id_col), "pos", h.alias("__h"))
    winners = (
        hashed.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"))
        .select(F.col(f"__w.{id_col}").alias(id_col), F.col("__w.pos").alias("pos"))
    )
    keep = (
        winners.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__keep"))
    )
    return (
        toks.join(keep, id_col)
        .select(
            F.col(id_col),
            n_seg.alias("n_segments"),
            F.size("__keep").alias("n_kept"),
            F.concat_ws(
                " ",
                F.flatten(
                    F.expr(f"transform(__keep, p -> slice(__toks, p * {k} + 1, {k}))")
                ),
            ).alias(text_col),
        )
    )


def exact_dedup_against(
    df: DataFrame,
    seen: DataFrame,
    content_cols: list[str],
    key_col: str,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Incremental-ingestion dedup: drop rows whose content already exists
    in a historical corpus ``seen``, AND deduplicate within the new batch
    (smallest ``key_col`` wins) — the daily-crawl-vs-warehouse shape,
    where re-deduplicating 100 TB of history per batch is not an option.

    Both sides reduce to hashes before anything moves: the history
    contributes a distinct-hash frame (at warehouse scale this is the
    persisted dedup INDEX — 8 bytes/doc — not the corpus), the batch
    shuffles (hash, key) pairs, and the anti join runs hash-to-hash.  The
    batch text itself only moves in the final keeper semi join, keyed on
    ``key_col``.  ``hasher="md5"`` makes the whole election replayable by
    external engines (:func:`md5_long`).
    """
    if hasher == "md5":
        def h(frame):
            return md5_long(F.concat_ws("|", *[frame[c] for c in content_cols]))
    else:
        def h(frame):
            return F.xxhash64(*[frame[c] for c in content_cols])

    seen_hashes = seen.select(h(seen).alias("__h")).distinct()
    batch = df.select(F.col(key_col), h(df).alias("__h"))
    keepers = (
        batch.groupBy("__h")
        .agg(F.min(key_col).alias(key_col))
        .join(seen_hashes, "__h", "left_anti")
        .select(key_col)
    )
    return df.join(keepers, key_col, "left_semi")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    min_jaccard: float = 0.4,
    bucket_cols: list[str] | None = None,
) -> DataFrame:
    """Thresholded set-similarity join with PREFIX FILTERING (the
    PPJoin/AllPairs family, Bayardo et al. 2007 / Xiao et al. 2008):
    identical results to ``ngram_jaccard_pairs(min_jaccard=t)`` but the
    inverted index holds only each document's PREFIX — its
    ``|s| − ceil(t·|s|) + 1`` globally-rarest shingles.

    Why it is lossless: Jaccard(a,b) ≥ t forces |a∩b| ≥ t·|a|, so at
    most ``|a| − ceil(t·|a|)`` of a's shingles can miss b; if the two
    prefixes (under ONE global shingle order) were disjoint, each side
    would already spend its whole miss budget inside its prefix —
    contradiction.  Ordering by ascending document frequency makes the
    indexed prefix the RAREST shingles, collapsing posting lists where
    the fan-out actually hurts: at high thresholds the index shrinks by
    ~t and the candidate pair volume by orders of magnitude, which is
    the difference between a feasible and an impossible self-join at
    100 TB.  Candidates are then verified EXACTLY (full posting-list
    intersection restricted to candidate pairs).

    Returns ``(id_a, id_b, jaccard)`` with the REPORTED jaccard rounded
    to 4 but the threshold applied to the raw value — the same contract
    as the unfiltered operator (which also thresholds unrounded, so the
    two are genuinely identical; equivalence is pinned by test).
    """
    t = float(min_jaccard)
    bucket_cols = bucket_cols or []
    tok = ensure_parallelism(df).select(
        F.col(id_col), *bucket_cols,
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    sh = tok.select(
        F.col(id_col), *bucket_cols,
        shingles_from_tokens(F.col("__toks"), n).alias("sh"),
    )
    expl = sh.select(
        F.col(id_col), *bucket_cols, F.size("sh").alias("sz"),
        F.explode_outer("sh").alias("s"),
    ).filter(F.col("s").isNotNull())

    # ONE global order: ascending document frequency, shingle text as the
    # deterministic tiebreak.  Both sides of the join must use it.
    dfreq = expl.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = expl.join(dfreq, "s").select(
        id_col,
        *bucket_cols,
        "sz",
        "s",
        F.row_number()
        .over(
            Window.partitionBy(id_col).orderBy(F.col("__df"), F.col("s"))
        )
        .alias("__pos"),
    )
    prefix = ranked.filter(
        F.col("__pos") <= F.col("sz") - F.ceil(F.col("sz") * t) + 1
    )

    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "s",
        *bucket_cols,
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "s",
        *bucket_cols,
    )
    cand = (
        a.join(b, ["s", *bucket_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: |b| >= t·|a| is necessary for Jaccard >= t
        .filter(
            (F.col("sz_b") >= F.col("sz_a") * t)
            & (F.col("sz_a") >= F.col("sz_b") * t)
        )
        .select("id_a", "id_b")
        .distinct()
    )

    # exact verification: each candidate pair fetches BOTH docs' distinct
    # shingle ARRAYS (two id-keyed joins) and intersects them scan-side —
    # |a∩b| = size(array_intersect), exact because shingles_from_tokens
    # dedupes.  The exploded-posting formulation this replaces shuffled
    # candidates × |shingles(a)| narrow rows plus a pair-keyed groupBy;
    # the array form moves ONE row per pair (the 100x-of-sf0.1 probe
    # measured the swap on q226 at 8.9 -> 5.7 GB shuffle for 5.1M
    # candidates, wall 68 -> 33 s, identical output).  The full posting
    # table still never self-joins.
    sharr = sh.select(
        F.col(id_col).alias("__id"),
        F.col("sh").alias("__sh"),
        F.size("sh").alias("__sz"),
    )
    paired = cand.join(
        sharr.select(
            F.col("__id").alias("id_a"),
            F.col("__sh").alias("__sh_a"),
            F.col("__sz").alias("sz_a"),
        ),
        "id_a",
    ).join(
        sharr.select(
            F.col("__id").alias("id_b"),
            F.col("__sh").alias("__sh_b"),
            F.col("__sz").alias("sz_b"),
        ),
        "id_b",
    )
    common = paired.select(
        "id_a",
        "id_b",
        "sz_a",
        "sz_b",
        F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_common"),
    )
    # threshold on the UNROUNDED value: the prefix pigeonhole guarantees
    # no misses for TRUE jaccard >= t, so filtering on the rounded value
    # could keep a 0.39996-rounds-to-0.4 pair the index never generated
    jac_raw = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        common.filter(jac_raw >= t)
        .select("id_a", "id_b", F.round(jac_raw, 4).alias("jaccard"))
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Cross-document duplicate SPAN detection — the suffix-array
    substring dedup of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499) re-expressed as
    positional k-gram hashing: any word k-gram occurring >= ``min_count``
    times anywhere in the corpus (other documents OR the same one) marks
    its covered positions, and contiguous coverage merges into maximal
    spans per document — exactly the spans a suffix-array + LCP pass
    reports for duplicated substrings of >= k tokens, discretized to
    word boundaries (pinned by an independent suffix-array reference
    implementation in test_ext_ops).

    Scale design: the k-gram assembly is scan-local (``transform`` over a
    ``sequence``, no UDFs); only narrow ``(gram_hash, id, pos)`` rows
    shuffle — one equi-groupBy on the 64-bit gram hash, one equi-join
    back, one id-keyed window for the interval merge.  Nothing is ever
    all-pairs; at 100 TB this is the same posting-list shape as
    ``ngram_jaccard_pairs``.

    Returns one row per merged span: ``(id, span_start, span_end)`` in
    word offsets, inclusive.
    """
    if k < 2:
        raise ValueError("duplicate_spans needs k >= 2")
    pos_grams = _positional_gram_hashes(df, text_col, id_col, k)
    dup_hashes = (
        pos_grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gh")
    )
    dup_pos = pos_grams.join(dup_hashes, "gh").select("__id", "pos")
    return _spans_from_positions(dup_pos, k, id_col)


def _positional_gram_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """``(__id, pos, gh)`` — one xxhash64 per word-k-gram start position.

    Positional k-grams via the zip_with-over-slices fold (O(k·tokens),
    stays in the interpreted-HOF fast shape — see shingles_from_tokens
    for why a sequence+slice lambda would re-walk the array per index);
    hashing happens AFTER posexplode so xxhash64 runs in codegen.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), toks.alias("__w"))
    )
    m = F.size("__w")
    length = F.greatest(m - (k - 1), F.lit(0))
    gram_arr = F.slice("__w", 1, length)
    for j in range(1, k):
        gram_arr = F.zip_with(
            gram_arr,
            F.slice("__w", 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # posexplode_outer + IS NOT NULL ≡ posexplode row-for-row (gram
    # strings are non-null concats), but WITHOUT the inferred
    # `size(__g) > 0` filter, which predicate pushdown inlines as two
    # extra copies of the ENTIRE k-slice zip_with gram assembly (plus
    # the tokenize chain) into the scan-side Filter below the
    # repartition — single-core and thrown away (r10, guide §7.2)
    return (
        base.select("__id", gram_arr.alias("__g"))
        .select("__id", F.posexplode_outer("__g").alias("pos", "__gram"))
        .filter(F.col("pos").isNotNull())
        .select("__id", "pos", F.xxhash64("__gram").alias("gh"))
    )


def _spans_from_positions(dup_pos: DataFrame, k: int, id_col: str) -> DataFrame:
    """Merge flagged k-gram start positions ``(__id, pos)`` into maximal
    spans ``(id, span_start, span_end)`` — RANGE-UNION semantics.

    A window starting at pos covers [pos, pos+k-1]; coverage is
    contiguous with the island so far iff pos <= prev_end + 1 — the
    RANGE-UNION semantics of Lee et al. substring removal (two
    duplicated substrings butted against each other form ONE excisable
    region; merging only on window-start overlap would split it, a
    divergence the suffix-array reference test pins).
    """
    w_prev = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_pos.withColumn(
        "__prev_end", F.max(F.col("pos") + (k - 1)).over(w_prev)
    )
    is_break = F.when(
        F.col("__prev_end").isNull()
        | (F.col("pos") > F.col("__prev_end") + 1),
        1,
    ).otherwise(0)
    w_run = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.withColumn("__isl", F.sum(is_break).over(w_run))
        .groupBy("__id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end")
    )


def contamination_spans(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    k: int = 10,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Cross-corpus exact-substring DECONTAMINATION spans: every corpus
    span whose word k-grams all appear verbatim in ``bench`` (the
    eval/benchmark set), merged into maximal intervals — the span-level
    train/test-overlap check of Lee et al. 2021 §5 / the GPT-3 appendix-C
    13-gram collision scan, discretized to word boundaries.

    Scale shape: the benchmark side reduces to DISTINCT 64-bit gram
    hashes — for real eval suites that is thousands-to-millions of rows,
    so with ``broadcast_bench`` (default) the corpus gram stream is
    filtered MAP-SIDE by a broadcast hash semi-join and the 100 TB side
    never shuffles against the benchmark at all; the only corpus-wide
    exchange left is the id-keyed interval-merge window over the (rare)
    flagged positions.  Set ``broadcast_bench=False`` for a giant bench
    side to fall back to a shuffled semi-join.

    Returns ``(id, span_start, span_end)`` word offsets, inclusive.
    """
    if k < 2:
        raise ValueError("contamination_spans needs k >= 2")
    bench_text = bench_text_col or text_col
    corpus = _positional_gram_hashes(df, text_col, id_col, k)
    toks = F.split(F.lower(F.trim(F.col(bench_text))), r"\s+")
    bw = ensure_parallelism(bench.select(toks.alias("__w")))
    m = F.size("__w")
    length = F.greatest(m - (k - 1), F.lit(0))
    gram_arr = F.slice("__w", 1, length)
    for j in range(1, k):
        gram_arr = F.zip_with(
            gram_arr,
            F.slice("__w", 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # explode_outer + IS NOT NULL: see _positional_gram_hashes — keeps
    # the inferred size-filter from inlining the gram assembly twice
    dirty = (
        bw.select(F.explode_outer(gram_arr).alias("__gram"))
        .filter(F.col("__gram").isNotNull())
        .select(F.xxhash64("__gram").alias("gh"))
        .distinct()
    )
    if broadcast_bench:
        dirty = F.broadcast(dirty)
    flagged = corpus.join(dirty, "gh", "left_semi").select("__id", "pos")
    return _spans_from_positions(flagged, k, id_col)


def contamination_stats(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    k: int = 10,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document decontamination rollup over
    :func:`contamination_spans`: span count, contaminated-token count and
    fraction — the per-doc drop/excise decision input.  Clean documents
    keep a zero row."""
    spans = contamination_spans(
        df, bench, text_col, id_col, bench_text_col, k, broadcast_bench
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("__bad_tokens"),
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("__n_spans", F.lit(0)).cast("int").alias("n_spans"),
        F.coalesce("__bad_tokens", F.lit(0)).cast("long").alias("contaminated_tokens"),
        F.round(
            F.coalesce("__bad_tokens", F.lit(0)) / F.col("n_tokens"), 4
        ).alias("contaminated_fraction"),
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Per-document rollup of :func:`duplicate_spans`: span count,
    duplicated-token count, total tokens, and the duplicated fraction —
    the per-doc removal budget a Lee-et-al-style span-excision pass
    needs.  Documents with no duplicate spans keep a zero row."""
    spans = duplicate_spans(df, text_col, id_col, k, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("__dup_tokens"),
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("__n_spans", F.lit(0)).cast("int").alias("n_spans"),
            F.coalesce("__dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("__dup_tokens", F.lit(0)) / F.col("n_tokens"), 4
            ).alias("dup_fraction"),
        )
    )


def excise_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Span-excision rewrite — the transform half of Lee et al. 2021
    exact-substring dedup: every duplicate span from
    :func:`duplicate_spans` is cut out of its document (aggressive mode:
    ALL occurrences go; run with a keep-one ownership filter upstream
    for the paper's keep-one-copy policy) and the surviving words are
    reassembled in order.

    Scale design: covered positions come from exploding the merged span
    intervals (bounded by total tokens, not spans x tokens), removal is
    one ``(id, pos)`` anti-join, and reassembly is an id-keyed
    sort-within-group — no all-pairs stage anywhere.

    Returns ``(id, text_before_tokens, text_after_tokens, text_after)``.
    """
    spans = duplicate_spans(df, text_col, id_col, k, min_count)
    return excise_spans(df, spans, text_col, id_col)


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut an arbitrary span frame ``(id, span_start, span_end)`` out of
    ``df``'s documents and reassemble the survivors in order — the shared
    transform half behind :func:`excise_duplicate_spans` (within-corpus)
    and :func:`contamination_spans`-based decontamination rewrites
    (cross-corpus).  Same scale shape: interval explode bounded by total
    tokens, one ``(id, pos)`` anti-join, id-keyed sort-within-group."""
    covered = spans.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    ).distinct()
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), toks.alias("__w"))
    )
    words = base.select(
        # posexplode_outer + IS NOT NULL: see _positional_gram_hashes —
        # the inferred size-filter would inline the tokenize twice
        "__id", F.posexplode_outer("__w").alias("pos", "__word")
    ).filter(F.col("pos").isNotNull())
    kept = words.join(covered, ["__id", "pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__word"))),
                lambda s: s["__word"],
            ),
        ).alias("__after")
    )
    return (
        base.select("__id", F.size("__w").alias("text_before_tokens"))
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "text_before_tokens",
            F.coalesce("__after", F.lit("")).alias("text_after"),
        )
        .withColumn(
            "text_after_tokens",
            F.when(F.col("text_after") == "", F.lit(0)).otherwise(
                F.size(F.split(F.col("text_after"), " "))
            ),
        )
        .select(
            id_col, "text_before_tokens", "text_after_tokens", "text_after"
        )
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_distance: int = 3,
    bits: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup PAIRS under Hamming distance over a packed bit-hash
    column (simhash, image dhash, audio fingerprint): the banded
    pigeonhole join.

    The ``bits``-bit hash splits into ``bands`` contiguous chunks
    (default ``max_distance + 1``); any two hashes within
    ``max_distance`` differ in at most ``max_distance`` chunks, so they
    AGREE on at least one chunk — candidates are the union of ``bands``
    equi-joins on ``(band_index, chunk_value)``, verified exactly with
    ``bit_count(a XOR b) <= max_distance``.  LOSSLESS for
    ``bands > max_distance`` (pigeonhole), unlike probabilistic LSH.

    Scale shape: identical to MinHash band-bucket joins — one explode to
    ``bands`` narrow rows per asset, equi-join on the chunk key (never
    all-pairs), distinct candidate pairs, then an 8-byte XOR popcount
    per candidate.  Works for any ``bits <= 63`` packing.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    bands = bands if bands is not None else max_distance + 1
    if bands <= max_distance:
        raise ValueError(
            "bands must exceed max_distance for the pigeonhole guarantee"
        )
    if bits > 63:
        raise ValueError("hamming_near_dup_pairs supports packed bits <= 63")
    base_w, extra = divmod(bits, bands)
    chunks, shift = [], 0
    for j in range(bands):
        w = base_w + (1 if j < extra else 0)
        chunks.append(
            F.struct(
                F.lit(j).alias("band"),
                F.shiftrightunsigned(F.col("__h"), shift)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("chunk"),
            )
        )
        shift += w
    h = df.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h"))
    keyed = h.select(
        "__id", "__h", F.explode(F.array(*chunks)).alias("bc")
    ).select("__id", "__h", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = keyed.select(
        F.col("__id").alias("id_a"), F.col("__h").alias("__ha"), "band", "chunk"
    )
    b = keyed.select(
        F.col("__id").alias("id_b"), F.col("__h").alias("__hb"), "band", "chunk"
    )
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        cand.filter(ham <= max_distance)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
    )


def hamming_component_edges(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_distance: int = 3,
    bits: int = 64,
    bands: "int | None" = None,
) -> DataFrame:
    """A SPANNING edge set whose connected components equal those of the
    full :func:`hamming_near_dup_pairs` graph — the scale path for
    cluster/keeper pipelines (q264 shape) where pairs are internal.

    Real dedup corpora carry massive EXACT-duplicate groups (same bytes
    -> same hash), and enumerating pairs inside a k-member group is
    O(k²) for no informational gain: components are invariant under
    contracting equal hashes.  So: identical hashes collapse to their
    min-id representative via STAR edges (k-1 edges, one groupBy), and
    only DISTINCT hashes enter the banded pigeonhole join.  Two groups
    are near-dups iff their representatives are (equal hashes, equal
    distances), so components are exactly preserved — pinned by test
    against the all-pairs form.

    Measured on the round-6 sf1->sf10 probe this is the difference
    between quadratic pair blowup (10x data -> 100x pairs -> 17x wall)
    and linear growth: pair work becomes quadratic only in DISTINCT
    near-identical hashes, never in duplicate multiplicity.

    Returns ``(id_a, id_b)`` edges (star edges first, then
    representative near-dup pairs)."""
    reps = df.groupBy(hash_col).agg(F.min(id_col).alias("__rep"))
    stars = (
        df.join(reps, hash_col)
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    distinct = reps.select(
        F.col("__rep").alias(id_col), F.col(hash_col)
    )
    rep_pairs = hamming_near_dup_pairs(
        distinct, hash_col, id_col,
        max_distance=max_distance, bits=bits, bands=bands,
    ).select("id_a", "id_b")
    return stars.unionByName(rep_pairs)


# ---- content-defined chunking (FastCDC, Xia et al. FAST'16) -----------

def _gear_table() -> "list[int]":
    """The 256-entry gear table: md5-derived 64-bit constants, so every
    process computes IDENTICAL boundaries (a salted hash() here would
    break cross-task chunk dedup the way the round-6 snappy/deflate
    match-table bug did)."""
    import hashlib
    return [
        int.from_bytes(hashlib.md5(bytes([b]) * 8).digest()[:8], "big")
        for b in range(256)
    ]


_GEAR = _gear_table()
_MASK64 = (1 << 64) - 1


def _gear_np():
    import numpy as np

    return np.array(_GEAR, dtype=np.uint64)


_GEAR_NP = _gear_np()


def fastcdc_chunks(data: bytes, min_size: int = 2048,
                   avg_size: int = 8192,
                   max_size: int = 65536) -> "list[tuple[int, int, int]]":
    """FastCDC content-defined chunking: gear rolling hash with
    NORMALIZED cut-point judgment — a harder mask before the average
    point and an easier one after, which squeezes the chunk-size
    distribution toward ``avg_size`` without the backup scans of
    classic Rabin CDC.  Returns ``[(offset, length, xxh64-of-chunk)]``
    covering every byte exactly once.

    This is the byte-level dedup layer below MinHash/SimHash: identical
    REGIONS inside otherwise-different blobs (boilerplate, shared
    headers, quoted replies) hash to identical chunks even when their
    byte OFFSETS differ — the shift-invariance property fixed-size
    blocking fundamentally lacks, and the reason every storage dedup
    system (and training-corpus pipelines moving TB-scale raw crawls)
    chunk this way."""
    from .xxhash import xxh64

    if not 64 <= min_size <= avg_size <= max_size:
        raise ValueError("need 64 <= min_size <= avg_size <= max_size")
    if avg_size & (avg_size - 1):
        raise ValueError("avg_size must be a power of two")
    bits = avg_size.bit_length() - 1
    mask_s = (1 << (bits + 2)) - 1  # harder: cuts ~4x rarer
    mask_l = (1 << (bits - 2)) - 1  # easier: cuts ~4x denser
    n = len(data)
    # Vectorized cut-point discovery (r10, guide §4.2): the per-byte
    # python gear roll was the whole cost of CDC at corpus scale.  The
    # cut test ``fp & mask == 0`` reads only the low m bits of fp, and
    # the gear recurrence fp' = 2*fp + gear[b] means those bits depend
    # ONLY on the trailing m bytes once >= m bytes have rolled since
    # the per-chunk reset — so "would this position cut?" is a sliding
    # -window property computable for every position at once with
    # numpy.  The first m-1 positions after each reset see fewer rolled
    # bytes; they keep the exact scalar roll (<= bits+1 iterations per
    # chunk).  Equivalence with the scalar reference is pinned in
    # tests/test_ext_ops.py.
    if n > min_size and avg_size - min_size >= bits + 2:
        cand_s, cand_l = _fastcdc_candidates(data, bits, mask_s, mask_l)
        import bisect

        out = []
        start = 0
        mb_s = bits + 2
        while start < n:
            end = min(start + max_size, n)
            normal = min(start + avg_size, end)
            s = min(start + min_size, end)
            cut = end
            i = s
            fp = 0
            warm_end = min(s + mb_s - 1, normal)
            while i < warm_end:
                fp = ((fp << 1) + _GEAR[data[i]]) & _MASK64
                if fp & mask_s == 0:
                    cut = i + 1
                    break
                i += 1
            else:
                # steady small-mask region [warm_end, normal)
                j = bisect.bisect_left(cand_s, warm_end)
                hit = cand_s[j] if j < len(cand_s) else n
                if hit < normal:
                    cut = hit + 1
                elif normal < end:
                    # large-mask region [normal, end); >= mask_l-width
                    # bytes always rolled by here (the avg-min guard)
                    j = bisect.bisect_left(cand_l, normal)
                    hit = cand_l[j] if j < len(cand_l) else n
                    if hit < end:
                        cut = hit + 1
            out.append((start, cut - start, xxh64(data[start:cut])))
            start = cut
        return out
    return _fastcdc_chunks_scalar(data, min_size, avg_size, max_size)


def _fastcdc_chunks_scalar(data: bytes, min_size: int, avg_size: int,
                           max_size: int) -> "list[tuple[int, int, int]]":
    """Reference per-byte gear roll — the fallback for tiny inputs or
    degenerate (avg - min) gaps, and the equivalence pin for the
    vectorized path."""
    from .xxhash import xxh64

    bits = avg_size.bit_length() - 1
    mask_s = (1 << (bits + 2)) - 1
    mask_l = (1 << (bits - 2)) - 1
    n = len(data)
    out = []
    start = 0
    while start < n:
        end = min(start + max_size, n)
        normal = min(start + avg_size, end)
        i = min(start + min_size, end)
        fp = 0
        cut = end
        while i < normal:
            fp = ((fp << 1) + _GEAR[data[i]]) & _MASK64
            if fp & mask_s == 0:
                cut = i + 1
                break
            i += 1
        else:
            while i < end:
                fp = ((fp << 1) + _GEAR[data[i]]) & _MASK64
                if fp & mask_l == 0:
                    cut = i + 1
                    break
                i += 1
        length = cut - start
        out.append((start, length, xxh64(data[start:cut])))
        start = cut
    return out


def _fastcdc_candidates(data: bytes, bits: int, mask_s: int, mask_l: int):
    """Sorted position lists where the steady-window gear test fires
    for the small and large masks.  Position i's low-m-bit window value
    is sum(gear[data[i-k]] << k for k in range(m)) & mask — the exact
    low bits of the scalar fp whenever >= m bytes rolled since the
    chunk reset."""
    import numpy as np

    mb_s = bits + 2
    mb_l = bits - 2
    # arithmetic mod 2^mb_s: the narrowest dtype holding mb_s bits
    # cuts gather+accumulate memory traffic up to 8x vs uint64
    dt = (np.uint16 if mb_s <= 16
          else np.uint32 if mb_s <= 32 else np.uint64)
    g = _GEAR_NP.astype(dt)[np.frombuffer(data, dtype=np.uint8)]
    w = g.copy()
    cands = {}
    for k in range(1, mb_s):
        if k == mb_l:
            cands[mb_l] = np.nonzero((w & dt(mask_l)) == 0)[0]
        w[k:] += g[:-k] << dt(k)
    cands[mb_s] = np.nonzero((w & dt(mask_s)) == 0)[0]
    # positions with an incomplete window (i < m-1) are never consulted
    # (the scalar warm loop owns them), but drop them anyway so a
    # bisect can't land on one
    cand_s = cands[mb_s]
    cand_l = cands[mb_l]
    return (cand_s[cand_s >= mb_s - 1].tolist(),
            cand_l[cand_l >= mb_l - 1].tolist())


def cdc_chunk_table(df: DataFrame, payload_col: str, id_col: str,
                    min_size: int = 2048, avg_size: int = 8192,
                    max_size: int = 65536) -> DataFrame:
    """Distributed CDC: one Arrow pass chunks every payload —
    ``(id, chunk_idx, offset, length, chunk_hash)`` rows.  Chunking is
    per-row local (zero shuffle); dedup is then ONE groupBy on
    chunk_hash, hash-partitioned like every exact-dedup path here —
    at 100 TB the shuffle carries (hash, length) pairs, never bytes."""

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = {"id": [], "chunk_idx": [], "offset": [],
                    "length": [], "chunk_hash": []}
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                for ci, (off, ln, h) in enumerate(fastcdc_chunks(
                        data, min_size, avg_size, max_size)):
                    rows["id"].append(i)
                    rows["chunk_idx"].append(ci)
                    rows["offset"].append(off)
                    rows["length"].append(ln)
                    # signed view of the u64 for Spark's long
                    rows["chunk_hash"].append(
                        h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).alias(id_col), F.col(payload_col)
    ).mapInPandas(
        gen,
        f"id {dict(df.dtypes)[id_col]}, chunk_idx int, offset long, "
        "length long, chunk_hash long")


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Corpus-level CDC dedup accounting from a :func:`cdc_chunk_table`
    frame: one row — total chunks/bytes, unique chunks/bytes (first
    occurrence keeps the bytes), and the dedup ratio."""
    uniq = chunks.groupBy("chunk_hash").agg(
        F.first("length").alias("length"))
    tot = chunks.agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum("length").alias("total_bytes"))
    un = uniq.agg(
        F.count(F.lit(1)).alias("unique_chunks"),
        F.sum("length").alias("unique_bytes"))
    return tot.crossJoin(un).select(
        "total_chunks", "total_bytes", "unique_chunks", "unique_bytes",
        (F.col("unique_bytes") / F.col("total_bytes"))
        .alias("unique_fraction"))
