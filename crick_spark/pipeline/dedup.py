"""Deduplication operators for large-scale corpus curation.

Exact dedup, MinHash+LSH near-dup, SimHash near-dup, and exact n-gram
Jaccard verification — all as *pure DataFrame expressions* (whole-stage
codegen, zero Python in the hot path).  Design for 100 TB:

* Signatures are computed by explode → hash-aggregate: each shingle string
  is hashed once, permutations re-hash the 8-byte value, and map-side
  partial aggregation collapses to one signature row per doc per partition
  (~0.5 KB/doc shuffled regardless of document size).  All plain-column
  ``xxhash64`` — whole-stage codegen.  (A per-row higher-order-function
  formulation looks cheaper but is ~30× slower in practice: ``transform``
  lambdas are interpreted, never codegen'd.)
* LSH banding turns near-dup search into an equi-join on (band, hash):
  the only shuffle is by band bucket, and candidate verification touches
  only bucket collisions, never the O(n²) pair space.
* Exact-Jaccard verification re-joins candidate ids to their shingle sets
  and uses ``array_intersect``/``array_union`` — still JVM-side.

The sketch-contract lens (SURVEY §7.4): a MinHash signature is a mergeable
sketch of a shingle set (elementwise min merges two signatures), same
(init/add/merge/finalize) algebra as crick's operators.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5 of the content columns,
    keep the smallest id per group.  One shuffle on the content hash; at
    scale the hash (16 B) shuffles, never the content."""
    h = F.md5(F.concat_ws("\x1f", *content_cols)).alias("content_hash")
    return (
        df.select(F.col(id_col).alias("keep_id"), h)
        .groupBy("content_hash")
        .agg(F.min("keep_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash
# ---------------------------------------------------------------------------
def words_expr(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (codegen only).
    Guards the sequence() call: Spark's sequence(1, 0) would count *down*."""
    w = words_expr(text)
    nsh = F.size(w) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), nsh),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.when(nsh >= 1, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(w, " "))
    )


def shingle_hash_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    extra_cols: list[str] | None = None,
    with_size: bool = False,
) -> DataFrame:
    """Distinct hashed word n-gram postings (id…, th) — the shared scan for
    MinHash signatures and the sparse Jaccard join.

    Shape: two narrow projections, zero shuffles.  The first hashes every
    word into a per-row long array (one interpreted ``transform`` pass —
    cheap: the lambda body is a single ``xxhash64``); the second forms each
    n-gram hash from the n adjacent word hashes via ``element_at``,
    de-dups *per row* with ``array_distinct`` (postings are per-doc, so
    row-local distinct ≡ global distinct), and explodes.  Strings never
    leave the word stage.

    Preconditions/semantics:

    * ``docs`` must have exactly one row per ``id_col`` — duplicate-id
      input would emit duplicate (id, th) postings and inflate the
      count(*)-based set sizes in the Jaccard join downstream.
    * NULL text is coalesced to '' before shingling, so null-text and
      empty-text docs hash identically and every doc emits exactly one
      fallback posting (the every-doc-has-≥1-posting invariant that
      ``minhash_signatures_opm``'s densification relies on).  Two empty
      docs are trivially Jaccard-1.0 duplicates of each other — filter
      empty docs upstream if that pairing is unwanted.

    The projection split is load-bearing: naming the word-hash array in its
    own projection stops Catalyst's CollapseProject from inlining the
    ``transform`` into every ``element_at`` reference (n copies → words
    re-hashed n times).  Measured at sf0.1 (5k docs, 260k postings): 0.44 s
    vs 3.2 s for the previous posexplode + window-``lead`` + global
    ``distinct`` shape (two shuffles saved), vs 8.9 s for the naive inlined
    variant.  Docs shorter than n words contribute one whole-text shingle
    (reference semantics of ``shingles_expr``).

    ``with_size=True`` adds a ``sz`` column — the doc's distinct-shingle
    count, stamped on every posting row at explode time.  This is how the
    exact-pair joins get per-doc set sizes WITHOUT a separate sizes
    relation: carrying one long through the posting join costs nothing,
    while a sizes side is O(|corpus|) rows that must either broadcast
    (OOM at 1e9 docs) or shuffle-join (an extra exchange).

    The scan is spread to full-core parallelism first (a small parquet
    file is one row group → one partition → single-threaded
    shingle-hashing for every consumer; no-op at real scale) — this is
    the shared entry for MinHash, Jaccard and containment, so one guard
    covers the family."""
    from crick_spark.functions.skew import ensure_scan_parallelism

    docs = ensure_scan_parallelism(docs)
    extra_cols = extra_cols or []
    words = words_expr(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.transform(words, lambda s: F.xxhash64(s)).alias("__wh__"),
        F.array_join(words, " ").alias("__full__"),
    )
    nsh = F.size(F.col("__wh__")) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), nsh),
        lambda i: F.xxhash64(*[F.element_at(F.col("__wh__"), i + j) for j in range(n)]),
    )
    th_arr = F.when(nsh >= 1, F.array_distinct(grams)).otherwise(
        F.array(F.xxhash64(F.col("__full__")))
    )
    if not with_size:
        return base.select(
            F.col(id_col), *extra_cols, F.explode(th_arr).alias("th")
        )
    # sz duplicates the gram pass over the NAMED __wh__ column, in its own
    # pre-explode projection, rather than sharing a named th_arr with the
    # explode.  Both alternatives are traps: (a) naming th_arr makes the
    # generator input an attribute, which lets InferFiltersFromGenerate
    # add a size(..)>0 filter that predicate pushdown then inlines through
    # BOTH projections — re-splitting and re-hashing the text per row
    # (measured 9.4 s vs 0.44 s at sf0.1); (b) computing sz in the SAME
    # select as the explode lands it in the post-Generate projection,
    # re-running the gram transform once per EXPLODED row instead of per
    # doc (measured 4.5 s).  This shape costs one extra per-doc gram-hash
    # pass over already-hashed words and nothing else.
    sz = F.when(nsh >= 1, F.size(F.array_distinct(grams))).otherwise(F.lit(1))
    mid = base.select(
        F.col(id_col),
        *extra_cols,
        F.col("__wh__"),
        F.col("__full__"),
        sz.alias("sz"),
    )
    return mid.select(
        F.col(id_col),
        *extra_cols,
        F.col("sz"),
        F.explode(th_arr).alias("th"),
    )


def minhash_signature(shingles: Column, num_perm: int = 64) -> Column:
    """MinHash signature as a single Column: element i = min over shingles
    of xxhash64(s, i).  A mergeable sketch: merge = elementwise min (crick
    contract).  NOTE: fine for small num_perm in single-use column contexts
    only; for the full pipeline use ``minhash_signatures`` below — this
    expression re-evaluates the shingle transform per permutation, and
    higher-order-function lambdas run interpreted (no codegen)."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
            for i in range(num_perm)
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via hashed postings → hash-aggregate of
    per-permutation mins: permutation i re-hashes the 8-byte shingle hash
    (never the string), map-side partial aggregation collapses to one
    64-long row per doc per partition, so the shuffle is ~0.5 KB/doc
    regardless of document size."""
    sh = shingle_hash_postings(docs, id_col, text_col, shingle_n).withColumnRenamed(
        "th", "h"
    )
    # ONE F.expr for the whole signature (r14, guide §1.2 per-task work
    # at the driver): ``array(min(xxhash64(h,0)), …, min(xxhash64(h,63)))``
    # is a single py4j round trip and a single parse, where the previous
    # 64 per-aggregate F.expr calls + a 64-name array projection spent
    # ~0.5 s of DRIVER time per execution building the plan (measured;
    # the r12 per-aggregate-F.expr form had already cut ~2× vs nested
    # Column builders).  Catalyst hoists the aggregates out of the array
    # constructor, so the physical plan and results are bit-identical
    # (verified: same 256 pairs at sf0.1; bench 3.05 s → 2.47 s).
    mins = ",".join(f"min(xxhash64(h, {i}))" for i in range(num_perm))
    return sh.groupBy(id_col).agg(F.expr(f"array({mins})").alias("minhash"))


def minhash_signatures_opm(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """One-permutation MinHash with rotation densification (Shrivastava &
    Li, *Densifying One Permutation Hashing via Rotation for Fast Near
    Neighbor Search*, ICML 2014): hash every shingle ONCE, route it to
    bucket ``h mod num_perm``, take the min per bucket, and fill empty
    buckets from the nearest non-empty bucket to the right (circular).

    MEASURED, NOT ADOPTED as default (bench.py steady-state, sf0.1,
    identical 256 verified pairs on every variant):

    - classic 64-rehash aggregate: 3.7 s warm — 64 vectorized JVM
      ``xxhash64(h, i)`` updates per posting, ONE row per doc per
      partition reaches the shuffle.
    - this conditional-min form: 4.6 s warm — the 64 ``when(pmod(h,64)=i)``
      aggregate updates still evaluate per posting, so it saves hashing
      but not branching; wins only cold (7.4 s vs 10.7 s including plan
      compilation — the 64-rehash codegen is expensive to compile).
    - routed ``groupBy(doc, bucket)`` form (true 1-hash-per-posting):
      5.2 s warm — per-posting CPU drops 64× but the shuffle carries 64
      rows per doc per partition instead of one; the extra exchange
      dominates.

    Kept because the cold-path win matters for interactive/one-shot use
    and as the recorded experiment; ``near_dup_pairs`` defaults to the
    classic signatures.  Densification runs after the aggregate, on one
    64-wide row per doc, so its interpreted higher-order expression
    touches #docs rows, never the posting explosion.
    """
    sh = shingle_hash_postings(docs, id_col, text_col, shingle_n).withColumnRenamed(
        "th", "h"
    )
    b = F.pmod(F.col("h"), F.lit(num_perm))
    agg = sh.groupBy(id_col).agg(
        *[
            F.min(F.when(b == i, F.col("h"))).alias(f"m{i}")
            for i in range(num_perm)
        ]
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(num_perm)])
    # Nearest non-null to the right, circular: every doc has ≥1 posting
    # (shingle_hash_postings emits the whole text as a fallback shingle),
    # so a full rotation always terminates with a non-null value.
    borrow = ", ".join(
        f"element_at(sig, (CAST(i + {j} AS INT) % {num_perm}) + 1)"
        for j in range(num_perm)
    )
    dens = F.expr(f"transform(sequence(0, {num_perm - 1}), i -> coalesce({borrow}))")
    return agg.select(F.col(id_col), sig.alias("sig")).select(
        F.col(id_col), dens.alias("minhash")
    )


def band_buckets(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH band buckets of a signature column: (id, band, bucket) rows,
    bucket = hash of the band's signature slice.  Deterministic per doc —
    independent of batching/partitioning — which is what lets the
    streaming incremental dedup join a new batch's buckets against a
    persisted history of old ones (``streaming/incremental_dedup.py``)."""
    # single-expr construction (one py4j call for all bands) — same plan
    # and bit-identical buckets as the per-band Column-builder form
    structs = ",".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', transform("
        f"slice({sig_col}, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> cast(x AS string)))) AS bucket)"
        for b in range(bands)
    )
    return df.select(
        F.col(id_col),
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: two docs are candidates iff one band of their signatures
    matches exactly.  Implemented as explode(band) → shuffle by (band, hash)
    → self-join inside buckets; emits distinct (id_a < id_b) pairs."""
    banded = band_buckets(df, id_col, sig_col, bands, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join shingle sets back and
    compute |∩|/|∪| with array ops (JVM-side).

    Join shape matters twice over here: (a) the pair side must be the
    broadcast side — the docs side carries the heavy shingle arrays, and
    left to itself Spark may broadcast the *array* table, shipping the
    whole corpus' shingles to every task; (b) the candidate subtree must be
    evaluated exactly once — so each pair explodes into two (pair, doc)
    rows, one broadcast join tags the shingle sets, and a regroup pairs
    them back up.

    The docs side is semi-join-pruned on the candidate ids *before* the
    shingle transform: candidates are a tiny fraction of the corpus, and
    without the prune the shingle arrays are materialized for every
    document only to be dropped at the join.  The second consumption of
    ``pairs`` this adds is nearly free — both consumers sit above the same
    shuffle exchange, which ReuseExchange evaluates once."""
    tagged = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("side_id")
    )
    cand_ids = tagged.select(F.col("side_id").alias(id_col)).distinct()
    sh = docs.join(F.broadcast(cand_ids), id_col, "semi").select(
        F.col(id_col), shingles_expr(F.col(text_col), n).alias("sh")
    )
    joined = sh.join(F.broadcast(tagged), sh[id_col] == tagged["side_id"])
    regrouped = joined.groupBy("id_a", "id_b").agg(
        F.first(F.when(F.col("side_id") == F.col("id_a"), F.col("sh")), True).alias("sh_a"),
        F.first(F.when(F.col("side_id") == F.col("id_b"), F.col("sh")), True).alias("sh_b"),
    )
    return regrouped.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
        ).alias("jaccard"),
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    one_perm: bool = False,
) -> DataFrame:
    """MinHash → LSH candidates → exact-Jaccard verify ≥ threshold.
    End-to-end near-duplicate pair detection (shingle→minhash→band→
    bucket-join→verify).  ``one_perm`` selects the densified
    one-permutation signature — faster cold (compile-light), slower
    steady-state; see ``minhash_signatures_opm`` for the measurements.
    The exact-Jaccard verify step makes signature noise a recall concern
    only, never precision."""
    rows_per_band = num_perm // bands
    make_sigs = minhash_signatures_opm if one_perm else minhash_signatures
    sigs = make_sigs(docs, id_col, text_col, num_perm, shingle_n)
    cand = lsh_candidate_pairs(sigs, id_col, "minhash", bands, rows_per_band)
    return jaccard_verify_pairs(cand, docs, id_col, text_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )


def jaccard_ngram_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard duplicate pairs within blocks: self-join on
    ``block_col`` (e.g. language), ``|∩| / (|A|+|B|−|∩|)`` over distinct
    word n-gram shingle sets, keep pairs ≥ threshold.  Fully deterministic
    — the SQL-oracle-able ground truth that the MinHash/SimHash sketch
    paths approximate.

    Scale shape — a *sparse* similarity join, never the quadratic block
    pair space: explode to hashed (doc, shingle) postings
    (``shingle_hash_postings``), self-join on the shingle, and count shared
    shingles per pair — only pairs that actually share ≥ 1 shingle are ever
    materialized (a blocked self-join + ``array_intersect`` formulation
    measured 150s at sf0.1; this shape runs in ~4s).  The union size comes
    from inclusion–exclusion with the per-doc set sizes, which ride ON the
    posting rows themselves (``with_size=True`` stamps each posting with
    its doc's distinct-shingle count at explode time) and fall out of the
    pair aggregation as ``first(sz)`` — no sizes relation exists at all.
    Earlier shapes joined an O(|corpus|)-row sizes side back in with a
    mandatory broadcast: an executor OOM at 1e9 docs, and an extra
    exchange even when small.  Work is Σ_shingle c² over posting-list
    lengths; partial aggregation collapses pair counts map-side.

    The self-join carries a ``merge`` hint: left to itself Spark broadcasts
    the postings and evaluates the posting subtree independently on both
    sides; with a shuffle join both sides' exchanges are identical and
    ReuseExchange computes the postings scan once.  Shingles are compared
    by 64-bit hash (cross-doc collision odds ~|corpus shingles|²/2⁶⁴ —
    immaterial)."""
    t = float(threshold)
    postings = shingle_hash_postings(
        docs, id_col, text_col, n, extra_cols=[block_col], with_size=True
    ).withColumnRenamed(block_col, "blk")
    a, b = postings.alias("a"), postings.alias("b")
    shared = (
        a.join(
            b.hint("merge"),
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.first("a.sz").alias("sz_a"),
            F.first("b.sz").alias("sz_b"),
        )
    )
    return (
        shared.select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_expr(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash of a text's word set, fully in codegen: per word a
    64-bit hash votes ±1 on every bit position; sign of each bit-sum forms
    the fingerprint.  Per-row computation — no shuffle, no UDF."""
    w = words_expr(text)
    h = F.transform(w, lambda s: F.xxhash64(s))

    def bit_component(b: int) -> Column:
        votes = F.aggregate(
            h,
            F.lit(0),
            lambda acc, x: acc
            + F.when(F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )

    return reduce(
        lambda a, c: a.bitwiseOR(c), [bit_component(b) for b in range(bits)]
    ).alias("simhash")


def simhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash-64 via explode → hash-aggregate: each word hashed once, the
    64 per-bit vote sums accumulate map-side, fingerprint assembled from
    the aggregated votes.  Materializing through the aggregation barrier
    also stops Catalyst re-inlining the 64-fold expression tree at every
    downstream reference (the pure-expression ``simhash_expr`` is kept for
    single-use column contexts).

    SWAR packing: instead of 64 ``sum(±1)`` aggregate buffers, the 64 bit
    counts ride in 32 longs of two 32-bit lanes each (bit ``2g+j`` of the
    word hash adds ``1 << 32j`` to packed sum ``g``) plus one row count;
    the ±1 vote for bit b is recovered exactly as ``2·bitcount_b − n``, so
    fingerprints are bit-identical to the unpacked form (asserted in
    tests).  Local wall time is flat (per-row ALU work is the same) but
    the partial-aggregation row shrinks 64→33 longs, i.e. the map-side
    partial shuffled per doc per partition drops 512 B → 264 B — the
    shuffle-width cut that matters at cluster scale.  32-bit lanes are
    deliberate over denser 16-bit ones: the lane accumulates a doc's
    TOTAL word count (final-merge adds partials into the same lanes), and
    Spark 4 runs ANSI mode where a lane overflow would throw mid-job —
    2³¹ words per doc is safely unreachable, 2¹⁶ (a long book) is not."""
    h = docs.select(
        F.col(id_col), F.explode(words_expr(F.col(text_col))).alias("w")
    ).select(F.col(id_col), F.xxhash64(F.col("w")).alias("h"))

    # Expressions built as SQL strings (one py4j round trip per lane /
    # one for the whole fingerprint) — the nested-Column form spent more
    # driver time on py4j chatter than the query spends executing at
    # sf0.1; results are bit-identical (asserted in tests).
    def lane_sql(g: int) -> str:
        parts = " | ".join(
            f"shiftleft(shiftright(h, {2 * g + j}) & CAST(1 AS BIGINT), {32 * j})"
            for j in range(2)
        )
        return f"sum({parts}) AS p{g}"

    votes = h.groupBy(id_col).agg(
        F.count("*").alias("n"), *[F.expr(lane_sql(g)) for g in range(32)]
    )
    terms = []
    for b in range(64):
        g, j = divmod(b, 2)
        cnt = f"(shiftright(p{g}, {32 * j}) & 4294967295)"
        terms.append(
            f"IF({cnt} * 2 > n, shiftleft(CAST(1 AS BIGINT), {b}), "
            f"CAST(0 AS BIGINT))"
        )
    fingerprint = F.expr(" | ".join(terms))
    return votes.select(F.col(id_col), fingerprint.alias("sh"))


def simhash_near_dup_pairs(
    docs: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup: block on 4 × 16-bit chunks (two fingerprints within
    hamming ≤ 3 must share ≥ 1 exact chunk) → verify hamming with
    bit_count(xor).  The chunk join is the only shuffle."""
    sh = simhash_signatures(docs, id_col, text_col)
    structs = ",".join(
        f"struct({c} AS chunk_id, shiftright(sh, {c * 16}) & 65535 AS chunk)"
        for c in range(4)
    )
    chunks = sh.select(
        id_col,
        "sh",
        F.expr(f"explode(array({structs}))").alias("cc"),
    ).select(id_col, "sh", "cc.chunk_id", "cc.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at least
    ``min_hits`` distinct word n-grams with an evaluation/benchmark set
    (the GPT-3/PaLM-style train-test overlap check).

    Shape for 100 TB: the eval side is benchmarks — tiny by construction —
    so its distinct gram set is computed once and **broadcast**; the corpus
    side is the same hashed-posting scan the dedup family shares
    (``shingle_hash_postings``: words hashed once, n-gram identity from
    adjacent word hashes, strings never leave the word stage).  The join is
    a broadcast hash semi-probe inside the corpus scan — no shuffle of the
    corpus by gram — and the per-doc rollup aggregates map-side.  Gram
    identity is xxhash64-based, so a hash collision could over-count by one
    gram; at 64 bits that is negligible at any corpus size.
    """
    ev = (
        shingle_hash_postings(eval_docs, id_col, text_col, n)
        .select("th")
        .distinct()
    )
    post = shingle_hash_postings(corpus, id_col, text_col, n)
    totals = post.groupBy(id_col).agg(F.count("*").alias("total_grams"))
    hits = (
        post.join(F.broadcast(ev), "th")
        .groupBy(id_col)
        .agg(F.count("*").alias("hit_grams"))
    )
    return (
        hits.join(totals, id_col)
        .where(F.col("hit_grams") >= min_hits)
        .select(
            F.col(id_col),
            F.col("hit_grams"),
            F.col("total_grams"),
            F.round(F.col("hit_grams") / F.col("total_grams"), 6).alias(
                "contam_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Segment-level (line-granularity) dedup — the C4/RefinedWeb pattern
# ---------------------------------------------------------------------------
def segment_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 20,
    keep_below: float = 0.5,
) -> DataFrame:
    """Sub-document dedup at fixed ``seg_words``-word segment granularity
    (the corpus has no line structure, so fixed windows stand in for the
    lines/paragraphs C4 and RefinedWeb deduplicate): a segment is
    *duplicated* when it appears verbatim in MORE THAN ONE document, and
    each doc reports its duplicated-segment fraction plus the
    ``keep = dup_frac < keep_below`` curation verdict — catching template
    boilerplate that whole-doc hashing misses (two different docs sharing
    a header never collide on the full-text hash).

    Emits (id, n_segs, n_dup_segs, dup_frac, keep); empty docs drop out
    (no segments).  Plan: segments stay JVM-side (sequence + slice +
    concat_ws under codegen); the duplicate census shuffles the 16-B md5
    of each segment, never its text (the exact_dedup convention), and the
    per-doc rollup is a second hash aggregate.  Cost is 2 shuffles of
    |segments| hash rows — linear, no pairwise anything.  The scan is
    spread first (``ensure_scan_parallelism``) so segmenting runs
    full-core on single-row-group inputs.
    """
    from crick_spark.functions.skew import ensure_scan_parallelism

    docs = ensure_scan_parallelism(docs)
    words = words_expr(F.col(text_col))
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    seg_texts = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * seg_words + 1, seg_words)
        ),
    )
    segs = docs.where(F.size(words) > 0).select(
        F.col(id_col),
        F.explode(seg_texts).alias("seg"),
    )
    hashed = segs.select(id_col, F.md5("seg").alias("seg_hash"))
    census = hashed.groupBy("seg_hash").agg(
        F.countDistinct(id_col).alias("n_docs_with_seg")
    )
    per_doc = (
        hashed.join(census, "seg_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_segs"),
            F.sum((F.col("n_docs_with_seg") > 1).cast("long")).alias(
                "n_dup_segs"
            ),
        )
    )
    dup_frac = F.col("n_dup_segs") / F.col("n_segs").cast("double")
    return per_doc.select(
        id_col,
        "n_segs",
        "n_dup_segs",
        F.round(dup_frac, 6).alias("dup_frac"),
        (dup_frac < F.lit(keep_below)).alias("keep"),
    )


def containment_ngram_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Exact ASYMMETRIC containment pairs: ``|A∩B| / |A|`` over distinct
    word n-gram shingle sets — the quote / partial-copy detector Jaccard
    misses (a short doc fully quoted inside a long one has tiny Jaccard
    but containment 1.0).  Emits ORDERED pairs (id_a is the contained
    side, both directions of each doc pair evaluated independently);
    self-pairs excluded.

    Same sparse posting-join shape and hash-compare convention as
    ``jaccard_ngram_pairs``, including the joinless size plumbing: the
    contained side's set size rides on its posting rows
    (``with_size=True``) and falls out of the pair aggregation as
    ``first(sz)`` — no O(|corpus|)-row sizes relation, no broadcast; only
    the final scoring differs, dividing by the contained side's size alone.
    """
    t = float(threshold)
    postings = shingle_hash_postings(
        docs, id_col, text_col, n, extra_cols=[block_col], with_size=True
    ).withColumnRenamed(block_col, "blk")
    a, b = postings.alias("a"), postings.alias("b")
    shared = (
        a.join(
            b.hint("merge"),
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"), F.first("a.sz").alias("sz_a"))
    )
    return (
        shared.select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("sz_a").cast("double")).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= t)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring spans — the suffix-array dedup signal of
# Lee et al., "Deduplicating Training Data Makes Language Models Better"
# (ACL 2022), re-expressed as rolling-window joins
# ---------------------------------------------------------------------------
def repeated_window_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 10,
) -> DataFrame:
    """Maximal spans of text whose every ``window_words``-word rolling
    window occurs MORE THAN ONCE in the corpus (any position, any doc —
    including self-repetition, the suffix-array convention): the exact
    sub-document repeat detector that whole-doc and fixed-segment
    hashing both miss, because a repeated passage can start anywhere.

    Returns (id, span_start, span_end, n_windows, lead_wh) in 1-based
    word positions, spans maximal (every pair of retained spans per doc
    is separated by at least one non-duplicated window start).
    ``lead_wh`` is the md5 of the span's LEADING ``window_words``-word
    window as the 16-byte binary digest (BinaryType; a 32-char hex
    string before r15) — the passage-family key
    ``remove_repeated_spans`` uses for corpus-wide keep-first, carried
    out of detection so the apply step never re-tokenizes the corpus.

    Plan: per doc, all n−L+1 rolling windows materialize ONLY as 16-byte
    md5 hashes (sequence + slice + concat_ws + md5 under codegen — the
    window TEXT never leaves the row).  The (id, start, hash) relation
    is materialized ONCE (eager ``localCheckpoint`` — executor-local
    storage, linear in |windows|) because it has TWO consumers: the
    census aggregate (occurrences per window hash; partial aggregation
    collapses repeats map-side) and the probe side of the semi-join that
    flows duplicated window STARTS back.  Without the checkpoint Spark
    re-executes the tokenize+slice+md5 explode once per consumer — the
    r7 plan showed two FileScan+Generate pairs and the double pass was
    the single most expensive registered query.  Duplicated starts merge
    into maximal spans with a gaps-and-islands running-max window
    partitioned BY DOC (never a global sort).  Cost: ONE corpus
    tokenize+hash pass, two shuffles of |windows| hash rows, a per-doc
    window — linear in corpus size, the Spark-native stand-in for the
    O(n) suffix array a single machine would build.  At 100 TB the
    census is the hot aggregation: Zipf-hot windows (boilerplate) are
    exactly what partial aggregation absorbs — each mapper emits one
    (hash, count) row however often the window repeats in its split.
    """
    from pyspark.sql import Window

    wins = _window_hash_rows(docs, id_col, text_col, window_words)
    # r15 (guide §2.4): the census + semi-join pair (two |windows|-row
    # exchanges and an eager checkpoint of the whole hash relation so
    # the explode ran once for both consumers — the r7 shape) collapses
    # to ONE count-over-wh-partition window: same duplicated-start row
    # set, one exchange, no materialization, single consumer chain.
    # A Zipf-hot window key lands its occurrences in one task — linear
    # buffering (spillable), never quadratic; MEASURED at sf0.1 (10M
    # windows): 1.6 s → 1.1 s for detection alone.
    occ = Window.partitionBy("wh")
    dup = (
        wins.withColumn("__occ__", F.count("*").over(occ))
        .where(F.col("__occ__") > 1)
        .drop("__occ__")
    )
    return _starts_to_spans(dup, id_col, window_words)


def _window_hash_rows(docs, id_col, text_col, window_words):
    """(id, start, wh) — every rolling ``window_words``-word window of
    every doc as a 16-byte md5, 1-based starts; the window TEXT never
    leaves its row (sequence + slice + concat_ws + md5, codegen).

    r15: wh is the ``unhex``-ed BINARY digest, not md5's 32-char hex
    string — bijective with it, so the duplicate/family structure (and
    every query output, which exposes only span positions and rebuilt
    text) is unchanged while the window relation — the machinery's
    dominant checkpoint and both its shuffles — carries 16 bytes per
    key instead of 32 (guide §2.3, narrower types)."""
    L = int(window_words)
    from crick_spark.functions.skew import ensure_scan_parallelism

    docs = ensure_scan_parallelism(docs)
    words = words_expr(F.col(text_col))
    n_win = F.size(words) - (L - 1)
    win_hashes = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.unhex(F.md5(F.concat_ws(" ", F.slice(words, i, L)))),
    )
    return docs.where(n_win >= 1).select(
        F.col(id_col), F.posexplode(win_hashes).alias("pos0", "wh")
    ).select(id_col, (F.col("pos0") + 1).alias("start"), "wh")


def _starts_to_spans(hits, id_col, window_words):
    """Gaps-and-islands merge of flagged window STARTS into maximal
    spans, partitioned BY DOC (never a global sort).  Emits
    (id, span_start, span_end, n_windows, lead_wh)."""
    from pyspark.sql import Window

    L = int(window_words)
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        id_col,
        "start",
        "wh",
        F.when(
            F.col("start") > F.coalesce(F.max("start").over(w_prev), F.lit(-L))
            + F.lit(L),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new_island__"),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        id_col,
        "start",
        "wh",
        F.sum("__new_island__").over(w_run).alias("__isl__"),
    )
    return islands.groupBy(id_col, "__isl__").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + F.lit(L - 1)).alias("span_end"),
        F.count("*").alias("n_windows"),
        F.min_by("wh", "start").alias("lead_wh"),
    ).select(id_col, "span_start", "span_end", "n_windows", "lead_wh")


def contaminated_window_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 10,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Maximal TRAIN-corpus spans whose every ``window_words``-word
    rolling window also occurs in the EVAL corpus — span-level
    benchmark decontamination (the minimal-span refinement of
    whole-doc n-gram decontamination: drop the contaminated PASSAGE,
    keep the document).  Cross-corpus twin of
    ``repeated_window_spans``: the census over train windows is
    replaced by a semi-join against the eval corpus's DISTINCT window
    hashes, everything else (rolling md5 windows, gaps-and-islands
    maximal-span merge per doc) is the same machinery.  Removal is
    ``remove_repeated_spans(docs, spans, keep_first=False)`` — every
    contaminated occurrence is cut; there is no family to keep.

    Scale shape: one tokenize+hash pass per corpus, the eval window set
    is |eval windows| distinct 16-byte hashes (eval corpora are small —
    benchmarks), one hash semi-join, a per-doc window.  No checkpoint:
    the train window relation has a single consumer here."""
    wins = _window_hash_rows(docs, id_col, text_col, window_words)
    ev = _window_hash_rows(
        eval_docs,
        eval_id_col or id_col,
        eval_text_col or text_col,
        window_words,
    ).select("wh").distinct()
    hit = wins.join(ev, "wh", "left_semi")
    return _starts_to_spans(hit, id_col, window_words)


def repeated_window_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 10,
    keep_below: float = 0.5,
) -> DataFrame:
    """Per-doc curation rollup of ``repeated_window_spans``: how much of
    each document is covered by corpus-repeated passages, and the keep
    verdict.  Emits (id, n_words, n_dup_spans, dup_words, dup_frac,
    keep) for EVERY non-empty doc — docs with no duplicated span (or too
    short to have a window) report zeros, keep = true."""
    spans = repeated_window_spans(docs, id_col, text_col, window_words)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_words"),
    )
    words = words_expr(F.col(text_col))
    base = docs.where(F.size(words) > 0).select(
        F.col(id_col), F.size(words).alias("n_words")
    )
    out = (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_words") / F.col("n_words"), 6),
        )
        .withColumn("keep", F.col("dup_frac") < F.lit(float(keep_below)))
    )
    return out


def remove_repeated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """APPLY step of exact repeated-substring dedup: rebuild each doc's
    text with its duplicated spans removed — the transform Lee et al.
    apply after detection (they report removing the repeated bytes
    beats dropping whole documents).

    ``keep_first=True`` retains each corpus-wide duplicate's FIRST
    occurrence (the span whose (doc id, start) is smallest among the
    spans sharing its LEADING ``window_words``-word window — the
    ``lead_wh`` column ``repeated_window_spans`` emits); every other
    occurrence in the family is cut, so one copy of every repeated
    passage survives corpus-wide.  Edge case (documented contract):
    occurrences of the same passage can be absorbed into maximal spans
    of DIFFERENT extents (a doc that repeats the passage twice
    back-to-back yields one long span); the family key is the shared
    leading window, so the retained first occurrence may be shorter or
    longer than the cut ones.  With ``keep_first=False`` every
    duplicated span is cut everywhere.

    Emits (id, text, n_words_removed).  Plan (keep-first): the family
    winner is ``min(struct(doc id, span_start))`` aggregated per
    ``lead_wh`` — a map-side-combinable hash aggregate, so a boilerplate
    passage repeated in millions of docs collapses to one row per
    mapper instead of landing every occurrence in a single rank-window
    reducer partition (the r7 skew hazard); cut spans are the
    winner-join anti-matches.  The lead hash rides in from detection —
    the corpus is NOT re-tokenized here.  Spans then aggregate to a
    per-doc removal list (array of [start, end] structs — bounded by
    spans-per-doc, KBs); the rebuild filters each doc's word positions
    against its list with an ``exists`` lambda — one id equi-join of
    the span lists onto the docs and one codegen projection; the corpus
    text is touched once.

    NOTE: the per-doc span-list join is an id equi-join with NO
    broadcast hint — span lists are corpus-scaled (one row per doc with
    dups), exactly the relation class the r6 verdict banned from forced
    broadcasts; AQE picks the strategy.  Same for the family-winner
    join (one row per distinct passage family — corpus-scaled).
    """
    if keep_first:
        if "lead_wh" not in spans.columns:
            raise ValueError(
                "keep_first=True needs the lead_wh column that "
                "repeated_window_spans emits (detection carries the "
                "family key so the apply step never re-tokenizes)"
            )
        winners = spans.groupBy("lead_wh").agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"),
                    F.col("span_start").alias("s"),
                )
            ).alias("__first__")
        )
        cut = (
            spans.join(winners, "lead_wh")
            .where(
                ~(
                    (F.col(id_col) == F.col("__first__.i"))
                    & (F.col("span_start") == F.col("__first__.s"))
                )
            )
            .select(id_col, "span_start", "span_end")
        )
    else:
        cut = spans.select(id_col, "span_start", "span_end")
    lists = cut.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans__")
    )
    words = words_expr(F.col(text_col))
    with_lists = docs.join(lists, id_col, "left")
    keep_words = F.filter(
        F.transform(words, lambda w, i: F.struct(w.alias("w"), (i + 1).alias("p"))),
        lambda s: ~F.exists(
            F.coalesce(F.col("__spans__"), F.array()),
            lambda sp: (s["p"] >= sp["span_start"]) & (s["p"] <= sp["span_end"]),
        ),
    )
    return with_lists.select(
        F.col(id_col),
        F.array_join(F.transform(keep_words, lambda s: s["w"]), " ").alias(
            text_col
        ),
        (F.size(words) - F.size(keep_words)).alias("n_words_removed"),
    )
