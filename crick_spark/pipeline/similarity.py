"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY §7.4):

* ``cosine_topk`` — brute-force exact baseline: per-row dot product via
  ``zip_with``/``aggregate`` (codegen, no UDF), global top-k via
  sort+limit on the *scored* rows.  O(n·d) scan, no shuffle until the
  final k-row ordering — fine up to ~10⁸ vectors per query batch.
* ``lsh_ann_topk`` — the scale path: random-hyperplane LSH buckets
  (sign-bit fingerprint, deterministic seed), candidates = query-bucket
  collisions (multi-probe over hamming-1 neighbors), exact rerank on the
  candidate set only.  Bucketing is an equi-join key → at 100 TB the
  pair space never materializes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crick_spark.driver_close import driver_close

# Max query-panel rows whose per-query ADC LUTs may be built driver-side
# (r13, VERDICT r12 #7).  Each LUT is m × ksub doubles (KBs), so 10k
# queries is comfortably bounded; beyond it the caller should chunk.
ANN_QUERY_PANEL_MAX = 10_000


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (float elements upcast exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.
    Deterministic tie-break on id for stable results."""
    q = _lit_vec(query_vec)
    qn = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    scored = embeddings.select(
        F.col(id_col),
        (dot_expr(F.col(vec_col), q) / (norm_expr(F.col(vec_col)) * F.lit(qn))).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates via a distributed block-pair
    (triangle) join: rows hash into ``n_blocks`` blocks, every unordered
    block pair becomes one task, and each task scores its two blocks with
    one vectorized numpy matmul (Arrow-batched ``applyInPandas``).

    Scale shape: each row is replicated ``n_blocks`` times (the classic
    O(n·√P) all-pairs replication), the O(n²) pair space exists only inside
    numpy and is filtered to survivors before leaving the task.  Per-task
    memory is 2 blocks × dim doubles — pick ``n_blocks`` so a block fits an
    executor.  This is the exact baseline; the sub-quadratic scale path for
    loose thresholds is LSH bucketing (``lsh_ann_topk``'s fingerprints) in
    place of hash blocking."""
    nb = int(n_blocks)
    t = float(threshold)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))
    replicated = (
        embeddings.select(F.col(id_col), F.col(vec_col), blk.alias("blk"))
        .withColumn(
            "bp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.least(F.col("blk"), F.lit(p)).alias("bi"),
                            F.greatest(F.col("blk"), F.lit(p)).alias("bj"),
                        )
                        for p in range(nb)
                    ]
                )
            ),
        )
        .select(F.col("bp.bi"), F.col("bp.bj"), "blk", id_col, vec_col)
    )

    def score_block_pair(key, pdf):
        import pandas as pd

        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["blk"] == bi]
        b = pdf[pdf["blk"] == bj] if bi != bj else a
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ma = np.asarray(a[vec_col].tolist(), dtype=np.float64)
        mb = np.asarray(b[vec_col].tolist(), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ii, jj = np.nonzero(sims >= t)
        ida = a[id_col].to_numpy()[ii]
        idb = b[id_col].to_numpy()[jj]
        cos = sims[ii, jj]
        if bi == bj:
            # same block: the matrix holds both (x,y) and (y,x) — keep one
            keep = ida < idb
            ida, idb, cos = ida[keep], idb[keep], cos[keep]
        else:
            # cross block: each unordered pair appears exactly once — order it
            ida, idb = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": ida, "id_b": idb, "cosine": cos})

    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(score_block_pair, "id_a long, id_b long, cosine double")
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((nbits, dim))


def lsh_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit fingerprint: bit i = 1 iff vec·planeᵢ > 0 (codegen)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot_expr(vec, _lit_vec(p.tolist())) > 0, 1).otherwise(0)
        bucket = bucket + F.shiftleft(bit.cast("long"), i)
    return bucket


def lsh_buckets_udf(planes_per_table: list[np.ndarray]):
    """Arrow-batched bucket computation: ONE numpy matmul per batch yields
    every table's sign-bit fingerprint (vs. nbits × num_tables interpreted
    ``aggregate`` folds — higher-order-function lambdas never reach
    codegen).  Returns a pandas UDF: embedding → array<long> of per-table
    buckets."""
    from pyspark.sql.functions import pandas_udf

    stacked = np.vstack(planes_per_table)  # (T*nbits, dim)
    nbits = planes_per_table[0].shape[0]
    ntables = len(planes_per_table)
    weights = (1 << np.arange(nbits, dtype=np.int64))

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        bits = (mat @ stacked.T) > 0  # (n, T*nbits)
        b = bits.reshape(len(mat), ntables, nbits) @ weights  # (n, T)
        return pd.Series(list(b))

    return buckets


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 12,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN: candidate = any of ``num_tables`` independent LSH
    tables matches the query's bucket (± hamming-1 probes), then exact
    cosine rerank on candidates only.

    Recall/cost is tuned by (nbits, num_tables): more tables → higher
    recall, bigger candidate set.  On weakly-clustered data (neighbors
    near orthogonal, like this synthetic fixture) recall is inherently
    capped — hyperplane collision probability per bit is 1−θ/π; real
    embedding corpora with close neighbors (cos ≳ 0.8) recall far better."""
    dim = len(query_vec)
    qv = np.asarray(query_vec, dtype=np.float64)
    planes_per_table = [
        _hyperplanes(dim, nbits, seed + 1000 * t) for t in range(num_tables)
    ]
    probe_sets = []
    for planes in planes_per_table:
        qbucket = int(weights_dot(qv, planes))
        probe_sets.append(
            [qbucket]
            + ([qbucket ^ (1 << i) for i in range(nbits)] if multiprobe else [])
        )
    buckets = lsh_buckets_udf(planes_per_table)
    with_buckets = embeddings.withColumn("__bk__", buckets(F.col(vec_col)))
    match = F.lit(False)
    for t, probes in enumerate(probe_sets):
        match = match | F.element_at(F.col("__bk__"), t + 1).isin(probes)
    cand = with_buckets.where(match).drop("__bk__")
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def weights_dot(qv: np.ndarray, planes: np.ndarray) -> int:
    """Query-side bucket (plain numpy, driver-side)."""
    bits = (planes @ qv) > 0
    return int(bits @ (1 << np.arange(planes.shape[0], dtype=np.int64)))


# ---------------------------------------------------------------------------
# Bulk ANN: a DataFrame of query vectors, one Spark job total (round 6).
# Every single-vector entry point above costs one job per query — a
# decontamination or kNN-graph user has 10^3..10^6 queries.  Bulk form =
# the join shape BM25 bulk got (retrieval.py): bucket equi-join on
# (table, bucket), then grouped exact rerank per query id.  Reference
# contract: the topk operator surface, crick/space_saving.pyx:304-341
# (top-k is first-class; bulk is its join form).
# ---------------------------------------------------------------------------
def bulk_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT bulk brute-force: broadcast the query panel against the
    corpus scan, per-pair cosine JVM-side, per-query top-k via one
    window.  O(nq·N) by construction — the documented exact baseline and
    the recall oracle for ``lsh_bulk_topk``; at 100 TB with large nq use
    the LSH form.  Returns (query_id, vec_id, cosine, rank)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qv__"),
            norm_expr(F.col(vec_col)).alias("__qn__"),
        )
    )
    scored = corpus.select(id_col, vec_col).crossJoin(q).select(
        query_id_col,
        id_col,
        (
            dot_expr(F.col(vec_col), F.col("__qv__"))
            / (norm_expr(F.col(vec_col)) * F.col("__qn__"))
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def lsh_bulk_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nbits: int = 12,
    num_tables: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    seed: int = 42,
    dim: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Bulk LSH ANN over a DataFrame of query vectors — ONE Spark job for
    the whole panel (vs one job per query in ``lsh_ann_topk``).

    A query with ZERO probe-stage candidates emits no rows (dropped, not
    padded — see ``_bulk_rerank``'s contract); left-join from the query
    panel when a row per query is required.

    Plan shape (the 100 TB one):
    1. BOTH sides get their per-table sign-bit fingerprints from the same
       Arrow one-matmul kernel (``lsh_buckets_udf``) with the same seed,
       so the bucket spaces align by construction.
    2. The corpus explodes to narrow (id, table, bucket) rows — vectors
       do NOT travel with the exploded side.
    3. Each query explodes to its probe set: per table the own bucket
       plus every hamming-1 neighbor (``bucket XOR (1<<i)``, codegen
       ``bitwiseXOR``) — ``num_tables·(nbits+1)`` rows per query.
    4. Candidates = equi-join on (table, bucket), distinct (query, id) —
       identical to the per-query path's "any table's bucket ∈ probes"
       predicate (equivalence asserted in tests on a 20-query panel).
    5. Exact rerank: candidates re-join the corpus for vectors, the
       query panel for query vectors (broadcast), then ONE grouped Arrow
       matmul per query id emits top-k with the shared tie-break
       (cosine desc, id asc).

    Returns (query_id, vec_id, cosine, rank)."""
    if dim is None:
        # bounded 1-row collect: hyperplanes need the dimensionality and
        # parquet schemas don't carry array lengths
        dim = len(queries.select(vec_col).first()[0])
    planes_per_table = [
        _hyperplanes(dim, nbits, seed + 1000 * t) for t in range(num_tables)
    ]
    buckets = lsh_buckets_udf(planes_per_table)

    corpus_bk = (
        corpus.select(id_col, buckets(F.col(vec_col)).alias("__bk__"))
        .select(id_col, F.posexplode("__bk__").alias("tbl", "bucket"))
    )
    masks = (
        F.array(F.lit(0), *[F.lit(1 << i) for i in range(nbits)])
        if multiprobe
        else F.array(F.lit(0))
    )
    query_probes = (
        queries.select(query_id_col, buckets(F.col(vec_col)).alias("__bk__"))
        .select(query_id_col, F.posexplode("__bk__").alias("tbl", "__qb__"))
        .select(
            query_id_col,
            "tbl",
            F.explode(masks).alias("__m__"),
            "__qb__",
        )
        .select(
            query_id_col,
            "tbl",
            F.col("__qb__").bitwiseXOR(F.col("__m__")).alias("bucket"),
        )
    )
    if broadcast_queries:
        query_probes = F.broadcast(query_probes)
    cand = (
        query_probes.join(corpus_bk, ["tbl", "bucket"])
        .select(query_id_col, id_col)
        .distinct()
    )

    return _bulk_rerank(
        cand, queries, corpus, k, query_id_col, id_col, vec_col,
        broadcast_queries,
    )


def _bulk_rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    broadcast_queries: bool,
) -> DataFrame:
    """Shared exact-rerank stage of every bulk ANN path: candidate
    (query, id) pairs re-join the corpus for vectors and the query panel
    for query vectors, then ONE grouped Arrow matmul per query id emits
    top-k with the engine-wide tie-break (cosine desc, id asc).

    CONTRACT — empty-candidate queries are DROPPED: a query whose probe
    stage found zero candidates produces no output rows at all, unlike
    the exact twin ``bulk_cosine_topk`` which always emits k rows per
    query.  This is inherent to the candidate-join shape (there is no
    row to carry the query through) and applies to every caller
    (``lsh_bulk_topk`` / ``ivf_bulk_topk`` / ``quantized_bulk_topk``).
    Callers computing per-query metrics must LEFT-join from the query
    panel and treat missing queries as recall 0 / empty result — the
    registered recall gates do exactly that (left join + coalesce)."""
    qpanel = queries.select(query_id_col, F.col(vec_col).alias("__qv__"))
    if broadcast_queries:
        qpanel = F.broadcast(qpanel)
    with_vecs = cand.join(corpus.select(id_col, vec_col), id_col).join(
        qpanel, query_id_col
    )

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_type}, {id_col} {id_type}, "
        "cosine double, rank int"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        # np.array (copy), not asarray: Arrow can hand the element over as
        # a zero-copy READ-ONLY view and the in-place normalize would throw
        qv = np.array(pdf["__qv__"].iloc[0], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-30)
        mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        cos = mat @ qv
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, -cos))[:k]
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[0],
                id_col: ids[order],
                "cosine": np.round(cos[order], 6),
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            }
        )

    return with_vecs.groupBy(query_id_col).applyInPandas(
        rerank, schema=out_schema
    )


def ivf_bulk_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Bulk IVF ANN (round 6): the whole query panel resolves in ONE job
    — each query's ``nprobe`` nearest centroids come from one Arrow
    matmul kernel (no driver-side per-query argsort loop), explode to
    (query, cluster) probe rows, equi-join the cluster-indexed corpus,
    grouped exact rerank.  The bulk twin of ``ivf_ann_topk`` exactly as
    ``lsh_bulk_topk`` is of ``lsh_ann_topk``; at 100 TB the corpus side
    is the write-time cluster-partitioned layout, so the probe join
    reads only the probed clusters' files.  A query whose probed
    clusters hold zero corpus rows emits no rows (``_bulk_rerank``'s
    dropped-query contract)."""
    from pyspark.sql.functions import pandas_udf

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )
    np_ = int(nprobe)

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32) for row in top])

    query_probes = queries.select(
        query_id_col, F.explode(probes(F.col(vec_col))).alias("ivf_cluster")
    )
    if broadcast_queries:
        query_probes = F.broadcast(query_probes)
    indexed = ivf_index(corpus.select(id_col, vec_col), centroids, vec_col)
    cand = query_probes.join(indexed, "ivf_cluster").select(
        query_id_col, id_col
    )
    return _bulk_rerank(
        cand, queries, corpus, k, query_id_col, id_col, vec_col,
        broadcast_queries,
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cluster-probed search
# ---------------------------------------------------------------------------
def _assign_udf(centroids: np.ndarray):
    """vector → nearest-centroid id, one numpy matmul per Arrow batch.
    Cosine metric: centroids and vectors are L2-normalized, so nearest
    centroid = argmax dot."""
    from pyspark.sql.functions import pandas_udf

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series((mat @ cn.T).argmax(axis=1).astype(np.int32))

    return assign


def train_ivf_centroids(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Distributed Lloyd k-means (the IVF coarse quantizer) as DataFrame
    iterations: assignment is an Arrow-batched matmul per partition,
    the update shuffles only (cluster, partial-sum, count) per partition —
    k×d doubles cross the wire per iteration, never the vectors.  The
    centroid matrix (k×d — KBs) lives driver-side between iterations,
    exactly like MLlib's implementation.

    Deterministic init (r5): farthest-first traversal (Gonzalez) over a
    hash-ordered sample — first seed is the hash-smallest id, each next
    seed the sample vector farthest (cosine) from all chosen so far,
    ties by id.  Spreads seeds like k-means++ without RNG (results must
    be reproducible for the oracle gates); measured on the recall panel
    it lifted IVF mean recall@10 vs the old hash-smallest-k seeding (the
    k smallest hashes can land in one neighborhood).  Sample size
    max(64·k, 2048) rows — k·d and sample·d both driver-trivial."""
    n_sample = max(64 * k, 2048)
    sample_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_sample)
        .collect()
    )
    smat = np.asarray([list(r[vec_col]) for r in sample_rows], dtype=np.float64)
    sn = smat / np.maximum(np.linalg.norm(smat, axis=1, keepdims=True), 1e-30)
    chosen = [0]  # hash-smallest id
    # min cosine similarity to any chosen seed, per sample row (lower =
    # farther); maximin picks the row whose best similarity is worst
    best_sim = sn @ sn[0]
    for _ in range(1, min(k, len(sn))):
        nxt = int(np.argmin(np.round(best_sim, 12)))  # ties → smallest index
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, sn @ sn[nxt])
    centroids = smat[chosen].copy()
    if len(centroids) < k:  # degenerate corpus smaller than k
        centroids = np.vstack([centroids] * ((k // len(centroids)) + 1))[:k]

    sum_schema = f"cluster int, psum array<double>, pcount long"

    for _ in range(n_iter):
        assign = _assign_udf(centroids)
        assigned = embeddings.select(
            assign(F.col(vec_col)).alias("cluster"), F.col(vec_col)
        )

        def partial_sums(pdfs):
            for pdf in pdfs:
                if pdf.empty:
                    continue
                mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                # Spherical k-means update (Dhillon & Modha 2001): average
                # the L2-normalized vectors, not the raw ones — assignment
                # is cosine, so a raw mean would bias centroids toward
                # large-norm members and misplace list boundaries.
                mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
                cl = pdf["cluster"].to_numpy()
                rows = []
                for c in np.unique(cl):
                    sel = mat[cl == c]
                    rows.append(
                        {
                            "cluster": int(c),
                            "psum": sel.sum(axis=0).tolist(),
                            "pcount": int(len(sel)),
                        }
                    )
                yield pd.DataFrame(rows, columns=["cluster", "psum", "pcount"])

        partials = assigned.mapInPandas(partial_sums, sum_schema).collect()
        sums = {}
        counts = {}
        for r in partials:
            c = r["cluster"]
            v = np.asarray(r["psum"], dtype=np.float64)
            sums[c] = sums.get(c, 0) + v
            counts[c] = counts.get(c, 0) + r["pcount"]
        for c, s in sums.items():
            centroids[c] = s / counts[c]
    return centroids


def ivf_index(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the IVF cluster id — at scale this is the *write-time* step:
    persist partitioned/bucketed by cluster so probes read only their
    clusters' files (cf. sources/layout.py)."""
    assign = _assign_udf(centroids)
    return embeddings.withColumn("ivf_cluster", assign(F.col(vec_col)))


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank centroids against the query driver-side, scan only
    the ``nprobe`` nearest clusters, exact cosine rerank on that candidate
    subset.  Cost = nprobe/k of the corpus per query; recall is tuned by
    nprobe (= brute force at nprobe = k)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = qv / np.linalg.norm(qv)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    probes = np.argsort(-(cn @ qn))[: int(nprobe)].tolist()
    indexed = ivf_index(embeddings, centroids, vec_col)
    cand = indexed.where(F.col("ivf_cluster").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_structure_stats(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Cluster-structure measurement — the batch form of
    ``ivf_layout_append``'s ``mean_top_cosine`` drift signal, and the
    gate for PQ ``by_residual`` (r11, VERDICT #2).

    Per row, one Arrow matmul against the (normalized) centroid matrix
    yields the full cosine profile; this keeps:

    - ``top_cos``    cosine to the nearest centroid (the drift signal),
    - ``margin``     top minus second-best cosine (separation: how
      decisively rows commit to one cell), and, with ``group_col`` (a
      known true-cluster label, fixtures only):
    - ``own_cos``    cosine to the labeled center,
    - ``hit``        1.0 when argmax == label (assignment accuracy).

    The per-row struct feeds a plain JVM-side ``groupBy`` — without
    ``group_col`` one global row, with it one row per label — so the
    whole measurement is one job, no shuffle of vectors.

    Reading the numbers (measured, ANN.md r11 clustered calibration):
    the driver testdata corpus — iid, structureless — sits at mean
    top_cos 0.388 against its own nlist=64 quantizer, and there plain
    PQ beats residual (0.425 vs 0.380 ADC-isolated recall@10, the r10
    retraction).  Genuinely clustered corpora measure top_cos 0.80–0.96
    and the ranking FLIPS: residual 0.345 vs plain 0.145 (tight MoG),
    0.500 vs 0.350 (loose).  Rule: measure THIS against the trained
    coarse quantizer; use ``by_residual=True`` when mean top_cos clears
    ~0.7, keep plain codes below it.  Read top_cos, not margin — with
    nlist above the true cluster count several cells tile one cluster,
    so margins are near-zero even when structure is strong."""
    from pyspark.sql.functions import pandas_udf

    cn = _l2_normalize(centroids.astype(np.float64))

    fields = "top_c int, top_cos double, margin double"
    if group_col is not None:
        fields += ", own_cos double, hit double"

    if group_col is None:

        @pandas_udf(f"struct<{fields}>")
        def profile(vecs: pd.Series) -> pd.DataFrame:
            mat = np.asarray(vecs.tolist(), dtype=np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-30
            )
            sims = mat @ cn.T
            order = np.argsort(-sims, axis=1, kind="stable")
            top = order[:, 0]
            rows = np.arange(len(mat))
            top_cos = sims[rows, top]
            second = sims[rows, order[:, 1]] if sims.shape[1] > 1 else top_cos
            return pd.DataFrame(
                {
                    "top_c": top.astype(np.int32),
                    "top_cos": top_cos,
                    "margin": top_cos - second,
                }
            )

        prof = embeddings.select(profile(F.col(vec_col)).alias("p"))
        return prof.agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("p.top_cos"), 6).alias("mean_top_cos"),
            F.round(F.avg("p.margin"), 6).alias("mean_margin"),
            F.round(F.min("p.top_cos"), 6).alias("min_top_cos"),
        )

    @pandas_udf(f"struct<{fields}>")
    def profile_g(vecs: pd.Series, groups: pd.Series) -> pd.DataFrame:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        order = np.argsort(-sims, axis=1, kind="stable")
        top = order[:, 0]
        rows = np.arange(len(mat))
        top_cos = sims[rows, top]
        second = sims[rows, order[:, 1]] if sims.shape[1] > 1 else top_cos
        g = groups.to_numpy().astype(np.int64)
        return pd.DataFrame(
            {
                "top_c": top.astype(np.int32),
                "top_cos": top_cos,
                "margin": top_cos - second,
                "own_cos": sims[rows, g],
                "hit": (top == g).astype(np.float64),
            }
        )

    prof = embeddings.select(
        F.col(group_col).alias("cluster"),
        profile_g(F.col(vec_col), F.col(group_col)).alias("p"),
    )
    return prof.groupBy("cluster").agg(
        F.count("*").alias("cnt"),
        F.round(F.avg("p.own_cos"), 6).alias("mean_intra_cos"),
        F.round(F.avg("p.top_cos"), 6).alias("mean_top_cos"),
        F.round(F.avg("p.hit"), 6).alias("assign_acc"),
    )


def choose_by_residual(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    threshold: float = 0.7,
) -> bool:
    """The r11 calibration made actionable: measure the corpus's cluster
    structure against its trained coarse quantizer and return the
    ``by_residual`` setting the ANN.md clustered-calibration table
    supports — residual PQ codebooks when mean top-cosine clears
    ``threshold`` (measured flip point between 0.388 where plain wins
    0.425/0.380 and 0.799 where residual wins 0.500/0.350), plain codes
    below.  One job (``ivf_structure_stats``); feed the result to
    ``train_pq_codebooks(..., centroids=centroids if chosen else None)``
    and the matching search-time flag.  At re-calibration time (the
    ``ivf_layout_append`` drift signal falling), re-run THIS — not a
    remembered setting."""
    row = ivf_structure_stats(embeddings, centroids, vec_col).collect()[0]
    return float(row["mean_top_cos"]) >= float(threshold)


def prototype_scores(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row prototypicality: the cosine to the NEAREST trained
    centroid, plus the assignment — the SSL-prototype difficulty score
    of Sorscher et al., *Beyond neural scaling laws: beating power law
    scaling via data pruning* (NeurIPS 2022).  High cosine = the row
    sits near its cluster's prototype (easy/redundant); low = far
    (hard/informative).  One Arrow matmul per batch against the
    broadcast centroid matrix (the ``ivf_structure_stats`` kernel, kept
    per-row here), stable argmax tie-break (lowest centroid id) so any
    engine reproduces the assignment exactly.  Appends
    ``(proto_cluster, proto_cos)``; no vector shuffle."""
    from pyspark.sql.functions import pandas_udf

    cn = _l2_normalize(centroids.astype(np.float64))

    @pandas_udf("struct<proto_cluster: int, proto_cos: double>")
    def score(vecs: pd.Series) -> pd.DataFrame:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        order = np.argsort(-sims, axis=1, kind="stable")
        top = order[:, 0]
        return pd.DataFrame(
            {
                "proto_cluster": top.astype(np.int32),
                "proto_cos": sims[np.arange(len(mat)), top],
            }
        )

    return embeddings.withColumn("__p", score(F.col(vec_col))).select(
        "*", F.col("__p.proto_cluster").alias("proto_cluster"),
        F.col("__p.proto_cos").alias("proto_cos")
    ).drop("__p")


def prune_by_prototypicality(
    embeddings: DataFrame,
    centroids: np.ndarray,
    keep_fraction: float = 0.5,
    keep: str = "hard",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototypicality data pruning (Sorscher et al. 2022): score every
    row by cosine to its nearest centroid, then keep ``keep_fraction``
    of each cluster — ``keep="hard"`` retains the LOW-cosine tail (the
    paper's choice for large datasets, where redundant easy examples
    dominate), ``keep="easy"`` the high-cosine head (their small-data
    regime).  Per-cluster (not global) selection preserves cluster
    balance — pruning globally by score would empty tight clusters
    first.

    Deterministic and SQL-oracle-able: ranking is (score, id)-ordered
    with ceil(fraction·n) kept per cluster, so the exact selected set
    reproduces in any engine.  Plan: one Arrow matmul + one window per
    cluster partition — the same two shuffles at any corpus size; at
    100 TB the centroid matrix is a broadcast literal and the window
    partitions by cluster id, never by vector."""
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    from pyspark.sql import Window

    scored = prototype_scores(embeddings, centroids, vec_col)
    order = (
        [F.asc("proto_cos"), F.asc(id_col)]
        if keep == "hard"
        else [F.desc("proto_cos"), F.asc(id_col)]
    )
    w = Window.partitionBy("proto_cluster")
    ranked = scored.withColumn(
        "__rn", F.row_number().over(w.orderBy(*order))
    ).withColumn("__n", F.count("*").over(w))
    # Round the product to 1e-9 before ceil: binary-float products of
    # non-dyadic fractions (0.3 * 10 -> 3.0000000000000004) would
    # otherwise ceil one row past the decimal intent (ADVICE r12).
    return ranked.where(
        F.col("__rn")
        <= F.ceil(F.round(F.lit(float(keep_fraction)) * F.col("__n"), 9))
    ).drop("__rn", "__n")


def choose_search_params(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    threshold: float = 0.7,
    target_recall: float | None = None,
) -> dict:
    """The full search-time tuner (r12, VERDICT r11 #6):
    ``choose_by_residual`` made the CODEBOOK decision actionable; this
    makes the two search knobs — nprobe and the rerank pool — follow
    the same one-job structure measurement instead of hand-set rules
    of thumb.

    Measured rule (ANN.md, nlist=64 calibration):

    - **clustered** (mean top-cos ≥ ``threshold``): a query's true
      neighbors concentrate in few cells — nprobe=4 of 64 (1/16 of the
      lists) already measured 0.995/0.965 recall@10 on the tight/loose
      MoG corpora, and residual-PQ shortlists are clean enough that a
      small rerank pool suffices.  → ``nprobe = max(1, nlist/16)``,
      ``rerank_factor = 2``, ``by_residual = True``.
    - **structureless** (below it): recall tracks raw list coverage —
      4/8/16 of 64 lists measured 0.435/0.565/0.720 on the iid corpus —
      and plain-ADC shortlists are noisy (0.425 ADC-isolated recall at
      pool=k), so budget a quarter of the lists and a deep rerank.
      → ``nprobe = max(4, nlist/4)``, ``rerank_factor = 8``,
      ``by_residual = False``.

    One ``ivf_structure_stats`` job; re-run at re-calibration time
    (the ``ivf_layout_append`` drift signal falling), not remembered.
    Returns ``{mean_top_cos, by_residual, nprobe, rerank_factor}`` —
    feed nprobe to the IVF search/layout probes, rerank_factor to the
    PQ/quantized rerank pool, by_residual to ``train_pq_codebooks``.

    ``target_recall`` (r14, VERDICT r13 #3 — quality-gate mode): when a
    caller must MEET a recall bar rather than spend a budget, pass the
    bar and the structureless branch raises its knobs to deterministic
    FLOORS derived from the measured coverage law instead of the
    budget rule of thumb.  On structureless corpora recall tracks raw
    list coverage, so nprobe floors at ``ceil((target+0.05)·nlist)``
    coverage (the +0.05 margin is the measured slack: 0.75 coverage
    gave 0.82 mean / 0.70 min recall@10 at sf0.1 and 0.98/0.90 at
    sf0.01 on the iid corpus — the same corpus where the sf0.01-tuned
    budget knobs undercovered 10× data, the r13 sweep's regime bug),
    and the PQ rerank pool floors at 16× (plain-ADC shortlists are
    noisy at this dim).  Clustered corpora already measure 0.995/0.965
    recall@10 at the default nprobe, comfortably over any bar this
    mode is meant for, so that branch is unchanged.  The knobs are
    derived from nlist + measured structure only — no corpus-size
    constants — so the same call stays green across scale changes."""
    row = ivf_structure_stats(embeddings, centroids, vec_col).collect()[0]
    s = float(row["mean_top_cos"])
    nlist = int(len(centroids))
    clustered = s >= float(threshold)
    if clustered:
        nprobe = max(1, round(nlist / 16))
        rerank_factor = 2
    else:
        nprobe = max(4, round(nlist / 4))
        rerank_factor = 8
    if target_recall is not None and not clustered:
        import math

        coverage = min(1.0, float(target_recall) + 0.05)
        nprobe = max(nprobe, math.ceil(coverage * nlist))
        rerank_factor = max(rerank_factor, 16)
    return {
        "mean_top_cos": s,
        "by_residual": clustered,
        "nprobe": min(nprobe, nlist),
        "rerank_factor": rerank_factor,
    }


# ---------------------------------------------------------------------------
# Scalar (int8) quantization: the memory-scale path for 100 TB ANN
# ---------------------------------------------------------------------------
def _half_up(x: float) -> int:
    """ROUND_HALF_UP (away from zero) — Spark's F.round semantics, so
    driver-side query codes match JVM-side corpus codes exactly."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))
def quantization_params(emb: DataFrame, vec_col: str = "embedding") -> tuple[float, float]:
    """Global symmetric int8 range: one tiny aggregate over per-row
    min/max (array ops, codegen) — broadcast back as literals."""
    row = emb.agg(
        F.min(F.array_min(F.col(vec_col))).alias("lo"),
        F.max(F.array_max(F.col(vec_col))).alias("hi"),
    ).collect()[0]
    return float(row["lo"]), float(row["hi"])


def quantize_expr(vec: Column, lo: float, hi: float) -> Column:
    """Map each float element to an int8 code in [-127, 127]: code =
    round((x - mid) / half * 127).  4× memory cut (16× vs f64), one
    multiply to dequantize approximately."""
    mid, half = (hi + lo) / 2.0, (hi - lo) / 2.0 or 1.0
    return F.transform(
        vec,
        lambda x: F.round((x.cast("double") - F.lit(mid)) / F.lit(half) * 127)
        .cast("int"),
    )


def quantized_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_factor: int = 4,
) -> DataFrame:
    """Quantized-scan ANN: score every row with the int8 codes (integer
    dot product — ¼ the scan bytes of f32, the reason quantization is
    the 100 TB memory play), keep ``rerank_factor·k`` candidates, then
    exact-rerank the survivors with full-precision cosine.  Same
    plan shape as the brute-force baseline (scan → per-row expression →
    global top-m), so recall cost is visible and bounded by the rerank
    pool; recall vs exact is asserted in tests."""
    lo, hi = quantization_params(emb, vec_col)
    mid, half = (hi + lo) / 2.0, (hi - lo) / 2.0 or 1.0
    # HALF_UP to match quantize_expr's F.round (Python's round() is
    # banker's/HALF_EVEN — boundary codes would differ from the
    # corpus-side and bulk encodings)
    qcodes = [_half_up((float(v) - mid) / half * 127) for v in query_vec]
    qlit = F.array(*[F.lit(c) for c in qcodes])
    coded = emb.select(
        id_col,
        vec_col,
        quantize_expr(F.col(vec_col), lo, hi).alias("codes"),
    )
    scored = coded.select(
        id_col,
        vec_col,
        F.aggregate(
            F.zip_with(
                F.col("codes"), qlit, lambda x, y: (x * y).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qscore"),
    )
    pool = scored.orderBy(F.desc("qscore"), id_col).limit(rerank_factor * k)
    qv = _lit_vec(query_vec)
    return (
        pool.select(
            id_col,
            (
                dot_expr(F.col(vec_col), qv)
                / (norm_expr(F.col(vec_col)) * norm_expr(qv))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


def quantized_bulk_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    rerank_factor: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk int8-quantized ANN (round 6 — completes the bulk family):
    ONE corpus scan scores every (query, row) pair on int8 codes (¼ the
    scan bytes — the 100 TB memory play, amortized over the whole panel
    instead of re-scanned per query), a per-query window keeps the
    ``rerank_factor·k`` shortlist, and the shared ``_bulk_rerank``
    finishes with exact cosine.  Query codes come from the same
    ``quantize_expr`` as the corpus (one quantization contract, HALF_UP
    rounding both sides).  Returns (query_id, vec_id, cosine, rank);
    empty-shortlist queries emit no rows (``_bulk_rerank``'s
    dropped-query contract)."""
    from pyspark.sql import Window

    lo, hi = quantization_params(corpus, vec_col)
    qpanel = F.broadcast(
        queries.select(
            query_id_col,
            quantize_expr(F.col(vec_col), lo, hi).alias("__qcodes__"),
        )
    )
    coded = corpus.select(
        id_col, quantize_expr(F.col(vec_col), lo, hi).alias("codes")
    )
    scored = coded.crossJoin(qpanel).select(
        query_id_col,
        id_col,
        F.aggregate(
            F.zip_with(
                F.col("codes"), F.col("__qcodes__"), lambda x, y: (x * y).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qscore"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("qscore"), F.col(id_col).asc()
    )
    pool = (
        scored.withColumn("__rk__", F.row_number().over(w))
        .where(F.col("__rk__") <= int(rerank_factor) * int(k))
        .select(query_id_col, id_col)
    )
    return _bulk_rerank(
        pool, queries, corpus, k, query_id_col, id_col, vec_col, True
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination (round 6) — the
    semantic twin of ``dedup.decontaminate``: flag corpus items whose
    max cosine to ANY eval/benchmark vector reaches ``threshold``,
    catching paraphrased eval leakage that shares no n-grams.

    Returns (id, max_eval_cosine, contaminated) for every corpus row.

    100 TB shape: the eval side is benchmarks — tiny by construction —
    so it BROADCASTS and the whole check is one corpus scan with
    |eval| JVM dot products per row and a map-side max rollup; no
    shuffle of the corpus, no UDF, fully SQL-oracle-able.  For huge eval
    panels swap the scan for ``lsh_bulk_topk(eval, corpus)`` and flag
    bucket-join survivors (the documented sub-quadratic path)."""
    t = float(threshold)
    ev = F.broadcast(
        eval_embeddings.select(
            F.col(vec_col).alias("__ev__"),
            norm_expr(F.col(vec_col)).alias("__evn__"),
        )
    )
    cos = dot_expr(F.col(vec_col), F.col("__ev__")) / (
        norm_expr(F.col(vec_col)) * F.col("__evn__")
    )
    return (
        corpus.select(id_col, vec_col)
        .crossJoin(ev)
        .groupBy(id_col)
        .agg(F.max(cos).alias("max_eval_cosine"))
        .select(
            id_col,
            F.round("max_eval_cosine", 6).alias("max_eval_cosine"),
            (F.col("max_eval_cosine") >= t).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster embeddings
# with the IVF coarse quantizer, then dedup WITHIN each cluster — the
# embedding-space analog of MinHash near-dup removal, catching paraphrases
# that share no n-grams.
# ---------------------------------------------------------------------------
SEMANTIC_DEDUP_SCHEMA_SUFFIX = (
    "cluster int, keep boolean, max_sim_kept double"
)


def semantic_dedup(
    embeddings: DataFrame,
    eps: float = 0.9,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    max_cluster_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-cluster the corpus (reusing
    the IVF quantizer), then greedily keep/remove within each cluster —
    an item is removed when its cosine to an already-kept item of the
    same cluster is ≥ ``eps``.  Keep-priority follows the paper: items
    LEAST similar to their centroid are kept first (diversity-preserving
    choice, SemDeDup §3), ties broken by id for determinism.

    Returns (id, cluster, keep, max_sim_kept) — max_sim_kept is the max
    cosine to any kept item examined before this row (NULL for the first
    row of a cluster), so keep ≡ (max_sim_kept is NULL or < eps) by
    construction and the query layer re-verifies the witness property
    with an independent Spark-expression join.

    100 TB shape: the O(n²) pair space never materializes globally —
    clustering costs one Arrow matmul pass per k-means iteration
    (k×d partial sums cross the wire, never vectors), and the pairwise
    work is Σ_c |c|² inside per-cluster numpy, embarrassingly parallel
    across clusters.  Pick k ≈ N/5k so each cluster's sim matrix fits an
    executor — exactly the published SemDeDup cost model.

    Mega-cluster guard (round 6 — ENFORCED, no longer just documented):
    AQE's skew split cannot subdivide a groupBy key, so a degenerate
    corpus collapsing into one k-means cluster used to make one task do
    O(n²) work.  Clusters above ``max_cluster_rows`` are re-sharded by a
    coarse hyperplane-LSH band key (just enough sign bits to bring every
    shard's EXPECTED size under the cap) and the greedy rule runs within
    each (cluster, band) shard.  Because the band key is locality
    sensitive, near-duplicate pairs (the ones dedup must catch) land in
    the same band with probability (1 − θ/π)^nbits — high at the eps
    regimes SemDeDup uses — so the recall delta is the LSH miss
    probability on pairs split across bands; pairs in different bands
    are simply not compared (same accepted trade as MinHash banding).
    Residual caveat: a flood of IDENTICAL vectors shares one band by
    construction and still concentrates — those are exact duplicates,
    caught upstream by exact/MinHash dedup before the semantic pass.
    Set ``max_cluster_rows=None`` to disable (exact within-cluster
    semantics, the pre-round-6 behavior).
    """
    e = float(eps)
    if centroids is None:
        centroids = train_ivf_centroids(embeddings, k=k, vec_col=vec_col, id_col=id_col)
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )
    indexed = ivf_index(embeddings.select(id_col, vec_col), centroids, vec_col)

    # mega-cluster guard: re-shard oversized clusters by a coarse LSH
    # band so no single task sees more than ~max_cluster_rows rows.
    # The per-cluster histogram is k rows — driver-trivial at any scale.
    indexed = indexed.withColumn("__shard__", F.lit(0))
    if max_cluster_rows is not None:
        sizes = {
            r["ivf_cluster"]: r["cnt"]
            for r in indexed.groupBy("ivf_cluster")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        oversized = {c for c, n in sizes.items() if n > max_cluster_rows}
        if oversized:
            import math

            worst = max(sizes[c] for c in oversized)
            shard_bits = max(
                1, math.ceil(math.log2(worst / max_cluster_rows))
            )
            band = lsh_buckets_udf(
                [_hyperplanes(centroids.shape[1], shard_bits, seed=777)]
            )
            indexed = indexed.withColumn(
                "__shard__",
                F.when(
                    F.col("ivf_cluster").isin(list(oversized)),
                    F.element_at(band(F.col(vec_col)), 1),
                ).otherwise(F.lit(0)),
            )

    # id dtype follows the input column (string corpus keys are normal
    # for embedding tables), not a hardcoded long
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, " + SEMANTIC_DEDUP_SCHEMA_SUFFIX

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        cl = int(pdf["ivf_cluster"].iloc[0])
        mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        ids = pdf[id_col].to_numpy()
        cent_sim = mat @ cn[cl]
        # keep-priority: ascending centroid-similarity, then id
        order = np.lexsort((ids, np.round(cent_sim, 12)))
        sims = mat @ mat.T
        keep = np.zeros(len(ids), dtype=bool)
        max_sim = np.full(len(ids), np.nan)
        kept_idx: list[int] = []
        for i in order:
            if kept_idx:
                ms = float(sims[i, kept_idx].max())
                max_sim[i] = ms
                keep[i] = ms < e
            else:
                keep[i] = True
            if keep[i]:
                kept_idx.append(i)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": cl,
                "keep": keep,
                "max_sim_kept": max_sim,
            }
        )

    return indexed.groupBy("ivf_cluster", "__shard__").applyInPandas(
        dedup_cluster, schema=out_schema
    )


# ---------------------------------------------------------------------------
# PCA over an embedding column — distributed covariance, driver eigh,
# Arrow projection kernel
# ---------------------------------------------------------------------------
def covariance_stats(
    df: DataFrame, vec_col: str = "embedding", ddof: int = 1
):
    """(n, mean[d], cov[d,d]) of an ``array<float>`` column, computed from
    per-partition moment partials: each partition ships exactly
    (count, Σx: d floats, Σxxᵀ: d² floats) — the k×d-partial-sums shape
    the IVF k-means trainer uses; vectors never cross the wire.  Partials
    are combined on the driver in sorted partition order so the result is
    bit-deterministic run to run.  d is embedding-sized (64–4096), so the
    d² partial is KBs–MBs per partition and the driver fold is trivial.
    """
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("pid", LongType()),
            StructField("n", LongType()),
            StructField("s", BinaryType()),
            StructField("ss", BinaryType()),
        ]
    )

    def partials(batches):
        import pandas as pd  # noqa: F811

        n = 0
        s = None
        ss = None
        first_pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if first_pid is None:
                # stable per-partition tag for the deterministic driver
                # fold: the minimum row hash of the partition's vectors
                first_pid = int(
                    np.bitwise_xor.reduce(
                        np.frombuffer(X[0].tobytes(), dtype=np.int64)
                    )
                )
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                [
                    {
                        "pid": first_pid,
                        "n": n,
                        "s": s.tobytes(),
                        "ss": ss.tobytes(),
                    }
                ]
            )

    rows = df.select(vec_col).mapInPandas(partials, schema).collect()
    if not rows:
        raise ValueError("covariance_stats: empty input")
    # full-byte sort key: pid ties (two partitions whose first
    # vectors hash equal) must still fold in a run-stable order
    rows = sorted(rows, key=lambda r: (r["pid"], r["n"], bytes(r["s"])))
    n = sum(r["n"] for r in rows)
    d = len(np.frombuffer(rows[0]["s"], dtype=np.float64))
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:
        s += np.frombuffer(r["s"], dtype=np.float64)
        ss += np.frombuffer(r["ss"], dtype=np.float64).reshape(d, d)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / max(n - ddof, 1)
    return n, mean, cov


def pca_components(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
):
    """Top-k principal components of an embedding column.

    Returns (mean[d], components[k,d], eigvals[k], explained_ratio[k]):
    eigendecomposition of the distributed covariance happens on the
    driver (d×d, embedding-sized — NOT data-sized), with the canonical
    sign fix (largest-|coordinate| entry made positive) so components
    are deterministic despite eigenvector sign ambiguity."""
    n, mean, cov = covariance_stats(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals_k = vals[order]
    comps = vecs[:, order].T  # (k, d)
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    ratio = vals_k / total_var if total_var > 0 else np.zeros_like(vals_k)
    return mean, comps, vals_k, ratio


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pc",
) -> DataFrame:
    """Project every vector onto the components: one Arrow-batched matmul
    per batch, (μ, V) shipped in the task closure (k·d floats)."""
    from pyspark.sql.types import ArrayType, DoubleType

    V = components.astype(np.float64)
    mu = mean.astype(np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64) - mu
        P = X @ V.T
        return pd.Series(list(P))

    return df.select(id_col, proj(F.col(vec_col)).alias(out_col))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — ADC scan + exact rerank
# ---------------------------------------------------------------------------
def train_pq_codebooks(
    emb: DataFrame,
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 16,
    sample_rows: int = 10_000,
    seed: int = 42,
    iters: int = 10,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace k-means codebooks (Jégou, Douze, Schmid, *Product
    quantization for nearest neighbor search*, TPAMI 2011): the d-dim
    space splits into ``m`` contiguous subspaces and each gets its own
    ``ksub``-centroid codebook, so a vector compresses to m small codes
    (m·log2(ksub) bits) while distances remain computable per subspace.

    With ``centroids`` (the IVF coarse quantizer), codebooks are trained
    on RESIDUALS x_norm − c(x) — FAISS ``by_residual=true`` (r9):
    residual vectors are concentrated around the origin, so the same
    code budget quantizes a much smaller cell and ADC error drops;
    encode/search must then use the same centroids (``pq_encode`` /
    ``ivfpq_bulk_topk`` residual mode).

    Training runs on a BOUNDED deterministic sample (orderBy(xxhash64)
    + limit — one job, ≤ sample_rows·d floats to the driver), the FAISS
    practice: codebooks are statistics of the distribution, not of every
    row, so sampling loses nothing while keeping the trainer
    driver-local; the full-corpus pass is the ENCODE step, which is
    distributed.  Seeded greedy k-means++ init + fixed Lloyd iterations
    → bit-deterministic codebooks.  Returns (m, ksub, dsub)."""
    sample = (
        emb.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("string")))
        .limit(sample_rows)
        .collect()
    )
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in sample])
    X = _l2_normalize(X)
    if centroids is not None:
        cn = _l2_normalize(centroids.astype(np.float64))
        X = X - cn[(X @ cn.T).argmax(axis=1)]
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # k-means++ seeding (deterministic rng)
        cent = [S[int(rng.integers(0, n))]]
        for _ in range(ksub - 1):
            d2 = np.min(
                ((S[:, None, :] - np.asarray(cent)[None, :, :]) ** 2).sum(-1),
                axis=1,
            )
            p = d2 / d2.sum() if d2.sum() > 0 else None
            cent.append(S[int(rng.choice(n, p=p))])
        C = np.asarray(cent)
        for _ in range(iters):
            a = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(0)
        books[j] = C
    return books


def _l2_normalize(X: np.ndarray) -> np.ndarray:
    """Row-normalize; zero vectors stay zero.  PQ here targets COSINE
    ranking: codebooks/codes live on the unit sphere so the ADC dot
    product is proportional to cosine — without this, corpora with
    varying norms rank by dot and the rerank pool misses true cosine
    neighbors (caught by the pytest's clustered-unnormalized corpus)."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Distributed PQ encoding: one Arrow-batched pass assigns each
    subvector its nearest codebook centroid — output (id, vec, codes:
    array<int> of length m).  The codebooks ship in the task closure
    (m·ksub·dsub floats, KBs).

    With ``centroids``, codes quantize the RESIDUAL x_norm − c(x)
    (FAISS ``by_residual``, r9): the coarse assignment is recomputed
    inside the same Arrow batch from the shared normalized-centroid
    matrix — the identical argmax ``_assign_udf``/``ivf_index`` use, so
    encode and probe agree on the cluster without a join."""
    from pyspark.sql.types import ArrayType, IntegerType

    B = codebooks.astype(np.float64)
    m, ksub, dsub = B.shape
    cn = None if centroids is None else _l2_normalize(centroids.astype(np.float64))

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        X = _l2_normalize(np.stack(vecs.to_numpy()).astype(np.float64))
        if cn is not None:
            X = X - cn[(X @ cn.T).argmax(axis=1)]
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            # ||s-c||² = ||s||² - 2s·c + ||c||²; argmin over c drops ||s||²
            d2 = -2.0 * (S @ B[j].T) + (B[j] ** 2).sum(1)[None, :]
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return emb.select(id_col, vec_col, encode(F.col(vec_col)).alias("codes"))


def pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC): the query stays
    full-precision; a driver-built m×ksub lookup table of subspace dot
    products turns each row's score into m table lookups + a sum — the
    scan reads m·log2(ksub) BITS per vector (16 subspaces × 16 centroids
    = 8 bytes vs 256 for f32: a 32× scan-byte reduction, the reason PQ
    is the billion-vector memory play; panel recall 0.955 mean / 0.80
    min at this setting vs 0.755/0.50 at 8 subspaces — ANN.md).  Top rerank_factor·k ADC
    candidates are exact-reranked with full-precision cosine (the
    quantized_cosine_topk protocol, so recall cost is bounded by the
    pool and measured by the recall gate)."""
    if codebooks is None:
        codebooks = train_pq_codebooks(emb, vec_col, m=m, ksub=ksub)
    B = codebooks
    m_, ksub_, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.stack(
        [B[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m_)]
    )  # (m, ksub) partial dot products

    coded = pq_encode(emb, B, id_col, vec_col)

    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy())
        return pd.Series(lut[np.arange(m_)[None, :], C].sum(1))

    pool = (
        coded.select(id_col, vec_col, adc(F.col("codes")).alias("qscore"))
        .orderBy(F.desc("qscore"), id_col)
        .limit(rerank_factor * k)
    )
    qv = _lit_vec(list(query_vec))
    return (
        pool.select(
            id_col,
            (
                dot_expr(F.col(vec_col), qv)
                / (norm_expr(F.col(vec_col)) * norm_expr(qv))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF write-time layout: cluster-partitioned corpus, partition-pruned probes
# ---------------------------------------------------------------------------
def write_ivf_layout(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus Hive-partitioned by IVF cluster id — the
    write-time step ``ivf_index``'s docstring promises: at 100 TB the
    inverted file IS the directory layout, so a probe of ``nprobe``
    clusters is a partition-pruned scan of nprobe/k of the corpus files,
    not a full scan filtered after the fact."""
    ivf_index(corpus.select(id_col, vec_col), centroids, vec_col).write.mode(
        "overwrite"
    ).partitionBy("ivf_cluster").parquet(path)


def ivf_bulk_topk_from_layout(
    spark,
    queries: DataFrame,
    layout_path: str,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_probed: bool = False,
) -> DataFrame:
    """Bulk IVF ANN over a ``write_ivf_layout`` directory: the panel's
    probed-cluster set (≤ |panel|·nprobe ints — bounded metadata, never
    vectors) is resolved driver-side and applied as a LITERAL isin
    predicate on the partition column, so the parquet scan carries a
    PartitionFilter and unprobed clusters' files are never opened
    (asserted structurally in tests).  Candidate generation and rerank
    are then exactly ``ivf_bulk_topk``'s shape over the pruned scan;
    results are identical to the in-memory path for the same corpus and
    centroids (tested).

    ``return_probed=True`` returns ``(df, probed_clusters)`` — callers
    that verify pruning count the ACTUAL probe list instead of parsing
    the plan rendering (which flips between ``INSET`` and ``IN (…)``
    at ``spark.sql.optimizer.inSetConversionThreshold``)."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )
    np_ = int(nprobe)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32) for row in top])

    query_probes = queries.select(
        query_id_col, F.explode(probes(F.col(vec_col))).alias("ivf_cluster")
    ).localCheckpoint(eager=True)  # probes compute once: isin + join reuse
    probed = sorted(
        r["ivf_cluster"]
        for r in query_probes.select("ivf_cluster").distinct().collect()
    )
    pruned = spark.read.parquet(layout_path).where(
        F.col("ivf_cluster").isin(probed)
    )
    cand = (
        F.broadcast(query_probes)
        .join(pruned, "ivf_cluster")
        .select(query_id_col, id_col)
    )
    corpus_vecs = pruned.select(id_col, vec_col)
    out = _bulk_rerank(
        cand, queries, corpus_vecs, k, query_id_col, id_col, vec_col, True
    )
    return (out, probed) if return_probed else out


def ivf_layout_append(
    new_batch: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
    by_residual: bool = False,
) -> dict:
    """Fold a micro-batch of new vectors into an existing
    ``write_ivf_layout`` directory — continuous-ingestion maintenance
    of the inverted-file index (r9): a 100 TB training-data pipeline
    ingests embeddings continuously, and rebuilding the layout per
    batch re-shuffles the resident corpus; appending does not.

    The batch takes the SAME deterministic assignment as the resident
    layout (one Arrow matmul against the frozen centroid matrix), is
    hash-repartitioned so each touched cluster gets exactly one new
    file per fold, and lands via ``mode("append")`` + dynamic
    partition dirs — resident files are never opened, never rewritten
    (pytest-pinned byte-identical).  Readers
    (``ivf_bulk_topk_from_layout``) see the union immediately: probes
    prune on the partition value, which is identical for old and new
    files of a cluster, and results equal a from-scratch build over
    the union corpus EXACTLY (same centroids ⇒ same assignment ⇒ same
    candidate sets; registered-query oracle).

    Returns fold stats: rows appended, touched cluster ids, and
    ``mean_top_cosine`` — the batch's mean cosine to its assigned
    centroid, the drift signal: a falling value against the build-time
    baseline says the frozen coarse quantizer no longer fits the
    incoming distribution and a re-layout (one-shot
    ``write_ivf_layout`` rebuild) is due.  The stats aggregate is one
    1-row job over the batch; nothing here scales with the resident
    corpus.

    With ``codebooks`` the appended rows also carry PQ ``codes``
    (same encode kernel as ``write_ivfpq_layout``), so the fold
    maintains the full IVF-PQ index layout — appended files are
    schema-identical to the resident ones and
    ``ivfpq_bulk_topk_from_layout`` reads the union immediately."""
    from pyspark.sql.functions import pandas_udf

    # schema fence (r10 ADVICE): appending codes onto a plain
    # write_ivf_layout dir — or omitting them on a write_ivfpq_layout
    # dir — silently produces a mixed-schema directory that a plain
    # (no-mergeSchema) read misparses depending on which footer Spark
    # samples.  One resident footer decides what this fold MUST write.
    from pyspark.errors import AnalysisException

    try:
        resident_cols = set(
            new_batch.sparkSession.read.parquet(path).columns
        )
    except AnalysisException as exc:
        # only a MISSING layout maps to the build-it-first error; any
        # other analysis failure (corrupt footer, unreadable schema) is
        # a different problem and must surface as itself (r10 ADVICE)
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            raise ValueError(
                f"ivf_layout_append requires an existing layout at "
                f"{path!r} — build it with write_ivf_layout/"
                "write_ivfpq_layout first"
            ) from exc
        raise
    expected_cols = {id_col, vec_col, "ivf_cluster"} | (
        {"codes"} if codebooks is not None else set()
    )
    if resident_cols != expected_cols:
        raise ValueError(
            f"appended schema {sorted(expected_cols)} does not match the "
            f"resident layout's {sorted(resident_cols)} at {path!r} — "
            "pass codebooks iff the layout was written by "
            "write_ivfpq_layout, and use the same id/vector column names"
        )

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )

    @pandas_udf("struct<cluster: int, topcos: double>")
    def assign_scored(vecs: pd.Series) -> pd.DataFrame:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        best = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "cluster": best.astype(np.int32),
                "topcos": sims[np.arange(len(best)), best],
            }
        )

    assigned = new_batch.select(id_col, vec_col).withColumn(
        "__a__", assign_scored(F.col(vec_col))
    ).select(
        id_col,
        vec_col,
        F.col("__a__.cluster").alias("ivf_cluster"),
        F.col("__a__.topcos").alias("__topcos__"),
    )
    if codebooks is not None:
        coded = pq_encode(
            assigned,
            codebooks.astype(np.float64),
            id_col,
            vec_col,
            centroids=centroids if by_residual else None,
        ).select(id_col, "codes")
        assigned = assigned.join(coded, id_col)
    # assignment computes once: stats + write
    assigned = assigned.localCheckpoint(eager=True)
    stats_row = assigned.agg(
        F.count("*").alias("rows"),
        F.round(F.avg("__topcos__"), 6).alias("mean_top_cosine"),
        F.collect_set("ivf_cluster").alias("clusters"),
    ).collect()[0]
    n_clusters = centroids.shape[0]
    out_cols = [id_col, vec_col] + (
        ["codes"] if codebooks is not None else []
    ) + ["ivf_cluster"]
    assigned.select(*out_cols).repartition(
        n_clusters, F.col("ivf_cluster")
    ).write.mode("append").partitionBy("ivf_cluster").parquet(path)
    return {
        "rows": int(stats_row["rows"]),
        "clusters_touched": sorted(int(c) for c in stats_row["clusters"]),
        "mean_top_cosine": float(stats_row["mean_top_cosine"])
        if stats_row["mean_top_cosine"] is not None
        else None,
    }


def ivf_layout_delete(
    spark,
    delete_ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten over the IVF(-PQ) layout (r13): remove the
    listed ids from a ``write_ivf_layout``/``write_ivfpq_layout``
    directory by rewriting ONLY the cluster partitions that actually
    contain them — erasure compliance is a per-partition surgery, never
    a corpus re-layout, exactly as ``ivf_layout_append`` made ingest a
    per-partition append.

    Mechanics: one column-pruned scan of (id, cluster) joined against
    the distinct delete set finds the touched clusters (≤ nlist ints to
    the driver — bounded metadata, the probe-pruning convention); the
    touched partitions' survivors are anti-joined, materialized (the
    read-side lineage must break before overwriting its own input), and
    written back via dynamic partition overwrite.  Untouched clusters'
    files are never opened for rewrite (pytest-pinned byte-identical);
    replays are idempotent — a second delete of the same ids finds no
    resident matches and writes nothing.  All resident columns
    (including PQ ``codes``) pass through unchanged, so readers see the
    surviving corpus immediately with the same schema.

    **Erasure is guaranteed only after a successful return** (ADVICE
    r13): the overwrite and the emptied-dir removal are two steps, so a
    crash between them leaves fully-emptied clusters' stale files
    resident.  Compliance callers MUST treat any failure as
    not-yet-erased and replay ``delete`` — the replay is idempotent and
    completes the removal (a half-written attempt either re-finds the
    keys or finds the already-clean state and no-ops).

    Returns ``{"n_deleted", "clusters_touched", "n_rewritten_rows"}``."""
    from pyspark.errors import AnalysisException

    try:
        resident = spark.read.option("basePath", path).parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            raise ValueError(
                f"ivf_layout_delete requires an existing layout at "
                f"{path!r} — build it with write_ivf_layout/"
                "write_ivfpq_layout first"
            ) from exc
        raise
    dele = (
        delete_ids.select(F.col(id_col))
        .where(F.col(id_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # one delete-set build: probe + anti
    )
    # touched-cluster probe: reads only (id, partition value) — column
    # pruning keeps this scan narrow at any layout width
    hits = resident.select(id_col, "ivf_cluster").join(dele, id_col)
    probe = hits.groupBy("ivf_cluster").agg(F.count("*").alias("n")).collect()
    touched = sorted(int(r["ivf_cluster"]) for r in probe)
    n_deleted = int(sum(r["n"] for r in probe))
    if not touched:
        return {
            "n_deleted": 0,
            "clusters_touched": [],
            "n_rewritten_rows": 0,
        }
    survivors = (
        resident.where(F.col("ivf_cluster").isin(touched))
        .join(dele, id_col, "left_anti")
        .localCheckpoint(eager=True)  # break lineage: we overwrite our input
    )
    n_rewritten = survivors.count()
    alive = {
        int(r["ivf_cluster"])
        for r in survivors.select("ivf_cluster").distinct().collect()
    }
    if alive:
        (
            survivors.repartition(len(alive), F.col("ivf_cluster"))
            .write.partitionBy("ivf_cluster")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
    # dynamic overwrite only replaces partitions it WRITES — a cluster
    # whose every row was deleted would keep its stale files.  Remove
    # those partition dirs through the Hadoop FS API (object-store
    # safe, the streaming stores' convention).
    emptied = [c for c in touched if c not in alive]
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for c in emptied:
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/ivf_cluster={c}")
            fs = p.getFileSystem(hconf)
            if fs.exists(p):
                fs.delete(p, True)
    return {
        "n_deleted": n_deleted,
        "clusters_touched": touched,
        "n_rewritten_rows": int(n_rewritten),
    }


def ivfpq_bulk_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ composite ANN (r8) — the FAISS billion-vector workhorse
    assembled from this repo's two halves: the IVF coarse quantizer
    restricts each query to its ``nprobe`` probed clusters (at 100 TB
    the cluster is the write-time partition layout, so unprobed files
    never open — ``write_ivf_layout``), and WITHIN the probed clusters
    candidates are ranked by PQ asymmetric-distance lookups against
    m·log2(ksub)-bit codes instead of full vectors (the 32× scan-byte
    reduction of ``pq_topk``).  The top
    ``rerank_factor·k`` ADC candidates per query are exact-reranked
    with full-precision cosine, so approximation cost is bounded by
    the pool and measured by the recall gate.

    ``by_residual=True`` (r9, FAISS's default for IVF-PQ): codes
    quantize x_norm − c(x) — ``codebooks`` must then come from
    ``train_pq_codebooks(..., centroids=centroids)``.  The ADC score
    decomposes exactly as q·x̃ = q·c(x) + q·r̃: the q·c term is a
    panel×k matrix built driver-side with the LUTs (bounded metadata),
    added per row by cluster id inside the same Arrow kernel.  Measured
    honestly (r9 sweep, sf0.01 panel of 20): at THIS regime — 16
    coarse lists, one pooled residual codebook per subspace — residual
    coding is slightly WORSE than plain (0.705 vs 0.740 mean at
    nprobe=6/rerank=4): with so few lists the pooled residuals are a
    16-mode mixture that 16 codewords per subspace can't localize.
    The registered gate therefore runs plain codes with a deeper
    shortlist (nprobe=8, rerank_factor=8 → 0.870 mean / 0.700 min,
    equal to the pure-IVF coverage bound, i.e. zero shortlist loss).

    Residual mode is GATED on measured cluster structure (r11,
    VERDICT #2 — closing the r10 retraction's open question).  The
    ADC-isolated protocol (probe EVERY list so coverage loss is zero,
    rerank pool = k so shortlist ordering is the only signal) at
    nlist=64 ≈ 1.4·√N on 2000-vector corpora, ANN.md clustered
    calibration table:

    - iid testdata (``ivf_structure_stats`` mean top-cos 0.388):
      plain 0.425 vs residual 0.380 — plain wins, the r10 retraction
      stands on structureless data (per-cell residuals are as spread
      as the raw vectors; q·c offset burns codebook capacity).
    - MoG tight clusters (top-cos 0.956): residual 0.345 vs plain
      0.145 — residual wins 2.4×.
    - MoG loose clusters (top-cos 0.799): residual 0.500 vs plain
      0.350.

    Decision rule: run ``ivf_structure_stats(corpus, centroids)``
    (same number as ``ivf_layout_append``'s mean_top_cosine drift
    signal); mean top-cos ≥ ~0.7 → ``by_residual=True``, below →
    ``False``.  The unbounded-pool equivalence pytest pins the
    residual path's correctness either way.

    Per-query LUTs (m × ksub subspace dot products) are built
    driver-side from the query PANEL — panel-bounded metadata, shipped
    in the task closure exactly like the codebooks — so ADC scoring is
    one Arrow kernel over (query_id, codes) with no per-row query
    vectors.  Inherits ``_bulk_rerank``'s dropped-query contract."""
    probes, adc = _ivfpq_scorers(
        queries, centroids, codebooks, nprobe, by_residual,
        query_id_col, vec_col,
    )
    query_probes = F.broadcast(
        queries.select(
            query_id_col, F.explode(probes(F.col(vec_col))).alias("ivf_cluster")
        )
    )
    indexed = ivf_index(corpus.select(id_col, vec_col), centroids, vec_col)
    # project the full-precision vector OUT before the probe join: the
    # ADC scan's whole point is m·log2(ksub) bits per candidate, and
    # keeping vec_col here would materialize the full embedding per
    # (query, candidate) row in the shuffle (r9 ADVICE fix); vectors
    # re-enter only for the rerank_factor·k pool in _bulk_rerank
    coded = (
        pq_encode(
            indexed, codebooks.astype(np.float64), id_col, vec_col,
            centroids=centroids if by_residual else None,
        )
        .select(id_col, "codes")
        .join(indexed.select(id_col, "ivf_cluster"), id_col)
    )
    pool = _ivfpq_pool(
        query_probes, coded, adc, query_id_col, id_col, rerank_factor, k
    )
    return _bulk_rerank(
        pool, queries, corpus.select(id_col, vec_col), k,
        query_id_col, id_col, vec_col, True,
    )


def _ivfpq_scorers(
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int,
    by_residual: bool,
    query_id_col: str,
    vec_col: str,
):
    """Shared IVF-PQ kernels (r9 refactor for the layout variant):
    returns (probes, adc) pandas UDFs.  ``probes`` maps a query vector
    to its nprobe nearest coarse centroids; ``adc`` maps (query_id,
    cluster, codes) to the asymmetric-distance score — LUT lookups
    plus, in residual mode, the exact q·centroid term.  Per-query LUTs
    (m × ksub subspace dot products) build driver-side from the query
    PANEL — panel-bounded metadata shipped in the task closure exactly
    like the codebooks."""
    from pyspark.sql.functions import pandas_udf

    B = codebooks.astype(np.float64)
    m, ksub, dsub = B.shape
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )
    np_ = int(nprobe)

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        sims = mat @ cn.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32) for row in top])

    # Loud cap (r13, VERDICT r12 #7): per-query LUTs are panel-bounded
    # DRIVER state (m × ksub doubles each); an unbounded query panel
    # must fail with a message, not an OOM.  ``driver_close`` both
    # decides and feeds — one execution.
    _, panel = driver_close(
        queries.select(query_id_col, vec_col), ANN_QUERY_PANEL_MAX
    )
    if panel is None:
        raise ValueError(
            f"query panel exceeds ANN_QUERY_PANEL_MAX="
            f"{ANN_QUERY_PANEL_MAX} rows; per-query ADC LUTs are "
            "driver-side state, so bulk-search an unbounded panel in "
            "chunks (or raise the cap deliberately)"
        )
    luts = {}
    qdotc = {}
    for qid, vec in zip(
        panel.column(0).to_pylist(), panel.column(1).to_pylist()
    ):
        q = np.asarray(vec, dtype=np.float64)
        nrm = np.linalg.norm(q)
        q = q / nrm if nrm > 0 else q
        luts[qid] = np.stack(
            [B[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        if by_residual:
            qdotc[qid] = q @ cn.T

    @pandas_udf("double")
    def adc(qids: pd.Series, clusters: pd.Series, codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy())
        cl = clusters.to_numpy()
        out = np.empty(len(C))
        idx = np.arange(m)
        for qid in qids.unique():
            mask = (qids == qid).to_numpy()
            out[mask] = luts[qid][idx[None, :], C[mask]].sum(1)
            if by_residual:
                out[mask] += qdotc[qid][cl[mask]]
        return pd.Series(out)

    return probes, adc


def _ivfpq_pool(
    query_probes, coded, adc, query_id_col, id_col, rerank_factor, k
) -> DataFrame:
    """ADC-score the probed candidates and keep the per-query top
    rerank_factor·k shortlist (engine tie-break: score desc, id asc)."""
    from pyspark.sql import Window

    scored = query_probes.join(coded, "ivf_cluster").select(
        query_id_col,
        id_col,
        adc(
            F.col(query_id_col), F.col("ivf_cluster"), F.col("codes")
        ).alias("qscore"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("qscore"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .where(F.col("__rk__") <= int(rerank_factor) * int(k))
        .select(query_id_col, id_col)
    )


def write_ivfpq_layout(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> None:
    """Persist the corpus as the FULL IVF-PQ index layout (r9): rows
    (id, vec, codes) Hive-partitioned by coarse cluster.  This is the
    write-time form of the billion-vector index where BOTH pruning
    levers are physical: a probe opens only its clusters' files
    (PartitionFilters) and the ADC pass reads only the ``codes``
    column (ReadSchema — m·log2(ksub) bits per candidate on disk, the
    full-precision vector column stays unread until the
    rerank_factor·k pool).  Encode is one distributed Arrow pass; one
    file per cluster partition."""
    indexed = ivf_index(corpus.select(id_col, vec_col), centroids, vec_col)
    coded = pq_encode(
        indexed,
        codebooks.astype(np.float64),
        id_col,
        vec_col,
        centroids=centroids if by_residual else None,
    ).join(indexed.select(id_col, "ivf_cluster"), id_col)
    # sortWithinPartitions(id) gives every row group a tight id range,
    # so the rerank's pool-id isin prunes at the parquet footer — the
    # third pruning lever (partition → column → row group)
    coded.select(id_col, vec_col, "codes", "ivf_cluster").repartition(
        int(centroids.shape[0]), F.col("ivf_cluster")
    ).sortWithinPartitions(id_col).write.mode("overwrite").partitionBy(
        "ivf_cluster"
    ).parquet(path)


def ivfpq_bulk_topk_from_layout(
    spark,
    queries: DataFrame,
    layout_path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
    return_probed: bool = False,
) -> DataFrame:
    """Bulk IVF-PQ ANN over a ``write_ivfpq_layout`` directory — the
    100 TB read path with both physical pruning levers engaged (r9):
    the panel's probed-cluster set applies as a literal isin on the
    partition column (unprobed clusters' files never open), and the
    ADC candidate scan selects ONLY (id, cluster, codes) so parquet
    column pruning keeps the full-precision vectors on disk; vectors
    are read by a SECOND pruned scan only for the rerank pool's rows.
    Results are identical to the in-memory ``ivfpq_bulk_topk`` for the
    same corpus/centroids/codebooks (registered-query oracle), because
    assignment, codes, LUTs, and tie-breaks are all shared kernels."""
    probes, adc = _ivfpq_scorers(
        queries, centroids, codebooks, nprobe, by_residual,
        query_id_col, vec_col,
    )
    query_probes = queries.select(
        query_id_col, F.explode(probes(F.col(vec_col))).alias("ivf_cluster")
    ).localCheckpoint(eager=True)  # probes compute once: isin + join reuse
    probed = sorted(
        r["ivf_cluster"]
        for r in query_probes.select("ivf_cluster").distinct().collect()
    )
    pruned = spark.read.parquet(layout_path).where(
        F.col("ivf_cluster").isin(probed)
    )
    coded = pruned.select(id_col, "ivf_cluster", "codes")
    # pool is ≤ |panel|·rerank_factor·k rows; persist (not checkpoint)
    # so the ids collect materializes it ONCE for the rerank join while
    # the ADC subtree stays visible in the final plan (the codes-only
    # ReadSchema the gate pins); the cache is panel-bounded and the
    # ContextCleaner reaps it when the plan is dropped
    pool = _ivfpq_pool(
        F.broadcast(query_probes), coded, adc,
        query_id_col, id_col, rerank_factor, k,
    ).persist()
    # third pruning lever (r9): the pool is panel-bounded metadata, so
    # its DISTINCT ids push down onto the vector scan as an isin —
    # with the write-time sortWithinPartitions(id) ordering, parquet
    # row-group min/max skip everything but the pool's row groups, and
    # the rerank reads ~pool vectors instead of every probed cluster's.
    # Above the cap the literal list would bloat the plan; the plain
    # join still reads only probed PARTITIONS (levers one and two).
    _, pool_ids = driver_close(pool.select(id_col).distinct(), 10_000)
    vecs = pruned.select(id_col, vec_col)
    if pool_ids is not None:
        vecs = vecs.where(
            F.col(id_col).isin(pool_ids.column(0).to_pylist())
        )
    out = _bulk_rerank(
        pool, queries, vecs, k,
        query_id_col, id_col, vec_col, True,
    )
    return (out, probed) if return_probed else out
