"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus; pairs scored by the Arrow-batched ``cosine_pandas_col``, top-k
  via window. The baseline and the verify stage.
- LSH-bucketed ANN: deterministic random-hyperplane signatures; candidates
  share a bucket in at least one table. The 100 TB path: buckets shard the
  corpus so each query probes a small fraction.

Deterministic everywhere: hyperplanes come from a seeded generator and are
broadcast as literal arrays; ties break by (sim desc, id asc).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cosine_pandas_col(a, b, decimals: int = 6):
    """Arrow-batched pairwise cosine: one vectorized numpy pass per record
    batch (float64 math, rounded to ``decimals``). The scorer of every
    similarity operator."""

    @F.pandas_udf("double")
    def cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        ma = np.stack(sa.to_numpy()).astype(np.float64)
        mb = np.stack(sb.to_numpy()).astype(np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        denom = na * nb
        denom[denom == 0.0] = 1.0
        return pd.Series(np.round(np.einsum("ij,ij->i", ma, mb) / denom, decimals))

    return cos(a, b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k neighbors for each query (excluding self).

    queries is broadcast — at 100 TB the corpus scan parallelizes over
    input splits and each task scores its slice against the tiny query set
    (one pass, no corpus shuffle); the window top-k shuffles only
    (query_id, neighbor_id, sim) triples.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine_pandas_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def planes_for_corpus(n_rows: int, target_bucket_rows: int = 16, lo: int = 4, hi: int = 24) -> int:
    """Scale-aware hyperplane count: enough sign bits that the expected
    bucket occupancy ``n_rows / 2**n_planes`` lands near
    ``target_bucket_rows``. A FIXED plane count is the classic LSH scale
    bug — occupancy (and the within-bucket candidate join) grows linearly
    with the corpus, going quadratic at 10^9+ rows. Deriving
    ``n_planes ~ log2(n / target)`` keeps per-bucket work constant as the
    corpus grows (at 100 TB, ``n_rows`` comes from table stats or one
    ``count()`` — trivially amortized against the pair join it bounds)."""
    import math

    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(n_rows / target_bucket_rows, 2.0)))))


def _resolve_planes(n_planes, corpus: DataFrame, target_bucket_rows: int, n_rows: int | None = None) -> int:
    """``n_planes=None`` -> derive from the corpus row count and log the
    implied occupancy so a mis-sized index is visible in executor logs.
    Pass ``n_rows`` when the caller already knows the count (table stats, a
    prior action) — avoids firing an extra count() job per operator call."""
    import logging

    if n_planes is not None:
        return n_planes
    if n_rows is None:
        n_rows = corpus.count()
    p = planes_for_corpus(n_rows, target_bucket_rows)
    logging.getLogger(__name__).info(
        "lsh auto-sizing: n_rows=%d -> n_planes=%d (expected occupancy %.1f rows/bucket, target %d)",
        n_rows, p, n_rows / float(1 << p), target_bucket_rows,
    )
    return p


def lsh_multi_signature_col(vec_col, planes_stack: np.ndarray, multiprobe: int = 0):
    """Per-table bucket ids for ALL tables in one Arrow pass: a single
    (batch x dim) @ (dim x tables*planes) matmul, reshaped to (batch,
    tables). One UDF stage + one (table, bucket)-keyed join replaces
    n_tables separate signature stages and joins — same buckets, ~n_tables
    fewer Python stage launches.

    ``multiprobe=1`` (query side only) additionally emits, per table, the
    bucket for every 1-bit flip of the signature (Lv et al., VLDB'07
    multi-probe LSH): a near-miss neighbor most likely landed one
    hyperplane away, so probing all Hamming-1 buckets recovers it without
    growing the corpus-side index. Output stays array<long> in table-major
    order with (1 + n_planes) entries per table;
    ``tbl = idx // (1 + n_planes)``."""
    n_tables, n_planes, dim = planes_stack.shape
    flat = planes_stack.reshape(n_tables * n_planes, dim).T.copy()  # (dim, T*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def sig(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (mat @ flat >= 0).reshape(len(mat), n_tables, n_planes)
        return pd.Series(list(bits @ weights))

    @F.pandas_udf("array<long>")
    def sig_probe(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        proj = (mat @ flat).reshape(len(mat), n_tables, n_planes)
        bits = proj >= 0
        base = bits @ weights  # (batch, tables)
        flips = base[:, :, None] ^ weights[None, None, :]  # every 1-bit flip
        out = np.concatenate([base[:, :, None], flips], axis=2)  # (batch, T, 1+P)
        return pd.Series(list(out.reshape(len(mat), -1)))

    return sig_probe(vec_col) if multiprobe else sig(vec_col)


def embedding_near_duplicates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    method: str = "exact",
    n_planes: int | None = 8,
    dim: int = 64,
    n_tables: int = 4,
    target_bucket_rows: int = 16,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``(id_a < id_b, sim >= threshold)``.

    ``method="exact"`` is the all-pairs verify baseline, computed blockwise:
    vectors pack into ~``block_rows``-row matrix blocks, blocks cross-join
    (B^2 slim rows instead of N^2 pair rows) and one einsum per block pair
    scores the whole tile — only pairs over threshold are ever materialized.
    Still O(N^2) compute: for small corpora / sampled audits only.
    ``method="lsh"`` is the 100 TB
    path: candidates must share a random-hyperplane bucket in at least one of
    ``n_tables`` tables, so each equi-bucket join partition scores only its
    own cell — no quadratic blowup, shuffle keyed on the bucket id. Exact
    cosine is re-checked on every candidate, so LSH controls recall only,
    never precision. ``n_planes=None`` auto-sizes from the corpus count so
    bucket occupancy stays ~``target_bucket_rows`` at any scale.
    """
    if method == "exact":
        return _exact_pairs_blocked(corpus, id_col, vec_col, threshold, n_rows=n_rows)
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if method == "lsh":
        # all tables in one pass: explode per-table buckets, ONE equi-join
        # on (tbl, bucket), score map-side after the bucket exchange, and
        # dedupe only slim (id_a, id_b, sim) triples that already passed the
        # threshold — vector payloads cross the bucket exchange n_tables
        # times (the posexplode copies) but never the dedupe exchange. A
        # pair colliding in k tables is scored k times (cheap matmul) but
        # survives the dedupe once.
        n_planes = _resolve_planes(n_planes, corpus, target_bucket_rows, n_rows=n_rows)
        stack = np.stack([hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)])
        at = a.select("id_a", "va", F.posexplode(lsh_multi_signature_col(F.col("va"), stack)).alias("tbl", "bucket"))
        bt = b.select("id_b", "vb", F.posexplode(lsh_multi_signature_col(F.col("vb"), stack)).alias("tbl", "bucket"))
        return (
            at.join(bt, ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", cosine_pandas_col(F.col("va"), F.col("vb")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim")
            .dropDuplicates(["id_a", "id_b"])
        )
    raise ValueError(f"unknown method {method!r}")


def _exact_pairs_blocked(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_rows: int = 1024,
    n_blocks: int | None = None,
    decimals: int = 6,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold via blocked matrix products.

    Vectors hash into ``n_blocks`` blocks; each block aggregates into ONE
    row carrying (ids, flattened matrix). Blocks cross-join (upper triangle
    incl. diagonal), and a mapInPandas stage runs one normalized
    ``A @ B.T`` einsum per block pair, emitting only the (id_a < id_b)
    pairs at or over threshold. Exchange volume is B^2 block rows (~each
    block_rows x dim floats), never the N^2 pair rows a row-level join
    would materialize; compute is one BLAS call per tile instead of
    millions of per-pair kernel invocations."""
    n = n_rows if n_rows is not None else corpus.count()  # sizes the block count
    if n_blocks is None:
        n_blocks = max(1, -(-n // block_rows))
    id_type = corpus.schema[id_col].dataType.simpleString()
    src = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # the block aggregation feeds BOTH sides of the self-join below; for a
    # handful of blocks Spark's ReusedExchange dedupes the shuffle and the
    # post-shuffle agg recompute is trivial, so skip the checkpoint (it is
    # an eager extra job — visible latency when the scheduler is loaded);
    # for many blocks pin the result once so the wide collect_list agg
    # cannot run twice
    blocks = src.groupBy("blk").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vecs"),
    )
    if n_blocks > 8:
        blocks = blocks.localCheckpoint()
    pairs = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.ids").alias("ids_a"), F.col("x.vecs").alias("vecs_a"),
            F.col("y.ids").alias("ids_b"), F.col("y.vecs").alias("vecs_b"),
            (F.col("x.blk") == F.col("y.blk")).alias("same_blk"),
        )
    )

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for ids_a, vecs_a, ids_b, vecs_b, same in zip(
                pdf["ids_a"], pdf["vecs_a"], pdf["ids_b"], pdf["vecs_b"], pdf["same_blk"]
            ):
                # no forced dtype: ids may be ints or strings (minimum/
                # maximum/lexsort are dtype-generic)
                ia = np.asarray(ids_a)
                ib = np.asarray(ids_b)
                ma = np.stack([np.asarray(v, dtype=np.float64) for v in vecs_a])
                mb = np.stack([np.asarray(v, dtype=np.float64) for v in vecs_b])
                na = np.linalg.norm(ma, axis=1, keepdims=True)
                nb = np.linalg.norm(mb, axis=1, keepdims=True)
                na[na == 0.0] = 1.0
                nb[nb == 0.0] = 1.0
                sims = np.round((ma / na) @ (mb / nb).T, decimals)
                # id_a < id_b orientation; same-block tiles cover both
                # triangles of the tile, cross-block tiles the whole tile
                ra, cb = np.nonzero(sims >= threshold)
                lo = np.minimum(ia[ra], ib[cb])
                hi = np.maximum(ia[ra], ib[cb])
                keep = lo < hi
                if bool(same):
                    # dedupe mirrored hits within the same block
                    seen_lo, seen_hi = lo[keep], hi[keep]
                    order = np.lexsort((seen_hi, seen_lo))
                    seen_lo, seen_hi = seen_lo[order], seen_hi[order]
                    s = sims[ra[keep], cb[keep]][order]
                    uniq = np.ones(len(seen_lo), dtype=bool)
                    uniq[1:] = (seen_lo[1:] != seen_lo[:-1]) | (seen_hi[1:] != seen_hi[:-1])
                    out_a.extend(seen_lo[uniq]); out_b.extend(seen_hi[uniq]); out_s.extend(s[uniq])
                else:
                    out_a.extend(lo[keep]); out_b.extend(hi[keep])
                    out_s.extend(sims[ra[keep], cb[keep]])
            yield pd.DataFrame({"id_a": pd.Series(list(out_a)),
                                "id_b": pd.Series(list(out_b)),
                                "sim": pd.Series(out_s, dtype="float64")})

    return pairs.mapInPandas(score, f"id_a {id_type}, id_b {id_type}, sim double")


def ivf_centroids(dim: int, n_centroids: int, seed: int = 11) -> np.ndarray:
    """Deterministic unit-norm coarse quantizer (seeded; stands in for a
    trained k-means codebook — at scale the codebook is trained once on a
    sample and broadcast, exactly like these literals)."""
    c = np.random.default_rng(seed).standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_cell_col(vec_col, centroids: np.ndarray, nprobe: int = 1):
    """Top-``nprobe`` nearest-centroid cell ids (cosine), Arrow-batched:
    one (batch x dim) @ (dim x n_centroids) matmul per batch."""
    cent_t = centroids.T.copy()

    @F.pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cent_t
        idx = np.argsort(-sims, kind="stable", axis=1)[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    return cells(vec_col)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    centroids: np.ndarray | None = None,
    assign: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: corpus rows live in their ``assign``
    nearest coarse cells (1 = classic single-assignment); each query probes
    its ``nprobe`` nearest cells and exact cosine ranks only those
    candidates.

    Scale shape: the corpus-side assignment is a one-pass map (no shuffle);
    the candidate join is an equi-join on ``cell`` with the tiny probed query
    set broadcast, so a 100 TB corpus is scanned once and each task scores
    ~nprobe/n_centroids of its slice. Identical vectors always share a cell
    (same argmax), so exact duplicates have recall 1.

    ``assign > 1`` is the boundary-spill recall lever: high-dim neighbors
    often straddle a Voronoi boundary, so storing each corpus row in its
    top-``assign`` cells lets a probe on EITHER side find it. Cost is an
    ``assign``-times-larger index (still one scan pass — the explode is
    map-side) at UNCHANGED probe fraction; measured at sf0.01 with the
    trained 16-cell codebook, recall@5 at nprobe=6 goes 0.66 -> 0.82 for
    2x index, beating single-assignment at nprobe=8 (0.74) which probes
    33% more corpus at query time. The candidate dedupe below already
    collapses multi-cell duplicates.

    ``centroids``: a trained codebook (e.g. from
    :func:`doctr_spark.operators.clustering.kmeans_fit`) — balances cell
    occupancy on clustered real-world embeddings, where the seeded default
    would concentrate mass in few cells and skew both the probe join and
    per-task scoring. Default keeps the seeded quantizer (deterministic,
    training-free)."""
    cents = centroids if centroids is not None else ivf_centroids(dim, n_centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.explode(ivf_cell_col(F.col(vec_col), cents, nprobe=assign)).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ivf_cell_col(F.col(vec_col), cents, nprobe=nprobe)).alias("cell"),
    )
    # score before dedupe so the exchange carries slim triples, not vectors
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine_pandas_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int | None = 8,
    dim: int = 64,
    n_tables: int = 2,
    target_bucket_rows: int = 16,
    n_rows: int | None = None,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe only corpus rows sharing an LSH bucket with
    the query in any of ``n_tables`` independent tables, then exact cosine
    rank within candidates. ``n_planes=None`` auto-sizes from the corpus
    count (see :func:`planes_for_corpus`).

    ``multiprobe=1`` (default) also probes every Hamming-1 bucket of each
    query signature — the standard recall lever that costs nothing on the
    corpus side: the index stays one signature per table per row; only the
    tiny broadcast query set fans out (1 + n_planes) probes per table.
    Measured recall@5 at sf0.01 (auto planes=5, 4 tables): 0.26 without
    multiprobe, 0.90 with — see the ann_lsh driver oracle, which pins the
    per-query hit counts and asserts the >= 4/5 floor."""
    # one multi-table signature pass per side, ONE broadcast join on
    # (tbl, bucket); score map-side, dedupe slim (query, neighbor, sim)
    # triples — vectors cross the bucket exchange n_tables times (posexplode
    # copies) but never the dedupe exchange
    n_planes = _resolve_planes(n_planes, corpus, target_bucket_rows, n_rows=n_rows)
    stack = np.stack([hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.posexplode(lsh_multi_signature_col(F.col(vec_col), stack)).alias("tbl", "bucket"),
    )
    probes_per_table = (1 + n_planes) if multiprobe else 1
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.posexplode(
            lsh_multi_signature_col(F.col(vec_col), stack, multiprobe=multiprobe)
        ).alias("pos", "bucket"),
    ).select(
        "query_id", "qv", "bucket", (F.col("pos") / probes_per_table).cast("int").alias("tbl")
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine_pandas_col(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )
