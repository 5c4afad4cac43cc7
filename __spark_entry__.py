"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fused extraction over transcripts built
from the sf0.001 documents table plus deterministic OCR page bundles.
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data ops); ``oracle_sql()`` holds the DuckDB twins — real SQL
derivations for relational ops, literal VALUES tables for kernel fixtures.
Both are derived from one ordered table (``_REGISTRY``), so every query has
an oracle row. Stages whose semantics SQL cannot re-derive
(seeded MinHash/SimHash/LSH signatures, the fused OCR model) are checked
against independent computations instead: exhaustive all-pairs brute force
(simhash), all-pairs SQL Jaccard with no blocking (minhash_neardup),
exact-twin recall (ann_*/emb_neardup_lsh), generator-pinned per-turn
equality (extract_ocr/ocr_quality/bundle_metadata), and structural
invariants (pack_sequences).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doctr_spark.operators.classifier import classify_quality_sql
from doctr_spark.operators.retrieval import bm25_topk_sql
from doctr_spark.operators.spans import duplicated_spans_sql
from doctr_spark.plans import entry_queries as EQ
from doctr_spark.plans.entry_queries import values_oracle


# --------------------------------------------------------------------- entry


def _transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript table derived from the documents parquet:
    50 conversations, one turn per document; every 3rd turn is wrapped in
    HTML boilerplate. Expected extraction = the original text (both
    derivations are also SQL-expressible — see q_extract_docs oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    conv = F.concat(F.lit("doc-"), F.lpad((F.col("doc_id") % 50).cast("string"), 4, "0"))
    turn = F.row_number().over(Window.partitionBy(conv).orderBy("doc_id"))
    html_text = F.concat(
        F.lit("<html><body><nav>Home | About</nav><header>hd</header><div id=\"main\"><p>"),
        F.col("text"),
        F.lit("</p></div><script>track();</script><footer>ft</footer></body></html>"),
    )
    return docs.select(
        conv.alias("conv_id"),
        (turn - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(F.col("doc_id") % 3 == 1, html_text).otherwise(F.col("text")).alias("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused per-turn extraction (plain + HTML + OCR payloads)."""
    from doctr_spark.plans.pipeline import extract_turns, ordered_turns
    from doctr_spark.sources.corpus import make_transcripts

    sf_dir = "/root/testdata/sf0.001"
    doc_turns = _transcripts_from_documents(spark, sf_dir)
    ocr_turns = make_transcripts(spark, 8, partitions=2, ocr_ratio=1.0, html_ratio=0.0).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    transcripts = doc_turns.unionByName(ocr_turns)
    return ordered_turns(extract_turns(transcripts)).drop("words")


# ------------------------------------------------------------------- queries


def _q_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused extraction over document-derived transcripts (plain+HTML paths);
    SQL-oracle-checkable because the expected text is the source text."""
    from doctr_spark.plans.pipeline import extract_turns

    transcripts = _transcripts_from_documents(spark, sf_dir)
    return extract_turns(transcripts).select("conv_id", "turn_idx", "payload_kind", "extracted_text")


_EXTRACT_DOCS_ORACLE = """
WITH turns AS (
  SELECT 'doc-' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
         CAST(row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) - 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 3 = 1 THEN 'html' ELSE 'plain' END AS payload_kind,
         text AS extracted_text
  FROM documents
)
SELECT conv_id, turn_idx, payload_kind, extracted_text FROM turns
"""


# per-conversation (conv_id, n_turns, n_pages) of the OCR-only generator
# corpus, from the generator-pinned page table; every OCR exactness
# oracle takes its turn counts from the first n rows
_OCR_CONVS = [
    (f"conv-{c:06d}", len(turns), sum(map(len, turns)))
    for c, turns in enumerate(EQ.OCR_PAGE_HEIGHTS)
]


def _ocr_gen(
    spark: SparkSession, n_convs: int, partitions: int = 2, rot_ratio: float = 0.0
) -> DataFrame:
    """The first ``n_convs`` conversations of the OCR-only generator corpus
    (every turn carries a page bundle), with their ``expected_text``."""
    from doctr_spark.sources.corpus import make_transcripts

    return make_transcripts(
        spark, n_convs, partitions=partitions, ocr_ratio=1.0, html_ratio=0.0,
        rot_ratio=rot_ratio,
    )


def _ocr_matched(gen: DataFrame, **extract_kw) -> DataFrame:
    """extract_turns(**extract_kw) over generated turns, joined to the
    generator's expected text with a 0/1 ``exact`` column."""
    from doctr_spark.plans.pipeline import extract_turns

    out = extract_turns(gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts"), **extract_kw)
    return out.join(
        gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"]
    ).withColumn("exact", (F.col("extracted_text") == F.col("expected_text")).cast("long"))


def _exactness(gen: DataFrame, label_col: str, variants: list[tuple[str, dict]]) -> DataFrame:
    """One (label, n_turns, n_exact) row per ``(label, extract_turns
    kwargs)`` variant over the same generated turns; the oracles pin
    n_exact == n_turns, per-turn text equality through each model."""
    frames = [
        _ocr_matched(gen, **kw)
        .agg(F.count("*").alias("n_turns"), F.sum("exact").alias("n_exact"))
        .select(F.lit(label).alias(label_col), "n_turns", "n_exact")
        for label, kw in variants
    ]
    return reduce(DataFrame.unionByName, frames)


def _exact_rows(n_convs: int, labels: list[str]) -> list[tuple]:
    n = sum(t for _, t, _ in _OCR_CONVS[:n_convs])
    return [(label, n, n) for label in labels]


def _exactness_oracle(label_col: str, rows: list[tuple]) -> str:
    return values_oracle(
        rows, [(label_col, "VARCHAR"), ("n_turns", "BIGINT"), ("n_exact", "BIGINT")]
    )


def _per_conv_exactness(gen: DataFrame, **extract_kw) -> DataFrame:
    """Per-conversation (conv_id, n_turns, n_exact, n_pages)."""
    return _ocr_matched(gen, **extract_kw).groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum("exact").alias("n_exact"),
        F.sum("n_pages").cast("long").alias("n_pages"),
    )


def _per_conv_oracle(n_convs: int) -> str:
    return values_oracle(
        [(c, t, t, p) for c, t, p in _OCR_CONVS[:n_convs]],
        [("conv_id", "VARCHAR"), ("n_turns", "BIGINT"), ("n_exact", "BIGINT"), ("n_pages", "BIGINT")],
    )


def _q_extract_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused OCR extraction (detect->crop->recognize->build) over generated
    page bundles, aggregated per conversation with the exact-match count —
    the oracle asserts n_exact == n_turns for every conversation (per-turn
    text equality, the north-rule invariant), with turn counts pinned by
    the deterministic generator."""
    return _per_conv_exactness(_ocr_gen(spark, 12))


_EXTRACT_OCR_ORACLE = _per_conv_oracle(12)


def _q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> band bucket join ->
    EXACT char-shingle Jaccard verify. The DuckDB oracle computes the same
    Jaccard ALL-PAIRS (no blocking), so the driver check proves the LSH
    blocking lost no pair at this threshold (recall 1 in practice at
    bands=32 for high-sim near-dups) AND that the verify stage's Jaccard
    matches an independent SQL derivation."""
    from doctr_spark.operators.dedup import minhash_verified_near_duplicates

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .repartition(16, "doc_id")  # single-file input: spread the signature UDF
    )
    return minhash_verified_near_duplicates(docs, "doc_id", "text", bands=32, threshold=0.5)


_MINHASH_NEARDUP_ORACLE = """
-- ALL-PAIRS exact char-5-shingle Jaccard (no LSH blocking): equality with
-- the Spark result proves the MinHash-LSH candidate stage lost no pair at
-- threshold 0.5 and the verify stage's Jaccard matches SQL exactly
WITH docs AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 200
),
pos AS (
  SELECT id, norm, unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i FROM docs
),
grams AS (SELECT DISTINCT id, substr(norm, CAST(i AS INT), 5) AS gram FROM pos),
sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b USING (gram) WHERE a.id < b.id GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) >= 0.5
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing, checked by its invariants: every doc
    packed exactly once, token totals conserved (SQL-derivable), no pack
    over budget, pack slots contiguous from 0. Pack ASSIGNMENT is
    partition-local (approximate by design), so the invariants — not the
    assignment — are the stable contract."""
    from doctr_spark.functions.text import token_count
    from doctr_spark.operators.dedup import pack_sequences

    budget = 256
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = docs.withColumn("n_tokens", token_count(F.col("text")))
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=budget, partitions=8)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.count("*").alias("n_in_pack"),
        F.max("pack_slot").alias("max_slot"),
        F.min("pack_slot").alias("min_slot"),
    )
    return (
        packed.agg(
            F.countDistinct("id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .crossJoin(
            per_pack.agg(
                F.sum((F.col("pack_tokens") > budget).cast("long")).alias("n_over_budget"),
                F.sum(
                    ((F.col("max_slot") != F.col("n_in_pack") - 1) | (F.col("min_slot") != 0)).cast("long")
                ).alias("n_bad_slots"),
            )
        )
    )


_PACK_SEQUENCES_ORACLE = """
-- packing invariants: every doc packed once (n_docs), token totals
-- conserved with the budget cap (SQL twin of token_count), and the two
-- structural invariants -- no pack over budget, slots contiguous from 0
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 256)) AS BIGINT) AS total_tokens,
       CAST(0 AS BIGINT) AS n_over_budget,
       CAST(0 AS BIGINT) AS n_bad_slots
FROM documents
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup via pigeonhole blocking (recall 1.0 by
    construction), summarized as pair counts per Hamming distance plus id
    checksums. The oracle constants were computed by an INDEPENDENT
    exhaustive all-pairs brute force over the same sf0.01 table (no
    blocking), so the driver check proves the blocked join found exactly
    the brute-force pair set."""
    from doctr_spark.operators.dedup import simhash64, simhash_near_duplicates

    # the sf tables are single parquet files (one input split); hashing is
    # per-row, so spread it — at 100 TB input splits do this for free
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(32, "doc_id")
    nd = simhash_near_duplicates(simhash64(docs, "doc_id", "text"), max_hamming=3)
    return nd.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("hamming") == 0).cast("long")).alias("h0"),
        F.sum((F.col("hamming") == 1).cast("long")).alias("h1"),
        F.sum((F.col("hamming") == 2).cast("long")).alias("h2"),
        F.sum((F.col("hamming") == 3).cast("long")).alias("h3"),
        F.sum("id_a").alias("sum_a"),
        F.sum("id_b").alias("sum_b"),
    )


_SIMHASH_ORACLE = """
-- independent exhaustive brute force: all 124,750 doc pairs at sf0.01,
-- hamming = popcount(xor(simhash)) <= 3 (no blocking) -> 2203 pairs;
-- counts per distance + id checksums pin the pigeonhole-blocked result
SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(h0 AS BIGINT) AS h0,
       CAST(h1 AS BIGINT) AS h1, CAST(h2 AS BIGINT) AS h2, CAST(h3 AS BIGINT) AS h3,
       CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b
FROM (VALUES
  (2203, 478, 177, 429, 1119, 398588, 726647)
) AS v(n_pairs, h0, h1, h2, h3, sum_a, sum_b)
"""


def _ann_recall_vs_exact(ann: DataFrame, exact: DataFrame, floor_hits: int = 0) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k twin:
    (query_id, k_exact, n_ann, n_hits[, floor_ok]). n_hits = exact-top-k
    rows the ANN result also returned (at any rank). The exact twin is
    independently oracled (knn_cosine), so a VALUES row here pins the
    measured recall — any behavior drift in the ANN path changes these
    counts. ``floor_hits > 0`` adds a floor_ok column (n_hits >= floor):
    the oracle requires it true on every row, so retuning that degrades
    recall below the floor fails even if someone re-pins the counts."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ann.select("query_id", "neighbor_id", F.lit(1).alias("_hit")), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("*").alias("k_exact"), F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"))
    )
    n_ann = ann.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    out = (
        hits.join(n_ann, "query_id", "left")
        .na.fill({"n_ann": 0})
        .select("query_id", "k_exact", "n_ann", "n_hits")
    )
    if floor_hits > 0:
        out = out.withColumn("floor_ok", F.col("n_hits") >= floor_hits)
    return out


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with auto-sized planes and Hamming-1 multiprobe,
    checked as measured recall@5 against the exact cosine twin computed
    in-query, with a per-query floor of 4/5 hits (recall >= 0.8)."""
    from doctr_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    ann = ann_lsh_topk(emb, q, k=5, n_planes=None, dim=64, n_tables=4, multiprobe=1)
    exact = cosine_topk(emb, q, k=5)
    return _ann_recall_vs_exact(ann, exact, floor_hits=4)


_ANN_LSH_ORACLE = """
-- measured recall@5 of the multiprobe-LSH path vs the exact cosine twin
-- (the twin itself is oracled as knn_cosine); deterministic because the
-- hyperplanes are seeded and the table is fixed at sf0.01. floor_ok
-- asserts the recall floor n_hits >= 4 (recall@5 >= 0.8, measured 0.90):
-- retuning that degrades recall fails this row even with counts re-pinned
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(k_exact AS BIGINT) AS k_exact,
       CAST(n_ann AS BIGINT) AS n_ann, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(floor_ok AS BOOLEAN) AS floor_ok
FROM (VALUES
  (0, 5, 5, 4, TRUE),
  (1, 5, 5, 4, TRUE),
  (2, 5, 5, 4, TRUE),
  (3, 5, 5, 5, TRUE),
  (4, 5, 5, 5, TRUE),
  (5, 5, 5, 4, TRUE),
  (6, 5, 5, 5, TRUE),
  (7, 5, 5, 5, TRUE),
  (8, 5, 5, 5, TRUE),
  (9, 5, 5, 4, TRUE)
) AS v(query_id, k_exact, n_ann, n_hits, floor_ok)
"""


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (nearest-coarse-cell shard + nprobe probing), checked
    as measured recall@5 against the exact cosine twin computed in-query."""
    from doctr_spark.operators.similarity import ann_ivf_topk, cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    ann = ann_ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4, dim=64)
    exact = cosine_topk(emb, q, k=5)
    return _ann_recall_vs_exact(ann, exact)


_ANN_IVF_ORACLE = """
-- measured recall@5 of the approximate path vs the exact cosine twin
-- (the twin itself is oracled as knn_cosine); deterministic because the
-- hyperplanes/centroids are seeded and the table is fixed at sf0.01
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(k_exact AS BIGINT) AS k_exact,
       CAST(n_ann AS BIGINT) AS n_ann, CAST(n_hits AS BIGINT) AS n_hits
FROM (VALUES
  (0, 5, 5, 2),
  (1, 5, 5, 3),
  (2, 5, 5, 3),
  (3, 5, 5, 1),
  (4, 5, 5, 2),
  (5, 5, 5, 3),
  (6, 5, 5, 2),
  (7, 5, 5, 3),
  (8, 5, 5, 2),
  (9, 5, 5, 1)
) AS v(query_id, k_exact, n_ann, n_hits)
"""


def _q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup (the 100 TB path) checked against
    the exact all-pairs twin computed in-query: n_exact is independently
    SQL-derivable, n_false_pos is structurally 0 (exact cosine re-check),
    and n_lsh pins the measured bucket recall."""
    from doctr_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()  # one shared action; both paths take n_rows explicitly
    exact = embedding_near_duplicates(emb, threshold=0.4, method="exact", n_rows=n).select(
        "id_a", "id_b", F.lit(1).alias("_e")
    )
    lsh = embedding_near_duplicates(
        emb, threshold=0.4, method="lsh", n_planes=None, dim=64, n_tables=4, n_rows=n
    ).select("id_a", "id_b", F.lit(1).alias("_l"))
    # one full-outer join -> one aggregation: each path evaluates exactly
    # once (the previous 3-agg cross-join re-ran the exact twin twice)
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce(F.col("_e"), F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce(F.col("_l"), F.lit(0))).alias("n_lsh"),
        F.sum(F.when(F.col("_e").isNull() & F.col("_l").isNotNull(), 1).otherwise(0)).alias("n_false_pos"),
    )


_EMB_NEARDUP_LSH_ORACLE = """
-- n_exact derives from the same SQL cosine as the emb_neardup oracle;
-- n_false_pos = 0 is structural (exact cosine re-check on candidates);
-- n_lsh = 21 pins the measured bucket recall of the seeded hyperplanes
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
exact AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST(21 AS BIGINT) AS n_lsh,
       CAST(0 AS BIGINT) AS n_false_pos
"""


def _q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means trained IN-QUERY (k-means++ on a
    deterministic hash-sample, then Lloyd iterations where each corpus pass
    emits <= k map-side-combined partial rows per partition), followed by
    the per-cell occupancy/quality stats a 100 TB training job logs. The
    codebook is bit-deterministic across runs and input layouts (hash
    repartition + in-partition id sort pins float summation order), so the
    16-row stats table is pinned as a VALUES oracle. Balance invariant the
    pytest guard also asserts: max cell <= 2x mean occupancy."""
    from doctr_spark.operators.clustering import cluster_stats, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(emb, k=16, dim=64, n_iter=5)
    return cluster_stats(emb, cents)


_KMEANS_CELLS_ORACLE = """
-- per-cell occupancy + mean cosine-to-centroid of the spherical k-means
-- codebook; pinned VALUES because the codebook is bit-deterministic (seeded
-- k-means++ init on a hash-sample; Lloyd reduce in sorted (cell, pid)
-- order over hash-pinned partitions). Balance: max cell 37 <= 2 * 500/16.
SELECT CAST(cell AS INTEGER) AS cell, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(mean_sim AS DOUBLE) AS mean_sim
FROM (VALUES
  (0, 31, 0.317864), (1, 28, 0.335033), (2, 27, 0.332274), (3, 25, 0.347911),
  (4, 34, 0.343794), (5, 35, 0.330615), (6, 31, 0.370354), (7, 26, 0.336887),
  (8, 30, 0.338729), (9, 33, 0.325229), (10, 28, 0.339574), (11, 37, 0.317479),
  (12, 37, 0.335652), (13, 31, 0.343844), (14, 32, 0.314937), (15, 35, 0.328211)
) AS v(cell, n_rows, mean_sim)
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup): k-means cells bound the candidate
    self-join (sum |cell|^2, never n^2); within-cell exact cosine drops
    every row with a smaller-id neighbor >= tau. Checked against the exact
    all-pairs twin computed in-query: n_false_pos (removed rows with NO
    corpus-wide exact pair) is structurally 0, n_exact_pairs is
    independently SQL-derived by the oracle, and n_removed /
    n_same_cell_pairs pin the measured cell recall (pairs at tau=0.4 sit
    near the decision boundary of 64-dim cosine, so cells split most of
    them — the operator targets near-identical duplicates, which share an
    argmax cell by construction)."""
    from doctr_spark.operators.clustering import kmeans_fit, semantic_dedup
    from doctr_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()  # one shared action; both paths take n_rows explicitly
    cents = kmeans_fit(emb, k=16, dim=64, n_iter=5)
    sd = semantic_dedup(emb, cents, threshold=0.4)
    exact = embedding_near_duplicates(emb, threshold=0.4, method="exact", n_rows=n).select(
        "id_a", "id_b"
    )
    removed = sd.filter(~F.col("is_kept")).select(
        F.col("vec_id").alias("id_b"), F.col("dup_of").alias("id_a")
    )
    sd_agg = sd.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(~F.col("is_kept"), 1).otherwise(0)).alias("n_removed"),
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).alias("n_kept"),
    )
    # every removed row's (dup_of, id) must be an exact >= tau pair
    fp_agg = removed.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").alias("n_false_pos")
    )
    same_cell_agg = removed.join(exact, ["id_a", "id_b"], "inner").agg(
        F.count("*").alias("n_same_cell_pairs")
    )
    exact_agg = exact.agg(F.count("*").alias("n_exact_pairs"))
    return sd_agg.crossJoin(fp_agg).crossJoin(same_cell_agg).crossJoin(exact_agg)


_SEMANTIC_DEDUP_ORACLE = """
-- n_rows and n_exact_pairs are REAL SQL (DuckDB recomputes the corpus size
-- and the exact all-pairs cosine pair count); the k-means-dependent counts
-- are pinned from the deterministic codebook. n_false_pos is structurally
-- 0: every removed row is exact-cosine-verified within its cell, so its
-- (dup_of, id) pair must appear in the corpus-wide exact pair set.
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_rows,
       CAST(15 AS BIGINT) AS n_removed,
       CAST(485 AS BIGINT) AS n_kept,
       CAST(0 AS BIGINT) AS n_false_pos,
       CAST(15 AS BIGINT) AS n_same_cell_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_exact_pairs
"""


def _q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED k-means codebook (vs ann_ivf's seeded
    stand-in) with assign=2 boundary spill: recall@5 vs the exact cosine
    twin with a per-query floor. Trained cells raise recall at equal probe
    fraction over seeded ones (0.54 vs 0.50 single-assign at nprobe=4) and
    keep cell occupancy balanced on clustered corpora; the corpus-side
    top-2 cell assignment then lifts recall across Voronoi boundaries at
    unchanged query-time probe fraction: at nprobe=6/16, recall@5 goes
    0.66 single-assign -> 0.82 at assign=2 (floor 3/5), for a 2x index
    that is still built in the same single corpus scan."""
    from doctr_spark.operators.clustering import kmeans_fit
    from doctr_spark.operators.similarity import ann_ivf_topk, cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(emb, k=16, dim=64, n_iter=5)
    q = emb.filter(F.col("vec_id") < 10)
    ann = ann_ivf_topk(emb, q, k=5, nprobe=6, dim=64, centroids=cents, assign=2)
    exact = cosine_topk(emb, q, k=5)
    return _ann_recall_vs_exact(ann, exact, floor_hits=3)


_ANN_IVF_TRAINED_ORACLE = """
-- measured recall@5 of IVF over the TRAINED k-means codebook with
-- assign=2 boundary spill vs the exact cosine twin; per-query hits pinned
-- (deterministic codebook), floor_ok asserts the >= 3/5 per-query floor.
-- Aggregate recall 41/50 = 0.82 at nprobe 6/16, assign 2 (single-assign
-- same nprobe: 0.66; seeded codebook single-assign nprobe 4/16: 0.50).
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(k_exact AS BIGINT) AS k_exact,
       CAST(n_ann AS BIGINT) AS n_ann, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(floor_ok AS BOOLEAN) AS floor_ok
FROM (VALUES
  (0, 5, 5, 3, TRUE),
  (1, 5, 5, 4, TRUE),
  (2, 5, 5, 3, TRUE),
  (3, 5, 5, 4, TRUE),
  (4, 5, 5, 5, TRUE),
  (5, 5, 5, 3, TRUE),
  (6, 5, 5, 4, TRUE),
  (7, 5, 5, 5, TRUE),
  (8, 5, 5, 5, TRUE),
  (9, 5, 5, 5, TRUE)
) AS v(query_id, k_exact, n_ann, n_hits, floor_ok)
"""


_BM25_QUERIES = [
    (0, "spark window agg"),
    (1, "hash join table part"),
    (2, "stream filter sort batch"),
]


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the documents corpus (inverted-index
    access path expressed declaratively: one-scan postings build,
    broadcast query-term probe filters postings map-side before any
    shuffle, all-JVM scoring — operators/retrieval.py). The DuckDB twin
    recomputes the identical tokenization + Lucene-style BM25 formula
    end-to-end, so tf/df/avgdl statistics, scores (6dp) and the
    (score DESC, doc_id) ranking are all verified."""
    from doctr_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, qtext string")
    out = bm25_topk(docs, q, k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
        "score",
        F.col("n_terms").cast("long").alias("n_terms"),
    )


_BM25_TOPK_ORACLE = bm25_topk_sql("documents", _BM25_QUERIES, k=10)


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span dedup (Lee et al. exact-substring pass, word-
    level): corpus-duplicated 8-gram spans merged per document via a
    running-max gaps-and-islands window (operators/spans.py). The DuckDB
    twin recomputes the full pipeline on raw gram strings (no hashing),
    so the Spark side's xxhash64 join keys are also collision-checked."""
    from doctr_spark.operators.spans import duplicated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_spans(docs, n=8, min_count=2)


_SPAN_DEDUP_ORACLE = duplicated_spans_sql("documents", n=8, min_count=2)


# committed weight table for the classifier driver query, sized to the
# synthetic documents corpus vocabulary so the label split is
# discriminative (sf0.01: 372 True / 128 False, scores 0.44-0.58) —
# exercising the pluggable-weights seam the operator is built around
_CLS_WEIGHTS = (
    [(t, 0.6) for t in "fast merge sort batch stream vector spark window".split()]
    + [(t, -0.6) for t in "slow big scan filter row hash".split()]
)


def _q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-classifier inference (fastText/CCNet-style quality
    filter): broadcast caller-supplied weight table joined against the
    exploded token stream, map-side-combined per-doc mean, sigmoid +
    threshold — all JVM (operators/classifier.py). The DuckDB twin
    inlines the same weight table as VALUES and recomputes tokenization,
    averaging, sigmoid, rounding and label end-to-end."""
    from doctr_spark.operators.classifier import classify_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return classify_quality(docs, weights=_CLS_WEIGHTS, bias=0.0, oov_weight=0.0)


_CLASSIFIER_SCORE_ORACLE = classify_quality_sql(
    "documents", weights=_CLS_WEIGHTS, bias=0.0, oov_weight=0.0
)


def _q_tiny_conv_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused OCR extraction through the pluggable model seam with a REAL
    weights file: detector = 2-layer sigmoid-conv net, recognizer =
    matched-filter conv + shared CTC decode, both numpy forwards over
    weights committed at doctr_spark/models_data/tiny_conv_v1.npz and
    loaded once per worker via resolve_model — the non-default-model path
    the ONNX factories use (reference detection/zoo.py:59-71,
    recognition/zoo.py:41-52). The oracle invariant is n_exact == n_turns:
    per-turn text equality with turn/page counts pinned by the
    deterministic generator."""
    from doctr_spark.plans.tiny_conv import tiny_conv_detector, tiny_conv_recognizer

    return _per_conv_exactness(
        _ocr_gen(spark, 10), detector=tiny_conv_detector(), recognizer=tiny_conv_recognizer()
    )


# the first 10 convs of the extract_ocr fixture, through the REAL-WEIGHTS
# tiny-conv model pair (non-default models via the pluggable seam)
_TINY_CONV_OCR_ORACLE = _per_conv_oracle(10)


def _q_hub_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Models resolved BY NAME through the hub factory (plans/hub.py —
    reference models/factory/hub.py from_hub): the query materializes two
    repos in the standard HF cache layout (config.json + weights,
    models--ORG--NAME/snapshots/<rev>/), resolves them by repo id, and
    runs them through the extract_turns seam — the reference's
    ocr_predictor(det_arch=from_hub(...), reco_arch=from_hub(...))
    composition. Invariant: n_exact == n_turns."""
    import os
    import tempfile

    from doctr_spark.plans.hub import from_hub, save_model_for_hub
    from doctr_spark.plans.tiny_crnn import CRNN_WEIGHTS_PATH
    from doctr_spark.plans.tiny_dbnet import DBNET_WEIGHTS_PATH

    # stable cache dir, overwritten in place each run (executors read the
    # weights lazily at collect time, so it cannot be deleted here; a
    # per-run mkdtemp would leak one orphan dir per driver round). Keyed
    # by uid so concurrent users on a shared box never collide on the
    # path or each other's permissions (local-mode assumption: driver and
    # executors share this filesystem)
    cache = os.path.join(
        tempfile.gettempdir(), f"doctr_spark_hub_cache_{os.getuid()}"
    )
    for org_name, path, arch, task in (
        ("acme/det", DBNET_WEIGHTS_PATH, "tiny_dbnet_fpn", "detection"),
        ("acme/rec", CRNN_WEIGHTS_PATH, "tiny_crnn_bilstm", "recognition"),
    ):
        slug = "models--" + org_name.replace("/", "--")
        snap = os.path.join(cache, slug, "snapshots", "rev0")
        os.makedirs(snap, exist_ok=True)
        save_model_for_hub(path, snap, arch=arch, task=task)

    models = {
        "detector": from_hub("acme/det", cache_dir=cache),
        "recognizer": from_hub("acme/rec", cache_dir=cache),
    }
    return _exactness(_ocr_gen(spark, 2), "models", [("hub:det+rec", models)])


# invariant: n_exact == n_turns through hub-name-resolved detector +
# recognizer (HF cache layout)
_HUB_ZOO_ORACLE = _exactness_oracle("models", _exact_rows(2, ["hub:det+rec"]))


def _q_onnx_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through COMMITTED real .onnx checkpoints
    (models_data/tiny_conv_{det,reco}_v1.onnx — hand-encoded ONNX
    ModelProto protobufs) via the onnx_detector / onnx_recognizer loader
    factories (plans/models.py), executed by the bundled numpy ONNX
    executor when onnxruntime is absent. This runs the reference's
    from-serialized-checkpoint custom-model path (detection/zoo.py:59-71,
    recognition/zoo.py:41-52) end-to-end, not as stub wiring."""
    from doctr_spark.operators.detection import INK_MODEL_POSTPROC
    from doctr_spark.plans.models import onnx_detector, onnx_recognizer
    from doctr_spark.plans.onnx_export import ONNX_DET_PATH, ONNX_RECO_PATH

    models = {
        "detector": onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC),
        "recognizer": onnx_recognizer(ONNX_RECO_PATH),
    }
    return _exactness(_ocr_gen(spark, 2, partitions=8), "models", [("onnx-det+reco", models)])


# invariant: n_exact == n_turns through BOTH committed .onnx checkpoints
# via the loader factories
_ONNX_ZOO_ORACLE = _exactness_oracle("models", _exact_rows(2, ["onnx-det+reco"]))


def _q_onnx_fpn_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through a committed .onnx FPN detector whose op
    set matches what torch.onnx emits for the reference DBNet FPN
    (differentiable_binarization/pytorch.py:48-93): Conv /
    BatchNormalization / Relu ladders, MaxPool downsamples, Resize(sizes)
    + Add top-down merges, Concat before the 1x1 head — executed by the
    bundled numpy executor (plans/onnx_exec.py) via the onnx_detector
    factory with its fixed-input preprocessing (resize + symmetric pad +
    remove_padding, the reference PreProcessor contract). Both FPN
    branches are ablation-proven load-bearing (tests/test_onnx_zoo.py)."""
    from doctr_spark.operators.detection import INK_MODEL_POSTPROC
    from doctr_spark.plans.models import onnx_detector
    from doctr_spark.plans.onnx_export import FPN_INPUT_HW, ONNX_FPN_PATH

    det = onnx_detector(ONNX_FPN_PATH, postproc=INK_MODEL_POSTPROC, target_hw=FPN_INPUT_HW)
    return _exactness(
        _ocr_gen(spark, 2, partitions=8), "models", [("onnx-fpn-det", {"detector": det})]
    )


# invariant: n_exact == n_turns through the committed FPN-shaped .onnx
# checkpoint (real-exporter op set: Conv/BatchNormalization/Relu/MaxPool/
# Resize/Add/Concat/Sigmoid)
_ONNX_FPN_ZOO_ORACLE = _exactness_oracle("models", _exact_rows(2, ["onnx-fpn-det"]))


def _q_archive_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-benchmark archive loaders (sources/archives.py) — 12 of the
    reference's 13 dataset formats (FUNSD, CORD, SROIE, IC13, IC03,
    WILDRECEIPT, SVT, COCO-Text, MJSynth, IIIT-HWS, plus IIIT5K and
    SynthText through the bundled MAT-v5 codec; only HDF5-based SVHN is
    out) over the deterministic mock archives of plans/mock_archives.py
    (zip layout + per-image annotations, opaque image bytes). Pins, per
    dataset: image count, parsed word count (empty-text words dropped,
    set/legibility filters applied), the straight-box coordinate sum
    (min/max reduction parity), and the polygon-corner coordinate sum
    (use_polygons corner-order parity) — any drift in the format parsing
    or the box conversion moves a sum. Recognition corpora (MJSynth /
    IIIT-HWS) pin label counts and total label chars instead."""
    import os
    import shutil
    import tempfile
    from functools import partial

    from doctr_spark.plans import mock_archives as M
    from doctr_spark.sources.archives import (
        extract_archive,
        load_cocotext,
        load_cord,
        load_funsd,
        load_ic03,
        load_ic13,
        load_iiit5k,
        load_iiithws,
        load_mjsynth,
        load_sroie,
        load_svt,
        load_synthtext,
        load_wildreceipt,
    )

    # stable per-uid directory, rebuilt in place each run: executors read
    # the files lazily at collect time, so they cannot be deleted before
    # returning, and a per-run mkdtemp would leak one tree per run
    tmp = os.path.join(tempfile.gettempdir(), f"doctr_spark_archives_{os.getuid()}")
    shutil.rmtree(tmp, ignore_errors=True)

    def unzip(name: str, build) -> str:
        return extract_archive(build(tmp), os.path.join(tmp, f"x_{name}"))

    loads = {
        "funsd": partial(load_funsd, spark, unzip("funsd", M.build_funsd_zip), train=True),
        "cord": partial(load_cord, spark, unzip("cord", M.build_cord_zip)),
        "sroie": partial(load_sroie, spark, unzip("sroie", M.build_sroie_zip)),
        "ic13": partial(load_ic13, spark, *M.build_ic13(tmp)),
        "ic03": partial(load_ic03, spark, M.build_ic03(tmp), train=True),
        "wildreceipt": partial(load_wildreceipt, spark, *M.build_wildreceipt(tmp)),
        "svt": partial(load_svt, spark, M.build_svt(tmp), train=True),
        "coco_text": partial(load_cocotext, spark, *M.build_cocotext(tmp), train=True),
        "iiit5k": partial(load_iiit5k, spark, M.build_iiit5k(tmp), train=True),
        "synthtext": partial(load_synthtext, spark, M.build_synthtext(tmp), train=True),
    }
    # MJSynth / IIIT-HWS (filename-label recognition corpora): pinned by
    # label count + total label chars (coord columns are 0 — no geometry)
    reco_loads = {
        "mjsynth": load_mjsynth(spark, *M.build_mjsynth(tmp), train=True),
        "iiithws": load_iiithws(spark, *M.build_iiithws(tmp), train=True),
    }
    frames = []
    coord_sum = F.expr("aggregate(flatten(geoms), cast(0 as double), (a, x) -> a + x)")
    for name, load in loads.items():
        s = load().agg(
            F.count("*").alias("n_images"),
            F.sum(F.size("labels")).alias("n_words"),
            F.sum(coord_sum).cast("long").alias("coord_sum"),
        )
        p = load(use_polygons=True).agg(F.sum(coord_sum).cast("long").alias("poly_coord_sum"))
        frames.append(
            s.crossJoin(p).select(
                F.lit(name).alias("dataset"), "n_images", "n_words",
                "coord_sum", "poly_coord_sum",
            )
        )
    for name, df in reco_loads.items():
        frames.append(
            df.agg(
                F.count("*").alias("n_images"),
                F.count("label").alias("n_words"),
                F.sum(F.length("label")).cast("long").alias("coord_sum"),
            ).select(
                F.lit(name).alias("dataset"), "n_images", "n_words",
                "coord_sum", F.lit(0).cast("long").alias("poly_coord_sum"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


_ARCHIVE_DATASETS_ORACLE = """
-- hand-computed from the mock-archive fixtures (2 images per dataset,
-- except IC03 where the boxless image must be filtered):
-- FUNSD 3 non-empty words/img, straight sum 630/img, corner sum 1260/img;
-- CORD 2 words/img (empty dropped), min/max 938/img, quad corners 1876/img;
-- SROIE 3 rows/img incl. a comma-containing label, 945/img, corners 1890/img;
-- IC13 3 rows/img (trailing-comma strip + label dequote), 5144/img;
-- IC03 1 image kept of 2 (words.xml), x/y/width/height -> 314;
-- WILDRECEIPT jsonl, min/max over 8 coords -> 328+50, corners 756;
-- SVT train.xml xywh rects (112+202 + 50), COCO-Text set+legibility
-- filters (1 val image excluded, 1 illegible ann dropped: 112+170);
-- MJSynth/IIITHWS are recognition corpora: coord_sum = total label
-- chars (WELCOME+Hello=12; deterministic-split WORLD+SPARK=10), poly 0;
-- IIIT5K per-CHAR xywh boxes via the bundled MAT-v5 codec (300+150);
-- SynthText gt.mat corner tensors, 90/10 split keeps 2 of 3 (328+50)
SELECT dataset, CAST(n_images AS BIGINT) AS n_images,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(coord_sum AS BIGINT) AS coord_sum,
       CAST(poly_coord_sum AS BIGINT) AS poly_coord_sum
FROM (VALUES
  ('funsd', 2, 6, 1260, 2520),
  ('cord', 2, 4, 1876, 3752),
  ('sroie', 2, 6, 1890, 3780),
  ('ic13', 2, 6, 10288, 20576),
  ('ic03', 1, 2, 314, 628),
  ('wildreceipt', 2, 3, 378, 756),
  ('svt', 2, 3, 364, 728),
  ('coco_text', 2, 2, 282, 564),
  ('mjsynth', 2, 2, 12, 0),
  ('iiithws', 2, 2, 10, 0),
  ('iiit5k', 2, 6, 450, 900),
  ('synthtext', 2, 3, 378, 756)
) AS v(dataset, n_images, n_words, coord_sum, poly_coord_sum)
"""


def _page_turns(spark: SparkSession, n: int, prefix: str, page, extra_schema: str = "") -> DataFrame:
    """``n`` one-turn conversations ``{prefix}-{i:04d}`` on 4 partitions, each
    a user turn carrying one ``page_bundle`` page (scale 3). ``page(i)``
    returns that page and a dict of extra columns declared by
    ``extra_schema`` (a DDL suffix such as ``", expected_kie string"``)."""

    def gen(batches):
        import datetime as dt

        import pandas as pd

        from doctr_spark.sources.payloads import encode_page_bundle, tool_envelope

        for pdf in batches:
            rows = []
            for raw in pdf["id"].tolist():
                i = int(raw)
                img, extra = page(i)
                rows.append(
                    {
                        "conv_id": f"{prefix}-{i:04d}",
                        "turn_idx": 0,
                        "role": "user",
                        "text": "[attachment: 1 page(s)]",
                        "tool": tool_envelope("page_bundle", encode_page_bundle([img], 3)),
                        "ts": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
                        **extra,
                    }
                )
            out = pd.DataFrame(rows)
            out["ts"] = pd.to_datetime(out["ts"], utc=True)
            yield out

    return spark.range(0, n, 1, 4).mapInPandas(
        gen,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        + extra_schema,
    )


def _q_kie_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KIE predictor as a PIPELINE entry point (reference
    models/kie_predictor/pytorch.py:69-182): extract_turns(kie=True) runs
    the same fused det/reco stage but emits per-class reading-ordered
    Prediction lists (``predictions`` map column) and the KIEDocument
    render (``kie_text``). 8 generated single-page turns each carry one
    email, url, date, number, symbol and two plain words; the query pins
    per-class prediction totals AND exact kie_text render equality
    against the generator-known layout."""
    from doctr_spark.plans.pipeline import extract_turns

    def page(i):
        from doctr_spark.sources.font import render_page

        words = [
            f"USER{i}", f"{i}7", f"2026-01-1{i}", f"A{i}@B{i}.IO",
            f"HTTPS://X{i}.CO", "+=", "HELLO",
        ]
        img, _ = render_page(words, scale=3)
        expected = "\n\n".join(
            [
                f"date: 2026-01-1{i}",
                f"email: A{i}@B{i}.IO",
                f"number: {i}7",
                "symbol: +=",
                f"url: HTTPS://X{i}.CO",
                f"word: USER{i}",
                "word: HELLO",
            ]
        )
        return img, {"expected_kie": expected}

    src = _page_turns(spark, 8, "kie", page, ", expected_kie string")
    out = extract_turns(src, kie=True).join(
        src.select("conv_id", "expected_kie"), "conv_id"
    )
    totals = out.agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("kie_text") == F.col("expected_kie")).cast("long")).alias(
            "n_render_exact"
        ),
    )
    return (
        out.select(F.explode("predictions").alias("cls", "preds"))
        .groupBy("cls")
        .agg(F.sum(F.size("preds")).alias("n_preds"))
        .crossJoin(totals)
    )


_KIE_EXTRACT_ORACLE = """
-- 8 generated pages, each with 1 date + 1 email + 1 number + 1 symbol +
-- 1 url + 2 words; invariant: per-class totals match AND all 8 KIE
-- renders equal the generator-known class-sorted reading-order string
SELECT cls, CAST(n_preds AS BIGINT) AS n_preds,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_render_exact AS BIGINT) AS n_render_exact
FROM (VALUES
  ('date', 8, 8, 8),
  ('email', 8, 8, 8),
  ('number', 8, 8, 8),
  ('symbol', 8, 8, 8),
  ('url', 8, 8, 8),
  ('word', 16, 8, 8)
) AS v(cls, n_preds, n_turns, n_render_exact)
"""


def _q_dbnet_fpn_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through the FLAGSHIP detector structure — the
    DBNet backbone -> 4-level top-down FPN -> prob head with committed
    real weights (plans/tiny_dbnet.py, models_data/tiny_dbnet_v1.npz;
    reference models/detection/differentiable_binarization/pytorch.py:
    48-93). The mask it binarizes has a different SHAPE from the default
    ink-fuse detector's (cross halos + row-block bands), so n_exact ==
    n_turns proves box-shape slack never reaches the recognizer."""
    from doctr_spark.plans.tiny_dbnet import tiny_dbnet_detector

    return _exactness(
        _ocr_gen(spark, 4), "detector", [("dbnet-fpn", {"detector": tiny_dbnet_detector()})]
    )


# invariant: n_exact == n_turns through the committed-weights DBNet-style
# backbone->FPN->prob-head
_DBNET_FPN_OCR_ORACLE = _exactness_oracle("detector", _exact_rows(4, ["dbnet-fpn"]))


def _q_crnn_bilstm_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through the reference's DEFAULT recognizer
    structure — conv backbone -> 2-direction LSTM -> linear head -> CTC
    with committed real weights (plans/tiny_crnn.py,
    models_data/tiny_crnn_v1.npz; reference recognition/crnn/pytorch.py:
    98-227). The conv stage alone is genuinely ambiguous (sub-glyph
    firings); n_exact == n_turns proves the BiLSTM context resolves it."""
    from doctr_spark.plans.tiny_crnn import tiny_bilstm_recognizer

    return _exactness(
        _ocr_gen(spark, 4), "recognizer",
        [("crnn-bilstm", {"recognizer": tiny_bilstm_recognizer()})],
    )


# invariant: n_exact == n_turns through the committed-weights
# conv->BiLSTM->CTC recognizer
_CRNN_BILSTM_OCR_ORACLE = _exactness_oracle("recognizer", _exact_rows(4, ["crnn-bilstm"]))


def _q_detector_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through TWO more non-default detector
    architectures via the pluggable seam (committed real weights,
    models_data/tiny_zoo_v1.npz): 'fast' = multi-branch FASTConvLayer
    weights folded by the real reparameterization at load time into one
    fused conv (reference models/detection/fast/pytorch.py:283);
    'linknet' = encoder-decoder forward whose decoder conv runs on an
    s-stride-pooled feature map with an additive stem skip (reference
    models/detection/linknet). Invariant: n_exact == n_turns for both —
    the extraction result is architecture-independent."""
    from doctr_spark.plans.tiny_zoo import tiny_fast_detector, tiny_linknet_detector

    return _exactness(
        _ocr_gen(spark, 4), "detector",
        [("fast", {"detector": tiny_fast_detector()}),
         ("linknet", {"detector": tiny_linknet_detector()})],
    )


# invariant: n_exact == n_turns through BOTH non-default detector
# architectures (reparameterized-FAST fused conv; LinkNet encoder-decoder
# + skip)
_DETECTOR_ZOO_ORACLE = _exactness_oracle("detector", _exact_rows(4, ["fast", "linknet"]))


def _q_recognizer_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through the PARALLEL-decode (non-CTC) recognizer
    family via the pluggable seam: 'vitstr' decodes per-position argmax to
    <eos> with mean-softmax confidence (reference
    recognition/vitstr/pytorch.py:155-180), 'sar' with min-softmax over
    all positions (recognition/sar/pytorch.py:309-333, shared by MASTER).
    Invariant: n_exact == n_turns for both — extraction output is
    decode-family-independent."""
    from doctr_spark.plans.models import SAR_RECOGNIZER, VITSTR_RECOGNIZER

    return _exactness(
        _ocr_gen(spark, 4), "recognizer",
        [("vitstr", {"recognizer": VITSTR_RECOGNIZER}), ("sar", {"recognizer": SAR_RECOGNIZER})],
    )


# invariant: n_exact == n_turns through BOTH non-CTC decode families
# (ViTSTR mean-conf, SAR min-conf)
_RECOGNIZER_ZOO_ORACLE = _exactness_oracle("recognizer", _exact_rows(4, ["vitstr", "sar"]))


def _q_reco_weights_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn equality through ALL FIVE non-CRNN recognizer families with
    committed real weights (models_data/tiny_reco_zoo_v1.npz) via the
    pluggable seam: SAR's recurrent-attention decoder, MASTER's AR
    transformer decoder (2-head class-split cross-attention + FFN),
    ViTSTR's encoder-only self-attention readout, PARSeq's position-query
    AR + cloze refinement, and VIPTR's blank-first parameterized-blank CTC
    (plans/tiny_reco_zoo.py; reference recognition/{sar,master,vitstr,
    parseq,viptr}/pytorch.py). Invariant: n_exact == n_turns for every
    family — extraction output is recognizer-architecture-independent."""
    from doctr_spark.plans.tiny_reco_zoo import ALL_RECO_VARIANTS

    return _exactness(
        _ocr_gen(spark, 3), "recognizer",
        [(name, {"recognizer": factory()}) for name, factory in ALL_RECO_VARIANTS],
    )


# invariant: n_exact == n_turns through all five committed-weights
# recognizer families (SAR / MASTER / ViTSTR / PARSeq / VIPTR)
_RECO_WEIGHTS_ZOO_ORACLE = _exactness_oracle(
    "recognizer", _exact_rows(3, ["sar", "master", "vitstr", "parseq", "viptr"])
)


def _q_orientation_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed-weights orientation classifier (tiny-mbv3-orient-v1) — the
    classification-family structural equivalent of the reference's
    MobileNetV3 OrientationPredictor (models/classification/predictor/
    pytorch.py:17-66, zoo classification/zoo.py:41-119): matched-filter
    conv bank at 4 rotations -> exact-match ReLU gate -> global average
    pool -> learned 4x4 permutation head. Two invariants: (a) rotated-page
    recovery through the pipeline seam — n_exact == n_turns on a corpus
    whose OCR pages are ALL stored quarter-rotated; (b) the classifier
    contract itself, distributed — for each applied rotation k the
    predicted uprighting turn inverts it, and the predicted class value
    lands in the reference cfg layout [0, -90, 180, 90]
    (mobilenet/pytorch.py:61). A third variant (c) runs the SAME
    classifier from its serialized .onnx form (Conv/Relu/
    GlobalAveragePool/Flatten/Gemm/Softmax — the torch.onnx
    classifier-export op sequence) through the bundled numpy executor:
    the classification family's from-checkpoint load path executed."""
    from doctr_spark.plans.tiny_orient import (
        onnx_orient_classifier,
        tiny_orient_classifier,
    )

    extract_rows = _exactness(
        _ocr_gen(spark, 4, rot_ratio=1.0), "variant",
        [("extract_rotated", {"detect_orientation": True, "orienter": tiny_orient_classifier()}),
         ("extract_rotated_onnx", {"detect_orientation": True, "orienter": onnx_orient_classifier()})],
    )

    def cls(batches):
        import numpy as np
        import pandas as pd

        from doctr_spark.plans.models import resolve_model
        from doctr_spark.plans.tiny_orient import REFERENCE_CLASSES
        from doctr_spark.sources.font import render_page

        clf = resolve_model(*tiny_orient_classifier())
        for pdf in batches:
            rows = []
            for raw in pdf["id"].tolist():
                k = int(raw)
                img, _ = render_page("ALPHA BRAVO 42 GO! READY.".split(), scale=3)
                rot = np.ascontiguousarray(np.rot90(img, k))
                idx, value, _conf = clf.predict(rot, 3)
                est = clf(rot, 3)
                ok = (est + k) % 4 == 0 and REFERENCE_CLASSES[idx] == value
                rows.append({"variant": f"classify_k{k}", "n_turns": 1, "n_exact": int(ok)})
            yield pd.DataFrame(rows, columns=["variant", "n_turns", "n_exact"])

    cls_rows = spark.range(0, 4, 1, 2).mapInPandas(
        cls, schema="variant string, n_turns long, n_exact long"
    )
    return extract_rows.unionByName(cls_rows)


# every OCR page of the first 4 generator convs is stored quarter-rotated;
# invariants: n_exact == n_turns through the committed-weights orientation
# classifier seam, and the 4 distributed classifier-contract probes each
# invert their applied rotation with reference class-layout parity
_ORIENTATION_ZOO_ORACLE = _exactness_oracle(
    "variant",
    _exact_rows(4, ["extract_rotated", "extract_rotated_onnx"])
    + [(f"classify_k{k}", 1, 1) for k in range(4)],
)


def _q_artefact_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed artefact taxonomy through the fused pipeline, distributed:
    12 single-turn transcripts each carry a rendered page with a text line
    plus one artefact pattern (bar code stripes / QR module grid / 1px
    halftone / solid block, cycling), extraction classifies them
    (operators/artefacts.py — reference contrib/artefacts.py labels), and
    the result aggregates artefact counts per class alongside the
    text-equality count proving artefacts never pollute the render."""
    from doctr_spark.plans.pipeline import extract_turns

    def page(i):
        import numpy as np

        from doctr_spark.sources.font import render_page

        img, _ = render_page(["ALPHA", "BRAVO"], scale=3)
        h, w = img.shape
        size = 24 + 6 * (i // 4)  # vary region size per row
        if i % 4 == 0:  # bar code: 3px stripes
            pat = np.zeros((size, 96), bool)
            for x in range(0, 96, 6):
                pat[:, x : x + 3] = True
        elif i % 4 == 1:  # qr: 6px module checker
            yy, xx = np.indices((size, 72))
            pat = (yy // 6 + xx // 6) % 2 == 0
        elif i % 4 == 2:  # halftone: 1px checker
            pat = np.indices((size, 72)).sum(0) % 2 == 0
        else:  # solid block
            pat = np.ones((size, 72), bool)
        out = np.full((h + 27 + pat.shape[0] + 12, w), 255, dtype=np.uint8)
        out[:h] = img
        out[h + 27 : h + 27 + pat.shape[0], 24 : 24 + pat.shape[1]][pat] = 0
        return out, {}

    src = _page_turns(spark, 12, "art", page)
    out = extract_turns(src)
    n_text_exact = out.agg(
        F.sum((F.col("extracted_text") == "ALPHA BRAVO").cast("long")).alias("n_text_exact")
    )
    return (
        out.select(F.explode("artefacts").alias("a"))
        .groupBy(F.col("a.type").alias("artefact_type"))
        .agg(F.count("*").alias("n_artefacts"))
        .crossJoin(n_text_exact)
    )


_ARTEFACT_CLASSES_ORACLE = """
-- 12 generated pages cycle bar/qr/halftone/solid artefact patterns (3
-- each); the pipeline must type every one correctly AND keep all 12
-- text renders exactly 'ALPHA BRAVO' (artefacts never pollute the text)
SELECT artefact_type, CAST(n_artefacts AS BIGINT) AS n_artefacts,
       CAST(n_text_exact AS BIGINT) AS n_text_exact
FROM (VALUES
  ('bar_code', 3, 12),
  ('block', 3, 12),
  ('photo', 3, 12),
  ('qr_code', 3, 12)
) AS v(artefact_type, n_artefacts, n_text_exact)
"""


def _q_skew_angle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour-path skew estimation (reference models/_utils.py:32-114
    analog), distributed: each task renders a page, rotates it by a known
    float angle, and estimates the uprighting angle; the oracle pins the
    rounded estimates and asserts the |error| <= 0.2 degree invariant."""

    def gen(batches):
        import pandas as pd

        from doctr_spark.operators.orientation import estimate_skew_angle, rotate_page_float
        from doctr_spark.sources.font import render_page

        skews = (-12, -8, -5, -3, 3, 5, 8, 12)
        words = ["HELLO", "WORLD", "SPARK", "GRAFT", "ALPHA", "BRAVO", "DELTA", "ECHO"]
        for pdf in batches:
            rows = []
            for raw in pdf["id"].tolist():
                i = int(raw)
                s = skews[i]
                img, _ = render_page(words, scale=3)
                est = estimate_skew_angle(rotate_page_float(img, s), 3)
                rows.append(
                    {
                        "skew_id": i,
                        "true_skew": s,
                        "est_angle": round(est, 2),
                        "within_tol": abs(est + s) <= 0.2,
                    }
                )
            yield pd.DataFrame(rows, columns=["skew_id", "true_skew", "est_angle", "within_tol"])

    return spark.range(0, 8, 1, 4).mapInPandas(
        gen, schema="skew_id long, true_skew long, est_angle double, within_tol boolean"
    )


_SKEW_ANGLE_ORACLE = """
-- known float skews vs the contour-path estimate (rounded 2): the
-- uprighting angle is recovered within 0.2 degrees at every tested skew
SELECT CAST(skew_id AS BIGINT) AS skew_id, CAST(true_skew AS BIGINT) AS true_skew,
       CAST(est_angle AS DOUBLE) AS est_angle, CAST(within_tol AS BOOLEAN) AS within_tol
FROM (VALUES
  (0, -12, 11.98, TRUE),
  (1, -8, 7.99, TRUE),
  (2, -5, 4.97, TRUE),
  (3, -3, 2.97, TRUE),
  (4, 3, -3.01, TRUE),
  (5, 5, -4.97, TRUE),
  (6, 8, -8.0, TRUE),
  (7, 12, -11.99, TRUE)
) AS v(skew_id, true_skew, est_angle, within_tol)
"""


_LANGID_FIXTURE = [
    (0, "en", "she opened the window and looked at the quiet street below the old houses."),
    (1, "de", "er öffnete das fenster und schaute auf die ruhige straße unter den alten häusern."),
    (2, "fr", "elle a ouvert la fenêtre et regardé la rue tranquille sous les vieilles maisons."),
    (3, "es", "ella abrió la ventana y miró la calle tranquila bajo las casas viejas."),
    (4, "it", "lei aprì la finestra e guardò la strada tranquilla sotto le vecchie case."),
    (5, "pt", "ela abriu a janela e olhou para a rua tranquila embaixo das casas velhas."),
    (6, "nl", "zij opende het raam en keek naar de rustige straat onder de oude huizen."),
    (7, "sv", "hon öppnade fönstret och tittade på den lugna gatan under de gamla husen."),
    (8, "pl", "otworzyła okno i spojrzała na spokojną ulicę pod starymi domami."),
    (9, "tr", "pencereyi açtı ve aşağıdaki eski evlerin altındaki sakin sokağa baktı."),
    (10, "ru", "она открыла окно и посмотрела на тихую улицу внизу."),
    (11, "zh", "她打开窗户，看着下面安静的街道和古老的房子。"),
    (12, "ja", "彼女は窓を開けて、下の静かな通りを眺めました。"),
    (13, "ko", "그녀는 창문을 열고 아래의 조용한 거리를 바라보았다."),
    (14, "ar", "فتحت النافذة ونظرت إلى الشارع الهادئ في الأسفل."),
    (15, "he", "היא פתחה את החלון והביטה ברחוב השקט למטה."),
    (16, "el", "άνοιξε το παράθυρο και κοίταξε τον ήσυχο δρόμο από κάτω."),
    (17, "unknown", "hi"),
]


def _q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General language ID (Cavnar-Trenkle n-gram profiles + Unicode
    script routing, functions/langid.py — the langdetect-equivalent the
    marker heuristic could not be): held-out sentences in 17 languages
    (none appear in the training samples) classified distributed; the
    oracle pins every predicted label correct plus the short-text gate."""
    from doctr_spark.functions.langid import lang_id_ngram

    df = spark.createDataFrame(
        [(i, t) for i, _, t in _LANGID_FIXTURE], "sid int, text string"
    ).repartition(4)
    out = df.select(F.col("sid").cast("long").alias("sid"), lang_id_ngram(F.col("text")).alias("r"))
    return out.select("sid", F.col("r.lang").alias("lang"), F.col("r.conf").alias("conf"))


_LANG_ID_NGRAM_ORACLE = """
-- held-out sentences (disjoint from the embedded training samples), one
-- per supported language + the short-text gate; confidences are the
-- deterministic rank-distance margins (script-path rows are block ratios)
SELECT CAST(sid AS BIGINT) AS sid, lang, CAST(conf AS DOUBLE) AS conf
FROM (VALUES
  (0, 'en', 0.003243),
  (1, 'de', 0.240373),
  (2, 'fr', 0.155665),
  (3, 'es', 0.09934),
  (4, 'it', 0.071018),
  (5, 'pt', 0.044166),
  (6, 'nl', 0.262144),
  (7, 'sv', 0.236819),
  (8, 'pl', 0.077173),
  (9, 'tr', 0.053045),
  (10, 'ru', 1.0),
  (11, 'zh', 1.0),
  (12, 'ja', 0.619048),
  (13, 'ko', 1.0),
  (14, 'ar', 1.0),
  (15, 'he', 1.0),
  (16, 'el', 1.0),
  (17, 'unknown', 0.0)
) AS v(sid, lang, conf)
"""


def _q_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest extraction, driver-checked: extract_turns runs
    through a REAL file-source readStream (pinned schema, one file per
    trigger, availableNow) with a foreachBatch observer — the north
    rule's resumable-streaming surface executed, not just unit-tested.
    Two single-file arrivals become two micro-batches; the oracle pins
    per-micro-batch turn counts AND per-batch exactness (n_exact ==
    n_turns in EVERY batch — the fused stage is stateless per turn, so
    batch boundaries cannot change any turn's output), plus the
    exactly-once union row."""
    import glob
    import os
    import shutil
    import tempfile
    import time as _time

    from doctr_spark.streaming.stream import extract_stream, stream_transcripts

    # the result is collected into a local DataFrame, so the whole input
    # tree can go before returning
    base = tempfile.mkdtemp(prefix="doctr_spark_stream_q_")
    try:
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        gen = _ocr_gen(spark, 4).cache()
        expected = {
            (r["conv_id"], r["turn_idx"]): r["expected_text"]
            for r in gen.select("conv_id", "turn_idx", "expected_text").collect()
        }
        groups = (("conv-000000", "conv-000001"), ("conv-000002", "conv-000003"))
        for i, convs in enumerate(groups):
            tmp = os.path.join(base, f"stage_{i}")
            (
                gen.filter(F.col("conv_id").isin(list(convs)))
                .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
                .coalesce(1).write.mode("overwrite").parquet(tmp)
            )
            shutil.copy(
                glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                os.path.join(in_dir, f"{i}.parquet"),
            )
            _time.sleep(1.1)  # file-source ordering is by mtime
        gen.unpersist()

        batches: list[dict] = []

        def capture(df, epoch_id):
            rows = df.select("conv_id", "turn_idx", "extracted_text").collect()
            if rows:
                batches.append(
                    {
                        "convs": {r["conv_id"] for r in rows},
                        "n_turns": len(rows),
                        "n_exact": sum(
                            expected[(r["conv_id"], r["turn_idx"])] == r["extracted_text"]
                            for r in rows
                        ),
                    }
                )

        q = (
            extract_stream(stream_transcripts(spark, in_dir, max_files_per_trigger=1))
            .writeStream.outputMode("append")
            .foreachBatch(capture)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    out_rows = []
    for b in batches:
        # name batches by CONTENT (which conv group), not arrival epoch
        name = "batch_a" if "conv-000000" in b["convs"] else "batch_b"
        out_rows.append((name, b["n_turns"], b["n_exact"]))
    out_rows.append(
        ("union", sum(b["n_turns"] for b in batches), sum(b["n_exact"] for b in batches))
    )
    return spark.createDataFrame(
        out_rows, "batch string, n_turns long, n_exact long"
    )


# two single-file readStream micro-batches over the first 4 generator
# convs (12+3 = 15 and 13+13 = 26 turns); invariants: per-BATCH exactness
# (n_exact == n_turns in each micro-batch) and exactly-once union coverage
# (41 turns total, none duplicated or dropped)
_STREAMING_EXTRACT_ORACLE = _exactness_oracle(
    "batch", [("batch_a", 15, 15), ("batch_b", 26, 26), ("union", 41, 41)]
)


def _q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window clustering on the events stream (batch-mode session
    windows; same operator the streaming path uses)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


_STREAMING_SESSIONIZE_ORACLE = """
-- lag-gap derivation of Spark session_window(ts, '30 minutes'): a new
-- session starts when the gap STRICTLY exceeds 30 min (an event exactly at
-- the previous window end merges -- verified against Spark semantics);
-- microsecond math, session_start = min ts truncated to seconds
WITH ev AS (SELECT user_id, event_id, ts, epoch_us(ts) AS tu FROM events),
marked AS (
  SELECT user_id, event_id, ts, tu,
         CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


# ------------------------------------------------------------------ registry

# (name, query, oracle SQL) in gate order (see queries()); queries() and
# oracle_sql() are both read from this one table, so no query can be
# registered without its oracle or under a different name
_REGISTRY: tuple[tuple[str, Callable[[SparkSession, str], DataFrame], str], ...] = (
    ("orientation_zoo", _q_orientation_zoo, _ORIENTATION_ZOO_ORACLE),
    ("onnx_fpn_zoo", _q_onnx_fpn_zoo, _ONNX_FPN_ZOO_ORACLE),
    ("archive_datasets", _q_archive_datasets, _ARCHIVE_DATASETS_ORACLE),
    ("streaming_extract", _q_streaming_extract, _STREAMING_EXTRACT_ORACLE),
    ("onnx_zoo", _q_onnx_zoo, _ONNX_ZOO_ORACLE),
    ("hub_zoo", _q_hub_zoo, _HUB_ZOO_ORACLE),
    ("decontaminate", EQ.q_decontaminate, EQ.DECONTAMINATE_ORACLE),
    ("detect_boxes", EQ.q_detect_boxes, EQ.DETECT_ORACLE),
    ("emb_neardup_lsh", _q_emb_neardup_lsh, _EMB_NEARDUP_LSH_ORACLE),
    ("polygon_iou", EQ.q_polygon_iou, EQ.POLY_IOU_ORACLE),
    ("box_iou", EQ.q_box_iou, EQ.BOX_IOU_ORACLE),
    ("nms", EQ.q_nms, EQ.NMS_ORACLE),
    ("page_angle", EQ.q_page_angle, EQ.PAGE_ANGLE_ORACLE),
    ("remove_padding", EQ.q_remove_padding, EQ.REMOVE_PADDING_ORACLE),
    ("ocr_quality", EQ.q_ocr_quality, EQ.OCR_QUALITY_ORACLE),
    ("detection_metric", EQ.q_detection_metric, EQ.DETECTION_METRIC_ORACLE),
    ("ocr_metric", EQ.q_ocr_metric, EQ.OCR_METRIC_ORACLE),
    ("pii_scrub", EQ.q_pii_scrub, EQ.PII_ORACLE),
    ("repetition", EQ.q_repetition, EQ.REPETITION_ORACLE),
    ("lm_perplexity", EQ.q_lm_perplexity, EQ.LM_PERPLEXITY_ORACLE),
    ("dedup_clusters", EQ.q_dedup_clusters, EQ.DEDUP_CLUSTERS_ORACLE),
    ("chunk_windows", EQ.q_chunk_windows, EQ.CHUNK_WINDOWS_ORACLE),
    ("stratified_sample", EQ.q_stratified_sample, EQ.STRATIFIED_ORACLE),
    ("url_stats", EQ.q_url_stats, EQ.URL_STATS_ORACLE),
    ("bundle_metadata", EQ.q_bundle_metadata, EQ.BUNDLE_METADATA_ORACLE),
    ("image_neardup", EQ.q_image_neardup, EQ.IMAGE_NEARDUP_ORACLE),
    ("audio_rms", EQ.q_audio_rms, EQ.AUDIO_RMS_ORACLE),
    ("pixel_stats", EQ.q_pixel_stats, EQ.PIXEL_STATS_ORACLE),
    ("frame_sample", EQ.q_frame_sample, EQ.FRAME_SAMPLE_ORACLE),
    ("artefact_classes", _q_artefact_classes, _ARTEFACT_CLASSES_ORACLE),
    ("lang_id_ngram", _q_lang_id_ngram, _LANG_ID_NGRAM_ORACLE),
    ("detector_zoo", _q_detector_zoo, _DETECTOR_ZOO_ORACLE),
    ("recognizer_zoo", _q_recognizer_zoo, _RECOGNIZER_ZOO_ORACLE),
    ("reco_weights_zoo", _q_reco_weights_zoo, _RECO_WEIGHTS_ZOO_ORACLE),
    ("bm25_topk", _q_bm25_topk, _BM25_TOPK_ORACLE),
    ("span_dedup", _q_span_dedup, _SPAN_DEDUP_ORACLE),
    ("classifier_score", _q_classifier_score, _CLASSIFIER_SCORE_ORACLE),
    ("merge_strings", EQ.q_merge_strings, EQ.MERGE_ORACLE),
    ("ctc_decode", EQ.q_ctc_decode, EQ.CTC_ORACLE),
    ("html_strip", EQ.q_html_strip, EQ.HTML_ORACLE),
    ("reading_order", EQ.q_reading_order, EQ.SORT_ORACLE),
    ("orientation", EQ.q_orientation, EQ.ORIENTATION_ORACLE),
    ("streaming_sessionize", _q_streaming_sessionize, _STREAMING_SESSIONIZE_ORACLE),
    ("anomalies", EQ.q_anomalies, EQ.ANOMALIES_ORACLE),
    ("pack_sequences", _q_pack_sequences, _PACK_SEQUENCES_ORACLE),
    ("ann_lsh", _q_ann_lsh, _ANN_LSH_ORACLE),
    ("extract_docs", _q_extract_docs, _EXTRACT_DOCS_ORACLE),
    ("extract_ocr", _q_extract_ocr, _EXTRACT_OCR_ORACLE),
    ("dbnet_fpn_ocr", _q_dbnet_fpn_ocr, _DBNET_FPN_OCR_ORACLE),
    ("crnn_bilstm_ocr", _q_crnn_bilstm_ocr, _CRNN_BILSTM_OCR_ORACLE),
    # position 50 on: past the first-50 gate, checked by check_oracles.py
    ("kie_extract", _q_kie_extract, _KIE_EXTRACT_ORACLE),
    ("sort_key_rank", EQ.q_sort_key_rank, EQ.SORT_KEY_RANK_ORACLE),
    ("resolve_lines", EQ.q_resolve_lines, EQ.LINES_ORACLE),
    ("conversation_docs", EQ.q_conversation_docs, EQ.CONVERSATION_DOCS_ORACLE),
    ("hocr_export", EQ.q_hocr_export, EQ.HOCR_ORACLE),
    ("translate_vocab", EQ.q_translate, EQ.TRANSLATE_ORACLE),
    ("pricing_summary", EQ.q_pricing_summary, EQ.PRICING_ORACLE),
    ("token_stats", EQ.q_token_stats, EQ.TOKEN_STATS_ORACLE),
    ("asof_join", EQ.q_asof_join, EQ.ASOF_ORACLE),
    ("gap_sessionize", EQ.q_gap_sessionize, EQ.GAP_SESSIONIZE_ORACLE),
    ("render_joins", EQ.q_render_joins, EQ.RENDER_ORACLE),
    ("split_crops", EQ.q_split_crops, EQ.SPLIT_ORACLE),
    ("kie_render", EQ.q_kie_render, EQ.KIE_ORACLE),
    ("kie_entities", EQ.q_kie_entities, EQ.KIE_ENTITIES_ORACLE),
    ("enclosing_bbox", EQ.q_enclosing_bbox, EQ.ENCLOSING_BBOX_ORACLE),
    ("line_render", EQ.q_line_render, EQ.LINE_RENDER_ORACLE),
    ("turn_order", EQ.q_turn_order, EQ.TURN_ORDER_ORACLE),
    ("topk_per_group", EQ.q_topk_per_group, EQ.TOPK_ORACLE),
    ("hourly_event_stats", EQ.q_hourly_event_stats, EQ.HOURLY_ORACLE),
    ("rollup_events", EQ.q_rollup_events, EQ.ROLLUP_ORACLE),
    ("pivot_events", EQ.q_pivot_events, EQ.PIVOT_ORACLE),
    ("cube_events", EQ.q_cube_events, EQ.CUBE_ORACLE),
    ("revenue_by_nation", EQ.q_revenue_by_nation, EQ.REVENUE_NATION_ORACLE),
    ("subword_tokens", EQ.q_subword_tokens, EQ.SUBWORD_ORACLE),
    ("deterministic_sample", EQ.q_deterministic_sample, EQ.SAMPLE_ORACLE),
    ("corpus_stats", EQ.q_corpus_stats, EQ.CORPUS_STATS_ORACLE),
    ("quality_filter", EQ.q_quality_filter, EQ.QUALITY_FILTER_ORACLE),
    ("quality_score", EQ.q_quality_score, EQ.QUALITY_ORACLE),
    ("lang_id", EQ.q_lang_id, EQ.LANG_ID_ORACLE),
    ("lang_id_conf", EQ.q_lang_id_conf, EQ.LANG_CONF_ORACLE),
    ("string_match", EQ.q_string_match, EQ.STRING_MATCH_ORACLE),
    ("fingerprint", EQ.q_fingerprint, EQ.FINGERPRINT_ORACLE),
    ("jaccard_pairs", EQ.q_jaccard_pairs, EQ.JACCARD_ORACLE),
    ("knn_cosine", EQ.q_knn_cosine, EQ.KNN_ORACLE),
    ("ann_ivf", _q_ann_ivf, _ANN_IVF_ORACLE),
    ("emb_neardup", EQ.q_emb_neardup, EQ.EMB_NEARDUP_ORACLE),
    ("tiny_conv_ocr", _q_tiny_conv_ocr, _TINY_CONV_OCR_ORACLE),
    ("skew_angle", _q_skew_angle, _SKEW_ANGLE_ORACLE),
    ("exact_dedup", EQ.q_exact_dedup_summary, EQ.EXACT_DEDUP_ORACLE),
    ("minhash_neardup", _q_minhash_neardup, _MINHASH_NEARDUP_ORACLE),
    ("simhash", _q_simhash, _SIMHASH_ORACLE),
    ("kmeans_cells", _q_kmeans_cells, _KMEANS_CELLS_ORACLE),
    ("semantic_dedup", _q_semantic_dedup, _SEMANTIC_DEDUP_ORACLE),
    ("ann_ivf_trained", _q_ann_ivf_trained, _ANN_IVF_TRAINED_ORACLE),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-checked queries in registry order. ORDER MATTERS: the
    driver's CORRECTNESS gate checks the FIRST 50 dict entries only; all
    of them are checked by scripts/check_oracles.py."""
    return {name: fn for name, fn, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query, keyed like queries()."""
    return {name: sql for name, _, sql in _REGISTRY}
