"""LLM-training-data pipeline queries: text analysis, dedup (exact /
Jaccard / MinHash-LSH), similarity search, multimodal plumbing.

Oracle design: every hash is md5 (identical across Spark/DuckDB), every
ratio is integer-derived, every regex sticks to syntax both Java regex
and RE2 agree on — so even the MinHash/LSH pipeline is exactly
oracle-checkable. Cosine queries output ids/ranks only (float ordering
is stable; float values are not hash-stable across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint, checkpoint_scope, release_local_checkpoint
from ..operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    neardup_verified_pairs,
)
from ..operators.multimodal import attach_binary_payload, decode_image_features
from ..operators.similarity import topk_brute_force, topk_lsh
from ..operators.text import text_profile
from .common import t

# ---------------------------------------------------------------------------
# q_text_profile: per-document analysis columns (token count, lang-id,
# quality, fingerprint). Pure per-row expressions — no shuffle.
# ---------------------------------------------------------------------------


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return text_profile(docs).select(
        "doc_id",
        "n_tokens",
        "n_chars_obs",
        "predicted_lang",
        "fingerprint",
        (F.col("punct_ratio") * 1000).cast("long").alias("punct_permille"),
        (F.col("digit_ratio") * 1000).cast("long").alias("digit_permille"),
    )


Q_TEXT_PROFILE_SQL = r"""
SELECT doc_id,
  LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) AS n_tokens,
  LENGTH(text) AS n_chars_obs,
  CASE WHEN REGEXP_MATCHES(LOWER(text), '\b(the|and|with|for|that)\b') THEN 'en'
       WHEN REGEXP_MATCHES(LOWER(text), '\b(le|la|les|des|une)\b') THEN 'fr'
       WHEN REGEXP_MATCHES(LOWER(text), '\b(el|los|las|una|que)\b') THEN 'es'
       WHEN REGEXP_MATCHES(LOWER(text), '\b(der|die|und|das|ist)\b') THEN 'de'
       ELSE 'und' END AS predicted_lang,
  MD5(LOWER(REGEXP_REPLACE(text, '\s+', ' ', 'g'))) AS fingerprint,
  CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) * 1000.0
       / GREATEST(LENGTH(text), 1) AS BIGINT) AS punct_permille,
  CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) * 1000.0
       / GREATEST(LENGTH(text), 1) AS BIGINT) AS digit_permille
FROM documents
"""

# ---------------------------------------------------------------------------
# q_lang_quality: corpus rollup by (lang, predicted_lang) — the lang-ID
# confusion matrix plus exact-decimal quality mass.
# ---------------------------------------------------------------------------


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text_profile(t(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("quality").cast("decimal(10,6)")).cast("double").alias(
            "total_quality"
        ),
    )


Q_LANG_QUALITY_SQL = r"""
WITH profiled AS (
  SELECT lang,
    CASE WHEN REGEXP_MATCHES(LOWER(text), '\b(the|and|with|for|that)\b') THEN 'en'
         WHEN REGEXP_MATCHES(LOWER(text), '\b(le|la|les|des|une)\b') THEN 'fr'
         WHEN REGEXP_MATCHES(LOWER(text), '\b(el|los|las|una|que)\b') THEN 'es'
         WHEN REGEXP_MATCHES(LOWER(text), '\b(der|die|und|das|ist)\b') THEN 'de'
         ELSE 'und' END AS predicted_lang,
    LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) AS n_tokens,
    0.4 * LEAST(LENGTH(text) / 500.0, 1.0)
    + 0.3 * (1.0 - LEAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g'))
                         * 1.0 / GREATEST(LENGTH(text), 1) * 10, 1.0))
    + 0.3 * (1.0 - LEAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
                         * 1.0 / GREATEST(LENGTH(text), 1) * 10, 1.0)) AS quality
  FROM documents
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS total_quality
FROM profiled
GROUP BY lang, predicted_lang
"""

# ---------------------------------------------------------------------------
# q_exact_dedup: hash-groupBy dedup over a corpus with planted exact dups
# (documents unioned with itself under shifted ids — every group size 2).
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = docs.unionAll(shifted)
    return exact_dedup_groups(corpus)


Q_EXACT_DEDUP_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
)
SELECT MD5(LOWER(REGEXP_REPLACE(text, '\s+', ' ', 'g'))) AS fingerprint,
  MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
FROM corpus
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# q_jaccard_pairs: bigram-shingle Jaccard near-dup pairs (threshold .5 —
# the planted near-dups sit at .5-.99, noise below .2).
# ---------------------------------------------------------------------------


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # length_blocked: log2 shingle-count buckets + adjacent probing —
    # lossless at threshold 0.5 (see operator docstring) and turns the
    # all-pairs join into a bucketed equi-join that survives corpus scale
    return jaccard_pairs(docs, n=2, threshold=0.5, length_blocked=True).select(
        "id_a", "id_b", "n_shingles_a", "n_shingles_b", "n_common"
    )


Q_JACCARD_PAIRS_SQL = r"""
WITH sh AS (
  SELECT doc_id,
    LIST_DISTINCT(
      LIST_TRANSFORM(
        GENERATE_SERIES(1, GREATEST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) - 1, 0)),
        i -> LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i]
             || ' ' ||
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i+1]
      )
    ) AS s
  FROM documents
), blk AS (
  SELECT doc_id, s,
    CAST(FLOOR(LOG2(GREATEST(LEN(s), 1))) AS INTEGER) AS b
  FROM sh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  LEN(a.s) AS n_shingles_a, LEN(b.s) AS n_shingles_b,
  LEN(LIST_INTERSECT(a.s, b.s)) AS n_common
FROM blk a JOIN blk b ON a.doc_id < b.doc_id AND ABS(a.b - b.b) <= 1
WHERE LEN(LIST_INTERSECT(a.s, b.s)) * 1.0
      / (LEN(a.s) + LEN(b.s) - LEN(LIST_INTERSECT(a.s, b.s))) > 0.5
"""

# ---------------------------------------------------------------------------
# q_containment_pairs: directed shingle containment |A∩B|/|A| — the
# quote/excerpt/subset detector Jaccard misses (extension; Broder 1997
# containment). Spark side is the prefix-filtered SSJoin candidate
# path (rarest-(1-t) shingles vs inverted index, provably lossless —
# operators/dedup.containment_pairs); the DuckDB twin is the NAIVE
# all-pairs definition, so the oracle independently proves the prefix
# filter drops nothing at test scale.
# ---------------------------------------------------------------------------


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    docs = t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=2, threshold=0.7).select(
        "id_a", "id_b", "n_shingles_a", "n_common", "containment"
    )


Q_CONTAINMENT_PAIRS_SQL = r"""
WITH sh0 AS (
  SELECT doc_id,
    LIST_DISTINCT(
      LIST_TRANSFORM(
        GENERATE_SERIES(1, GREATEST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) - 1, 0)),
        i -> LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i]
             || ' ' ||
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i+1]
      )
    ) AS s
  FROM documents
), sh AS (SELECT doc_id, s FROM sh0 WHERE LEN(s) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  LEN(a.s) AS n_shingles_a,
  LEN(LIST_INTERSECT(a.s, b.s)) AS n_common,
  CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) / LEN(a.s) AS containment
FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
WHERE CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE) / LEN(a.s) > 0.7
"""

# ---------------------------------------------------------------------------
# q_minhash_signatures + q_lsh_candidates: the scale path for near-dup.
# md5-based minhash makes even the signatures exactly oracle-checkable.
# ---------------------------------------------------------------------------

_DUCK_SHINGLES = r"""
  SELECT doc_id,
    LIST_DISTINCT(
      LIST_TRANSFORM(
        GENERATE_SERIES(1, GREATEST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) - 1, 0)),
        i -> LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i]
             || ' ' ||
             LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')[i+1]
      )
    ) AS s
  FROM documents
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return minhash_signatures(docs, n_hashes=8, shingle_n=2)


_SIG_COLS = ",\n  ".join(
    f"LIST_MIN(LIST_TRANSFORM(s, x -> MD5('{j}|' || x))) AS sig_{j}" for j in range(8)
)

Q_MINHASH_SIGNATURES_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT doc_id,
  {_SIG_COLS}
FROM sh
"""


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, n_hashes=8, shingle_n=2)
    return lsh_candidate_pairs(sigs, n_hashes=8, band_size=2)


_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, "
    f"MD5(sig_{2*b} || '|' || sig_{2*b+1}) AS band_hash FROM sigs"
    for b in range(4)
)

Q_LSH_CANDIDATES_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sigs AS (
  SELECT doc_id, {_SIG_COLS} FROM sh
),
bands AS (
{_BAND_SELECTS}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

# ---------------------------------------------------------------------------
# q_neardup_verified: the full production pipeline — MinHash -> LSH
# candidates -> exact Jaccard verify. Sub-quadratic end to end; the
# oracle replicates the identical banding, so recall trade-offs cancel.
# ---------------------------------------------------------------------------


def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return neardup_verified_pairs(docs, n_hashes=8, band_size=2, threshold=0.5)


def q_neardup_verified_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup path: xxhash64 MinHash family (native
    codegen'd hash, measured 6x faster than md5 end-to-end). Signature
    values are not DuckDB-reproducible, so rows-only; pytest pins
    recall of the planted near-dup pair and the verification math is
    the same hash-free Jaccard as the md5 twin."""
    docs = t(spark, sf_dir, "documents")
    return neardup_verified_pairs(
        docs, n_hashes=8, band_size=2, threshold=0.5, hash_fn="xxhash64"
    )


Q_NEARDUP_VERIFIED_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sigs AS (
  SELECT doc_id, {_SIG_COLS} FROM sh
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  LEN(sa.s) AS n_shingles_a, LEN(sb.s) AS n_shingles_b,
  LEN(LIST_INTERSECT(sa.s, sb.s)) AS n_common
FROM cands
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0
      / (LEN(sa.s) + LEN(sb.s) - LEN(LIST_INTERSECT(sa.s, sb.s))) > 0.5
"""

# ---------------------------------------------------------------------------
# q_neardup_incremental: the CONTINUOUS-ingest near-dup — new docs
# against a materialized LSH band index (operators/dedup.neardup_upsert),
# O(delta), never a corpus re-scan. The split is deterministic
# (doc_id % 10 = 0 is the arriving batch); the operator's contract is
# that its output equals the batch re-run's pairs touching >=1 delta
# doc, so the oracle replays the full batch pipeline and filters —
# the equality IS what the driver grades.
# ---------------------------------------------------------------------------


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_band_index, neardup_upsert

    docs = t(spark, sf_dir, "documents")
    base = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    delta = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    # the warehouse state: band index materialized over the base corpus
    # (built off the delta's clock in production; built inline here —
    # the driver grades values, bench grades the amortized leg)
    idx = lsh_band_index(
        minhash_signatures(base, n_hashes=8, shingle_n=2), n_hashes=8, band_size=2
    )
    pairs, _delta_bands = neardup_upsert(
        idx, delta, base, n_hashes=8, band_size=2, shingle_n=2, threshold=0.5
    )
    return pairs


# wrap the batch oracle as a subselect so the delta filter composes
# regardless of the base query's tail (a future ORDER BY/LIMIT on the
# batch oracle would silently corrupt a string-appended AND)
Q_NEARDUP_INCREMENTAL_SQL = (
    "SELECT * FROM (\n"
    + Q_NEARDUP_VERIFIED_SQL
    + ") WHERE id_a % 10 = 0 OR id_b % 10 = 0\n"
)

# ---------------------------------------------------------------------------
# q_dedup_clusters: the keep/drop decision — LSH-verified pairs ->
# connected components -> canonical representative per cluster. Oracle
# computes the same components with a recursive reachability CTE.
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters

    docs = t(spark, sf_dir, "documents")
    return dedup_clusters(docs, n_hashes=8, band_size=2, threshold=0.5)


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}),
sigs AS (
  SELECT doc_id, {_SIG_COLS} FROM sh
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b FROM cands
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0
        / (LEN(sa.s) + LEN(sb.s) - LEN(LIST_INTERSECT(sa.s, sb.s))) > 0.5
),
sym AS (
  SELECT id_a AS v, id_b AS u FROM verified
  UNION ALL
  SELECT id_b AS v, id_a AS u FROM verified
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, reach.r FROM reach JOIN sym s ON s.v = reach.v
),
comp AS (
  SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
)
SELECT c.doc_id, c.cluster_id,
  CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
  c.doc_id = c.cluster_id AS is_canonical
FROM comp c
"""

# ---------------------------------------------------------------------------
# q_embedding_topk: exact cosine top-5 for query vectors vec_id < 10.
# Output ids+rank only (ordering is float-stable; values are not).
# ---------------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_brute_force(emb, queries, k=5)


Q_EMBEDDING_TOPK_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    LIST_COSINE_SIMILARITY(q.embedding, c.embedding) AS sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 5
"""

# ---------------------------------------------------------------------------
# q_embedding_neardup: brute-force cosine pairs above 0.4 (the data's
# similarity tail ends ~0.51; 0.4 sits in a wide gap).
# ---------------------------------------------------------------------------


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.4).select("id_a", "id_b")


Q_EMBEDDING_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE LIST_COSINE_SIMILARITY(a.embedding, b.embedding) > 0.4
"""


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style keep/drop list: embedding near-dup pairs ->
    connected components -> one canonical vector per semantic cluster.
    Oracle replays the pair join + a recursive-CTE min-label closure."""
    from ..operators.dedup import embedding_dedup_clusters

    emb = t(spark, sf_dir, "embeddings")
    return embedding_dedup_clusters(emb, threshold=0.4)


Q_EMBEDDING_DEDUP_SQL = """
WITH RECURSIVE verified AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE LIST_COSINE_SIMILARITY(a.embedding, b.embedding) > 0.4
),
sym AS (
  SELECT id_a AS v, id_b AS u FROM verified
  UNION ALL
  SELECT id_b AS v, id_a AS u FROM verified
),
reach(v, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.u, reach.r FROM reach JOIN sym s ON s.v = reach.v
),
comp AS (
  SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v
)
SELECT c.vec_id, c.cluster_id,
  CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
  c.vec_id = c.cluster_id AS is_canonical
FROM comp c
"""


def q_embedding_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SemDeDup path: pairs form only within IVF cells
    (deterministic Lloyd-seeded coarse quantizer + nprobe multi-probe),
    O(n^2/K) compute instead of the exact twin's all-pairs tile grid.
    Float centroids aren't DuckDB-reproducible and a cross-cell pair
    can be missed (recall<1), so rows-only; pytest pins recall >= 0.95
    against ``q_embedding_dedup``'s exact pair set at sf0.1."""
    from ..operators.dedup import embedding_dedup_clusters_fast

    emb = t(spark, sf_dir, "embeddings")
    return embedding_dedup_clusters_fast(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# q_multimodal_features: binary payload plumbing through Arrow-batched
# mapInPandas (codec stubbed; byte-level features oracle-checked).
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    with_blob = attach_binary_payload(docs)
    return decode_image_features(with_blob).select(
        "doc_id", "n_bytes", "first_byte", "decode_status"
    )


Q_MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
  CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
  ASCII(text) AS first_byte,
  'stubbed' AS decode_status
FROM documents
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash selection) document fingerprints — the
    MOSS partial-overlap scheme. Registry surface is the digest of the
    sorted selection (scalar columns for the harness); the typed
    selection array lives on operators.text.winnow_fingerprint."""
    from ..operators.text import winnow_fingerprints

    docs = t(spark, sf_dir, "documents")
    sel = winnow_fingerprints(docs, k=8, w=4)
    return sel.select(
        "doc_id",
        F.size("winnow_sel").alias("n_selected"),
        F.md5(F.array_join("winnow_sel", "|")).alias("winnow_digest"),
    )


Q_WINNOW_FINGERPRINTS_SQL = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN LENGTH(text) >= 8 THEN
      LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(text) - 7),
        i -> SUBSTRING(MD5(SUBSTRING(text, CAST(i AS INTEGER), 8)), 1, 15))
    ELSE [] END AS hs
  FROM documents
), sel AS (
  SELECT doc_id,
    CASE WHEN LEN(hs) = 0 THEN CAST([] AS VARCHAR[])
    ELSE LIST_SORT(LIST_DISTINCT(
      LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(hs) - 3, 1)),
        i -> LIST_MIN(hs[CAST(i AS BIGINT):CAST(i + 3 AS BIGINT)]))))
    END AS sel
  FROM h
)
SELECT doc_id, CAST(LEN(sel) AS INTEGER) AS n_selected,
  MD5(ARRAY_TO_STRING(sel, '|')) AS winnow_digest
FROM sel
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token accounting: whitespace tokens vs the BPE-ish
    sub-word count (splits on letter->digit boundaries too). DuckDB's
    RE2 has no lookarounds, so the oracle derives the same count as
    whitespace tokens + letter->digit transition occurrences — an
    identity the test pins cross-engine."""
    from ..operators.text import bpe_ish_token_count, token_count

    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_ws_tokens"),
        F.sum(bpe_ish_token_count("text")).alias("n_bpe_tokens"),
    )


Q_TOKEN_STATS_SQL = r"""
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')))
    AS BIGINT) AS n_ws_tokens,
  CAST(SUM(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> ''))
      + (LENGTH(REGEXP_REPLACE(text, '[a-z][0-9]', 'XXX', 'g')) - LENGTH(text)))
    AS BIGINT) AS n_bpe_tokens
FROM documents
GROUP BY lang
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise partial-overlap candidates from shared winnow
    selections — the fingerprint's plagiarism/near-dup use: explode
    selections, drop ubiquitous ones (doc-frequency cap — common
    k-grams would otherwise form degenerate buckets whose pair count
    grows quadratically, the same reason boilerplate n-grams get
    stripped), equi-join on the hash (pairs only form where a rare
    selection collides), count shared selections per pair. MOSS-scale
    k: 20-char grams, window 8."""
    from ..operators.text import winnow_selections

    docs = t(spark, sf_dir, "documents")
    # eager-checkpointed: the selection table feeds three plan branches
    # (the stop-gram aggregate and both sides of the pair join); a lazy
    # persist() left the printed plan's FileScan count dependent on
    # cache-manager state (4 cold, 8 under a warm suite) — the
    # checkpoint truncates lineage so the corpus is scanned exactly
    # once, deterministically (the r8 discipline).
    sel = checkpoint(winnow_selections(docs, k=20, w=8))
    # anti-join against the FREQUENT set: stop-grams are few (like
    # stop-words), so that side broadcasts through ``broadcast_gate``
    # (Catalyst sizes the aggregate at the whole selection table);
    # broadcasting the rare side would ship nearly the whole hash universe
    frequent = (
        sel.groupBy("h").agg(F.count("*").alias("_df")).where(F.col("_df") > 20)
    )
    sel = sel.join(broadcast_gate(spark)(frequent.select("h")), "h", "left_anti")
    a = sel.select(F.col("doc_id").alias("id_a"), "h")
    b = sel.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"))
    return (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )


Q_WINNOW_OVERLAP_SQL = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN LENGTH(text) >= 20 THEN
      LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(text) - 19),
        i -> SUBSTRING(MD5(SUBSTRING(text, CAST(i AS INTEGER), 20)), 1, 15))
    ELSE [] END AS hs
  FROM documents
), sel AS (
  SELECT doc_id,
    CASE WHEN LEN(hs) = 0 THEN CAST([] AS VARCHAR[])
    ELSE LIST_SORT(LIST_DISTINCT(
      LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(hs) - 7, 1)),
        i -> LIST_MIN(hs[CAST(i AS BIGINT):CAST(i + 7 AS BIGINT)]))))
    END AS sel
  FROM h
), ex AS (
  SELECT doc_id, UNNEST(sel) AS hh FROM sel
), rare AS (
  SELECT hh FROM ex GROUP BY hh HAVING COUNT(*) <= 20
), fex AS (
  SELECT doc_id, ex.hh FROM ex JOIN rare USING (hh)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM fex a JOIN fex b ON a.hh = b.hh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 3
"""


def q_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-energy plumbing (multimodal audio leg): 64-byte
    windows over the binary payload via Arrow mapInPandas; integer
    energies make the codec stub oracle-checkable (payload is the
    UTF-8 text, ASCII in the testdata, so bytes == chars in SQL)."""
    from ..operators.multimodal import attach_binary_payload, extract_audio_windows

    docs = t(spark, sf_dir, "documents")
    return extract_audio_windows(attach_binary_payload(docs), window_bytes=64)


Q_AUDIO_WINDOWS_SQL = """
SELECT doc_id,
  CAST(g.k AS INTEGER) AS window_idx,
  CAST(g.k * 64 AS BIGINT) AS byte_offset,
  CAST(LENGTH(SUBSTRING(text, CAST(g.k * 64 + 1 AS INTEGER), 64)) AS INTEGER)
    AS window_len,
  CAST(LIST_SUM(LIST_TRANSFORM(
    STRING_SPLIT(SUBSTRING(text, CAST(g.k * 64 + 1 AS INTEGER), 64), ''),
    x -> ASCII(x))) AS BIGINT) AS energy
FROM documents,
  UNNEST(GENERATE_SERIES(0,
    CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / 64.0) AS BIGINT) - 1)) AS g(k)
"""


def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant — recall<1 by design, so no SQL oracle (rows-only)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_lsh(emb, queries, dim=64, k=5, n_planes=8)


# ---------------------------------------------------------------------------
# q_chunking: fixed-size token windows with overlap — the canonical
# training-data prep operator. Integer chunk math, engine-portable.
# ---------------------------------------------------------------------------


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    docs = t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-split packing: per-source token streams cut
    every 128 tokens; one row per (doc, pack) membership with exact
    integer sub-ranges. Window is shard-partitioned (no global sort)."""
    from ..operators.chunking import pack_sequences

    docs = t(spark, sf_dir, "documents")
    return pack_sequences(docs, shard_col="source", context_len=128)


Q_SEQUENCE_PACKING_SQL = r"""
WITH toked AS (
  SELECT source AS shard, doc_id,
    LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> ''))::BIGINT
      AS n_tokens
  FROM documents
), bounds AS (
  SELECT shard, doc_id, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
         AS BIGINT) AS s,
    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
  FROM toked
  WHERE n_tokens > 0
)
SELECT shard, doc_id, n_tokens,
  p AS pack_id,
  GREATEST(s, p * 128) - s AS doc_slice_start,
  GREATEST(s, p * 128) - p * 128 AS pack_slice_start,
  LEAST(e, (p + 1) * 128) - GREATEST(s, p * 128) AS slice_len
FROM bounds, UNNEST(GENERATE_SERIES(s // 128, (e - 1) // 128)) AS g(p)
"""


Q_CHUNKING_SQL = r"""
WITH toked AS (
  SELECT doc_id,
    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), counted AS (
  SELECT doc_id, toks, LEN(toks) AS n,
    CASE WHEN LEN(toks) <= 0 THEN 0
         WHEN LEN(toks) <= 32 THEN 1
         ELSE 1 + CAST(CEIL((LEN(toks) - 32) / 24.0) AS INTEGER) END AS n_chunks
  FROM toked
)
SELECT doc_id,
  i AS chunk_idx,
  ARRAY_TO_STRING(toks[(i*24)+1 : (i*24)+32], ' ') AS chunk_text,
  LEN(toks[(i*24)+1 : (i*24)+32]) AS n_chunk_tokens
FROM counted, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS g(i)
WHERE n_chunks > 0
"""

# ---------------------------------------------------------------------------
# q_vocabulary: corpus token frequency (explode + count) — vocabulary
# building for tokenizer training. One shuffle with map-side combine.
# ---------------------------------------------------------------------------


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .select(F.lower(F.col("token")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 5)
    )


Q_VOCABULARY_SQL = r"""
SELECT LOWER(tok) AS token, COUNT(*) AS freq
FROM documents,
  UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) AS u(tok)
GROUP BY 1
HAVING COUNT(*) >= 5
"""

# ---------------------------------------------------------------------------
# q_cms_heavy_hitters: Count-Min sketch frequency estimation for the
# exact top-20 tokens — the fixed-size (D=4 x W=512 integer cells)
# summary that replaces a full-key-space groupBy at 100 TB. Built on
# the md5-salted bucket idiom, so every cell and estimate is a
# deterministic integer: the sketch itself is oracle-checked (the
# HLL/quantile profile stays rows-only; this one need not be).
# Estimates can only OVER-count; the oracle replays build + min-probe.
# ---------------------------------------------------------------------------


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_build, cms_estimate
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("key"))
    cells = cms_build(toks, depth=4, width=512)
    top = (
        toks.groupBy("key")
        .agg(F.count("*").cast("bigint").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("key"))
        .limit(20)
    )
    est = cms_estimate(cells, top.select("key"), depth=4, width=512)
    return top.join(est, "key").select(
        F.col("key").alias("token"),
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") == F.col("true_count")).alias("is_exact"),
    )


Q_CMS_HEAVY_HITTERS_SQL = r"""
WITH tok AS (
  SELECT tok AS key
  FROM documents,
    UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> ''))
      AS u(tok)
),
pairs AS (
  SELECT j AS row,
    CAST(('0x' || substr(md5('r' || j || ':' || key), 1, 15)) AS BIGINT)
      % 512 AS bucket
  FROM tok, UNNEST([0, 1, 2, 3]) AS d(j)
),
cells AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY row, bucket
),
top AS (
  SELECT key, true_count FROM (
    SELECT key, CAST(COUNT(*) AS BIGINT) AS true_count,
      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, key) AS rn
    FROM tok GROUP BY key
  ) WHERE rn <= 20
),
probes AS (
  SELECT key, j AS row,
    CAST(('0x' || substr(md5('r' || j || ':' || key), 1, 15)) AS BIGINT)
      % 512 AS bucket
  FROM top, UNNEST([0, 1, 2, 3]) AS d(j)
),
est AS (
  SELECT probes.key,
    CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_estimate
  FROM probes LEFT JOIN cells USING (row, bucket)
  GROUP BY probes.key
)
SELECT top.key AS token, top.true_count, est.cms_estimate,
  est.cms_estimate = top.true_count AS is_exact
FROM top JOIN est ON top.key = est.key
"""


# ---------------------------------------------------------------------------
# q_label_centroids: per-label embedding centroid via posexplode +
# exact decimal sums — the array-aggregation idiom for cluster stats.
# ---------------------------------------------------------------------------


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "e")
    ).select(
        "label",
        (F.col("pos") + 1).alias("pos"),
        # float -> double (exact) -> round 6 -> exact decimal sum
        F.round(F.col("e").cast("double"), 6).cast("decimal(16,6)").alias("e"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.count("*").alias("n_vectors"),
        (F.sum("e").cast("double") / F.count("*")).alias("centroid_val"),
    )


Q_LABEL_CENTROIDS_SQL = """
SELECT label, i AS pos, COUNT(*) AS n_vectors,
  CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(16,6))) AS DOUBLE)
    / COUNT(*) AS centroid_val
FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
GROUP BY label, i
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures, 60 effective bits, fully oracle-checked:
    DuckDB reproduces ``conv(substr(md5(s),1,15),16,10)`` via
    ``CAST('0x' || substr(md5(s),1,15) AS BIGINT)`` and the 60 per-bit
    majority votes as plain CASE aggregates."""
    from ..operators.dedup import simhash64

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash64("text").alias("simhash"))


# per-bit majority vote: +1 when the shingle-hash bit is set, else -1;
# signature bit = (votes > 0). Docs with no shingles vote on nothing ->
# LEFT JOIN + COALESCE lands them on simhash 0, matching Spark's
# aggregate-over-empty-array (acc stays 0, no bit clears the > 0 gate).
_SIMHASH_BITS = ",\n    ".join(
    f"CASE WHEN SUM(CASE WHEN (hv & {1 << b}) <> 0 THEN 1 ELSE -1 END) > 0"
    f" THEN {1 << b} ELSE 0 END AS bit_{b}"
    for b in range(60)
)

Q_SIMHASH_SQL = f"""
WITH sh AS (
  SELECT doc_id,
    LIST_DISTINCT(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\\s+'), x -> x <> '')) AS s
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(u.x), 1, 15)) AS BIGINT) AS hv
  FROM sh, UNNEST(sh.s) AS u(x)
), votes AS (
  SELECT doc_id,
    {_SIMHASH_BITS}
  FROM h GROUP BY doc_id
)
SELECT sh.doc_id,
  CAST(COALESCE({" + ".join(f"bit_{b}" for b in range(60))}, 0) AS BIGINT) AS simhash
FROM sh LEFT JOIN votes USING (doc_id)
"""


def q_geo_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo UDF surface through the driver contract: derive synthetic
    coordinates from embeddings, enrich with vectorized geohash + H3 +
    expression timezone. Oracle-checked: DuckDB replays the geohash
    bisection loop in a recursive CTE (midpoints are exact doubles, so
    the comparisons are bit-identical to the pandas-UDF loop)."""
    from ..functions.geo import geohash8, h3_index, timezone_from_coords

    emb = t(spark, sf_dir, "embeddings")
    coords = emb.select(
        "vec_id",
        (F.element_at("embedding", 1).cast("double") * 45).alias("lat"),
        (F.element_at("embedding", 2).cast("double") * 90).alias("lon"),
    )
    return coords.select(
        "vec_id",
        geohash8(F.col("lat"), F.col("lon")).alias("geohash"),
        h3_index(F.col("lat"), F.col("lon")).alias("h3_index"),
        timezone_from_coords(F.col("lat"), F.col("lon")).alias("timezone"),
    )


# DuckDB twin of functions/geo.py:_geohash_encode — the 40-step
# lon/lat bisection replayed as a recursive CTE. Every midpoint
# (lo+hi)/2 starting from ±90/±180 is a dyadic rational times 45,
# exactly representable in a double, so DuckDB's comparisons match the
# Python loop bit-for-bit. The h3 surrogate ('88' || geohash) and the
# bounding-box timezone are plain expressions.
Q_GEO_ENRICHMENT_SQL = """
WITH RECURSIVE coords AS (
  SELECT vec_id,
    CAST(embedding[1] AS DOUBLE) * 45 AS lat,
    CAST(embedding[2] AS DOUBLE) * 90 AS lon
  FROM embeddings
), gh AS (
  SELECT vec_id, lat, lon, 0 AS step, '' AS bits,
         CAST(-90 AS DOUBLE) AS lat_lo, CAST(90 AS DOUBLE) AS lat_hi,
         CAST(-180 AS DOUBLE) AS lon_lo, CAST(180 AS DOUBLE) AS lon_hi
  FROM coords
  UNION ALL
  SELECT vec_id, lat, lon, step + 1,
    bits || CASE WHEN step % 2 = 0
      THEN CASE WHEN lon >= (lon_lo + lon_hi) / 2 THEN '1' ELSE '0' END
      ELSE CASE WHEN lat >= (lat_lo + lat_hi) / 2 THEN '1' ELSE '0' END END,
    CASE WHEN step % 2 = 1 AND lat >= (lat_lo + lat_hi) / 2
         THEN (lat_lo + lat_hi) / 2 ELSE lat_lo END,
    CASE WHEN step % 2 = 1 AND lat < (lat_lo + lat_hi) / 2
         THEN (lat_lo + lat_hi) / 2 ELSE lat_hi END,
    CASE WHEN step % 2 = 0 AND lon >= (lon_lo + lon_hi) / 2
         THEN (lon_lo + lon_hi) / 2 ELSE lon_lo END,
    CASE WHEN step % 2 = 0 AND lon < (lon_lo + lon_hi) / 2
         THEN (lon_lo + lon_hi) / 2 ELSE lon_hi END
  FROM gh WHERE step < 40
), enc AS (
  SELECT vec_id, lat, lon,
    ARRAY_TO_STRING(LIST_TRANSFORM(GENERATE_SERIES(0, 7), c ->
      substr('0123456789bcdefghjkmnpqrstuvwxyz',
        1 + 16 * CAST(substr(bits, c * 5 + 1, 1) AS INTEGER)
          +  8 * CAST(substr(bits, c * 5 + 2, 1) AS INTEGER)
          +  4 * CAST(substr(bits, c * 5 + 3, 1) AS INTEGER)
          +  2 * CAST(substr(bits, c * 5 + 4, 1) AS INTEGER)
          +      CAST(substr(bits, c * 5 + 5, 1) AS INTEGER), 1)), '') AS geohash
  FROM gh WHERE step = 40
)
SELECT vec_id, geohash, '88' || geohash AS h3_index,
  CASE
    WHEN lat BETWEEN 41.0 AND 51.5 AND lon BETWEEN -5.0 AND 10.0
      THEN 'Europe/Paris'
    WHEN lat BETWEEN 49.5 AND 61.0 AND lon BETWEEN -8.0 AND 2.0
      THEN 'Europe/London'
    ELSE 'UTC'
  END AS timezone
FROM enc
"""


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (operators/sampling.py): the
# md5-bucket trick makes every sample decision a pure function of the
# row key, so DuckDB reproduces the exact row set.
# ---------------------------------------------------------------------------

_DUCK_BUCKET = (
    "CAST(('0x' || substr(md5('{seed}|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 10000"
)


def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test carve + per-(lang, split) corpus accounting."""
    from ..operators.sampling import assign_splits

    docs = t(spark, sf_dir, "documents")
    split = assign_splits(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="v1"
    )
    return split.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


Q_CORPUS_SPLITS_SQL = f"""
WITH b AS (
  SELECT lang, n_chars, {_DUCK_BUCKET.format(seed="v1")} AS bkt
  FROM documents
)
SELECT lang,
  CASE WHEN bkt < 8000 THEN 'train'
       WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixing rates (en 50%, fr 25%, rest 10%)."""
    from ..operators.sampling import stratified_hash_sample

    docs = t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.25}, default_rate=0.1,
        seed="mix1",
    )
    return out.select("doc_id", "lang")


Q_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_DUCK_BUCKET.format(seed="mix1")} <
  CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500 ELSE 1000 END
"""


def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 uniform docs per source (deterministic reservoir)."""
    from ..operators.sampling import top_k_per_stratum

    docs = t(spark, sf_dir, "documents")
    return top_k_per_stratum(docs, "doc_id", "source", k=20, seed="r1").select(
        "doc_id", "source"
    )


Q_SAMPLE_PER_SOURCE_SQL = """
WITH h AS (
  SELECT doc_id, source,
    CAST(('0x' || substr(md5('r1|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM documents
)
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
  FROM h
) WHERE rk <= 20
"""


# ---------------------------------------------------------------------------
# q_embedding_topk_ivf: the inverted-file ANN scale path. The oracle
# replicates the full IVF algorithm (centroids, assignment, nprobe
# probing), so the recall trade-off cancels and ranks compare exactly.
# ---------------------------------------------------------------------------


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import topk_ivf

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_ivf(emb, queries, k=5, nprobe=2)


def q_embedding_topk_ivf_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF path: float partial-sum centroids (no N×D
    posexplode shuffle). Float centroid training is not DuckDB-hashable
    (order-sensitive last bits), so this entry is rows-only; pytest
    pins its centroids to the exact path within 1e-9 and its top-k
    recall against the exact IVF result."""
    from ..operators.similarity import topk_ivf

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_ivf(emb, queries, k=5, nprobe=2, exact_centroids=False)


Q_EMBEDDING_TOPK_IVF_SQL = """
WITH cent AS (
  SELECT label AS cell, g.i AS pos,
    CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(16,6))) AS DOUBLE)
      / COUNT(*) AS cv
  FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
  GROUP BY label, g.i
), cvecs AS (
  SELECT cell, LIST(cv ORDER BY pos) AS cvec FROM cent GROUP BY cell
), corpus_assign AS (
  SELECT vec_id AS neighbor_id, embedding AS nv, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                 c.cell) AS rk
    FROM embeddings e, cvecs c
  ) WHERE rk = 1
), query_assign AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                 c.cell) AS rk
    FROM embeddings e, cvecs c
    WHERE e.vec_id < 10
  ) WHERE rk <= 2
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY LIST_COSINE_SIMILARITY(qv, nv) DESC, neighbor_id) AS rank
  FROM corpus_assign JOIN query_assign USING (cell)
  WHERE query_id <> neighbor_id
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q_ivf_upsert: incremental ANN index maintenance (r12 verdict #5 —
# the ANN counterpart of q_neardup_incremental). Centroids train on
# the BASE corpus only; the delta is assigned to those EXISTING
# centroids O(delta) by similarity.ivf_upsert, and the search runs
# over the maintained state (base assignment UNION delta assignment)
# via ivf_search. Because assignment is a pointwise-deterministic
# function of (vector, centroids), the maintained state equals a full
# re-assignment with the same quantizer, so the oracle replays
# exactly that: base-trained centroids, assignment of ALL vectors,
# nprobe probing — fully oracle-paired (recall trade-off cancels).
# ---------------------------------------------------------------------------


def q_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        _centroids,
        assign_cells,
        ivf_search,
        ivf_upsert,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    delta = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    # the stored index state: base-trained centroids + base assignment.
    # cents is referenced by THREE broadcast consumers (base assignment,
    # the delta upsert, the query probe); each reference re-runs the
    # N×D posexplode centroid aggregation — the query's heaviest
    # subtree — so pin the K-row result once (guide §2.4: remove
    # repeated passes; the frame is 64 rows, not corpus-sized)
    cents = checkpoint(_centroids(base, "embedding", "label", 64))
    base_cells = assign_cells(base, cents, "vec_id", "embedding", 1)
    # O(delta) maintenance leg (drift agg off — the bench path; the
    # drift guard itself is pinned in pytest)
    delta_cells, _info = ivf_upsert(cents, delta)
    corpus_cells = base_cells.unionByName(delta_cells)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(cents, corpus_cells, queries, k=5, nprobe=2)


Q_IVF_UPSERT_SQL = """
WITH cent AS (
  SELECT label AS cell, g.i AS pos,
    CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(16,6))) AS DOUBLE)
      / COUNT(*) AS cv
  FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(i)
  WHERE vec_id % 10 <> 0
  GROUP BY label, g.i
), cvecs AS (
  SELECT cell, LIST(cv ORDER BY pos) AS cvec FROM cent GROUP BY cell
), corpus_assign AS (
  SELECT vec_id AS neighbor_id, embedding AS nv, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                 c.cell) AS rk
    FROM embeddings e, cvecs c
  ) WHERE rk = 1
), query_assign AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                 c.cell) AS rk
    FROM embeddings e, cvecs c
    WHERE e.vec_id < 10
  ) WHERE rk <= 2
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY LIST_COSINE_SIMILARITY(qv, nv) DESC, neighbor_id) AS rank
  FROM corpus_assign JOIN query_assign USING (cell)
  WHERE query_id <> neighbor_id
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q_pii_redaction: scrub emails/IPs/phones. Deterministic PII is
# injected per doc_id so the scrub demonstrably fires on every row; the
# oracle replays injection + the same ordered regex passes.
# ---------------------------------------------------------------------------


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pii_counts, redact_pii

    docs = t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1-555-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            F.pmod(F.col("doc_id"), 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        F.md5(redact_pii("text")).alias("redacted_fp"),
        *pii_counts("text"),
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PII_PHONE = "\\+?[0-9][0-9()\\-\\. ]{6,}[0-9]"

Q_PII_REDACTION_SQL = f"""
WITH injected AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or call +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
  FROM documents
), pass1 AS (
  SELECT doc_id, text,
    LEN(REGEXP_EXTRACT_ALL(text, '{_PII_EMAIL}')) AS n_email,
    REGEXP_REPLACE(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM injected
), pass2 AS (
  SELECT doc_id, n_email,
    LEN(REGEXP_EXTRACT_ALL(t1, '{_PII_IP}')) AS n_ip,
    REGEXP_REPLACE(t1, '{_PII_IP}', '<IP>', 'g') AS t2
  FROM pass1
)
SELECT doc_id, md5(REGEXP_REPLACE(t2, '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp,
  n_email, n_ip,
  LEN(REGEXP_EXTRACT_ALL(t2, '{_PII_PHONE}')) AS n_phone
FROM pass2
"""


# ---------------------------------------------------------------------------
# q_sentence_split: Python UDTF (Spark 4) lateral join — imperative
# row expansion. The oracle is the declarative regexp/unnest twin,
# proving the UDTF path computes exactly what explode would.
# ---------------------------------------------------------------------------


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.udtf_ops import SentenceSplit

    spark.udtf.register("sentence_split", SentenceSplit)
    t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_words
        FROM _docs_for_udtf d, LATERAL sentence_split(d.text) s
        """
    )


Q_SENTENCE_SPLIT_SQL = r"""
WITH arrs AS (
  SELECT doc_id, REGEXP_EXTRACT_ALL(text, '[^.!?]+[.!?]?') AS arr
  FROM documents
), raw AS (
  SELECT doc_id, arr[g.i] AS piece, g.i AS ord
  FROM arrs, UNNEST(GENERATE_SERIES(1, LEN(arr))) AS g(i)
), cleaned AS (
  SELECT doc_id, ord, TRIM(piece, ' ' || chr(9) || chr(10) || chr(13)) AS sentence
  FROM raw
)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INTEGER) AS sent_idx,
  sentence,
  CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(sentence, '\s+'), x -> x <> '')) AS INTEGER) AS n_words
FROM cleaned
WHERE sentence <> ''
"""


# ---------------------------------------------------------------------------
# q_source_mixing: sqrt-temperature corpus mixing (p_i ~ n_i^0.5) — rates
# derived from integer milliweights so the whole reweighting is exact in
# both engines; result = per-source kept volumes after hash sampling.
# ---------------------------------------------------------------------------


def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sqrt_mixing_sample, sqrt_mixing_thresholds

    docs = t(spark, sf_dir, "documents")
    # thresholds feed BOTH the sample filter and the report output —
    # checkpoint the (per-source, tiny) table once instead of running
    # the corpus aggregation per reference.
    thresholds = sqrt_mixing_thresholds(
        docs, "source", target_frac=0.5
    ).transform(checkpoint)
    kept = (
        sqrt_mixing_sample(
            docs, "doc_id", "source", target_frac=0.5, thresholds=thresholds
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        thresholds
        .join(kept, "source", "left")
        .select(
            "source", "n_rows", "bucket_thresh",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


Q_SOURCE_MIXING_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY 1
),
weighted AS (
  SELECT source, n_rows,
    CAST(FLOOR(SQRT(n_rows) * 1000) AS BIGINT) AS w
  FROM counts
),
tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS w_total, CAST(SUM(n_rows) AS BIGINT) AS n_total
  FROM weighted
),
rates AS (
  SELECT source, n_rows,
    CAST(FLOOR(LEAST(1.0,
      CAST(CAST(FLOOR(0.5 * n_total) AS BIGINT) * w AS DOUBLE)
        / (w_total * n_rows)) * 10000) AS INTEGER) AS bucket_thresh
  FROM weighted, tot
),
kept AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 10000 < r.bucket_thresh
  GROUP BY d.source
)
SELECT rates.source, n_rows, bucket_thresh, COALESCE(n_kept, 0) AS n_kept
FROM rates LEFT JOIN kept ON rates.source = kept.source
"""


# ---------------------------------------------------------------------------
# q_embedding_quantized: int8-range scalar quantization of the embedding
# column — codes are engine-exact (float->double promotion + one HALF_UP
# round on a non-negative quotient), so even the compressed vectors are
# oracle-checkable.
# ---------------------------------------------------------------------------


def q_embedding_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    emb = t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    # qvec flattened to a '|'-joined string: the driver's canonicalizer
    # cannot sort list cells (the r2 q_user_event_arrays failure mode);
    # the typed array surface stays on quantize_embeddings + pytest
    return q.withColumn(
        "qvec", F.array_join(F.transform("qvec", lambda x: x.cast("string")), "|")
    )


Q_EMBEDDING_QUANTIZED_SQL = """
SELECT vec_id,
  ARRAY_TO_STRING(
    CASE WHEN LIST_MAX(embedding) = LIST_MIN(embedding)
         THEN LIST_TRANSFORM(embedding, x -> 0)
         ELSE LIST_TRANSFORM(embedding, x ->
           CAST(ROUND((CAST(x AS DOUBLE) - CAST(LIST_MIN(embedding) AS DOUBLE))
                / ((CAST(LIST_MAX(embedding) AS DOUBLE)
                    - CAST(LIST_MIN(embedding) AS DOUBLE)) / 255.0))
                AS INTEGER))
    END, '|') AS qvec,
  CAST(LIST_MIN(embedding) AS DOUBLE) AS q_min,
  (CAST(LIST_MAX(embedding) AS DOUBLE) - CAST(LIST_MIN(embedding) AS DOUBLE))
    / 255.0 AS q_scale
FROM embeddings
"""


# ---------------------------------------------------------------------------
# q_frame_sampling: multimodal frame-sample plumbing — every 10th fixed-
# size frame of the binary payload via Arrow mapInPandas; md5-of-slice
# makes the stub codec oracle-checkable (payload bytes are the UTF-8 text,
# which is ASCII here, so byte slices == char slices in SQL).
# ---------------------------------------------------------------------------


def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, sample_video_frames

    docs = t(spark, sf_dir, "documents")
    return sample_video_frames(attach_binary_payload(docs), every_n=10)


Q_FRAME_SAMPLING_SQL = """
WITH f AS (
  SELECT doc_id, text,
    UNNEST(GENERATE_SERIES(0,
      CAST(OCTET_LENGTH(ENCODE(text)) // 32 AS INTEGER) - 1, 10)) AS frame_idx
  FROM documents
  WHERE OCTET_LENGTH(ENCODE(text)) >= 32
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(frame_idx * 32 AS BIGINT) AS byte_offset,
  MD5(SUBSTRING(text, frame_idx * 32 + 1, 32)) AS frame_md5
FROM f
"""


# ---------------------------------------------------------------------------
# q_editdist_verify: edit-distance verification of LSH candidate pairs —
# the character-level complement to Jaccard verification (catches
# reorder-insensitive shingle false-positives). levenshtein is integer-
# exact and native in both engines; computed only on the candidate set
# (never all pairs), prefix-bounded to keep the DP cost per pair fixed.
# ---------------------------------------------------------------------------


def q_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs, n_hashes=8, shingle_n=2)
    cands = lsh_candidate_pairs(sigs, n_hashes=8, band_size=2)
    pref = docs.select(
        "doc_id", F.substring("text", 1, 64).alias("_pref")
    )
    return (
        cands.join(
            pref.select(F.col("doc_id").alias("id_a"), F.col("_pref").alias("pa")),
            "id_a",
        )
        .join(
            pref.select(F.col("doc_id").alias("id_b"), F.col("_pref").alias("pb")),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.levenshtein("pa", "pb").alias("prefix_edit_dist"),
        )
    )


Q_EDITDIST_VERIFY_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sigs AS (
  SELECT doc_id, {_SIG_COLS} FROM sh
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  LEVENSHTEIN(SUBSTRING(da.text, 1, 64), SUBSTRING(db.text, 1, 64))
    AS prefix_edit_dist
FROM cands
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
"""


# ---------------------------------------------------------------------------
# q_bpe_merges: distributed BPE tokenizer training (Sennrich et al.
# 2016) — 64 merges learned on the BATCHED scale path (batch=8: up to
# 8 mutually non-interacting merges per Spark pass, the job-count
# economics a 32k-merge production vocabulary needs). Iterative
# (driver-bounded loop), so not single-SQL-expressible: rows-only for
# the harness; tests/test_operators.py pins both the classic and the
# batched merge lists EXACTLY against a pure-Python reference, and the
# query itself asserts the pass economy it exists to demonstrate.
# ---------------------------------------------------------------------------


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import train_bpe

    docs = t(spark, sf_dir, "documents")
    merges, passes = train_bpe(docs, n_merges=64, batch=8, return_passes=True)
    assert passes <= 64 // 4, (
        f"batched trainer lost its pass economy: {passes} passes for 64 merges"
    )
    return spark.createDataFrame(
        [(i + 1, left, right, n) for i, (left, right, n) in enumerate(merges)],
        "merge_rank int, left string, right string, pair_count bigint",
    )


# ---------------------------------------------------------------------------
# q_bpe_encode: corpus tokenization with the trained BPE merges — the
# production op q_bpe_merges trains FOR (every training-data pipeline
# ends by tokenizing the kept corpus). Train 32 merges on the batched
# path, Arrow-encode every document (mapInPandas, distinct-word cache),
# aggregate per-language token accounting. Iterative trainer upstream
# -> rows-only; the encoder itself is pytest-pinned word-for-word vs
# encode_word, and the per-language sums are integer-exact.
# ---------------------------------------------------------------------------


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode, train_bpe

    docs = t(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=32, batch=8)
    enc = bpe_encode(docs, merges)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_pq_codes: product-quantization compression of the embedding corpus
# (Jegou et al. 2011) — 64 floats -> 8 codebook bytes per vector.
# Float Lloyd training is not oracle-hashable: rows-only; tests pin the
# codebook + codes bit-for-bit vs a numpy reference on exact data.
# ---------------------------------------------------------------------------


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_encode, pq_train

    emb = t(spark, sf_dir, "embeddings")
    cents = pq_train(emb, m=8, ksub=16, n_iter=2)
    return pq_encode(emb, cents)


# ---------------------------------------------------------------------------
# q_inverted_index: postings-list construction — the search-infra twin
# of the vocabulary query. Top-50 terms by document frequency with
# their full ordered posting lists as strings (scalar columns for the
# harness). Two-level agg: (term, doc) tf partials combine map-side,
# then one term-keyed shuffle; posting reassembly is collect_list +
# array_sort (deterministic), never a window over the hot term.
# ---------------------------------------------------------------------------


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    idx = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("doc_freq"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id"))),
                lambda s: s["doc_id"].cast("string"),
            ),
            " ",
        ).alias("postings"),
    )
    return idx.orderBy(F.desc("doc_freq"), F.asc("term")).limit(50)


Q_INVERTED_INDEX_SQL = r"""
WITH w AS (
  SELECT doc_id,
    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id)
SELECT term,
  CAST(COUNT(*) AS BIGINT) AS doc_freq,
  CAST(SUM(tf) AS BIGINT) AS total_tf,
  STRING_AGG(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS postings
FROM tf GROUP BY term
ORDER BY doc_freq DESC, term ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# q_bm25_search: ranked retrieval — BM25 (Okapi k1=1.2, b=0.75) top-20
# against a fixed query-term set. The scoring layer over the inverted
# index; hit-filtered before any shuffle, so tf cost tracks matches,
# not corpus size. Per-term contributions round to 6 dp, sum as
# DECIMAL, and the final score casts once to DOUBLE (the full
# plans/common policy — r5 proved raw-DECIMAL finals hash-red at the
# driver even with exact values).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "hash", "join", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), _BM25_TERMS, k=20)


Q_BM25_SEARCH_SQL = r"""
WITH w AS (
  SELECT doc_id,
    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
dl AS (SELECT doc_id, CAST(LEN(words) AS DOUBLE) AS dl FROM w),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE term IN ('spark', 'hash', 'join', 'window') GROUP BY doc_id, term
),
idf AS (
  SELECT term, LN(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
  FROM (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       stats
),
contrib AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      idf.idf * tf.tf * (1.2 + 1.0)
      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)), 6)
      AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN idf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
  CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q_hybrid_search_rrf: hybrid retrieval — reciprocal-rank fusion
# (Cormack et al. 2009, the industry-standard hybrid combiner) of the
# BM25 lexical leg and a dense-vector cosine leg over the SAME id
# space (doc_id == vec_id in the testdata). Each leg is a top-20 list;
# the fusion join runs over <=40 rows, so the only corpus-scale work is
# the two legs the battery already proves independently. RRF scores are
# single IEEE divisions on integer ranks — bit-identical cross-engine.
# ---------------------------------------------------------------------------


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import topk_brute_force

    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=20)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex.select(
        "doc_id", F.row_number().over(w).cast("bigint").alias("rank_lex")
    )
    vec = topk_brute_force(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("rank_vec"),
    )
    return rrf_fuse([lex, vec], rank_cols=["rank_lex", "rank_vec"], k=20)


Q_HYBRID_SEARCH_RRF_SQL = r"""
WITH w AS (
  SELECT doc_id,
    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
dl AS (SELECT doc_id, CAST(LEN(words) AS DOUBLE) AS dl FROM w),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE term IN ('spark', 'hash', 'join', 'window') GROUP BY doc_id, term
),
idf AS (
  SELECT term, LN(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
  FROM (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       stats
),
contrib AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      idf.idf * tf.tf * (1.2 + 1.0)
      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)), 6)
      AS DECIMAL(18,6)) AS c
  FROM tf
  JOIN idf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
),
bm AS (
  SELECT doc_id, CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS bm25
  FROM contrib GROUP BY doc_id
),
lex AS (
  SELECT doc_id, rank_lex FROM (
    SELECT doc_id,
      CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
        AS rank_lex
    FROM bm
  ) WHERE rank_lex <= 20
),
vec AS (
  SELECT doc_id, rank_vec FROM (
    SELECT c.vec_id AS doc_id,
      CAST(ROW_NUMBER() OVER (
        ORDER BY LIST_COSINE_SIMILARITY(q.embedding, c.embedding) DESC,
                 c.vec_id) AS BIGINT) AS rank_vec
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id = 0
  ) WHERE rank_vec <= 20
),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
    rank_lex, rank_vec,
    COALESCE(1.0 / (60 + CAST(rank_lex AS DOUBLE)), 0.0)
      + COALESCE(1.0 / (60 + CAST(rank_vec AS DOUBLE)), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, rank_lex, rank_vec, rrf, fused_rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
    AS fused_rank
  FROM fused
) WHERE fused_rank <= 20
"""


# ---------------------------------------------------------------------------
# q_mmr_rerank: MMR diversity re-rank (Carbonell & Goldstein 1998) of
# the cosine top-50 pool for one query — the rerank stage after ANN
# recall (RAG context assembly). Greedy float argmax -> rows-only;
# pytest pins the pick list against an independent numpy replay.
# ---------------------------------------------------------------------------


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_rerank

    emb = t(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, emb.filter(F.col("vec_id") == 0), k=10, pool=50, lam=0.7
    )


# ---------------------------------------------------------------------------
# q_embedding_topk_ivfpq: IVFADC — IVF coarse cells + product-quantized
# residual codes + asymmetric-distance scan (Jégou et al. 2011). The
# billion-scale ANN path: 8-byte codes per vector, probed-cell scan
# only, LUT broadcast. Float k-means + float LUT are not
# oracle-hashable -> rows-only; pytest pins recall vs brute force.
# ---------------------------------------------------------------------------


def q_embedding_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivfpq import topk_ivfpq

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return topk_ivfpq(emb, queries, k=5, nprobe=2, m=8, ksub=16, n_iter=1)


# Per-(application, sf_dir) IVFADC index: built once, then every query
# batch pays only the LUT + ADC scan — the amortization ivfpq_build /
# ivfpq_search were split for. In a warehouse the codes table is a
# persisted per-snapshot artifact; here localCheckpoint plays that role
# within the session.
#
# SNAPSHOT-IMMUTABILITY ASSUMPTION: the cache key is (applicationId,
# sf_dir) — the embeddings under sf_dir are assumed immutable for the
# lifetime of the application (true for the driver's read-only test
# parquet, and the warehouse contract for a per-snapshot index). If
# the underlying table changes in-app, call invalidate_ivfpq_index()
# to drop (and unpersist) the stale entry. Bound: one entry per
# sf_dir touched — a handful in any real run, not unbounded growth.
_IVFPQ_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame, DataFrame]] = {}


def invalidate_ivfpq_index(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop cached IVFADC index entries (all for this app, or just
    ``sf_dir``'s), releasing their checkpointed blocks (codes, coarse
    centroids, codebook) so executor memory is reclaimed immediately —
    ``release_local_checkpoint``, not ``unpersist()``, which does not
    free checkpoint blocks on this runtime."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _IVFPQ_INDEX_CACHE if k[0] == app]:
        if sf_dir is not None and key[1] != sf_dir:
            continue
        try:
            for df in _IVFPQ_INDEX_CACHE.pop(key):
                release_local_checkpoint(df)
        except Exception:
            pass  # app shutting down — blocks die with it anyway


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    from ..operators.ivfpq import ivfpq_build

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVFPQ_INDEX_CACHE:
        emb = t(spark, sf_dir, "embeddings")
        # the build's own scope frees its checkpoints on exit; the index
        # frames are re-pinned as plain checkpoints inside it, so they
        # outlive it (and any caller's scope) until invalidation
        with checkpoint_scope():
            _IVFPQ_INDEX_CACHE[key] = tuple(
                df.localCheckpoint(eager=True)
                for df in ivfpq_build(emb, m=8, ksub=16, n_iter=1)
            )
    return _IVFPQ_INDEX_CACHE[key]


def q_embedding_topk_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search over the PREBUILT index — the amortized per-batch
    production cost (q_embedding_topk_ivfpq times build+search in one
    shot). Same parameters, same output contract; pytest pins that the
    prebuilt path reproduces the one-shot path exactly."""
    from ..operators.ivfpq import ivfpq_search

    index = _ivfpq_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_search(index, queries, k=5, nprobe=2, m=8)


# ---------------------------------------------------------------------------
# q_export_manifest: training-data export accounting — deterministic
# md5-bucket shard assignment + per-shard manifest (rows, payload
# chars, order-insensitive content digest). The digest folds each
# row's 60-bit md5 slice through a commutative DECIMAL sum mod 2^60,
# so it is independent of row/partition order — two exports compare
# equal iff their row SETS match. Oracle-exact (DuckDB HUGEINT sum).
# ---------------------------------------------------------------------------


def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.export import shard_manifest

    docs = t(spark, sf_dir, "documents")
    return shard_manifest(docs, "doc_id", "text", n_shards=8)


Q_EXPORT_MANIFEST_SQL = r"""
WITH s AS (
  SELECT
    CAST(
      (CAST(('0x' || substr(md5('exp1|' || CAST(doc_id AS VARCHAR)), 1, 15))
        AS BIGINT) % 10000) % 8 AS INTEGER) AS shard,
    LENGTH(text) AS payload_chars,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
      || COALESCE(text, '')), 1, 15)) AS BIGINT) AS row_h
  FROM documents
)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(payload_chars) AS BIGINT) AS n_payload_chars,
  CAST(SUM(row_h) % 1152921504606846976 AS BIGINT) AS content_digest
FROM s GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# q_csv_roundtrip / q_jsonl_roundtrip: file-format source coverage.
# The corpus leaves as CSV / JSON-lines (quoted/escaped) and comes back
# through the schema-enforced PERMISSIVE readers; the query proves the
# round trip byte-exact with an order-insensitive per-(lang, source)
# content digest that the oracle computes over the ORIGINAL table. Any
# mangled char, lost row, or corrupt-record fallout changes the digest.
# ---------------------------------------------------------------------------

# concat + coalesce, not concat_ws: concat_ws SKIPS nulls, which would
# silently hash a null text as just the key while the oracle's `||`
# nullifies — both engines must see 'id|' for null/empty text (CSV
# re-reads turn '' into null, so this path is exercised for real).
_ROUNDTRIP_DIGEST = (
    lambda: F.pmod(
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.coalesce(F.col("text"), F.lit("")),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("decimal(38,0)")
        ),
        F.lit(2**60).cast("decimal(38,0)"),
    )
    .cast("bigint")
    .alias("content_digest")
)


def _roundtrip_summary(df: DataFrame) -> DataFrame:
    return df.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        _ROUNDTRIP_DIGEST(),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    import tempfile

    from ..sources.files import (
        read_csv,
        read_jsonl,
        read_orc,
        split_corrupt,
        write_csv,
        write_jsonl,
        write_orc,
    )

    docs = t(spark, sf_dir, "documents")
    schema = docs.schema
    parsed = None
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/docs_{fmt}"
        if fmt == "csv":
            write_csv(docs, path)
            clean, quarantine, parsed = split_corrupt(
                read_csv(spark, path, schema, multi_line=True)
            )
        elif fmt == "jsonl":
            write_jsonl(docs, path)
            clean, quarantine, parsed = split_corrupt(
                read_jsonl(spark, path, schema)
            )
        else:
            write_orc(docs, path)
            clean, quarantine = read_orc(spark, path, schema), None
        out = _roundtrip_summary(clean)
        out = spark.createDataFrame(out.collect(), out.schema)
        if quarantine is not None:
            assert quarantine.count() == 0, f"{fmt} round trip corrupted rows"
        if parsed is not None:
            parsed.unpersist()
    return out


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "jsonl")


_ROUNDTRIP_ORACLE = r"""
SELECT lang, source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
  CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
    || COALESCE(text, '')), 1, 15)) AS BIGINT))
    % 1152921504606846976 AS BIGINT) AS content_digest
FROM documents GROUP BY lang, source
"""

def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


Q_CSV_ROUNDTRIP_SQL = _ROUNDTRIP_ORACLE
Q_JSONL_ROUNDTRIP_SQL = _ROUNDTRIP_ORACLE
Q_ORC_ROUNDTRIP_SQL = _ROUNDTRIP_ORACLE


# ---------------------------------------------------------------------------
# q_kmeans_clusters: label-free corpus clustering — bounded-Lloyd
# k-means over the embedding corpus (deterministic xxhash seeding,
# broadcast assignment, Arrow partial-sum updates). Float means are
# not oracle-hashable -> rows-only; pytest pins planted-partition
# recovery and a numpy centroid replay.
# ---------------------------------------------------------------------------


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_assign, kmeans_train

    emb = t(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, n_iter=2)
    assigned = kmeans_assign(emb, cents).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q_incremental_neardup: incremental dedup over a corpus snapshot — the
# signature-reuse contract at query level. The corpus splits into a
# "base" snapshot (90%, md5 bucket) and a "delta" batch (10%); base
# signatures come from a MATERIALIZED signature table (the warehouse
# pattern: hash 100 TB once, not per pass), only the delta re-hashes,
# and the output is restricted to pairs TOUCHING the delta — what an
# incremental pipeline actually emits per batch. Same md5 family as
# q_neardup_verified, so the oracle replays it exactly.
# ---------------------------------------------------------------------------


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures, neardup_verified_pairs
    from ..operators.sampling import hash_bucket

    docs = t(spark, sf_dir, "documents")
    bkt = hash_bucket("doc_id", "inc1")
    base = docs.filter(bkt < 9000)
    delta = docs.filter(bkt >= 9000)
    # the base signature table is a stored artifact in production;
    # localCheckpoint stands in for the materialized read
    sigs_base = checkpoint(minhash_signatures(base))
    sigs_all = sigs_base.unionByName(minhash_signatures(delta))
    # checkpoint: pairs feeds BOTH semi-join branches below — without
    # it the whole band+verify pipeline runs twice (ReuseExchange does
    # not fire across union branches). The pair list is near-dup-sized,
    # so the materialization is bounded by the result, not the corpus.
    pairs = neardup_verified_pairs(
        docs, n_hashes=8, band_size=2, threshold=0.5, signatures=sigs_all
    ).transform(checkpoint)
    # pairs touching the delta batch: two equi semi-joins (an OR-semi
    # would plan a nested loop), deduped on the pair key
    dids = delta.select("doc_id")
    touching = pairs.join(
        dids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
    ).unionByName(
        pairs.join(
            dids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
        ).select("id_a", "id_b", "n_shingles_a", "n_shingles_b", "n_common")
    )
    return touching.dropDuplicates(["id_a", "id_b"])


Q_INCREMENTAL_NEARDUP_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sigs AS (
  SELECT doc_id, {_SIG_COLS} FROM sh
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
delta AS (
  SELECT doc_id FROM documents
  WHERE CAST(('0x' || substr(md5('inc1|' || CAST(doc_id AS VARCHAR)), 1, 15))
    AS BIGINT) % 10000 >= 9000
)
SELECT id_a, id_b,
  LEN(sa.s) AS n_shingles_a, LEN(sb.s) AS n_shingles_b,
  LEN(LIST_INTERSECT(sa.s, sb.s)) AS n_common
FROM cands
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE LEN(LIST_INTERSECT(sa.s, sb.s)) * 1.0
      / (LEN(sa.s) + LEN(sb.s) - LEN(LIST_INTERSECT(sa.s, sb.s))) > 0.5
  AND (id_a IN (SELECT doc_id FROM delta) OR id_b IN (SELECT doc_id FROM delta))
"""



# ---------------------------------------------------------------------------
# q_image_resize: the multimodal RESIZE leg — nearest-neighbor resize
# of raw w×w byte grids through real Arrow mapInPandas plumbing. The
# digest pins the exact pixel-gather. Oracle validity: this corpus is
# pure ASCII (asserted in tests), so DuckDB's char-wise SUBSTRING
# gather replays the byte-wise numpy gather exactly; non-ASCII
# payloads would make this entry rows-only like the other binary ops.
# ---------------------------------------------------------------------------


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, resize_raw_images

    docs = t(spark, sf_dir, "documents")
    return resize_raw_images(attach_binary_payload(docs))


Q_IMAGE_RESIZE_SQL = """
WITH g AS (
  SELECT doc_id, text,
    CAST(FLOOR(SQRT(LENGTH(text))) AS INT) AS w
  FROM documents
)
SELECT doc_id, w AS src_w,
  md5(SUBSTRING(text, CAST(FLOOR(0 * w / 4) AS INT) * w + CAST(FLOOR(0 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(0 * w / 4) AS INT) * w + CAST(FLOOR(1 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(0 * w / 4) AS INT) * w + CAST(FLOOR(2 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(0 * w / 4) AS INT) * w + CAST(FLOOR(3 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(1 * w / 4) AS INT) * w + CAST(FLOOR(0 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(1 * w / 4) AS INT) * w + CAST(FLOOR(1 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(1 * w / 4) AS INT) * w + CAST(FLOOR(2 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(1 * w / 4) AS INT) * w + CAST(FLOOR(3 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(2 * w / 4) AS INT) * w + CAST(FLOOR(0 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(2 * w / 4) AS INT) * w + CAST(FLOOR(1 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(2 * w / 4) AS INT) * w + CAST(FLOOR(2 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(2 * w / 4) AS INT) * w + CAST(FLOOR(3 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(3 * w / 4) AS INT) * w + CAST(FLOOR(0 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(3 * w / 4) AS INT) * w + CAST(FLOOR(1 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(3 * w / 4) AS INT) * w + CAST(FLOOR(2 * w / 4) AS INT) + 1, 1) || SUBSTRING(text, CAST(FLOOR(3 * w / 4) AS INT) * w + CAST(FLOOR(3 * w / 4) AS INT) + 1, 1)) AS resized_digest
FROM g WHERE w >= 1
"""


# ---------------------------------------------------------------------------
# q_hard_negatives: contrastive-training data op — per query, the top-5
# most-similar vectors with a DIFFERENT label (the near-misses a
# contrastive loss needs). Float cosine orders only (ranks are the
# output), same contract as q_embedding_topk's driver-green oracle.
# ---------------------------------------------------------------------------


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negatives

    emb = t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5)


Q_HARD_NEGATIVES_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    LIST_COSINE_SIMILARITY(q.embedding, c.embedding) AS sim
  FROM embeddings q JOIN embeddings c
    ON q.vec_id <> c.vec_id AND q.label <> c.label
  WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q_oov_rate: out-of-vocabulary rate per source against a reference
# vocabulary (extension — the tokenizer-health / domain-shift metric a
# training-data pipeline tracks when mixing sources: a source whose
# OOV rate spikes against the tokenizer-training corpus is drifting).
# Reference vocab = distinct whitespace tokens of source 'src0';
# each source's token stream is left-joined against it and the miss
# rate is one division of exact counts (bit-identical cross-engine).
#
# Scale: vocab is a distinct over the reference slice (broadcastable
# for real tokenizer vocabs — 32-256k entries — so it goes through
# ``broadcast_gate``: Catalyst sizes it at the token stream); the join is
# token-level but map-side with the broadcast, and the per-source agg
# is map-combinable. No driver-side state.
# ---------------------------------------------------------------------------

_OOV_REF_SOURCE = "src0"


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = t(spark, sf_dir, "documents")
    # localCheckpoint: tok is both the vocab source and the probe
    # stream — without it the vocab branch re-reads and re-explodes
    # the corpus (the heaviest step) a second time.
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("tk")
    ).transform(checkpoint)
    vocab = (
        tok.filter(F.col("source") == _OOV_REF_SOURCE)
        .select("tk")
        .distinct()
        .withColumn("_in_vocab", F.lit(1))
    )
    return (
        tok.join(broadcast_gate(spark)(vocab), "tk", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_in_vocab").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens"),
        )
        .orderBy("source")
    )


Q_OOV_RATE_SQL = rf"""
WITH tok AS (
  SELECT source,
    UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x <> '')) AS tk
  FROM documents
),
vocab AS (
  SELECT DISTINCT tk FROM tok WHERE source = '{_OOV_REF_SOURCE}'
)
SELECT t.source,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.tk = v.tk
GROUP BY t.source
ORDER BY t.source
"""


# ---------------------------------------------------------------------------
# q_chisq_drift: chi-square distribution-drift screen — does each
# source's document-length distribution diverge from the corpus-wide
# one? The contingency test behind ingest-drift monitors (and the
# log-free cousin of PSI, which this battery deliberately avoids for
# its ln()). Lengths bin into five fixed buckets; expected cell mass is
# row_total*col_total/N; the statistic is sum((o-e)^2/e) over the FULL
# source x bucket grid (absent cells contribute their expected mass —
# the grid cross-join makes the zero cells explicit in BOTH engines).
#
# Cross-engine determinism: o, row/col totals and N are exact BIGINTs
# whose double conversions are exact; e and each cell contribution are
# single IEEE ops on them — identical bits. The 5-term per-source SUM
# would be the one order-sensitive step, so each contribution rounds to
# DECIMAL(22,8) first and the sum is exact (the plans/common policy).
# The drift flag compares against the chi-square 95% critical value for
# 4 dof, inlined as the same literal.
#
# Scale: one groupBy to the |sources| x 5 cell table, two tiny rollups,
# a cross-join of two broadcast-sized dimension tables, and a final
# |sources|-row agg. The document stream is scanned once, map-side.
# ---------------------------------------------------------------------------

_CHISQ_CRIT_4DOF_95 = 9.487729036781154


def q_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 250, 1)
        .when(F.col("n_chars") < 350, 2)
        .when(F.col("n_chars") < 450, 3)
        .otherwise(4)
    )
    # localCheckpoint: the cell table feeds FOUR branches (row totals,
    # column totals, grand total, and the grid's left join) — without
    # it each branch rescans documents (ReuseExchange does not fire
    # across them). The cell table is |sources| x 5 rows.
    cells = (
        docs.select(F.col("source"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("o"))
        .transform(checkpoint)
    )
    rt = cells.groupBy("source").agg(F.sum("o").alias("row_total"))
    ct = cells.groupBy("bucket").agg(F.sum("o").alias("col_total"))
    n = cells.agg(F.sum("o").alias("n_total"))
    grid = (
        rt.crossJoin(broadcast_gate(spark)(ct))
        .crossJoin(n)
        .join(cells, ["source", "bucket"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("n_total").cast("double")
    )
    contrib = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    return (
        grid.withColumn("contrib", contrib)
        .groupBy("source")
        .agg(
            F.min("row_total").cast("bigint").alias("n_docs"),
            F.sum(F.round(F.col("contrib"), 8).cast("decimal(22,8)"))
            .cast("double")
            .alias("chi2"),
        )
        .withColumn("drift_flag", F.col("chi2") > F.lit(_CHISQ_CRIT_4DOF_95))
        .orderBy("source")
    )


Q_CHISQ_DRIFT_SQL = f"""
WITH cells AS (
  SELECT source,
    CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 250 THEN 1
         WHEN n_chars < 350 THEN 2 WHEN n_chars < 450 THEN 3
         ELSE 4 END AS bucket,
    CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
),
rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS row_total FROM cells GROUP BY 1),
ct AS (SELECT bucket, CAST(SUM(o) AS BIGINT) AS col_total FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells),
grid AS (
  SELECT rt.source, ct.bucket, rt.row_total, ct.col_total, n.n_total,
    COALESCE(cells.o, 0) AS o
  FROM rt CROSS JOIN ct CROSS JOIN n
  LEFT JOIN cells ON cells.source = rt.source AND cells.bucket = ct.bucket
),
contribs AS (
  SELECT source, row_total,
    (CAST(o AS DOUBLE)
       - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
         / CAST(n_total AS DOUBLE))
    * (CAST(o AS DOUBLE)
       - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
         / CAST(n_total AS DOUBLE))
    / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
       / CAST(n_total AS DOUBLE)) AS contrib
  FROM grid
)
SELECT source,
  CAST(MIN(row_total) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(ROUND(contrib, 8) AS DECIMAL(22,8))) AS DOUBLE) AS chi2,
  CAST(SUM(CAST(ROUND(contrib, 8) AS DECIMAL(22,8))) AS DOUBLE)
    > {_CHISQ_CRIT_4DOF_95!r} AS drift_flag
FROM contribs
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q_label_agreement: Cohen's kappa between two document labelings, per
# source (extension — the inter-annotator/classifier agreement audit
# run before trusting any automated curation signal; chance-corrected,
# unlike raw accuracy). The two labelers here are the battery's
# simplest mirrored heuristics — A: length >= 250 chars, B: ends in a
# terminal period — standing in for any pair of quality classifiers.
#
# kappa = (po - pe) / (1 - pe) with po = (n11 + n00)/n and
# pe = (na*nb + (n-na)*(n-nb)) / n^2. All counts are exact BIGINTs;
# their double conversions are exact far beyond any corpus size
# (< 2^53), and both engines evaluate the IDENTICAL double expression.
# The pe == 1 degenerate case (both labelers constant — kappa
# undefined) is guarded by the exact INTEGER identity
# na*nb + (n-na)*(n-nb) == n*n, emitting NULL in both engines.
#
# Scale: one scan, one partial-aggregating groupBy to |sources| rows.
# ---------------------------------------------------------------------------


def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    a = (F.col("n_chars") >= 250).cast("int")
    b = F.col("text").endswith(".").cast("int")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(a).cast("bigint").alias("na"),
        F.sum(b).cast("bigint").alias("nb"),
        F.sum(a * b).cast("bigint").alias("n11"),
    )
    n = F.col("n").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    n00 = (F.col("n") - F.col("na") - F.col("nb") + F.col("n11")).cast(
        "double"
    )
    po = (F.col("n11").cast("double") + n00) / n
    pe = (na * nb + (n - na) * (n - nb)) / (n * n)
    exact_pe_one = (
        F.col("na") * F.col("nb")
        + (F.col("n") - F.col("na")) * (F.col("n") - F.col("nb"))
        == F.col("n") * F.col("n")
    )
    return counts.select(
        "source",
        "n",
        "na",
        "nb",
        "n11",
        po.alias("po"),
        F.when(~exact_pe_one, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    ).orderBy("source")


Q_LABEL_AGREEMENT_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN text LIKE '%.' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN n_chars >= 250 AND text LIKE '%.'
             THEN 1 ELSE 0 END) AS BIGINT) AS n11
  FROM documents GROUP BY source
)
SELECT source, n, na, nb, n11,
  (CAST(n11 AS DOUBLE) + CAST(n - na - nb + n11 AS DOUBLE))
    / CAST(n AS DOUBLE) AS po,
  CASE WHEN NOT (na * nb + (n - na) * (n - nb) = n * n) THEN
    (((CAST(n11 AS DOUBLE) + CAST(n - na - nb + n11 AS DOUBLE))
        / CAST(n AS DOUBLE))
     - ((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         + (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
           * (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE)))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
    / (1.0
     - ((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         + (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
           * (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE)))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
  END AS kappa
FROM counts
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q_ranksum_sources: Mann-Whitney U rank-sum test per document source —
# does this source's length distribution differ from the REST of the
# corpus? (extension — the battery's nonparametric hypothesis test;
# chi-square screens binned counts, this ranks raw values: the A/B
# test of data-mix monitoring.) Tie-corrected normal approximation,
# flagged at |z| > 1.96.
#
# NO global row window: ranks come from the DISTINCT-VALUE table —
# cum_less(v) = running sum of value counts over the ordered distinct
# lengths (a window over |distinct values| rows, thousands not
# billions), giving every doc of value v the integer DOUBLED average
# rank 2*cum_less + cnt_v + 1 (doubling keeps tie-averages integral).
# Per source: S2 = sum(cnt_sv * that) = 2*R1, and the SOURCE-centric
# statistic U1 = R1 - n1*(n1+1)/2 (scipy's mannwhitneyu convention —
# the replay test cross-checks it when scipy is present; positive z =
# source shifted HIGH), all exact integers (DECIMAL(38,0) sums); the
# z-score is one shared double expression with the tie term
# T = sum(t^3 - t) over value groups.
# Envelope: 2U ~ n1*n2 stays far inside 2^64 at graded scales
# (5e7 at sf0.1); past ~1e9 docs route the U products through
# DECIMAL(38,0) end-to-end (the q_corr_profile discipline).
#
# Scale: two groupBys (value counts; per-source-and-value counts), one
# tiny distinct-value window, one broadcast join back, one |sources|
# agg. vc is checkpointed — it feeds the ranks, the grand totals, AND
# (via ranks) the probe join, and ReuseExchange does not fire across
# the branches; with it the corpus is scanned once per groupBy.
# ---------------------------------------------------------------------------


def q_ranksum_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    vc = docs.groupBy("n_chars").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).transform(checkpoint)
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranks = vc.select(
        "n_chars",
        "cnt",
        (
            2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1
        ).alias("dar"),  # doubled average rank of every row at this value
    )
    sv = docs.groupBy("source", "n_chars").agg(
        F.count("*").cast("bigint").alias("cnt_sv")
    )
    joined = sv.join(broadcast_gate(spark)(ranks), "n_chars")
    tot = vc.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            (F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
            .cast("decimal(38,0)")
        ).cast("double").alias("tie_t"),
    )
    per_src = joined.groupBy("source").agg(
        F.sum("cnt_sv").cast("bigint").alias("n1"),
        F.sum((F.col("cnt_sv") * F.col("dar")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n") - F.col("n1")).cast("double")
    u = (F.col("s2") - n1 * (n1 + F.lit(1.0))) / F.lit(2.0)
    var = (
        n1
        * n2
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie_t") / (n * (n - F.lit(1.0))))
    )
    z = (u - n1 * n2 / F.lit(2.0)) / F.sqrt(var)
    return (
        per_src.crossJoin(tot)
        .select(
            "source",
            "n1",
            u.alias("u_stat"),
            F.when(var > 0, z).alias("z"),
            F.when(var > 0, F.abs(z) > F.lit(1.96)).alias("shifted_flag"),
        )
        .orderBy("source")
    )


Q_RANKSUM_SOURCES_SQL = """
WITH vc AS (
  SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY n_chars
),
ranks AS (
  SELECT n_chars, cnt,
    2 * (SUM(cnt) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
      + cnt + 1 AS dar
  FROM vc
),
sv AS (
  SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt_sv
  FROM documents GROUP BY source, n_chars
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
    CAST(SUM(CAST(cnt * cnt * cnt - cnt AS DECIMAL(38,0))) AS DOUBLE)
      AS tie_t
  FROM vc
),
per_src AS (
  SELECT source, CAST(SUM(cnt_sv) AS BIGINT) AS n1,
    CAST(SUM(CAST(cnt_sv * dar AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM sv JOIN ranks USING (n_chars)
  GROUP BY source
)
SELECT source, n1,
  (s2 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
    AS u_stat,
  CASE WHEN CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0
         * ((CAST(n AS DOUBLE) + 1.0)
            - tie_t / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) > 0
  THEN ((s2 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
        - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0)
     / SQRT(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0
         * ((CAST(n AS DOUBLE) + 1.0)
            - tie_t / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
  END AS z,
  CASE WHEN CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0
         * ((CAST(n AS DOUBLE) + 1.0)
            - tie_t / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) > 0
  THEN ABS(((s2 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
        - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0)
     / SQRT(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0
         * ((CAST(n AS DOUBLE) + 1.0)
            - tie_t / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))))
       > 1.96
  END AS shifted_flag
FROM per_src CROSS JOIN tot
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q_quantile_sketch (r10 — the mergeable-quantile-summary class the
# battery lacked): t-digest percentiles of document length per source
# PLUS the global rollup obtained by MERGING the per-source digests —
# never re-reading the corpus. Estimates are implementation-defined
# (rows-only by design, the q_approx_profile policy); the error-bound
# and merge-invariance pins live in tests/test_operators.py.
# ---------------------------------------------------------------------------


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tdigest import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantiles,
    )

    docs = t(spark, sf_dir, "documents")
    # materialize the digests (kilobytes) — in a warehouse this is the
    # stored summary table; without it the per-quantile leg AND the
    # merge leg would each re-scan the corpus (the CC-edge lesson)
    per_source = tdigest_build(
        docs, "n_chars", ["source"], delta=100.0
    ).transform(checkpoint)
    qs = [0.5, 0.9, 0.99]
    per = tdigest_quantiles(per_source, qs, ["source"])
    # the mergeability headline: the global digest comes from the
    # per-source SUMMARIES (kilobytes), not from the documents table
    glob = (
        tdigest_quantiles(tdigest_merge(per_source, [], delta=100.0), qs)
        .select(F.lit("__all__").alias("source"), "q", "value")
    )
    return (
        per.unionByName(glob)
        .select("source", "q", F.round("value", 4).alias("value"))
        .orderBy("source", "q")
    )


# ---------------------------------------------------------------------------
# q_weighted_sample (r10 — the row-level weighted-sampling class):
# systematic probability-proportional-to-size sampling of documents
# with weight = n_chars ("sample docs proportional to token budget").
# No pow/ln priority keys (libm-dependent, not cross-engine): hash-
# randomized order + integer cumulative weight (the distributed prefix
# sum) + integer-division interval test — ALL integer arithmetic, so
# the selected set is hash-exact in any engine.
# ---------------------------------------------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pps_systematic_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sel = pps_systematic_sample(docs, "doc_id", "n_chars", 200, seed="s7")
    return sel.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("weight")
    ).orderBy("doc_id")


Q_WEIGHTED_SAMPLE_SQL = """
WITH base AS (
  SELECT doc_id, n_chars,
    CAST(('0x' || substr(md5('s7|' || CAST(doc_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM documents
),
run AS (
  SELECT doc_id, n_chars,
    SUM(n_chars) OVER (ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumw
  FROM base
),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tot FROM documents),
st AS (SELECT GREATEST(tot // 200, 1) AS t FROM tot)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
FROM run, st
WHERE cumw // t > (cumw - n_chars) // t
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q_spatial_neighbors (r10 — the spatial self-join pair primitive):
# all point pairs within planar distance 1.5 of each other on the
# synthetic embedding-derived coordinates (the q_geo_enrichment
# derivation). The grid-cell technique itself predates this entry
# (q_geo_radius_join carries it inline: two-table, aggregated output,
# strict <); this entry grades the OPERATORIZED form
# (operators/spatial.radius_join — reusable, self-join emitting each
# unordered pair exactly once, haversine/antimeridian support) at
# pair grain. The residual predicate and emitted dist_sq use only
# IEEE-exact double ops (subtract/multiply/add — the no-libm policy),
# so the entry is fully oracle-paired against DuckDB's brute-force
# cross join, candidate generation proven lossless by the comparison
# itself.
# ---------------------------------------------------------------------------


def q_spatial_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import radius_join

    pts = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.element_at("embedding", 1).cast("double") * 45).alias("x"),
        (F.element_at("embedding", 2).cast("double") * 90).alias("y"),
    )
    # at sf scale the build side is under the broadcast threshold ->
    # planner broadcast (plan-pinned in pytest); at 64M+ it is the
    # sized SHUFFLE_HASH build, no per-site tuning
    pairs = radius_join(pts, "vec_id", "x", "y", 1.5).select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        "dist_sq",
    )
    return pairs.orderBy("vec_a", "vec_b")


Q_SPATIAL_NEIGHBORS_SQL = """
WITH pts AS (
  SELECT vec_id,
         CAST(embedding[1] AS DOUBLE) * 45 AS x,
         CAST(embedding[2] AS DOUBLE) * 90 AS y
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
FROM pts a JOIN pts b ON a.vec_id < b.vec_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 2.25
ORDER BY vec_a, vec_b
"""
