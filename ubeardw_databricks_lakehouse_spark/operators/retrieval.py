"""BM25 ranked retrieval over the corpus — the scoring layer on top of
the inverted index (`plans/llm_q.q_inverted_index`).

Robertson/Spärck Jones BM25 (the Okapi formulation, k1/b):

    score(d, Q) = sum_t idf(t) * tf(t,d) * (k1+1)
                  / (tf(t,d) + k1 * (1 - b + b * dl(d)/avgdl))
    idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Reference parity: search/ranking surface of the warehouse's text tier
(the reference ships tokenize+count text utilities; BM25 is the
canonical ranked-retrieval composition of those counts — cf. Trino's
and Lucene's BM25 defaults k1=1.2, b=0.75).

Scale shape (the part that matters at 100 TB):
- tokens are filtered to the QUERY terms before any shuffle — the
  (doc, term) tf aggregation only ever carries rows whose term is in
  the query set, so its cost tracks hits, not corpus size;
- document lengths come from a map-only `token_count` column — no
  explode, no shuffle;
- df/idf and avgdl are tiny aggregates (|Q| rows and 1 row) joined
  back by broadcast (avgdl sized by the planner, idf through
  `broadcast_gate`) — the corpus is never re-shuffled for them;
- final score is one groupBy(doc) over the filtered tf rows, then a
  global top-k that compiles to TakeOrderedAndProject.

Cross-engine determinism: each per-term contribution rounds to 6
decimals and sums as DECIMAL(18,6), then the FINAL score casts once to
DOUBLE — the full `plans/common` policy ("exact DECIMAL sum, then one
cast to DOUBLE"): identical rationals convert to identical doubles in
both engines, and a DOUBLE final column is the only numeric kind the
driver's value-hash has ever treated identically across engines
(raw-DECIMAL finals hash-mismatched in round 5 despite exact values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint
from .text import token_count, tokens

K1 = 1.2
B = 0.75


def build_tf_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persistent retrieval index: (doc, term, tf) + per-doc length
    carried on every row (denormalized so a query never re-reads the
    corpus). A warehouse materializes this ONCE per corpus snapshot
    (partitioned/bucketed by term at scale) and serves every BM25 query
    from it — the retrieval twin of the near-dup signature table."""
    # Zero-token documents (empty/whitespace-only text) still count
    # toward N and avgdl in the Okapi formula, so they must survive in
    # the index: explode_outer emits a single (doc, NULL-term, dl=0)
    # row for them; query-time term filters drop it from tf while the
    # per-doc length projection keeps it, so the index path reproduces
    # the direct-over-corpus path on any corpus, empty docs included.
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(tokens(text_col)).alias("term"),
        token_count(text_col).cast("double").alias("dl"),
    )
    return toks.groupBy(id_col, "term", "dl").agg(
        F.count("*").cast("double").alias("tf")
    )


def doc_length_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The slim per-doc length table (doc_id, dl) — the second half of
    the maintained retrieval state (``bm25_upsert``). BM25's N and
    avgdl are 2-scalar aggregates over it: a 2-column pruned scan,
    versus the O(index-rows) ``dl.distinct()`` the fat tf index would
    otherwise pay per query."""
    return docs.select(
        F.col(id_col), token_count(text_col).cast("double").alias("dl")
    )


def bm25_upsert(
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental BM25 index maintenance — the retrieval counterpart
    of ``dedup.neardup_upsert`` / ``similarity.ivf_upsert``: the tf
    index is ADDITIVE (a new doc contributes only its own (doc, term,
    tf, dl) rows; no existing row changes), so maintaining it costs
    one tokenize-and-count pass over the DELTA, never the corpus.

    Returns ``(delta_index, delta_doclens)``:

    - ``delta_index`` — ``build_tf_index`` of the delta; MERGE into
      the stored index keyed (id, term) (insert-only in practice —
      the keyed MERGE makes at-least-once redelivery idempotent, the
      same contract as every streaming face here);
    - ``delta_doclens`` — ``doc_length_stats`` of the delta; MERGE
      keyed (id). Queries then take ``bm25_topk(..., tf_index=index,
      doc_stats=doclens)``: N/avgdl/dl all come from the slim table
      and the per-query cost is O(hits) + one 2-column scan-agg —
      nothing corpus-shaped, nothing re-tokenized.

    Why a maintained TABLE and not a running (N, sum_dl) scalar row:
    an additive read-modify-write scalar is a lost-update hazard under
    concurrent/replayed writers, while the per-doc table is keyed (so
    replay-idempotent) and its 2-scalar aggregate is a column-pruned
    parallel scan — the Spark-idiomatic trade at any scale.

    Exactness: ``index UNION delta_index`` is row-identical to
    ``build_tf_index`` over the grown corpus (tokenization is
    per-row), so search over the maintained state equals
    rebuild-then-search — pinned in pytest.

    Empty-doc edge: a zero-token doc's index sentinel row carries a
    NULL term, and NULL merge keys never match (Delta MERGE parity),
    so a replayed batch can duplicate that one sentinel row in the
    index — harmless, since every scoring path filters to query terms
    and N/avgdl come from the doclens table, whose doc_id key IS
    replay-idempotent.
    """
    return (
        build_tf_index(new_docs, id_col, text_col),
        doc_length_stats(new_docs, id_col, text_col),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = K1,
    b: float = B,
    tf_index: DataFrame | None = None,
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents by BM25 against ``query_terms``.

    The corpus path checkpoints its hit-filtered tf frame once — see
    the inline comment. The returned frame reads that checkpoint, so
    its lifetime is the caller's ``checkpoint_scope``.

    Returns (doc_id, n_terms_hit, bm25) ordered by score desc with a
    doc-id tie-break; ``bm25`` is DOUBLE, produced as a deterministic
    DECIMAL(18,6) sum of rounded per-term contributions followed by one
    exact final cast (plans/common policy).

    ``tf_index``: a previously materialized ``build_tf_index`` table —
    the production path: the corpus text is tokenized once per
    snapshot, not per query; with it, a query touches only the index
    rows for its own terms (term-partition-pruned at scale).

    ``doc_stats``: the slim (id, dl) table (``doc_length_stats`` /
    ``bm25_upsert``'s second output). Without it the index path
    derives lengths by an O(index-rows) distinct over the fat tf
    table — fine for a one-shot snapshot, the wrong per-query cost on
    a maintained index.
    """
    qlit = F.array(*[F.lit(t) for t in query_terms])

    if tf_index is not None:
        hits = tf_index.where(F.array_contains(qlit, F.col("term")))
        dl = (
            doc_stats.select(F.col(id_col), F.col("dl"))
            if doc_stats is not None
            else tf_index.select(F.col(id_col), F.col("dl")).distinct()
        )
        tf = hits.select(id_col, "term", "tf")
    else:
        # corpus-level pass: per-doc length + hit-filtered (doc, term) tf
        dl = docs.select(
            F.col(id_col), token_count(text_col).cast("double").alias("dl")
        )
        tf = (
            docs.select(
                F.col(id_col), F.explode(tokens(text_col)).alias("term")
            )
            .where(F.array_contains(qlit, F.col("term")))
            .groupBy(id_col, "term")
            .agg(F.count("*").cast("double").alias("tf"))
        )
        # tf is referenced twice (the idf model build AND the scoring
        # join); un-pinned, each reference re-runs the full corpus
        # tokenize+explode pass. The post-filter frame is O(postings of
        # the query's terms) — the standard "postings fit" retrieval
        # bound — so pin it once (guide §2.4). Index-path queries
        # (tf_index=) never reach here: their hits frame reads the
        # materialized index, no corpus pass to save.
        tf = checkpoint(tf)
    # N docs and avg length — two scalar aggregates the planner sizes
    # at one row and broadcasts. idf has |query terms| rows but is sized
    # at the tf rows it aggregates, so it goes through the gate.
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(stats)
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )

    contrib = (
        tf.join(broadcast_gate(tf.sparkSession)(idf), "term")
        .join(dl, id_col)
        .crossJoin(stats)
        .select(
            id_col,
            F.round(
                F.col("idf")
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_terms_hit"),
        F.sum("c").cast("decimal(18,6)").cast("double").alias("bm25"),
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


RRF_K = 60  # Cormack et al. 2009 default; dominates nothing, fuses all


def rrf_fuse(
    ranked_lists: list[DataFrame],
    id_col: str = "doc_id",
    rank_cols: list[str] | None = None,
    k: int = 20,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of N
    ranked retrieval lists — the standard hybrid-search combiner
    (lexical BM25 + vector ANN being the canonical pair).

    Each input must carry ``id_col`` and its entry in ``rank_cols``
    (1-based rank, smaller = better). Fused score is
    ``sum_i 1/(rrf_k + rank_i)`` with absent entries contributing 0 —
    a full outer merge, so a document surfaced by EITHER leg competes.

    Scale shape: each leg is already a top-k' list (tiny — k' rows per
    query), so the fusion join is trivially broadcastable; nothing here
    touches the corpus again. Determinism: ranks are integers and each
    reciprocal is a single IEEE division — both engines compute the
    identical double, and the final row_number cut ties on ``id_col``.
    """
    if rank_cols is None:
        rank_cols = [f"rank_{i}" for i in range(len(ranked_lists))]
    # ValueError, not assert: under `python -O` an assert is stripped
    # and a mismatched zip would silently truncate legs.
    if len(ranked_lists) != len(rank_cols):
        raise ValueError(
            f"rrf_fuse got {len(ranked_lists)} ranked lists but "
            f"{len(rank_cols)} rank columns — they must pair 1:1"
        )
    if len(ranked_lists) < 2:
        raise ValueError(
            "rrf_fuse fuses at least two ranked lists; got "
            f"{len(ranked_lists)}"
        )
    fused = ranked_lists[0].select(id_col, rank_cols[0])
    for df, rc in zip(ranked_lists[1:], rank_cols[1:]):
        fused = fused.join(df.select(id_col, rc), id_col, "full_outer")
    score = None
    for rc in rank_cols:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(rc).cast("double")), F.lit(0.0)
        )
        score = term if score is None else score + term
    fused = fused.select(
        F.col(id_col),
        *[F.col(rc).cast("bigint").alias(rc) for rc in rank_cols],
        score.alias("rrf"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
    )
