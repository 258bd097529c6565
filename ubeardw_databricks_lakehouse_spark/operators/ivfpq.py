"""IVF-PQ approximate nearest neighbor — the billion-scale composition
of the inverted-file coarse quantizer (`similarity.topk_ivf`) and the
product-quantization codebook (`pq`): Jégou et al. 2011's IVFADC.

Why this exists as its own tier: IVF alone still stores and scans full
float vectors inside each probed cell (256 B/vector at D=64); PQ alone
still scans every vector's codes. IVFADC stores only m-byte codes per
vector (8 B here) AND restricts scanning to the probed cells — the
memory×compute reduction that makes 10⁹-vector indexes fit a cluster.

Pipeline (all reused machinery):
1. coarse centroids per cell — `_centroids_fast` float partial sums
   (O(batches × K) shuffle rows, corpus never posexploded);
2. corpus → nearest cell (`assign_cells`, broadcast N×K, no shuffle);
3. RESIDUALS r = v − centroid(cell) (zip_with, map-only) — PQ on
   residuals beats PQ on raw vectors because residual energy is what's
   left after the coarse quantizer explains the cluster structure;
4. PQ codebook trained on residuals (`pq_train`, bounded Lloyd) and
   corpus encoded to (id, cell, sub_id, code) — N×m narrow rows, the
   only corpus-sized shuffle in the index build;
5. query side: per (query, probed cell) residual, a distance LOOKUP
   TABLE — ||q_res_sub − codebook[sub][code]||² for every (sub, code)
   — of |Q|·nprobe·m·ksub rows (thousands), broadcast;
6. ADC scan: equi-join codes ⋈ LUT on (cell, sub_id, code) — never a
   cross product — then groupBy(query, neighbor) sums exactly m
   partial distances (map-side combinable) and a per-query top-k ranks
   ascending ADC distance.

At 100 TB the scan cost per query is (N·nprobe/K) rows × m tiny
additions, the codes table is 32× smaller than the float corpus, and
every join is either broadcast or the (cell, sub_id, code) equi-join.

Float k-means + float LUT distances are not oracle-hashable — the
registry query is rows-only; pytest pins recall against
`topk_brute_force` on the same corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint
from .pq import _assign, _l2sq, _subvectors, pq_train
from .similarity import _centroids_fast, assign_cells


def _residuals(
    assigned: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell, rv): vector minus its cell's centroid (map-only;
    the K-row centroid checkpoint broadcast through ``broadcast_gate``)."""
    brd = broadcast_gate(assigned.sparkSession)
    return assigned.join(brd(cents), "cell").select(
        F.col(id_col),
        F.col("cell"),
        F.zip_with(
            F.col(vec_col),
            F.col("cvec"),
            lambda x, y: x.cast("double") - y,
        ).alias("rv"),
    )


def ivfpq_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVFADC index once: (cents, codebook, codes).

    The expensive part — coarse centroids, residual PQ training, and
    the N×m code table — is a PER-SNAPSHOT artifact in production
    (persist ``codes`` as a table, broadcast-sized ``cents``/
    ``codebook`` as small tables); every query batch then pays only
    the LUT + ADC scan in ``ivfpq_search``. Splitting build from
    search is what amortizes the bench-visible index cost to zero
    per-query at scale.

    Lifetimes: ``cents``, the codebook and the O(N) residual table are
    ``checkpoint``s that belong to the caller's ``checkpoint_scope``,
    and the returned lazy ``codes`` still reads all three — consume
    the index (search it, or materialize ``codes``) inside that scope,
    which then frees it. An owner that keeps the index past its build
    re-pins the three frames with plain ``localCheckpoint``s inside
    the build scope and releases them when the index is retired
    (``plans.llm_q._ivfpq_index`` / ``invalidate_ivfpq_index`` is the
    reference owner)."""
    dsub = dim // m
    assert dsub * m == dim, "dim must be divisible by m"
    cents = checkpoint(_centroids_fast(corpus, vec_col, cell_col, dim))
    corpus_cells = assign_cells(corpus, cents, id_col, vec_col, 1)
    # resid is a DERIVED pipeline (N×K assignment scoring + window +
    # centroid join) consumed by pq_train (which re-traverses its input
    # n_iter+1 times — its documented input contract says to
    # materialize derived inputs first) AND once more by the code
    # encoding below. Checkpoint it once: the assignment window runs
    # once instead of ~5x. One O(N) residual table pinned per build —
    # the per-snapshot artifact production would persist anyway (its
    # lifetime is the caller's scope).
    resid = checkpoint(_residuals(corpus_cells, cents, id_col, vec_col))
    # pq_train returns its final Lloyd-round checkpoint; the rename to
    # (sub_id, code, cvec) is a free projection over those pinned
    # blocks — re-checkpointing it would just pin a second copy
    codebook = pq_train(
        resid, id_col=id_col, vec_col="rv", m=m, ksub=ksub, n_iter=n_iter,
        dim=dim,
    )
    codebook_pub = codebook.select(
        "sub_id", F.col("cell").alias("code"), F.col("cvec")
    )
    # the cell label rides the subvector explosion and the argmin agg
    # (constant per vector), so encoding is one shuffle — the former
    # join-back against resid sort-merged two N×m/N-row sides purely
    # to re-attach it (the 2 SMJ in the r13 plan; guide §2.4)
    codes = _assign(
        _subvectors(
            resid.select(id_col, F.col("cell").alias("_ivf_cell"), "rv"),
            id_col, "rv", m, dsub, extra=("_ivf_cell",),
        ),
        codebook,  # already keyed (sub_id, cell, cvec)
        id_col,
        carry=("_ivf_cell",),
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_ivf_cell").alias("cell"),
        "sub_id",
        "code",
    )
    return cents, codebook_pub, codes


def ivfpq_search(
    index: tuple[DataFrame, DataFrame, DataFrame],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
) -> DataFrame:
    """ADC scan against a prebuilt index: (query_id, neighbor_id, rank)
    by ascending asymmetric PQ distance, ties on neighbor id."""
    cents, codebook, codes = index
    dsub = dim // m
    # -- query side -----------------------------------------------------
    qcells = assign_cells(queries, cents, id_col, vec_col, nprobe)
    qres = _residuals(qcells, cents, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cell", "rv"
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(F.col("rv"), s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    # the codebook (m×ksub rows) and the LUT (|Q|·nprobe·m·ksub rows)
    # are small BY CONSTRUCTION but stats-less checkpoint projections,
    # so the planner would sort-merge both joins — broadcast them
    # through the session's gate (guide §3.1)
    brd = broadcast_gate(queries.sparkSession)
    lut = brd(
        qres.select("query_id", "cell", F.inline(entries))
        .join(brd(codebook), "sub_id")
        .select(
            "query_id",
            "cell",
            "sub_id",
            "code",
            _l2sq(F.col("sv"), F.col("cvec")).alias("d"),
        )
    )

    # -- ADC scan -------------------------------------------------------
    adc = (
        codes.join(lut, ["cell", "sub_id", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivfpq_upsert(
    index: tuple[DataFrame, DataFrame, DataFrame],
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """Incremental IVFADC maintenance: encode ONLY the delta against
    the EXISTING coarse centroids and PQ codebook — O(delta) work, the
    stored codes table is never re-read. Returns the delta's
    (neighbor_id, cell, sub_id, code) rows; ``codes UNION delta`` is
    pointwise-identical to re-encoding the grown corpus with the same
    quantizers (encoding is a deterministic function of (vector,
    cents, codebook) — pinned in pytest), so ``ivfpq_search`` over the
    maintained table equals rebuild-with-same-quantizers exactly.
    Drift detection reuses ``similarity.ivf_distortion`` on the coarse
    assignment — the codes stay valid until the COARSE quantizer
    drifts, which is the expensive retrain this operator makes rare.
    """
    cents, codebook, _codes = index
    dsub = dim // m
    assert dsub * m == dim, "dim must be divisible by m"
    assigned = assign_cells(new_vecs, cents, id_col, vec_col, 1)
    resid = _residuals(assigned, cents, id_col, vec_col)
    # cell rides the explosion + argmin (constant per vector) — no
    # join-back against resid (same §2.4 rewrite as ivfpq_build)
    return _assign(
        _subvectors(
            resid.select(id_col, F.col("cell").alias("_ivf_cell"), "rv"),
            id_col, "rv", m, dsub, extra=("_ivf_cell",),
        ),
        codebook.select("sub_id", F.col("code").alias("cell"), "cvec"),
        id_col,
        carry=("_ivf_cell",),
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_ivf_cell").alias("cell"),
        "sub_id",
        "code",
    )


def topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 1,
) -> DataFrame:
    """One-shot convenience: build + search (tests and the registry
    query; production splits the two — see ``ivfpq_build``)."""
    index = ivfpq_build(
        corpus, id_col, vec_col, cell_col, dim, m, ksub, n_iter
    )
    return ivfpq_search(index, queries, id_col, vec_col, dim, k, nprobe, m)
