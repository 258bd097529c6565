"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale brief:

- **brute-force top-k** (the correctness baseline): query set X corpus
  with the corpus/query side broadcast when small; cosine via
  zip_with + aggregate — JVM-side higher-order functions, sequential
  left-fold, so bit-deterministic.
- **LSH-bucketed ANN** (the 100 TB path): random-hyperplane signatures
  from deterministic md5-derived planes; candidates = same-bucket rows,
  then exact re-rank within buckets. Probe-multiple-buckets for recall.
  The whole thing is two narrow projections + one equi-join — no
  cross product ever materializes.

At 1000 executors: corpus partitions hold their vectors; a small query
set broadcasts; per-partition top-k via window rank, then a single
coalesce of k*n_queries rows — the reduce side is tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.session import broadcast_gate, checkpoint


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    """(ids ndarray, row-normalized float64 matrix) from a vector DF."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype="int64")
    if len(rows) == 0:
        return ids, np.zeros((0, 0), dtype="float64")
    mat = np.stack([np.asarray(r[1], dtype="float64") for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


# Query-side driver-collect budget for brute-force top-k: 1M 64-dim
# float64 rows ≈ 512 MB hydrated — the edge of a sane driver heap.
# Past it the correct tool is a bucketed path (topk_lsh / topk_ivf /
# ivfpq), not a bigger driver.
MAX_BRUTE_FORCE_QUERY_ROWS = 1_000_000


def topk_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_query_rows: int = MAX_BRUTE_FORCE_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank), self excluded.

    Vectorized scatter-gather: the (small) normalized query matrix
    broadcasts; each Arrow batch of corpus rows runs one numpy matmul
    and emits its LOCAL top-k per query; a final window over k*batches
    rows picks the global top-k. The reduce side never sees more than
    k rows per query per batch — this is the shape that survives a
    1000-executor corpus. Ties broken by neighbor_id; rank 1 = most
    similar.

    The QUERY side collects to the driver (that is what makes the scan
    map-only over the corpus) — bounded by ``max_query_rows``: a larger
    query set raises with routing guidance instead of silently OOMing
    the driver. ``topk_lsh`` / ``topk_ivf`` / IVFADC are the unbounded
    paths (both sides stay distributed).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    # Budget enforcement WITHOUT a separate count() job (the r6 guard
    # cost one extra scan per call — a measured 2× on q_embedding_topk):
    # limit(max+1) caps what reaches the driver to the same bound, and
    # one extra row is proof of overflow.
    qids, qmat = _collect_matrix(
        queries.limit(max_query_rows + 1), id_col, vec_col
    )
    if len(qids) > max_query_rows:
        raise ValueError(
            f"topk_brute_force collects the query set to the driver and "
            f"got more than {max_query_rows} rows; use topk_lsh / "
            f"topk_ivf / ivfpq for query sets past the driver budget"
        )
    schema_empty = "query_id long, neighbor_id long, rank int"
    if len(qids) == 0:
        return spark.createDataFrame([], schema_empty)
    b = spark.sparkContext.broadcast((qids, qmat))

    def local_topk(batches):
        q_ids, q_mat = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            cm = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = q_mat @ cm.T  # nq x batch
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(q_ids):
                s = sims[qi]
                mask = c_ids != qid  # exclude self
                cand_ids, cand_s = c_ids[mask], s[mask]
                if len(cand_ids) == 0:
                    continue
                top = min(k, len(cand_ids))
                # partial select then exact order (sim desc, id asc)
                idx = np.argpartition(-cand_s, top - 1)[:top]
                out_q.extend([qid] * top)
                out_n.extend(cand_ids[idx].tolist())
                out_s.extend(cand_s[idx].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("sim", DoubleType()),
        ]
    )
    local = corpus.select(id_col, vec_col).mapInPandas(local_topk, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def hyperplane_signature(vec_col: Column, dim: int, n_planes: int = 16) -> Column:
    """Deterministic random-hyperplane LSH bucket id.

    Plane p's weight for component i is +1/-1 from a bit of
    md5(p||i) — reproducible everywhere, no RNG state. The sign
    pattern of <v, plane_p> over planes is the bucket.
    """
    import hashlib

    bits = []
    for p in range(n_planes):
        weights = []
        for i in range(dim):
            h = hashlib.md5(f"{p}|{i}".encode()).hexdigest()
            weights.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in weights]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """ANN top-k: bucket both sides by hyperplane signature, exact
    re-rank within buckets. Recall < 1 by construction (rows-only
    correctness check; the exact baseline is the oracle-checked one)."""
    sig = lambda df, name: df.select(  # noqa: E731
        F.col(id_col).alias(name),
        F.col(vec_col).alias(f"{name}_v"),
        hyperplane_signature(F.col(vec_col), dim, n_planes).alias(f"{name}_sig"),
    )
    c = sig(corpus, "neighbor_id")
    q = broadcast_gate(queries.sparkSession)(sig(queries, "query_id"))
    scored = (
        c.join(
            q,
            (F.col("neighbor_id_sig") == F.col("query_id_sig"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_id_v"), F.col("neighbor_id_v")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _centroids(
    corpus: DataFrame, vec_col: str, cell_col: str, dim: int
) -> DataFrame:
    """Per-cell mean vectors, engine-exact: each component rounds to 6
    decimals, sums as DECIMAL (order-free exact arithmetic), then one
    cast to double — the cross-engine float policy, so DuckDB rebuilds
    bit-identical centroids."""
    pos = F.posexplode(F.col(vec_col))
    comp = corpus.select(F.col(cell_col).alias("cell"), pos).select(
        "cell",
        F.col("pos"),
        F.round(F.col("col").cast("double"), 6).cast("decimal(16,6)").alias("v"),
    )
    per_dim = comp.groupBy("cell", "pos").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("cv")
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("cvec")
    )


def _centroids_fast(
    corpus: DataFrame, vec_col: str, cell_col: str, dim: int
) -> DataFrame:
    """Float-path per-cell mean vectors — the production twin of
    ``_centroids``.

    The DECIMAL path posexplodes every vector component (an N×D-row
    shuffle) purely so DuckDB can rebuild bit-identical centroids; at
    100 TB that is the heaviest shape in the repo. Here one Arrow
    mapInPandas pass emits per-(batch, cell) partial sums — at most
    K rows per batch — and a tiny groupBy folds them, so the shuffle
    carries O(batches × K) rows regardless of corpus size. Float sums
    are order-sensitive in the last bits, hence not oracle-hashable;
    pytest pins it to the exact path within 1e-9 per component.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_c, out_s, out_n = [], [], []
            for cell, g in pdf.groupby(cell_col):
                m = np.stack(g[vec_col].to_numpy()).astype("float64")
                out_c.append(cell)
                out_s.append(np.round(m, 6).sum(axis=0).tolist())
                out_n.append(len(g))
            yield pd.DataFrame({"cell": out_c, "psum": out_s, "n": out_n})

    parts = corpus.select(
        F.col(cell_col).cast("long").alias(cell_col), F.col(vec_col)
    ).mapInPandas(partials, "cell long, psum array<double>, n long")
    zero = F.array_repeat(F.lit(0.0), dim)
    folded = parts.groupBy("cell").agg(
        F.aggregate(
            F.collect_list("psum"),
            zero,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("sumvec"),
        F.sum("n").alias("n"),
    )
    return folded.select(
        "cell", F.transform("sumvec", lambda s: s / F.col("n")).alias("cvec")
    )


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-``nprobe`` centroid cells per vector (broadcast N x K).

    The centroid table is tiny (K rows) but a checkpoint or an
    aggregate Catalyst cannot size, so it broadcasts through
    ``broadcast_gate`` into a nested-loop scored join — the standard
    IVF assignment cost N*K with zero shuffle of the corpus. Ties break
    on cell id.
    """
    c = broadcast_gate(df.sparkSession)(centroids)
    scored = df.select(F.col(id_col), F.col(vec_col)).join(c).select(
        id_col,
        vec_col,
        "cell",
        cosine(F.col(vec_col), F.col("cvec")).alias("_csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("cell"))
    return (
        scored.withColumn("_crk", F.row_number().over(w))
        .filter(F.col("_crk") <= nprobe)
        .drop("_csim", "_crk")
    )


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
    k: int = 5,
    nprobe: int = 2,
    exact_centroids: bool = True,
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into centroid cells,
    probe each query's ``nprobe`` nearest cells, exact-rank inside.

    The inverted-file counterpart to ``topk_lsh``: search cost drops
    from N to ~N*nprobe/K per query, and the corpus join key is the
    cell id — an equi-join, never a cross product. Here the coarse
    quantizer trains as per-``cell_col`` means (deterministic; swap in
    k-means iterations at scale — the search path is identical).
    Recall < 1 only when a true neighbor hides in an unprobed cell;
    raising nprobe trades cost for recall exactly like IVF-PQ systems.

    ``exact_centroids=False`` trains centroids via float partial sums
    (``_centroids_fast``) — the production path: no N×D posexplode
    shuffle, at the cost of DuckDB-hashability of the training step.
    """
    builder = _centroids if exact_centroids else _centroids_fast
    # cents feeds TWO broadcast consumers (corpus assignment + the
    # query probe inside ivf_search); un-pinned, each re-runs the
    # centroid training pass over the corpus — for the exact builder
    # that is the N×D posexplode shuffle, the heaviest subtree here.
    # The result is K rows: pin it once (guide §2.4).
    cents = checkpoint(builder(corpus, vec_col, cell_col, dim))
    corpus_cells = assign_cells(corpus, cents, id_col, vec_col, 1)
    return ivf_search(
        cents, corpus_cells, queries, id_col, vec_col, k=k, nprobe=nprobe
    )


def ivf_search(
    cents: DataFrame,
    corpus_cells: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Search a MAINTAINED IVF state: ``cents`` (cell, cvec) and
    ``corpus_cells`` (id, vector, cell — the stored assignment table,
    e.g. ``assign_cells`` output unioned with ``ivf_upsert`` deltas).

    Split out of ``topk_ivf`` (which trains + assigns + searches in
    one shot) so a continuously-ingesting corpus pays only the query
    legs per search: probe assignment is broadcast K-row work, the
    probe cells (|Q|·nprobe rows, sized by the query batch) broadcast
    through ``broadcast_gate`` into the cell equi-join, and the corpus
    side is scanned there, never re-assigned.
    """
    corpus_side = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        "cell",
    )
    query_cells = broadcast_gate(queries.sparkSession)(
        assign_cells(queries, cents, id_col, vec_col, nprobe).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell"
        )
    )
    scored = corpus_side.join(query_cells, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_distortion(
    cents: DataFrame,
    assigned: DataFrame,
    vec_col: str = "embedding",
) -> float | None:
    """Mean angular distortion of an assignment: avg(1 - cosine(v,
    centroid(cell))) over ``assigned`` (id, vector, cell). One bounded
    agg (a scalar per call — a plan parameter, not a data collect);
    None for an empty frame. Store the build-time value and hand it to
    ``ivf_upsert`` as the drift baseline."""
    row = (
        assigned.join(broadcast_gate(assigned.sparkSession)(cents), "cell")
        .agg(
            F.avg(
                F.lit(1.0) - cosine(F.col(vec_col), F.col("cvec"))
            ).alias("d")
        )
        .first()
    )
    return None if row is None else row["d"]


def ivf_upsert(
    cents: DataFrame,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base_distortion: float | None = None,
    retrain_factor: float = 1.5,
) -> tuple[DataFrame, dict]:
    """Incremental IVF maintenance: assign ONLY the delta's vectors to
    the EXISTING centroids — O(delta·K) broadcast work, the corpus
    assignment table is never re-read or re-shuffled. The ANN
    counterpart of ``dedup.neardup_upsert`` (r12) and the same IVM
    shape as ``storage/ivm.py``: a continuously-ingesting corpus pays
    per batch for the batch, not the corpus.

    Returns ``(assigned, info)``: ``assigned`` is the delta's
    (id, vector, cell) rows — append them to the stored assignment
    table; ``corpus_cells UNION assigned`` is pointwise-identical to
    re-assigning the grown corpus against the same centroids (pinned
    in pytest), so ``ivf_search`` over the maintained state equals
    rebuild-then-search exactly.

    Drift guard: with ``base_distortion`` set (the build-time
    ``ivf_distortion`` of the training corpus), ``info`` carries the
    delta's distortion and ``retrain=True`` once it exceeds
    ``retrain_factor ×`` the baseline — the signal that the ingest
    distribution has drifted off the trained quantizer and recall is
    degrading (new mass far from every centroid), at which point the
    owner re-trains centroids and re-assigns (the one O(corpus) event
    this operator exists to make RARE). With ``base_distortion=None``
    the metrics agg is skipped entirely (zero extra jobs — the
    bench/registry path).
    """
    assigned = assign_cells(new_vecs, cents, id_col, vec_col, 1)
    info: dict = {}
    if base_distortion is not None:
        d = ivf_distortion(cents, assigned, vec_col)
        info["delta_distortion"] = d
        info["base_distortion"] = base_distortion
        info["retrain"] = bool(
            d is not None and d > retrain_factor * base_distortion
        )
    return assigned, info


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8-range scalar quantization (the standard ANN
    memory reduction: 4 bytes/dim -> 1): q_i = round((x_i - mn) /
    scale) in [0, 255] with per-vector (mn, scale) for dequantization.

    Pure column expressions — at 100 TB this is a map-only rewrite of
    the vector column, 4x smaller on disk and in shuffle. All math is
    float->double promotion (exact) and one ROUND on a non-negative
    quotient (HALF_UP in both Spark and DuckDB) — the quantized codes
    are engine-exact and oracle-checkable, unlike float dot products.
    """
    v = F.col(vec_col)
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    scale = (mx - mn) / F.lit(255.0)
    # constant vector (scale 0): every code is 0, dequantizes to mn
    qexpr = F.when(
        scale == 0.0,
        F.transform(v, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            v, lambda x: F.round((x.cast("double") - mn) / scale).cast("int")
        )
    )
    return df.select(
        F.col(id_col),
        qexpr.alias("qvec"),
        mn.alias("q_min"),
        scale.alias("q_scale"),
    )


def dequantize_expr(qvec, q_min, q_scale):
    """Column expression rebuilding the approximate float vector."""
    return F.transform(
        qvec, lambda q: (q.cast("double") * q_scale + q_min).cast("float")
    )


# Broadcast-scoring budget of ``_assign_coarse``: below this K the
# exact N×K scorer beats the LSH probe machinery's fixed costs
# (signature hashing, probe explode, per-vector ranking window, exact
# fallback); above it the expected N·(n_planes+1)·K/2^n_planes probe
# cost wins and keeps the K-driven quadratic term (SCALING.md r4:
# K∝n drove e=1.83 on exact assignment) out of the plan. With the
# default n_planes=8 the probe factor is ~9·K/256 ≈ K/28, so the
# crossover sits near K ≈ 28 × (fixed-cost ratio) — 128 is the
# conservative routing point; the K∝√N sizing rule crosses it around
# N ≈ 16k vectors.
AUTO_LSH_MIN_CELLS = 128


def _assign_coarse(
    df: DataFrame,
    centroids: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int,
    nprobe: int,
) -> DataFrame:
    """Nearest-``nprobe`` cells per vector against ``k`` centroids, by
    the scorer K calls for: the sub-N×K LSH probe scorer past
    ``AUTO_LSH_MIN_CELLS`` cells, the exact N×K broadcast scorer
    within it."""
    if k > AUTO_LSH_MIN_CELLS:
        return assign_cells_lsh(
            df, centroids, id_col, vec_col, dim=dim, nprobe=nprobe
        )
    return assign_cells(df, centroids, id_col, vec_col, nprobe)


def assign_cells_lsh(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    n_planes: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """ANN coarse assignment — the sub-N×K rung below ``assign_cells``.

    ``assign_cells`` scores every vector against every centroid (a
    broadcast N×K join): exact, but the measured quadratic term once K
    scales with the corpus (SCALING.md r4: K∝n drove e=1.83). Here
    candidate cells come from hyperplane-LSH bucket collisions instead:
    centroids hash to signature buckets once (K rows, broadcast);
    vectors emit their own signature plus every 1-bit flip
    (multi-probe, n_planes+1 probes, map-only) and exact-score ONLY the
    centroids sharing a probed bucket — expected cost
    N·(n_planes+1)·K/2^n_planes instead of N·K. Vectors whose probed
    buckets hold no centroid fall back to the exact scorer (left-anti
    + ``assign_cells``), so every vector IS assigned; the fallback
    fraction shrinks as n_planes is sized below log2(K).

    Assignment can differ from exact argmax when the true nearest
    centroid hides outside every probed bucket — same recall<1 contract
    as every LSH tier here; pytest pins the agreement rate on
    clustered data.
    """
    cent_sig = broadcast_gate(df.sparkSession)(
        centroids.select(
            "cell",
            "cvec",
            hyperplane_signature(F.col("cvec"), dim, n_planes).alias("_sig"),
        )
    )
    v = df.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_signature(F.col(vec_col), dim, n_planes).alias("_vsig"),
    )
    probes = F.array_distinct(
        F.array(
            F.col("_vsig"),
            *[
                F.col("_vsig").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
    )
    cand = (
        v.select(id_col, vec_col, F.explode(probes).alias("_sig"))
        .join(cent_sig, "_sig")
        .select(
            id_col,
            vec_col,
            "cell",
            cosine(F.col(vec_col), F.col("cvec")).alias("_cs"),
        )
        .dropDuplicates([id_col, "cell"])
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cs").desc(), F.col("cell"))
    ranked = cand.withColumn("_crk", F.row_number().over(w)).withColumn(
        "_ncand", F.count("*").over(Window.partitionBy(id_col))
    )
    # a vector with FEWER candidates than nprobe would get an
    # impoverished probe set (its true nprobe-nearest cells may sit in
    # unmatched buckets) — send it through the exact scorer instead;
    # the LSH path keeps only fully-provisioned vectors.
    assigned = (
        ranked.filter(
            (F.col("_crk") <= nprobe) & (F.col("_ncand") >= nprobe)
        )
        .drop("_cs", "_crk", "_ncand")
    )
    missing = df.select(id_col, vec_col).join(
        assigned.select(id_col).distinct(), id_col, "left_anti"
    )
    fallback = assign_cells(missing, centroids, id_col, vec_col, nprobe)
    return assigned.unionByName(fallback)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining — contrastive training's data op: for each
    query, the ``k`` MOST similar corpus vectors with a DIFFERENT
    label (the near-misses a contrastive loss learns the most from;
    cf. SimCLR/DPR hard-negative sampling).

    Scale shape: the query set broadcasts through ``broadcast_gate``
    (it is the per-batch anchor sample, small by construction, but a
    filter Catalyst sizes as its whole input, and the join has no
    equi key to shuffle on); scoring is one map-only pass over
    the corpus with the label-mismatch filter applied BEFORE the
    ranking window, which partitions by query — never a global sort.
    """
    q = broadcast_gate(queries.sparkSession)(queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlab"),
    ))
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nv"),
            F.col(label_col).alias("nlab"),
        )
        .join(
            q,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("qlab") != F.col("nlab")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware rerank stage that follows ANN recall:
    greedily select ``k`` of the ``pool`` most-relevant candidates,
    each pick maximizing

        lam * sim(q, d)  -  (1 - lam) * max_{s in selected} sim(d, s)

    so near-duplicate hits cannot crowd the result list (RAG context
    assembly, search-result diversification).

    Scale shape: relevance recall is the distributed part — one
    corpus-scale top-``pool`` scan (the exact scorer here; swap in the
    LSH/IVF/IVFADC paths for a bigger corpus). The greedy selection is
    inherently sequential and runs on the DRIVER over the pool matrix
    only — pool*dim floats (50*64 here), the same bounded-collect
    contract as ``topk_brute_force``'s query side; the corpus is never
    re-touched. Float argmax ordering -> rows-only registry entry;
    pinned against an independent pure-numpy replay in pytest.

    Returns (doc_id, mmr_rank) with mmr_rank 1..k in pick order.
    """
    import numpy as np

    spark = corpus.sparkSession
    qids, qmat = _collect_matrix(query, id_col, vec_col)
    if len(qids) != 1:
        # A multi-row query would mix every query's recall pool into one
        # candidate list while relevance scored against the first query
        # only — wrong picks, silently. Match topk_brute_force's
        # explicit-contract style: route per-query instead.
        raise ValueError(
            f"mmr_rerank reranks ONE query vector and got {len(qids)} "
            f"query rows; call it per query (loop / applyInPandas over "
            f"query_id), with topk_brute_force or an ANN path for the "
            f"batch recall stage"
        )
    cand = topk_brute_force(
        corpus, query, id_col=id_col, vec_col=vec_col, k=pool
    )
    pool_df = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col)
            ),
            "neighbor_id",
        )
        .select("neighbor_id", "rank", vec_col)
    )
    rows = pool_df.collect()  # bounded: <= pool rows by construction
    if not rows:
        return spark.createDataFrame([], "doc_id long, mmr_rank int")
    rows.sort(key=lambda r: r["rank"])
    ids = np.array([r["neighbor_id"] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype="float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rel = qmat[0] @ mat.T  # relevance to the (single, enforced) query
    inter = mat @ mat.T  # candidate-candidate similarity
    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < k:
        if selected:
            redundancy = inter[np.ix_(remaining, selected)].max(axis=1)
        else:
            redundancy = np.zeros(len(remaining))
        scores = lam * rel[remaining] - (1.0 - lam) * redundancy
        # ties broken by candidate id for determinism
        best = min(
            range(len(remaining)),
            key=lambda i: (-scores[i], ids[remaining[i]]),
        )
        selected.append(remaining.pop(best))
    out = [(int(ids[i]), r + 1) for r, i in enumerate(selected)]
    return spark.createDataFrame(out, "doc_id long, mmr_rank int")
