"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH, SimHash.

LLM-training-data dedup at 100 TB is join-geometry engineering:

- **exact**: one hash-groupBy on a content fingerprint. Single shuffle,
  map-side combine; survivor = min(id).
- **n-gram Jaccard**: pairwise — needs blocking to stay sub-quadratic.
  ``jaccard_pairs`` takes a blocking column (lang, length bucket, LSH
  band, ...); pairs only form within a block.
- **MinHash+LSH**: the scale path. Signatures are per-row (narrow);
  banding turns near-dup search into an equi-join on (band_idx,
  band_hash) — Spark shuffles both sides by band key, candidate pairs
  emerge co-partitioned. No O(n^2) anywhere; skewed bands (common
  shingles) are handled by AQE skew-join splitting.
- **SimHash**: per-row signature (60 effective bits); hamming-radius
  candidates via band rotation over bits 0..59.

Hash functions are md5-based on purpose: md5 is identical in Spark and
DuckDB, so signatures (and therefore the whole pipeline) are
oracle-checkable cross-engine. String min over hex = numeric min over
the underlying 128-bit value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint, release_local_checkpoint
from .text import fingerprint, tokens


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) docs.

    Returns (fingerprint, survivor_id, n_dups) with n_dups >= 1; keep
    survivor_id per group to dedup.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_docs"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-grams from a pre-computed token array.

    Built as zip_with over n shifted slices — measured ~3x faster than
    the index-transform + element_at form (HOFs are interpreted, and
    slice+zip touches each token once instead of per-index lookups).
    """
    if n == 1:
        return F.array_distinct(toks)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(acc)


def word_shingles(text_col: str, n: int = 2) -> Column:
    """Distinct word n-gram shingles as an array column (pure SQL fns)."""
    return shingles_from_tokens(tokens(text_col), n)


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, out_col: str = "_sh"
) -> DataFrame:
    """Two-projection shingle computation: tokens land in their own
    projection so the shingle expression references them once —
    Catalyst would otherwise re-derive the token array per reference
    inside the combined expression (measured 9x slowdown)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        id_col, shingles_from_tokens(F.col("_toks"), n).alias(out_col)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 2,
    threshold: float = 0.5,
    length_blocked: bool = False,
) -> DataFrame:
    """Pairwise n-gram Jaccard within blocks; pairs above threshold.

    Blocking (pick one; without either this is an O(n^2) pair join —
    fine for a didactic run, never for a corpus):

    - ``block_col``: caller-supplied equi-block (lang, LSH band, ...).
    - ``length_blocked=True``: shingle-count log2 buckets with
      adjacent-bucket probing. **Provably lossless for threshold >=
      0.5**: j = |A∩B|/|A∪B| <= min(|A|,|B|)/max(|A|,|B|), so j > 0.5
      forces the set sizes within a factor of 2, which pins the pair
      to the same or adjacent floor(log2) bucket. The all-pairs join
      becomes a bucketed equi-join (B side replicated to blk-1..blk+1,
      each qualifying pair matched exactly once).

    Output: (id_a, id_b, n_shingles_a, n_shingles_b, n_common, jaccard)
    — all integer-derived, so exactly reproducible in any engine.
    """
    toked = df.select(
        F.col(id_col).alias("_id"),
        *( [F.col(block_col).alias("_block")] if block_col else [] ),
        tokens(text_col).alias("_toks"),
    )
    sh = toked.select(
        *(["_block"] if block_col else []),
        F.col("_id"),
        shingles_from_tokens(F.col("_toks"), n).alias("_sh"),
    )
    if length_blocked and block_col is None:
        sh = sh.withColumn(
            "_block",
            F.floor(F.log2(F.greatest(F.size("_sh"), F.lit(1)))).cast("int"),
        )
    elif block_col is None:
        sh = sh.withColumn("_block", F.lit(1))
    a = sh.select(
        F.col("_id").alias("id_a"), F.col("_block"), F.col("_sh").alias("sh_a")
    )
    if length_blocked and block_col is None:
        # replicate the B side to its bucket +/- 1; the A side stays at
        # its own bucket, so a cross-bucket pair matches exactly once
        b = sh.select(
            F.col("_id").alias("id_b"),
            F.explode(
                F.array(F.col("_block") - 1, F.col("_block"), F.col("_block") + 1)
            ).alias("_block_b"),
            F.col("_sh").alias("sh_b"),
        )
    else:
        b = sh.select(
            F.col("_id").alias("id_b"), F.col("_block").alias("_block_b"),
            F.col("_sh").alias("sh_b"),
        )
    pairs = a.join(
        b, (F.col("_block") == F.col("_block_b")) & (F.col("id_a") < F.col("id_b"))
    )
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    n_a = F.size(F.col("sh_a"))
    n_b = F.size(F.col("sh_b"))
    jac = F.try_divide(n_common.cast("double"), (n_a + n_b - n_common))
    return (
        pairs.select(
            "id_a",
            "id_b",
            n_a.alias("n_shingles_a"),
            n_b.alias("n_shingles_b"),
            n_common.alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.7,
) -> DataFrame:
    """Directed shingle-containment pairs: C(A→B) = |A∩B| / |A| >
    ``threshold`` — the quote / excerpt / subset-duplicate detector.
    Jaccard misses a short document embedded in a long one (the union
    dwarfs the intersection); containment is the asymmetric measure
    that catches it (Broder 1997's "resemblance and containment").

    Candidate generation is PREFIX FILTERING (SSJoin, Chaudhuri et al.
    2006): order each doc's shingles by ascending global document
    frequency and take the first floor((1-t)*|A|)+1 as its prefix —
    if C(A→B) > t then |A\\B| < (1-t)*|A|, so at least one prefix
    shingle of A must appear in B (lossless). Candidates are then a
    shingle equi-join of A-prefixes against the full inverted index,
    and the exact verify runs once per surviving pair.

    100 TB shape: one groupBy for document frequencies; the prefix cut
    keeps the join's probe side to the ~(1-t) RAREST shingles per doc,
    so postings hit are the short tails, not the hot head; verify is
    per-candidate map-side array math. No all-pairs anywhere.

    Output: (id_a, id_b, n_shingles_a, n_shingles_b, n_common,
    containment) for ordered pairs id_a != id_b — all integer-derived
    except the final division, identical IEEE in any engine.
    """
    from pyspark.sql.window import Window

    # localCheckpoint both shared frames: sh feeds the prefix sizing
    # AND both join legs, ex feeds the doc frequencies AND the ranked
    # probe — ReuseExchange does not fire across the branches (the
    # q11/triangle lesson), so without the checkpoints one run
    # re-tokenizes and re-shingles the corpus ~5 times.
    sh = (
        with_shingles(df, id_col, text_col, n)
        .filter(F.size("_sh") > 0)
        .transform(checkpoint)
    )
    ex = (
        sh.select(F.col(id_col).alias("_id"), F.explode("_sh").alias("g"))
        .transform(checkpoint)
    )
    dfreq = ex.groupBy("g").agg(F.count("*").alias("_df"))
    # Lossless prefix bound: the verify filter is fl(k/m) > t (float
    # division of integer overlap k by integer size m), and no double
    # exists strictly between k/m and fl(k/m), so k passes verify only
    # if k/m > t exactly, i.e. k > t*m, i.e. |A\B| = m - k < (1-t)*m.
    # A prefix of floor((1-t)*m)+1 rarest shingles therefore always
    # intersects any verifying B — even when fl((1-t)*m) rounds, the +1
    # absorbs at most one ulp of overshoot only when (1-t)*m is NOT an
    # integer boundary the strict inequality already clears. The
    # m - floor(t*m) variant tried in r8 is NOT lossless (exhaustive
    # m<=500 ulp-adjacent-threshold search: 9846 lossy (m,t) pairs vs
    # ZERO for this form) and is never shorter, so this form is both
    # safe and tight.
    prefix_len = (
        F.floor(F.lit(1.0 - threshold) * F.size("_sh")).cast("int")
        + F.lit(1)
    )
    sized = sh.select(
        F.col(id_col).alias("_id"), "_sh", prefix_len.alias("_plen")
    )
    ranked = (
        ex.join(dfreq, "g")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("g"))
            ),
        )
    )
    prefix = (
        ranked.join(sized.select("_id", "_plen"), "_id")
        .filter(F.col("_rn") <= F.col("_plen"))
        .select(F.col("_id").alias("id_a"), "g")
    )
    cand = (
        prefix.join(ex.select(F.col("_id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    n_a = F.size(F.col("sh_a"))
    n_b = F.size(F.col("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_a.alias("n_shingles_a"),
            n_b.alias("n_shingles_b"),
            n_common.alias("n_common"),
            (n_common.cast("double") / n_a).alias("containment"),
        )
        .filter(F.col("containment") > threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_n: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature: sig_j = min over shingles of
    hash(j || shingle). Narrow per-row compute, no shuffle.

    ``hash_fn``: "md5" (default) yields hex-string signatures identical
    in Spark and DuckDB — the oracle-checkable family. "xxhash64"
    yields long signatures from Spark's native codegen'd hash —
    measured 6x faster end-to-end on a 50k-doc corpus (md5 dominates
    the whole pipeline's CPU) with statistically identical recall; use
    it in production, md5 when cross-engine reproducibility matters.
    """
    # Explode + groupBy-min rather than 8 array_min(transform(...)) in one
    # projection: Catalyst has no CSE across lambda expressions, so the
    # projection form re-derives the shingle array per signature column
    # (measured 8x+ slowdown). The explode form computes each shingle
    # once, hashes it n_hashes times, and min-combines map-side — one
    # shuffle on the doc id, linear work, and it scales out with data.
    exploded = with_shingles(df, id_col, text_col, shingle_n).select(
        F.col(id_col), F.explode_outer(F.col("_sh")).alias("_sh")
    )
    if hash_fn == "xxhash64":
        hashes = [
            F.xxhash64(F.lit(j), F.col("_sh")).alias(f"_h{j}")
            for j in range(n_hashes)
        ]
    else:
        hashes = [
            F.md5(F.concat(F.lit(f"{j}|"), F.col("_sh"))).alias(f"_h{j}")
            for j in range(n_hashes)
        ]
    hashed = exploded.select(id_col, *hashes)
    return hashed.groupBy(id_col).agg(
        *[F.min(f"_h{j}").alias(f"sig_{j}") for j in range(n_hashes)]
    )


def lsh_band_index(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Exploded LSH band table: one row per (doc, band) with columns
    ``(id_col, band_idx, band_hash)``.

    This IS the incremental near-dup state: a warehouse materializes it
    once per corpus and appends the delta's rows on every ingest batch
    (see ``neardup_upsert``) — candidate generation for new docs is
    then an equi-join against this table, O(new + collisions), never a
    re-scan of the corpus. Narrow map-only compute (n_bands rows per
    doc), no shuffle.
    """
    # shingle-less docs have NULL signatures; concat_ws would collapse
    # them all to md5('') — one giant false bucket — so they exit here
    # (an empty doc has no near-duplicates by definition)
    signatures = signatures.filter(F.col("sig_0").isNotNull())
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{b * band_size + k}") for k in range(band_size)]
        if hash_fn == "xxhash64":
            band_hash = F.xxhash64(*cols).cast("string")
        else:
            band_hash = F.md5(F.concat_ws("|", *cols))
        bands.append(
            F.struct(F.lit(b).alias("band_idx"), band_hash.alias("band_hash"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Band the signature, equi-join on (band_idx, band_hash).

    Docs sharing ANY band collide; output distinct candidate (id_a,
    id_b) pairs. This is the shuffle-geometry heart of LSH dedup: the
    only join key is the band hash, so Spark never forms cross products
    beyond genuine collision buckets.
    """
    exploded = lsh_band_index(signatures, id_col, n_hashes, band_size, hash_fn)
    a = exploded.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_hash") == F.col("band_hash_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def simhash64(text_col: str, shingle_n: int = 1) -> Column:
    """SimHash signature (60 effective bits) as pure SQL expressions.

    For each of 60 bit positions, sum +/-1 weighted by the bit of the
    shingle's hash; the sign of the sum is the signature bit. 60 (not
    64) because conv(hex,16,10) of 15 hex chars is the widest slice
    that stays inside a signed long — consumers banding the signature
    must band over bits 0..59 (bits 60-63 are always 0).
    """
    sh = word_shingles(text_col, shingle_n)
    # per-shingle 60-bit value from the first 15 hex chars of md5
    hashed = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    def voter(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bit_exprs = []
    for bit in range(60):
        votes = F.aggregate(hashed, F.lit(0), voter(1 << bit))
        bit_exprs.append(F.when(votes > 0, F.lit(1 << bit)).otherwise(F.lit(0)))
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out + e
    return out.cast("long")


def neardup_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    threshold: float = 0.5,
    signatures: DataFrame | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """The production near-dup pipeline: MinHash -> LSH candidates ->
    exact Jaccard verification. Never forms the O(n^2) cross product;
    recall is the LSH collision probability 1-(1-j^r)^b (documented
    trade-off — raise n_hashes/bands for higher recall).

    Output: (id_a, id_b, n_shingles_a, n_shingles_b, n_common) for
    verified pairs — all integers, exactly engine-portable.

    ``signatures``: a previously materialized ``minhash_signatures``
    table (columns ``id_col, sig_0..sig_{n-1}``). A warehouse run
    computes signatures once per corpus snapshot and feeds them to
    every subsequent dedup pass instead of re-hashing 100 TB of text;
    must have been built with the same n_hashes/shingle_n/hash_fn or
    the banding math silently changes recall.

    ``hash_fn="xxhash64"`` switches the signature family to Spark's
    native hash — measured 6x faster end-to-end at 50k docs, same
    recall statistically; md5 (default) keeps the DuckDB oracle exact.
    The verification stage is hash-free either way, so verified pairs
    differ only where LSH collision luck differs.
    """
    # shingles are derived twice (here and inside minhash_signatures);
    # measured: caching the shingle DF is SLOWER locally (array
    # serialization dominates). At warehouse scale, pass ``signatures``.
    sh = with_shingles(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("_id"), F.col("_sh")
    )
    # internally-computed signatures feed both sides of the LSH band
    # self-join, so the signature aggregation executes twice. Measured
    # negative result (r13 interleaved A/B at sf0.1): eagerly
    # localCheckpoint-ing sigs to run it once was ~8% SLOWER on both
    # hash families (md5 4.21 -> 4.54 s, xxhash64 2.45 -> 2.67 s
    # medians) — the checkpoint barrier + block write costs more than
    # the saved pass at this scale. At warehouse scale the answer is
    # the ``signatures=`` parameter (a materialized signature table),
    # not an in-plan pin.
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, n_hashes, shingle_n, hash_fn)
    )
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, band_size, hash_fn)
    joined = (
        cands.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    n_a = F.size(F.col("sh_a"))
    n_b = F.size(F.col("sh_b"))
    # try_divide: a pair of empty-shingle docs has union 0 (ANSI would
    # raise); NULL jaccard fails the threshold and drops out
    jac = F.try_divide(n_common.cast("double"), (n_a + n_b - n_common))
    return joined.select(
        "id_a",
        "id_b",
        n_a.alias("n_shingles_a"),
        n_b.alias("n_shingles_b"),
        n_common.alias("n_common"),
    ).where(jac > threshold)


def neardup_upsert(
    base_index: DataFrame,
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: new docs against a MATERIALIZED LSH band
    index, O(new), never O(corpus).

    The batch pipeline (``neardup_verified_pairs``) re-hashes the whole
    corpus per run; a continuously-ingesting warehouse instead stores
    the exploded band table (``lsh_band_index``) once and, per ingest
    batch, (1) bands only the delta, (2) equi-joins the delta's bands
    against the stored index for new-vs-base candidates plus a delta
    self-join for new-vs-new, (3) exact-Jaccard-verifies against only
    the TOUCHED base docs (a semi-join point-lookup into the corpus —
    pushdown-prunable on a clustered/bucketed table), and (4) appends
    the delta's band rows to the index. The same incremental-view
    pattern as storage/ivm.py, applied to near-dup state.

    Relation to signature reuse (``neardup_verified_pairs`` with a
    persisted ``signatures=`` table, query-level twin
    ``q_incremental_neardup``): that pattern skips only the RE-HASH —
    its banding self-join still runs over every corpus signature per
    batch, O(corpus) shuffle. Here candidates come from probing the
    stored index with the delta's bands, O(delta) shuffle; the corpus
    is scanned, never shuffled.

    Returns ``(verified_pairs, delta_band_rows)``: pairs in the batch
    contract ``(id_a, id_b, n_shingles_a, n_shingles_b, n_common)``
    with ``id_a < id_b`` — exactly the batch run's pairs that touch at
    least one new doc (equivalence pinned in pytest) — and the band
    rows to append so ``base_index UNION delta_band_rows`` serves the
    next batch.

    Contract: new doc ids are NEW (an id replacing an existing doc
    must be deleted from the index first); ``base_index`` must have
    been built with the same n_hashes/band_size/hash_fn (same warning
    as the ``signatures`` param of ``neardup_verified_pairs``) — a
    mismatch silently changes recall.

    Scale: the delta's band rows broadcast to the index join (the delta
    is O(batch) by contract), so the stored index is scanned but never
    SHUFFLED — per-batch cost is O(new bands + collision buckets +
    touched docs), flat in corpus size (measured flat on the stress
    ladder). Both broadcasts go through ``broadcast_gate``: a giant
    backfill that must not broadcast runs in a session with broadcasts
    disabled, and the planner picks the join sides.

    Three intermediates every later stage re-references are eagerly
    ``checkpoint``-ed: the delta's band rows (referenced by the index
    probe, the delta self-join twice, and the returned append frame),
    the candidate pair set (referenced by the verify join and by the
    touched-docs semi-join under BOTH shingle legs), and the
    touched-docs shingle table (referenced once per pair side).
    Catalyst recomputes a referenced DataFrame per reference, so
    without them the lazy plan scans the inputs ~48x and re-runs the
    base-index subtree ~12x (measured at sf0.1: 48 parquet scans of
    the documents table). All three are O(delta)/O(touched) — KBs to
    a few MB per ingest batch, never O(corpus) — and the returned
    frames read them, so their lifetime is the caller's
    ``checkpoint_scope`` (the streaming face opens one per batch).
    """
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, n_hashes, shingle_n, hash_fn
    )
    delta_bands = checkpoint(
        lsh_band_index(new_sigs, id_col, n_hashes, band_size, hash_fn)
    )
    brd = broadcast_gate(new_docs.sparkSession)
    nb = brd(delta_bands)

    # new-vs-base: delta bands probe the stored index
    base_side = base_index.select(
        F.col(id_col).alias("_idx_id"),
        F.col("band_idx").alias("_bi"),
        F.col("band_hash").alias("_bh"),
    )
    # the id inequality is a no-op under the new-ids contract but makes
    # a REPLAYED batch harmless (streaming foreachBatch redelivery: the
    # delta's own bands are already in the index — without the guard
    # each doc would pair with itself)
    nv_base = nb.join(
        base_side,
        (F.col("band_idx") == F.col("_bi"))
        & (F.col("band_hash") == F.col("_bh"))
        & (F.col(id_col) != F.col("_idx_id")),
    ).select(
        F.least(F.col(id_col), F.col("_idx_id")).alias("id_a"),
        F.greatest(F.col(id_col), F.col("_idx_id")).alias("id_b"),
    )
    # new-vs-new: self-join within the delta (both sides tiny)
    a = delta_bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = delta_bands.select(
        F.col(id_col).alias("id_b"),
        F.col("band_idx").alias("_bi"),
        F.col("band_hash").alias("_bh"),
    )
    nv_new = a.join(
        b,
        (F.col("band_idx") == F.col("_bi"))
        & (F.col("band_hash") == F.col("_bh"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b")
    cands = checkpoint(nv_base.union(nv_new).distinct())

    # exact-Jaccard verify against only the docs the candidates touch:
    # the semi-join keeps the corpus read O(touched), and on a real
    # id-clustered table prunes to the touched files. cand_ids is
    # O(collision buckets) — broadcast it (same size contract and gate
    # as the delta bands) so the corpus side of the semi-join is
    # scanned map-side, never shuffled+sorted.
    cand_ids = brd(
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    touched_base = base_docs.join(cand_ids, id_col, "left_semi")
    verify_docs = new_docs.select(id_col, text_col).unionByName(
        touched_base.select(id_col, text_col)
    )
    sh = checkpoint(
        with_shingles(verify_docs, id_col, text_col, shingle_n).select(
            F.col(id_col).alias("_id"), F.col("_sh")
        )
    )
    joined = cands.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    n_a = F.size(F.col("sh_a"))
    n_b = F.size(F.col("sh_b"))
    jac = F.try_divide(n_common.cast("double"), (n_a + n_b - n_common))
    verified = joined.select(
        "id_a",
        "id_b",
        n_a.alias("n_shingles_a"),
        n_b.alias("n_shingles_b"),
        n_common.alias("n_common"),
    ).where(jac > threshold)
    return verified, delta_bands


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via a block-tiled pair grid.

    All-pairs cosine is inherently O(n^2) *compute*; the scale question
    is memory/shuffle geometry. Rows hash into ``n_blocks`` blocks; each
    unordered block pair (bi <= bj) is one tile, executed as one
    applyInPandas group running a single numpy matmul over the tile's
    two row sets. A pair (x, y) lands in exactly one tile
    (min(block), max(block)) so no dedup pass is needed.

    Nothing is ever collected to the driver: each row is replicated to
    its ~n_blocks tiles (shuffle volume N*B rows), and a tile holds
    ~2N/B vectors — pick B so a tile fits one executor's memory. At
    100 TB: B scales with sqrt(corpus) to hold tile size constant; the
    pair-grid shuffle is the whole cost, and skewed blocks cannot form
    (hash blocking, uniform by construction).

    Compute, however, stays O(n^2) no matter the tiling — this is the
    oracle-exact twin. The production path is
    ``embedding_neardup_pairs_clustered`` (SemDeDup-style: compare only
    within coarse cells, O(n^2/K)).
    """
    blocked = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return _tiled_pair_grid(blocked, [], threshold, n_blocks)


def _tiled_pair_grid(
    blocked: DataFrame,
    group_cols: list[str],
    threshold: float,
    n_blocks: int,
) -> DataFrame:
    """Block-tiled cosine pair kernel over ``(_id, _v [, *group_cols])``
    rows. With ``group_cols`` empty this is the full all-pairs grid;
    with a cell column it runs one independent grid PER cell — the
    clustered (SemDeDup) execution shape. Pair (x, y) lands in exactly
    one tile of any one grid; cross-grid duplicates (a pair probing two
    shared cells) are the caller's to ``distinct()``."""
    import numpy as np
    import pandas as pd

    B = max(1, n_blocks)
    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(B)).cast("int")
    blocked = blocked.withColumn("_blk", blk)
    # tiles where this row is the A side: (blk, j) for j in [blk, B-1];
    # plus tiles where it is the B side: (i, blk) for i in [0, blk-1]
    # (sequence() counts DOWN when end < start, so guard blk == 0).
    a_tiles = F.transform(
        F.sequence(F.col("_blk"), F.lit(B - 1)),
        lambda j: F.struct(F.col("_blk").alias("bi"), j.alias("bj")),
    )
    b_tiles = F.when(F.col("_blk") > 0, F.transform(
        F.sequence(F.lit(0), F.col("_blk") - 1),
        lambda i: F.struct(i.alias("bi"), F.col("_blk").alias("bj")),
    )).otherwise(F.array().cast("array<struct<bi:int,bj:int>>"))
    tiled = blocked.select(
        *group_cols, "_id", "_v", "_blk",
        F.explode(F.concat(a_tiles, b_tiles)).alias("_tile"),
    ).select(*group_cols, "_id", "_v", "_blk", "_tile.bi", "_tile.bj")

    def tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        side_a = pdf[pdf["_blk"] == bi]
        side_b = pdf[pdf["_blk"] == bj] if bi != bj else side_a
        if len(side_a) == 0 or len(side_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids_a = side_a["_id"].to_numpy()
        ids_b = side_b["_id"].to_numpy()
        ma = np.stack(side_a["_v"].to_numpy()).astype("float64")
        mb = np.stack(side_b["_v"].to_numpy()).astype("float64")
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        if bi == bj:
            # same set on both sides: keep the strict upper triangle so
            # each unordered pair is emitted exactly once
            hit = (sims > threshold) & (ids_a[:, None] < ids_b[None, :])
            lo = np.broadcast_to(ids_a[:, None], sims.shape)
            hi = np.broadcast_to(ids_b[None, :], sims.shape)
        else:
            # disjoint blocks: every (a, b) appears once; canonicalize
            lo = np.minimum(ids_a[:, None], ids_b[None, :])
            hi = np.maximum(ids_a[:, None], ids_b[None, :])
            hit = sims > threshold
        return pd.DataFrame({"id_a": lo[hit], "id_b": hi[hit]})

    return (
        tiled.groupBy(*group_cols, "bi", "bj")
        .applyInPandas(tile_pairs, "id_a long, id_b long")
    )


def embedding_neardup_pairs_clustered(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    cell_col: str | None = None,
    n_cells: int = 32,
    nprobe: int = 6,
    n_iter: int = 2,
    dim: int = 64,
    n_blocks: int = 2,
) -> DataFrame:
    """Cluster-blocked embedding near-dup pairs — SemDeDup as published
    (Abbas et al. 2023): coarse-cluster first, compare only WITHIN
    cells. Turns the all-pairs grid's O(n^2) compute into O(n^2/K)
    with K growing with the corpus, which is what survives 100 TB.

    Coarse quantizer: per-``cell_col`` float centroids when a category
    column exists (the IVF precedent in ``similarity.topk_ivf``), else
    ``n_iter`` deterministic Lloyd rounds from hash-seeded vectors —
    every step is the repo's own IVF machinery (``_centroids_fast``
    partial sums + ``assign_cells`` broadcast scoring, or the sub-N×K
    ``assign_cells_lsh`` past ``similarity.AUTO_LSH_MIN_CELLS`` cells),
    no new shuffle shapes. Vectors probe their ``nprobe`` nearest cells
    so boundary pairs split across two cells are still compared; a pair
    probing two SHARED cells dedups via ``distinct()`` on the
    (cell-grid) output.

    Recall < 1 by design (a true pair can hide in two unprobed-in-
    common cells) — the all-pairs grid stays as the oracle-exact twin
    and pytest pins recall against it. Tuning: recall tracks nprobe/K
    scaled by how far below 1.0 the threshold sits. At SemDeDup's real
    operating point (cosine >= ~0.9) duplicates are intra-cell and
    nprobe stays small as K grows with the corpus (compute ~
    nprobe^2/K of all-pairs); at loose thresholds like the 0.4 the
    synthetic battery uses, pairs straddle cells and nprobe must rise
    with K — defaults (K=32, nprobe=6, 2 Lloyd rounds) hold recall
    >= 0.95 at sf0.1, pinned in tests.
    """
    from .similarity import _assign_coarse, _centroids_fast

    if cell_col is not None:
        cents = _centroids_fast(
            df.select(F.col(cell_col).alias("cell"), F.col(vec_col)),
            vec_col, "cell", dim,
        )
        # K unknown until the category centroids materialize — the
        # centroid frame is tiny (one row per category), so the count
        # is a cheap job, paid once per call
        cents = checkpoint(cents)
        k = cents.count()
    else:
        # the shared Lloyd trainer (one copy of the seeding/update rule
        # — `operators/kmeans`, also used by pq_train)
        from .kmeans import kmeans_train

        cents = kmeans_train(
            df, id_col=id_col, vec_col=vec_col, k=n_cells, n_iter=n_iter,
            dim=dim,
        )
        k = n_cells
    # exact N×K scoring up to AUTO_LSH_MIN_CELLS cells, the sub-N×K LSH
    # probe scorer past it (SCALING.md r4: exact assignment is the
    # quadratic term once K scales with n)
    probed = _assign_coarse(df, cents, k, id_col, vec_col, dim, nprobe)
    blocked = probed.select(
        F.col("cell"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    return _tiled_pair_grid(blocked, ["cell"], threshold, n_blocks).distinct()


# min-label propagation rounds (the seed included) before a graph counts
# as deep and the star engine finishes it
PROPAGATION_ROUNDS = 8


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components: (id, component) per vertex, component =
    the min id reachable from it, converged at any graph depth.

    ``edges`` is an undirected pair list (id_a, id_b); ``vertices``
    supplies every node (singletons keep their own id as component).
    Endpoints absent from ``vertices`` still relay messages (they are
    dropped only from the output), so callers must pass
    vertices ⊇ endpoints for strict subgraph semantics — every caller
    in this repo does.

    The engine is picked by behavior, not by the caller: min-label
    propagation runs for ``PROPAGATION_ROUNDS`` rounds, and a graph
    that has not reached a fixpoint by then is finished by
    ``connected_components_star``. Propagation converges in
    graph-diameter rounds; near-dup collision graphs are shallow by
    construction (pairs already had to collide in LSH bands — 3-4
    rounds on the sf0.1 corpus, where it beats star ~1.2 s vs ~1.9 s),
    so the common case never leaves it. No cheap ex-ante statistic
    separates the regimes — mean degree confuses isolated pairs
    (shallow) with long chains (deep), and diameter is exactly what
    cannot be afforded — but a propagation run that exhausts its
    budget has itself proven the graph deep, and the O(log n) star
    engine's converged labels are identical (pytest-pinned). The star
    engine reads the propagation's own checkpointed edge set, so the
    shallow path pays nothing for the fallback and the deep path pays
    only the budget's cheap rounds.

    Per propagation round: one join + one groupBy-min, both on the
    vertex key — no driver-side state beyond the single changed?
    probe (the GraphX/Pregel message flow). Two structural economies
    (r10, the curation-capstone stage-4 fix):

    - the iterated label frame holds EDGE ENDPOINTS only, not every
      vertex — a near-dup corpus is overwhelmingly singletons, which
      need no propagation and would otherwise be shuffled, left-joined
      and re-materialized every round; they rejoin once at the end
      with their own id (at 100 TB this shrinks the per-round state
      from O(|V|) to O(|endpoints|));
    - the first propagation round is FUSED into the edge pass as the
      label seed: round 1 of min-label propagation from identity
      labels is exactly min(self ∪ neighbors), one map-side-combinable
      groupBy over the symmetrized edges, no join.
    """
    sym = _symmetrized(edges)
    labels, converged = _min_label_propagation(sym, PROPAGATION_ROUNDS)
    if converged:
        verts = vertices.select(F.col(id_col).alias("v")).distinct()
        out = verts.join(labels, "v", "left").select(
            F.col("v").alias(id_col),
            F.coalesce("lbl", F.col("v")).alias("component"),
        )
    else:
        release_local_checkpoint(labels, allow_projection=True)  # partial labels: garbage
        # each undirected edge once; star materializes its own
        # normalized copy at entry, and its result reads its final
        # checkpoint
        out = connected_components_star(
            sym.where(F.col("v") < F.col("u")).select(
                F.col("v").alias("id_a"), F.col("u").alias("id_b")
            ),
            vertices,
            id_col,
        )
    # the result reads the labels (or star's) checkpoint, never sym
    release_local_checkpoint(sym, allow_projection=True)
    return out


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Both directions of every (id_a, id_b) edge as (v, u), materialized
    ONCE: it is re-read by the seed, by every propagation round's join
    and by a star fallback, and the caller's edge lineage is often the
    expensive part (dedup_clusters hands over the whole
    MinHash->LSH->verify pipeline — before this checkpoint, each CC
    round silently re-ran it end to end)."""
    return (
        edges.select(F.col("id_a").alias("v"), F.col("id_b").alias("u"))
        .unionByName(
            edges.select(F.col("id_b").alias("v"), F.col("id_a").alias("u"))
        )
        .transform(checkpoint)
    )


def _min_label_propagation(
    sym: DataFrame, max_iter: int
) -> tuple[DataFrame, bool]:
    """The propagation core over a ``_symmetrized`` edge set: endpoint
    labels plus a converged flag (so callers can tell a fixpoint from
    budget exhaustion). ``sym`` stays the caller's to release."""
    # seed = round 1 fused into the edge pass (duplicate edges are
    # harmless under min)
    labels = (
        sym.groupBy("v")
        .agg(F.least(F.col("v"), F.min("u")).alias("lbl"))
        .transform(checkpoint)
    )
    # Broadcast the endpoint-label vector into each round's edge join
    # (the LPA/pagerank pattern): with it, a round's only exchange is
    # the min-label aggregation instead of a shuffle+sort of the
    # SYMMETRIZED EDGE SET. The endpoint count is corpus duplication
    # mass, not corpus size — usually tiny.
    brd = broadcast_gate(sym.sparkSession, labels.count)
    converged = False
    for _ in range(max_iter - 1):
        msgs_min = (
            sym.join(brd(labels), "v")
            .select(F.col("u").alias("v"), "lbl")
            .groupBy("v")
            .agg(F.min("lbl").alias("_m"))
        )
        # least(own, min(msgs)) == min over (own ∪ msgs); propagation
        # only ever LOWERS labels, so changed ⇔ new < old — computed
        # inline and carried through the checkpoint, which turns the
        # old per-round convergence JOIN into a filter over the
        # just-materialized cache (one fewer shuffle job per round).
        new_lbl = F.least(
            F.col("lbl"), F.coalesce(F.col("_m"), F.col("lbl"))
        )
        new_labels = (
            labels.join(brd(msgs_min), "v", "left")
            .select(
                "v",
                new_lbl.alias("_new"),
                (new_lbl < F.col("lbl")).alias("_chg"),
            )
            .select(F.col("v"), F.col("_new").alias("lbl"), "_chg")
        ).transform(checkpoint)  # truncate the iterative lineage
        changed = new_labels.where("_chg").limit(1).count()
        # the superseded round's label frame is dead once the new
        # checkpoint is materialized — release its pinned blocks now
        # (the kcore-32M/PPS-ladder lesson; ContextCleaner is too slow)
        release_local_checkpoint(labels, allow_projection=True)
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    return labels, converged


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the deep-graph
    engine ``connected_components`` finishes with once propagation
    proves a graph deep.

    Min-label propagation converges in graph-DIAMETER rounds: fine for
    shallow near-dup graphs (3-4), quadratic wall-clock on chains. The
    star algorithm alternates two edge rewrites —

    - **large-star**: every node points its strictly-larger neighbors
      at its local min (``min(neighbors ∪ self)``);
    - **small-star**: every node rewires its ≤-neighbors and itself to
      the min of that set —

    and provably converges in O(log n) rounds regardless of diameter,
    with monotonically non-increasing edge counts. Each half-round is
    one groupBy-min (map-side combinable) + one equi-join on the node
    key — the same shuffle shapes as everything else in this module,
    no driver state beyond a convergence checksum (count + xxhash xor:
    one tiny agg per round, no edge-set collect).

    Equivalence with the propagation path is pytest-pinned on random
    graphs and on a 200-node chain the propagation budget cannot finish.
    """
    # materialize the normalized edge set once: _large_star references
    # it twice (groupBy + join) and the caller's edge lineage can be
    # expensive (see _symmetrized)
    e = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(checkpoint)
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.unionByName(
            df.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    # Broadcast each half-round's per-node min table into its rewire
    # join when it fits the session budget (same rationale as the
    # propagation engine above: checkpointed ExistingRDDs have no
    # stats, so the planner otherwise sort-merges the symmetrized edge
    # set against a node-sized table every half-round). The min table
    # has one row per node <= 2x the CURRENT edge count, which the
    # round loop tracks from its own convergence checksum — edge
    # counts are monotonically non-increasing, so the gate only ever
    # relaxes as rounds shrink the graph.
    spark = edges.sparkSession

    def _brd(mins: DataFrame, n_edges: int) -> DataFrame:
        return broadcast_gate(spark, lambda: 2 * n_edges)(mins)

    def _large_star(df: DataFrame, n_edges: int) -> DataFrame:
        sym = _sym(df)
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        m = F.least(F.col("a"), F.col("mn"))
        return (
            sym.join(_brd(mins, n_edges), "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(df: DataFrame, n_edges: int) -> DataFrame:
        # orient every edge large -> small, then rewire each node's
        # small neighborhood (plus itself) to its min
        oriented = _sym(df).where(F.col("b") <= F.col("a"))
        mins = oriented.groupBy("a").agg(F.min("b").alias("mn"))
        rewired = oriented.join(_brd(mins, n_edges), "a").select(
            F.col("b").alias("a"), F.col("mn").alias("b")
        )
        self_edges = mins.select(F.col("a"), F.col("mn").alias("b"))
        return (
            rewired.unionByName(self_edges)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _checksum(df: DataFrame):
        # bit_xor is order-free and cannot overflow under ANSI mode
        # (edges are distinct, so xor-cancellation cannot collide a
        # changed set with an unchanged count)
        return df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).first()

    n_edges = e.count()  # scans the just-materialized checkpoint blocks
    prev = None
    for _ in range(max_iter):
        prev_e = e
        e = _small_star(_large_star(e, n_edges), n_edges).transform(checkpoint)
        release_local_checkpoint(prev_e, allow_projection=True)  # superseded round — free now
        cur = _checksum(e)
        n_edges = cur["n"]
        if prev is not None and (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            break
        prev = cur
    # converged edges form stars: component = min(neighbors ∪ self)
    sym = _sym(e)
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(F.col("a").alias("v"), F.least("a", "mn").alias("lbl"))
    )
    verts = vertices.select(F.col(id_col).alias("v"))
    return (
        verts.join(labels, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("lbl", F.col("v")).alias("component"),
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate clusters: LSH-verified pairs -> connected
    components -> canonical pick (min id per cluster).

    The keep/drop decision a dedup pipeline actually needs: every doc
    gets (cluster_id, cluster_size, is_canonical); filtering to
    ``is_canonical`` yields the deduplicated corpus with exactly one
    representative per near-dup group.
    """
    pairs = neardup_verified_pairs(
        df, id_col, text_col, n_hashes, band_size, shingle_n, threshold
    )
    return _clusters_from_pairs(pairs, df, id_col)


def embedding_dedup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """SemDeDup-style embedding dedup: cosine near-dup pairs (block-
    tiled grid, no cross product) -> connected components -> canonical
    pick. Same keep/drop contract as the text ``dedup_clusters``:
    (vec_id, cluster_id, cluster_size, is_canonical); filtering to
    ``is_canonical`` keeps one representative per semantic duplicate
    group — the embedding-space counterpart of MinHash dedup.
    """
    pairs = embedding_neardup_pairs(df, id_col, vec_col, threshold, n_blocks)
    return _clusters_from_pairs(pairs, df, id_col)


def _clusters_from_pairs(pairs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    comp = connected_components(pairs.select("id_a", "id_b"), df, id_col)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            id_col,
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col(id_col) == F.col("component")).alias("is_canonical"),
        )
    )


def embedding_dedup_clusters_fast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    cell_col: str | None = None,
    n_cells: int = 32,
    nprobe: int = 6,
    dim: int = 64,
    n_blocks: int = 2,
) -> DataFrame:
    """Production twin of ``embedding_dedup_clusters``: pairs form only
    within coarse cells (``embedding_neardup_pairs_clustered``), so
    compute is O(n^2/K) instead of all-pairs — real SemDeDup shape.
    Same keep/drop contract; recall vs the exact twin is pytest-pinned
    (a cross-cell pair can be missed, which splits — never merges —
    a cluster). Coarse assignment scores exactly (N×K) up to
    ``similarity.AUTO_LSH_MIN_CELLS`` cells and by the sub-N×K LSH
    scorer beyond it (SCALING.md r6 measured the exponent drop)."""
    pairs = embedding_neardup_pairs_clustered(
        df, id_col, vec_col, threshold,
        cell_col=cell_col, n_cells=n_cells, nprobe=nprobe,
        dim=dim, n_blocks=n_blocks,
    )
    return _clusters_from_pairs(pairs, df, id_col)


def cc_upsert(
    labels: DataFrame,
    delta_edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of
    NEW edges into a materialized (id, component) label table with
    O(delta + relabeled) work — the group-maintenance counterpart of
    ``neardup_upsert`` (pairs stream in; the dup GROUPS must update
    without re-running CC over every edge ever seen).

    ``labels`` is the stored state: one row per edge-endpoint seen so
    far, ``component`` = the min id reachable from it — exactly what
    ``connected_components`` emits over the historical edge set (docs
    never seen in a pair are implicit singletons and need no row).
    ``delta_edges`` is the new batch (id_a, id_b).

    Why ONE relabel round is exact (no iteration over the corpus):
    the min-id representation is a depth-1 union-find — every member
    points DIRECTLY at its component id. Merging components therefore
    needs only (1) each delta endpoint's current label (a lookup),
    (2) the transitive closure over the LABELS the delta connects —
    a graph with one node per touched component, O(delta) edges,
    resolved by ``connected_components`` on that tiny frame —
    and (3) a single map of old label -> min(merged labels). Since
    each old label was the min of its sub-component, the min over
    merged labels IS the min over the merged membership, so the
    depth-1 invariant is restored without propagation.

    Returns the MERGE-ready delta of the label table: rows for every
    doc whose component CHANGED plus every previously-unseen endpoint
    — upsert them keyed on ``id_col``; untouched components produce
    zero rows (the component that already owned the winning min label
    keeps all its rows — "relabel the loser", the classic amortized
    bound: total relabel work over any insert sequence is
    O(n log n), never O(corpus) per batch). Re-applying a batch whose
    edges are already reflected returns an EMPTY delta (replay
    idempotent).

    Scale shape: the lookups and the label-graph are O(delta); the
    relabel scan is a broadcast semi-join of the (delta-bounded)
    changed-label set against the stored table — one pruned scan, no
    shuffle of the corpus-sized side.
    """
    edges = (
        delta_edges.select("id_a", "id_b")
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
        .transform(checkpoint)
    )
    try:
        stored = labels.select(
            F.col(id_col).alias("v"), F.col("component").alias("lbl")
        )
        # (1) endpoint -> current label; unseen endpoints label as
        # themselves (they are their own singleton component)
        ends = (
            edges.select(F.col("id_a").alias("v"))
            .unionByName(edges.select(F.col("id_b").alias("v")))
            .distinct()
            .join(stored, "v", "left")
            .select("v", F.coalesce("lbl", F.col("v")).alias("lbl"))
            .transform(checkpoint)
        )
        # (2) the label graph: one node per touched component
        la = ends.select(F.col("v").alias("id_a"), F.col("lbl").alias("la"))
        lb = ends.select(F.col("v").alias("id_b"), F.col("lbl").alias("lb"))
        label_edges = (
            edges.join(la, "id_a").join(lb, "id_b")
            .where(F.col("la") != F.col("lb"))
            .select(F.col("la").alias("id_a"), F.col("lb").alias("id_b"))
            .distinct()
        )
        label_nodes = (
            label_edges.select(F.col("id_a").alias("lbl"))
            .unionByName(label_edges.select(F.col("id_b").alias("lbl")))
            .distinct()
        )
        # (3) old label -> merged min label, changed rows only
        mapping = (
            connected_components(label_edges, label_nodes, id_col="lbl")
            .where(F.col("lbl") != F.col("component"))
            .select("lbl", F.col("component").alias("new_lbl"))
            .transform(checkpoint)
        )
        try:
            # relabel the losers: stored rows whose component lost its
            # label (broadcast — the mapping is delta-bounded)
            brd = broadcast_gate(labels.sparkSession)
            relabeled = stored.join(
                brd(mapping), stored["lbl"] == mapping["lbl"]
            ).select(
                F.col("v").alias(id_col), F.col("new_lbl").alias("component")
            )
            # previously-unseen endpoints enter with their final label
            fresh = (
                ends.join(stored.select("v"), "v", "left_anti")
                .join(brd(mapping), "lbl", "left")
                .select(
                    F.col("v").alias(id_col),
                    F.coalesce("new_lbl", F.col("lbl")).alias("component"),
                )
            )
            out = checkpoint(relabeled.unionByName(fresh))
        finally:
            release_local_checkpoint(mapping, allow_projection=True)
            release_local_checkpoint(ends, allow_projection=True)
        return out
    finally:
        release_local_checkpoint(edges, allow_projection=True)
