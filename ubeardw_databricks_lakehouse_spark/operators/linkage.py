"""Production fuzzy record linkage: capped blocking + edit-distance
verify + entity resolution.

The oracle-paired registry twins (`plans/relational.q_fuzzy_part_match`
/ `q_entity_clusters`) run the EXACT pipeline: (last-token, length-band)
blocking with no cap, provably recall-lossless for the levenshtein
threshold. This module is the scale path the r6 verdict asked for on
top of that: with a bounded last-token vocabulary (real entity data has
hot suffixes — "inc", "llc", "gmbh"), uncapped blocks grow O(N) and
candidate pairs O(N²/V). `fuzzy_block_pairs` adds a HARD per-block
bound: oversized (block, band) cells are salted into sub-blocks of at
most ``block_cap`` expected rows, making total candidates O(N·cap) by
construction — the same skew discipline the MinHash path applies to
hot bands.

Semantics contract (documented recall trade): within a salted cell,
only same-salt pairs survive — expected recall for a random oversized-
cell pair is 1/n_salt. Hot blocking keys are by definition weakly
discriminative (everything ends in "inc"), so capped ER standard
practice accepts this; callers that cannot may pass
``on_oversize="error"`` to fail loudly or ``"drop"`` to skip oversized
cells entirely (and get them reported). The exact twin in
plans/relational.py is the recall oracle at test scale.

100 TB shape: one count agg over (block, band) cells (tiny — bounded by
the key vocabulary x length bands), broadcast back; the candidate join
is an equi-join on (block, band, salt); levenshtein runs map-side on
join output only. Nothing all-pairs, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate

_LAST_TOKEN_RE = r"([^ ]+)$"

# Corporate stop-suffixes — the canonical hot, non-discriminative last
# tokens of real entity corpora (the r7-verdict adversarial case). Kept
# deliberately short and public-knowledge; callers with domain lists
# pass their own ``blocks``.
_STOP_SUFFIXES = (
    "inc llc gmbh ltd corp co sa plc ag oy ab nv bv kg srl spa pty sas "
    "sarl llp lp pllc"
).split()
_STOP_SUFFIX_RE = r"(?i)\s+(" + "|".join(_STOP_SUFFIXES) + r")\.?\s*$"


def _default_block(name_col: str) -> Column:
    return F.regexp_extract(name_col, _LAST_TOKEN_RE, 1)


def head_of(name_col: str | Column) -> Column:
    """The entity-name *head*: the name with one trailing corporate
    stop-suffix token stripped ("acme trading inc" -> "acme trading").
    Blocking on the head's last token is what makes multi-pass recall
    survive suffix-hot corpora — the suffix carries no identity, so
    keys derived from it are pure salt-loss."""
    col = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.regexp_replace(col, _STOP_SUFFIX_RE, "")


def _head_last_token(name_col: str) -> Column:
    return F.regexp_extract(head_of(name_col), _LAST_TOKEN_RE, 1)


def head_min_bigram(name_col: str | Column, seed: int = 0) -> Column:
    """Min-hash over the head's character bigrams — an edit-tolerant
    blocking key: a single-character edit disturbs at most two bigrams,
    so the minimum survives with probability ~(L-2)/L and near-dup
    pairs land in the same block even when the edit hits the head's
    last token. Hot blocks (a globally min-hashed common bigram) are
    handled by the same cap/salt discipline as any other key.

    ``seed`` yields INDEPENDENT keys: each seed permutes the bigram
    hash order, so a pair missed by one seed's minimum (edit disturbed
    it, or the hot-block salt split them — salt is per-name, but the
    block differs per seed, so the losses decorrelate) is recovered by
    another. Extra seeds are the cheapest recall lever for
    ``fuzzy_block_pairs_multi(extra_blocks=[head_min_bigram(col, s)
    for s in (1, 2)])``: each pass stays O(N·cap)."""
    h = head_of(name_col)
    return F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(h) - 1, F.lit(1))),
            lambda i: F.xxhash64(F.substring(h, i, F.lit(2)), F.lit(seed)),
        )
    )


def _head_min_bigram(name_col: str) -> Column:
    return head_min_bigram(name_col, seed=0)


def id_half_keys(name_col: str | Column, token: Column | None = None) -> list[Column]:
    """Substitution-robust split-blocking keys for a structured-ID
    token (registry number, serial, SKU): the token's first and last
    halves as TWO blocking keys. A single-character substitution sits
    in exactly one half, so the other half — and hence one of the two
    blocks — is always intact: the cheap two-pass cousin of
    deletion-neighborhood blocking (which needs L passes for the same
    guarantee). ``token`` defaults to the suffix-stripped head's last
    token, where real entity names keep their registration number;
    callers with the ID in its own column pass that instead.

    The guarantee is per-SUBSTITUTION and requires length(token) >= 2;
    an insertion/deletion shifts the halves' alignment and falls back
    on the other battery keys. Tokens of length < 2 (including the
    empty string regexp_extract yields on no-match) get NULL keys —
    with half = 0 the first key would be '' and the second the whole
    token, so the recovery guarantee vanishes while every degenerate
    row piles into one shared ''-block; NULL instead drops them from
    this pass so they fall back to the default battery keys.
    Half-key hotness (short IDs share prefixes) is handled by the same
    cap/salt discipline as every key, and the (block, length-band)
    cell structure keeps same-prefix-different-length names apart."""
    tok = (
        token
        if token is not None
        else F.regexp_extract(head_of(name_col), _LAST_TOKEN_RE, 1)
    )
    long_enough = F.length(tok) >= 2
    half = F.floor(F.length(tok) / 2).cast("int")
    return [
        F.when(long_enough, F.substring(tok, F.lit(1), half)),
        F.when(
            long_enough, F.substring(tok, half + F.lit(1), F.length(tok))
        ),
    ]


def fuzzy_block_pairs(
    names: DataFrame,
    name_col: str = "name",
    block: Column | None = None,
    max_dist: int = 4,
    block_cap: int | None = None,
    on_oversize: str = "salt",
) -> DataFrame:
    """Verified fuzzy match pairs (name_a, name_b, dist) over distinct
    ``name_col`` values, never all-pairs.

    Blocking = (``block`` key [default: last token], length band of
    width ``max_dist + 1``). The band is recall-lossless: levenshtein
    >= |len difference|, so a within-threshold pair sits in the same or
    an adjacent band, and the probe side fans out to exactly those
    three bands. With ``block_cap`` set, any (block, band) cell larger
    than the cap is salted into ``ceil(cell/cap)`` xxhash64 sub-blocks
    (``on_oversize="salt"``), dropped (``"drop"``), or an error
    (``"error"``) — candidates are then O(N·cap) by construction.
    ``"error"`` runs the cell census eagerly (one Spark job) at
    construction time so it can raise before the plan executes;
    ``"salt"``/``"drop"`` keep the builder fully lazy.
    """
    if on_oversize not in ("salt", "drop", "error"):
        raise ValueError(
            f"on_oversize must be 'salt', 'drop' or 'error'; "
            f"got {on_oversize!r}"
        )
    band_w = max_dist + 1
    blk = block if block is not None else _default_block(name_col)
    keyed = (
        names.select(name_col)
        .distinct()
        .select(
            F.col(name_col).alias("_name"),
            blk.alias("_blk"),
            (F.length(name_col) / band_w).cast("int").alias("_band"),
        )
    )

    if block_cap is None:
        a = keyed.select(
            F.col("_name").alias("name_a"), "_blk", "_band"
        )
        b = keyed.select(
            F.col("_name").alias("name_b"),
            "_blk",
            F.explode(
                F.array(
                    F.col("_band") - 1, F.col("_band"), F.col("_band") + 1
                )
            ).alias("_band"),
        )
        join_keys = ["_blk", "_band"]
    else:
        # cell census: tiny (|block vocab| x |length bands| rows, while
        # Catalyst sizes the aggregate at the names), so the join back
        # broadcasts through the gate — no extra shuffle of names.
        brd = broadcast_gate(names.sparkSession)
        cells = keyed.groupBy("_blk", "_band").agg(
            F.ceil(F.count("*") / F.lit(block_cap)).cast("int").alias("_nsalt")
        )
        oversized = cells.filter(F.col("_nsalt") > 1)
        # NOTE: on_oversize="error" is EAGER — the census probe below is
        # one Spark job at DataFrame-construction time (the only way to
        # fail loudly before a caller executes the result). "salt"/"drop"
        # stay fully lazy.
        if on_oversize == "error" and (sample := oversized.limit(5).collect()):
            raise ValueError(
                f"fuzzy_block_pairs: blocks exceed block_cap={block_cap}: "
                + ", ".join(
                    f"(blk={r['_blk']!r}, band={r['_band']}, "
                    f"~{r['_nsalt'] * block_cap} rows)"
                    for r in sample
                )
                + " — raise the cap, pass on_oversize='salt'/'drop', or "
                "use a more discriminative block key"
            )
        if on_oversize == "drop":
            cells = cells.withColumn(
                "_nsalt",
                F.when(F.col("_nsalt") > 1, F.lit(0)).otherwise(F.lit(1)),
            )
        sized = keyed.join(brd(cells), ["_blk", "_band"]).filter(
            F.col("_nsalt") > 0
        )
        # anchor side: salt under its OWN cell's modulus
        a = sized.select(
            F.col("_name").alias("name_a"),
            "_blk",
            "_band",
            F.pmod(F.xxhash64("_name"), F.col("_nsalt")).alias("_salt"),
        )
        # probe side: fan out to the three reachable bands, then salt
        # under the TARGET cell's modulus so both sides agree on the
        # bucket arithmetic of the cell they meet in.
        probe = keyed.select(
            F.col("_name").alias("name_b"),
            "_blk",
            F.explode(
                F.array(
                    F.col("_band") - 1, F.col("_band"), F.col("_band") + 1
                )
            ).alias("_band"),
        )
        b = probe.join(brd(cells), ["_blk", "_band"]).filter(
            F.col("_nsalt") > 0
        ).select(
            "name_b",
            "_blk",
            "_band",
            F.pmod(F.xxhash64("name_b"), F.col("_nsalt")).alias("_salt"),
        )
        join_keys = ["_blk", "_band", "_salt"]

    return (
        a.join(b, join_keys)
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_block_pairs_multi(
    names: DataFrame,
    name_col: str = "name",
    blocks: list[Column] | None = None,
    max_dist: int = 4,
    block_cap: int | None = None,
    on_oversize: str = "salt",
    extra_blocks: list[Column] | None = None,
) -> DataFrame:
    """Multi-key blocking: union of ``fuzzy_block_pairs`` over several
    blocking keys, distinct on the pair.

    The recall-recovery discipline for capped blocking — a pair lost to
    salting under a hot non-discriminative key (everything ends in
    "inc") usually survives under an independent key. Cost is additive
    over passes and each pass is O(N·cap); classic multi-pass ER
    (Hernández & Stolfo 1998, the sorted-neighborhood multi-pass
    result).

    Default keys (r7 verdict #3 — measured ~0.08-0.16 recall at
    cap=200 with the old [last-token, first-token] defaults on the
    suffix-hot stress; the suffix-aware keys below push it past 0.5 at
    the same O(N·cap) cost, tools/stress_linkage.py):

    1. plain last token (the single-pass default) — keeps multi a
       strict SUPERSET of the capped single pass (same key, same
       deterministic salting), so switching to multi never loses a
       pair.
    2. last token of the suffix-stripped *head* (``head_of``) — on
       suffix-hot corpora this is the name's most discriminative token
       instead of its least; identical to key 1 when no stop-suffix is
       present (a redundant-but-cheap pass there).
    3. first token — independent of anything near the end of the name.
    4. min-hashed character bigram of the head — edit-tolerant, covers
       pairs whose edit hits the head's last OR first token.

    ``extra_blocks`` is the domain-key hook: keys APPENDED to the
    battery (default or explicit ``blocks``) — a caller who knows the
    corpus adds e.g. a registry-number extract, a phonetic code, or
    seeded ``head_min_bigram`` passes, without giving up the measured
    defaults. Each extra key is one more O(N·cap) pass.
    """
    if blocks is None:
        blocks = [
            _default_block(name_col),
            _head_last_token(name_col),
            F.regexp_extract(name_col, r"^([^ ]+)", 1),
            _head_min_bigram(name_col),
        ]
    if extra_blocks:
        blocks = list(blocks) + list(extra_blocks)
    if not blocks:
        raise ValueError("fuzzy_block_pairs_multi needs >= 1 block key")
    out = None
    for blk in blocks:
        p = fuzzy_block_pairs(
            names,
            name_col=name_col,
            block=blk,
            max_dist=max_dist,
            block_cap=block_cap,
            on_oversize=on_oversize,
        )
        out = p if out is None else out.unionByName(p)
    return out.dropDuplicates(["name_a", "name_b"])


def resolve_entities(
    names: DataFrame,
    name_col: str = "name",
    block: Column | None = None,
    blocks: list[Column] | None = None,
    max_dist: int = 4,
    block_cap: int | None = None,
    on_oversize: str = "salt",
    multi: bool = False,
    extra_blocks: list[Column] | None = None,
) -> DataFrame:
    """Entity-resolution capstone at production settings: capped fuzzy
    pairs (multi-pass when ``blocks`` is given, or with the default
    suffix-aware 4-key battery when ``multi=True``) -> connected
    components -> canonical representative.

    ``multi=True`` is the recommended setting for CAPPED runs on real
    entity corpora: the measured hot-suffix recall at cap=200 is
    0.74-0.81 multi vs 0.08-0.16 single (SCALING.md round-8), at 4x
    the pair-generation cost (each pass is O(N·cap)).
    ``extra_blocks`` appends caller domain keys to the battery (see
    fuzzy_block_pairs_multi) — on the structured-ID hot-suffix stress,
    ``id_half_keys`` lifts recall 0.747 -> 0.950 at cap=200 and
    0.813 -> 1.000 at cap=400 (SCALING.md round-9), while generic
    seeded head_min_bigram passes add only ~3.5 pts: domain knowledge
    is the recall lever, and the hook is how it plugs in.

    Returns (entity, cluster_rep, cluster_size, is_canonical) — the
    same surface as the oracle-paired `q_entity_clusters`, which is the
    exact-recall twin at test scale.
    """
    from .dedup import connected_components

    if blocks is not None or multi or extra_blocks:
        if blocks is not None and multi:
            raise ValueError(
                "resolve_entities: pass either blocks=[...] or "
                "multi=True, not both (multi=True means the default "
                "4-key battery)"
            )
        pairs = fuzzy_block_pairs_multi(
            names,
            name_col=name_col,
            blocks=blocks,
            max_dist=max_dist,
            block_cap=block_cap,
            on_oversize=on_oversize,
            extra_blocks=extra_blocks,
        )
    else:
        pairs = fuzzy_block_pairs(
            names,
            name_col=name_col,
            block=block,
            max_dist=max_dist,
            block_cap=block_cap,
            on_oversize=on_oversize,
        )
    pairs = pairs.select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    verts = names.select(name_col).distinct()
    cc = connected_components(pairs, verts, id_col=name_col)
    from pyspark.sql.window import Window

    w = Window.partitionBy("component")
    return cc.select(
        F.col(name_col).alias("entity"),
        F.col("component").alias("cluster_rep"),
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        (F.col(name_col) == F.col("component")).alias("is_canonical"),
    )
