"""Distributed BPE tokenizer training + encoding.

Classic byte-pair-encoding over a word-frequency vocabulary (Sennrich
et al. 2016 "Neural Machine Translation of Rare Words with Subword
Units"): start from characters (+ an end-of-word marker), repeatedly
count adjacent symbol pairs corpus-wide, merge the most frequent pair,
for ``n_merges`` rounds. Tokenizer training is the step a training-data
pipeline runs between curation and packing; the reference engine has no
counterpart (BASELINE.json north star).

Spark-first shape, per merge round:

- **pair counting** is one explode over the *word vocabulary* (distinct
  words with counts — NOT the corpus: the 100 TB corpus collapses to a
  vocab table in a single groupBy up front, after which training cost
  is independent of corpus size) followed by a map-side-combinable
  groupBy on (left, right).
- **argmax** is a 1-row TakeOrderedAndProject with a total order
  (count desc, left asc, right asc) — deterministic across partitions
  and engines; only that single row is collected per round.
- **the merge itself** is a pure-Column greedy left-to-right fold
  (``F.aggregate``) over each word's symbol array — no Python in the
  loop body.
- lineage is truncated every round with ``localCheckpoint`` (the vocab
  table is tiny relative to the corpus; on a cluster this is a cached
  ~100M-row table), so the plan does not grow with n_merges.

**Batched merging** (``batch > 1``) is the scale path: one Spark pass
learns up to ``batch`` merges instead of one, cutting the job count
for a 32k-merge production vocabulary by ~batch×. Per pass, the top
pairs are scanned in the total order and greedily picked while
mutually NON-INTERACTING — a candidate is skipped (deferred to the
next pass, where counts are fresh) if it (a) shares a symbol with an
earlier pick, or (b) contains an earlier pick's merged token as a
symbol. Rule (a) keeps every picked pair's count exact (merging
(a,b) can only change counts of pairs touching a or b); rule (b)
closes the string-collision hole where a pick manufactures more
tokens of a symbol a later candidate uses. Within a pass the picks
therefore commute, and each recorded pair_count is the true corpus
count at the start of its pass.

Divergence from classic one-at-a-time BPE, stated honestly: when a
merge immediately creates a dominant new pair (th+e -> "the" right
after t+h), classic BPE picks it next; the batched pass cannot see it
until the next recount, so merge ORDER (and occasionally membership
near the frequency floor) can differ. This is the standard trade of
scalable BPE trainers; ``batch=1`` reproduces the classic algorithm
exactly, and the batched algorithm itself is pinned against its own
pure-Python reference (``train_bpe_reference`` with the same
``batch``/``max_candidates``).

The driver loop is bounded by ``ceil(n_merges / batch)`` passes.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import checkpoint
from .text import tokens

END = "</w>"


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) corpus vocabulary — the only pass over the corpus."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _initial_symbols(word: Column) -> Column:
    """Characters plus the end-of-word marker as a trailing symbol."""
    return F.concat(
        F.filter(F.split(word, ""), lambda x: x != ""),
        F.array(F.lit(END)),
    )


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) — the fold
    never re-examines a merged token, matching reference BPE."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _default_candidates(batch: int) -> int:
    """Candidate rows fetched per pass: enough headroom that skipping
    interacting pairs rarely starves the batch. Must be the SAME
    constant in the Spark trainer and the pure-Python reference — the
    exact-pin contract includes the candidate cutoff."""
    return 1 if batch <= 1 else max(8 * batch, 64)


def _pick_compatible(
    cands: list[tuple[str, str, int]], want: int
) -> list[tuple[str, str, int]]:
    """Greedy non-interacting batch from candidates already in the
    total order (count desc, left asc, right asc). A candidate is
    skipped — deferred to the next pass, where counts are fresh — if
    it (a) shares a symbol with an earlier pick, or (b) uses an
    earlier pick's merged token as a symbol (see module docstring)."""
    picked: list[tuple[str, str, int]] = []
    used: set[str] = set()
    created: set[str] = set()
    for left, right, n in cands:
        if len(picked) >= want:
            break
        if {left, right} & used or {left, right} & created:
            continue
        picked.append((left, right, n))
        used.update((left, right))
        created.add(left + right)
    return picked


def train_bpe(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    batch: int = 1,
    return_passes: bool = False,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, pair_count)]
    in merge order. Deterministic: ties break (count desc, left asc,
    right asc). ``batch=1`` is classic sequential BPE; ``batch>1``
    learns up to ``batch`` mutually non-interacting merges per Spark
    pass (the scale mode — see module docstring). ``return_passes``
    additionally returns the number of Spark passes executed."""
    vocab = (
        word_vocab(df, text_col)
        .select(F.col("cnt"), _initial_symbols(F.col("word")).alias("syms"))
        .transform(checkpoint)
    )
    max_candidates = _default_candidates(batch)
    merges: list[tuple[str, str, int]] = []
    passes = 0
    while len(merges) < n_merges:
        pairs = (
            vocab.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
        )
        cands = (
            pairs.where(F.col("n") >= 2)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(max_candidates)
            .collect()
        )
        picked = _pick_compatible(
            [(r["l"], r["r"], int(r["n"])) for r in cands],
            min(batch, n_merges - len(merges)),
        )
        passes += 1
        if not picked:
            break  # nothing left worth merging
        merges.extend(picked)
        # non-interacting by construction -> one chained fold, one job
        syms = F.col("syms")
        for left, right, _ in picked:
            syms = _merge_pair(syms, left, right)
        vocab = checkpoint(vocab.select("cnt", syms.alias("syms")))
    return (merges, passes) if return_passes else merges


def train_bpe_reference(
    texts: list[str], n_merges: int = 20, batch: int = 1
) -> list[tuple[str, str, int]]:
    """Pure-Python reference implementation (test oracle for train_bpe):
    identical greedy semantics, tie-break, batching rules, and
    candidate cutoff."""
    vocab: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        for w in t.split():
            if w:
                vocab[tuple(w) + (END,)] += 1
    max_candidates = _default_candidates(batch)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        pair_counts: Counter[tuple[str, str]] = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += cnt
        cands = sorted(
            ((l, r, n) for (l, r), n in pair_counts.items() if n >= 2),
            key=lambda t: (-t[2], t[0], t[1]),
        )[:max_candidates]
        picked = _pick_compatible(cands, min(batch, n_merges - len(merges)))
        if not picked:
            break
        merges.extend(picked)
        for left, right, _ in picked:
            new_vocab: Counter[tuple[str, ...]] = Counter()
            for syms, cnt in vocab.items():
                out: list[str] = []
                for x in syms:
                    if out and out[-1] == left and x == right:
                        out[-1] = left + right
                    else:
                        out.append(x)
                new_vocab[tuple(out)] += cnt
            vocab = new_vocab
    return merges


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply learned merges to one word, in rank order (greedy
    left-to-right per merge) — the standard BPE encoder."""
    syms = list(word) + [END]
    for left, right in merges:
        out: list[str] = []
        for x in syms:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a trained merge list. Arrow-batched
    mapInPandas with a per-batch word cache: each DISTINCT word is
    encoded once per batch (Zipf makes the cache hit rate high), so the
    Python cost is ~O(vocab per batch), not O(corpus tokens). Returns
    (id, n_words, n_bpe_tokens, tokens_preview). Map-only — scales with
    the scan partitioning."""
    import pandas as pd

    rank_merges = [(left, right) for left, right, *_ in merges]

    def batches(it):
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = encode_word(w, rank_merges)
            return got

        for pdf in it:
            words_col = pdf[text_col].fillna("").str.split()
            toks = words_col.map(
                lambda ws: [s for w in ws for s in enc(w)]
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": words_col.map(len),
                    "n_bpe_tokens": toks.map(len),
                    "tokens_preview": toks.map(lambda t: " ".join(t[:8])),
                }
            )

    schema = f"{id_col} long, n_words long, n_bpe_tokens long, tokens_preview string"
    return df.select(id_col, text_col).mapInPandas(batches, schema=schema)
