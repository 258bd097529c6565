"""Streaming incremental near-dup: waves of documents feeding the LSH
band index via foreachBatch must converge to the exact batch answer,
and redelivery (fresh checkpoint, mid-batch crash replay) must be
idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ubeardw_databricks_lakehouse_spark.core.session import checkpoint_scope
from ubeardw_databricks_lakehouse_spark.operators.dedup import (
    lsh_band_index,
    minhash_signatures,
    neardup_verified_pairs,
)
from ubeardw_databricks_lakehouse_spark.plans.registry import QUERIES
from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse
from ubeardw_databricks_lakehouse_spark.streaming.incremental_neardup import (
    start_incremental_neardup,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _run_wave(spark, lake, tmp_path, wave_df, n, checkpoint=None, **kw):
    src = tmp_path / f"wave{n}"
    src.mkdir(exist_ok=True)
    wave_df.select("doc_id", "text").write.mode("overwrite").parquet(
        str(src / "data")
    )
    schema = spark.read.parquet(str(src / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(src / "data"))
    q = start_incremental_neardup(
        spark, stream, lake,
        checkpoint=checkpoint or str(tmp_path / f"ckpt{n}"),
        **kw,
    )
    q.awaitTermination(120)


def _pairs(lake):
    return {
        tuple(r) for r in lake.read("neardup_pairs").collect()
    } if lake.exists("neardup_pairs") else set()


def test_incremental_neardup_converges_to_batch(spark, tmp_path):
    docs = spark.read.parquet(DOCS)
    waves = [
        docs.where("doc_id % 10 NOT IN (0, 5)"),  # bootstrap corpus
        docs.where("doc_id % 10 = 0"),
        docs.where("doc_id % 10 = 5"),
    ]
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    for n, w in enumerate(waves):
        _run_wave(spark, lake, tmp_path, w, n)

    # every pair is discovered by whichever member arrives LAST, so the
    # converged pair table equals the full batch pipeline's output
    want = {tuple(r) for r in neardup_verified_pairs(docs, threshold=0.5).collect()}
    assert _pairs(lake) == want and want
    # the maintained index equals the batch-built one, corpus complete
    got_idx = {tuple(r) for r in lake.read("neardup_band_index").collect()}
    full_idx = {
        tuple(r)
        for r in lsh_band_index(minhash_signatures(docs, n_hashes=8, shingle_n=2)).collect()
    }
    assert got_idx == full_idx
    assert lake.read("neardup_corpus").count() == docs.count()

    # source-level redelivery: re-running the last wave from a FRESH
    # checkpoint changes nothing (ids already in the corpus anti-join out)
    _run_wave(spark, lake, tmp_path, waves[2], 2, checkpoint=str(tmp_path / "ckpt_replay"))
    assert _pairs(lake) == want
    assert {tuple(r) for r in lake.read("neardup_band_index").collect()} == full_idx


def test_incremental_neardup_mid_batch_crash_replay(spark, tmp_path):
    # simulate a crash BETWEEN the index merge and the corpus merge:
    # the replayed batch finds its own bands already in the index —
    # the id-inequality guard + keyed MERGEs must keep the final state
    # exactly the no-crash state (no self-pairs, no duplicates)
    docs = spark.read.parquet(DOCS)
    base = docs.where("doc_id % 10 != 0")
    wave = docs.where("doc_id % 10 = 0")
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    _run_wave(spark, lake, tmp_path, base, 0)
    state_pairs = _pairs(lake)

    # crash simulation: the wave's band rows land in the index, but the
    # corpus/pairs writes are lost
    wave_bands = lsh_band_index(minhash_signatures(wave, n_hashes=8, shingle_n=2))
    lake.upsert("neardup_band_index", wave_bands, keys=["doc_id", "band_idx"])

    _run_wave(spark, lake, tmp_path, wave, 1)
    got = _pairs(lake)
    assert not any(a == b for a, b, *_ in got), "self-pair leaked on replay"
    want = {
        tuple(r)
        for r in neardup_verified_pairs(docs, threshold=0.5)
        .where("id_a % 10 = 0 OR id_b % 10 = 0")
        .collect()
    }
    assert got == state_pairs | want
    full_idx = {
        tuple(r)
        for r in lsh_band_index(minhash_signatures(docs, n_hashes=8, shingle_n=2)).collect()
    }
    assert {tuple(r) for r in lake.read("neardup_band_index").collect()} == full_idx
    assert lake.read("neardup_corpus").count() == docs.count()


def test_incremental_neardup_bucketed_state_prunes_merges(spark, tmp_path):
    """state_buckets mode: (1) converges to the exact batch answer with
    bucket columns carried on every state table, and (2) a small wave's
    MERGEs rewrite ONLY the touched bucket directories — the untouched
    corpus/index buckets keep their exact files (the O(touched) pruned
    MERGE path, the parquet twin of Delta's file-pruned MERGE)."""
    import os

    docs = spark.read.parquet(DOCS)
    base = docs.where("doc_id >= 8")
    wave = docs.where("doc_id < 8")  # 8 docs: leaves buckets idle at B=64
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    B = 64
    _run_wave(spark, lake, tmp_path, base, 0, state_buckets=B)

    def files(table):
        out = {}
        root_dir = lake.path(table)
        for root, _d, fs in os.walk(root_dir):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, root_dir)] = os.path.getmtime(p)
        return out

    corpus_before = files("neardup_corpus")
    index_before = files("neardup_band_index")
    touched_corpus = {
        r.b
        for r in wave.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(B)).cast("int").alias("b")
        ).distinct().collect()
    }
    assert len(touched_corpus) < B

    _run_wave(spark, lake, tmp_path, wave, 1, state_buckets=B)

    # untouched corpus buckets: identical files after the wave's MERGE
    corpus_after = files("neardup_corpus")
    untouched_checked = 0
    for rel, mtime in corpus_before.items():
        bucket = int(rel.split(os.sep)[0].split("=")[1])
        if bucket not in touched_corpus:
            assert corpus_after.get(rel) == mtime, f"{rel} rewritten"
            untouched_checked += 1
    assert untouched_checked > 0
    # index: SOME bucket dir survived untouched (band buckets of the
    # wave are data-dependent; assert pruning happened, not its exact set)
    index_after = files("neardup_band_index")
    assert any(
        index_after.get(rel) == mtime for rel, mtime in index_before.items()
    ), "every index bucket was rewritten — MERGE did not prune"

    # converged state == the batch pipeline's answer
    want = {
        tuple(r)
        for r in neardup_verified_pairs(docs, threshold=0.5).collect()
    }
    got = {
        tuple(r)
        for r in lake.read("neardup_pairs")
        .select("id_a", "id_b", "n_shingles_a", "n_shingles_b", "n_common")
        .collect()
    }
    assert got == want and want
    got_idx = {
        tuple(r)
        for r in lake.read("neardup_band_index")
        .select("doc_id", "band_idx", "band_hash")
        .collect()
    }
    full_idx = {
        tuple(r)
        for r in lsh_band_index(
            minhash_signatures(docs, n_hashes=8, shingle_n=2)
        ).collect()
    }
    assert got_idx == full_idx
    assert lake.read("neardup_corpus").count() == docs.count()


def test_incremental_neardup_maintains_groups(spark, tmp_path):
    """groups_table opt-in: the continuously-maintained dup-group
    labels converge to batch CC over the full verified pair set, in
    both the plain and the bucketed layouts, and a fresh-checkpoint
    redelivery changes nothing."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    docs = spark.read.parquet(DOCS)
    waves = [
        docs.where("doc_id % 10 NOT IN (0, 5)"),
        docs.where("doc_id % 10 = 0"),
        docs.where("doc_id % 10 = 5"),
    ]
    for buckets in (0, 16):
        lake = Lakehouse(spark, str(tmp_path / f"lake_g{buckets}"))
        for n, w in enumerate(waves):
            _run_wave(
                spark, lake, tmp_path, w, n,
                checkpoint=str(tmp_path / f"gck{buckets}_{n}"),
                state_buckets=buckets,
                groups_table="neardup_groups",
            )
        pairs = lake.read("neardup_pairs").select("id_a", "id_b")
        verts = (
            pairs.selectExpr("id_a as doc_id")
            .union(pairs.selectExpr("id_b as doc_id"))
            .distinct()
        )
        want = {
            (r.doc_id, r.component)
            for r in connected_components(pairs, verts).collect()
        }
        got = {
            (r.doc_id, r.component)
            for r in lake.read("neardup_groups")
            .select("doc_id", "component")
            .collect()
        }
        assert got == want and want

        # fresh-checkpoint redelivery: ids anti-join out, groups stay
        _run_wave(
            spark, lake, tmp_path, waves[2], 2,
            checkpoint=str(tmp_path / f"gck{buckets}_replay"),
            state_buckets=buckets,
            groups_table="neardup_groups",
        )
        got2 = {
            (r.doc_id, r.component)
            for r in lake.read("neardup_groups")
            .select("doc_id", "component")
            .collect()
        }
        assert got2 == want


def test_incremental_neardup_releases_per_batch_pins(spark, tmp_path):
    """Checkpoint-block lifecycle tripwire (r13 verdict flag): the
    foreachBatch face releases neardup_upsert's per-batch pins, so the
    count of persisted RDD blocks must NOT grow with the number of
    waves processed — the r10 OOM class (pinned blocks survive GC on
    this runtime) would show up here as monotone growth long before it
    shows up as an executor OOM at scale."""
    docs = spark.read.parquet(DOCS)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    _run_wave(spark, lake, tmp_path, docs.where("doc_id % 10 > 3"), 0)

    def persisted() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = persisted()
    counts = []
    for n, pred in enumerate(
        ("doc_id % 10 = 0", "doc_id % 10 = 1", "doc_id % 10 = 2"), start=1
    ):
        _run_wave(spark, lake, tmp_path, docs.where(pred), n)
        counts.append(persisted())
    # each wave pins 3 O(delta) frames inside the batch and must release
    # them before returning; allow a tolerance of 2 stray blocks total
    # (other session users), but never per-wave linear growth
    assert counts[-1] <= base + 2, (
        f"pinned RDD blocks grew {base} -> {counts} across waves — "
        "a per-batch pin is leaking (release path broken?)"
    )
    assert counts[-1] - counts[0] <= 1, (
        f"pin count rising per wave: {counts}"
    )


@pytest.mark.parametrize(
    "name",
    ["q_bm25_search", "q_hybrid_search_rrf", "q_triangle_suppliers",
     "q_embedding_topk_ivfpq"],
)
def test_scoped_bench_reps_release_query_checkpoints(spark, name):
    """Scope tripwire, the one-shot twin of the streaming tripwire
    above: registry queries take query-private checkpoints (BM25's
    hit-filtered tf, the triangle edge sets, the one-shot IVFADC
    index's centroids and codebook rounds) that GC never frees. Run
    the way bench.py times a multi-rep entry — each rep materialized to
    the noop sink inside its own checkpoint_scope — the session's
    persisted-RDD count must not grow."""
    fn = {q.name: q.fn for q in QUERIES}[name]

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = persisted()
    for _ in range(5):
        with checkpoint_scope():
            fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
    assert persisted() <= base, (
        f"{name}: persisted RDDs grew {base} -> {persisted()} over 5 "
        "scoped reps — a query-private checkpoint escaped the scope"
    )
