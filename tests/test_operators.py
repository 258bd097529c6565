"""Operator-level unit tests: SCD2 engine, lakehouse merge, expectations,
text/dedup/similarity operators, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ubeardw_databricks_lakehouse_spark.expectations.rules import (
    ExpectationFailed,
    Rule,
    apply_expectations,
)
from ubeardw_databricks_lakehouse_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    neardup_verified_pairs,
    simhash64,
    word_shingles,
)
from ubeardw_databricks_lakehouse_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_features,
)
from ubeardw_databricks_lakehouse_spark.operators.scd2 import apply_scd2
from ubeardw_databricks_lakehouse_spark.operators.similarity import (
    topk_brute_force,
    topk_lsh,
)
from ubeardw_databricks_lakehouse_spark.operators.text import (
    lang_id,
    quality_score,
    token_count,
)
from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def test_scd2_multi_version_history(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path))
    v1 = spark.createDataFrame(
        [(1, "alice", "paris"), (2, "bob", "lyon")], "id int, name string, city string"
    )
    n = apply_scd2(lake, "dim", v1, ["id"], ["name", "city"],
                   surrogate_name="sk", effective_ts="2024-01-01 00:00:00")
    assert n == 2

    # no change -> short-circuit
    assert apply_scd2(lake, "dim", v1, ["id"], ["name", "city"],
                      surrogate_name="sk", effective_ts="2024-01-02 00:00:00") == 0

    # change one row twice -> versions 2 and 3
    v2 = spark.createDataFrame(
        [(1, "alice", "marseille"), (2, "bob", "lyon")],
        "id int, name string, city string",
    )
    assert apply_scd2(lake, "dim", v2, ["id"], ["name", "city"],
                      surrogate_name="sk", effective_ts="2024-01-03 00:00:00") == 1
    v3 = spark.createDataFrame(
        [(1, "alice", "nice"), (2, "bob", "lyon")], "id int, name string, city string"
    )
    assert apply_scd2(lake, "dim", v3, ["id"], ["name", "city"],
                      surrogate_name="sk", effective_ts="2024-01-04 00:00:00") == 1

    hist = lake.read("dim").filter("id = 1").orderBy("version_number").collect()
    assert [r.version_number for r in hist] == [1, 2, 3]
    assert [r.is_current for r in hist] == [False, False, True]
    assert [r.city for r in hist] == ["paris", "marseille", "nice"]
    # expired rows carry end dates equal to successor's start
    assert str(hist[0].effective_end_date) == "2024-01-03 00:00:00"
    assert str(hist[1].effective_end_date) == "2024-01-04 00:00:00"
    assert hist[2].effective_end_date is None
    # surrogate keys unique across versions
    sks = [r.sk for r in lake.read("dim").collect()]
    assert len(sks) == len(set(sks))

    # new entity arrives -> version 1
    v4 = spark.createDataFrame(
        [(1, "alice", "nice"), (2, "bob", "lyon"), (3, "carol", "paris")],
        "id int, name string, city string",
    )
    assert apply_scd2(lake, "dim", v4, ["id"], ["name", "city"],
                      surrogate_name="sk", effective_ts="2024-01-05 00:00:00") == 1
    assert lake.read("dim").filter("id = 3").first().version_number == 1


def test_scd2_composite_keys(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path))
    src = spark.createDataFrame(
        [(1, "eu", "a"), (1, "us", "b")], "id int, region string, val string"
    )
    apply_scd2(lake, "d", src, ["id", "region"], ["val"],
               effective_ts="2024-01-01 00:00:00")
    upd = spark.createDataFrame(
        [(1, "eu", "a2"), (1, "us", "b")], "id int, region string, val string"
    )
    assert apply_scd2(lake, "d", upd, ["id", "region"], ["val"],
                      effective_ts="2024-01-02 00:00:00") == 1
    assert lake.read("d").filter("is_current").count() == 2


# ---------------------------------------------------------------------------
# Lakehouse merge semantics
# ---------------------------------------------------------------------------


def test_upsert_guarded_update(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path))
    t0 = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k int, v string, ts int")
    lake.upsert("t", t0, keys=["k"])
    # newer source row updates; older one is ignored; new key inserts
    src = spark.createDataFrame(
        [(1, "a9", 9), (2, "b20", 20), (3, "c", 5)], "k int, v string, ts int"
    )
    lake.upsert("t", src, keys=["k"], update_condition="source.ts > target.ts")
    got = {r.k: (r.v, r.ts) for r in lake.read("t").collect()}
    assert got == {1: ("a", 10), 2: ("b20", 20), 3: ("c", 5)}


def test_upsert_partition_pruned_rewrites_only_touched(spark, tmp_path):
    """Bucket-partitioned MERGE (pcols <= keys): only the buckets the
    source touches are read and rewritten; untouched bucket directories
    keep their exact files, and semantics equal the full rewrite."""
    import os

    import pyspark.sql.functions as F

    def bucketed(df):
        return df.withColumn(
            "b", F.pmod(F.xxhash64(F.col("k")), F.lit(8)).cast("int")
        )

    base = bucketed(
        spark.range(0, 400).select(
            F.col("id").alias("k"), F.lit("old").alias("v"),
            F.lit(1).alias("ts"),
        )
    )
    lakeA = Lakehouse(spark, str(tmp_path / "pruned"))
    lakeB = Lakehouse(spark, str(tmp_path / "full"))
    lakeA.overwrite("t", base, partition_by=["b"])
    # the reference lake is unpartitioned, so its MERGE takes the
    # full-table rewrite
    lakeB.overwrite("t", base)

    # source: 3 updates + 1 insert, all landing in a known bucket subset
    src = bucketed(
        spark.createDataFrame(
            [(5, "new", 2), (7, "stale", 0), (11, "new", 2), (9999, "ins", 2)],
            "k long, v string, ts int",
        )
    )
    touched = {r.b for r in src.select("b").distinct().collect()}
    assert len(touched) < 8  # the test only proves pruning if some bucket is idle

    def files(lake):
        out = {}
        for root, _d, fs in os.walk(lake.path("t")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, lake.path("t"))] = os.path.getmtime(p)
        return out

    before = files(lakeA)
    guard = "source.ts > target.ts"
    lakeA.upsert("t", src, keys=["b", "k"], update_condition=guard)
    lakeB.upsert("t", src, keys=["b", "k"], update_condition=guard)
    after = files(lakeA)

    # untouched buckets: identical files (path + mtime); touched: replaced
    for rel, mtime in before.items():
        bucket = int(rel.split(os.sep)[0].split("=")[1])
        if bucket not in touched:
            assert after.get(rel) == mtime, f"untouched {rel} was rewritten"
        else:
            assert rel not in after or after[rel] != mtime
    # pruned result == full-rewrite result (guard honored: k=7 stays old)
    got = {(r.k, r.v, r.ts, r.b) for r in lakeA.read("t").collect()}
    want = {(r.k, r.v, r.ts, r.b) for r in lakeB.read("t").collect()}
    assert got == want
    as_map = {r.k: r.v for r in lakeA.read("t").collect()}
    assert as_map[5] == "new" and as_map[7] == "old" and as_map[9999] == "ins"
    assert lakeA.read("t").count() == 401


def test_upsert_insert_only_fast_path_appends(spark, tmp_path):
    """All-new source keys into a bucket-partitioned table: MERGE is
    an append of delta-sized files — NO partition is rewritten, not
    even the touched ones (Delta MERGE's no-matches behavior)."""
    import os

    import pyspark.sql.functions as F

    def bucketed(df):
        return df.withColumn(
            "b", F.pmod(F.xxhash64(F.col("k")), F.lit(4)).cast("int")
        )

    lake = Lakehouse(spark, str(tmp_path))
    base = bucketed(
        spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    )
    lake.overwrite("t", base, partition_by=["b"])

    def files():
        out = {}
        for root, _d, fs in os.walk(lake.path("t")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, lake.path("t"))] = os.path.getmtime(p)
        return out

    before = files()
    src = bucketed(
        spark.range(1000, 1016).select(
            F.col("id").alias("k"), F.lit("new").alias("v")
        )
    )
    lake.upsert("t", src, keys=["b", "k"])
    after = files()
    # every pre-existing file survives bit-identical; new files appear
    for rel, mtime in before.items():
        assert after.get(rel) == mtime, f"{rel} was rewritten on insert-only MERGE"
    assert len(after) > len(before)
    got = {r.k: r.v for r in lake.read("t").collect()}
    assert len(got) == 116 and got[5] == "old" and got[1005] == "new"
    # replay the same source: matches now exist -> pruned rewrite, no dupes
    lake.upsert("t", src, keys=["b", "k"])
    assert lake.read("t").count() == 116


def test_upsert_prune_requires_pcols_in_keys(spark, tmp_path):
    """Partition columns NOT in the merge keys must fall back to the
    full rewrite: a matched row may live in an unread partition (e.g.
    a late update that changes the partition value), which pruning
    would turn into a duplicate insert."""
    import pyspark.sql.functions as F

    lake = Lakehouse(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b")],
        "k int, day string, v string",
    )
    lake.overwrite("t", base, partition_by=["day"])
    # k=1 moves to a new day: MERGE-on-k must UPDATE the old row
    src = spark.createDataFrame(
        [(1, "2024-01-02", "a2")], "k int, day string, v string"
    )
    lake.upsert("t", src, keys=["k"])
    # partition-value inference reads `day` back as DATE — compare as str
    got = {
        (r.k, r.day, r.v)
        for r in lake.read("t")
        .select("k", F.col("day").cast("string").alias("day"), "v")
        .collect()
    }
    assert got == {(1, "2024-01-02", "a2"), (2, "2024-01-01", "b")}
    assert lake.read("t").where(F.col("k") == 1).count() == 1


def test_update_and_delete_where(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.createDataFrame([(1, True), (2, True)], "k int, cur boolean"))
    lake.update_where("t", "k = 1", {"cur": "false"})
    assert {r.k: r.cur for r in lake.read("t").collect()} == {1: False, 2: True}
    lake.delete_where("t", "k = 1")
    assert lake.read("t").count() == 1


@pytest.mark.parametrize(
    "rewrite, raises, expect",
    [
        # the job raises mid-write: the old table stays intact
        (lambda t: t.select(F.udf(lambda x: 1 // 0, "long")("id").alias("id")),
         True, range(100)),
        # a narrow rewrite that reads the table it replaces (no shuffle
        # between the scan and the write)
        (lambda t: t.where("id < 50"), False, range(50)),
    ],
    ids=["failed_job", "narrow_self_overwrite"],
)
def test_overwrite_never_loses_the_table(spark, tmp_path, rewrite, raises, expect):
    import contextlib
    import os

    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.range(100))
    with pytest.raises(Exception) if raises else contextlib.nullcontext():
        lake.overwrite("t", rewrite(lake.read("t")))
    assert sorted(r.id for r in lake.read("t").collect()) == list(expect)
    # the lake root holds the table link and exactly its live version:
    # no failed or superseded version, no temp link
    live = os.readlink(lake.path("t"))
    assert live.startswith(".v-t-") and sorted(os.listdir(tmp_path)) == [live, "t"]


class _FaultyModule:
    """Stands in for ``os`` or ``shutil`` inside ``storage.lakehouse``:
    logs every call of the commit's filesystem functions and raises on
    the ``fail = (function, n)``-th one."""

    CALLS = ("os.rename", "os.replace", "os.symlink", "os.link", "shutil.rmtree")

    def __init__(self, module, log, fail=None):
        self._module, self._log, self._fail = module, log, fail

    def __getattr__(self, attr):
        fn = getattr(self._module, attr)
        key = f"{self._module.__name__}.{attr}"
        if key not in self.CALLS:
            return fn

        def call(*a, **kw):
            self._log.append(key)
            if self._fail == (key, self._log.count(key)):
                raise OSError(f"injected failure of call {self._fail}")
            return fn(*a, **kw)

        return call


def _faulty_lakehouse_fs(monkeypatch, fail=None) -> list[str]:
    import os
    import shutil

    from ubeardw_databricks_lakehouse_spark.storage import lakehouse as lh

    log: list[str] = []
    monkeypatch.setattr(lh, "os", _FaultyModule(os, log, fail))
    monkeypatch.setattr(lh, "shutil", _FaultyModule(shutil, log, fail))
    return log


def _crash_points(log: list[str]) -> list[tuple[str, int]]:
    """The first and the last call of every function in ``log``."""
    return sorted({(k, n) for k in set(log) for n in (1, log.count(k))})


@pytest.mark.parametrize("pruned", [False, True], ids=["full", "pruned"])
def test_upsert_crash_at_any_commit_call_keeps_the_table(spark, tmp_path, pruned):
    """A MERGE whose commit dies at the first or the last call of any
    filesystem function it makes leaves the table present with exactly
    its old rows or exactly its merged rows, and a clean retry leaves
    the old rows the source does not touch plus every source row. Both
    a full-table rewrite and a partition-pruned rewrite (bucket column
    in the keys, one bucket touched) are covered."""
    def bucketed(df):
        return df.withColumn("b", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int"))

    base = bucketed(spark.range(100).select(F.col("id").alias("k"), F.lit("old").alias("v")))
    updated = [r.k for r in base.where("b = 0").limit(3).collect()]
    inserted = [
        r.k for r in bucketed(spark.range(100, 200).withColumnRenamed("id", "k"))
        .where("b = 0").limit(2).collect()
    ]
    src = bucketed(
        spark.createDataFrame([(k, "new") for k in updated + inserted], "k long, v string")
    )
    old = {(r.k, r.v, r.b) for r in base.collect()}
    merged = {row for row in old if row[0] not in updated} | {
        (r.k, r.v, r.b) for r in src.collect()
    }
    keys, partition_by = (["b", "k"], ["b"]) if pruned else (["k"], None)

    def merge(lake, fail=None):
        with pytest.MonkeyPatch.context() as mp:
            log = _faulty_lakehouse_fs(mp, fail)
            lake.upsert("t", src, keys=keys)
        return log

    def fresh(case):
        lake = Lakehouse(spark, str(tmp_path / case))
        lake.overwrite("t", base, partition_by=partition_by)
        return lake

    def rows(lake):
        return {(r.k, r.v, r.b) for r in lake.read("t").collect()}

    clean = fresh("clean")
    log = merge(clean)
    assert rows(clean) == merged
    for fn, n in _crash_points(log):
        lake = fresh(f"{fn}-{n}")
        with pytest.raises(OSError, match="injected"):
            merge(lake, fail=(fn, n))
        assert lake.exists("t"), (fn, n)
        assert rows(lake) in (old, merged), (fn, n)
        merge(lake)
        assert rows(lake) == merged, (fn, n)
    # the pruned commit carried the untouched buckets by hard link
    assert ("os.link" in log) == pruned and "os.replace" in log


def test_commit_survives_a_crash_at_every_call(tmp_path, monkeypatch):
    """The commit is pure filesystem work, so every call index of the
    clone (``_link_untouched``) and flip (``Lakehouse._commit``) helpers
    is failed in turn over a plain-file table: the table always holds
    exactly its old or exactly its new files, a clean retry commits the
    new ones, and ``vacuum`` then leaves only the live version."""
    import os
    import uuid

    from ubeardw_databricks_lakehouse_spark.maintenance.optimize import vacuum
    from ubeardw_databricks_lakehouse_spark.storage import lakehouse as lh

    old = {"b=0/p0.parquet": "o0", "b=1/p1.parquet": "o1", "b=2/p2.parquet": "o2",
           "_graft_meta.json": "{}"}
    touched = {"b=1/p9.parquet": "n1", "_graft_meta.json": "{}"}
    new = {**{k: v for k, v in old.items() if not k.startswith("b=1/")}, **touched}

    def version(root, files):
        d = os.path.join(root, f".v-t-{uuid.uuid4().hex[:8]}")
        for rel, body in files.items():
            os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
            with open(os.path.join(d, rel), "w") as f:
                f.write(body)
        return d

    def table(lake):
        out = {}
        for dirpath, _d, files in os.walk(lake.path("t")):
            for fn in files:
                with open(os.path.join(dirpath, fn)) as f:
                    out[os.path.relpath(os.path.join(dirpath, fn), lake.path("t"))] = f.read()
        return out

    def commit(lake, fail=None):
        with pytest.MonkeyPatch.context() as mp:
            log = _faulty_lakehouse_fs(mp, fail)
            v = version(lake.root, touched)
            lh._link_untouched(lake.path("t"), v)
            lake._commit("t", v)
        return log

    def fresh(case):
        lake = Lakehouse(None, str(tmp_path / case))
        lake._commit("t", version(lake.root, old))
        return lake

    log = commit(fresh("clean"))
    assert {"os.symlink", "os.replace", "os.link", "shutil.rmtree"} <= set(log)
    for fn in set(log):
        for n in range(1, log.count(fn) + 1):
            lake = fresh(f"{fn}-{n}")
            with pytest.raises(OSError, match="injected"):
                commit(lake, fail=(fn, n))
            assert table(lake) in (old, new), (fn, n)
            commit(lake)
            assert table(lake) == new, (fn, n)
            vacuum(lake, retention_hours=0)
            assert sorted(os.listdir(lake.root)) == [os.readlink(lake.path("t")), "t"]


# ---------------------------------------------------------------------------
# Expectations
# ---------------------------------------------------------------------------


def test_expectations_drop_warn_fail(spark):
    df = spark.createDataFrame(
        [(1, "x"), (None, "y"), (3, None)], "id int, name string"
    )
    rules = [
        Rule("id_not_null", "id IS NOT NULL", "drop"),
        Rule("name_not_null", "name IS NOT NULL", "warn"),
    ]
    applied = apply_expectations(df, rules)
    rows = applied.df.collect()
    assert len(rows) == 2  # null id dropped
    assert applied.metrics()["violations_name_not_null"] == 1

    failing = apply_expectations(df, [Rule("no_nulls", "id IS NOT NULL", "fail")])
    failing.df.collect()
    with pytest.raises(ExpectationFailed):
        failing.raise_on_failures()


# ---------------------------------------------------------------------------
# Text / dedup operators
# ---------------------------------------------------------------------------


def test_text_functions(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog"),
            (2, "le chat et la souris des champs une fois"),
            (3, "12345 67890 !!!???"),
        ],
        "doc_id int, text string",
    )
    out = df.select(
        "doc_id",
        token_count("text").alias("n"),
        lang_id("text").alias("lang"),
        quality_score("text").alias("q"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n == 8 and by_id[1].lang == "en"
    assert by_id[2].lang == "fr"
    assert by_id[3].lang == "und" and by_id[3].q < by_id[1].q


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "single",), (2, "two words")], "id int, text string")
    rows = df.select("id", word_shingles("text", 2).alias("s")).collect()
    got = {r.id: r.s for r in rows}
    assert got[1] == []
    assert got[2] == ["two words"]


def test_exact_dedup_survivor(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")],
        "doc_id int, text string",
    )
    groups = {r.fingerprint: r for r in exact_dedup_groups(df).collect()}
    sizes = sorted(g.n_docs for g in groups.values())
    assert sizes == [1, 2]
    dup_group = [g for g in groups.values() if g.n_docs == 2][0]
    assert dup_group.survivor_id == 1  # min id survives


def test_minhash_lsh_finds_planted_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = minhash_signatures(df, n_hashes=8, shingle_n=2)
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in cands
    verified = {
        (r.id_a, r.id_b)
        for r in neardup_verified_pairs(df, threshold=0.5).collect()
    }
    assert verified == {(1, 2)}


def test_winnow_selections_equal_array_variant(spark):
    from ubeardw_databricks_lakehouse_spark.operators.text import (
        winnow_fingerprints,
        winnow_selections,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    arr = {
        (r["doc_id"], h)
        for r in winnow_fingerprints(docs, k=12, w=5).collect()
        for h in r["winnow_sel"]
    }
    rows = {
        (r["doc_id"], r["h"])
        for r in winnow_selections(docs, k=12, w=5).collect()
    }
    assert rows == arr and rows


def test_winnow_fingerprint_partial_overlap(spark):
    from ubeardw_databricks_lakehouse_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, shared + " unique tail one goes here"),
        (2, shared + " totally different ending text"),
        (3, "no overlap with anything else whatsoever in this row"),
        (4, "short"),  # fewer chars than k -> empty selection
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sel = {
        r["doc_id"]: set(r["winnow_sel"])
        for r in winnow_fingerprints(df).collect()
    }
    # the shared prefix produces shared selections (partial overlap
    # visible); the unrelated doc shares ~nothing
    j12 = len(sel[1] & sel[2]) / len(sel[1] | sel[2])
    j13 = len(sel[1] & sel[3]) / len(sel[1] | sel[3])
    assert j12 > 0.4 > j13
    assert sel[4] == set()


def test_pack_sequences_density_and_coverage(spark):
    from ubeardw_databricks_lakehouse_spark.operators.chunking import (
        pack_sequences,
    )

    rows = [
        (1, "a", " ".join(f"t{i}" for i in range(10))),   # 10 tokens
        (2, "a", " ".join(f"u{i}" for i in range(7))),    # straddles the cut
        (3, "a", ""),                                      # empty: no packs
        (4, "b", " ".join(f"v{i}" for i in range(5))),    # separate shard
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, shard_col="source", context_len=8).collect()
    # every doc's slices cover exactly its tokens, in order
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    for doc, slices in by_doc.items():
        slices.sort(key=lambda r: r["pack_id"])
        covered = sum(r["slice_len"] for r in slices)
        assert covered == slices[0]["n_tokens"], doc
        assert slices[0]["doc_slice_start"] == 0
    # doc 2 (tokens 10..16 of shard a) straddles pack 1's start at 8:
    d2 = sorted(by_doc[2], key=lambda r: r["pack_id"])
    assert [(r["pack_id"], r["slice_len"]) for r in d2] == [(1, 6), (2, 1)]
    # density: every pack except each shard's last is exactly full
    packs = {}
    for r in out:
        packs.setdefault((r["shard"], r["pack_id"]), 0)
        packs[(r["shard"], r["pack_id"])] += r["slice_len"]
    for (shard, pid), total in packs.items():
        last = max(p for s, p in packs if s == shard)
        if pid != last:
            assert total == 8, (shard, pid, total)


def test_neardup_xxhash64_family_same_pairs(spark):
    # the production hash family must find the same verified pairs on
    # clearly-separated data (verification is hash-free; only LSH
    # collision luck can differ, and these pairs are far from the
    # collision boundary)
    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy cat tonight"),
        (3, "completely unrelated text about catalyst optimizers"),
        (4, "another unrelated fragment mentioning arrow batches"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    md5_pairs = {
        (r.id_a, r.id_b)
        for r in neardup_verified_pairs(df, threshold=0.4).collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b)
        for r in neardup_verified_pairs(
            df, threshold=0.4, hash_fn="xxhash64"
        ).collect()
    }
    assert (1, 2) in xx_pairs
    assert xx_pairs == md5_pairs


def test_neardup_with_persisted_signatures(spark, tmp_path):
    # warehouse pattern: materialize the signature table once, feed it
    # to the dedup pass — result must equal the one-shot pipeline
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox leaps over the lazy dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    one_shot = {
        tuple(r)
        for r in neardup_verified_pairs(df, threshold=0.4).collect()
    }

    sig_path = str(tmp_path / "signatures.parquet")
    minhash_signatures(df, n_hashes=8, shingle_n=2).write.parquet(sig_path)
    persisted = {
        tuple(r)
        for r in neardup_verified_pairs(
            df, threshold=0.4, signatures=spark.read.parquet(sig_path)
        ).collect()
    }
    assert persisted == one_shot and one_shot


def test_neardup_upsert_equals_batch_rerun(spark, monkeypatch):
    # the incremental contract: upsert(base_index, delta) emits exactly
    # the batch re-run's verified pairs that touch >=1 delta doc, and
    # base_index + returned delta bands == the batch-built index
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        lsh_band_index,
        neardup_upsert,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.where("doc_id % 10 != 0")
    delta = docs.where("doc_id % 10 = 0")
    base_index = lsh_band_index(minhash_signatures(base, n_hashes=8, shingle_n=2))
    pairs, delta_bands = neardup_upsert(base_index, delta, base, threshold=0.5)
    got = {tuple(r) for r in pairs.collect()}
    batch = neardup_verified_pairs(docs, threshold=0.5)
    want = {
        tuple(r)
        for r in batch.where("id_a % 10 = 0 OR id_b % 10 = 0").collect()
    }
    assert got == want and want  # non-trivial: sf0.001 has cross-split dups
    full_index = {
        tuple(r)
        for r in lsh_band_index(
            minhash_signatures(docs, n_hashes=8, shingle_n=2)
        ).collect()
    }
    upserted = {tuple(r) for r in base_index.unionByName(delta_bands).collect()}
    assert upserted == full_index
    # a session with broadcasts disabled plans no broadcast in any
    # checkpointed intermediate, and the join strategy never changes
    # the pairs
    from ubeardw_databricks_lakehouse_spark.core.session import checkpoint
    from ubeardw_databricks_lakehouse_spark.operators import dedup

    plans = []

    def recording_checkpoint(df):
        out = checkpoint(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    monkeypatch.setattr(dedup, "checkpoint", recording_checkpoint)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs2, _ = neardup_upsert(base_index, delta, base, threshold=0.5)
        got2 = {tuple(r) for r in pairs2.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(plans) == 3
    assert not [p for p in plans if "BroadcastExchange" in p]
    assert got2 == want


def test_neardup_upsert_planted_cross_split_pair(spark):
    # a planted near-dup pair split across base/delta must surface as
    # (base_id, delta_id) with id_a < id_b, verified counts exact
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        lsh_band_index,
        neardup_upsert,
    )

    base_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text about spark engines"),
        ],
        "doc_id long, text string",
    )
    delta_docs = spark.createDataFrame(
        [
            (7, "the quick brown fox jumps over the lazy cat"),
            (9, "unrelated delta document with novel words entirely"),
        ],
        "doc_id long, text string",
    )
    idx = lsh_band_index(minhash_signatures(base_docs, n_hashes=8, shingle_n=2))
    pairs, _ = neardup_upsert(idx, delta_docs, base_docs, threshold=0.4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 7)}


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "totally unrelated words appear here now"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.sh for r in df.select("doc_id", simhash64("text").alias("sh")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_topk_excludes_self_and_ranks(spark, emb):
    q = emb.filter("vec_id < 3")
    out = topk_brute_force(emb, q, k=4).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        assert r.neighbor_id != r.query_id
    for qid, rows in per_q.items():
        assert sorted(r[0] for r in rows) == [1, 2, 3, 4]


def test_topk_brute_force_rejects_oversized_query_set(spark, emb):
    """The driver-collect budget is explicit: a query set past
    max_query_rows raises with routing guidance (topk_lsh/ivf/ivfpq)
    instead of silently OOMing the driver."""
    with pytest.raises(ValueError, match="topk_lsh"):
        topk_brute_force(emb, emb, k=3, max_query_rows=10)


def test_lsh_topk_subset_quality(spark, emb):
    """ANN hits must be a subset of corpus ids and self-free; recall vs
    exact top-5 should be nontrivial on this data."""
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id) for r in topk_brute_force(emb, q, k=5).collect()}
    ann = topk_lsh(emb, q, dim=64, k=5, n_planes=4).collect()
    assert all(r.neighbor_id != r.query_id for r in ann)
    ann_pairs = {(r.query_id, r.neighbor_id) for r in ann}
    assert len(ann_pairs & exact) > 0


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def test_multimodal_binary_plumbing(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    blobbed = attach_binary_payload(df)
    meta = {r.doc_id: r.media_meta for r in blobbed.collect()}
    assert meta[1].n_bytes == 3 and meta[1].mime_type == "application/octet-stream"
    feats = {r.doc_id: r for r in decode_image_features(blobbed).collect()}
    assert feats[1].n_bytes == 3
    assert feats[1].first_byte == ord("a")
    assert feats[1].decode_status == "stubbed"
    assert feats[2].first_byte == -1


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------


def test_chunking_boundaries(spark):
    from ubeardw_databricks_lakehouse_spark.operators.chunking import chunk_documents

    text_20 = " ".join(f"w{i}" for i in range(20))
    text_5 = " ".join(f"w{i}" for i in range(5))
    df = spark.createDataFrame(
        [(1, text_20), (2, text_5), (3, "")], "doc_id long, text string"
    )
    chunks = chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc1: 20 tokens, step 6 -> chunks at 0,6,12 -> 1+ceil(12/6)=3 chunks
    assert len(by_doc[1]) == 3
    assert [r.n_chunk_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)] == [8, 8, 8]
    # consecutive chunks overlap by 2 tokens
    c0, c1 = [r.chunk_text.split() for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)[:2]]
    assert c0[-2:] == c1[:2]
    # doc2 fits in one chunk; empty doc produces none
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 5
    assert 3 not in by_doc

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_partition_inference_fresh_instance(spark, tmp_path):
    """A fresh Lakehouse must infer the on-disk partition layout."""
    l1 = Lakehouse(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a", "p1"), (2, "b", "p2")], "k int, v string, part string")
    l1.overwrite("t", df, partition_by=["part"])
    l2 = Lakehouse(spark, str(tmp_path))
    assert l2.partitioning("t") == ["part"]
    l2.update_where("t", "k = 1", {"v": "'z'"})
    import os

    assert sorted(
        d for d in os.listdir(l2.path("t")) if d.startswith("part=")
    ) == ["part=p1", "part=p2"]


def test_upsert_null_key_inserts_intact(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite("t", spark.createDataFrame([(1, "x")], "k int, v string"))
    src = spark.createDataFrame([(None, "nullkey"), (2, "y")], "k int, v string")
    lake.upsert("t", src, keys=["k"])
    rows = sorted([(r.k, r.v) for r in lake.read("t").collect()], key=str)
    assert rows == [(1, "x"), (2, "y"), (None, "nullkey")]


def test_catalog_specs_consistent(spark):
    """The declarative catalog agrees with the modules that consume it."""
    from ubeardw_databricks_lakehouse_spark.core.catalog import ENTITIES, GOLD_TABLES
    from ubeardw_databricks_lakehouse_spark.maintenance.optimize import ZORDER_CONFIG

    assert set(ENTITIES) == {"eater", "merchant", "courier", "trip_events"}
    assert ENTITIES["eater"].primary_key == "eater_id"
    assert ENTITIES["eater"].topic == "ubear.public.eater"
    assert any(r.action == "drop" for r in ENTITIES["trip_events"].expectations)
    assert GOLD_TABLES["trip_fact"].partition_by == ("date_partition", "region_partition")
    assert GOLD_TABLES["trip_fact"].merge_guard is not None
    assert ZORDER_CONFIG["trip_fact"][0] == "order_placed_at"
    assert GOLD_TABLES["dim_eater"].scd2_business_keys == ("eater_id",)


def test_connected_components_chain_and_singleton(spark):
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3 (diameter > 1 forces a second propagation round),
    # pair 10-11, singleton 99
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_planted_neardups(spark):
    from ubeardw_databricks_lakehouse_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " ok"),              # near-dup of 1
            (3, base + " ok fine"),          # near-dup of 2 (and likely 1)
            (4, "completely different words about sailing ships at sea"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["is_canonical"]
    assert out[2]["cluster_id"] == 1 and not out[2]["is_canonical"]
    assert out[3]["cluster_id"] == 1
    assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1
    # dedup keeps exactly one canonical per cluster
    assert sum(1 for r in out.values() if r["is_canonical"]) == 2


def test_hash_sampling_deterministic_and_disjoint(spark):
    from ubeardw_databricks_lakehouse_spark.operators.sampling import (
        assign_splits,
        hash_sample,
        stratified_hash_sample,
        top_k_per_stratum,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(300)],
        "doc_id long, lang string",
    )
    s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2, seed="s").collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2, seed="s").collect()}
    assert s1 == s2 and 30 <= len(s1) <= 90  # deterministic, ~20%
    # repartitioning must not change membership (the df.sample failure mode)
    s3 = {
        r["doc_id"]
        for r in hash_sample(df.repartition(7), "doc_id", 0.2, seed="s").collect()
    }
    assert s3 == s1

    splits = assign_splits(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="v1"
    )
    per = {r["doc_id"]: r["split"] for r in splits.collect()}
    assert len(per) == 300 and set(per.values()) == {"train", "val", "test"}

    strat = stratified_hash_sample(
        df, "doc_id", "lang", {"en": 1.0}, default_rate=0.0, seed="m"
    )
    langs = {r["lang"] for r in strat.collect()}
    assert langs == {"en"}  # rate-1 stratum fully kept, rate-0 fully dropped

    k = top_k_per_stratum(df, "doc_id", "lang", k=5)
    by_lang = k.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in by_lang} == {"en": 5, "fr": 5}


def test_ivf_topk_recall_vs_brute(spark, emb):
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        topk_brute_force,
        topk_ivf,
    )

    # mechanism on real test data: contiguous ranks, self-free, and
    # recall == nprobe/K on geometry-free labels (the documented bound)
    queries = emb.filter(F.col("vec_id") < 5)
    ivf_rows = topk_ivf(emb, queries, k=3, nprobe=2).collect()
    per_q = {}
    for r in ivf_rows:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())

    # recall on data where the quantizer matches geometry: 3 planted
    # directional clusters, labels = cluster -> IVF must find the same
    # neighbors as brute force
    import random

    rnd = random.Random(7)
    rows = []
    centers = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    for i in range(90):
        c = centers[i % 3]
        rows.append(
            (i, [v + rnd.uniform(-0.05, 0.05) for v in c], i % 3)
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = df.filter(F.col("vec_id") < 6)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_brute_force(df, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(df, q, k=5, nprobe=1).collect()
    }
    assert len(exact & got) / len(exact) == 1.0


def test_ivf_fast_centroids_match_exact(spark, emb):
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        _centroids,
        _centroids_fast,
        topk_ivf,
    )

    exact = {
        r["cell"]: r["cvec"]
        for r in _centroids(emb, "embedding", "label", 64).collect()
    }
    fast = {
        r["cell"]: r["cvec"]
        for r in _centroids_fast(emb, "embedding", "label", 64).collect()
    }
    assert set(exact) == set(fast)
    for cell, v in exact.items():
        w = fast[cell]
        assert len(v) == len(w) == 64
        assert max(abs(a - b) for a, b in zip(v, w)) < 1e-9

    # with centroids equal to 1e-9, the production search path finds
    # the same neighbors (ties at that tolerance would be a data fluke)
    q = emb.filter(F.col("vec_id") < 5)
    e = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, q, k=3, nprobe=2).collect()
    }
    f = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, q, k=3, nprobe=2, exact_centroids=False).collect()
    }
    assert len(e & f) / len(e) >= 0.9


def test_pii_redaction_patterns(spark):
    from ubeardw_databricks_lakehouse_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io and 192.168.1.254 then +33 (0)6-12-34-56"),
            (2, "no pii here at all"),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in df.select(
        "id", redact_pii("text").alias("red"), *pii_counts("text")
    ).collect()}
    assert out[1]["red"] == "mail <EMAIL> and <IP> then <PHONE>"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[2]["red"] == "no pii here at all"
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_phone"]) == (0, 0, 0)


def test_asof_join_semantics(spark):
    from ubeardw_databricks_lakehouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "k long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 100, "r_eq"), (1, 150, "r_mid"), (2, 60, "r_late")],
        "k long, ts long, tag string",
    )
    out = {r["pid"]: r["tag"] for r in asof_join(left, right, on=["k"]).collect()}
    # equal-ts right row matches; latest prior wins; nothing matches
    # before the first right row
    assert out == {"p1": "r_eq", "p2": "r_mid", "p3": None}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collides"):
        asof_join(left, right.withColumnRenamed("tag", "pid"), on=["k"])


def test_range_join_binned_boundaries(spark):
    from ubeardw_databricks_lakehouse_spark.operators.rangejoin import (
        range_join_binned,
    )

    pts = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 25), (4, 99)], "pid long, x long"
    )
    ivs = spark.createDataFrame(
        # [5,10] inclusive both ends; [8,26] crosses two bin borders at w=10
        [(100, 5, 10), (200, 8, 26)], "iid long, lo long, hi long"
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join_binned(pts, ivs, "x", "lo", "hi", bin_width=10).collect()
    }
    assert got == {(1, 100), (2, 100), (2, 200), (3, 200)}
    # bin_width="auto" derives the median span and must produce the
    # SAME match set (bin width changes the plan, never the result);
    # the sized hash build (broadcasts disabled) likewise changes only
    # the physical join
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (old, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            auto = {
                (r["pid"], r["iid"])
                for r in range_join_binned(
                    pts, ivs, "x", "lo", "hi", bin_width="auto"
                ).collect()
            }
            assert auto == got, threshold
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bin_width"):
        range_join_binned(pts, ivs, "x", "lo", "hi", bin_width=0)


def test_salted_join_matches_plain_and_spreads(spark):
    from ubeardw_databricks_lakehouse_spark.operators.skew import salted_join

    # 90% of fact rows hit one hot key
    fact = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, i * 10) for i in range(200)],
        "row_id long, k long, v long",
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, tag string")
    salted = salted_join(fact, dim, on=["k"], salt_from="row_id", n_salts=4)
    plain = fact.join(dim, "k")
    assert salted.count() == plain.count() == 200
    a = {tuple(r) for r in salted.select("row_id", "tag").collect()}
    b = {tuple(r) for r in plain.select("row_id", "tag").collect()}
    assert a == b
    # the hot key's rows actually spread across multiple salts
    from pyspark.sql import functions as FF

    spread = (
        fact.withColumn(
            "_salt", FF.pmod(FF.xxhash64("row_id"), FF.lit(4)).cast("int")
        )
        .filter("k = 1")
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread == 4


def test_sentence_split_udtf(spark):
    from ubeardw_databricks_lakehouse_spark.operators.udtf_ops import (
        SentenceSplit,
    )

    spark.udtf.register("sentence_split_t", SentenceSplit)
    spark.createDataFrame(
        [(1, "First one. Second two words! Third?  "), (2, None), (3, "...")],
        "doc_id long, text string",
    ).createOrReplaceTempView("_sent_docs")
    rows = spark.sql(
        "SELECT d.doc_id, s.* FROM _sent_docs d, "
        "LATERAL sentence_split_t(d.text) s"
    ).collect()
    got = [(r["doc_id"], r["sent_idx"], r["sentence"], r["n_words"]) for r in rows]
    assert got == [
        (1, 0, "First one.", 2),
        (1, 1, "Second two words!", 3),
        (1, 2, "Third?", 1),
    ]  # NULL text and terminator-only text expand to nothing


def test_approx_profile_error_bounds(spark):
    from ubeardw_databricks_lakehouse_spark.operators.sketches import (
        approx_profile,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    got = {
        r["event_type"]: r
        for r in approx_profile(
            ev, ["event_type"], distinct_col="user_id", quantile_col="value"
        ).collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("d"),
            F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("q"),
        )
        .collect()
    }
    for et, e in exact.items():
        g = got[et]
        # HLL++ at rsd=0.05: allow 3 sigma
        assert abs(g["approx_distinct_user_id"] - e["d"]) <= 0.15 * e["d"]
        for approx_q, exact_q in zip(g["approx_quantiles_value"], e["q"]):
            assert abs(approx_q - exact_q) <= 0.05 * max(abs(exact_q), 1.0)


def test_contamination_report_known_overlap(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        contamination_report,
    )

    train = spark.createDataFrame(
        [
            # shares the eval doc's full text -> every 3-gram collides
            (1, "alpha beta gamma delta epsilon"),
            # shares a 3-word window with eval doc 100
            (2, "x y alpha beta gamma z w"),
            # clean
            (3, "one two three four five six"),
            # too short for any 3-gram -> absent from the report
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_report(train, evalset, n=3).collect()
    }
    assert set(rows) == {1, 2, 3}  # doc 4 has no 3-grams
    assert rows[1]["contaminated"] and rows[1]["n_overlap"] == 3
    assert rows[2]["contaminated"] and rows[2]["n_overlap"] == 1
    assert rows[2]["n_eval_docs"] == 1
    assert not rows[3]["contaminated"] and rows[3]["n_overlap"] == 0


def test_ngram_doc_frequency_counts_repeats(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        ngram_doc_frequency,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # "a b" x3, "b a" x2 within one doc
            (2, "a b c"),
            (3, "c d e"),
        ],
        ["doc_id", "text"],
    )
    stats = {
        r["ngram"]: r for r in ngram_doc_frequency(df, n=2, min_doc_freq=2).collect()
    }
    assert set(stats) == {"a b"}  # only bigram present in >= 2 docs
    assert stats["a b"]["doc_freq"] == 2
    assert stats["a b"]["total_occurrences"] == 4  # 3 in doc1 + 1 in doc2


def test_gopher_quality_flags_rules(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        gopher_quality_flags,
    )

    # 40 distinct-ish words incl. "the" -> top_word_frac 1/40, every rule green
    long_ok = "the " + " ".join(f"word{i}" for i in range(39))
    no_stop = " ".join(["zig zag quux blorp fnord"] * 8)  # 40 words, no stopword
    repeated = "the " + " ".join(["dup"] * 40)  # top_word_frac ~ 40/41
    short = "the quick brown fox"
    rows = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            spark.createDataFrame(
                [(1, long_ok), (2, no_stop), (3, repeated), (4, short)],
                ["doc_id", "text"],
            )
        ).collect()
    }
    assert rows[1]["keep"]
    assert not rows[2]["keep"] and not rows[2]["has_stopword"]
    assert not rows[3]["keep"] and rows[3]["top_word_frac"] > 0.9
    assert not rows[4]["keep"] and rows[4]["n_words"] == 4
    # dup_bigram_frac: "a b a b" repetition detected
    assert rows[3]["dup_bigram_frac"] > 0.9


def test_upsert_schema_evolution(spark, tmp_path):
    import pyspark.sql.functions as F

    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path))
    lake.overwrite(
        "t",
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]),
    )
    evolved = spark.createDataFrame([(2, "b2", 9.5), (3, "c", 7.0)],
                                    ["k", "v", "score"])
    # without the flag: explicit error, no silent drop
    import pytest as _pytest
    with _pytest.raises(ValueError, match="score"):
        lake.upsert("t", evolved, keys=["k"])
    lake.upsert("t", evolved, keys=["k"], allow_schema_evolution=True)
    got = {r["k"]: r for r in lake.read("t").collect()}
    assert set(lake.read("t").columns) == {"k", "v", "score"}
    assert got[1]["v"] == "a" and got[1]["score"] is None  # untouched row
    assert got[2]["v"] == "b2" and got[2]["score"] == 9.5  # updated
    assert got[3]["v"] == "c" and got[3]["score"] == 7.0   # inserted


def test_curate_corpus_stage_attribution(spark):
    """Planted casualties: each pipeline stage claims the right doc."""
    from ubeardw_databricks_lakehouse_spark.pipelines.curation import (
        curate_corpus,
    )

    base = "the " + " ".join(f"tok{i}" for i in range(49))  # 50 words, clean
    alt = "the " + " ".join(f"alt{i}" for i in range(49))
    near = "the " + " ".join(f"tok{i}" for i in range(48)) + " tail"  # ~near-dup of base
    docs = spark.createDataFrame(
        [
            (0, alt),                      # eval holdout (0 % 50 == 0)
            (1, "too short"),              # fails quality (n_words < 30)
            (2, alt),                      # shares 8-grams with eval doc 0
            (3, base),                     # survivor (canonical)
            (4, base),                     # exact dup of 3
            (5, near),                     # near-dup of 3 (jaccard > .5)
            (6, "the " + " ".join(f"z{i}" for i in range(60))),  # kept
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in curate_corpus(docs).collect()}
    assert got[0]["status"] == "eval_holdout"
    assert got[1]["status"] == "dropped_quality"
    assert got[2]["status"] == "dropped_contaminated"
    assert got[3]["status"] == "kept" and got[3]["n_chunks"] >= 1
    assert got[4]["status"] == "dropped_exact_dup"
    assert got[5]["status"] == "dropped_near_dup"
    assert got[6]["status"] == "kept"
    assert got[1]["n_chunks"] == 0 and got[4]["n_chunks"] == 0


def test_sqrt_mixing_flattens_source_skew(spark):
    """p ~ sqrt(n): the dominant source's kept share shrinks versus its
    corpus share; small sources keep (close to) everything."""
    from ubeardw_databricks_lakehouse_spark.operators.sampling import (
        sqrt_mixing_sample,
        sqrt_mixing_thresholds,
    )

    rows = [(i, "big") for i in range(900)] + [(900 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    th = {r["source"]: r for r in sqrt_mixing_thresholds(df, "source").collect()}
    # small source: rate capped at 1.0 -> threshold 10000
    assert th["small"]["bucket_thresh"] == 10000
    assert th["big"]["bucket_thresh"] < 5000  # big source down-weighted
    kept = sqrt_mixing_sample(df, "doc_id", "source").groupBy("source").count()
    got = {r["source"]: r["count"] for r in kept.collect()}
    assert got["small"] == 100
    big_share_before = 0.9
    big_share_after = got["big"] / (got["big"] + got["small"])
    assert big_share_after < big_share_before


def test_quantized_embeddings_roundtrip_and_recall(spark, emb):
    """Dequantization error <= scale/2 per element; cosine top-5 over
    dequantized vectors keeps high recall vs exact float top-5."""
    from ubeardw_databricks_lakehouse_spark.operators.similarity import (
        dequantize_expr,
        quantize_embeddings,
        topk_brute_force,
    )

    q = quantize_embeddings(emb)
    joined = emb.join(q, "vec_id").select(
        "vec_id", "embedding", "q_scale",
        dequantize_expr(F.col("qvec"), F.col("q_min"), F.col("q_scale")).alias("deq"),
    )
    err = joined.select(
        F.max(
            F.array_max(
                F.zip_with(
                    "embedding", "deq",
                    lambda a, b: F.abs(a.cast("double") - b.cast("double"))
                    / F.greatest(F.col("q_scale"), F.lit(1e-12)),
                )
            )
        ).alias("max_err_in_scales")
    ).first()
    # |x - deq(q(x))| <= scale/2 (+ float32 storage noise)
    assert err["max_err_in_scales"] <= 0.51, err

    queries = emb.filter(F.col("vec_id") < 10)
    exact = topk_brute_force(emb, queries, k=5)
    deq_corpus = joined.select("vec_id", F.col("deq").alias("embedding"))
    deq_queries = deq_corpus.filter(F.col("vec_id") < 10)
    approx = topk_brute_force(deq_corpus, deq_queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall


def test_upsert_with_cdf_records_changes(spark, tmp_path):
    """Parquet CDF twin: inserts/updates captured with Delta's change-row
    vocabulary; unchanged rows emit nothing; since_ts filters commits."""
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import (
        Lakehouse,
        read_changes,
        upsert_with_cdf,
    )

    lake = Lakehouse(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upsert_with_cdf(lake, "t", v1, keys=["k"], batch_ts="2024-01-01 00:00:00")
    # first commit: both rows are inserts
    c1 = read_changes(lake, "t").collect()
    assert sorted((r["k"], r["_change_type"]) for r in c1) == [
        (1, "insert"), (2, "insert"),
    ]

    v2 = spark.createDataFrame([(2, "b2"), (3, "c")], ["k", "v"])
    upsert_with_cdf(lake, "t", v2, keys=["k"], batch_ts="2024-01-02 00:00:00")
    c2 = read_changes(lake, "t", since_ts="2024-01-01 12:00:00").collect()
    assert sorted((r["k"], r["_change_type"]) for r in c2) == [
        (2, "update_postimage"), (2, "update_preimage"), (3, "insert"),
    ]
    pre = [r for r in c2 if r["_change_type"] == "update_preimage"][0]
    post = [r for r in c2 if r["_change_type"] == "update_postimage"][0]
    assert pre["v"] == "b" and post["v"] == "b2"

    # no-op upsert (identical rows) emits NO change rows
    upsert_with_cdf(lake, "t", v2, keys=["k"], batch_ts="2024-01-03 00:00:00")
    c3 = read_changes(lake, "t", since_ts="2024-01-02 12:00:00").collect()
    assert c3 == []
    # the table itself is the merged state
    assert {r["k"]: r["v"] for r in lake.read("t").collect()} == {
        1: "a", 2: "b2", 3: "c",
    }


def test_upsert_with_cdf_guard_rejected_rows_emit_nothing(spark, tmp_path):
    """Delta CDF records only APPLIED changes: a late row rejected by
    the merge guard must keep the target row AND stay out of the CDF
    (pre-fix it emitted phantom pre/post images)."""
    from ubeardw_databricks_lakehouse_spark.storage.lakehouse import (
        Lakehouse,
        read_changes,
        upsert_with_cdf,
    )

    lake = Lakehouse(spark, str(tmp_path))
    guard = "source.updated_at > target.updated_at"
    v1 = spark.createDataFrame([(1, "new", 20), (2, "x", 20)], ["k", "v", "updated_at"])
    upsert_with_cdf(lake, "t", v1, keys=["k"], update_condition=guard,
                    batch_ts="2024-01-01 00:00:00")
    # late batch: k=1 is STALE (updated_at 10 < 20) -> guard rejects;
    # k=3 is a fresh insert (guards never block inserts)
    v2 = spark.createDataFrame([(1, "stale", 10), (3, "c", 5)], ["k", "v", "updated_at"])
    upsert_with_cdf(lake, "t", v2, keys=["k"], update_condition=guard,
                    batch_ts="2024-01-02 00:00:00")
    changes = read_changes(lake, "t", since_ts="2024-01-01 12:00:00").collect()
    assert sorted((r["k"], r["_change_type"]) for r in changes) == [(3, "insert")]
    # table state matches: the stale update never applied
    assert {r["k"]: r["v"] for r in lake.read("t").collect()} == {
        1: "new", 2: "x", 3: "c",
    }
    # nullable first data column must not confuse insert detection
    v3 = spark.createDataFrame([(2, None, 30)], "k long, v string, updated_at long")
    upsert_with_cdf(lake, "t", v3, keys=["k"], update_condition=guard,
                    batch_ts="2024-01-03 00:00:00")
    c3 = read_changes(lake, "t", since_ts="2024-01-02 12:00:00").collect()
    assert sorted((r["k"], r["_change_type"]) for r in c3) == [
        (2, "update_postimage"), (2, "update_preimage"),
    ]


def test_clustered_neardup_recall_vs_exact_sf01(spark):
    """SemDeDup production path: cluster-blocked pairs must recover
    >= 0.95 of the exact all-pairs tile grid's pairs at sf0.1 with the
    operator's own defaults (K=32, nprobe=6), and emit zero false
    positives (within-cell similarity math is identical)."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_clustered,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_clustered(emb, threshold=0.4).collect()
    }
    assert not got - exact  # no false positives, ever
    assert len(got & exact) / len(exact) >= 0.95


def test_embedding_dedup_fast_contract(spark):
    """The fast dedup keep-list has the exact twin's shape: every
    vector labeled once, one canonical per cluster, sizes consistent;
    missed cross-cell pairs can only SPLIT clusters (more canonicals),
    never merge them."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        embedding_dedup_clusters,
        embedding_dedup_clusters_fast,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_dedup_clusters(emb, threshold=0.4).collect()
    fast = embedding_dedup_clusters_fast(emb, threshold=0.4).collect()
    assert len(fast) == len(exact) == emb.count()
    by_cluster = {}
    for r in fast:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rows in by_cluster.items():
        assert sum(1 for r in rows if r["is_canonical"]) == 1
        assert all(r["cluster_size"] == len(rows) for r in rows)
    # fewer-or-equal merges than the exact twin
    assert len(by_cluster) >= len({r["cluster_id"] for r in exact})


def test_repetition_profile_planted(spark):
    from ubeardw_databricks_lakehouse_spark.operators.text import repetition_profile

    docs = spark.createDataFrame(
        [
            # 4 lines, "same line" 3x -> dup_line_frac 2/4; grams repeat
            (1, "same line\nsame line\nsame line\nunique tail"),
            # no repetition at all
            (2, "all words here are different ones entirely"),
            # empty doc
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_profile(docs, n=2).collect()}
    assert out[1]["n_lines"] == 4
    assert abs(out[1]["dup_line_frac"] - 0.5) < 1e-9
    # 27 chars in duplicated lines ("same line" x3) / 38 total line chars
    assert abs(out[1]["dup_line_char_frac"] - 27 / 38) < 1e-6
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_ngram_frac"] == 0.0
    assert out[3]["n_lines"] == 0 and out[3]["dup_line_char_frac"] == 0.0


def test_unigram_lm_orders_common_before_rare(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        unigram_logprob_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),          # most common token only
            (2, "the zyzzyva qoph xylem"),   # mostly hapaxes
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bits_per_token"] for r in
           unigram_logprob_score(docs).collect()}
    assert out[1] < out[2]  # common-word doc is "more likely" under the LM


def test_dsir_importance_prefers_target_like(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        dsir_importance,
    )
    from pyspark.sql import functions as F

    rows = []
    for i in range(20):  # target domain: english-ish bigrams
        rows.append((i, "en", "the quick brown fox jumps over the lazy dog"))
    for i in range(20, 40):  # source-only domain
        rows.append((i, "xx", "lorem ipsum dolor sit amet consectetur adipiscing"))
    # held-out docs, one per domain
    rows.append((100, "xx", "the quick brown fox jumps over the lazy dog"))
    rows.append((101, "en", "lorem ipsum dolor sit amet consectetur adipiscing"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["doc_id"]: r["importance"] for r in
           dsir_importance(docs, F.col("lang") == "en").collect()}
    # target-looking text scores high regardless of its own label
    assert out[100] > out[101]


def test_span_dedup_keep_first_and_reassembly(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import span_dedup

    # spans of 3 tokens; doc 1 and doc 2 share span "a b c"; doc 3 is
    # entirely duplicated spans of doc 1 -> survives with empty text
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # spans: "a b c", "d e f"
            (2, "a b c x y z"),        # "a b c" dup -> keeps "x y z"
            (3, "a b c"),              # fully duplicate -> text_clean ''
            (4, "p q"),                # single short span, unique
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in span_dedup(df, span_tokens=3).collect()}
    assert rows[1]["text_clean"] == "a b c d e f" and rows[1]["n_kept"] == 2
    assert rows[2]["text_clean"] == "x y z" and rows[2]["n_kept"] == 1
    assert rows[3]["text_clean"] == "" and rows[3]["n_kept"] == 0
    assert rows[4]["text_clean"] == "p q" and rows[4]["n_spans"] == 1
    # invariant: kept spans never exceed totals; global distinct preserved
    assert all(r["n_kept"] <= r["n_spans"] for r in rows.values())


def test_hashed_linear_score_deterministic_and_bounded(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        hashed_linear_score,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in hashed_linear_score(df).collect()}
    # same text -> identical score (hash-derived weights are pure)
    assert rows[1]["score"] == rows[2]["score"]
    assert rows[1]["label"] == rows[2]["label"]
    # mean of weights in [-1, 1] stays in [-1, 1]
    assert -1.0 <= rows[1]["score"] <= 1.0
    # empty doc: defined zero, not null/NaN
    assert rows[3]["n_tokens"] == 0 and rows[3]["score"] == 0.0
    assert rows[3]["label"] is False


def test_contamination_bloom_superset_of_exact(spark):
    """Bloom membership has zero false negatives: every document the
    exact broadcast-join path flags must be flagged by the bloom path;
    the FP excess at 2^20 bits / 4 hashes over this corpus is zero or
    near-zero (bounded here at 2% of train docs)."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        contamination_bloom,
        contamination_report,
    )
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    evalset = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    exact = {
        r["doc_id"]
        for r in contamination_report(train, evalset, n=8)
        .where("contaminated")
        .collect()
    }
    bloom_rows = contamination_bloom(train, evalset, n=8).collect()
    flagged = {r["doc_id"] for r in bloom_rows if r["contaminated"]}
    assert exact <= flagged, f"false negatives: {sorted(exact - flagged)[:5]}"
    n_train = len(bloom_rows)
    assert len(flagged - exact) <= max(1, int(0.02 * n_train)), (
        f"FP excess too large: {len(flagged - exact)} of {n_train}"
    )


def test_train_bpe_matches_reference_exactly(spark):
    """Distributed BPE == pure-Python reference, merge-for-merge, on the
    sf0.001 corpus (deterministic tie-break: count desc, pair asc)."""
    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        train_bpe,
        train_bpe_reference,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    assert train_bpe(docs, n_merges=12) == train_bpe_reference(texts, n_merges=12)


def test_train_bpe_merge_fold_handles_overlaps(spark):
    """Greedy left-to-right on runs: 'aaaa' under merge (a,a) becomes
    [aa, aa], and 'aaa' becomes [aa, a] — the fold must not re-merge a
    token it just created."""
    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        train_bpe,
        train_bpe_reference,
    )

    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaa ab ab ab")], ["doc_id", "text"]
    )
    got = train_bpe(df, n_merges=3)
    ref = train_bpe_reference(["aaaa aaaa aaa ab ab ab"], n_merges=3)
    assert got == ref
    assert got[0][:2] == ("a", "a")  # 'aa' is the most frequent pair


def test_train_bpe_batched_matches_reference_exactly(spark):
    """The batch>1 scale path == its pure-Python reference with the
    SAME batch/max_candidates, merge-for-merge, on the sf0.001 corpus
    — the pin the module docstring promises. Also pins the pass
    economy: batch=4 must cut Spark passes at least 3x vs one-per-
    merge (each pass can defer interacting candidates, so exactly
    n/batch passes is not guaranteed)."""
    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        train_bpe,
        train_bpe_reference,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    got, passes = train_bpe(docs, n_merges=24, batch=4, return_passes=True)
    assert got == train_bpe_reference(texts, n_merges=24, batch=4)
    assert len(got) == 24
    assert passes <= 8, f"batch=4 should need <=8 passes for 24 merges, took {passes}"


def test_train_bpe_batched_rule_b_created_token_skip(spark):
    """Hand-built rule-(b) case: after picking (a,b) in a pass, a later
    candidate using the just-created token 'ab' as a symbol must be
    deferred to the next pass — its start-of-pass count goes stale the
    moment (a,b) merges manufactures more 'ab' tokens. Checked at the
    unit level against _pick_compatible directly (the exact shape), and
    end-to-end Spark == reference on a small corpus."""
    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        _pick_compatible,
        train_bpe,
        train_bpe_reference,
    )

    # unit-level: the exact rule-(b) shape — (a,b) picked, then (ab,c)
    # must be skipped even though it shares NO raw symbol with {a,b}
    cands = [("a", "b", 10), ("ab", "c", 9), ("x", "y", 8)]
    picked = _pick_compatible(cands, want=3)
    assert ("a", "b", 10) in picked and ("x", "y", 8) in picked
    assert all(p[:2] != ("ab", "c") for p in picked)

    # end-to-end: Spark batched trainer == reference on a corpus that
    # actually produces that candidate ordering
    text = "aab aab aab abc abc xy xy xy"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = train_bpe(df, n_merges=4, batch=4)
    assert got == train_bpe_reference([text], n_merges=4, batch=4)


def test_q_bpe_encode_totals_match_python_replay(spark):
    """Registry-level pin for the rows-only q_bpe_encode: per-language
    word and BPE-token totals must equal a pure-Python replay (train
    via the pinned reference, encode via encode_word) on the sf0.001
    corpus."""
    from collections import defaultdict

    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        encode_word,
        train_bpe_reference,
    )
    from ubeardw_databricks_lakehouse_spark.plans.llm_q import q_bpe_encode

    sf = "/root/testdata/sf0.001"
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_bpe_tokens"])
        for r in q_bpe_encode(spark, sf).collect()
    }
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("lang", "text")
        .collect()
    )
    merges = train_bpe_reference([r["text"] for r in rows], n_merges=32, batch=8)
    rank_merges = [(a, b) for a, b, _ in merges]
    cache: dict[str, int] = {}

    def n_toks(w: str) -> int:
        if w not in cache:
            cache[w] = len(encode_word(w, rank_merges))
        return cache[w]

    ref = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        words = (r["text"] or "").split()
        ref[r["lang"]][0] += 1
        ref[r["lang"]][1] += len(words)
        ref[r["lang"]][2] += sum(n_toks(w) for w in words)
    assert got == {k: tuple(v) for k, v in ref.items()}


def test_bpe_encode_matches_encode_word(spark):
    """mapInPandas encoder == per-word reference encoder; token counts
    and previews line up; round-trip of symbols strips to the original
    word + end marker."""
    from ubeardw_databricks_lakehouse_spark.operators.bpe import (
        bpe_encode,
        encode_word,
        train_bpe,
    )

    df = spark.createDataFrame(
        [(1, "banana bandana"), (2, "banana"), (3, "")], ["doc_id", "text"]
    )
    merges = train_bpe(df, n_merges=4)
    rank_merges = [(a, b) for a, b, _ in merges]
    rows = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    exp1 = [s for w in "banana bandana".split() for s in encode_word(w, rank_merges)]
    assert rows[1]["n_bpe_tokens"] == len(exp1)
    assert rows[1]["tokens_preview"] == " ".join(exp1[:8])
    assert rows[3]["n_words"] == 0 and rows[3]["n_bpe_tokens"] == 0
    # lossless: concatenating symbols reproduces the word + marker
    assert "".join(encode_word("banana", rank_merges)) == "banana</w>"


def _pq_reference_numpy(ids, vecs, m, ksub, n_iter, seed_ids):
    """Pure-numpy PQ reference mirroring pq_train/pq_encode exactly:
    seeds = seed_ids' subvectors (in list order), Lloyd assign by L2
    with tie-break on cell id, centroids = mean of 6-dp-rounded
    components."""
    import numpy as np

    X = np.asarray(vecs, dtype="float64")
    dsub = X.shape[1] // m
    subs = X.reshape(len(ids), m, dsub)
    id_ix = {v: i for i, v in enumerate(ids)}
    cents = np.stack([subs[id_ix[s]] for s in seed_ids], axis=1)  # (m? no)
    # cents shape: (ksub, m, dsub) -> transpose to (m, ksub, dsub)
    cents = cents.transpose(1, 0, 2).copy()
    codes = None
    for _ in range(n_iter):
        d = ((subs[:, :, None, :] - cents[None, :, :, :]) ** 2).sum(-1)
        codes = d.argmin(-1)  # ties: argmin picks lowest index = cell id
        for s in range(m):
            for c in range(ksub):
                mask = codes[:, s] == c
                if mask.any():
                    cents[s, c] = np.round(subs[mask, s], 6).mean(0)
    d = ((subs[:, :, None, :] - cents[None, :, :, :]) ** 2).sum(-1)
    codes = d.argmin(-1)
    mse = d.min(-1).sum(-1) / X.shape[1]
    return cents, codes, mse


def test_pq_matches_numpy_reference_exact(spark):
    """On dyadic-exact data (sums are exact in float64), the
    distributed PQ codebook and codes equal the numpy reference
    bit-for-bit."""
    import numpy as np

    from ubeardw_databricks_lakehouse_spark.operators.pq import (
        pq_encode,
        pq_train,
    )

    # two tight clusters in each subspace; dim=4, m=2, ksub=2
    vecs = [
        (1, [0.0, 0.0, 1.0, 1.0]),
        (2, [0.25, 0.0, 1.0, 0.75]),
        (3, [0.0, 0.25, 0.75, 1.0]),
        (4, [2.0, 2.0, -1.0, -1.0]),
        (5, [2.25, 2.0, -1.0, -0.75]),
        (6, [2.0, 2.25, -0.75, -1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    seed_ids = [1, 4]
    cents = pq_train(
        df, m=2, ksub=2, n_iter=2, dim=4, seed_ids=seed_ids
    )
    ids = [v[0] for v in vecs]
    ref_cents, ref_codes, ref_mse = _pq_reference_numpy(
        ids, [v[1] for v in vecs], 2, 2, 2, seed_ids
    )
    got = {
        (r["sub_id"], r["cell"]): r["cvec"] for r in cents.collect()
    }
    for s in range(2):
        for c in range(2):
            assert np.allclose(got[(s, c)], ref_cents[s, c], atol=0, rtol=0), (
                s, c, got[(s, c)], ref_cents[s, c])
    enc = {r["vec_id"]: r for r in pq_encode(df, cents, m=2, dim=4).collect()}
    for i, v in enumerate(ids):
        assert enc[v]["codes"] == " ".join(str(c) for c in ref_codes[i])
        assert abs(enc[v]["mse"] - ref_mse[i]) < 1e-12


def test_pq_invariants_and_monotone_error(spark):
    """Real corpus: every vector gets m codes in [0, ksub); Lloyd
    iterations do not increase reconstruction error."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.pq import (
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()

    def avg_mse(n_iter):
        cents = pq_train(emb, m=8, ksub=16, n_iter=n_iter)
        enc = pq_encode(emb, cents)
        assert enc.count() == n
        bad = enc.where(
            F.exists(
                F.split("codes", " "),
                lambda c: (c.cast("int") < 0) | (c.cast("int") >= 16),
            )
        ).count()
        assert bad == 0
        assert enc.where(F.size(F.split("codes", " ")) != 8).count() == 0
        return enc.agg(F.avg("mse")).first()[0]

    e0, e2 = avg_mse(0), avg_mse(2)
    assert e2 <= e0 + 1e-12, (e0, e2)


def test_connected_components_star_matches_propagation_random(spark):
    """Star CC == min-label propagation run to its fixpoint on a random
    multi-component graph (same labels, since both converge to
    component minima)."""
    import random

    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        _min_label_propagation,
        _symmetrized,
        connected_components_star,
    )

    rnd = random.Random(7)
    n = 60
    edges = []
    # three ground-truth blobs over ids 0-19, 20-39, 40-59 plus noise inside
    for base in (0, 20, 40):
        ids = list(range(base, base + 20))
        rnd.shuffle(ids)
        edges += list(zip(ids, ids[1:]))  # spanning chain keeps blob connected
        edges += [
            (rnd.choice(ids), rnd.choice(ids)) for _ in range(10)
        ]
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    v = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    labels, converged = _min_label_propagation(_symmetrized(e), 100)
    assert converged
    prop = {r["v"]: r["lbl"] for r in labels.collect()}
    assert len(prop) == n  # every id is an endpoint of the spanning chains
    star = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(e, v).collect()
    }
    assert star == prop
    assert sorted(set(star.values())) == [0, 20, 40]


def test_connected_components_star_deep_chain(spark):
    """A 200-node chain (diameter 199): label propagation's bounded
    round budget CANNOT finish it, the star algorithm converges in
    O(log n) rounds — so ``connected_components`` (the entry point
    ``q_entity_clusters`` and ``resolve_entities`` call) must still
    return a single component."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 200
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    v = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    star = connected_components_star(e, v)
    assert star.where("component != 0").count() == 0  # one component, min id 0
    got = connected_components(e, v)
    assert got.count() == n
    assert got.where("component != 0").count() == 0


def test_connected_components_engine_selection(spark):
    """Engine selection: shallow graphs resolve inside the propagation
    budget; a graph deeper than the budget flips to the star engine
    instead of returning unconverged labels."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    # deep chain (diameter 199 >> prop_budget): auto must converge
    n = 200
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    v = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = connected_components(e, v)
    assert got.where("component != 0").count() == 0
    # shallow blob + singleton: same labels as ground truth
    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    v2 = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)], "doc_id long")
    got2 = {
        r["doc_id"]: r["component"]
        for r in connected_components(e2, v2).collect()
    }
    assert got2 == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}


def test_connected_components_star_singletons_and_self_loops(spark):
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components_star,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 2), (5, 5)], "id_a long, id_b long"
    )  # self-loops ignored
    v = spark.createDataFrame([(i,) for i in (1, 2, 5, 9)], "doc_id long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(e, v).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}


def test_dedup_clusters_star_engine_equivalent(spark):
    """dedup_clusters equals clusters built by the star engine from the
    same verified pairs on the sf0.001 corpus."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        connected_components_star,
        dedup_clusters,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(docs).collect()
    }
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(
            neardup_verified_pairs(docs).select("id_a", "id_b"), docs
        ).collect()
    }
    sizes = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    want = {d: (c, sizes[c], d == c) for d, c in comp.items()}
    assert got == want
    assert any(size > 1 for size in sizes.values())  # non-trivial clusters


def test_resize_raw_images_exact_gather(spark):
    """Hand-check the nearest-neighbor gather: a 6x6 byte grid resized
    to 4x4 samples rows/cols [0,1,3,4] (floor(i*6/4))."""
    import hashlib

    import numpy as np

    from ubeardw_databricks_lakehouse_spark.operators.multimodal import (
        resize_raw_images,
    )

    grid = bytes(range(36))  # 6x6, pixel (y,x) = 6y+x
    df = spark.createDataFrame(
        [(1, bytearray(grid))], "doc_id long, media_blob binary"
    )
    r = resize_raw_images(df).collect()[0]
    assert r["src_w"] == 6
    sel = np.array(
        [[6 * y + x for x in (0, 1, 3, 4)] for y in (0, 1, 3, 4)],
        dtype=np.uint8,
    )
    assert r["resized_digest"] == hashlib.md5(sel.tobytes()).hexdigest()


def test_documents_corpus_is_ascii(spark):
    """q_image_resize's char-wise oracle is byte-exact only on ASCII
    corpora — pin that property of the testdata here so a data change
    fails loudly instead of as a silent hash mismatch."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    non_ascii = docs.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert non_ascii == 0


def test_remove_duplicate_spans_any_alignment_keep_first(spark):
    from ubeardw_databricks_lakehouse_spark.operators.curation import (
        remove_duplicate_spans,
    )

    # k=3 grams. Doc 2 repeats doc 1's "b c d" at an UNALIGNED offset
    # (position 1) — exactly the case the window-aligned span_dedup
    # misses; doc 1 holds the first occurrence and must keep all
    # tokens. Doc 3 duplicates a gram WITHIN itself. Doc 4 is shorter
    # than k and must pass through untouched.
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # grams: "a b c","b c d","c d e"
            (2, "x b c d y"),          # its "b c d" is a later occurrence
            (3, "p q r p q r"),        # self-duplicate "p q r" (pos 0 & 3)
            (4, "u v"),                # shorter than k -> no grams
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, k=3).collect()
    }
    assert rows[1]["text_clean"] == "a b c d e" and rows[1]["n_removed"] == 0
    # doc 2 loses positions 1..3 (the covered b c d), keeps x and y
    assert rows[2]["text_clean"] == "x y" and rows[2]["n_removed"] == 3
    # doc 3: dup instance at start 3 covers 3..5; the overlapping
    # middle grams "q r p"/"r p q" are unique so only the repeat goes
    assert rows[3]["text_clean"] == "p q r" and rows[3]["n_removed"] == 3
    assert rows[4]["text_clean"] == "u v" and rows[4]["n_removed"] == 0
    assert all(r["n_removed"] <= r["n_tokens"] for r in rows.values())


def test_cms_never_undercounts_and_small_sketch_is_exact(spark):
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    keys = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 1], ["key"]
    )
    truth = {"a": 5, "b": 3, "c": 1}
    cands = spark.createDataFrame([(k,) for k in truth], ["key"])
    # wide sketch: 3 keys in 4x512 cells collide with probability ~0 —
    # every estimate must be exact
    wide = cms_estimate(cms_build(keys), cands)
    assert {r["key"]: r["cms_estimate"] for r in wide.collect()} == truth
    # brutally narrow sketch (width=1): every row is one bucket holding
    # the full stream -> estimate = 9 for every key, still never under
    narrow = cms_estimate(
        cms_build(keys, width=1), cands, width=1
    ).collect()
    assert all(r["cms_estimate"] == 9 for r in narrow)
    # the general invariant on a mid-width sketch
    mid = cms_estimate(cms_build(keys, width=2), cands, width=2).collect()
    assert all(r["cms_estimate"] >= truth[r["key"]] for r in mid)
    # unseen key estimates 0 (all its cells may be empty) or collides up
    ghost = spark.createDataFrame([("zzz",)], ["key"])
    g = cms_estimate(cms_build(keys), ghost).collect()[0]
    assert g["cms_estimate"] >= 0


def test_winsorize_summary_hand_case(spark):
    from ubeardw_databricks_lakehouse_spark.operators.stats import (
        winsorize_summary,
    )

    # group g: values 1..10 with p10/p90 = 1.9 / 9.1 (linear interp);
    # exactly one value clamps at each side
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)], ["grp", "value"]
    )
    r = winsorize_summary(df, "value", "grp", lower=0.1, upper=0.9).collect()[0]
    assert r["n"] == 10
    assert abs(r["p_lo"] - 1.9) < 1e-12 and abs(r["p_hi"] - 9.1) < 1e-12
    assert r["n_clipped_low"] == 1 and r["n_clipped_high"] == 1
    # winsorized sum: 1.9 + 2..9 + 9.1 = 55
    assert abs(r["sum_winsorized"] - 55.0) < 1e-9


def test_kmv_distinct_exact_below_k_and_bounded_above(spark):
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.sketches import (
        kmv_distinct,
    )

    # group small: 10 distinct keys < k=64 -> sketch holds all, exact.
    # group big: 500 distinct keys -> estimate within the ~1/sqrt(k-2)
    # relative-error envelope (generous 3-sigma bound)
    rows = [("small", i) for i in range(10) for _ in range(3)]
    rows += [("big", i) for i in range(500)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    out = {r["grp"]: r for r in kmv_distinct(df, "key", "grp", k=64).collect()}
    assert out["small"]["n_distinct_sketch"] == 10
    assert out["small"]["kmv_estimate"] == 10.0
    assert out["big"]["n_distinct_sketch"] == 64
    est = out["big"]["kmv_estimate"]
    assert abs(est - 500) / 500 < 3 / (62 ** 0.5)
    # determinism: rerun is bit-identical (md5 sketch, no RNG)
    again = {
        r["grp"]: r for r in kmv_distinct(df, "key", "grp", k=64).collect()
    }
    assert again["big"]["kmv_estimate"] == est


def test_fuzzy_block_pairs_uncapped_matches_exact_twin(spark):
    """The production operator with no cap (and with a never-binding
    cap) must reproduce the oracle-paired exact pipeline on the part
    names — same (last-token, length-band) blocking, same verify."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs,
    )
    from ubeardw_databricks_lakehouse_spark.plans.relational import (
        _fuzzy_name_pairs,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.name_a, r.name_b, r.dist)
        for r in _fuzzy_name_pairs(spark, sf).collect()
    }
    names = spark.read.parquet(f"{sf}/part.parquet").select(
        "p_name"
    )
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_block_pairs(names, name_col="p_name").collect()
    }
    assert got == exact and len(exact) > 0
    capped = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_block_pairs(
            names, name_col="p_name", block_cap=10**6
        ).collect()
    }
    assert capped == exact


def test_fuzzy_block_pairs_cap_modes(spark):
    """A hot block (every name shares the suffix and the length band)
    exercises the cap: 'salt' keeps a same-salt subset of the exact
    pairs, 'drop' removes the oversized cell, 'error' raises with the
    offending block named."""
    import pytest as _pytest

    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs,
    )

    # 60 names, same last token "inc", same length -> one hot cell;
    # pairwise distance 2 within each stem family (digits differ).
    rows = [(f"acme{i:02d} st{j} inc",) for i in range(6) for j in range(10)]
    names = spark.createDataFrame(rows, ["name"])
    exact = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs(names, max_dist=4).collect()
    }
    assert len(exact) > 0

    salted = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs(names, max_dist=4, block_cap=10).collect()
    }
    assert salted <= exact and 0 < len(salted) < len(exact)

    dropped = fuzzy_block_pairs(
        names, max_dist=4, block_cap=10, on_oversize="drop"
    ).collect()
    assert dropped == []

    with _pytest.raises(ValueError, match="block_cap=10"):
        fuzzy_block_pairs(
            names, max_dist=4, block_cap=10, on_oversize="error"
        ).collect()

    with _pytest.raises(ValueError, match="on_oversize"):
        fuzzy_block_pairs(names, block_cap=10, on_oversize="explode")


def test_resolve_entities_matches_registry_capstone(spark):
    """resolve_entities (uncapped) over part names == q_entity_clusters
    rows (modulo ordering)."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        resolve_entities,
    )
    from ubeardw_databricks_lakehouse_spark.plans.relational import (
        q_entity_clusters,
    )

    sf = "/root/testdata/sf0.001"
    names = spark.read.parquet(f"{sf}/part.parquet").select("p_name")
    got = {
        (r.entity, r.cluster_rep, r.cluster_size, r.is_canonical)
        for r in resolve_entities(names, name_col="p_name").collect()
    }
    want = {
        (r.entity, r.cluster_rep, r.cluster_size, r.is_canonical)
        for r in q_entity_clusters(spark, sf).collect()
    }
    assert got == want and len(want) > 0


def test_fuzzy_multi_pass_recovers_capped_recall(spark):
    """One hot last-token block, capped: single-pass salting loses
    cross-salt pairs; adding an independent first-token key recovers
    them (variants here share their first token)."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs,
        fuzzy_block_pairs_multi,
    )

    rows = [(f"stem{i:02d} branch{j} inc",) for i in range(6) for j in range(10)]
    names = spark.createDataFrame(rows, ["name"])
    exact = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs(names, max_dist=4).collect()
    }
    single = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs(names, max_dist=4, block_cap=10).collect()
    }
    multi = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs_multi(
            names, max_dist=4, block_cap=10
        ).collect()
    }
    assert single < multi <= exact


def test_fuzzy_extra_blocks_superset_and_seeded_keys(spark):
    """extra_blocks (the r9 domain-key hook) appends to the battery,
    never replaces it: the result is always a superset of the default
    multi-pass output and stays within the uncapped exact set. Seeded
    head_min_bigram keys must differ by seed (independent passes) and
    be deterministic per seed."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs,
        fuzzy_block_pairs_multi,
        head_min_bigram,
    )

    rows = [(f"stem{i:02d} branch{j} inc",) for i in range(6) for j in range(10)]
    names = spark.createDataFrame(rows, ["name"])
    exact = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs(names, max_dist=4).collect()
    }
    multi = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs_multi(
            names, max_dist=4, block_cap=10
        ).collect()
    }
    extra = {
        (r.name_a, r.name_b)
        for r in fuzzy_block_pairs_multi(
            names,
            max_dist=4,
            block_cap=10,
            extra_blocks=[head_min_bigram("name", seed=s) for s in (1, 2)],
        ).collect()
    }
    assert multi <= extra <= exact
    keys = names.select(
        head_min_bigram("name", seed=1).alias("k1"),
        head_min_bigram("name", seed=2).alias("k2"),
        head_min_bigram("name", seed=1).alias("k1b"),
    ).collect()
    assert any(r["k1"] != r["k2"] for r in keys)  # seeds independent
    assert all(r["k1"] == r["k1b"] for r in keys)  # per-seed determinism


def test_id_half_keys_recover_serial_edits(spark):
    """The structured-ID domain keys (r9 hook): when the edit hits the
    serial token itself, the default battery's head-last-token key
    breaks (different serial -> different block) and the other default
    keys are hot here (shared suffix, shared first word) — but a
    single substitution leaves one HALF of the serial intact, so
    extra_blocks=id_half_keys recovers every planted pair."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs_multi,
        id_half_keys,
    )

    base = [f"alpha {1000 + 137 * i:04d} inc" for i in range(40)]
    variants = []
    planted = []
    for i in range(0, 40, 2):  # corrupt one serial digit per variant
        src = base[i]
        pos = 6 + (i % 4)  # inside the 4-digit serial ("x" > any digit)
        var = src[:pos] + "x" + src[pos + 1 :]
        variants.append(var)
        planted.append((src, var))
    names = spark.createDataFrame([(x,) for x in base + variants], ["name"])
    got_default = {
        tuple(sorted((r.name_a, r.name_b)))
        for r in fuzzy_block_pairs_multi(
            names, max_dist=4, block_cap=10
        ).collect()
    }
    got_domain = {
        tuple(sorted((r.name_a, r.name_b)))
        for r in fuzzy_block_pairs_multi(
            names,
            max_dist=4,
            block_cap=10,
            extra_blocks=id_half_keys("name"),
        ).collect()
    }
    assert got_default <= got_domain
    missed_default = set(planted) - got_default
    missed_domain = set(planted) - got_domain
    assert not missed_domain, missed_domain  # half-key guarantee
    assert missed_default  # and the default battery alone DID lose some


def test_id_half_keys_null_on_degenerate_tokens(spark):
    """Tokens of length < 2 (or the empty string regexp_extract yields
    on no-match) have no meaningful halves: the keys must be NULL so
    the rows drop out of this pass (equi-joins never match NULL) and
    fall back to the default battery, instead of piling into one
    shared ''-block (r9 ADVICE)."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        id_half_keys,
    )

    df = spark.createDataFrame(
        [("acme 7 inc",), ("zz9x",), ("",)], ["name"]
    )
    k1, k2 = id_half_keys("name")
    rows = {
        r["name"]: (r["k1"], r["k2"])
        for r in df.select("name", k1.alias("k1"), k2.alias("k2")).collect()
    }
    assert rows["acme 7 inc"] == (None, None)  # 1-char serial token
    assert rows[""] == (None, None)  # extract misses -> '' token
    assert rows["zz9x"] == ("zz", "9x")  # healthy token still splits


def test_head_of_strips_one_corporate_suffix(spark):
    from ubeardw_databricks_lakehouse_spark.operators.linkage import head_of

    df = spark.createDataFrame(
        [
            ("acme trading inc",),
            ("acme co ltd",),       # one strip only, from the end
            ("Maple GmbH",),        # case-insensitive, no trailing dot
            ("northern sa.",),      # trailing dot stripped too
            ("incline holdings",),  # 'inc' as a prefix is NOT a suffix
            ("inc",),               # bare suffix has no head to protect
        ],
        ["name"],
    )
    got = [r["h"] for r in df.select(head_of("name").alias("h")).collect()]
    assert got == [
        "acme trading", "acme co", "Maple", "northern",
        "incline holdings", "inc",
    ]


def test_fuzzy_multi_suffix_hot_recall_via_head_key(spark):
    """The r7-verdict hot-suffix scenario in miniature: every name ends
    in 'inc', so the single-pass last-token block is one hot cell that
    salting shreds — but the suffix-stripped head's last token (here a
    unique serial) is maximally discriminative, so the multi-pass
    defaults recover EVERY planted variant whose edit leaves that
    token alone, at the same O(N*cap)."""
    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        fuzzy_block_pairs,
        fuzzy_block_pairs_multi,
    )

    base = [f"alpha beta {i:03d} inc" for i in range(120)]
    planted = set()
    names = list(base)
    for i in range(0, 120, 3):  # 40 variants, edit in the word part
        var = base[i].replace("alpha", "alpho", 1)
        names.append(var)
        planted.add(tuple(sorted((base[i], var))))
    df = spark.createDataFrame([(n,) for n in names], ["name"])

    single = {
        tuple(sorted((r.name_a, r.name_b)))
        for r in fuzzy_block_pairs(df, max_dist=4, block_cap=20).collect()
    }
    multi = {
        tuple(sorted((r.name_a, r.name_b)))
        for r in fuzzy_block_pairs_multi(
            df, max_dist=4, block_cap=20
        ).collect()
    }
    assert len(single & planted) < len(planted)  # salting loses pairs
    assert planted <= multi  # head key recovers all of them


def test_resolve_entities_multi_merges_what_capped_single_loses(spark):
    """resolve_entities(multi=True) at a tight cap clusters every
    planted variant with its base on the suffix-hot synthetic, where
    the capped single pass leaves some variants in singleton clusters.
    Also pins the blocks-xor-multi argument guard."""
    import pytest

    from ubeardw_databricks_lakehouse_spark.operators.linkage import (
        resolve_entities,
    )

    base = [f"alpha beta {i:03d} inc" for i in range(120)]
    names = list(base)
    planted = []
    for i in range(0, 120, 3):
        var = base[i].replace("alpha", "alpho", 1)
        names.append(var)
        planted.append((base[i], var))
    df = spark.createDataFrame([(n,) for n in names], ["name"])

    def rep_map(ents):
        return {r["entity"]: r["cluster_rep"] for r in ents.collect()}

    single = rep_map(resolve_entities(df, block_cap=20))
    multi = rep_map(resolve_entities(df, block_cap=20, multi=True))
    merged_single = sum(single[a] == single[b] for a, b in planted)
    merged_multi = sum(multi[a] == multi[b] for a, b in planted)
    assert merged_single < len(planted)
    assert merged_multi == len(planted)

    with pytest.raises(ValueError, match="not both"):
        resolve_entities(
            df, block_cap=20, multi=True,
            blocks=[__import__("pyspark.sql.functions", fromlist=["F"]).col("name")],
        )


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment(A->B) == 1.0
    while Jaccard is far below any near-dup threshold — the asymmetric
    detector's whole point. Also pins directionality (B is not
    contained in A) and the prefix-filter's losslessness on a pair
    whose shared shingles are globally common."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(80))
    df = spark.createDataFrame(
        [
            (1, quote),
            (2, f"{filler} {quote}"),
            (3, "completely different text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, n=2, threshold=0.7).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0
    jac = jaccard_pairs(df, n=2, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the quote entirely


def test_containment_prefix_lossless_threshold_grid(spark):
    """Prefix-filter losslessness across a threshold grid. Brute-force
    all-pairs containment is the oracle; the prefix-filtered operator
    must reproduce it exactly for every threshold, including ones
    whose float product is adversarial (1/3, 2/3, 0.7). The ulp-corner
    case this grid structurally cannot reach (r9 advice) is pinned
    separately by test_containment_prefix_ulp_corner."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        containment_pairs,
        with_shingles,
    )

    words = [f"w{i}" for i in range(14)]
    docs = [
        (i, " ".join(words[i : i + 6] + words[: i % 4]))
        for i in range(10)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = {
        r["doc_id"]: set(r["_sh"])
        for r in with_shingles(df, "doc_id", "text", 2).collect()
    }
    for t in (0.3, 1.0 / 3.0, 0.5, 2.0 / 3.0, 0.7, 0.9):
        expect = {
            (a, b)
            for a in sh
            for b in sh
            if a != b and sh[a]
            and len(sh[a] & sh[b]) / len(sh[a]) > t
        }
        got = {
            (r.id_a, r.id_b)
            for r in containment_pairs(df, n=2, threshold=t).collect()
        }
        assert got == expect, f"threshold={t}"


def test_containment_prefix_ulp_corner(spark):
    """The r9-advice counterexample to the r8 |A|-floor(t*|A|) prefix:
    |A| = 6 bigrams, t one ulp below 5/6, and B shares exactly the 5
    COMMONEST of A's shingles (A's rarest bigram is unique to A). The
    verify filter passes (fl(5/6) = 0.8333333333333334 > t) so the
    pair MUST surface; the lossy form's 1-shingle prefix is exactly
    A's unique rarest bigram and never generates the candidate. The
    floor((1-t)*|A|)+1 form yields a 2-shingle prefix and stays
    lossless (exhaustive m<=500 search in the advice: zero lossy
    pairs for this form)."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        containment_pairs,
    )

    t = 0.8333333333333333  # one ulp below 5/6
    df = spark.createDataFrame(
        [
            (1, "x1 a b c d e f"),        # 6 bigrams; x1_a unique to A
            (2, "p q r a b c d e f"),     # shares a_b..e_f = 5 of A's 6
            (3, "unrelated words about engines"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, n=2, threshold=t).collect()
    }
    assert (1, 2) in got, "ulp-corner pair lost by the prefix filter"
    assert abs(got[(1, 2)] - 5.0 / 6.0) < 1e-12
    assert (2, 1) not in got  # 5/9 direction stays below threshold


# ---------------------------------------------------------------------------
# t-digest mergeable quantile sketch (r10 — q_quantile_sketch pins)
# ---------------------------------------------------------------------------


def test_tdigest_rank_error_bound(spark):
    """Rank error <= 1.5/delta on a mixed uniform + lognormal +
    point-mass input (the adversarial shapes: heavy tail, ties);
    min/max/total exact."""
    import numpy as np

    from ubeardw_databricks_lakehouse_spark.operators.tdigest import (
        tdigest_build,
        tdigest_quantiles,
    )

    rng = np.random.default_rng(42)
    vals = np.concatenate(
        [
            rng.uniform(-5, 5, 40_000),
            rng.lognormal(0.0, 1.5, 40_000),
            np.full(20_000, 1.0),  # point mass: 20% ties
        ]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    delta = 200.0
    dig = tdigest_build(df, "v", delta=delta)
    row = dig.collect()[0]
    assert row["total"] == float(len(vals))
    assert row["tmin"] == float(vals.min())
    assert row["tmax"] == float(vals.max())
    assert len(row["means"]) <= 2 * delta  # bounded-size summary
    s = np.sort(vals)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {r["q"]: r["value"] for r in tdigest_quantiles(dig, qs).collect()}
    for q in qs:
        # rank of the estimate in the sorted data (ties: take the
        # midpoint of the tied run — the rank the estimate "means")
        lo = np.searchsorted(s, est[q], side="left") / len(s)
        hi = np.searchsorted(s, est[q], side="right") / len(s)
        err = 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))
        assert err <= 1.5 / delta, (q, est[q], lo, hi)


def test_tdigest_merge_matches_full_build(spark):
    """The mergeability contract: digests built per shard and MERGED
    must answer quantiles within the same rank-error bound as the
    one-shot digest, with total/min/max exactly additive."""
    import numpy as np

    from ubeardw_databricks_lakehouse_spark.operators.tdigest import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantiles,
    )

    rng = np.random.default_rng(7)
    vals = rng.normal(100.0, 15.0, 60_000)
    df = spark.createDataFrame(
        [(float(v), int(i % 8)) for i, v in enumerate(vals)],
        "v double, shard int",
    )
    delta = 200.0
    per_shard = tdigest_build(df, "v", ["shard"], delta=delta)
    assert per_shard.count() == 8
    merged = tdigest_merge(per_shard, [], delta=delta)
    row = merged.collect()[0]
    assert row["total"] == float(len(vals))
    assert row["tmin"] == float(vals.min())
    assert row["tmax"] == float(vals.max())
    s = np.sort(vals)
    qs = [0.05, 0.5, 0.95]
    est = {
        r["q"]: r["value"] for r in tdigest_quantiles(merged, qs).collect()
    }
    for q in qs:
        lo = np.searchsorted(s, est[q], side="left") / len(s)
        hi = np.searchsorted(s, est[q], side="right") / len(s)
        err = 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))
        assert err <= 1.5 / delta, (q, est[q])


def test_tdigest_small_input_and_nulls(spark):
    """n <= delta: every value is its own centroid, so interior
    quantiles interpolate the exact order statistics; nulls are
    excluded (SQL aggregate semantics)."""
    from ubeardw_databricks_lakehouse_spark.operators.tdigest import (
        tdigest_build,
        tdigest_quantiles,
    )

    rows = [(float(v),) for v in range(1, 11)] + [(None,)]
    df = spark.createDataFrame(rows, "v double")
    dig = tdigest_build(df, "v", delta=200.0)
    row = dig.collect()[0]
    assert row["total"] == 10.0
    assert sorted(row["means"]) == [float(v) for v in range(1, 11)]
    est = {
        r["q"]: r["value"]
        for r in tdigest_quantiles(dig, [0.0, 0.5, 1.0]).collect()
    }
    assert est[0.0] == 1.0 and est[1.0] == 10.0
    assert est[0.5] == 5.5  # midpoint interpolation between 5 and 6


def test_q_quantile_sketch_shape(spark):
    """Registry surface: one row per (source, q) plus the merged
    __all__ rollup; global estimates bracketed by per-source extremes
    (merge sanity without pinning implementation-defined values)."""
    from ubeardw_databricks_lakehouse_spark.plans.llm_q import (
        q_quantile_sketch,
    )

    out = q_quantile_sketch(spark, "/root/testdata/sf0.001").collect()
    sources = {r["source"] for r in out}
    assert "__all__" in sources and len(sources) >= 2
    per_q = {}
    for r in out:
        per_q.setdefault(r["q"], {})[r["source"]] = r["value"]
    for q, by_src in per_q.items():
        glob = by_src["__all__"]
        rest = [v for s, v in by_src.items() if s != "__all__"]
        assert min(rest) <= glob <= max(rest), (q, by_src)


# ---------------------------------------------------------------------------
# systematic PPS weighted sampling (r10 — q_weighted_sample pins)
# ---------------------------------------------------------------------------


def test_pps_sample_exact_math(spark):
    """Selection events number exactly W_total div T, a whale spanning
    two multiples absorbs one (row count in [k-1, k] here); a row with
    w > T is selected with CERTAINTY regardless of seed; w = 0 rows
    never select; selection probability is proportional to weight
    (measured across seeds within binomial noise)."""
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.sampling import (
        pps_systematic_sample,
    )

    # 100 rows of weight 10 + one whale of weight 600 + one zero
    rows = [(i, 10) for i in range(100)] + [(1000, 600), (1001, 0)]
    df = spark.createDataFrame(rows, "id long, w long")
    tot = 100 * 10 + 600  # 1600; k=4 -> T=400; whale w=600 > T
    for seed in ("a", "b", "c"):
        sel = {
            r["id"]: r["w"]
            for r in pps_systematic_sample(df, "id", "w", 4, seed=seed).collect()
        }
        # 4 selection events; the whale (w=600, up to 2 multiples)
        # may absorb one -> 3 or 4 distinct rows
        assert tot // 400 - 1 <= len(sel) <= tot // 400
        assert 1000 in sel  # certainty inclusion: w > T
        assert 1001 not in sel  # zero-weight: empty interval
    # proportionality: double-weight rows select ~2x as often
    df2 = spark.createDataFrame(
        [(i, 1) for i in range(400)] + [(1000 + i, 2) for i in range(400)],
        "id long, w long",
    )
    light = heavy = 0
    for s in range(30):
        got = pps_systematic_sample(df2, "id", "w", 60, seed=str(s)).collect()
        light += sum(1 for r in got if r["w"] == 1)
        heavy += sum(1 for r in got if r["w"] == 2)
    # expected heavy/light = 2; binomial noise over 30 seeds is tight
    assert 1.6 <= heavy / light <= 2.5, (heavy, light)


def test_pps_sample_guards(spark):
    from pyspark.sql import functions as F

    from ubeardw_databricks_lakehouse_spark.operators.sampling import (
        pps_systematic_sample,
    )

    df = spark.range(10).select("id", F.lit(1.5).alias("w"))
    with pytest.raises(TypeError, match="integral"):
        pps_systematic_sample(df, "id", "w", 2)
    df2 = spark.range(10).select(
        "id", F.lit(1).alias("w"), F.lit(0).alias("_cumw")
    )
    with pytest.raises(ValueError, match="_cumw"):
        pps_systematic_sample(df2, "id", "w", 2)
    with pytest.raises(ValueError, match="k must be"):
        pps_systematic_sample(
            spark.range(3).select("id", F.lit(1).alias("w")), "id", "w", 0
        )


def test_release_local_checkpoint_frees_blocks(spark):
    """df.unpersist() does NOT free checkpoint blocks (measured — the
    helper's reason to exist); release_local_checkpoint does, and is a
    safe no-op on non-checkpointed frames."""
    from ubeardw_databricks_lakehouse_spark.core.session import (
        release_local_checkpoint,
    )

    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persisted()
    df = spark.range(1000).localCheckpoint(eager=True)
    assert n_persisted() == base + 1
    assert release_local_checkpoint(df) is True
    assert n_persisted() == base
    # a projection over the checkpoint (the .drop() shape iterative
    # loops carry): the leaf could be SHARED with another live frame,
    # so by default it is left alone — releasing it requires the
    # explicit allow_projection opt-in (r11 advice: silent-corruption
    # failure mode on a public core.session export)
    df2 = (
        spark.range(1000)
        .selectExpr("id", "id * 2 as b")
        .localCheckpoint(eager=True)
    )
    assert n_persisted() == base + 1
    assert release_local_checkpoint(df2.drop("b")) is False
    assert n_persisted() == base + 1
    assert release_local_checkpoint(df2.drop("b"), allow_projection=True) is True
    assert n_persisted() == base
    # non-checkpointed frame: no-op, returns False
    assert release_local_checkpoint(spark.range(5)) is False
    # a join of two frames (multi-leaf): left alone even when opted in
    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(10).localCheckpoint(eager=True)
    assert release_local_checkpoint(a.join(b, "id"), allow_projection=True) is False
    assert n_persisted() == base + 2
    release_local_checkpoint(a)
    release_local_checkpoint(b)


def test_checkpoint_scope_releases_on_exit_and_nests(spark):
    """checkpoint() outside any scope is a plain eager localCheckpoint
    (nothing frees it); inside scopes a frame belongs to the innermost
    one and is released when that scope exits — also when the block
    raises."""
    import pytest

    from ubeardw_databricks_lakehouse_spark.core.session import (
        checkpoint,
        checkpoint_scope,
        release_local_checkpoint,
    )

    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persisted()
    loose = checkpoint(spark.range(10))
    with checkpoint_scope():
        outer = checkpoint(spark.range(20))
        with checkpoint_scope():
            checkpoint(spark.range(30))
            assert n_persisted() == base + 3
        assert n_persisted() == base + 2
        assert outer.count() == 20
    assert n_persisted() == base + 1
    with pytest.raises(ZeroDivisionError):
        with checkpoint_scope():
            checkpoint(spark.range(40))
            1 / 0
    assert n_persisted() == base + 1
    assert loose.count() == 10
    release_local_checkpoint(loose)
    assert n_persisted() == base


def test_checkpoint_scope_is_per_thread(spark):
    """A scope closing on one thread must not release a frame that
    another thread registered in its own, still-open scope."""
    import threading

    from ubeardw_databricks_lakehouse_spark.core.session import (
        checkpoint,
        checkpoint_scope,
    )

    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    registered, finish = threading.Event(), threading.Event()
    box = {}

    def worker():
        with checkpoint_scope():
            box["df"] = checkpoint(spark.range(50))
            registered.set()
            finish.wait(120)

    base = n_persisted()
    t = threading.Thread(target=worker)
    with checkpoint_scope():
        t.start()
        assert registered.wait(120)
        checkpoint(spark.range(10))
        assert n_persisted() == base + 2
    try:
        # only this thread's frame went; the worker's is still pinned
        assert n_persisted() == base + 1
        assert box["df"].count() == 50
    finally:
        finish.set()
        t.join(120)
    assert n_persisted() == base


def test_prebuilt_ivfpq_index_survives_scoped_reps(spark):
    """The cached IVFADC index is long-lived state (plain checkpoints
    owned by invalidate_ivfpq_index): building it inside one bench-rep
    scope and searching it from the next must return identical rows —
    a scope that freed the index would make the second rep recompute
    from an empty lineage."""
    from ubeardw_databricks_lakehouse_spark.core.session import checkpoint_scope
    from ubeardw_databricks_lakehouse_spark.plans.llm_q import (
        invalidate_ivfpq_index,
        q_embedding_topk_ivfpq_search,
    )

    sf = "/root/testdata/sf0.001"
    invalidate_ivfpq_index(spark, sf)
    reps = []
    try:
        for _ in range(2):
            with checkpoint_scope():
                reps.append(sorted(
                    tuple(r) for r in q_embedding_topk_ivfpq_search(spark, sf).collect()
                ))
    finally:
        invalidate_ivfpq_index(spark, sf)
    assert reps[0] and reps[0] == reps[1]


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance (r13): cc_upsert
# ---------------------------------------------------------------------------


def _cc_state(spark, labels_rows):
    return spark.createDataFrame(labels_rows, "doc_id long, component long")


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _apply_upsert(state, delta):
    """MERGE-apply the cc_upsert output to an in-memory label dict."""
    for r in delta.collect():
        state[r.doc_id] = r.component
    return state


def test_cc_upsert_equals_batch_over_waves(spark):
    """Random edge waves: after each wave the maintained label table
    equals batch CC over every edge seen so far."""
    import random

    from ubeardw_databricks_lakehouse_spark.operators.dedup import (
        cc_upsert,
        connected_components,
    )

    rnd = random.Random(31)
    all_edges: list[tuple[int, int]] = []
    state: dict[int, int] = {}
    for wave in range(4):
        wave_edges = [
            (rnd.randrange(60), rnd.randrange(60)) for _ in range(25)
        ]
        wave_edges = [(a, b) for a, b in wave_edges if a != b]
        labels = _cc_state(spark, list(state.items()))
        delta = cc_upsert(labels, _edges_df(spark, wave_edges))
        _apply_upsert(state, delta)
        all_edges += wave_edges
        ed = _edges_df(spark, all_edges)
        verts = ed.selectExpr("id_a as doc_id").union(
            ed.selectExpr("id_b as doc_id")
        ).distinct()
        want = {
            (r.doc_id, r.component)
            for r in connected_components(ed, verts).collect()
        }
        assert set(state.items()) == want and want


def test_cc_upsert_relabels_only_the_loser(spark):
    """Merging two components where one owns the min: only the losing
    component's rows (plus nothing else) come back — the stored winner
    rows are untouched, the O(corpus)-per-batch hazard the operator
    exists to avoid."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import cc_upsert

    # component 0 = {0,1,2,3,4}, component 10 = {10,11,12}
    labels = _cc_state(
        spark, [(i, 0) for i in range(5)] + [(i, 10) for i in (10, 11, 12)]
    )
    delta = cc_upsert(labels, _edges_df(spark, [(4, 11)]))
    got = {(r.doc_id, r.component) for r in delta.collect()}
    assert got == {(10, 0), (11, 0), (12, 0)}  # losers only


def test_cc_upsert_transitive_delta_and_fresh_vertices(spark):
    """One batch whose edges chain THREE existing components together
    through a brand-new vertex, plus an unrelated all-new pair."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import cc_upsert

    labels = _cc_state(
        spark,
        [(1, 1), (2, 1), (20, 20), (21, 20), (30, 30), (31, 30)],
    )
    delta = cc_upsert(
        labels,
        _edges_df(spark, [(2, 99), (99, 20), (31, 20), (50, 51)]),
    )
    got = {(r.doc_id, r.component) for r in delta.collect()}
    assert got == {
        (20, 1), (21, 1), (30, 1), (31, 1),  # losers relabel to min=1
        (99, 1),                              # fresh vertex joins the merge
        (50, 50), (51, 50),                   # fresh isolated pair
    }


def test_cc_upsert_replay_is_empty(spark):
    """Re-applying a batch whose edges are already reflected returns
    an empty delta (keyed-MERGE replay writes nothing)."""
    from ubeardw_databricks_lakehouse_spark.operators.dedup import cc_upsert

    labels = _cc_state(spark, [(1, 1), (2, 1)])
    state = dict([(1, 1), (2, 1)])
    delta = cc_upsert(labels, _edges_df(spark, [(1, 2), (2, 5)]))
    _apply_upsert(state, delta)
    labels2 = _cc_state(spark, list(state.items()))
    replay = cc_upsert(labels2, _edges_df(spark, [(1, 2), (2, 5)]))
    assert replay.count() == 0
