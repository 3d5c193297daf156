"""Atomic snapshot table (operators/snapshot.py) and its lineage wiring:
commit/read/time-travel, torn-write invisibility, version-collision retry."""

from __future__ import annotations

import json
import os

import pytest

from copernicusdata_jl_spark.operators import lineage as L
from copernicusdata_jl_spark.operators.snapshot import CommitConflict, SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_commit_read_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.read(spark) is None and t.latest_version() is None
    v0 = t.commit(_df(spark, 0, 5), "run-a")
    v1 = t.commit(_df(spark, 5, 8), "run-b")
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 8  # append semantics
    assert t.read(spark, version=0).count() == 5  # time travel
    assert t.manifest(1)["parent"] == 0
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(8))


def test_crashed_commit_is_invisible_and_gc_able(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "ok")
    # simulate a committer that died after writing data, before publishing
    _df(spark, 100, 200).write.parquet(os.path.join(t.path, "data", "dead-commit"))
    assert t.read(spark).count() == 3  # torn write invisible to readers
    assert t.orphans() == ["dead-commit"]


def test_version_collision_retries_and_rebases(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 2), "a")

    # a publisher that loses the race once: before the first publish
    # attempt, another committer lands v1 out from under us
    raced = {"done": False}
    real = SnapshotTable(str(tmp_path / "t"))

    def racing_publish(tmp, final):
        if not raced["done"]:
            raced["done"] = True
            real.commit(_df(spark, 50, 53), "interloper")
        from copernicusdata_jl_spark.operators.snapshot import _publish_link

        _publish_link(tmp, final)

    t2 = SnapshotTable(str(tmp_path / "t"), publish=racing_publish)
    v = t2.commit(_df(spark, 10, 14), "b")
    # interloper took v1; our commit retried and landed v2 with a file
    # list rebased on the interloper's snapshot
    assert v == 2
    assert t2.read(spark).count() == 2 + 3 + 4
    assert t2.manifest(2)["parent"] == 1


def test_publish_is_create_if_absent(tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    final = os.path.join(t._mdir(), "v00000000.json")
    json.dump({"files": []}, open(final, "w"))
    tmp = os.path.join(t._mdir(), ".tmp-x.json")
    json.dump({"files": []}, open(tmp, "w"))
    from copernicusdata_jl_spark.operators.snapshot import _publish_link

    with pytest.raises(CommitConflict):
        _publish_link(tmp, final)
    assert not os.path.exists(tmp)  # tmp cleaned even on conflict


def test_vacuum_removes_orphans_keeps_latest_readable(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "a")
    t.commit(_df(spark, 3, 7), "b")
    _df(spark, 0, 1).write.parquet(os.path.join(t.path, "data", "dead"))
    deleted = t.vacuum(keep_versions=1, min_age_s=0.0)
    assert "data/dead" in deleted and "_manifests/v00000000.json" in deleted
    assert t.versions() == [1]
    assert t.read(spark).count() == 7  # latest snapshot intact (append semantics)
    assert t.orphans() == []


def test_lineage_resume_over_atomic_checkpoint(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 40).selectExpr("id % 4 AS bucket", "id AS cell_id", "id AS x")
    lin1, skip1 = L.run_with_resume(df, "bucket", ckpt, "run1", "cell_id")
    assert (lin1.count(), skip1) == (4, 0)
    # second run: everything checkpointed, nothing recomputed or written
    lin2, skip2 = L.run_with_resume(df, "bucket", ckpt, "run2", "cell_id")
    assert (lin2.count(), skip2) == (0, 4)
    t = SnapshotTable(ckpt)
    assert t.latest_version() == 0  # run2 committed nothing
    # a torn lineage commit (data, no manifest) does not corrupt resume
    _df(spark, 0, 1).write.parquet(os.path.join(ckpt, "data", "torn"))
    lin3, skip3 = L.run_with_resume(df, "bucket", ckpt, "run3", "cell_id")
    assert (lin3.count(), skip3) == (0, 4)


def test_vacuum_keeps_fresh_orphans(spark, tmp_path):
    """An in-flight commit's data dir (young orphan) survives vacuum; the
    default min_age guards the write→publish window."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 2), "a")
    _df(spark, 9, 10).write.parquet(os.path.join(t.path, "data", "inflight"))
    assert t.vacuum(keep_versions=1) == []  # too young to delete
    assert t.orphans() == ["inflight"]
    assert "data/inflight" in t.vacuum(keep_versions=1, min_age_s=0.0)


def test_manifest_pruning_skips_files_and_matches_full_scan(spark, tmp_path):
    """Three commits with disjoint id ranges: a range predicate must prune
    to the one file that can match, and read(where=...) must equal the
    full scan + filter exactly."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 100).coalesce(1), "a")
    t.commit(_df(spark, 100, 200).coalesce(1), "b")
    t.commit(_df(spark, 200, 300).coalesce(1), "c")
    all_files = t.files_for()
    assert len(all_files) == 3
    kept = t.files_for(where=[("id", ">=", 250)])
    assert len(kept) == 1 and kept[0] in all_files
    got = sorted(r.id for r in t.read(spark, where=[("id", ">=", 250)]).collect())
    want = sorted(r.id for r in t.read(spark).filter("id >= 250").collect())
    assert got == want == list(range(250, 300))
    # conjunction prunes to zero files -> schema-stable empty result
    empty = t.read(spark, where=[("id", ">", 100), ("id", "<", 50)])
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    assert t.files_for(where=[("id", ">", 100), ("id", "<", 50)]) == []
    # equality inside one file's range keeps exactly that file
    assert len(t.files_for(where=[("id", "==", 150)])) == 1


def test_manifest_pruning_residual_filter_is_exact(spark, tmp_path):
    """Pruning is file-granular; rows inside a surviving file that fail
    the predicate are still filtered out (the residual), and string
    stats prune too."""
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "apple"), (2, "berry")], "id INT, w STRING")
    df2 = spark.createDataFrame([(3, "melon"), (4, "peach")], "id INT, w STRING")
    t.commit(df1.coalesce(1), "a")
    t.commit(df2.coalesce(1), "b")
    assert len(t.files_for(where=[("w", ">=", "melon")])) == 1
    rows = t.read(spark, where=[("w", ">=", "melon"), ("id", "==", 4)]).collect()
    assert [(r.id, r.w) for r in rows] == [(4, "peach")]
    # invalid predicate op fails loudly everywhere
    with pytest.raises(ValueError, match="unknown predicate op"):
        t.files_for(where=[("id", "=", 1)])
    with pytest.raises(ValueError, match="unknown predicate op"):
        t.read(spark, where=[("id", "=", 1)])


def test_manifest_pruning_safe_without_stats(spark, tmp_path):
    """A manifest predating stats collection (file_stats stripped) must
    never prune — correctness over efficiency."""
    import json as _json

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 10).coalesce(1), "a")
    mpath = os.path.join(t._mdir(), "v00000000.json")
    doc = _json.load(open(mpath))
    del doc["file_stats"]
    _json.dump(doc, open(mpath, "w"))
    assert t.files_for(where=[("id", ">=", 99999)]) == t.files_for()
    assert t.read(spark, where=[("id", ">=", 99999)]).count() == 0


def test_replace_commit_and_compaction(spark, tmp_path):
    """compact() rewrites many small append files into one via a replace
    commit: rows identical, fewer files, old versions still time-travel,
    and vacuum only frees the replaced files once their manifests expire."""
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(3):
        t.commit(_df(spark, i * 4, (i + 1) * 4).repartition(3), f"a{i}")
    assert len(t.files_for()) == 9
    v = t.compact(spark, target_files=1)
    assert v == 3 and t.manifest(v)["operation"] == "replace"
    assert len(t.files_for()) == 1
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(12))
    # time travel to a pre-compaction version still works (files live)
    assert t.read(spark, version=1).count() == 8
    assert t.orphans() == []  # old dirs are referenced by old manifests
    # pruning stats were rebuilt for the rewritten file
    assert t.files_for(where=[("id", ">=", 100)]) == []
    # vacuum to latest-only: old manifests AND their now-unreferenced data go
    deleted = t.vacuum(keep_versions=1, min_age_s=0.0)
    assert any(d.startswith("data/") for d in deleted)
    assert t.versions() == [3]
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(12))


def test_vacuum_keeps_files_of_kept_old_manifests_after_replace(spark, tmp_path):
    """keep_versions=2 across a replace: the pre-replace manifest stays,
    so its data files must survive vacuum even though the latest snapshot
    no longer references them."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 4), "a")
    t.commit(_df(spark, 4, 6), "b")
    t.compact(spark, target_files=1)
    t.vacuum(keep_versions=2, min_age_s=0.0)
    assert t.versions() == [1, 2]
    assert t.read(spark, version=1).count() == 6  # old data intact
    assert t.read(spark).count() == 6


def test_history_and_incremental_read(spark, tmp_path):
    """history() walks the commit log with added-row counts; read_added
    yields exactly one commit's rows (the incremental-scan property a
    downstream consumer uses to process each commit once)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "a")
    t.commit(_df(spark, 3, 7), "b")
    h = t.history()
    assert [(x["version"], x["run_id"], x["added_rows"]) for x in h] == [
        (0, "a", 3), (1, "b", 4),
    ]
    assert h[1]["parent"] == 0 and h[1]["n_files"] > h[1]["added_files"] - 1
    inc = t.read_added(spark, 1)
    assert sorted(r.id for r in inc.collect()) == [3, 4, 5, 6]
    assert sorted(r.id for r in t.read_added(spark, 0).collect()) == [0, 1, 2]


def test_schema_evolution_additive(spark, tmp_path):
    """Adding a column mid-history: old files read the new column as NULL
    at the latest snapshot; time travel to the pre-evolution snapshot
    keeps the old schema; drops and type changes are refused."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "a")                                   # (id, v)
    t.commit(spark.range(3, 5).selectExpr("id", "id * 2 AS v", "id * 10 AS w"), "b")
    latest = t.read(spark)
    assert latest.columns == ["id", "v", "w"]
    rows = {r.id: r.w for r in latest.collect()}
    assert rows[0] is None and rows[4] == 40  # old files surface NULL w
    assert t.read(spark, version=0).columns == ["id", "v"]  # time travel
    # pruning still works across the evolved history
    assert len(t.files_for(where=[("id", ">=", 3)])) < len(t.files_for())
    with pytest.raises(ValueError, match="drops column"):
        t.commit(spark.range(5, 6).selectExpr("id"), "drop-v")
    with pytest.raises(ValueError, match="changes type"):
        t.commit(spark.range(5, 6).selectExpr("id", "CAST(id AS STRING) AS v"), "retype")


def test_atomic_checkpoint_refuses_mixed_layout(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 8).selectExpr("id % 2 AS bucket", "id AS cell_id", "id AS x")
    L.write_checkpoint(L.lineage_rows(df), ckpt, "run1", atomic=False)
    df2 = spark.range(0, 8).selectExpr("id % 4 AS bucket", "id AS cell_id", "id AS x")
    with pytest.raises(ValueError, match="plain append-only"):
        L.run_with_resume(df2, "bucket", ckpt, "run2", "cell_id")


# ---------------------------------------------------------------------------
# round 5: merge-on-read row-level deletes (takedown lists) + compaction
# conflict validation + NaN-stat pruning guard
# ---------------------------------------------------------------------------


def test_delete_merge_on_read_and_seq_semantics(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 10), "a")
    dv = t.delete(spark.createDataFrame([(2,), (4,)], "id long"), "takedown")
    assert t.manifest(dv)["operation"] == "delete"
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 3, 5, 6, 7, 8, 9]
    # time travel to before the delete still sees everything
    assert t.read(spark, version=0).count() == 10
    # seq semantics: re-appending a deleted key AFTER the delete makes it
    # visible again (the delete applies only to lower-seq files)
    t.commit(_df(spark, 2, 3), "reappend")
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3, 5, 6, 7, 8, 9]
    hist = t.history()
    assert [h["operation"] for h in hist] == ["append", "delete", "append"]
    assert hist[1]["n_deletes"] == 1 and hist[1]["added_files"] == 0


def test_delete_then_compact_folds_deletes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 8), "a")
    t.delete(spark.createDataFrame([(1,), (5,)], "id long"), "takedown")
    before = sorted(r.id for r in t.read(spark).collect())
    cv = t.compact(spark)
    assert t.manifest(cv)["deletes"] == []  # folded into rewritten files
    assert sorted(r.id for r in t.read(spark).collect()) == before == [0, 2, 3, 4, 6, 7]
    # pre-compaction version still time-travels with the delete applied
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == before


def test_delete_with_predicate_pruned_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 100).repartition(4), "a")
    t.delete(spark.createDataFrame([(10,), (90,)], "id long"), "takedown")
    got = sorted(r.id for r in t.read(spark, where=[("id", "<", 20)]).collect())
    assert got == [i for i in range(20) if i != 10]


def test_compact_raises_on_concurrent_append(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 4), "a")

    interloper = SnapshotTable(str(tmp_path / "t"))
    raced = {"done": False}

    def racing_publish(tmp, final):
        if not raced["done"]:
            raced["done"] = True
            interloper.commit(_df(spark, 100, 102), "concurrent-append")
        from copernicusdata_jl_spark.operators.snapshot import _publish_link

        _publish_link(tmp, final)

    t2 = SnapshotTable(str(tmp_path / "t"), publish=racing_publish)
    with pytest.raises(CommitConflict):
        t2.compact(spark)
    # the concurrent append was NOT lost: a re-run compaction includes it
    cv = SnapshotTable(str(tmp_path / "t")).compact(spark)
    assert sorted(r.id for r in t.read(spark, version=cv).collect()) == [
        0, 1, 2, 3, 100, 101,
    ]


def test_delete_key_column_validation(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "a")
    with pytest.raises(ValueError, match="not in table schema"):
        t.delete(spark.createDataFrame([(1,)], "nope long"), "bad")
    with pytest.raises(ValueError, match="no snapshot"):
        SnapshotTable(str(tmp_path / "empty")).delete(
            spark.createDataFrame([(1,)], "id long"), "bad"
        )


def test_vacuum_keeps_live_delete_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 6), "a")
    t.delete(spark.createDataFrame([(3,)], "id long"), "takedown")
    t.vacuum(keep_versions=1, min_age_s=0.0)
    # latest manifest still references the delete file — it must survive
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 4, 5]


def test_nan_stats_never_prune():
    from copernicusdata_jl_spark.operators.snapshot import _may_match

    nan = float("nan")
    assert _may_match({"x": [nan, nan]}, "x", ">", 0.0) is True
    assert _may_match({"x": [0.0, nan]}, "x", "<", -1.0) is True
    # sane stats still prune
    assert _may_match({"x": [0.0, 1.0]}, "x", ">", 2.0) is False


def _strip_schema(t, version):
    p = os.path.join(t.path, "_manifests", f"v{version:08d}.json")
    doc = json.load(open(p))
    del doc["schema"]
    json.dump(doc, open(p, "w"))


def test_legacy_manifest_commit_never_narrows_columns(spark, tmp_path):
    """A manifest written before schemas were recorded cannot say which
    columns the table has, so a narrower commit on top of it could hide
    the historical files' extra columns. Such a manifest is refused,
    naming its version, by read, read_added, commit and delete alike, and
    no new version is written."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3), "a")  # (id, v)
    t.commit(_df(spark, 3, 5), "b")
    _strip_schema(t, 1)
    for op in (
        lambda: t.read(spark),
        lambda: t.read_added(spark, 1),
        lambda: t.commit(spark.range(5, 7).selectExpr("id"), "narrow"),
        lambda: t.delete(spark.range(1).selectExpr("id"), "del"),
    ):
        with pytest.raises(ValueError, match="manifest v1 records no schema"):
            op()
    assert t.versions() == [0, 1]


def test_legacy_empty_pruned_read_keeps_union_schema(spark, tmp_path):
    """A fully-pruned read carries the UNION of all files' columns, not
    just the first file's; on a schema-less (legacy) manifest it is refused
    rather than answered with a guessed, narrower schema."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 3).selectExpr("id", "id AS a"), "one")
    t.commit(spark.range(10, 13).selectExpr("id", "id AS a", "id AS b"), "two")
    empty = t.read(spark, where=[("id", ">", 10_000)])
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "a", "b"}
    _strip_schema(t, 1)
    with pytest.raises(ValueError, match="manifest v1 records no schema"):
        t.read(spark, where=[("id", ">", 10_000)])


def test_dedup_append_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")],
        "doc_id long, text string",
    )
    v0, n0 = t.dedup_append(spark, docs)
    # within-increment dup (doc 3 repeats doc 1's text) kept lowest doc_id
    assert n0 == 3
    assert sorted(r.doc_id for r in t.read(spark).collect()) == [1, 2, 4]
    # appending the SAME increment again adds zero rows
    v1, n1 = t.dedup_append(spark, docs)
    assert n1 == 0 and t.read(spark).count() == 3
    # a genuinely new doc still lands; an old digest under a new id doesn't
    inc2 = spark.createDataFrame(
        [(9, "delta"), (10, "beta")], "doc_id long, text string"
    )
    _, n2 = t.dedup_append(spark, inc2)
    assert n2 == 1
    assert sorted(r.doc_id for r in t.read(spark).collect()) == [1, 2, 4, 9]


def test_append_expected_parent_guard(spark, tmp_path):
    """r5 review: expected_parent now guards APPENDS too (an append whose
    content came from a read — dedup_append — goes stale when a
    concurrent commit lands); -1 means 'the read saw an empty table'."""
    t = SnapshotTable(str(tmp_path / "g"))
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    v0 = t.commit(df, "base")
    # stale parent → conflict, matching parent → fine
    with pytest.raises(CommitConflict, match="table is at"):
        t.commit(df, "stale", expected_parent=v0 + 5)
    v1 = t.commit(df, "ok", expected_parent=v0)
    assert v1 == v0 + 1
    # -1 (expect-empty) on a non-empty table → conflict
    with pytest.raises(CommitConflict):
        t.commit(df, "first", expected_parent=-1)


def test_dedup_append_retries_after_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between dedup_append's read and its publish must
    NOT produce duplicate digests: the guard fires and the retry redoes
    the anti-join against the new snapshot."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "race"))
    docs = spark.createDataFrame(
        [(i, f"text-{i % 4}") for i in range(8)], ["doc_id", "text"]
    )
    t.dedup_append(spark, docs.filter(F.col("doc_id") < 2))  # texts 0,1

    # inject: the first read-for-dedup is followed by a concurrent commit
    # of text-2 (same digest the increment carries) before the publish
    orig_read = SnapshotTable.read
    fired = {"done": False}

    def racing_read(self, spark_, version=None, **kw):
        out = orig_read(self, spark_, version=version, **kw)
        if not fired["done"]:
            fired["done"] = True
            inc = docs.filter(F.col("doc_id") == 2)  # text-2
            orig_commit(self, inc.withColumn("_digest", F.md5("text")), "race")
        return out

    orig_commit = SnapshotTable.commit
    monkeypatch.setattr(SnapshotTable, "read", racing_read)
    v, n = t.dedup_append(spark, docs.filter(F.col("doc_id").isin(2, 3)))
    monkeypatch.setattr(SnapshotTable, "read", orig_read)

    # text-2 must appear exactly once table-wide (the racer's copy);
    # the retried dedup_append added only text-3
    final = t.read(spark)
    counts = {r["_digest"]: r["cnt"] for r in
              final.groupBy("_digest").agg(F.count("*").alias("cnt")).collect()}
    assert all(c == 1 for c in counts.values()), counts
    assert n == 1


def test_upsert_latest_wins_single_atomic_commit(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "ups"))
    base = spark.createDataFrame(
        [(i, f"old-{i}") for i in range(6)], ["doc_id", "val"]
    )
    v0 = t.commit(base, "base")
    inc = spark.createDataFrame(
        [(2, "new-2"), (4, "new-4"), (9, "new-9")], ["doc_id", "val"]
    )
    v1 = t.upsert(inc, ["doc_id"], run_id="merge")
    assert v1 == v0 + 1  # ONE commit, no intermediate version
    got = {r["doc_id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {0: "old-0", 1: "old-1", 2: "new-2", 3: "old-3",
                   4: "new-4", 5: "old-5", 9: "new-9"}
    # time travel to the parent still sees the pre-merge rows
    old = {r["doc_id"]: r["val"] for r in t.read(spark, version=v0).collect()}
    assert old[2] == "old-2" and 9 not in old
    # history records the operation
    assert t.history()[-1]["operation"] == "upsert"
    # a later plain append of an upserted key is NOT swallowed (strict seq)
    t.commit(spark.createDataFrame([(2, "newer-2")], ["doc_id", "val"]), "app")
    vals2 = sorted(r["val"] for r in
                   t.read(spark).filter(F.col("doc_id") == 2).collect())
    assert vals2 == ["new-2", "newer-2"]


def test_upsert_refuses_duplicate_keys_and_missing_cols(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "upsbad"))
    t.commit(spark.createDataFrame([(1, "a")], ["doc_id", "val"]), "base")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], ["doc_id", "val"])
    with pytest.raises(ValueError, match="not unique"):
        t.upsert(dup, ["doc_id"])
    with pytest.raises(ValueError, match="not in increment"):
        t.upsert(dup, ["nope"])


def test_upsert_folds_under_compaction(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "upsc"))
    t.commit(spark.createDataFrame([(i, i * 10) for i in range(8)],
                                   ["doc_id", "x"]), "base")
    t.upsert(spark.createDataFrame([(3, 999)], ["doc_id", "x"]), ["doc_id"])
    before = {(r["doc_id"], r["x"]) for r in t.read(spark).collect()}
    t.compact(spark)
    after = {(r["doc_id"], r["x"]) for r in t.read(spark).collect()}
    assert before == after
    assert not t.manifest(t.latest_version()).get("deletes")


# ---------------------------------------------------------------------------
# per-file bloom filters (equality-predicate file skipping)
# ---------------------------------------------------------------------------


def _digest_table(spark, n=64, parts=8):
    """Hash-distributed digests: every file's [min, max] straddles any
    probe value, so min/max stats prune NOTHING — the bloom's job."""
    import hashlib

    rows = [(i, hashlib.sha1(str(i).encode()).hexdigest()) for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "digest"]).repartition(parts, "digest")


def test_bloom_prunes_point_lookup_minmax_cannot(spark, tmp_path):
    from copernicusdata_jl_spark.operators.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "bloom"))
    df = _digest_table(spark)
    t.commit(df, "base", bloom_cols=["digest"])
    total = len(t.files_for())
    assert total > 1
    probe = df.collect()[0]
    where = [("digest", "==", probe.digest)]
    pruned = t.files_for(where=where)
    # min/max alone keeps everything (hash-distributed); bloom must cut
    assert len(pruned) < total
    got = t.read(spark, where=where).collect()
    assert {(r.doc_id, r.digest) for r in got} == {(probe.doc_id, probe.digest)}
    # an absent value prunes every file (no false-negative risk the other way)
    assert t.read(spark, where=[("digest", "==", "no-such-digest")]).count() == 0


def test_bloom_never_false_negative_exhaustive(spark, tmp_path):
    """Every committed value must survive pruning — bloom false positives
    only ever keep EXTRA files, never drop a matching one."""
    from copernicusdata_jl_spark.operators.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "bloomfn"))
    df = _digest_table(spark, n=48, parts=6)
    t.commit(df, "base", bloom_cols=["digest", "doc_id"])
    total = len(t.files_for())
    pruned_digest = pruned_id = 0
    for r in df.collect():
        rows = t.read(spark, where=[("digest", "==", r.digest)]).collect()
        assert (r.doc_id, r.digest) in {(x.doc_id, x.digest) for x in rows}
        pruned_digest += total - len(t.files_for(where=[("digest", "==", r.digest)]))
        rows = t.read(spark, where=[("doc_id", "==", r.doc_id)]).collect()
        assert (r.doc_id, r.digest) in {(x.doc_id, x.digest) for x in rows}
        pruned_id += total - len(t.files_for(where=[("doc_id", "==", r.doc_id)]))
    # the blooms must actually SKIP files on BOTH column types — an
    # integer bloom that silently builds empty (np.int64 failing the
    # isinstance(int) check, r5 review) would pass the loop above
    # vacuously but prune nothing
    assert pruned_digest > 0 and pruned_id > 0


def test_bloom_inherited_by_append_and_compact(spark, tmp_path):
    from copernicusdata_jl_spark.operators.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "bloominh"))
    t.commit(_digest_table(spark, n=32, parts=4), "base", bloom_cols=["digest"])
    # plain append (no bloom_cols arg) inherits the configuration
    import hashlib

    extra = spark.createDataFrame(
        [(1000, hashlib.sha1(b"extra").hexdigest())], ["doc_id", "digest"]
    )
    t.commit(extra, "more")
    doc = t.manifest(t.latest_version())
    assert doc["bloom_cols"] == ["digest"]
    # every new file WITH ROWS gets a bloom (empty part files legitimately
    # have none — an absent entry is always kept, the safe direction)
    new_files = doc["added"]
    assert any(f in doc["file_blooms"] for f in new_files)
    # compaction rewrites files AND rebuilds their blooms
    t.compact(spark, target_files=2)
    doc2 = t.manifest(t.latest_version())
    assert doc2["bloom_cols"] == ["digest"]
    assert set(doc2["file_blooms"]) <= set(doc2["files"])
    assert doc2["file_blooms"]
    probe = hashlib.sha1(b"extra").hexdigest()
    rows = t.read(spark, where=[("digest", "==", probe)]).collect()
    assert [(r.doc_id, r.digest) for r in rows] == [(1000, probe)]


def test_bloom_survives_delete_and_unsupported_type_raises(spark, tmp_path):
    import pytest as _pytest

    from copernicusdata_jl_spark.operators.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "bloomdel"))
    df = _digest_table(spark, n=24, parts=4)
    t.commit(df, "base", bloom_cols=["digest"])
    victim = df.collect()[0]
    t.delete(spark.createDataFrame([(victim.doc_id,)], ["doc_id"]), "takedown")
    doc = t.manifest(t.latest_version())
    assert doc.get("bloom_cols") == ["digest"] and doc.get("file_blooms")
    assert t.read(spark, where=[("digest", "==", victim.digest)]).count() == 0
    t2 = SnapshotTable(str(tmp_path / "bloombad"))
    bad = spark.createDataFrame([(1, 2.5)], ["doc_id", "score"])
    with _pytest.raises(ValueError, match="unsupported type"):
        t2.commit(bad, "x", bloom_cols=["score"])
