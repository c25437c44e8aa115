"""Snapshot-table semantics: commit atomicity, time-travel isolation,
compaction layout change without content change, history accounting.

These pin the properties the oracle check can't see — file counts,
old-snapshot immutability, pointer behavior — while the registered
q_iceberg_* queries cover value correctness against DuckDB.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_twist_spark.sources.snapshots import SnapshotTable
from tests.conftest import SF_DIR
from tests.test_catalog import _jobs_launched


@pytest.fixture(scope="module")
def table(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_snaptest_"))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tbl.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(8))
    tbl.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(8))
    return tbl


def test_append_accumulates(spark, table):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert table.read().count() == orders.count()
    assert table.current_snapshot_id() == 2


def test_time_travel_is_isolated(spark, table):
    """Snapshot 1 keeps returning exactly its own rows after later commits."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    evens = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    assert table.read(snapshot_id=1).count() == evens
    # and its key set is exactly the even keys
    got = table.read(snapshot_id=1).agg(F.sum(F.col("o_orderkey") % 2)).first()[0]
    assert got == 0


def test_compaction_shrinks_files_not_content(spark, table):
    before = table.snapshots()[-1]
    agg = lambda: table.read().agg(  # noqa: E731
        F.sum("o_orderkey"), F.count("*"), F.sum("o_totalprice")
    ).first()
    keysum, n, pricesum = agg()
    snap = table.rewrite_data_files()
    after = table._manifest(snap)
    assert after["operation"] == "rewrite"
    assert after["n_files"] < before["n_files"]  # 16 small files -> few
    assert after["n_records"] == before["n_records"]
    keysum2, n2, pricesum2 = agg()
    assert (keysum2, n2) == (keysum, n)
    # float sum order changes with the file layout — tolerance, not equality
    assert pricesum2 == pytest.approx(pricesum, rel=1e-12)
    # old snapshots still resolve their own (uncompacted) file lists
    assert table._manifest(2)["n_files"] == before["n_files"]
    assert table.read(snapshot_id=2).count() == after["n_records"]


def test_version_hint_is_single_pointer(table):
    hint = os.path.join(table.path, "metadata", "version-hint.text")
    with open(hint) as f:
        assert int(f.read()) == table.current_snapshot_id()


def test_history_records_operations(table):
    ops = [m["operation"] for m in table.snapshots()]
    assert ops[:2] == ["overwrite", "append"]


def test_read_empty_table_raises(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_snapempty_"))
    with pytest.raises(ValueError):
        tbl.read()


def test_overwrite_replaces(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_snapow_"))
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    tbl.overwrite(nation)
    tbl.overwrite(nation.limit(5))
    assert tbl.read().count() == 5
    assert tbl.read(snapshot_id=1).count() == nation.count()


def test_merge_snapshot_isolation(spark, sf_dir):
    """MERGE and DELETE commits must not disturb earlier snapshots:
    snapshot 1 read back AFTER both row-level commits is still the
    original full table."""
    from iceberg_twist_spark.sources.snapshots import _merge_table

    tbl = _merge_table(spark, sf_dir)
    orig = spark.read.parquet(f"{sf_dir}/orders.parquet")
    snap1 = tbl.read(snapshot_id=1)
    assert snap1.count() == orig.count()
    # no 'U'/'I' rows leaked into the pre-merge snapshot
    assert snap1.filter(snap1.o_orderstatus.isin("U", "I")).count() == 0


def test_merge_updates_and_deletes_applied(spark, sf_dir):
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import _merge_table

    tbl = _merge_table(spark, sf_dir)
    cur = tbl.read()
    # every BASE key ≡0 mod 3 surviving the delete now has status 'U'
    # (insert keys live above the offset and are legitimately 'I')
    from iceberg_twist_spark.sources.snapshots import _MERGE_OFFSET

    not_u = cur.filter(
        (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderkey") < _MERGE_OFFSET)
        & (F.col("o_orderstatus") != "U")
    )
    assert not_u.count() == 0
    # deleted keys are gone
    assert cur.filter(F.col("o_orderkey") % 11 == 5).count() == 0


def test_zone_map_pruning_skips_files(spark, sf_dir):
    """A narrow price band over the range-laid-out table must plan
    strictly fewer files than the full scan, and the pruned read must
    equal the unpruned filtered read exactly."""
    from iceberg_twist_spark.sources.snapshots import (
        PRUNE_HI,
        PRUNE_LO,
        _orders_range_table,
    )

    tbl = _orders_range_table(spark, sf_dir)
    all_files = tbl.plan_files()
    pruned = tbl.plan_files(skip=("o_totalprice", PRUNE_LO, PRUNE_HI))
    assert len(all_files) == 8
    assert 0 < len(pruned) < len(all_files)
    skipped = tbl.read(skip=("o_totalprice", PRUNE_LO, PRUNE_HI))
    full = tbl.read().filter(
        (F.col("o_totalprice") >= PRUNE_LO) & (F.col("o_totalprice") <= PRUNE_HI)
    )
    assert skipped.exceptAll(full).count() == 0
    assert full.exceptAll(skipped).count() == 0


def test_zone_map_absent_stats_are_conservative(spark):
    """An entry without a zone map for a column must keep its file (no
    false negatives on unstatted columns)."""
    import json

    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_prune_"))
    tbl.overwrite(spark.range(0, 100, 1, 4).selectExpr("id", "id * 1.0 AS v"))
    assert len(tbl.plan_files(skip=("v", 5.0, 6.0))) == 1
    # drop one entry's zone map: the file holding ids 50..74
    mpath = os.path.join(tbl._meta, "v1.json")
    m = json.load(open(mpath))
    [unstatted] = [p for p, e in m["files"].items() if e["stats"]["v"][0] == 50.0]
    m["files"][unstatted]["stats"] = {}
    json.dump(m, open(mpath, "w"))
    planned = tbl.plan_files(skip=("v", 5.0, 6.0))
    assert len(planned) == 2 and unstatted in planned
    assert tbl.read(skip=("v", 5.0, 6.0)).count() == 2


def test_file_stats_recorded_on_every_commit(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_stats_"))
    tbl.overwrite(spark.range(50).selectExpr("id", "id * 2.0 AS v"))
    tbl.append(spark.range(50, 100).selectExpr("id", "id * 2.0 AS v"))
    m = tbl.snapshots()[-1]
    assert m["files"]
    for e in m["files"].values():
        st = e["stats"]
        assert "id" in st and "v" in st
        lo, hi = st["v"]
        assert lo <= hi


def test_append_with_empty_first_partition_writes_no_empty_file(spark):
    """Spark writes a 0-row placeholder file when a DataFrame's first
    partition is empty. It carries no zone-map stats, so every pruned
    read kept it; the write path drops it, and the commit plans like a
    one-partition append of the same rows."""

    def table_after_append(batch):
        tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="itws_emptypart_"))
        tbl.overwrite(spark.range(0, 100, 1, 1).selectExpr("id", "id * 1.0 AS v"))
        tbl.append(batch.selectExpr("id", "id * 1.0 AS v"))
        return tbl

    def planned_rows(tbl, skip):
        entries = tbl.snapshots()[-1]["files"]
        return sorted(entries[f]["rows"] for f in tbl.plan_files(skip=skip))

    # ids 150..199 sit in the last of four partitions; the first is empty
    split = table_after_append(spark.range(0, 200, 1, 4).filter("id >= 150"))
    single = table_after_append(spark.range(150, 200, 1, 1))
    assert all(e["rows"] > 0 for e in split.snapshots()[-1]["files"].values())
    for skip in (("v", 0.0, 10.0), ("v", 160.0, 170.0)):
        assert planned_rows(split, skip) == planned_rows(single, skip)
    assert planned_rows(split, ("v", 0.0, 10.0)) == [100]
    assert split.read().count() == 150


def test_rollback_is_metadata_only_and_history_append_only(spark, sf_dir):
    """rollback_to must reuse the target snapshot's file list verbatim
    (no data copied) and ADD a snapshot rather than rewriting history."""
    from iceberg_twist_spark.sources.snapshots import _rollback_table

    tbl = _rollback_table(spark, sf_dir)
    snaps = {m["snapshot_id"]: m for m in tbl.snapshots()}
    assert snaps[3]["operation"] == "rollback"
    assert snaps[3]["files"] == snaps[1]["files"]  # shared, not copied
    # the bad commit is still inspectable and time-travelable
    assert snaps[2]["operation"] == "overwrite"
    assert tbl.read(snapshot_id=2).count() == snaps[2]["n_records"]


def test_expire_reclaims_only_unreferenced_files(spark, sf_dir):
    """expire_snapshots must physically delete files ONLY when no
    retained manifest references them, drop the expired manifest, and
    make expired time travel fail loudly."""
    import os

    import pytest

    from iceberg_twist_spark.sources.snapshots import _expire_table

    tbl = _expire_table(spark, sf_dir)
    ids = [m["snapshot_id"] for m in tbl.snapshots()]
    assert ids == [2, 3]  # v1 expired
    # every retained file still exists on disk
    for m in tbl.snapshots():
        for f in m["files"]:
            assert os.path.exists(f), f
    # v3's append carries v2's files — they must have survived
    snaps = {m["snapshot_id"]: m for m in tbl.snapshots()}
    assert set(snaps[2]["files"]) <= set(snaps[3]["files"])
    with pytest.raises(FileNotFoundError):
        tbl.read(snapshot_id=1)
    # idempotent: a second expire finds nothing new to reclaim
    res = tbl.expire_snapshots(keep_last=2)
    assert res == {"expired": [], "deleted_files": 0}


def test_expiry_leaves_no_metadata_naming_deleted_files(spark, tmp_path):
    """Every fact about a data file lives in the manifests that list it,
    so once expiry and orphan removal delete a data or delete file, no
    file under metadata/ still names it."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(0, 40, 1, 4).selectExpr("id", "id * 10 AS v"))
    tbl.append(spark.range(40, 50).selectExpr("id", "id * 10 AS v"))
    tbl.delete_keys(spark.createDataFrame([(3,), (45,)], "id long"), "id")
    tbl.merge(spark.createDataFrame([(5, 0), (60, 600)], "id long, v long"), "id")
    tbl.rewrite_data_files()

    def on_disk():
        return {
            os.path.join(root, name)
            for sub in ("data", "deletes")
            for root, _dirs, names in os.walk(os.path.join(tbl.path, sub))
            for name in names
            if name.endswith(".parquet")
        }

    before = on_disk()
    tbl.expire_snapshots(keep_last=1)
    tbl.remove_orphan_files()
    gone = before - on_disk()
    assert any("/deletes/" in p for p in gone) and len(gone) > 2
    for name in os.listdir(tbl._meta):
        with open(os.path.join(tbl._meta, name)) as f:
            text = f.read()
        assert not [p for p in gone if p in text], name
    rows = {r.id: r.v for r in tbl.read().collect()}
    assert len(rows) == 49 and rows[5] == 0 and rows[60] == 600 and 3 not in rows


def test_deletes_leave_with_the_files_they_apply_to(spark, tmp_path):
    """A carried merge-on-read delete stays in the manifest only while
    it applies to a listed file: a position delete while a file it
    names is listed, an equality delete while a file older than it is.
    Once copy-on-write commits rewrite those files the delete leaves
    the manifest, and expiry reclaims its file."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(0, 40, 1, 4).selectExpr("id", "id * 10 AS v"))
    tbl.delete_where_positional(F.col("id") == 3)
    tbl.delete_keys(spark.createDataFrame([(15,)], "id long"), "id")
    # rewrites the one file the position delete names
    tbl.delete_where(F.col("id") < 10)
    m = tbl._manifest(tbl.current_snapshot_id())
    assert m["pos_deletes"] == [] and len(m["eq_deletes"]) == 1
    # rewrites every file older than the equality delete
    tbl.update_where(F.lit(True), {"v": F.col("v") + 1})
    assert tbl._manifest(tbl.current_snapshot_id())["eq_deletes"] == []
    tbl.expire_snapshots(keep_last=1)
    assert os.listdir(os.path.join(tbl.path, "deletes")) == []
    rows = {r.id: r.v for r in tbl.read().collect()}
    assert sorted(rows) == [i for i in range(10, 40) if i != 15] and rows[20] == 201


def test_manifest_stores_each_written_schema_once(spark, tmp_path):
    """A 16-file overwrite's manifest holds its written schema once, not
    once per file entry."""
    import json

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    # range's id is NOT NULL, so the written schema differs from the
    # table schema the manifest also carries (all columns nullable)
    df = spark.range(0, 160, 1, 16).selectExpr("id", "cast(id AS string) AS s")
    tbl.create(df)
    with open(os.path.join(tbl._meta, "v1.json")) as f:
        text = f.read()
    m = json.loads(text)
    assert len(m["files"]) == 16 and list(m["schemas"].values()) == [df.schema.json()]
    assert text.count(json.dumps(df.schema.json())) == 1


def test_wap_failed_stage_invisible_until_maintenance(spark, sf_dir):
    """A staged snapshot must be readable by id for auditing, invisible
    to main readers, excluded from history, and retained by DEFAULT
    expire regardless of id ordering (a stage awaiting audit must not
    become 'stale' just because an unrelated commit allocated a higher
    id) — reclaimed only by explicit abandonment or age-out."""
    from iceberg_twist_spark.sources.snapshots import _wap_table

    tbl = _wap_table(spark, sf_dir)
    ids = tbl._all_manifest_ids()
    assert len(ids) == 3  # v1 + failed stage + published stage
    history = [m["snapshot_id"] for m in tbl.snapshots()]
    failed = next(i for i in ids if i not in history)
    # auditable by id, but not history and not the current read
    assert tbl.read(snapshot_id=failed).count() > 0
    assert tbl.current_snapshot_id() != failed
    import os

    pending = tbl.stage(tbl.read().limit(10))
    # DEFAULT expire retains every staged snapshot — both the old
    # failed-audit one (id below the pointer) and the new pending one
    res = tbl.expire_snapshots(keep_last=2)
    assert failed not in res["expired"] and pending not in res["expired"]
    assert tbl.read(snapshot_id=failed).count() > 0
    # explicit abandonment reclaims the failed stage, files included
    failed_files = tbl._manifest(failed)["files"]
    res = tbl.expire_snapshots(keep_last=2, abandon_staged=(failed,))
    assert failed in res["expired"] and pending not in res["expired"]
    assert res["deleted_files"] > 0
    assert not any(os.path.exists(f) for f in failed_files)
    for f in tbl._manifest(pending)["files"]:
        assert os.path.exists(f)
    tbl.publish(pending)
    assert tbl.read().count() == 10
    # the published manifest drops its staged marker
    assert tbl._manifest(pending).get("staged") is False
    # rebuild next call: the cache key requires the original shape
    from iceberg_twist_spark.sources import snapshots as S

    S._TABLE_CACHE.pop(f"snapwap::{sf_dir}", None)


def test_stage_age_out_expiry(spark, sf_dir, tmp_path):
    """Age-based stage reclamation: a staged snapshot older than
    ``staged_older_than_s`` expires; a fresh one survives."""
    import os

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "aged"))
    df = spark.range(20).selectExpr("id", "id * 2 AS v")
    tbl.create(df)
    old_stage = tbl.stage(df.limit(5))
    # backdate the staged manifest (a week old)
    mpath = os.path.join(tbl._meta, f"v{old_stage}.json")
    past = os.path.getmtime(mpath) - 7 * 24 * 3600
    os.utime(mpath, (past, past))
    fresh_stage = tbl.stage(df.limit(3))
    res = tbl.expire_snapshots(keep_last=1, staged_older_than_s=24 * 3600)
    assert old_stage in res["expired"] and fresh_stage not in res["expired"]


def test_publish_requires_current_parent(spark, tmp_path):
    """Lost-update guard: a commit landing between stage() and
    publish() makes the plain publish raise; reparent=True
    cherry-picks the overwrite-shaped stage onto the new head and the
    intervening commit stays in the history chain."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "race"))
    df = spark.range(30).selectExpr("id", "id * 3 AS v")
    tbl.create(df)
    staged = tbl.stage(df.filter("id < 10"))
    intervening = tbl.overwrite(df.filter("id >= 20"))
    with pytest.raises(ValueError, match="parent"):
        tbl.publish(staged)
    # the failed publish must not have moved the pointer
    assert tbl.current_snapshot_id() == intervening
    tbl.publish(staged, reparent=True)
    assert tbl.current_snapshot_id() == staged
    assert tbl.read().count() == 10
    chain = [m["snapshot_id"] for m in tbl.snapshots()]
    assert intervening in chain, "intervening commit dropped from history"


def test_refs_tag_branch_semantics(spark, tmp_path):
    """Named refs: re-creating ANY existing ref raises (a silent
    overwrite would destroy the previous pointer — Iceberg's
    ref-already-exists error), tags never move, branches fast-forward
    only ALONG their history (backward/sideways moves raise), drop_ref
    unpins, read(ref=) resolves, and expire retains ref-pointed
    snapshots (and their files) until the ref is dropped."""
    import os

    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "refs"))
    df = spark.range(40).selectExpr("id", "id * 7 AS v")
    s1 = tbl.create(df.filter("id < 10"))
    tbl.create_tag("rel", s1)
    tbl.create_branch("dev", s1)
    s2 = tbl.overwrite(df.filter("id >= 30"))
    # name collisions raise in every kind combination — re-pointing or
    # kind-converting an existing ref must be an explicit drop+create
    for maker in (tbl.create_tag, tbl.create_branch):
        for name in ("rel", "dev"):
            with pytest.raises(ValueError, match="already exists"):
                maker(name, s2)
    with pytest.raises(ValueError, match="immutable"):
        tbl.fast_forward_branch("rel", s2)
    tbl.fast_forward_branch("dev", s2)
    assert tbl.resolve_ref("dev") == s2
    # fast-forward means FORWARD: moving the branch back to s1 (not a
    # descendant of its head s2) raises instead of silently rewinding
    with pytest.raises(ValueError, match="ancestor"):
        tbl.fast_forward_branch("dev", s1)
    assert tbl.read(ref="rel").count() == 10
    with pytest.raises(ValueError, match="not both"):
        tbl.read(snapshot_id=s1, ref="rel")
    # expire keeps the tagged snapshot alive...
    s1_files = tbl._manifest(s1)["files"]
    res = tbl.expire_snapshots(keep_last=1)
    assert s1 not in res["expired"]
    assert all(os.path.exists(f) for f in s1_files)
    # ...until the ref is dropped
    tbl.drop_ref("rel")
    res = tbl.expire_snapshots(keep_last=1)
    assert s1 in res["expired"]
    assert not any(os.path.exists(f) for f in s1_files)
    with pytest.raises(ValueError, match="no such ref"):
        tbl.resolve_ref("rel")


def test_branch_write_isolation_and_merge(spark, tmp_path):
    """append_to_branch advances the branch only (main pointer and
    read unchanged), refuses tags, chains incremental reads along the
    branch, survives expire while unmerged (staged commits + advancing
    ref), and merges to main via publish(reparent) when main moved."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "brw"))
    df = spark.range(90).selectExpr("id", "id % 9 AS g")
    s1 = tbl.create(df.filter("id < 30"))
    tbl.create_branch("dev", s1)
    tbl.create_tag("rel", s1)
    with pytest.raises(ValueError, match="tag"):
        tbl.append_to_branch("rel", df.limit(1))
    b2 = tbl.append_to_branch("dev", df.filter("id >= 30 AND id < 60"))
    b3 = tbl.append_to_branch("dev", df.filter("id >= 60"))
    # main untouched; branch reads compose; incremental read follows
    # the branch chain
    assert tbl.current_snapshot_id() == s1
    assert tbl.read().count() == 30
    assert tbl.read(ref="dev").count() == 90
    assert tbl.read_incremental(s1, b3).count() == 60
    assert tbl.read_incremental(b2, b3).count() == 30
    # unmerged branch work survives routine expiry
    res = tbl.expire_snapshots(keep_last=1)
    assert b2 not in res["expired"] and b3 not in res["expired"]
    assert tbl.read(ref="dev").count() == 90
    # merge: the branch head descends from current, so plain publish
    # fast-forwards; the whole merged chain joins ordinary history
    tbl.publish(b3)
    assert tbl.current_snapshot_id() == b3
    assert tbl.read().count() == 90
    assert [m["snapshot_id"] for m in tbl.snapshots()] == [s1, b2, b3]
    # merged chain members lose the staged marker → normal expiry
    # governs them again
    assert tbl._manifest(b2).get("staged") is False
    res = tbl.expire_snapshots(keep_last=1)
    assert b2 in res["expired"]


def test_branch_append_keeps_the_partition_spec(spark, tmp_path):
    """append_to_branch writes under the branch head's partition spec:
    the branch files record spec ["g"], so an equality on ``g`` prunes
    them. The spec is set on the EMPTY table, as the first write's."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "brp"))
    tbl.set_partition_spec(["g"])
    s1 = tbl.create(spark.range(4).selectExpr("id", "id % 2 AS g").coalesce(1))
    assert all(e["spec"] == ["g"] for e in tbl._manifest(s1)["files"].values())
    tbl.create_branch("dev")
    head = tbl.append_to_branch(
        "dev", spark.range(10, 14).selectExpr("id", "id % 2 AS g").coalesce(1)
    )
    entries = tbl._manifest(head)["files"]
    branch = {p for p, e in entries.items() if e["seq"] == head}
    assert len(branch) == 2 and all(entries[p]["spec"] == ["g"] for p in branch)
    assert len(branch & set(tbl.plan_files(head, partition_eq=("g", "1")))) == 1
    odd = tbl.read(ref="dev", partition_eq=("g", 1)).collect()
    assert sorted(r.id for r in odd) == [1, 3, 11, 13]


def test_mor_delete_lifecycle(spark, tmp_path):
    """Merge-on-read deletes: stack two delete files (different keys),
    appends carry pending deletes forward to old files, incremental
    reads refuse to cross an eq-delete, expire reclaims delete files
    of expired snapshots, and orphan removal sweeps unreferenced
    delete files."""
    import os

    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "mor"))
    df = spark.range(60).selectExpr("id", "id % 6 AS g")
    s1 = tbl.create(df)
    keys = spark.createDataFrame([(i,) for i in range(0, 60, 6)], "id long")
    s2 = tbl.delete_keys(keys, "id")
    assert tbl.read().count() == 50
    # second delete stacks
    keys2 = spark.createDataFrame([(1,), (7,)], "id long")
    s3 = tbl.delete_keys(keys2, "id")
    assert tbl.read().count() == 48
    # append carries pending deletes: old rows stay deleted, new land
    s4 = tbl.append(spark.range(100, 110).selectExpr("id", "id % 6 AS g"))
    assert tbl.read().count() == 58
    # incremental read refuses to cross the eq-delete snapshots
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(s1, s4)
    # time travel: s1 undeleted, s2 one delete applied
    assert tbl.read(snapshot_id=s1).count() == 60
    assert tbl.read(snapshot_id=s2).count() == 50
    # compaction applies deletes physically and clears the list
    s5 = tbl.rewrite_data_files()
    assert tbl._manifest(s5)["eq_deletes"] == []
    assert tbl.read().count() == 58
    # expire: the delete files of expired snapshots are reclaimed
    dpaths = [d["path"] for d in tbl._manifest(s3)["eq_deletes"]]
    assert all(os.path.exists(p) for p in dpaths)
    tbl.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(p) for p in dpaths)
    # orphan sweep: an unreferenced delete file is debris
    ddir = os.path.join(tbl.path, "deletes")
    orphan = os.path.join(ddir, "zz_orphan.parquet")
    keys2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "od"))
    part = next(
        f for f in os.listdir(str(tmp_path / "od")) if f.endswith(".parquet")
    )
    os.rename(os.path.join(str(tmp_path / "od"), part), orphan)
    assert tbl.remove_orphan_files() == 1
    assert not os.path.exists(orphan)


def test_incremental_read_edges(spark, tmp_path):
    """added_files/read_incremental: empty increment at from==to, the
    full chain of appends composes, and a rollback (non-append) in the
    segment raises."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "incr"))
    df = spark.range(100).selectExpr("id", "id % 5 AS g")
    s1 = tbl.create(df.filter("id < 40"))
    s2 = tbl.append(df.filter("id >= 40 AND id < 70"))
    s3 = tbl.append(df.filter("id >= 70"))
    assert tbl.added_files(s3, s3) == []
    assert tbl.read_incremental(s3, s3).count() == 0
    assert tbl.read_incremental(s1, s2).count() == 30
    assert tbl.read_incremental(s1).count() == 60  # to = current
    assert tbl.read_incremental(s2, s3).count() == 30
    # a non-ancestor 'from' raises
    with pytest.raises(ValueError, match="ancestor"):
        tbl.added_files(99, s3)
    # a rollback in the segment raises
    s4 = tbl.rollback_to(s1)
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(s1, s4)


def test_remove_orphan_files_spares_all_manifested_files(spark, sf_dir, tmp_path):
    """Orphans = files NO manifest lists (failed-write debris). Files
    of committed AND staged snapshots must survive."""
    import os

    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(F.col("id").alias("k"))
    tbl.overwrite(df)
    staged = tbl.stage(df.limit(5))
    # simulate failed-write debris: a parquet file never manifested
    debris = os.path.join(str(tmp_path / "t"), "data", "deadbeef.parquet")
    df.limit(1).write.mode("overwrite").parquet(str(tmp_path / "stage1"))
    part = next(
        f for f in os.listdir(str(tmp_path / "stage1")) if f.endswith(".parquet")
    )
    os.rename(os.path.join(str(tmp_path / "stage1"), part), debris)
    assert tbl.remove_orphan_files() == 1
    assert not os.path.exists(debris)
    assert tbl.read().count() == 100
    assert tbl.read(snapshot_id=staged).count() == 5


def test_eq_delete_then_reinsert_reads_new_row(spark, tmp_path):
    """The Iceberg v2 sequence-number contract (r9 advice, HIGH):
    an equality delete applies only to data files with a LOWER
    sequence number. delete(k) followed by append of a fresh row with
    key k must show the re-inserted row — the common CDC
    delete-then-reinsert pattern — while the original row stays
    deleted. Compaction preserves the result and clears the delete."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "reins"))
    df = spark.range(20).selectExpr("id", "id * 100 AS v")
    tbl.create(df)
    keys = spark.createDataFrame([(3,), (7,)], "id long")
    tbl.delete_keys(keys, "id")
    assert tbl.read().count() == 18
    # re-insert key 3 with a NEW value: the append's files carry a
    # higher sequence than the delete, so the delete must not hide it
    tbl.append(spark.createDataFrame([(3, 999)], "id long, v long"))
    rows = {(r.id, r.v) for r in tbl.read().collect()}
    assert (3, 999) in rows, "re-inserted row hidden by an older delete"
    assert (3, 300) not in rows, "original row resurrected"
    assert (7, 700) not in rows
    assert len(rows) == 19
    # a SECOND delete of key 3 now hides the re-inserted row too
    # (its sequence is higher than the append's)
    tbl.delete_keys(spark.createDataFrame([(3,)], "id long"), "id")
    rows2 = {(r.id, r.v) for r in tbl.read().collect()}
    assert (3, 999) not in rows2 and len(rows2) == 18
    # compaction applies everything physically, result unchanged
    s = tbl.rewrite_data_files()
    assert tbl._manifest(s)["eq_deletes"] == []
    assert {(r.id, r.v) for r in tbl.read().collect()} == rows2


def test_position_delete_lifecycle(spark, tmp_path):
    """MOR position deletes: O(|deleted rows|) commit (identical data
    file list), correct read, time travel shows pre-delete rows,
    compaction applies + clears, expire and orphan removal ref-count
    the position delete files exactly like equality deletes."""
    import os

    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "posdel"))
    df = spark.range(60).selectExpr("id", "id % 6 AS g")
    s1 = tbl.create(df.repartition(4))
    s2 = tbl.delete_where_positional(F.col("id") % 10 == 0)
    # O(|deleted|): same data files, one pos-delete entry
    assert tbl._manifest(s2)["files"] == tbl._manifest(s1)["files"]
    [entry] = tbl._manifest(s2)["pos_deletes"]
    assert entry["seq"] == s2 and entry["files"]
    assert tbl.read().count() == 54
    assert {r.id for r in tbl.read().collect()} == {
        i for i in range(60) if i % 10 != 0
    }
    # stacking: a second positional delete composes
    tbl.delete_where_positional(F.col("id") == 7)
    assert tbl.read().count() == 53
    # time travel: pre-delete snapshot still shows all rows
    assert tbl.read(snapshot_id=s1).count() == 60
    # appended rows are untouched by earlier position deletes (they
    # name exact files)
    tbl.append(spark.createDataFrame([(0, 0), (7, 1)], "id long, g long"))
    assert tbl.read().count() == 55
    # compaction applies + clears
    s5 = tbl.rewrite_data_files()
    assert tbl._manifest(s5)["pos_deletes"] == []
    assert tbl.read().count() == 55
    # expire reclaims the pos-delete files once no retained manifest
    # references them
    dpaths = [d["path"] for d in tbl._manifest(s2)["pos_deletes"]]
    assert all(os.path.exists(p) for p in dpaths)
    tbl.expire_snapshots(keep_last=1)
    assert not any(os.path.exists(p) for p in dpaths)


def test_changelog_across_mixed_snapshots(spark, tmp_path):
    """read_changelog spans append / eq-delete / CoW delete /
    overwrite commits, emitting (row, _change_type,
    _commit_snapshot_id); the append fast path never reads base
    files, and updates surface as delete+insert pairs."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cdc"))
    df = spark.range(30).selectExpr("id", "id * 10 AS v")
    s1 = tbl.create(df.filter("id < 10"))
    s2 = tbl.append(df.filter("id >= 10 AND id < 20"))
    s3 = tbl.delete_keys(
        spark.createDataFrame([(4,), (14,)], "id long"), "id"
    )
    s4 = tbl.delete_where(F.col("id") == 5)  # copy-on-write delete
    ch = tbl.read_changelog(s1, s4).collect()
    by = {}
    for r in ch:
        by.setdefault((r._change_type, r._commit_snapshot_id), set()).add(r.id)
    assert by[("insert", s2)] == set(range(10, 20))
    assert by[("delete", s3)] == {4, 14}
    assert by[("delete", s4)] == {5}
    assert set(by) == {("insert", s2), ("delete", s3), ("delete", s4)}
    # an overwrite emits full delete+insert of the symmetric difference
    s5 = tbl.overwrite(df.filter("id >= 25"))
    ch2 = tbl.read_changelog(s4, s5)
    ins = {r.id for r in ch2.filter("_change_type = 'insert'").collect()}
    dels = {r.id for r in ch2.filter("_change_type = 'delete'").collect()}
    assert ins == set(range(25, 30))
    assert dels == (set(range(20)) - {4, 5, 14})
    # a position delete takes the named-files fast path
    s6 = tbl.delete_where_positional(F.col("id") == 27)
    ch3 = tbl.read_changelog(s5, s6).collect()
    assert {(r.id, r._change_type, r._commit_snapshot_id) for r in ch3} == {
        (27, "delete", s6)
    }
    # non-ancestor raises
    import pytest

    with pytest.raises(ValueError, match="ancestor"):
        tbl.read_changelog(99, s6)


def test_schema_evolution_field_id_resolution(spark, tmp_path):
    """Rename / drop / widen are metadata-only and resolve by FIELD
    ID: files written before a rename keep reading into the renamed
    column; a post-rename append writing the OLD name binds to a NEW
    field (Iceberg name-independence); int→long widening upcasts old
    narrow files on read; dropped columns vanish without touching a
    file; illegal narrowing raises."""
    import pytest
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "evo"))
    df = spark.range(10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).cast("float").alias("score"),
        F.concat(F.lit("c"), F.col("id")).alias("tag"),
    )
    s1 = tbl.create(df)
    files_before = tbl._manifest(s1)["files"]
    # rename + widen + drop, all metadata-only
    tbl.rename_column("score", "quality")
    tbl.widen_column("k", "long")
    tbl.widen_column("quality", "double")
    tbl.drop_column("tag")
    assert tbl._manifest(tbl.current_snapshot_id())["files"] == files_before
    out = tbl.read()
    assert out.columns == ["k", "quality"]
    assert dict(out.dtypes) == {"k": "bigint", "quality": "double"}
    assert {(r.k, r.quality) for r in out.collect()} == {
        (i, float(i * 2)) for i in range(10)
    }
    # append under the NEW schema; then write the OLD name — it must
    # bind to a fresh field, not resurrect the renamed one
    tbl.append(
        spark.createDataFrame([(100, 3.5)], "k long, quality double")
    )
    tbl.append(spark.createDataFrame([(200, 9.9)], "k long, score double"))
    out2 = tbl.read()
    assert out2.columns == ["k", "quality", "score"]
    rows = {(r.k, r.quality, r.score) for r in out2.collect()}
    assert (100, 3.5, None) in rows
    assert (200, None, 9.9) in rows, "old-name write resurrected the rename"
    assert (0, 0.0, None) in rows
    # guards
    with pytest.raises(ValueError, match="illegal type change"):
        tbl.widen_column("quality", "float")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("score", "quality")
    with pytest.raises(ValueError, match="no such column"):
        tbl.drop_column("ghost")


def test_partition_spec_evolution_prunes_per_spec(spark, tmp_path):
    """set_partition_spec changes FUTURE writes only: old files keep
    their layout, the scan merges both, and partition_eq pruning
    drops exactly the new-spec files of other partitions while
    conservatively keeping every pre-evolution file."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "pspec"))
    df = spark.range(90).selectExpr("id", "CAST(id % 3 AS STRING) AS bucket")
    s1 = tbl.create(df.filter("id < 30"))
    old_files = set(tbl._manifest(s1)["files"])
    tbl.set_partition_spec(["bucket"])
    s3 = tbl.append(df.filter("id >= 30"))
    # spec evolution rewrote nothing
    assert old_files <= set(tbl._manifest(s3)["files"])
    all_files = tbl.plan_files(s3)
    planned = tbl.plan_files(s3, partition_eq=("bucket", "1"))
    assert len(planned) < len(all_files), "no partition pruning happened"
    assert old_files <= set(planned), "pre-evolution files must be kept"
    entries = tbl._manifest(s3)["files"]
    for f in set(all_files) - set(planned):
        assert entries[f]["partition"]["bucket"] != "1"
    # read correctness: residual filter covers old-spec files
    got = {r.id for r in tbl.read(partition_eq=("bucket", "1")).collect()}
    assert got == {i for i in range(90) if i % 3 == 1}
    # full read restores partition columns from the hive layout
    assert tbl.read().count() == 90
    assert dict(tbl.read().dtypes)["bucket"] == "string"


def test_string_partition_values_read_back_verbatim(spark, tmp_path):
    """An identity partition on a string column whose values look like
    integers reads back as written ("01", not "1"): each entry records
    its partition column's type, so the basePath scan pins it instead
    of inferring it from the directory names, and planning the read
    runs no Spark job."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    rows = [(1, "01"), (2, "007"), (3, "01"), (4, "01"), (5, "007"), (6, "10")]
    tbl.create(spark.createDataFrame(rows[:3], "id long, g string"))
    tbl.set_partition_spec(["g"])
    tbl.append(spark.createDataFrame(rows[3:], "id long, g string"))
    df, n_jobs = _jobs_launched(spark, tbl.read)
    assert n_jobs == 0
    assert dict(df.dtypes)["g"] == "string"
    assert sorted((r.id, r.g) for r in df.collect()) == rows
    assert sorted(r.id for r in tbl.read(partition_eq=("g", "01")).collect()) == [1, 3, 4]


def test_partition_eq_prunes_by_value_list_and_pairs(spark, tmp_path):
    """A list ``partition_eq`` value keeps the files of any of its
    values (Iceberg's ``in``), a list of pairs keeps the files every
    pair admits, and the read applies the same predicates row-level."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.set_partition_spec(["c", "g"])
    tbl.create(spark.range(40).selectExpr("id", "IF(id < 20, 'a', 'b') AS c", "id % 4 AS g"))
    fm = tbl._head()["files"]

    def parts(files):
        return {(fm[f]["partition"]["c"], fm[f]["partition"]["g"]) for f in files}

    assert parts(tbl.plan_files(partition_eq=("g", [1, 3]))) == {
        (c, g) for c in "ab" for g in "13"
    }
    both = [("c", "a"), ("g", [1, 3])]
    assert parts(tbl.plan_files(partition_eq=both)) == {("a", "1"), ("a", "3")}
    got = sorted(r.id for r in tbl.read(partition_eq=both).collect())
    assert got == [i for i in range(20) if i % 4 in (1, 3)]


def test_long_append_history_plans_single_scan(spark, tmp_path):
    """The grouped reader's scale claim: a table built by MANY appends
    with no pending deletes and one schema vintage must plan as ONE
    parquet scan (files grouped by vintage, not unioned per commit) —
    a micro-batch-ingested table of 10k commits must not become a
    10k-way union."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "many"))
    tbl.create(spark.range(10).selectExpr("id", "id * 2 AS v"))
    for i in range(1, 8):
        tbl.append(
            spark.range(10 * i, 10 * (i + 1)).selectExpr("id", "id * 2 AS v")
        )
    df = tbl.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan
    assert df.count() == 80
    # one eq-delete splits the files into exactly TWO seq-scoped
    # groups (pre-delete files take the anti-join, the post-delete
    # append reads plain) — not eight
    tbl.delete_keys(spark.createDataFrame([(5,)], "id long"), "id")
    tbl.append(spark.range(80, 90).selectExpr("id", "id * 2 AS v"))
    df2 = tbl.read()
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Scan parquet") == 3, plan2  # 2 data groups + delete keys
    assert df2.count() == 89


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """Copy-on-write DELETE prunes its rewrite set like Iceberg: only
    files CONTAINING matches are rewritten; every other file is
    carried into the new manifest verbatim (same path — no data
    copied). NULL conditions follow SQL WHERE semantics: not
    deleted."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cowdel"))
    df = spark.range(100).selectExpr(
        "id", "CASE WHEN id = 7 THEN NULL ELSE id % 10 END AS bucket"
    )
    # range layout: matches (id < 25) live in a prefix of the files
    s1 = tbl.create(df.repartitionByRange(8, "id"))
    before = tbl._manifest(s1)["files"]
    s2 = tbl.delete_where(F.col("id") < 25)
    after = tbl._manifest(s2)["files"]
    carried = set(before) & set(after)
    assert carried, "no file was carried — delete rewrote the world"
    assert set(before) - set(after), "matching files did not leave the manifest"
    assert len(carried) >= 5, (before, after)
    got = {r.id for r in tbl.read().collect()}
    assert got == set(range(25, 100))
    # NULL condition row: bucket IS NULL for id=7 → bucket < 5 is NULL
    # → NOT deleted (old behavior dropped it)
    s3 = tbl.delete_where(F.col("bucket") < 5)
    remaining = {r.id for r in tbl.read().collect()}
    assert remaining == {i for i in range(25, 100) if i % 10 >= 5}, remaining
    # record accounting stays exact across the pruned commit
    assert tbl._manifest(s3)["n_records"] == len(remaining)
    # time travel unaffected
    assert tbl.read(snapshot_id=s1).count() == 100


def test_merge_rewrites_only_files_with_matched_keys(spark, tmp_path):
    """Copy-on-write MERGE prunes its rewrite set: only files holding
    MATCHED keys rewrite; untouched files carry verbatim; inserts
    (unmatched source keys) land in the replacement files."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cowmerge"))
    df = spark.range(100).selectExpr("id", "id * 10 AS v")
    s1 = tbl.create(df.repartitionByRange(8, "id"))
    before = tbl._manifest(s1)["files"]
    # updates hit a narrow key range (one or two files) + two inserts
    source = spark.createDataFrame(
        [(3, 999), (7, 888), (500, 111), (501, 222)], "id long, v long"
    )
    s2 = tbl.merge(source, key="id")
    after = tbl._manifest(s2)["files"]
    carried = set(before) & set(after)
    assert len(carried) >= 6, (len(before), len(carried))
    rows = {(r.id, r.v) for r in tbl.read().collect()}
    expect = {(i, i * 10) for i in range(100) if i not in (3, 7)}
    expect |= {(3, 999), (7, 888), (500, 111), (501, 222)}
    assert rows == expect
    assert tbl._manifest(s2)["n_records"] == 102
    # snapshot isolation holds
    assert tbl.read(snapshot_id=s1).count() == 100


def test_update_where_prunes_and_respects_null_condition(spark, tmp_path):
    """UPDATE WHERE rewrites only files containing TRUE-condition
    rows, applies multi-column assignments to exactly those rows, and
    a NULL condition updates nothing (SQL three-valued logic).
    Unknown assignment columns raise."""
    import pytest
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "upd"))
    df = spark.range(80).selectExpr(
        "id", "CASE WHEN id = 50 THEN NULL ELSE id END AS k", "id * 1.0 AS v"
    )
    s1 = tbl.create(df.repartitionByRange(8, "id"))
    before = set(tbl._manifest(s1)["files"])
    s2 = tbl.update_where(
        F.col("k") < 10, {"v": F.col("v") + 100.0}
    )
    after = set(tbl._manifest(s2)["files"])
    assert before & after, "update rewrote the world"
    assert after - before
    rows = {r.id: r.v for r in tbl.read().collect()}
    for i in range(80):
        expect = i + 100.0 if i < 10 else float(i)
        assert rows[i] == expect, (i, rows[i])
    # id=50 has k NULL → k<10 is NULL → NOT updated
    assert rows[50] == 50.0
    assert tbl._manifest(s2)["n_records"] == 80
    with pytest.raises(ValueError, match="unknown columns"):
        tbl.update_where(F.col("k") < 5, {"ghost": F.lit(1)})
    # time travel: pre-update snapshot unchanged
    assert {r.v for r in tbl.read(snapshot_id=s1).filter("id < 10").collect()} == {
        float(i) for i in range(10)
    }


def test_as_of_timestamp_resolution(spark, tmp_path):
    """as_of picks the latest snapshot committed at or before the
    instant; exact commit instants resolve to that commit; mixing
    selectors raises."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "asof"))
    s1 = tbl.create(spark.range(10).selectExpr("id"))
    s2 = tbl.overwrite(spark.range(20, 25).selectExpr("id"))
    t1 = tbl._manifest(s1)["committed_at"]
    t2 = tbl._manifest(s2)["committed_at"]
    assert tbl.snapshot_as_of(t1) == s1
    assert tbl.snapshot_as_of(t2) == s2
    assert tbl.snapshot_as_of(t2 + 10) == s2
    assert tbl.read(as_of=(t1 + t2) / 2).count() == 10
    with pytest.raises(ValueError, match="one only"):
        tbl.read(snapshot_id=s1, as_of=t1)
    with pytest.raises(ValueError, match="no snapshot committed"):
        tbl.snapshot_as_of(t1 - 100)
    # rollback_to_timestamp: restore the s1 state as a NEW snapshot
    s3 = tbl.rollback_to_timestamp((t1 + t2) / 2)
    assert s3 > s2
    assert tbl.read().count() == 10
    assert tbl._manifest(s3)["files"] == tbl._manifest(s1)["files"]


def test_partitions_metadata_no_data_scan_accounting(spark, tmp_path):
    """.partitions accounting: per-tuple file and record counts from
    pure metadata match the data; spec evolution yields a NULL-tuple
    group for pre-evolution files."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "pmeta"))
    df = spark.range(60).selectExpr("id", "CAST(id % 3 AS STRING) AS b")
    tbl.create(df.filter("id < 30"))
    tbl.set_partition_spec(["b"])
    tbl.append(df.filter("id >= 30"))
    parts = tbl.partitions_metadata()
    got = {
        tuple(sorted(p["partition"].items())): p["n_records"] for p in parts
    }
    assert got[()] == 30  # pre-evolution files, no partition tuple
    assert got[(("b", "0"),)] == 10
    assert got[(("b", "1"),)] == 10
    assert got[(("b", "2"),)] == 10
    assert sum(p["n_files"] for p in parts) == len(
        tbl._manifest(tbl.current_snapshot_id())["files"]
    )


def test_row_count_serves_from_metadata(spark, tmp_path):
    """row_count: per-snapshot data-file row totals from manifest +
    sidecar facts equal read().count() on an append-only table at
    every snapshot (the streaming sink's invariant check reads these
    instead of paying two full scans — r11)."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "rcnt"))
    assert tbl.row_count() == 0  # empty table: no snapshot yet
    df = spark.range(70).selectExpr("id", "CAST(id % 7 AS STRING) AS b")
    s1 = tbl.create(df.filter("id < 20"))
    s2 = tbl.append(df.filter("id >= 20 AND id < 50"))
    s3 = tbl.append(df.filter("id >= 50"))
    assert tbl.row_count(s1) == tbl.read(snapshot_id=s1).count() == 20
    assert tbl.row_count(s2) == tbl.read(snapshot_id=s2).count() == 50
    assert tbl.row_count(s3) == tbl.row_count() == tbl.read().count() == 70


def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency (Iceberg's catalog compare-and-swap): a
    commit built against a snapshot that is no longer current must
    RAISE at the pointer swap, not silently drop the interleaved
    commit from the history chain."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cas"))
    s1 = tbl.create(spark.range(10).selectExpr("id"))
    m1 = tbl._manifest(s1)
    # a concurrent writer lands snapshot 2
    s2 = tbl.append(spark.range(10, 15).selectExpr("id"))
    # the stale committer (built against s1) must conflict
    with pytest.raises(ValueError, match="commit conflict"):
        tbl._commit("overwrite", m1)
    # history is intact and a fresh retry (against the new head) lands
    assert tbl.current_snapshot_id() == s2
    s3 = tbl.append(spark.range(20, 22).selectExpr("id"))
    assert [m["snapshot_id"] for m in tbl.snapshots()] == [s1, s2, s3]
    assert tbl.read().count() == 17


def test_sorted_compaction_tightens_zone_maps(spark, tmp_path):
    """rewrite_data_files(sort_by=...) = Iceberg's sort-order rewrite:
    after compacting SORTED, each file covers a tight key band, so a
    narrow-band zone-map scan plans a strict subset of files, while
    the content is unchanged. The unsorted layout prunes nothing (every
    file spans the full range)."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "sorted"))
    df = spark.range(10_000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    tbl.create(df.repartition(8))  # hash layout: every file spans 0..10k
    band = ("v", 100.0, 200.0)
    assert len(tbl.plan_files(skip=band)) == len(tbl.plan_files())
    s2 = tbl.rewrite_data_files(target_bytes=40_000, sort_by=["v"])
    all_files = tbl.plan_files(s2)
    pruned = tbl.plan_files(s2, skip=band)
    assert len(all_files) >= 3
    assert len(pruned) < len(all_files), "sorted layout did not prune"
    # content identical + the pruned read equals the filtered scan
    assert tbl.read().count() == 10_000
    got = tbl.read(skip=band)
    assert got.count() == 101
    assert {r.id for r in got.collect()} == set(range(100, 201))


def test_expire_older_than_age_horizon(spark, tmp_path):
    """expire_snapshots(older_than=ts) — Iceberg's age-based form:
    chain snapshots committed at or after the horizon survive beyond
    keep_last; older unreferenced ones expire; the current snapshot
    always survives even when it predates the horizon."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "age"))
    s1 = tbl.create(spark.range(5).selectExpr("id"))
    s2 = tbl.overwrite(spark.range(10, 15).selectExpr("id"))
    s3 = tbl.overwrite(spark.range(20, 25).selectExpr("id"))
    t2 = tbl._manifest(s2)["committed_at"]
    # horizon between s1 and s2: keep_last=1 would reclaim s2, but the
    # age rule retains everything committed at/after the horizon
    res = tbl.expire_snapshots(keep_last=1, older_than=t2)
    assert res["expired"] == [s1], res
    assert tbl.read(snapshot_id=s2).count() == 5
    assert tbl.read().count() == 5
    # current snapshot survives a future horizon
    res2 = tbl.expire_snapshots(keep_last=1, older_than=t2 + 10_000)
    assert s3 not in res2["expired"]
    assert tbl.read().count() == 5


def test_unsafe_append_type_raises(spark, tmp_path):
    """Write-side type safety (Iceberg rejects unsafe writes): an
    append carrying a WIDER physical type than the column (long into
    int, double into float) raises and demands an explicit
    widen_column; narrower writes upcast on read and commit fine."""
    import pytest

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "tsafe"))
    tbl.create(
        spark.range(5).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id AS FLOAT) AS v"
        )
    )
    with pytest.raises(ValueError, match="unsafe append"):
        tbl.append(spark.createDataFrame([(9, 1.0)], "k long, v float"))
    with pytest.raises(ValueError, match="unsafe append"):
        tbl.append(
            spark.createDataFrame([(9, 1.0)], "k int, v double")
        )
    # narrower write is safe — and after widening, the wide write lands
    tbl.widen_column("k", "long")
    tbl.append(spark.createDataFrame([(9, 1.5)], "k long, v float"))
    assert tbl.read().count() == 6
    assert dict(tbl.read().dtypes)["k"] == "bigint"


def test_lakehouse_lifecycle_composition(spark, tmp_path):
    """End-to-end composition of the r10 surface on ONE table:
    partition-spec evolution + rename + widen + MOR equality AND
    position deletes + file-pruned UPDATE + sorted compaction +
    age/keep_last expiry — every intermediate read checked, and the
    final compacted content equal to the pre-compaction MOR view."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "life"))
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id % 3 AS STRING) AS bucket",
        "CAST(id AS DOUBLE) AS v",
    )
    tbl.create(df.filter("id < 100"))          # s1 flat
    tbl.set_partition_spec(["bucket"])          # s2 metadata
    tbl.append(df.filter("id >= 100 AND id < 200"))  # s3 hive-partitioned
    tbl.widen_column("k", "long")               # s4 metadata
    tbl.rename_column("v", "score")             # s5 metadata
    tbl.append(                                  # s6 NEW schema names
        spark.range(200, 300).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS bucket",
            "CAST(id AS DOUBLE) AS score",
        )
    )
    assert tbl.read().count() == 300
    s7 = tbl.delete_keys(                        # MOR eq-delete
        spark.createDataFrame([(5,), (150,), (250,)], "k long"), "k"
    )
    assert tbl.read().count() == 297
    s8 = tbl.delete_where_positional(F.col("k") % 100 == 7)  # MOR pos
    assert tbl.read().count() == 294
    # re-insert a deleted key: sequence scoping shows the NEW row
    tbl.append(
        spark.createDataFrame(
            [(5, "2", 555.0)], "k long, bucket string, score double"
        )
    )
    assert tbl.read().filter("k = 5").count() == 1
    assert tbl.read().filter("k = 5").first().score == 555.0
    # file-pruned UPDATE over the merged layouts
    tbl.update_where(F.col("k") < 50, {"score": F.col("score") + 1000.0})
    got = {r.k: r.score for r in tbl.read().collect()}
    assert got[10] == 1010.0         # updated
    assert got[151] == 151.0         # untouched
    assert got[5] == 1555.0          # the re-inserted row, updated
    assert 150 not in got and 107 not in got  # deletes stay applied
    assert len(got) == 295  # 300 - 3 eq - 3 pos + 1 re-insert
    pre = sorted(
        (r.k, r.bucket, r.score) for r in tbl.read().collect()
    )
    # sorted compaction applies every pending delete and keeps content
    sc = tbl.rewrite_data_files(target_bytes=64_000, sort_by=["k"])
    assert tbl._manifest(sc)["eq_deletes"] == []
    assert tbl._manifest(sc)["pos_deletes"] == []
    post = sorted(
        (r.k, r.bucket, r.score) for r in tbl.read().collect()
    )
    assert post == pre
    # partition pruning still holds after everything
    b1 = tbl.read(partition_eq=("bucket", "1"))
    assert {r.k % 3 for r in b1.collect()} == {1}
    # expiry: keep the compacted head only; the table still reads
    tbl.expire_snapshots(keep_last=1)
    assert sorted(
        (r.k, r.bucket, r.score) for r in tbl.read().collect()
    ) == pre


def test_changelog_aligns_by_field_id_across_rename(spark, tmp_path):
    """A rename (and widen) landing MID-SEGMENT must not turn the
    changelog's snapshot diffs into spurious delete+insert pairs:
    alignment is by FIELD ID, so an overwrite after the rename diffs
    only the rows that actually changed, reported under the TO
    snapshot's column names. from=0 raises the bootstrap guard."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cdcevo"))
    df = spark.range(20).selectExpr("CAST(id AS INT) AS k", "id * 1.0 AS v")
    s1 = tbl.create(df)
    tbl.rename_column("v", "score")
    tbl.widen_column("k", "long")
    # overwrite drops half the rows, keeps the rest IDENTICAL — the
    # diff must be exactly the dropped half, not a full churn
    s4 = tbl.overwrite(
        spark.range(10).selectExpr("id AS k", "id * 1.0 AS score")
    )
    ch = tbl.read_changelog(s1, s4)
    assert set(ch.columns) == {"k", "score", "_change_type", "_commit_snapshot_id"}
    rows = [(r.k, r.score, r._change_type) for r in ch.collect()]
    dels = {(k, s) for k, s, t in rows if t == "delete"}
    ins = {(k, s) for k, s, t in rows if t == "insert"}
    assert dels == {(i, float(i)) for i in range(10, 20)}, dels
    assert ins == set(), ins  # identical rows align by id — no churn
    with pytest.raises(ValueError, match="bootstrap"):
        tbl.read_changelog(0, s4)


def test_eq_delete_resolves_strictly_by_field_id(spark, tmp_path):
    """r10 advice: an eq-delete entry carrying a field id must resolve
    its key column strictly BY ID. After drop_column of the key, the
    id maps to nothing → the delete is skipped (not bound by name,
    which either crashed the read or — once a same-named column was
    re-added under a fresh id — silently deleted from the unrelated
    new column)."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "fidstrict"))
    tbl.create(spark.range(10).selectExpr("id", "CAST(id AS STRING) AS k"))
    tbl.delete_keys(spark.createDataFrame([("3",)], "k string"), "k")
    assert tbl.read().count() == 9
    tbl.drop_column("k")
    # the pending delete's field id resolves to nothing: skipped, and
    # the read no longer crashes joining on a missing column
    assert tbl.read().count() == 10
    # re-add the SAME NAME under a fresh field id: the old delete must
    # not latch onto the unrelated new column
    tbl.add_column("k", "string")
    tbl.append(spark.createDataFrame([(100, "3")], "id long, k string"))
    rows = {(r.id, r.k) for r in tbl.read().collect()}
    assert (100, "3") in rows, "old delete applied to the re-added column"
    assert len(rows) == 11
    # changelog across the whole drop/re-add range stays consistent
    hist = [h["snapshot_id"] for h in tbl.snapshots()]
    cl = tbl.read_changelog(hist[0], hist[-1])
    assert cl.count() > 0


def test_partition_transforms_prune_and_evolve(spark, tmp_path):
    """Hidden partition transforms (r10 verdict #3): truncate/days
    derive partition values at write time, equality predicates on the
    SOURCE column prune via the transform, old-spec files are
    conservatively kept across a spec-evolution boundary, and the
    Python planning twin (transform_value) agrees with the JVM write
    expression (the recorded dir values)."""
    import datetime

    import pytest

    from iceberg_twist_spark.sources.snapshots import (
        SnapshotTable,
        parse_spec_entry,
        transform_value,
    )

    tbl = SnapshotTable(spark, str(tmp_path / "ptr"))
    mk = (
        "id",
        "concat('grp', id % 4) AS tag",
        "to_timestamp(concat('2024-01-0', (id % 3) + 1)) AS ts",
    )
    tbl.create(spark.range(300).selectExpr(*mk))  # unpartitioned
    tbl.set_partition_spec(["truncate(100, id)", "days(ts)"])
    old_files = set(tbl.plan_files())
    tbl.append(spark.range(1000, 1300).selectExpr(*mk))
    all_files = tbl.plan_files()
    new_files = set(all_files) - old_files
    assert len(new_files) >= 9, "expected 3 trunc × 3 day dirs"
    # truncate pruning on the source column: only the 1000-trunc dirs
    # of the new vintage survive; the old vintage is kept wholesale
    planned = tbl.plan_files(partition_eq=("id", 1050))
    assert old_files <= set(planned)
    kept_new = set(planned) - old_files
    assert kept_new and kept_new < new_files
    fm = tbl._manifest(tbl.current_snapshot_id())["files"]
    assert all(fm[f]["partition"]["id_trunc"] == "1000" for f in kept_new)
    assert tbl.read(partition_eq=("id", 1050)).count() == 1
    # days pruning with a timestamp probe value
    probe = datetime.datetime(2024, 1, 2)
    planned_d = tbl.plan_files(partition_eq=("ts", probe))
    kept_d = set(planned_d) - old_files
    assert kept_d and kept_d < new_files
    assert all(fm[f]["partition"]["ts_day"] == "2024-01-02" for f in kept_d)
    # 100 matching rows in EACH vintage (old vintage kept by the
    # conservative plan, filtered by the residual predicate — and its
    # day-2 rows genuinely match)
    assert tbl.read(partition_eq=("ts", probe)).count() == 200
    # python twin ≡ recorded dir values for every transform kind
    for entry in ("truncate(100, id)", "days(ts)"):
        kind, col, param, pname = parse_spec_entry(entry)
        assert pname in next(iter(fm[f]["partition"] for f in kept_new))
    assert transform_value("truncate", 1050, 100) == 1000
    assert transform_value("truncate", "abcdef", 3) == "abc"
    assert transform_value("days", datetime.datetime(2024, 1, 2, 13, 7), None) == "2024-01-02"
    # validation: malformed entries and unknown source columns raise
    with pytest.raises(ValueError, match="bad partition spec"):
        parse_spec_entry("median(id)")
    with pytest.raises(ValueError, match="not in schema"):
        tbl.set_partition_spec(["bucket(4, nope)"])


def test_merge_not_matched_by_source_clauses(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE, both verbs: the conditional UPDATE
    touches only not-matched rows satisfying the condition, the file
    scan unions both clause footprints so out-of-range files carry
    VERBATIM (path identity), and an unconditional DELETE turns the
    merge into a full sync (target ≡ source)."""
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "nmbs"))
    tbl.create(
        spark.range(100).selectExpr("id", "id * 2 AS v").repartitionByRange(4, "id")
    )
    src = spark.range(0, 25, 2).selectExpr("id", "id * 10 AS v").unionByName(
        spark.range(100, 105).selectExpr("id", "id AS v")
    )
    before = set(tbl._manifest(tbl.current_snapshot_id())["files"])
    tbl.merge_into(
        src,
        key="id",
        not_matched_by_source_update={"v": F.col("t.v") + 1000},
        not_matched_by_source_update_cond="t.id < 25",
    )
    after = tbl._manifest(tbl.current_snapshot_id())
    carried = before & set(after["files"])
    assert carried, "high-range files should carry verbatim"
    rows = {r.id: r.v for r in tbl.read().collect()}
    assert rows[4] == 40, "matched row took the source value"
    assert rows[3] == 3 * 2 + 1000, "not-matched in-range row updated"
    assert rows[50] == 100, "out-of-range row untouched"
    assert rows[101] == 101, "source-only key inserted"
    assert len(rows) == 105
    # unconditional NMBS DELETE = full sync: target becomes the source
    src2 = spark.range(10, 20).selectExpr("id", "id * 7 AS v")
    tbl.merge_into(src2, key="id", not_matched_by_source_delete=True)
    final = {r.id: r.v for r in tbl.read().collect()}
    assert final == {i: i * 7 for i in range(10, 20)}


def test_mor_query_equivalence(spark, sf_dir):
    """The invariants q_iceberg_mor_delete / _mor_pos_delete asserted
    in-plan until r12 (every bench run paid ~4 extra full scans + two
    exceptAll shuffles for them): time travel to the pre-delete
    snapshot shows more rows, and the merge-on-read view is row-for-row
    identical to the post-compaction view."""
    from iceberg_twist_spark.sources.snapshots import (
        _mor_table,
        _pos_delete_table,
    )

    for build in (_mor_table, _pos_delete_table):
        tbl = build(spark, sf_dir)
        assert tbl.read(snapshot_id=1).count() > tbl.read(snapshot_id=2).count()
        mor = tbl.read(snapshot_id=2)
        compacted = tbl.read(snapshot_id=3)
        assert mor.exceptAll(compacted).isEmpty()
        assert compacted.exceptAll(mor).isEmpty()


def test_orphan_query_keeps_the_stage_readable(spark, sf_dir):
    """What q_iceberg_orphan asserted in-plan with a full count of the
    staged snapshot on every run: after the query's reclaim passes, the
    unpublished (but manifested) stage still reads all of its rows."""
    from iceberg_twist_spark.catalog import load_tables
    from iceberg_twist_spark.sources.snapshots import _orphan_table, q_iceberg_orphan

    q_iceberg_orphan(spark, sf_dir)
    tbl, staged, _ = _orphan_table(spark, sf_dir)
    orders = load_tables(spark, sf_dir)["orders"]
    want = orders.filter(F.col("o_orderkey") % 3 == 1).count()
    assert want > 0
    assert tbl.read(snapshot_id=staged).count() == want


# ---- fixed Spark work per verb -------------------------------------------
# Schemas and row counts of engine-written files come from metadata, so a
# verb launches only the jobs its data needs.


def test_unpartitioned_append_launches_one_job(spark, tmp_path):
    """The write is the only job: the row count comes from the footers
    the write left, and the files' schema is not inferred back."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(20).selectExpr("id", "id % 3 AS g"))
    batch = spark.createDataFrame([(100 + i, i % 3) for i in range(10)], "id long, g long")
    _, n_jobs = _jobs_launched(spark, lambda: tbl.append(batch))
    assert n_jobs == 1
    assert tbl._manifest(tbl.current_snapshot_id())["n_records"] == 30
    assert tbl.read().count() == 30


def test_pruned_read_with_pending_eq_delete_plans_without_jobs(spark, tmp_path):
    """Building a pruned read over data files plus a pending equality
    delete reads both schemas from metadata: no job before the action."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(100).selectExpr("id", "id * 2 AS v").repartition(4, "id"))
    tbl.delete_keys(spark.createDataFrame([(3,), (50,), (90,)], "id long"), "id")
    df, n_jobs = _jobs_launched(spark, lambda: tbl.read(skip=("id", 0, 60)))
    assert n_jobs == 0
    assert sorted(r.id for r in df.collect()) == [i for i in range(61) if i not in (3, 50)]


@pytest.mark.parametrize("verb", ["delete_where", "update_where"])
def test_no_hit_rewrite_runs_only_the_locate_job(spark, tmp_path, verb):
    """A copy-on-write verb whose condition matches no row runs the
    locate pass and writes nothing; it still commits a snapshot that
    lists the same files."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(40).selectExpr("id", "id * 10 AS v").repartition(4, "id"))
    before = tbl._manifest(tbl.current_snapshot_id())
    assert len(before["files"]) == 4
    miss = F.col("id") > 1000
    if verb == "delete_where":
        sid, n_jobs = _jobs_launched(spark, lambda: tbl.delete_where(miss))
    else:
        sid, n_jobs = _jobs_launched(
            spark, lambda: tbl.update_where(miss, {"v": F.lit(0)})
        )
    assert n_jobs == 1
    m = tbl._manifest(sid)
    assert sid == tbl.current_snapshot_id() == before["snapshot_id"] + 1
    assert m["operation"] == verb.split("_")[0]
    assert m["files"] == before["files"] and m["n_records"] == 40
    assert tbl.read().count() == 40


def test_no_hit_merge_still_writes_its_inserts(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(40).selectExpr("id", "id * 10 AS v").repartition(4, "id"))
    new = spark.range(100, 103).selectExpr("id", "id * 10 AS v")
    tbl.merge(new, "id")
    tbl.merge_into(new.selectExpr("id + 10 AS id", "v"), "id")
    rows = {r.id: r.v for r in tbl.read().collect()}
    assert len(rows) == 46 and rows[101] == 1010 and rows[112] == 1020


@pytest.mark.parametrize("verb", ["merge", "merge_into", "merge_into_nmbs_delete"])
def test_merge_evaluates_its_source_once(spark, tmp_path, verb):
    """The merge source feeds the file-locating semi join, the
    survivors' anti join and the union (``merge_into`` also its
    cardinality aggregate, and with a NOT MATCHED BY SOURCE clause a
    second locate branch); a UDF in it must see each source row once,
    not once per consumer."""
    from pyspark.sql.types import LongType

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.create(spark.range(40).selectExpr("id", "id * 10 AS v").repartition(4, "id"))
    seen = spark.sparkContext.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    tick_udf = F.udf(tick, LongType())
    source = spark.range(30, 50).select(
        tick_udf("id").alias("id"), (F.col("id") * 100).alias("v")
    )
    if verb == "merge":
        tbl.merge(source, "id")
    elif verb == "merge_into":
        tbl.merge_into(source, "id")
    else:
        tbl.merge_into(source, "id", not_matched_by_source_delete="t.id >= 30")
    assert seen.value == 20
    rows = {r.id: r.v for r in tbl.read().collect()}
    assert len(rows) == 50 and rows[5] == 50 and rows[35] == 3500 and rows[45] == 4500


def test_only_pinned_helpers_read_parquet():
    """Source guard: in snapshots.py every parquet read goes through
    ``SnapshotTable._scan`` (schema pinned; basePath discovery for
    hive-partitioned groups, typed by the pinned schema), and api.py,
    llm/similarity.py and llm/index_lifecycle.py have no parquet read of
    their own: every index (the Engine verbs', the materialized ANN
    indexes and the lifecycle fixtures) is read through the snapshot
    layer."""
    import ast
    import re

    import iceberg_twist_spark.api as api_mod
    import iceberg_twist_spark.llm.index_lifecycle as lifecycle_mod
    import iceberg_twist_spark.llm.similarity as sim_mod
    import iceberg_twist_spark.sources.snapshots as snap_mod

    bare = re.compile(r"(\.read|\breader)\.parquet\(")

    def reads_by_function(mod):
        with open(mod.__file__, encoding="utf-8") as f:
            src = f.read()
        funcs = [n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)]
        out = []
        for i, ln in enumerate(src.splitlines(), 1):
            if bare.search(ln):
                owners = [fn for fn in funcs if fn.lineno <= i <= fn.end_lineno]
                out.append(max(owners, key=lambda fn: fn.lineno).name if owners else None)
        return out

    assert set(reads_by_function(snap_mod)) == {"_scan"}
    for mod in (api_mod, sim_mod, lifecycle_mod):
        assert reads_by_function(mod) == [], mod.__name__


def test_copy_on_write_verbs_share_one_rewrite_core():
    """Source guard: in snapshots.py the ``_file_path`` locate pass
    (``.distinct().collect()``) lives only in ``SnapshotTable._locate``,
    which the copy-on-write core ``_rewrite`` and ``apply_deletes``
    share, and no copy-on-write verb writes or commits files on its
    own."""
    import ast

    import iceberg_twist_spark.sources.snapshots as snap_mod

    with open(snap_mod.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "SnapshotTable")
    defs = {
        n.name: ast.unparse(n)
        for n in tree.body + cls.body
        if isinstance(n, ast.FunctionDef)
    }
    locate = ".select('_file_path').distinct().collect()"
    assert [name for name, src in defs.items() if locate in src] == ["_locate"]
    for name in ("_rewrite", "apply_deletes"):
        assert "self._locate(" in defs[name], name
    for verb in ("merge", "update_where", "merge_into", "delete_where"):
        assert "self._rewrite(" in defs[verb], verb
        assert "self._commit(" not in defs[verb], verb
        assert "self._write_files(" not in defs[verb], verb


def test_apply_deletes_rewrites_only_hit_files_and_drops_the_deletes(spark, tmp_path):
    """Targeted compaction: only the files a pending delete removes a
    row from are rewritten (equality keys found by a semi join of the
    rows before the delete, position deletes by the files they name),
    every pending delete leaves the manifest in that one commit, and a
    key re-inserted after its delete still reads back."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    # four files: ids 0-9, 10-19, 20-29, 30-39
    tbl.create(spark.range(0, 40, 1, 4).selectExpr("id", "id * 10 AS v"))
    before = tbl._head()["files"]
    tbl.delete_keys(spark.createDataFrame([(3,), (5,)], "id long"), "id")
    tbl.delete_where_positional(F.col("id") == 25)
    tbl.append(spark.createDataFrame([(3, 999)], "id long, v long"))
    want = sorted(tuple(r) for r in tbl.read().collect())
    assert (3, 999) in want and (3, 30) not in want and len(want) == 38
    assert tbl.pending_deletes() == 2
    tbl.apply_deletes()
    after = tbl._head()["files"]
    assert tbl.pending_deletes() == 0
    assert sorted(tuple(r) for r in tbl.read().collect()) == want
    # the 10-19 and 30-39 files are carried verbatim
    assert len(set(before) & set(after)) == 2
    assert tbl._head()["n_records"] == len(want)
    # nothing pending: the commit keeps every file
    sid = tbl.apply_deletes()
    assert set(tbl._manifest(sid)["files"]) == set(after)


def test_copy_on_write_commits_leave_no_empty_files(spark, tmp_path):
    """A copy-on-write commit that writes no rows (nothing matched, or
    whole files deleted) adds no data file: a 0-row file carries no
    zone maps, so every pruned read would keep it."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    # four files: ids 0-9, 10-19, 20-29, 30-39
    tbl.create(spark.range(0, 40, 1, 4).selectExpr("id", "id * 10 AS v"))
    tbl.delete_where(F.col("id") > 1000)
    tbl.update_where(F.col("id") > 1000, {"v": F.lit(0)})
    tbl.delete_where(F.col("id") < 20)
    source = spark.createDataFrame([(500, 1)], "id long, v long")
    tbl.merge_into(source, "id", insert_not_matched=False)
    m = tbl._manifest(tbl.current_snapshot_id())
    assert len(m["files"]) == 2
    assert all(e["rows"] > 0 and e["stats"] for e in m["files"].values())
    assert m["n_records"] == 20
    assert sorted(r.id for r in tbl.read().collect()) == list(range(20, 40))
