"""Snapshot/branch table format: Iceberg+Nessie-analog semantics
(``sources/snapshots.py``) — versioned writes, time travel, branches,
rollback, write-audit-publish, orphan detection."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from pyspark.sql import functions as F

from deathmetal_datalake_spark.sources.snapshots import SnapshotTable
from deathmetal_datalake_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def table(spark):
    with tempfile.TemporaryDirectory(prefix="dml-snap-") as d:
        yield SnapshotTable(spark, os.path.join(d, "orders_tbl"))


@pytest.fixture()
def orders(spark):
    return load_table(spark, SF, "orders")


def test_overwrite_append_and_time_travel(table, orders):
    part1 = orders.filter(F.col("o_orderstatus") == "F")
    part2 = orders.filter(F.col("o_orderstatus") != "F")
    s1 = table.write(part1, mode="overwrite")
    s2 = table.write(part2, mode="append")
    assert s2.parent_id == s1.snapshot_id
    # Head = union of both writes; snapshot 1 = first write only.
    assert table.read().count() == orders.count()
    assert table.read(snapshot_id=s1.snapshot_id).count() == part1.count()
    # Overwrite resets the file set; history keeps all three versions.
    s3 = table.write(part2, mode="overwrite")
    assert table.read().count() == part2.count()
    assert [s.snapshot_id for s in table.history()] == [
        s1.snapshot_id,
        s2.snapshot_id,
        s3.snapshot_id,
    ]
    # Every historical version remains readable after the overwrite.
    assert table.read(snapshot_id=s2.snapshot_id).count() == orders.count()


def test_as_of_timestamp_read(table, orders):
    s1 = table.write(orders.limit(10), mode="overwrite")
    s2 = table.write(orders.limit(5), mode="append")
    at_s1 = table.read(as_of=s1.committed_at)
    assert at_s1.count() == 10
    at_s2 = table.read(as_of=s2.committed_at + 1)
    assert at_s2.count() == 15
    with pytest.raises(LookupError):
        table.read(as_of=s1.committed_at - 1)


def test_branch_isolation_and_publish(table, orders):
    table.write(orders.filter(F.col("o_orderstatus") == "F"), mode="overwrite")
    main_count = table.read().count()
    # Audit on a staging branch: main must not see the staged append.
    table.create_branch("audit")
    table.write(
        orders.filter(F.col("o_orderstatus") == "O"), mode="append", branch="audit"
    )
    assert table.read().count() == main_count
    assert table.read(branch="audit").count() > main_count
    # Publish = O(1) fast-forward of main onto the audited branch.
    table.fast_forward("main", "audit")
    assert table.read().count() == table.read(branch="audit").count()
    table.drop_branch("audit")
    assert "audit" not in table.branches()


def test_rollback_is_metadata_only(table, orders):
    s1 = table.write(orders.limit(10), mode="overwrite")
    table.write(orders.limit(20), mode="overwrite")
    table.rollback("main", s1.snapshot_id)
    assert table.read().count() == 10
    # Rolling back to a snapshot outside the lineage is refused.
    with pytest.raises(LookupError):
        table.rollback("main", 999)


def test_schema_and_values_roundtrip(table, orders):
    table.write(orders, mode="overwrite")
    got = table.read()
    assert got.schema == orders.schema
    assert (
        got.agg(F.sum("o_orderkey")).collect()[0][0]
        == orders.agg(F.sum("o_orderkey")).collect()[0][0]
    )


def test_orphan_detection(table, orders, spark):
    table.write(orders.limit(5), mode="overwrite")
    # Simulate a failed write: a data dir with no manifest pointing at it.
    stray = os.path.join(table.base_path, "data", "snap-99-deadbeef")
    orders.limit(1).write.parquet(stray)
    orphans = table.orphan_data_dirs()
    assert orphans == [stray]


def test_branch_guards(table, orders):
    with pytest.raises(LookupError):
        table.create_branch("b", from_branch="main")  # no snapshots yet
    table.write(orders.limit(1), mode="overwrite")
    table.create_branch("b")
    with pytest.raises(ValueError):
        table.create_branch("b")
    with pytest.raises(ValueError):
        table.drop_branch("main")


def test_compaction_preserves_rows_and_history(table, orders):
    import glob

    for i in range(4):  # append-heavy history -> many small files
        table.write(orders.limit(25), mode="overwrite" if i == 0 else "append")
    before = table.read().count()
    head_before = table.current_snapshot_id()
    snap = table.compact(target_files=2)
    assert table.read().count() == before
    # compacted head has exactly the target file layout
    files = [
        f
        for d in snap.data_dirs
        for f in glob.glob(os.path.join(d, "part-*.parquet"))
    ]
    assert len(files) == 2
    # the pre-compaction version is still reconstructable
    assert table.read(snapshot_id=head_before).count() == before
    assert len(table.history()) == 5


def test_optimistic_commit_conflict(table, orders):
    from deathmetal_datalake_spark.sources.snapshots import CommitConflict

    s1 = table.write(orders.limit(10), mode="overwrite")
    # writer B commits on top of s1 first
    table.write(orders.limit(5), mode="append", expected_parent=s1.snapshot_id)
    # writer A, also based on s1, must now be refused
    with pytest.raises(CommitConflict):
        table.write(orders.limit(3), mode="append", expected_parent=s1.snapshot_id)


# ---- multi-writer coordination (the Nessie-catalog role) ----------------


def _locked_increment(base_path: str, counter_path: str, iters: int) -> None:
    """Child-process worker: bump a counter file under the commit lock.

    Runs without Spark — the lock is pure filesystem metadata, which is
    exactly why it works across processes.
    """
    from deathmetal_datalake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable.__new__(SnapshotTable)
    t.base_path = base_path
    t._meta_dir = os.path.join(base_path, "metadata")
    t._data_dir = os.path.join(base_path, "data")
    for _ in range(iters):
        with t._commit_lock():
            with open(counter_path) as f:
                n = int(f.read())
            with open(counter_path, "w") as f:
                f.write(str(n + 1))


def test_commit_lock_excludes_across_processes(table):
    """The read-modify-write under ``_commit_lock`` must not lose updates
    even when the writers are separate OS processes."""
    import multiprocessing as mp

    counter = os.path.join(table.base_path, "counter.txt")
    os.makedirs(table.base_path, exist_ok=True)
    with open(counter, "w") as f:
        f.write("0")
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_locked_increment, args=(table.base_path, counter, 25))
        for _ in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    with open(counter) as f:
        assert int(f.read()) == 100


def test_concurrent_appends_all_survive(table, orders):
    """N threads appending without CAS: the under-lock re-read of the
    parent means every append lands — no lost updates, linear history."""
    import threading

    rows = orders.limit(12).collect()
    spark = table.spark
    errs: list[Exception] = []

    def appender(i: int) -> None:
        try:
            df = spark.createDataFrame([rows[i]], schema=orders.schema)
            table.write(df, mode="append")
        except Exception as exc:  # pragma: no cover - surfaced via assert
            errs.append(exc)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert table.read().count() == 6
    hist = table.history()
    ids = [s.snapshot_id for s in hist]
    assert len(ids) == len(set(ids)) == 6
    # Linear chain: each snapshot's parent is its predecessor.
    for prev, cur in zip(hist, hist[1:]):
        assert cur.parent_id == prev.snapshot_id


def test_commit_with_retry_rebases_read_modify_write(table, spark):
    """Concurrent transactional increments: every writer's transform is
    rebased onto the moved head, so all N increments survive."""
    import threading

    table.write(spark.createDataFrame([(0,)], "n long"), mode="overwrite")
    errs: list[Exception] = []

    def incr() -> None:
        try:
            table.commit_with_retry(
                lambda head: head.select((F.col("n") + 1).alias("n")),
                mode="overwrite",
                max_retries=20,
            )
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=incr) for _ in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert table.read().collect()[0].n == 5


def test_stale_lock_is_broken(table, orders):
    """A lock file left by a crashed writer must not wedge the table."""
    lock = table._lock_path
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as f:
        f.write("pid=999999\n")
    old = os.path.getmtime(lock) - 3600
    os.utime(lock, (old, old))
    snap = table.write(orders.limit(3), mode="overwrite")  # must not block
    assert table.read(snapshot_id=snap.snapshot_id).count() == 3


def test_live_lock_times_out(table, orders):
    """A FRESH lock (healthy holder) is respected until timeout."""
    with open(table._lock_path, "w") as f:
        f.write("pid=1\n")
    try:
        with pytest.raises(TimeoutError):
            with table._commit_lock(timeout_s=0.3):
                pass  # pragma: no cover
    finally:
        os.unlink(table._lock_path)


def test_compact_refuses_to_drop_concurrent_append(table, orders):
    """Compaction reads head, a writer appends mid-rewrite, compaction's
    overwrite must CAS-fail rather than silently drop the new rows."""
    from deathmetal_datalake_spark.sources.snapshots import CommitConflict

    for i in range(3):
        table.write(orders.limit(4), mode="append")
    head = table.current_snapshot_id()
    # Simulate a concurrent append landing between compact's read and
    # its publish by appending first, then calling a compaction that
    # believes head is still the old snapshot.
    current = table.read(snapshot_id=head)
    table.write(orders.limit(2), mode="append")
    with pytest.raises(CommitConflict):
        table.write(
            current.repartition(2),
            mode="overwrite",
            expected_parent=head,
        )
    # Nothing was lost: the concurrent append's rows are all present.
    assert table.read().count() == 14


def test_snapshot_diff_null_semantics(spark):
    """CDC diff: NULL→value and value→NULL count as changes; NULL==NULL
    does not; unchanged keys are absent from the output."""
    from deathmetal_datalake_spark.flows.catalog import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d"), (5, None)],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (5, None), (6, "f")],
        "k long, v string",
    )
    got = {r.k: (r.change, r.old_v, r.new_v) for r in snapshot_diff(old, new, "k").collect()}
    assert got == {
        2: ("changed", None, "b"),   # NULL -> value
        3: ("changed", "c", None),   # value -> NULL
        4: ("removed", "d", None),
        6: ("added", None, "f"),
    }  # 1 (equal) and 5 (NULL == NULL) are not emitted


def test_snapshot_diff_roundtrip_property(spark):
    """CDC invariant: applying the diff to the old version reproduces
    the new version exactly, for generated key/value tables with
    overlapping keys, NULLs, adds, drops, and edits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deathmetal_datalake_spark.flows.catalog import snapshot_diff

    vals = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
    table = st.dictionaries(st.integers(min_value=0, max_value=12), vals, max_size=8)

    @settings(max_examples=15, deadline=None)
    @given(old=table, new=table)
    def prop(old, new):
        schema = "k long, v string"
        old_df = spark.createDataFrame(
            [(k, None if v is None else str(v)) for k, v in old.items()], schema
        )
        new_df = spark.createDataFrame(
            [(k, None if v is None else str(v)) for k, v in new.items()], schema
        )
        diff = {
            r.k: (r.change, r.new_v)
            for r in snapshot_diff(old_df, new_df, "k").collect()
        }
        # Apply the patch driver-side.
        patched = dict(old)
        for k, (change, new_v) in diff.items():
            if change == "removed":
                patched.pop(k, None)
            else:
                patched[k] = None if new_v is None else int(new_v)
        assert patched == new
        # And every key NOT in the diff was genuinely unchanged.
        for k in set(old) & set(new):
            if k not in diff:
                assert old[k] == new[k]

    prop()


def test_read_appends_incremental_feed(table, orders):
    """Incremental read returns exactly the rows appended after the
    anchor; an overwrite in the delta raises; an empty delta is empty."""
    s1 = table.write(orders.limit(10), mode="append")
    assert table.read_appends(s1.snapshot_id).count() == 0
    table.write(orders.limit(4), mode="append")
    s3 = table.write(orders.limit(2), mode="append")
    assert table.read_appends(s1.snapshot_id).count() == 6
    assert table.read_appends(s3.snapshot_id).count() == 0
    table.write(orders.limit(3), mode="overwrite")
    with pytest.raises(ValueError, match="overwrites"):
        table.read_appends(s1.snapshot_id)
    with pytest.raises(LookupError):
        table.read_appends(999)


def test_schema_evolution_on_append(table, orders, spark):
    """An append may add a column; the merged read surfaces the union
    schema with NULLs for pre-existing rows, and time travel still
    returns the old schema's data."""
    base = orders.limit(5).select("o_orderkey", "o_orderstatus")
    s1 = table.write(base, mode="overwrite")
    evolved = orders.limit(3).select(
        "o_orderkey", "o_orderstatus", F.lit("eu").alias("region_tag")
    )
    table.write(evolved, mode="append")
    head = table.read()
    assert "region_tag" in head.columns
    assert head.count() == 8
    assert head.filter(F.col("region_tag").isNull()).count() == 5
    # Old snapshot unaffected.
    assert "region_tag" not in table.read(snapshot_id=s1.snapshot_id).columns


def test_expire_snapshots_retention(table, orders):
    """Only the trailing keep_last snapshots survive; expired data dirs
    unreferenced by live snapshots are deleted; the head still reads;
    shared dirs referenced by retained appends are kept."""
    for i in range(6):
        table.write(orders.limit(i + 1), mode="overwrite")
    head_before = table.read().count()
    expired = table.expire_snapshots(keep_last=2)
    assert len(expired) == 4
    hist = table.history()
    assert len(hist) == 2
    assert table.read().count() == head_before
    # Append lineage: appended snapshots share dirs with ancestors —
    # expiring must not delete dirs the retained appends still reference.
    for i in range(3):
        table.write(orders.limit(2), mode="append")
    table.expire_snapshots(keep_last=2)
    assert table.read().count() == head_before + 6


def test_first_commit_cas_on_empty_branch(table, orders, spark):
    """expected_parent=None means 'expect the branch EMPTY': once a
    first commit lands, a second first-commit attempt must CAS-fail —
    and commit_with_retry rebases instead of losing a transaction."""
    from deathmetal_datalake_spark.sources.snapshots import CommitConflict

    table.write(orders.limit(2), mode="overwrite", expected_parent=None)
    with pytest.raises(CommitConflict):
        table.write(orders.limit(3), mode="overwrite", expected_parent=None)
    # retry path: two transactional writers starting from empty both land.
    import threading

    t2 = type(table)(spark, table.base_path + "_empty_cas")
    errs: list[Exception] = []

    def txn():
        try:
            t2.commit_with_retry(
                lambda head: spark.createDataFrame([(1,)], "n long")
                if head is None
                else head.select((F.col("n") + 1).alias("n")),
                mode="overwrite",
                max_retries=20,
            )
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=txn) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert t2.read().collect()[0].n == 3


def test_snapshot_ids_never_recycled_after_expiry(table, orders):
    """Expiring the highest-numbered manifests must not let a new commit
    reuse an old snapshot id (time-travel bookmarks would rebind)."""
    for i in range(4):
        table.write(orders.limit(i + 1), mode="overwrite")
    table.rollback("main", table.history()[0].snapshot_id)
    table.expire_snapshots(keep_last=1)  # drops ids 2..4
    snap = table.write(orders.limit(9), mode="overwrite")
    assert snap.snapshot_id == 5  # not 2


def test_expire_keep_last_zero_rejected(table, orders):
    table.write(orders.limit(1), mode="overwrite")
    with pytest.raises(ValueError, match="keep_last"):
        table.expire_snapshots(keep_last=0)


def test_read_appends_merges_evolved_schema(table, orders):
    """The incremental feed surfaces columns added by later appends,
    same as the head read."""
    s1 = table.write(
        orders.limit(3).select("o_orderkey", "o_orderstatus"), mode="append"
    )
    table.write(
        orders.limit(2).select("o_orderkey", "o_orderstatus"), mode="append"
    )
    table.write(
        orders.limit(1).select(
            "o_orderkey", "o_orderstatus", F.lit("x").alias("tag")
        ),
        mode="append",
    )
    feed = table.read_appends(s1.snapshot_id)
    assert "tag" in feed.columns
    assert feed.count() == 3


def test_snapshot_diff_key_only_table(spark):
    """A keyset table diffs to pure added/removed (no value columns)."""
    from deathmetal_datalake_spark.flows.catalog import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r.k: r.change for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "removed", 3: "added"}


# ---- row-level deletes (delete-vector analog) --------------------------


def test_delete_keys_basic_and_time_travel(spark, table, orders):
    s1 = table.write(orders.limit(20), mode="overwrite")
    keys = table.read().select("o_orderkey").orderBy("o_orderkey").limit(5)
    s2 = table.delete_keys(keys, "o_orderkey")
    assert s2.mode == "delete"
    assert table.read().count() == 15
    # Time travel: the pre-delete snapshot still shows every row.
    assert table.read(snapshot_id=s1.snapshot_id).count() == 20
    # Deleted keys are really gone from the head read.
    gone = {r[0] for r in keys.collect()}
    left = {r[0] for r in table.read().select("o_orderkey").collect()}
    assert gone.isdisjoint(left)


def test_delete_then_append_does_not_suppress_new_rows(spark, table, orders):
    base = orders.limit(10)
    table.write(base, mode="overwrite")
    table.delete_keys(base.select("o_orderkey"), "o_orderkey")
    assert table.read().count() == 0
    # Re-insert the same keys: the old delete covers only the old
    # files, so the fresh rows are visible (DELETE-then-INSERT).
    table.write(base, mode="append")
    assert table.read().count() == 10


def test_compact_applies_deletes_physically(spark, table, orders):
    table.write(orders.limit(20), mode="overwrite")
    keys = table.read().select("o_orderkey").orderBy("o_orderkey").limit(5)
    table.delete_keys(keys, "o_orderkey")
    snap = table.compact()
    assert snap.deletes == ()
    assert table.read().count() == 15
    # The delete-key dirs stay referenced by HISTORY (time travel to
    # the delete snapshot still works) until retention expires them.
    assert table.orphan_data_dirs() == []
    table.expire_snapshots(keep_last=1)
    assert table.read().count() == 15


def test_delete_keys_stale_parent_writes_nothing(spark, table, orders):
    """A stale ``expected_parent`` fails before the key dir is staged,
    so the refused delete leaves no orphan behind."""
    from deathmetal_datalake_spark.sources.snapshots import CommitConflict

    s1 = table.write(orders.limit(5), mode="overwrite")
    table.write(orders.limit(3), mode="append")
    with pytest.raises(CommitConflict):
        table.delete_keys(
            orders.select("o_orderkey").limit(1),
            "o_orderkey",
            expected_parent=s1.snapshot_id,
        )
    assert table.orphan_data_dirs() == []


def test_delete_requires_existing_snapshot(spark, table, orders):
    with pytest.raises(LookupError):
        table.delete_keys(orders.select("o_orderkey").limit(1), "o_orderkey")
    table.write(orders.limit(5), mode="overwrite")
    with pytest.raises(ValueError):
        table.delete_keys(orders.limit(1), "nope")


def test_delete_blocks_incremental_read(spark, table, orders):
    s1 = table.write(orders.limit(10), mode="append")
    table.delete_keys(
        table.read().select("o_orderkey").limit(2), "o_orderkey"
    )
    with pytest.raises(ValueError, match="append-only"):
        table.read_appends(since_snapshot_id=s1.snapshot_id)


def test_read_changes_inserts_and_deletes(spark, table, orders):
    base = orders.limit(10)
    s1 = table.write(base, mode="append")
    more = orders.limit(15).subtract(base)
    table.write(more, mode="append")
    keys = base.select("o_orderkey").limit(3)
    table.delete_keys(keys, "o_orderkey")
    ch = table.read_changes(since_snapshot_id=s1.snapshot_id)
    ins = ch.filter("_change_type = 'insert'")
    dels = ch.filter("_change_type = 'delete'")
    assert ins.count() == more.count()
    assert dels.count() == 3
    # Delete events carry the key and NULL payloads.
    row = dels.first()
    assert row["o_orderstatus"] is None
    # Commit ids tag which snapshot produced each change.
    assert ins.select("_commit_snapshot_id").distinct().count() == 1
    # Empty delta from the head.
    head = table.current_snapshot_id()
    assert table.read_changes(since_snapshot_id=head).count() == 0


def test_read_changes_rejects_overwrite(spark, table, orders):
    s1 = table.write(orders.limit(5), mode="append")
    table.write(orders.limit(3), mode="overwrite")
    with pytest.raises(ValueError, match="overwrites"):
        table.read_changes(since_snapshot_id=s1.snapshot_id)


def test_sorted_compaction_clusters_files(spark, table, orders):
    """compact(sort_by=...) range-clusters output files: every file
    covers a disjoint o_orderkey range (parquet min/max data-skipping
    lines up with key predicates), and rows are preserved exactly."""
    import pyarrow.parquet as pq

    table.write(orders.limit(50), mode="append")
    table.write(orders.limit(200).subtract(orders.limit(50)), mode="append")
    before = table.read()
    n_before = before.count()
    snap = table.compact(target_files=4, sort_by=["o_orderkey"])
    assert table.read().count() == n_before
    # File-level key ranges must not overlap.
    ranges = []
    for d in snap.data_dirs:
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(d, name), columns=["o_orderkey"])
            if t.num_rows:
                keys = t.column("o_orderkey").to_pylist()
                ranges.append((min(keys), max(keys)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint → min/max stats skip cleanly


def test_vacuum_removes_old_orphans_only(spark, table, orders):
    table.write(orders.limit(10), mode="overwrite")
    stray = os.path.join(table._data_dir, "snap-stray000000")
    orders.limit(3).write.parquet(stray)
    # Young orphan: protected by the age guard (may be an in-flight commit).
    assert table.vacuum(older_than_s=3600) == []
    assert os.path.exists(stray)
    # Old orphan: reclaimed.
    old = time.time() - 7200
    os.utime(stray, (old, old))
    assert table.vacuum(older_than_s=3600) == [stray]
    assert not os.path.exists(stray)
    assert table.read().count() == 10


# ---- delete-vector auto-compaction (fold_deletes) ----------------------


def test_fold_deletes_applies_and_clears_vectors(spark, table, orders):
    table.write(orders.limit(40), mode="overwrite")
    all_keys = [r[0] for r in table.read().select("o_orderkey").orderBy("o_orderkey").collect()]
    for k in all_keys[:3]:
        table.delete_keys(spark.createDataFrame([(k,)], "o_orderkey long"), "o_orderkey")
    pre = sorted(r[0] for r in table.read().select("o_orderkey").collect())
    folded = table.fold_deletes()
    assert folded is not None and folded.mode == "fold" and folded.deletes == ()
    post = sorted(r[0] for r in table.read().select("o_orderkey").collect())
    assert post == pre  # row-preserving
    # Nothing left to fold; second call is a no-op.
    assert table.fold_deletes() is None


def test_sequential_takedowns_keep_read_plan_bounded(spark, table, orders):
    # The round-3 soft spot: N takedowns stacked N anti-joins that every
    # read replayed. With the auto-fold threshold, outstanding vectors
    # and the read plan's anti-join count stay bounded for any N.
    thresh = SnapshotTable.DELETE_FOLD_THRESHOLD
    table.write(orders.limit(100), mode="overwrite")
    keys = [r[0] for r in table.read().select("o_orderkey").orderBy("o_orderkey").collect()]
    for k in keys[:12]:  # 12 sequential takedowns > threshold
        table.delete_keys(spark.createDataFrame([(k,)], "o_orderkey long"), "o_orderkey")
    head = table._load_snapshot(table.current_snapshot_id())
    assert len(head.deletes) < thresh
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftAnti") <= 1  # same-column vectors union into one build side
    assert table.read().count() == 88
    left = {r[0] for r in table.read().select("o_orderkey").collect()}
    assert left.isdisjoint(set(keys[:12]))


def test_fold_preserves_untouched_dirs_and_history(spark, table, orders):
    s1 = table.write(orders.limit(10), mode="overwrite")
    keys = table.read().select("o_orderkey").limit(4)
    gone = {r[0] for r in keys.collect()}
    s2 = table.delete_keys(keys, "o_orderkey")
    # Rows appended AFTER the delete are not covered by it — the fold
    # must carry their dir over untouched, not rewrite it.
    extra = orders.limit(30).subtract(orders.limit(10))
    s3 = table.write(extra, mode="append")
    appended_dir = [d for d in s3.data_dirs if d not in s2.data_dirs]
    folded = table.fold_deletes()
    assert set(appended_dir) <= set(folded.data_dirs)
    assert table.read().count() == 6 + 20
    # Time travel: pre-fold snapshots still replay their own vectors.
    assert table.read(snapshot_id=s1.snapshot_id).count() == 10
    assert table.read(snapshot_id=s2.snapshot_id).count() == 6
    # Change feed across the fold: the fold itself contributes no rows.
    changes = table.read_changes(s3.snapshot_id)
    assert changes.count() == 0


def test_fold_stats_survive_for_untouched_dirs(spark, table, orders):
    # Manifest pruning on untouched dirs must still work post-fold.
    table.write(orders.limit(10), mode="overwrite")
    table.delete_keys(table.read().select("o_orderkey").limit(2), "o_orderkey")
    s3 = table.write(
        orders.filter(F.col("o_orderkey") > 100000).limit(5), mode="append"
    )
    appended_dir = [d for d in s3.data_dirs if d in s3.dir_stats][0]
    folded = table.fold_deletes()
    for d in s3.data_dirs:
        if d in folded.data_dirs and d == appended_dir:
            assert folded.dir_stats.get(d) == s3.dir_stats.get(d)


# ---- hidden partitioning (partition spec) ------------------------------


def test_partition_spec_write_read_and_prune(spark, table, orders):
    import datetime as dt

    table.set_partition_spec([("month", "o_orderdate")])
    src = orders.select("o_orderkey", "o_orderdate", "o_totalprice")
    table.write(src, "overwrite")
    # Logical schema untouched: no partition column leaks.
    assert table.read().columns == ["o_orderkey", "o_orderdate", "o_totalprice"]
    assert table.read().count() == src.count()
    cutoff = dt.date(1996, 7, 1)
    filters = [("o_orderdate", ">=", cutoff)]
    kept, pruned = table.scan_dirs(filters)
    months = {
        r[0]
        for r in src.select(F.date_format("o_orderdate", "yyyy-MM")).distinct().collect()
    }
    assert len(kept) + len(pruned) == len(months)
    assert len(pruned) == len([m for m in months if m < "1996-07"])
    got = table.read(filters=filters).count()
    want = src.filter(F.col("o_orderdate") >= F.lit(cutoff)).count()
    assert got == want
    # Equality prunes to exactly one month-dir.
    k2, _ = table.scan_dirs([("o_orderdate", "=", dt.date(1996, 3, 15))])
    assert len(k2) == 1


def test_partition_spec_evolution_applies_to_future_writes(spark, table, orders):
    import datetime as dt

    src = orders.select("o_orderkey", "o_orderdate").limit(100)
    # Pre-spec write: no partition values recorded for its dir.
    table.write(src, "overwrite")
    table.set_partition_spec([("month", "o_orderdate")])
    extra = orders.select("o_orderkey", "o_orderdate").limit(160).subtract(src)
    table.write(extra, "append")
    head = table._load_snapshot(table.current_snapshot_id())
    with_vals = set(head.dir_partitions)
    without = set(head.data_dirs) - with_vals
    assert with_vals and without  # both generations present
    cutoff = dt.date(1997, 1, 1)
    filters = [("o_orderdate", ">=", cutoff)]
    kept, pruned = table.scan_dirs(filters)
    # Pre-spec dirs have no partition values: spec pruning keeps them
    # conservatively (stats pruning may still drop one, which is fine).
    for d in without:
        if d in pruned:
            # only stats could have pruned it, never the (absent) spec
            assert d not in head.dir_partitions
    # Correctness is exact either way.
    got = table.read(filters=filters).count()
    want = (
        src.unionByName(extra)
        .filter(F.col("o_orderdate") >= F.lit(cutoff))
        .count()
    )
    assert got == want


def test_partition_spec_change_keeps_old_dirs_pruning(spark, table, orders):
    import datetime as dt

    src = orders.select("o_orderkey", "o_orderdate").limit(120)
    table.set_partition_spec([("year", "o_orderdate")])
    table.write(src, "overwrite")
    table.set_partition_spec([("month", "o_orderdate")])  # evolve
    extra = orders.select("o_orderkey", "o_orderdate").limit(200).subtract(src)
    table.write(extra, "append")
    head = table._load_snapshot(table.current_snapshot_id())
    names = {n for pv in head.dir_partitions.values() for n in pv}
    assert {"o_orderdate_year", "o_orderdate_month"} <= names  # both specs live
    cutoff = dt.date(1997, 6, 1)
    filters = [("o_orderdate", ">=", cutoff)]
    kept, pruned = table.scan_dirs(filters)
    # Old-spec (year) dirs still prune under year arithmetic: any year
    # dir wholly before 1997 must be pruned.
    for d, pv in head.dir_partitions.items():
        if pv.get("o_orderdate_year", "9999") < "1997":
            assert d in pruned
    got = sorted(r.o_orderkey for r in table.read(filters=filters).collect())
    want = sorted(
        r.o_orderkey
        for r in src.unionByName(extra)
        .filter(F.col("o_orderdate") >= F.lit(cutoff))
        .collect()
    )
    assert got == want


def test_partition_spec_bucket_transform_equality_prune(spark, table, orders):
    import hashlib

    table.set_partition_spec([("bucket[8]", "o_custkey")])
    src = orders.select("o_orderkey", "o_custkey").limit(200)
    table.write(src, "overwrite")
    key = src.select("o_custkey").first()[0]
    kept, pruned = table.scan_dirs([("o_custkey", "=", key)])
    assert len(kept) == 1
    want_bucket = str(int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % 8)
    snap = table._load_snapshot(table.current_snapshot_id())
    assert snap.dir_partitions[kept[0]]["o_custkey_bucket8"] == want_bucket
    # Range ops must NOT prune on a bucket transform (non-monotonic).
    k2, p2 = table.scan_dirs([("o_custkey", ">=", key)])
    assert p2 == []
    # Correctness: pruned read equals plain filtered read.
    assert (
        table.read(filters=[("o_custkey", "=", key)]).count()
        == src.filter(F.col("o_custkey") == key).count()
    )


def test_partition_spec_append_and_time_travel(spark, table, orders):
    table.set_partition_spec([("year", "o_orderdate")])
    src = orders.select("o_orderkey", "o_orderdate").limit(100)
    s1 = table.write(src, "overwrite")
    extra = orders.select("o_orderkey", "o_orderdate").limit(150).subtract(src)
    table.write(extra, "append")
    assert table.read().count() == 100 + extra.count()
    assert table.read(snapshot_id=s1.snapshot_id).count() == 100
    # Appended dirs carry partition values too: every data dir of the
    # head has a recorded year.
    head = table._load_snapshot(table.current_snapshot_id())
    assert set(head.data_dirs) == set(head.dir_partitions)


def test_partition_spec_delete_and_fold_keep_values(spark, table, orders):
    table.set_partition_spec([("year", "o_orderdate")])
    src = orders.select("o_orderkey", "o_orderdate").limit(60)
    table.write(src, "overwrite")
    keys = src.select("o_orderkey").limit(10)
    table.delete_keys(keys, "o_orderkey")
    assert table.read().count() == 50
    folded = table.fold_deletes()
    assert folded.deletes == ()
    assert table.read().count() == 50


def test_takedown_sequence_model_property(spark, tmp_path):
    """Model-based invariant for the delete/append/fold machinery:
    any sequence of (append batch | upsert batch | delete keys)
    operations leaves the table equal to a driver-side model applying
    the same ops — with auto-fold firing mid-sequence at a low
    threshold (from upserts as well as deletes), so folds interleave
    with live traffic rather than running on a quiet table."""
    import os as _os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
        st.tuples(st.just("delete"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
        st.tuples(st.just("upsert"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
    )

    counter = [0]

    def frame(rows, cols):
        # Inline VALUES (bigint literals): no Python-worker tasks per write.
        values = ", ".join("(" + ", ".join(f"{v}L" for v in r) + ")" for r in rows)
        return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")

    @settings(max_examples=8, deadline=None)
    @given(ops=st.lists(op, min_size=2, max_size=8))
    def prop(ops):
        counter[0] += 1
        t = SnapshotTable(spark, _os.path.join(str(tmp_path), f"t{counter[0]}"))
        t.DELETE_FOLD_THRESHOLD = 2  # force folds mid-sequence
        model: dict[int, int] = {}  # key -> multiplicity
        next_tag = [0]
        written = False
        for kind, keys in ops:
            if kind == "append":
                rows = [(k, next_tag[0] + i) for i, k in enumerate(keys)]
                next_tag[0] += len(keys)
                t.write(
                    frame(rows, "k, tag"),
                    mode="append" if written else "overwrite",
                )
                written = True
                for k in keys:
                    model[k] = model.get(k, 0) + 1
            elif kind == "upsert":
                if not written:
                    continue
                rows = [(k, next_tag[0] + i) for i, k in enumerate(sorted(set(keys)))]
                next_tag[0] += len(rows)
                t.merge_upsert(frame(rows, "k, tag"), "k")
                for k in set(keys):
                    model[k] = 1
            else:
                if not written:
                    continue
                t.delete_keys(frame([(k,) for k in set(keys)], "k"), "k")
                for k in set(keys):
                    model.pop(k, None)
        if not written:
            return
        got: dict[int, int] = {}
        for r in t.read().select("k").collect():
            got[r.k] = got.get(r.k, 0) + 1
        assert got == model

    prop()


def test_partition_pruned_read_equals_plain_filter_property(spark, tmp_path, orders):
    """read(filters) over a spec table ≡ read().filter(...) for random
    predicates on the partition source column — pruning is purely an
    optimization, never a semantics change."""
    import datetime as dt
    import os as _os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    src = orders.select("o_orderkey", "o_orderdate", "o_totalprice").limit(400)
    t = SnapshotTable(spark, _os.path.join(str(tmp_path), "spec_prop"))
    t.set_partition_spec([("month", "o_orderdate")])
    t.write(src, "overwrite")
    lo, hi = dt.date(1994, 6, 1), dt.date(2002, 3, 1)
    days = (hi - lo).days

    ops = st.sampled_from(["<", "<=", ">", ">=", "="])
    datestrat = st.integers(0, days).map(lambda n: lo + dt.timedelta(days=n))

    @settings(max_examples=12, deadline=None)
    @given(op=ops, d=datestrat)
    def prop(op, d):
        filters = [("o_orderdate", op, d)]
        from deathmetal_datalake_spark.sources.snapshots import _filters_to_column

        got = sorted(
            r.o_orderkey for r in t.read(filters=filters).select("o_orderkey").collect()
        )
        want = sorted(
            r.o_orderkey
            for r in t.read().filter(_filters_to_column(filters)).select("o_orderkey").collect()
        )
        assert got == want

    prop()


# ---- tags: named immutable refs (Iceberg tag analog) ----------------------


def test_tag_pins_snapshot_through_later_writes(spark, tmp_path):
    from pyspark.sql import Row

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    tbl.write(spark.createDataFrame([Row(v=1)]), "overwrite")
    tbl.create_tag("release-1")
    tbl.write(spark.createDataFrame([Row(v=2)]), "overwrite")
    assert [r.v for r in tbl.read(tag="release-1").collect()] == [1]
    assert [r.v for r in tbl.read().collect()] == [2]
    # Immutable: re-creating is refused; explicit ids are validated.
    import pytest as _pytest

    with _pytest.raises(ValueError, match="immutable"):
        tbl.create_tag("release-1")
    with _pytest.raises(LookupError):
        tbl.create_tag("ghost", snapshot_id=999)
    with _pytest.raises(ValueError):
        tbl.read(tag="release-1", snapshot_id=1)
    with _pytest.raises(LookupError):
        tbl.read(tag="nope")


def test_expire_keeps_tagged_snapshots(spark, tmp_path):
    from pyspark.sql import Row

    tbl = SnapshotTable(spark, str(tmp_path / "t"))
    first = tbl.write(spark.createDataFrame([Row(v=0)]), "overwrite")
    tbl.create_tag("training-set-v1", snapshot_id=first.snapshot_id)
    for v in range(1, 8):
        tbl.write(spark.createDataFrame([Row(v=v)]), "overwrite")
    expired = tbl.expire_snapshots(keep_last=2)
    # The tagged snapshot survived retention and still reads exactly.
    assert first.snapshot_id not in expired
    assert [r.v for r in tbl.read(tag="training-set-v1").collect()] == [0]
    # Dropping the tag releases it on the next expiry.
    tbl.drop_tag("training-set-v1")
    expired2 = tbl.expire_snapshots(keep_last=2)
    assert first.snapshot_id in expired2


def test_maintain_one_call_policy(spark, tmp_path):
    from pyspark.sql import functions as F

    from deathmetal_datalake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "maintained"))
    t.set_sort_order(["k"])
    base = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(base.repartition(12), mode="overwrite")  # many small files
    t.write(
        spark.range(500, 600).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ).repartition(8),
        mode="append",
    )
    t.delete_keys(base.filter(F.col("k") < 5).select("k"), "k")

    report = t.maintain(max_files=4, keep_last=2, vacuum_older_than_s=0.0)
    # Fold may have auto-run at delete time (DELETE_FOLD_THRESHOLD);
    # either way the head must be delete-free and compacted.
    assert report["head_files"] > 4
    assert isinstance(report["compacted"], int)
    head = t._load_snapshot(t.current_snapshot_id())
    assert not head.deletes
    n_files = sum(len(v) for v in head.file_stats.values())
    assert n_files <= 4
    assert t.read().count() == 595  # 600 - 5 deleted
    # Retention kept only the last 2 snapshots.
    assert len(t.history()) <= 2
    # Sorted compaction (declared order) restores pruning.
    kept, pruned = t.scan_files(filters=[("k", ">=", 590)])
    assert pruned


# ---------------------------------------------------------------------------
# Round-11: single-snapshot MERGE (upsert) via pre-merge-scoped
# equality deletes (sources/snapshots.merge_upsert).
# ---------------------------------------------------------------------------


def test_merge_upsert_replaces_and_inserts_in_one_snapshot(table, spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    s1 = table.write(base, "overwrite")
    batch = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    s2 = table.merge_upsert(batch, "k")
    assert s2.mode == "merge" and s2.parent_id == s1.snapshot_id
    got = {r["k"]: (r["s"], r["v"]) for r in table.read().collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 200.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # ONE snapshot: history grew by exactly one and time travel still
    # sees the pre-merge state.
    assert [s.snapshot_id for s in table.history()] == [
        s1.snapshot_id, s2.snapshot_id
    ]
    pre = {r["k"]: r["s"] for r in table.read(snapshot_id=s1.snapshot_id).collect()}
    assert pre == {1: "a", 2: "b", 3: "c"}


def test_merge_upsert_repeated_merges_latest_wins(table, spark):
    table.write(
        spark.createDataFrame([(1, 1.0)], "k long, v double"), "overwrite"
    )
    table.merge_upsert(
        spark.createDataFrame([(1, 2.0), (2, 1.0)], "k long, v double"), "k"
    )
    table.merge_upsert(
        spark.createDataFrame([(2, 9.0)], "k long, v double"), "k"
    )
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: 2.0, 2: 9.0}


def test_merge_upsert_cdc_emits_delete_then_insert(table, spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    s1 = table.write(base, "overwrite")
    table.merge_upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, s string"), "k"
    )
    ch = table.read_changes(s1.snapshot_id)
    rows = {(r["_change_type"], r["k"], r["s"]) for r in ch.collect()}
    # delete events carry the KEY (non-key columns NULL); inserts carry
    # the full new row — the upserted keys appear as delete+insert.
    assert rows == {
        ("delete", 2, None),
        ("delete", 3, None),
        ("insert", 2, "B"),
        ("insert", 3, "c"),
    }


def test_merge_upsert_refuses_empty_table_and_missing_key(table, spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    with pytest.raises(LookupError):
        table.merge_upsert(df, "k")
    table.write(df, "overwrite")
    with pytest.raises(ValueError):
        table.merge_upsert(df, "nope")


def test_merge_upsert_cas_conflict(table, spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    s1 = table.write(df, "overwrite")
    s2 = table.write(
        spark.createDataFrame([(9, "z")], "k long, s string"), "append"
    )
    from deathmetal_datalake_spark.sources.snapshots import CommitConflict

    with pytest.raises(CommitConflict):
        table.merge_upsert(df, "k", expected_parent=s1.snapshot_id)
    # Rebased on the real head it commits.
    s3 = table.merge_upsert(df, "k", expected_parent=s2.snapshot_id)
    assert s3.parent_id == s2.snapshot_id


def test_merge_upsert_rejects_null_and_duplicate_keys(table, spark):
    # Round-12 ADVICE: a NULL key can never match the equality delete's
    # anti-join (the old NULL-key row would survive alongside the new
    # insert), and duplicate keys within one batch would both insert —
    # Iceberg MERGE errors on multiple source matches. Both are
    # rejected up front, before anything is written.
    table.write(
        spark.createDataFrame([(1, "a")], "k long, s string"), "overwrite"
    )
    with pytest.raises(ValueError, match="NULL"):
        table.merge_upsert(
            spark.createDataFrame([(None, "x"), (2, "b")], "k long, s string"),
            "k",
        )
    with pytest.raises(ValueError, match="duplicate"):
        table.merge_upsert(
            spark.createDataFrame([(2, "b"), (2, "B")], "k long, s string"),
            "k",
        )
    # Nothing committed, no orphan state visible: history unchanged and
    # a subsequent valid merge still works.
    assert len(table.history()) == 1
    table.merge_upsert(
        spark.createDataFrame([(2, "b")], "k long, s string"), "k"
    )
    got = {r["k"]: r["s"] for r in table.read().collect()}
    assert got == {1: "a", 2: "b"}


# ---------------------------------------------------------------------------
# Round 12: three-way branch merge with key-level conflict detection
# (sources/snapshots.merge_branch) — the Nessie-merge analog.
# ---------------------------------------------------------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, s string")


def test_merge_branch_disjoint_edits_merge_cleanly(table, spark):
    s0 = table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(3, "c")]), "append", branch="dev")
    table.delete_keys(_kv(spark, [(1, "x")]).select("k"), "k", branch="dev")
    table.write(_kv(spark, [(4, "d")]), "append")  # main diverges too
    snap = table.merge_branch("dev", "main", "k")
    assert snap.mode == "merge"
    got = {r["k"]: r["s"] for r in table.read().collect()}
    # dev's delta (insert 3, delete 1) lands on main's (insert 4).
    assert got == {2: "b", 3: "c", 4: "d"}
    # dev itself is untouched; time travel pre-merge still works.
    dev = {r["k"] for r in table.read(branch="dev").collect()}
    assert dev == {2, 3}
    pre = {r["k"] for r in table.read(snapshot_id=s0.snapshot_id).collect()}
    assert pre == {1, 2}


def test_merge_branch_conflicting_key_raises_with_report(table, spark):
    from deathmetal_datalake_spark.sources.snapshots import MergeConflict

    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(2, "DEV")]), "append", branch="dev")
    table.delete_keys(_kv(spark, [(2, "x")]).select("k"), "k")  # main touches 2
    with pytest.raises(MergeConflict) as ei:
        table.merge_branch("dev", "main", "k")
    assert ei.value.conflict_keys == [2] and ei.value.n_conflicts == 1
    # Nothing committed: main's head is still the delete.
    assert table.history()[-1].mode == "delete"


def test_merge_branch_fast_forward_and_noop_paths(table, spark):
    s0 = table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    # src at fork -> no-op returns dst head.
    snap = table.merge_branch("dev", "main", "k")
    assert snap.snapshot_id == s0.snapshot_id
    # dst at fork, src ahead -> pure fast-forward (no new snapshot).
    s1 = table.write(_kv(spark, [(2, "b")]), "append", branch="dev")
    snap = table.merge_branch("dev", "main", "k")
    assert snap.snapshot_id == s1.snapshot_id
    assert table.branches()["main"] == s1.snapshot_id
    got = {r["k"] for r in table.read().collect()}
    assert got == {1, 2}


def test_merge_branch_post_fork_overwrite_refuses(table, spark):
    table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(9, "z")]), "overwrite", branch="dev")
    table.write(_kv(spark, [(2, "b")]), "append")
    with pytest.raises(ValueError, match="not\\s+dir-expressible"):
        table.merge_branch("dev", "main", "k")


def test_merge_branch_upsert_delta_carries_scoped_deletes(table, spark):
    # A merge_upsert on the side branch (delete+insert in one snapshot)
    # must land on dst with its delete still scoped to the FORK-side
    # dirs: the upserted key shows the DEV value post-merge.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.merge_upsert(_kv(spark, [(2, "DEV"), (5, "e")]), "k", branch="dev")
    table.write(_kv(spark, [(7, "g")]), "append")
    table.merge_branch("dev", "main", "k")
    got = {r["k"]: r["s"] for r in table.read().collect()}
    assert got == {1: "a", 2: "DEV", 5: "e", 7: "g"}


# ---------------------------------------------------------------------------
# Round 12 (cont.): rebase_branch — replay src's net post-fork delta
# onto another branch's head with an ours/theirs conflict policy
# (sources/snapshots.rebase_branch), plus the ref_log topology view.
# ---------------------------------------------------------------------------


def test_rebase_branch_replays_net_delta_onto_moved_head(table, spark):
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    # dev: insert 3, upsert 2 -> "DEV", delete 1.
    table.write(_kv(spark, [(3, "c")]), "append", branch="dev")
    table.merge_upsert(_kv(spark, [(2, "DEV")]), "k", branch="dev")
    table.delete_keys(_kv(spark, [(1, "x")]).select("k"), "k", branch="dev")
    # main diverges on a disjoint key.
    main_head = table.write(_kv(spark, [(4, "d")]), "append")
    snap = table.rebase_branch("dev", "main", "k")
    assert snap.mode == "rebase" and snap.parent_id == main_head.snapshot_id
    # dev now reads main's state with dev's delta replayed.
    got = {r["k"]: r["s"] for r in table.read(branch="dev").collect()}
    assert got == {2: "DEV", 3: "c", 4: "d"}
    # main never moved.
    assert table.branches()["main"] == main_head.snapshot_id
    main_got = {r["k"] for r in table.read().collect()}
    assert main_got == {1, 2, 4}
    # The rebased branch shares main's head: a later merge fast-forwards.
    ff = table.merge_branch("dev", "main", "k")
    assert ff.snapshot_id == snap.snapshot_id


def test_rebase_branch_last_write_wins_within_delta(table, spark):
    # append 5 -> delete 5 -> append 5 again: net delta is ONE live row
    # (the second version); the intermediate one was killed by the
    # scoped delete between them.
    table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(5, "v1")]), "append", branch="dev")
    table.delete_keys(_kv(spark, [(5, "x")]).select("k"), "k", branch="dev")
    table.write(_kv(spark, [(5, "v2")]), "append", branch="dev")
    table.write(_kv(spark, [(9, "m")]), "append")
    table.rebase_branch("dev", "main", "k")
    got = {r["k"]: r["s"] for r in table.read(branch="dev").collect()}
    assert got == {1: "a", 5: "v2", 9: "m"}


def test_rebase_branch_net_delete_lands_as_delete(table, spark):
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.delete_keys(_kv(spark, [(2, "x")]).select("k"), "k", branch="dev")
    table.write(_kv(spark, [(3, "c")]), "append")
    table.rebase_branch("dev", "main", "k")
    got = {r["k"] for r in table.read(branch="dev").collect()}
    assert got == {1, 3}


def test_rebase_branch_conflict_policies(table, spark):
    from deathmetal_datalake_spark.sources.snapshots import MergeConflict

    def build():
        table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
        for b in ("dev_fail", "dev_ours", "dev_theirs"):
            try:
                table.drop_branch(b)
            except Exception:
                pass
            table.create_branch(b)
            table.merge_upsert(_kv(spark, [(2, "DEV")]), "k", branch=b)
        table.merge_upsert(_kv(spark, [(2, "MAIN")]), "k")  # conflict on 2

    build()
    with pytest.raises(MergeConflict) as ei:
        table.rebase_branch("dev_fail", "main", "k")
    assert ei.value.conflict_keys == [2]
    # ours: dev's version wins on the conflict key.
    table.rebase_branch("dev_ours", "main", "k", strategy="ours")
    got = {r["k"]: r["s"] for r in table.read(branch="dev_ours").collect()}
    assert got == {1: "a", 2: "DEV"}
    # theirs: main's version survives; the rest of the delta still lands.
    table.rebase_branch("dev_theirs", "main", "k", strategy="theirs")
    got = {r["k"]: r["s"] for r in table.read(branch="dev_theirs").collect()}
    assert got == {1: "a", 2: "MAIN"}


def test_rebase_branch_theirs_keeps_nonconflicting_delta(table, spark):
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.merge_upsert(_kv(spark, [(2, "DEV"), (5, "e")]), "k", branch="dev")
    table.delete_keys(_kv(spark, [(1, "x")]).select("k"), "k", branch="dev")
    table.merge_upsert(_kv(spark, [(2, "MAIN")]), "k")
    table.rebase_branch("dev", "main", "k", strategy="theirs")
    got = {r["k"]: r["s"] for r in table.read(branch="dev").collect()}
    # 2 keeps MAIN (conflict), 5 inserts, 1 deletes (both non-conflicts).
    assert got == {2: "MAIN", 5: "e"}


def test_rebase_branch_degenerate_paths(table, spark):
    s0 = table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    # onto unmoved -> no-op (src already based at onto's head).
    s1 = table.write(_kv(spark, [(2, "b")]), "append", branch="dev")
    snap = table.rebase_branch("dev", "main", "k")
    assert snap.snapshot_id == s1.snapshot_id
    # src at fork -> fast-forward src to onto's head.
    table.create_branch("idle", from_branch="main")
    s2 = table.write(_kv(spark, [(3, "c")]), "append")
    snap = table.rebase_branch("idle", "main", "k")
    assert snap.snapshot_id == s2.snapshot_id
    assert table.branches()["idle"] == s2.snapshot_id
    assert s0.snapshot_id != s2.snapshot_id


def test_rebase_branch_rejects_dup_live_rows_and_overwrites(table, spark):
    table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    # Two plain appends of the same key with no delete between: the
    # delta holds TWO live rows for key 7 -> not upsert-expressible.
    table.write(_kv(spark, [(7, "x")]), "append", branch="dev")
    table.write(_kv(spark, [(7, "y")]), "append", branch="dev")
    table.write(_kv(spark, [(2, "b")]), "append")
    with pytest.raises(ValueError, match="surviving"):
        table.rebase_branch("dev", "main", "k")
    # Post-fork overwrite on either side refuses (main must move too,
    # else the unmoved-onto short-circuit returns before the guard).
    table.create_branch("dev2", from_branch="main")
    table.write(_kv(spark, [(9, "z")]), "overwrite", branch="dev2")
    table.write(_kv(spark, [(3, "c")]), "append")
    with pytest.raises(ValueError, match="row-expressible"):
        table.rebase_branch("dev2", "main", "k")


def test_rebase_then_read_changes_renders_delta(table, spark):
    # A rebase snapshot is merge-shaped for CDC: delete-then-insert.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.merge_upsert(_kv(spark, [(2, "DEV")]), "k", branch="dev")
    s_main = table.write(_kv(spark, [(3, "c")]), "append")
    table.rebase_branch("dev", "main", "k")
    changes = table.read_changes(s_main.snapshot_id, branch="dev")
    got = {(r["_change_type"], r["k"]) for r in changes.collect()}
    assert got == {("delete", 2), ("insert", 2)}


def test_ref_log_topology(table, spark):
    s0 = table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(2, "b")]), "append", branch="dev")
    s2 = table.write(_kv(spark, [(3, "c")]), "append")
    table.create_tag("v1", snapshot_id=s0.snapshot_id)
    rows = table.ref_log()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["ref"], []).append(r)
    assert set(by_ref) == {"main", "dev", "v1"}
    main_rows = sorted(by_ref["main"], key=lambda r: r["position"])
    assert [r["snapshot_id"] for r in main_rows] == [
        s0.snapshot_id,
        s2.snapshot_id,
    ]
    assert main_rows[-1]["is_head"] and not main_rows[0]["is_head"]
    dev_rows = sorted(by_ref["dev"], key=lambda r: r["position"])
    # dev's fork-of-main marker sits on the shared root snapshot.
    assert [r["is_fork_of_main"] for r in dev_rows] == [True, False]
    assert dev_rows[0]["snapshot_id"] == s0.snapshot_id
    assert by_ref["v1"][0]["ref_kind"] == "tag"
    assert all(r["ref_kind"] == "branch" for r in main_rows + dev_rows)
    # Modes round-trip.
    assert {r["mode"] for r in rows} == {"overwrite", "append"}


# ---------------------------------------------------------------------------
# Round 13: fold-tolerant rebase, the named-fold merge error, and
# merged_from base advancement (re-merge of a continued branch).
# ---------------------------------------------------------------------------


def test_merge_branch_fold_error_names_fold_and_rebase(table, spark):
    # delete_keys/merge_upsert auto-fold at DELETE_FOLD_THRESHOLD, so a
    # branch doing only row-expressible work can become un-mergeable
    # without ever calling fold_deletes() itself (round-12 ADVICE). The
    # dir-copy merge must say WHY (the fold) and point at the
    # fold-tolerant escape hatch (rebase_branch) — not a generic
    # "overwrites/compactions" message.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.delete_keys(_kv(spark, [(1, "x")]).select("k"), "k", branch="dev")
    table.fold_deletes(branch="dev")
    table.write(_kv(spark, [(4, "d")]), "append")
    with pytest.raises(ValueError) as ei:
        table.merge_branch("dev", "main", "k")
    msg = str(ei.value)
    assert "FOLD" in msg and "rebase_branch" in msg
    assert "DELETE_FOLD_THRESHOLD" in msg


def test_rebase_branch_tolerates_folds_on_both_sides(table, spark):
    # A fold physically applies deletes the delta walk already
    # sequences — row-neutral — so rebase replays across folds on src
    # AND onto exactly as it would without them.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    # dev: +6, upsert 2 -> DEV, delete 1, then fold.
    table.write(_kv(spark, [(6, "f")]), "append", branch="dev")
    table.merge_upsert(_kv(spark, [(2, "DEV")]), "k", branch="dev")
    table.delete_keys(_kv(spark, [(1, "x")]).select("k"), "k", branch="dev")
    assert table.fold_deletes(branch="dev") is not None
    # main: +4, delete... nothing dev touched, then fold.
    table.write(_kv(spark, [(4, "d")]), "append")
    table.delete_keys(_kv(spark, [(4, "x")]).select("k"), "k")
    table.write(_kv(spark, [(5, "e")]), "append")
    assert table.fold_deletes(branch="main") is not None
    snap = table.rebase_branch("dev", "main", "k")
    assert snap.mode == "rebase"
    got = {r["k"]: r["s"] for r in table.read(branch="dev").collect()}
    # main's post-fold state {2:b, 5:e} + dev's delta (+6, 2->DEV, -1).
    assert got == {2: "DEV", 5: "e", 6: "f"}


def test_rebase_branch_fold_then_more_commits(table, spark):
    # Delta work BOTH before and after a fold on src: pre-fold appends
    # are read from their ORIGINAL dirs (still on disk), the folded
    # delete still kills its key, post-fold commits sequence after.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(7, "x")]), "append", branch="dev")
    table.delete_keys(_kv(spark, [(7, "x")]).select("k"), "k", branch="dev")
    table.fold_deletes(branch="dev")
    table.write(_kv(spark, [(7, "y")]), "append", branch="dev")
    table.write(_kv(spark, [(3, "c")]), "append")
    table.rebase_branch("dev", "main", "k")
    got = {r["k"]: r["s"] for r in table.read(branch="dev").collect()}
    # 7's pre-fold version died (delete sequenced after its append);
    # the post-fold re-append survives as the net version.
    assert got == {1: "a", 2: "b", 3: "c", 7: "y"}


def test_merge_branch_continue_after_merge_advances_base(table, spark):
    # Round-12 ADVICE: merge, keep committing on src, merge again. The
    # merge snapshot records merged_from, so the second merge diffs
    # from src's head-at-first-merge instead of the original fork — no
    # spurious conflict on the already-merged keys.
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(3, "c")]), "append", branch="dev")
    table.write(_kv(spark, [(4, "d")]), "append")
    m1 = table.merge_branch("dev", "main", "k")
    assert m1.mode == "merge" and m1.merged_from == table.branches()["dev"]
    # Immediate re-merge: src contributed nothing new -> no-op.
    again = table.merge_branch("dev", "main", "k")
    assert again.snapshot_id == m1.snapshot_id
    # Both sides keep going on disjoint keys; the re-merge is clean.
    table.write(_kv(spark, [(5, "e")]), "append", branch="dev")
    table.write(_kv(spark, [(6, "f")]), "append")
    m2 = table.merge_branch("dev", "main", "k")
    assert m2.mode == "merge"
    got = {r["k"] for r in table.read().collect()}
    assert got == {1, 2, 3, 4, 5, 6}
    # Genuine conflicts are still caught from the ADVANCED base: src
    # touching a key dst changed AFTER the first merge conflicts...
    from deathmetal_datalake_spark.sources.snapshots import MergeConflict

    table.merge_upsert(_kv(spark, [(6, "DEV")]), "k", branch="dev")
    with pytest.raises(MergeConflict):
        table.merge_branch("dev", "main", "k")


def test_merge_branch_post_merge_src_touching_premerge_dst_key_conflicts(
    table, spark
):
    # Git-faithful base semantics: dst's ORIGINAL post-fork delta (key
    # 4) is NOT part of the advanced base (src's head at merge time),
    # so src later touching key 4 re-merges as a conflict — src's
    # version must not silently overwrite dst's.
    table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(3, "c")]), "append", branch="dev")
    table.write(_kv(spark, [(4, "d")]), "append")
    table.merge_branch("dev", "main", "k")
    table.merge_upsert(_kv(spark, [(4, "DEV")]), "k", branch="dev")
    from deathmetal_datalake_spark.sources.snapshots import MergeConflict

    with pytest.raises(MergeConflict) as ei:
        table.merge_branch("dev", "main", "k")
    assert ei.value.conflict_keys == [4]


def test_rebase_after_merge_uses_advanced_base(table, spark):
    table.write(_kv(spark, [(1, "a"), (2, "b")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(3, "c")]), "append", branch="dev")
    table.write(_kv(spark, [(4, "d")]), "append")
    table.merge_branch("dev", "main", "k")
    # dev continues; main continues; rebase must replay ONLY the new
    # work (key 5), not re-flag the already-merged key 3.
    table.write(_kv(spark, [(5, "e")]), "append", branch="dev")
    main_head = table.write(_kv(spark, [(6, "f")]), "append")
    snap = table.rebase_branch("dev", "main", "k")
    assert snap.parent_id == main_head.snapshot_id
    got = {r["k"] for r in table.read(branch="dev").collect()}
    assert got == {1, 2, 3, 4, 5, 6}
    assert table.branches()["main"] == main_head.snapshot_id


def test_merge_branch_merged_from_survives_manifest_roundtrip(table, spark):
    table.write(_kv(spark, [(1, "a")]), "overwrite")
    table.create_branch("dev")
    table.write(_kv(spark, [(2, "b")]), "append", branch="dev")
    table.write(_kv(spark, [(3, "c")]), "append")
    dev_head = table.branches()["dev"]
    m = table.merge_branch("dev", "main", "k")
    reloaded = table._load_snapshot(m.snapshot_id)
    assert reloaded.merged_from == dev_head
    # Non-merge snapshots carry None (manifest back-compat default).
    assert table._load_snapshot(dev_head).merged_from is None


# ---- golden manifests: one commit of every kind ---------------------------

GOLDEN_MANIFESTS = os.path.join(
    os.path.dirname(__file__), "golden", "commit_manifests.json"
)


def _commit_manifest_sequence(spark, root: str) -> list:
    """One small table takes an overwrite, an append, an upsert, a
    delete, a fold, a branch merge and a rebase (with a bloom column
    and a column rename, so stats, file stats, blooms and write epochs
    are all populated; partition inheritance has its own tests and its
    shuffles would double the run time); one catalog takes two
    transactions. Returns every manifest and refs file, normalized:
    ``committed_at`` dropped, data dirs renamed to ordinals of first
    appearance, the job uuid cut out of part-file names, every other
    field as written."""
    import json
    import re

    from deathmetal_datalake_spark.sources.transactions import SnapshotCatalog

    # Inline VALUES frames: no Python worker per write, one file each.
    def rows(pairs, value_col="w"):
        values = ", ".join(f"({k}L, {v}L)" for k, v in pairs)
        return spark.sql(
            f"SELECT * FROM VALUES {values} AS t(k, {value_col})"
        ).coalesce(1)

    def keys(ks):
        return rows([(k, 0) for k in ks]).select("k")

    t = SnapshotTable(spark, os.path.join(root, "t"))
    t.set_bloom_columns(["k"])
    t.write(rows([(k, k) for k in range(6)], "v"), "overwrite")
    t.rename_column("v", "w")
    t.write(rows([(6, 60), (7, 70)]), "append")
    t.merge_upsert(rows([(1, 11), (8, 80)]), "k")
    t.delete_keys(keys([2]), "k")
    t.fold_deletes()
    t.create_branch("dev")
    t.write(rows([(20, 200)]), "append", branch="dev")
    t.delete_keys(keys([3]), "k")
    t.merge_branch("dev", "main", "k")
    t.create_branch("feat")
    t.merge_upsert(rows([(30, 300)]), "k", branch="feat")
    t.write(rows([(40, 400)]), "append")
    t.rebase_branch("feat", "main", "k")
    cat = SnapshotCatalog(spark, os.path.join(root, "cat"))
    with cat.transaction() as txn:
        txn.write("a", rows([(1, 1)]), expected_parent=None)
    with cat.transaction() as txn:
        txn.write("a", rows([(2, 2)]), mode="append")
        txn.write("b", rows([(3, 3)]), expected_parent=None)

    docs = []
    for meta in (t._meta_dir, *(cat.table(n)._meta_dir for n in ("a", "b"))):
        sids = sorted(
            int(n[len("snap-") : -len(".json")])
            for n in os.listdir(meta)
            if n.startswith("snap-") and n.endswith(".json")
        )
        for sid in sids:
            with open(os.path.join(meta, f"snap-{sid}.json")) as f:
                doc = json.load(f)
            doc.pop("committed_at")
            docs.append(doc)
    for refs in (t._refs_path, cat._refs_path):
        with open(refs) as f:
            docs.append(json.load(f))
    ordinals: dict[str, str] = {}

    def ordinal(m) -> str:
        return ordinals.setdefault(m.group(0), f"{m.group(1)}-{len(ordinals)}")

    text = json.dumps(docs).replace(root, "<root>")
    text = re.sub(r"\b(snap|merge|fold|rebase|del)-[0-9a-f]{12}\b", ordinal, text)
    text = re.sub(r"(part-\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", r"\1", text)
    return json.loads(text)


def test_commit_manifests_match_golden(spark, tmp_path):
    """Every commit kind writes the same manifest JSON as the recorded
    golden sequence: the same top-level keys in the same order, and the
    same content. Key order inside the stats maps is not compared — it
    follows Python's per-process string hashing."""
    import json

    got = _commit_manifest_sequence(spark, str(tmp_path))
    with open(GOLDEN_MANIFESTS) as f:
        want = json.load(f)
    assert [list(d) for d in got] == [list(d) for d in want]
    assert json.dumps(got, indent=1, sort_keys=True) == json.dumps(
        want, indent=1, sort_keys=True
    )
