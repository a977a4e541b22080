"""Cross-table atomic transactions (``sources/transactions.py``): the
single-refs-store catalog, all-or-nothing multi-table publish, CAS
abort semantics, consistent pins, and single-table-op compatibility of
catalog-bound tables."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from deathmetal_datalake_spark.sources.snapshots import CommitConflict
from deathmetal_datalake_spark.sources.transactions import SnapshotCatalog


@pytest.fixture()
def catalog(spark):
    with tempfile.TemporaryDirectory(prefix="dml-cat-") as d:
        yield SnapshotCatalog(spark, os.path.join(d, "cat"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v")


def test_atomic_two_table_publish(spark, catalog):
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 10), "overwrite", expected_parent=None)
        txn.write("embs", _df(spark, 0, 5), "overwrite", expected_parent=None)
    assert catalog.tables() == ["docs", "embs"]
    assert catalog.table("docs").read().count() == 10
    assert catalog.table("embs").read().count() == 5
    # Both publishes share ONE refs file version.
    refs = catalog._read_all_refs()
    assert set(refs) == {"docs::main", "embs::main"}


def test_conflict_aborts_whole_transaction(spark, catalog):
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 10), expected_parent=None)
        txn.write("embs", _df(spark, 0, 5), expected_parent=None)
    head_docs = catalog.table("docs").current_snapshot_id()
    head_embs = catalog.table("embs").current_snapshot_id()
    # Competing single-table writer moves embs under the transaction.
    catalog.table("embs").write(_df(spark, 5, 8), "append")
    with pytest.raises(CommitConflict):
        with catalog.transaction() as txn:
            txn.write("docs", _df(spark, 0, 99), expected_parent=head_docs)
            txn.write("embs", _df(spark, 0, 99), expected_parent=head_embs)
    # NOTHING from the failed transaction is visible — docs untouched
    # even though ITS expectation was satisfiable.
    assert catalog.table("docs").read().count() == 10
    assert catalog.table("docs").current_snapshot_id() == head_docs
    assert catalog.table("embs").read().count() == 8
    # The staged data dirs are orphans for the janitor.
    assert len(catalog.table("docs").orphan_data_dirs()) == 1
    assert len(catalog.table("embs").orphan_data_dirs()) == 1


def test_body_exception_aborts(spark, catalog):
    with pytest.raises(RuntimeError, match="boom"):
        with catalog.transaction() as txn:
            txn.write("docs", _df(spark, 0, 10), expected_parent=None)
            raise RuntimeError("boom")
    assert catalog.tables() == []  # nothing published
    assert catalog.table("docs").orphan_data_dirs()  # staged dir orphaned


def test_append_in_transaction_extends_head(spark, catalog):
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 10), expected_parent=None)
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 10, 15), mode="append")
        txn.write("embs", _df(spark, 0, 3), expected_parent=None)
    assert catalog.table("docs").read().count() == 15
    hist = catalog.table("docs").history()
    assert [s.mode for s in hist] == ["overwrite", "append"]


def test_pin_is_cross_table_consistent(spark, catalog):
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 10), expected_parent=None)
        txn.write("embs", _df(spark, 0, 5), expected_parent=None)
    pin = catalog.pin()
    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 20))
        txn.write("embs", _df(spark, 0, 20))
    # The pinned view still reconstructs the PRE-transaction state of
    # BOTH tables (no half-visible transaction).
    docs_v1 = catalog.table("docs").read(snapshot_id=pin["docs"]["main"])
    embs_v1 = catalog.table("embs").read(snapshot_id=pin["embs"]["main"])
    assert docs_v1.count() == 10
    assert embs_v1.count() == 5
    assert catalog.table("docs").read().count() == 20


def test_catalog_bound_tables_keep_single_table_semantics(spark, catalog):
    t = catalog.table("docs")
    s1 = t.write(_df(spark, 0, 10), "overwrite")
    t.create_branch("audit")
    t.write(_df(spark, 10, 20), "append", branch="audit")
    assert t.read(branch="main").count() == 10
    t.fast_forward("main", "audit")
    assert t.read(branch="main").count() == 20
    t.rollback("main", s1.snapshot_id)
    assert t.read(branch="main").count() == 10
    with pytest.raises(CommitConflict):
        t.write(_df(spark, 0, 1), expected_parent=999)
    # Branch refs live ONLY in the catalog store; no per-table refs file.
    assert not os.path.exists(os.path.join(t._meta_dir, "refs.json"))


def test_staged_manifest_crash_is_reclaimed_by_retention(spark, catalog):
    """A crash between manifest writes and the refs swap leaves
    unreferenced manifests; expire_snapshots treats them as outside
    every retained lineage and deletes them."""
    t = catalog.table("docs")
    t.write(_df(spark, 0, 10), "overwrite")
    # Simulate the crash artifact: a manifest no ref points to.
    sid = t._next_snapshot_id()
    stray_dir = os.path.join(t._data_dir, "snap-deadbeef")
    os.makedirs(stray_dir)
    with open(t._snap_path(sid), "x") as f:
        json.dump(
            {
                "snapshot_id": sid,
                "parent_id": None,
                "mode": "overwrite",
                "data_dirs": [stray_dir],
                "committed_at": 0.0,
            },
            f,
        )
    expired = t.expire_snapshots(keep_last=5)
    assert sid in expired
    assert not os.path.exists(t._snap_path(sid))
    assert not os.path.exists(stray_dir)
    assert t.read().count() == 10  # live head untouched


def test_invalid_table_names(catalog):
    for bad in ("", "a::b", "a/b"):
        with pytest.raises(ValueError):
            catalog.table(bad)


def test_concurrent_transactions_no_lost_updates(spark, catalog):
    """N threads each commit a transaction appending to BOTH tables
    without CAS: the under-lock head re-read means every append lands
    — both tables end with all N rows and identical history length."""
    import threading

    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            with catalog.transaction() as txn:
                txn.write("docs", _df(spark, i, i + 1), mode="append")
                txn.write("embs", _df(spark, 100 + i, 101 + i), mode="append")
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert errs == []
    assert catalog.table("docs").read().count() == 6
    assert catalog.table("embs").read().count() == 6
    assert len(catalog.table("docs").history()) == 6
    # Every refs version moved both tables together (same txn count).
    assert (
        catalog.table("docs").current_snapshot_id()
        == catalog.table("embs").current_snapshot_id()
    )


def test_racing_cas_transactions_exactly_one_wins(spark, catalog):
    """Two transactions staged against the SAME expected parent: the
    commit lock serializes them and exactly one publishes."""
    import threading

    with catalog.transaction() as txn:
        txn.write("docs", _df(spark, 0, 5), expected_parent=None)
    head = catalog.table("docs").current_snapshot_id()
    results: list[str] = []
    lock = threading.Lock()

    def racer(tag: str) -> None:
        try:
            with catalog.transaction() as txn:
                txn.write(
                    "docs", _df(spark, 10, 20), expected_parent=head
                )
            with lock:
                results.append(f"{tag}:won")
        except CommitConflict:
            with lock:
                results.append(f"{tag}:conflict")

    threads = [threading.Thread(target=racer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert sorted(r.split(":")[1] for r in results) == ["conflict", "won"]
    assert catalog.table("docs").read().count() == 10


def test_transaction_append_keeps_column_rename_epochs(spark, catalog):
    """A transaction stages like a single-table write: its dir carries
    the column registry's write epoch, and an append keeps the parent's
    per-dir epochs — otherwise both dirs read under epoch 0's physical
    names and a swapped pair of columns comes back swapped."""
    schema = "k long, a long, b long"
    t = catalog.table("docs")
    t.write(spark.createDataFrame([(1, 10, 100)], schema), "overwrite")
    # Swap a and b (pure metadata: three renames).
    t.rename_column("a", "tmp")
    t.rename_column("b", "a")
    t.rename_column("tmp", "b")
    t.write(spark.createDataFrame([(2, 200, 20)], schema), mode="append")
    assert t.read().filter("k = 2").select("a", "b").first() == (200, 20)
    with catalog.transaction() as txn:
        txn.write(
            "docs", spark.createDataFrame([(3, 300, 30)], schema), mode="append"
        )
    got = {r.k: (r.a, r.b) for r in t.read().collect()}
    assert got == {1: (100, 10), 2: (200, 20), 3: (300, 30)}
