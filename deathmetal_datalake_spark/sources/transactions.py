"""Cross-table ATOMIC transactions over snapshot tables — the
multi-statement catalog transaction the per-table commit lock in
``sources/snapshots.py`` cannot express (docs/NEXT.md round-3 item #1;
the Nessie-commit analog of publishing ``documents`` + ``embeddings``
in one visible step, reference catalog role:
``scripts/bootstrap_catalog.sh:6-9``).

Design — one ref store, one commit point:

- A :class:`SnapshotCatalog` roots N snapshot tables under one
  directory and keeps EVERY table's branch refs in a single
  ``_catalog/refs.json`` keyed ``"<table>::<branch>"``. Catalog-bound
  tables are full :class:`SnapshotTable` objects whose ref reads/writes
  are projected into that shared file and whose commit lock is the
  shared catalog lock — single-table operations keep their exact
  semantics (CAS, WAP branches, retention) while serializing on the
  catalog like writers against a real catalog service.
- Because all refs live in ONE file published by atomic rename, a
  multi-table transaction is: stage every table's data (expensive,
  outside the lock, through the same ``_write_data_dirs`` as a
  single-table write, so partition spec, bloom columns and column
  registry epochs apply), then hand every staged commit to the one
  publish function ``snapshots._publish`` with the CATALOG's lock and
  ref store: it validates every CAS expectation, writes each table's
  manifest, and swaps ALL refs in one rename. Readers see every table
  move together or none (snapshot isolation at the catalog level); a
  conflict on ANY table aborts the WHOLE transaction with nothing
  published.

Failure atlas: a crash before ``commit()`` leaves staged data dirs
(janitor: ``orphan_data_dirs``); a crash inside ``commit()`` after
manifests but before the refs rename leaves staged manifests no branch
references — harmless to readers, reclaimed by ``expire_snapshots``
(unreferenced manifests are outside every retained lineage). The refs
rename is the only visibility point, so no crash exposes a partial
transaction.

Scale note (100 TB): transaction cost is dominated by the parquet
writes, which run fully parallel OUTSIDE the lock; the serialized
section is an O(#tables) JSON swap, identical in shape to Iceberg's
optimistic commit against a locking catalog.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

from deathmetal_datalake_spark.sources.snapshots import (
    UNSET,
    Snapshot,
    SnapshotTable,
    _Commit,
    _expectation,
    _file_lock,
    _publish,
    _Unset,
    _written,
)

_SEP = "::"  # table-name / branch-name separator in the shared ref store


class _CatalogTable(SnapshotTable):
    """A :class:`SnapshotTable` whose refs live in the catalog's shared
    store and whose commit lock IS the catalog lock. Data and manifests
    stay per-table (``<catalog>/<name>/{data,metadata}``); only ref
    state and mutual exclusion are hoisted."""

    def __init__(self, catalog: "SnapshotCatalog", name: str):
        if _SEP in name or "/" in name or not name:
            raise ValueError(f"invalid table name {name!r}")
        super().__init__(catalog.spark, os.path.join(catalog.base_path, name))
        self._catalog = catalog
        self._name = name

    # Shared mutual exclusion: every table in the catalog serializes on
    # ONE lock, so read-modify-write of the shared refs file is safe.
    @property
    def _lock_path(self) -> str:  # type: ignore[override]
        return self._catalog._lock_path

    def _read_refs(self) -> dict[str, int]:  # type: ignore[override]
        pfx = self._name + _SEP
        return {
            k[len(pfx):]: v
            for k, v in self._catalog._read_all_refs().items()
            if k.startswith(pfx)
        }

    def _write_refs(self, refs: dict[str, int]) -> None:  # type: ignore[override]
        # Called only under the (shared) commit lock by every mutating
        # path in SnapshotTable, so this read-merge-rename is atomic
        # with respect to other tables' writers.
        pfx = self._name + _SEP
        merged = {
            k: v
            for k, v in self._catalog._read_all_refs().items()
            if not k.startswith(pfx)
        }
        merged.update({pfx + b: sid for b, sid in refs.items()})
        self._catalog._write_all_refs(merged)


class CatalogTransaction:
    """Stage writes to any number of catalog tables, publish all refs
    in ONE atomic swap. Use via :meth:`SnapshotCatalog.transaction`."""

    def __init__(self, catalog: "SnapshotCatalog"):
        self._catalog = catalog
        self._staged: list[_Commit] = []
        self._done = False

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        branch: str = "main",
        expected_parent: "Optional[int] | _Unset" = UNSET,
    ) -> None:
        """Stage ``df`` as a pending snapshot of ``table``. The parquet
        write runs NOW (outside any lock, fully parallel); visibility
        waits for :meth:`commit`. ``expected_parent`` is the same CAS
        contract as :meth:`SnapshotTable.write`, validated at commit
        time — a mismatch on ANY staged table aborts the whole
        transaction."""
        if self._done:
            raise RuntimeError("transaction already committed or aborted")
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        tbl = self._catalog.table(table)
        # Staged like a single-table write: partition spec, bloom
        # columns and the column registry's write epoch all apply.
        staged = tbl._write_data_dirs(df, "snap")
        ref = table + _SEP + branch
        self._staged.append(
            _Commit(
                tbl, ref, _written(mode, staged),
                _expectation(ref, expected_parent),
            )
        )

    def commit(self) -> dict[str, Snapshot]:
        """Validate every CAS expectation and publish every staged
        write in one refs rename. Returns ``{table: Snapshot}``. Raises
        :class:`CommitConflict` (publishing NOTHING) if any table's
        branch moved past its ``expected_parent``."""
        if self._done:
            raise RuntimeError("transaction already committed or aborted")
        self._done = True
        if not self._staged:
            return {}
        cat = self._catalog
        snaps = _publish(
            self._staged, cat._commit_lock, cat._read_all_refs, cat._write_all_refs
        )
        return {c.table._name: snap for c, snap in zip(self._staged, snaps)}

    def abort(self) -> None:
        """Discard the transaction: staged data dirs become orphans for
        the janitor; no metadata was ever visible."""
        self._done = True


class SnapshotCatalog:
    """N snapshot tables under one root with a shared ref store, shared
    commit lock, and atomic cross-table transactions.

    Layout::

        base_path/
          _catalog/refs.json     every table's branch refs (one rename
                                 publishes any set of tables atomically)
          _catalog/commit.lock   the catalog-wide commit lock
          <table>/{data,metadata}/   per-table files and manifests
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self._meta_dir = os.path.join(base_path, "_catalog")
        os.makedirs(self._meta_dir, exist_ok=True)

    # ---- shared ref store ------------------------------------------------

    @property
    def _refs_path(self) -> str:
        return os.path.join(self._meta_dir, "refs.json")

    @property
    def _lock_path(self) -> str:
        return os.path.join(self._meta_dir, "commit.lock")

    def _read_all_refs(self) -> dict[str, int]:
        if not os.path.exists(self._refs_path):
            return {}
        with open(self._refs_path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_all_refs(self, refs: dict[str, int]) -> None:
        tmp = self._refs_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
        os.replace(tmp, self._refs_path)

    def _commit_lock(self):
        return _file_lock(self._lock_path)

    # ---- tables ----------------------------------------------------------

    def table(self, name: str) -> SnapshotTable:
        """A catalog-bound table: full single-table semantics (CAS
        writes, branches, time travel, retention), refs in the shared
        store, commits under the shared lock."""
        return _CatalogTable(self, name)

    def tables(self) -> list[str]:
        return sorted(
            {k.split(_SEP, 1)[0] for k in self._read_all_refs()}
        )

    def pin(self) -> dict[str, dict[str, int]]:
        """A CONSISTENT snapshot of every table's refs, read from one
        file version: ``{table: {branch: snapshot_id}}``. Reading each
        table at its pinned id yields a cross-table-consistent view —
        no transaction can be half-visible in it."""
        out: dict[str, dict[str, int]] = {}
        for key, sid in self._read_all_refs().items():
            table, branch = key.split(_SEP, 1)
            out.setdefault(table, {})[branch] = sid
        return out

    # ---- transactions ----------------------------------------------------

    @contextlib.contextmanager
    def transaction(self) -> Iterator[CatalogTransaction]:
        """``with catalog.transaction() as txn: txn.write(...)`` —
        commits atomically on clean exit, aborts (nothing visible) if
        the body raises."""
        txn = CatalogTransaction(self)
        try:
            yield txn
        except BaseException:
            txn.abort()
            raise
        if not txn._done:
            txn.commit()
