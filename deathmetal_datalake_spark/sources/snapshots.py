"""Snapshot/branch table format over plain parquet — the Iceberg+Nessie
analog (reference: ``flows_iceberg/bronze_iceberg.py:15-19,40-44``,
``scripts/bootstrap_catalog.sh:6-9``) implemented with nothing but
parquet data files and JSON metadata, since the environment ships no
Iceberg/Delta runtime.

Semantics carried over:

- **Immutable snapshots**: every write creates a new snapshot whose
  manifest lists the data directories visible at that version. An
  ``overwrite`` starts a fresh file set; an ``append`` extends the
  parent's. Data files are never mutated or deleted by table
  operations, so every historical version stays readable.
- **Time travel**: ``read(snapshot_id=N)`` reconstructs any version;
  ``history()`` is the snapshot log.
- **Branches (Nessie)**: named refs → snapshot ids. ``create_branch``
  and ``rollback`` are O(1) metadata writes — no data copy — exactly
  the catalog-level cheapness that makes WAP (write-audit-publish)
  patterns viable. ``fast_forward`` publishes an audited branch.

Scale notes (100 TB): the data path is untouched parquet — all reads go
through ``spark.read.parquet(<dirs of the manifest>)`` and keep
predicate pushdown, column pruning, and partition-parallel scans.
Metadata is O(#snapshots) tiny JSON handled driver-side; the refs file
is updated via atomic rename, so readers never see a torn ref.

Multi-writer safety (the catalog-service role Nessie plays in the
reference): every commit — write, upsert, delete, fold, branch merge,
rebase and catalog transaction — publishes through ONE function,
:func:`_publish`: under a cross-process commit lock
(``metadata/commit.lock``, created with ``O_CREAT|O_EXCL`` by
:func:`_file_lock` so exactly one process can hold it; stale locks from
crashed writers are expired by age) it checks the CAS, loads the parent,
allocates a snapshot id, derives the child, writes the manifest and
moves the ref(s). Commits differ only in what they stage and in how the
child derives from its parent (:func:`_written`, :func:`_keyed`,
:func:`_extended`). The expensive data write
(:meth:`SnapshotTable._write_data_dirs`) stays OUTSIDE the lock, so
writers serialize only on the O(bytes-of-JSON) metadata swap — the same
shape as Iceberg's optimistic commit against a locking catalog.
``commit_with_retry`` layers the Iceberg-style read-modify-write retry
loop on top for transactional upserts.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import json
import os
import re
import random
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

_MAIN = "main"

# A writer that dies while holding the commit lock must not wedge the
# table forever: locks older than this are presumed abandoned and broken.
# Publishes are metadata-only (no Spark job runs under the lock), so a
# healthy holder is measured in milliseconds — 60 s is ~4 orders of
# magnitude of headroom.
_LOCK_STALE_S = 60.0
_LOCK_POLL_S = 0.02


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: Optional[int]
    mode: str            # "overwrite" | "append" | "delete"
    data_dirs: tuple[str, ...]
    committed_at: float  # epoch seconds
    # Row-level deletes (the delete-vector analog): each entry is
    # (parquet dir of deleted keys, key column, covered data dirs) —
    # a delete applies ONLY to data present when it committed, so rows
    # appended later under the same key stay visible (standard
    # DELETE-then-INSERT lakehouse semantics). Readers anti-join each
    # delete against its covered dirs; compaction applies deletes
    # physically and resets the list.
    deletes: tuple[tuple[str, str, tuple[str, ...]], ...] = ()
    # Manifest-level column statistics (the Iceberg manifest-entry
    # analog): ``{data_dir: {column: {"min","max","nulls","rows"}}}``,
    # harvested from parquet FOOTERS at commit time (O(#files) metadata
    # reads, no data scan). ``read(filters=...)`` uses these to skip
    # whole data dirs at PLANNING time — before Spark even lists their
    # files — which is what keeps a selective scan on a 100 TB table
    # from touching 100 TB of footers. Missing/empty entries simply
    # disable pruning for that dir (old manifests stay readable).
    dir_stats: dict = field(default_factory=dict)
    # Same stats one level finer: ``{data_dir: {relative_file: {col:
    # ...}}}`` — what keeps skipping alive AFTER compaction folds the
    # table into one dir: a sorted/z-ordered rewrite gives each FILE a
    # narrow value range, and the manifest can drop individual files
    # from the scan list (Iceberg's data-file entries proper).
    file_stats: dict = field(default_factory=dict)
    # Hidden-partitioning values (the Iceberg partition-spec analog):
    # ``{data_dir: {partition_name: rendered_value}}`` for dirs written
    # under a declared partition spec. Readers prune by evaluating the
    # spec TRANSFORM of a filter value against these — no stats harvest
    # needed, and the user never sees or writes the partition column.
    dir_partitions: dict = field(default_factory=dict)
    # Column-registry epoch each data dir was written under (rename/
    # drop schema evolution — see SnapshotTable.rename_column). A dir's
    # files carry the PHYSICAL column names of their epoch; readers
    # re-alias them to the current logical names by field-id. Missing
    # entries (pre-registry dirs, legacy manifests) default to epoch 0.
    dir_epochs: dict = field(default_factory=dict)
    # For ``mode == "merge"`` snapshots only: the SOURCE branch's head
    # snapshot id at merge time (the second parent of a git merge
    # commit). merge_branch/rebase_branch use it to advance the
    # three-way base past an earlier merge — without it, re-merging a
    # branch that kept committing after a merge always re-diffed from
    # the original fork and reported the already-merged keys as
    # spurious conflicts (round-12 ADVICE). ``None`` on every other
    # mode and on pre-round-13 manifests (which simply keep the old
    # last-common-snapshot base).
    merged_from: Optional[int] = None


class CommitConflict(RuntimeError):
    """Another writer moved the branch between read and publish."""


class MergeConflict(RuntimeError):
    """Three-way branch merge found keys mutated on BOTH sides since
    the fork point (see :meth:`SnapshotTable.merge_branch`). Carries a
    deterministic sample of the clashing keys for the conflict report."""

    def __init__(self, msg: str, conflict_keys=None, n_conflicts: int = 0):
        super().__init__(msg)
        self.conflict_keys = list(conflict_keys or [])
        self.n_conflicts = n_conflicts


def _snapshot_to_json(snap: Snapshot) -> dict:
    return {
        "snapshot_id": snap.snapshot_id,
        "parent_id": snap.parent_id,
        "mode": snap.mode,
        "data_dirs": list(snap.data_dirs),
        "committed_at": snap.committed_at,
        "deletes": [
            {"dir": d, "key": k, "covers": list(c)} for d, k, c in snap.deletes
        ],
        "dir_stats": snap.dir_stats,
        "file_stats": snap.file_stats,
        "dir_partitions": snap.dir_partitions,
        "dir_epochs": snap.dir_epochs,
        "merged_from": snap.merged_from,
    }


# ---------------------------------------------------------------------------
# Manifest column stats: harvest (write side) and prune (read side).
# ---------------------------------------------------------------------------

def _stat_value(v):
    """Normalize a stats/predicate value for manifest storage and
    comparison. Dates/timestamps become ISO-8601 strings — which order
    LEXICOGRAPHICALLY the same as the underlying instants (fixed-width
    date/time fields; a fractional part starts with '.', which sorts
    below every digit, so '…:00.9' < '…:01' holds). Unsupported types
    (Decimal, bytes, nested) return ``None`` = "unknown", which simply
    disables pruning on that column — never wrong, only less pruned."""
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep="T")
    if isinstance(v, datetime.date):
        # Padded to the midnight-timestamp form so DATE values order
        # consistently against TIMESTAMP values (Spark compares the two
        # by casting date → midnight timestamp; an unpadded
        # "1999-03-03" would sort BELOW "1999-03-03T00:00:00" and a
        # min-stat exactly at midnight would falsely prune a
        # `<= date` predicate — caught by the partition-pruning
        # property test).
        return v.isoformat() + "T00:00:00"
    return None


def _stat_kind(v) -> Optional[str]:
    """Logical-type tag stored next to bounds so readers can decode
    them unambiguously (an ISO string in the manifest is otherwise
    indistinguishable from a string column that happens to hold ISO
    text)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    if isinstance(v, datetime.datetime):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    return None


def _comparable(a, b) -> bool:
    """True when two normalized values may be ordered against each
    other: numbers with numbers, strings with strings. bool is excluded
    from the numeric class (Python's bool<int subclassing would let
    ``True < 2`` prune a boolean column against an int predicate)."""
    num = lambda x: isinstance(x, (int, float)) and not isinstance(x, bool)
    if num(a) and num(b):
        return True
    if isinstance(a, str) and isinstance(b, str):
        return True
    if isinstance(a, bool) and isinstance(b, bool):
        return True
    return False


def _harvest_file_stats(path: str) -> tuple[int, dict]:
    """(row count, per-column {min,max,nulls,rows} + "_schema") for ONE
    parquet file, merged across its row groups. A column whose bounds
    are unknowable (a row group without footer stats) keeps min=max=
    None; a column without a reliable null count is dropped entirely
    (the all-null test would be unsound)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, dict] = {}
    file_cols: set[str] = set()
    unbounded: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if "." in name:
                # Nested leaf: the TOP-LEVEL column still exists in this
                # file's schema (matters for the absent-column test),
                # but leaf bounds don't describe the struct/array value.
                file_cols.add(name.split(".", 1)[0])
                continue
            file_cols.add(name)
            st = col.statistics
            entry = stats.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "rows": 0}
            )
            entry["rows"] += rg.num_rows
            if st is None or st.null_count is None:
                unbounded.add(name)
                entry["nulls"] = None
                continue
            if entry["nulls"] is not None:
                entry["nulls"] += st.null_count
            if not st.has_min_max:
                # An ALL-null row group benignly has no min/max and
                # constrains nothing; otherwise bounds are unknowable.
                if st.null_count != rg.num_rows:
                    unbounded.add(name)
                continue
            mn, mx = _stat_value(st.min), _stat_value(st.max)
            if mn is None or mx is None:
                unbounded.add(name)
                continue
            entry.setdefault("kind", _stat_kind(st.min))
            if entry["min"] is None or mn < entry["min"]:
                entry["min"] = mn
            if entry["max"] is None or mx > entry["max"]:
                entry["max"] = mx
    out: dict[str, object] = {}
    for name, entry in stats.items():
        if entry["nulls"] is None:
            continue  # unusable without a null count
        if name in unbounded:
            entry["min"] = entry["max"] = None
        out[name] = entry
    # Reserved key: "_schema" is not a legal lookup (filters address
    # real columns; a real column literally named "_schema" merely
    # loses pruning, never gains it wrongly — _dir_may_match guards
    # with isinstance).
    out["_schema"] = sorted(file_cols)
    return md.num_rows, out


def _collect_dir_stats(dir_path: str) -> tuple[dict, dict]:
    """(dir-level stats, per-file stats) for every parquet file under
    ``dir_path``, from ROW-GROUP FOOTER statistics via pyarrow — a pure
    metadata pass, no data pages are read (the same way Iceberg fills
    its manifest entries from parquet footers at commit).

    The dir-level dict is the merge of the per-file dicts: bounds widen,
    null/row counts add, and a file where a column is ABSENT (schema
    evolution: written before the column existed) contributes all-NULL
    rows — null count accrues, bounds don't. Columns lose min/max if ANY
    file's bounds are unknown (conservative: never prunes wrongly).
    Per-file stats are keyed by path RELATIVE to the dir, so manifests
    stay valid if the table root moves. Any failure returns ``({}, {})``:
    stats are an optimization, never a correctness dependency."""
    try:
        files = []
        for root, _dirs, names in os.walk(dir_path):
            for name in names:
                if name.endswith(".parquet"):
                    files.append(os.path.join(root, name))
        if not files:
            return {}, {}
        file_stats: dict[str, dict] = {}
        file_rows: dict[str, int] = {}
        for path in files:
            rows, st = _harvest_file_stats(path)
            rel = os.path.relpath(path, dir_path)
            file_stats[rel] = st
            file_rows[rel] = rows
        all_cols: set[str] = set()
        for st in file_stats.values():
            all_cols.update(st["_schema"])
        merged: dict[str, object] = {"_schema": sorted(all_cols)}
        for col in all_cols:
            entry = {"min": None, "max": None, "nulls": 0, "rows": 0}
            usable = True
            for rel, st in file_stats.items():
                fe = st.get(col)
                if not isinstance(fe, dict):
                    if col in st["_schema"]:
                        # Present but droppped: no reliable null count.
                        usable = False
                        break
                    # Absent from this file = all NULL here.
                    entry["rows"] += file_rows[rel]
                    entry["nulls"] += file_rows[rel]
                    continue
                entry["rows"] += fe["rows"]
                entry["nulls"] += fe["nulls"]
                if fe["min"] is None:
                    # Either all-null (benign) or unknown bounds
                    # (poisons the dir bounds too).
                    if fe["nulls"] < fe["rows"]:
                        entry["min"] = entry["max"] = None
                        entry["_unbounded"] = True
                    continue
                if not entry.get("_unbounded"):
                    if fe.get("kind") is not None:
                        entry.setdefault("kind", fe["kind"])
                    if entry["min"] is None or fe["min"] < entry["min"]:
                        entry["min"] = fe["min"]
                    if entry["max"] is None or fe["max"] > entry["max"]:
                        entry["max"] = fe["max"]
            if not usable:
                continue
            entry.pop("_unbounded", None)
            merged[col] = entry
        return merged, file_stats
    except Exception:
        return {}, {}


# ---------------------------------------------------------------------------
# Manifest Bloom filters (the Iceberg puffin / parquet bloom analog):
# per-dir, per-column position sets that let a POINT LOOKUP skip dirs
# whose [min, max] ranges all overlap (interleaved keys — the case
# range stats cannot prune). Opt-in via ``set_bloom_columns`` because
# the harvest is one extra columnar read of the just-written dir
# (range stats stay footer-only). k=2 md5-derived positions per value
# in an m-bit space auto-scaled to 8-16 bits per distinct value — the
# same engine-portable formula as the corpus Bloom prefilter, so an
# oracle can replay membership bit-for-bit. Stored here as a sorted
# int list in the manifest JSON; a production deployment would pack
# the same positions into a bitset blob (puffin-style) — identical
# semantics, smaller metadata.
# ---------------------------------------------------------------------------

_BLOOM_K = 2
_BLOOM_SHIFT = 3  # m = 2^(ceil_log2(n_distinct) + 3)
_BLOOM_MAX_DISTINCT = 500_000  # beyond this, skip the bloom (dense col)


def _bloom_positions(value, m: int) -> list[int]:
    """k positions for one value via double-hashing from ONE 60-bit md5
    digest (position j = bits [30j, 30j+30) mod m — m never exceeds
    2^22, so the two halves are independent address draws). One digest
    per value instead of k halves the dominant harvest cost. Values
    canonicalize via str() — only int/str columns are bloom-eligible,
    where str() matches SQL's CAST(x AS VARCHAR) exactly."""
    import hashlib as _hashlib

    h = int(_hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
    return [(h >> (30 * j)) % m for j in range(_BLOOM_K)]


def _bloom_from_distinct(distinct: set) -> Optional[dict]:
    """Self-describing bloom entry for one distinct-value set.

    Representation auto-selects by density: a sparse filter stores its
    sorted position list (readable, tiny for small files), a dense one
    packs the m-bit array into base64 (the puffin-blob shape) — at
    100k+ distinct values the bitset is ~8× smaller in the manifest
    JSON than the int list. Both forms carry the same (m, k) header
    and `_bloom_may_contain` answers identically for either."""
    if not distinct:
        return None
    import hashlib as _hashlib

    m = 1 << ((max(len(distinct), 2) - 1).bit_length() + _BLOOM_SHIFT)
    pos: set[int] = set()
    md5 = _hashlib.md5  # tight loop: bind locally
    for v in distinct:
        h = int(md5(str(v).encode()).hexdigest()[:15], 16)
        pos.add(h % m)
        pos.add((h >> 30) % m)
    # With m sized at 8-16 bits/entry, the packed form is ALWAYS the
    # smaller manifest representation (bitset ≈ m/6 bytes base64 vs
    # ~8·|pos| ≈ 16n for the list), so new blooms are written packed
    # unconditionally; `_bloom_may_contain` keeps honoring the list
    # form for manifests written before the packing landed.
    import base64

    bits = bytearray(m // 8)
    for p in pos:
        bits[p >> 3] |= 1 << (p & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "bits": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _harvest_blooms(
    dir_path: str, col: str
) -> tuple[Optional[dict], dict[str, dict]]:
    """(dir-level bloom, {relative file path: file-level bloom}) for
    ``col`` over every parquet file under ``dir_path`` — one columnar
    read per file feeds BOTH granularities (each entry self-describes
    its m, sized to its own distinct count, so file blooms stay tight
    inside a wide dir — the parquet/puffin row-group analog). (None,
    {}) when the column is absent, non-int/str, or too dense; failure
    is never fatal — a missing bloom only disables this pruning
    dimension."""
    try:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        distinct: set = set()
        per_file: dict[str, dict] = {}
        for root, _dirs, names in os.walk(dir_path):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(root, name)
                pf = pq.ParquetFile(path)
                if col not in pf.schema_arrow.names:
                    continue
                arr = pf.read(columns=[col]).column(0)
                t = arr.type
                if not (
                    pa.types.is_integer(t)
                    or pa.types.is_string(t)
                    or pa.types.is_large_string(t)
                ):
                    return None, {}
                # Deduplicate in Arrow (C++) before touching Python —
                # the per-file distinct set is what crosses the
                # boundary, not every row.
                file_distinct = {
                    v
                    for v in pc.unique(arr.combine_chunks()).to_pylist()
                    if v is not None
                }
                distinct.update(file_distinct)
                if len(distinct) > _BLOOM_MAX_DISTINCT:
                    return None, {}
                fb = _bloom_from_distinct(file_distinct)
                if fb is not None:
                    per_file[os.path.relpath(path, dir_path)] = fb
        return _bloom_from_distinct(distinct), per_file
    except Exception:
        return None, {}


def _harvest_dir_bloom(dir_path: str, col: str) -> Optional[dict]:
    """Dir-level-only convenience wrapper over :func:`_harvest_blooms`."""
    bloom, _files = _harvest_blooms(dir_path, col)
    return bloom


def _bloom_may_contain(bloom: dict, value) -> bool:
    """True unless the bloom PROVES absence (any probe position unset).
    Handles both representations (position list / packed bitset);
    malformed entries are conservative."""
    try:
        m = bloom["m"]
        if not isinstance(value, (int, str)) or isinstance(value, bool):
            return True
        probe = _bloom_positions(value, m)
        if "bits" in bloom:
            import base64

            bits = base64.b64decode(bloom["bits"])
            return all(bits[p >> 3] & (1 << (p & 7)) for p in probe)
        ps = set(bloom["pos"])
        return all(p in ps for p in probe)
    except Exception:
        return True


def _dir_may_match(stats: Optional[dict], filters) -> bool:
    """Conservative skip test: False ONLY when the stats PROVE no row
    in the dir can satisfy the (ANDed) filters. Unknown columns, bounds,
    types, or operators keep the dir."""
    if not stats:
        return True
    schema = stats.get("_schema")
    for col, op, val in filters:
        cs = stats.get(col)
        if not isinstance(cs, dict) or not cs:
            # No per-column entry. If the dir's schema is recorded and
            # the column is absent from EVERY file, all its values are
            # NULL here: comparisons can never match, is_null always
            # can, not_null never can.
            if isinstance(schema, list) and col not in schema:
                if op == "is_null":
                    continue
                return False
            continue
        rows, nulls = cs.get("rows"), cs.get("nulls")
        all_null = (
            rows is not None and nulls is not None and rows > 0 and nulls >= rows
        )
        if op == "is_null":
            if nulls == 0 and rows and rows > 0:
                return False
            continue
        if op == "not_null":
            if all_null:
                return False
            continue
        # Comparison/equality family: NULL never satisfies them, so an
        # all-null dir is skippable for every remaining operator.
        if all_null:
            return False
        # Bloom membership (point lookups / IN lists): runs before the
        # range check because it prunes even when bounds are unknown.
        bloom = cs.get("bloom")
        if isinstance(bloom, dict) and op in ("=", "in"):
            vals = list(val) if op == "in" else [val]
            eligible = [
                v
                for v in vals
                if isinstance(v, (int, str)) and not isinstance(v, bool)
            ]
            # Only decisive when EVERY probed value is bloom-eligible
            # (an uncheckable value might still be present).
            if eligible and len(eligible) == len(vals):
                if not any(_bloom_may_contain(bloom, v) for v in eligible):
                    return False
        mn, mx = cs.get("min"), cs.get("max")
        if mn is None or mx is None:
            continue
        if op == "in":
            nvs = [_stat_value(v) for v in val]
            if any(v is None or not _comparable(v, mn) for v in nvs):
                continue
            if all(v < mn or v > mx for v in nvs):
                return False
            continue
        nv = _stat_value(val)
        if nv is None or not _comparable(nv, mn):
            continue
        if op == "=" and (nv < mn or nv > mx):
            return False
        elif op == "<" and not (mn < nv):
            return False
        elif op == "<=" and not (mn <= nv):
            return False
        elif op == ">" and not (mx > nv):
            return False
        elif op == ">=" and not (mx >= nv):
            return False
        elif op == "!=" and mn == mx == nv:
            # Every non-null value equals nv; NULL != nv is NULL, not
            # true — no row can pass.
            return False
    return True


def _zorder_cluster(df: DataFrame, cols: list[str], target_files: int, bits: int = 4) -> DataFrame:
    """Cluster ``df`` into ``target_files`` files along a Z-curve over
    ``cols`` (the OPTIMIZE ... ZORDER BY analog, multi-dimensional where
    ``sort_by`` is one dimension chain).

    Shape: one quantile sketch pass (driver gets 2^bits-1 cut points per
    column — tiny), then a pure map stage computes each row's bucket per
    column and INTERLEAVES the bucket bits into a z-value, and a single
    range-repartition on z writes the files. Every file then covers a
    narrow hyper-rectangle in ALL the z-ordered dimensions, so manifest
    file stats can skip files for predicates on ANY of them — a
    lexicographic sort only ever serves its leading column. Supports
    numeric/date/timestamp columns (quantile buckets need an ordered
    numeric image); NULLs land in bucket 0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not cols or target_files < 1:
        raise ValueError("zorder needs columns and target_files >= 1")
    tmp = {c: f"__z_{i}" for i, c in enumerate(cols)}
    dfx = df
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            num = F.col(c).cast("timestamp").cast("double")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            num = F.col(c).cast("timestamp").cast("double")
        elif isinstance(dt, T.NumericType):
            num = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder_by column {c!r} has unsupported type {dt}"
            )
        dfx = dfx.withColumn(tmp[c], num)
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    cuts = dfx.stat.approxQuantile(list(tmp.values()), probs, 1.0 / (nb * 8))
    k = len(cols)
    z = F.lit(0)
    for m, c in enumerate(cols):
        bucket = F.lit(0)
        for cut in cuts[m]:
            bucket = bucket + F.when(F.col(tmp[c]) >= F.lit(cut), 1).otherwise(0)
        bucket = bucket.cast("int")
        for i in range(bits):
            # Bit i of column m lands at position i*k + (k-1-m):
            # same-significance bits group together, earlier columns
            # more significant within the group.
            pos = i * k + (k - 1 - m)
            z = z + F.shiftright(bucket, i).bitwiseAND(F.lit(1)) * F.lit(1 << pos)
    dfx = dfx.withColumn("__zval", z)
    clustered = dfx.repartitionByRange(
        target_files, F.col("__zval")
    ).sortWithinPartitions("__zval")
    return clustered.drop("__zval", *tmp.values())


def _filters_to_column(filters):
    """The exact Spark predicate for a filter list — re-applied to the
    pruned scan so pruning is PURELY an optimization (a dir kept by
    conservative stats still has its rows filtered row-by-row)."""
    from pyspark.sql import functions as F

    out = None
    for col, op, val in filters:
        c = F.col(col)
        if op == "=":
            expr = c == F.lit(val)
        elif op == "!=":
            expr = c != F.lit(val)
        elif op == "<":
            expr = c < F.lit(val)
        elif op == "<=":
            expr = c <= F.lit(val)
        elif op == ">":
            expr = c > F.lit(val)
        elif op == ">=":
            expr = c >= F.lit(val)
        elif op == "in":
            expr = c.isin(list(val))
        elif op == "is_null":
            expr = c.isNull()
        elif op == "not_null":
            expr = c.isNotNull()
        else:
            raise ValueError(f"unknown filter op {op!r}")
        out = expr if out is None else (out & expr)
    return out


# ---------------------------------------------------------------------------
# Hidden partitioning (the Iceberg partition-spec analog): a table
# DECLARES transforms of source columns — year(d) / month(d) / day(d) /
# identity(c) / bucket[n](c) — and writes bucket rows into per-value
# subdirectories automatically. The partition column never exists in
# the logical schema (the source column stays in the data files), and
# readers prune by applying the TRANSFORM to filter values and
# comparing against the manifest's recorded partition values — spec
# arithmetic at planning time, no stats harvest required.
# ---------------------------------------------------------------------------

# Transforms whose rendered values order lexicographically like the
# source (fixed-width ISO date prefixes) — eligible for range pruning.
# identity/bucket render arbitrary values and prune only on = / in.
_RANGE_SAFE_TRANSFORMS = {"year", "month", "day"}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _parse_transform(transform: str) -> tuple[str, Optional[int]]:
    if transform.startswith("bucket[") and transform.endswith("]"):
        return "bucket", int(transform[len("bucket[") : -1])
    if transform in ("identity", "year", "month", "day"):
        return transform, None
    raise ValueError(f"unknown partition transform {transform!r}")


def _transform_column(transform: str, source: str):
    """The Spark expression deriving the (hidden) partition value."""
    from pyspark.sql import functions as F

    kind, arg = _parse_transform(transform)
    c = F.col(source)
    if kind == "identity":
        return c.cast("string")
    if kind == "year":
        return F.date_format(c, "yyyy")
    if kind == "month":
        return F.date_format(c, "yyyy-MM")
    if kind == "day":
        return F.date_format(c, "yyyy-MM-dd")
    # bucket[n]: the engine's portable 60-bit md5 convention (same
    # arithmetic as plans.registry.hash60 — inlined to avoid a package
    # cycle), mod n.
    return F.pmod(
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(arg),
    ).cast("string")


def _transform_value(transform: str, v) -> Optional[str]:
    """Python-side twin of :func:`_transform_column` for pruning filter
    values at planning time. Returns None when the value can't be
    transformed (pruning then conservatively keeps the dir)."""
    import datetime as _dt
    import hashlib as _hl

    kind, arg = _parse_transform(transform)
    if v is None:
        return None
    if kind == "identity":
        return str(v)
    if kind == "bucket":
        return str(int(_hl.md5(str(v).encode()).hexdigest()[:15], 16) % arg)
    if isinstance(v, str):
        try:
            v = _dt.date.fromisoformat(v[:10])
        except ValueError:
            return None
    if isinstance(v, (_dt.date, _dt.datetime)):
        if kind == "year":
            return f"{v.year:04d}"
        if kind == "month":
            return f"{v.year:04d}-{v.month:02d}"
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
    return None


def _enumerate_partition_dirs(
    root: str, pnames: list[str]
) -> tuple[list[str], dict[str, dict[str, str]]]:
    """Walk a partitionBy layout: returns the leaf data dirs (one per
    partition-value combination) and ``{dir: {pname: value}}``. Values
    are URL-unquoted (Spark percent-encodes special characters in dir
    names)."""
    from urllib.parse import unquote

    leaves: list[str] = []
    partitions: dict[str, dict[str, str]] = {}

    def walk(d: str, depth: int, vals: dict[str, str]) -> None:
        if depth == len(pnames):
            leaves.append(d)
            partitions[d] = vals
            return
        prefix = pnames[depth] + "="
        for name in sorted(os.listdir(d)):
            full = os.path.join(d, name)
            if os.path.isdir(full) and name.startswith(prefix):
                walk(
                    full,
                    depth + 1,
                    {**vals, pnames[depth]: unquote(name[len(prefix) :])},
                )

    walk(root, 0, {})
    return leaves, partitions


def _partitions_may_match(spec_by_source, pvals, filters) -> bool:
    """False only when the dir's recorded partition values PROVE no row
    can satisfy ``filters``. Mirrors ``_dir_may_match``'s conservatism:
    unknown transforms/values/ops keep the dir, and the exact predicate
    is re-applied to surviving scans regardless."""
    if not pvals or not spec_by_source:
        return True
    for col, op, val in filters:
        for pname, transform in spec_by_source.get(col, ()):
            pv = pvals.get(pname)
            if pv is None or pv == _HIVE_NULL:
                # Not recorded for this dir (older/newer spec version),
                # or the null-partition dir: stay conservative (nulls
                # are rare and the exact filter runs regardless).
                continue
            if op == "is_null":
                # A non-null partition value proves every row transforms
                # to a real value — but the SOURCE could still be null
                # only in the null dir, so this dir cannot satisfy
                # is_null.
                return False
            if op == "in":
                tvs = {_transform_value(transform, x) for x in val}
                if None not in tvs and pv not in tvs:
                    return False
                continue
            tv = _transform_value(transform, val)
            if tv is None:
                continue
            if op == "=" and pv != tv:
                return False
            kind, _ = _parse_transform(transform)
            if kind in _RANGE_SAFE_TRANSFORMS:
                # Transforms FLOOR the source, so source < v ⇒
                # t(source) ≤ t(v) and source > v ⇒ t(source) ≥ t(v).
                if op in ("<", "<=") and pv > tv:
                    return False
                if op in (">", ">=") and pv < tv:
                    return False
    return True


def _first_parquet_file(d: str) -> Optional[str]:
    try:
        names = sorted(os.listdir(d))
    except (FileNotFoundError, NotADirectoryError):
        return None
    for n in names:
        if n.endswith(".parquet"):
            return os.path.join(d, n)
    # Hidden-partitioned dirs nest one level of value subdirs.
    for n in names:
        sub = os.path.join(d, n)
        if os.path.isdir(sub):
            for m in sorted(os.listdir(sub)):
                if m.endswith(".parquet"):
                    return os.path.join(sub, m)
    return None


def _arrow_simple_type(t) -> str:
    """Arrow type -> Spark simpleString name (the widening vocabulary)."""
    import pyarrow as pa

    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    return str(t)


class _Unset:
    """Sentinel: 'no CAS check requested' — distinct from ``None``,
    which means 'expect the branch to be EMPTY' (first-commit CAS)."""

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "UNSET"


UNSET = _Unset()


@contextlib.contextmanager
def _file_lock(lock_path: str, timeout_s: float = 30.0):
    """Cross-process mutual exclusion on ``lock_path`` — the commit lock
    of a table (``metadata/commit.lock``) or of a catalog
    (``_catalog/commit.lock``).

    ``O_CREAT | O_EXCL`` is atomic on POSIX filesystems: exactly one
    process wins creation. Losers poll with jitter; a lock file older
    than ``_LOCK_STALE_S`` (crashed holder) is broken by renaming it
    aside first. Two safety refinements:

    - **Ownership-verified release**: the holder records its lock
      file's (dev, inode) at acquisition and unlinks at release only
      if the path still carries that identity — a holder whose lock
      was (wrongly or rightly) broken never deletes a NEW holder's
      lock.
    - **Re-verified break**: after renaming a presumed-stale lock
      aside, the breaker re-checks the renamed file's age. If it
      turns out FRESH (a live holder acquired between the stat and
      the rename), the breaker restores it via ``os.link`` — which
      preserves the inode, so the live holder's release check still
      passes — and backs off. The residual window needs a third
      writer to acquire within that same microsecond interval right
      after a 60 s crash; accepted and documented for a
      filesystem-level lock (a catalog service removes it).
    """
    deadline = time.monotonic() + timeout_s
    my_ident: Optional[tuple[int, int]] = None
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            st = os.fstat(fd)
            my_ident = (st.st_dev, st.st_ino)
            os.write(fd, f"pid={os.getpid()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock_path)
            except OSError:
                # Holder likely released between open and stat; any
                # persistent stat failure still honors the deadline
                # instead of busy-spinning.
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock {lock_path}: cannot stat lock file "
                        f"for >{timeout_s}s"
                    )
                time.sleep(_LOCK_POLL_S * (1 + random.random()))
                continue
            if age > _LOCK_STALE_S:
                stale = lock_path + f".stale-{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(lock_path, stale)
                except OSError:
                    continue  # another breaker won the rename race
                try:
                    broken_fresh = (
                        time.time() - os.path.getmtime(stale) <= _LOCK_STALE_S
                    )
                except OSError:
                    broken_fresh = False
                if broken_fresh:
                    # We moved a LIVE holder's lock: put it back with
                    # its inode intact (link fails if the path was
                    # re-taken meanwhile — then the orphan is ours to
                    # drop) and back off.
                    try:
                        os.link(stale, lock_path)
                    except OSError:
                        pass
                    try:
                        os.unlink(stale)
                    except OSError:
                        pass
                    time.sleep(_LOCK_POLL_S * (1 + random.random()))
                else:
                    try:
                        os.unlink(stale)
                    except OSError:
                        pass
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock {lock_path} held for >{timeout_s}s "
                    f"(lock file age {age:.1f}s)"
                )
            time.sleep(_LOCK_POLL_S * (1 + random.random()))
    try:
        yield
    finally:
        try:
            st = os.stat(lock_path)
            if (st.st_dev, st.st_ino) == my_ident:
                os.unlink(lock_path)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# The commit path. Every commit stages its data outside the lock, then
# hands _publish a derivation of the child snapshot from its parent.
# ---------------------------------------------------------------------------

_DIR_MAPS = ("dir_stats", "file_stats", "dir_partitions", "dir_epochs")


@dataclass(frozen=True)
class _Dirs:
    """Data dirs with their per-dir manifest maps: what a commit stages
    (:meth:`SnapshotTable._write_data_dirs`) or keeps of a snapshot
    (:func:`_dirs_of`). The field names are :class:`Snapshot`'s, so a
    snapshot serves wherever a ``_Dirs`` is read."""

    data_dirs: tuple[str, ...] = ()
    dir_stats: dict = field(default_factory=dict)
    file_stats: dict = field(default_factory=dict)
    dir_partitions: dict = field(default_factory=dict)
    dir_epochs: dict = field(default_factory=dict)


def _dirs_of(snap: Snapshot, dirs) -> _Dirs:
    """``snap`` restricted to ``dirs``: those dirs and their map entries."""
    maps = {k: getattr(snap, k) for k in _DIR_MAPS}
    return _Dirs(
        tuple(dirs),
        **{k: {d: m[d] for d in dirs if d in m} for k, m in maps.items()},
    )


def _extended(base, new: _Dirs) -> dict:
    """Snapshot fields for ``base``'s dirs followed by ``new``'s — the
    one rule by which a child inherits per-dir metadata."""
    return {
        "data_dirs": base.data_dirs + new.data_dirs,
        **{k: {**getattr(base, k), **getattr(new, k)} for k in _DIR_MAPS},
    }


def _written(mode: str, staged: _Dirs):
    """Derivation of a write: an append extends the parent (keeping its
    deletes — appends don't resurrect deleted rows); an overwrite, or a
    first commit, is ``staged`` alone."""

    def derive(parent: Optional[Snapshot]) -> dict:
        if mode == "append" and parent is not None:
            return {
                "mode": mode,
                "deletes": parent.deletes,
                **_extended(parent, staged),
            }
        return {"mode": mode, **_extended(_Dirs(), staged)}

    return derive


def _keyed(mode: str, staged: _Dirs, del_dir: str, key_col: str):
    """Derivation of a keyed commit (upsert, delete, rebase): ``staged``
    extends the parent, plus an equality delete of ``del_dir``'s keys
    that covers ONLY the parent's dirs — the staged rows survive their
    own keys."""

    def derive(parent: Optional[Snapshot]) -> dict:
        if parent is None:
            raise LookupError(
                f"{mode}: the branch has no snapshots yet; use write() "
                "for the first commit"
            )
        return {
            "mode": mode,
            "deletes": parent.deletes + ((del_dir, key_col, parent.data_dirs),),
            **_extended(parent, staged),
        }

    return derive


def _expectation(ref: str, expected_parent) -> dict:
    """The CAS ``{ref: expected head}`` — empty when no check is asked."""
    return {} if isinstance(expected_parent, _Unset) else {ref: expected_parent}


def _check_refs(refs: dict, expect: dict) -> None:
    for ref, want in expect.items():
        if refs.get(ref) != want:
            raise CommitConflict(
                f"branch {ref!r} is at snapshot {refs.get(ref)}, expected {want}"
            )


@dataclass(frozen=True)
class _Commit:
    """One snapshot for :func:`_publish`: ``derive(parent)`` returns the
    child's content fields, the parent is the head of ``parent_ref``
    (default ``ref``), and ``ref`` moves to the child. ``expect`` maps
    refs to the heads they must still be at."""

    table: "SnapshotTable"
    ref: str
    derive: Callable[[Optional[Snapshot]], dict]
    expect: dict = field(default_factory=dict)
    parent_ref: Optional[str] = None


def _publish(commits, lock, read_refs, write_refs) -> list[Snapshot]:
    """The commit point of every snapshot commit — write, upsert,
    delete, fold, merge, rebase and catalog transactions. Under
    ``lock``: check every CAS expectation first (a conflict publishes
    nothing), then per commit load the parent, allocate an id, derive
    the child and write its manifest; finally move every ref in ONE
    ``write_refs`` — the single visibility point."""
    with lock():
        refs = read_refs()
        for c in commits:
            _check_refs(refs, c.expect)
        out = []
        for c in commits:
            t = c.table
            parent_id = refs.get(c.parent_ref or c.ref)
            parent = None if parent_id is None else t._load_snapshot(parent_id)
            snap = Snapshot(
                snapshot_id=t._next_snapshot_id(),
                parent_id=parent_id,
                committed_at=time.time(),
                **c.derive(parent),
            )
            # 'x' mode: if id allocation ever raced (it cannot, under the
            # lock), fail loudly rather than overwrite a manifest.
            with open(t._snap_path(snap.snapshot_id), "x") as f:
                json.dump(_snapshot_to_json(snap), f, indent=1)
            t._record_snapshot_id(snap.snapshot_id)
            refs[c.ref] = snap.snapshot_id
            out.append(snap)
        write_refs(refs)
    return out


class SnapshotTable:
    """A versioned parquet table rooted at ``base_path``.

    Layout::

        base_path/
          data/snap-<id>-<uuid>/part-*.parquet   (one dir per write)
          metadata/snap-<id>.json                (immutable manifests)
          metadata/refs.json                     (branch -> snapshot id)
    """

    # Auto-compaction policy: after this many OUTSTANDING delete vectors
    # on a branch head, delete_keys triggers fold_deletes() so read-plan
    # anti-join depth stays bounded under repeated takedowns. Class-level
    # so catalog-managed subclasses inherit it; set to 0/None on an
    # instance to disable (maintenance then runs only when the operator
    # calls fold_deletes()/compact() explicitly).
    DELETE_FOLD_THRESHOLD: Optional[int] = 8

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self._meta_dir = os.path.join(base_path, "metadata")
        self._data_dir = os.path.join(base_path, "data")
        os.makedirs(self._meta_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # ---- refs -----------------------------------------------------------

    @property
    def _refs_path(self) -> str:
        return os.path.join(self._meta_dir, "refs.json")

    def _read_refs(self) -> dict[str, int]:
        if not os.path.exists(self._refs_path):
            return {}
        with open(self._refs_path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_refs(self, refs: dict[str, int]) -> None:
        # Atomic publish: readers see either the old or the new refs
        # file, never a torn write — the commit point of every operation.
        tmp = self._refs_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
        os.replace(tmp, self._refs_path)

    def branches(self) -> dict[str, int]:
        return self._read_refs()

    # ---- tags (named immutable refs, the Iceberg tag analog) ------------

    @property
    def _tags_path(self) -> str:
        return os.path.join(self._meta_dir, "tags.json")

    def _read_tags(self) -> dict[str, int]:
        if not os.path.exists(self._tags_path):
            return {}
        with open(self._tags_path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        tmp = self._tags_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(tags, f, indent=1, sort_keys=True)
        os.replace(tmp, self._tags_path)

    def create_tag(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        branch: str = _MAIN,
    ) -> int:
        """Pin a snapshot under an IMMUTABLE name (default: ``branch``'s
        current head) — 'release-2024-01', 'training-set-v3'. Unlike a
        branch, a tag never moves: re-creating an existing name is
        refused, and ``expire_snapshots`` keeps every tagged snapshot
        alive regardless of branch retention — the property that makes
        a tag a durable reproducibility handle for a training run."""
        with self._commit_lock():
            tags = self._read_tags()
            if name in tags:
                raise ValueError(
                    f"tag {name!r} already exists (tags are immutable; "
                    "drop_tag first to rename deliberately)"
                )
            sid = (
                snapshot_id
                if snapshot_id is not None
                else self.current_snapshot_id(branch)
            )
            if sid is None:
                raise LookupError(f"branch {branch!r} has no snapshots")
            if not os.path.exists(self._snap_path(sid)):
                raise LookupError(f"snapshot {sid} does not exist")
            tags[name] = sid
            self._write_tags(tags)
            return sid

    def tags(self) -> dict[str, int]:
        return self._read_tags()

    def drop_tag(self, name: str) -> None:
        with self._commit_lock():
            tags = self._read_tags()
            if name not in tags:
                raise LookupError(f"tag {name!r} does not exist")
            tags.pop(name)
            self._write_tags(tags)

    # ---- partition spec (hidden partitioning) ---------------------------

    @property
    def _spec_path(self) -> str:
        return os.path.join(self._meta_dir, "partition-spec.json")

    @property
    def _bloom_cols_path(self) -> str:
        return os.path.join(self._meta_dir, "bloom-columns.json")

    def set_bloom_columns(self, cols: list[str]) -> None:
        """Declare manifest Bloom filters for point-lookup pruning on
        ``cols`` (int/str columns). Applies to writes AFTER the
        declaration — like spec evolution, earlier dirs simply carry no
        bloom and are scanned conservatively; ``compact()`` rewrites
        the head with blooms (the backfill path). Costs one extra
        columnar read of each newly written dir at commit time."""
        tmp = self._bloom_cols_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"columns": list(cols)}, f)
        os.replace(tmp, self._bloom_cols_path)

    def bloom_columns(self) -> list[str]:
        if not os.path.exists(self._bloom_cols_path):
            return []
        with open(self._bloom_cols_path) as f:
            return list(json.load(f).get("columns", []))

    # ---- column registry: rename/drop schema evolution -------------------
    #
    # The Iceberg field-id mechanism: metadata/columns.json assigns every
    # column a permanent integer id and records EPOCHS of id->physical-
    # name mappings. A data dir's files carry the physical names of the
    # epoch they were written under (stamped in the manifest as
    # dir_epochs); read() re-aliases each epoch group to the CURRENT
    # logical names by field id, so a rename is an O(1) metadata commit
    # — no data rewrite — and a re-added name gets a FRESH id, which is
    # exactly why dropped values never resurrect (reference behavior:
    # flows_iceberg/bronze_iceberg.py relies on Iceberg for this).
    # Without a registry (no rename/drop ever declared) every path is
    # byte-identical to the legacy name-addressed behavior.

    @property
    def _columns_path(self) -> str:
        return os.path.join(self._meta_dir, "columns.json")

    def _read_column_registry(self) -> Optional[dict]:
        if not os.path.exists(self._columns_path):
            return None
        with open(self._columns_path) as f:
            return json.load(f)

    def _write_column_registry(self, reg: dict) -> None:
        tmp = self._columns_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(reg, f, indent=1)
        os.replace(tmp, self._columns_path)

    def _bootstrap_registry(self, branch: str = _MAIN) -> dict:
        """First rename/drop on a table: derive epoch 0 from the head's
        merged schema (ids 1..n in schema order). Pre-existing dirs have
        no dir_epochs entry and default to epoch 0 — correct by
        construction, because epoch 0 IS their physical naming."""
        head = self.current_snapshot_id(branch)
        if head is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(head)
        cols = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*snap.data_dirs)
            .columns
        )
        return {
            "last_field_id": len(cols),
            "epochs": [
                {"columns": [{"id": i + 1, "name": c} for i, c in enumerate(cols)]}
            ],
        }

    def current_columns(self) -> Optional[list[str]]:
        """Current logical column names, or None when no registry exists
        (then the schema is whatever the files say, as before)."""
        reg = self._read_column_registry()
        if reg is None:
            return None
        return [c["name"] for c in reg["epochs"][-1]["columns"]]

    def _registry_epoch_for_write(self, df: DataFrame) -> Optional[int]:
        """Epoch to stamp on dirs written from ``df`` — reconciling any
        NEW columns into the current epoch with fresh field ids (the
        add-column path once a registry exists). No registry: None."""
        reg = self._read_column_registry()
        if reg is None:
            return None
        with self._commit_lock():
            reg = self._read_column_registry()  # re-read under the lock
            cur = reg["epochs"][-1]
            known = {c["name"] for c in cur["columns"]}
            added = [c for c in df.columns if c not in known]
            if added:
                for name in added:
                    reg["last_field_id"] += 1
                    cur["columns"].append(
                        {"id": reg["last_field_id"], "name": name}
                    )
                self._write_column_registry(reg)
            return len(reg["epochs"]) - 1

    def _guard_column_change(self, name: str, branch: str) -> None:
        for ent in self.partition_spec():
            if ent["source"] == name:
                raise ValueError(
                    f"column {name!r} is a partition-spec source; "
                    "evolve the spec first (set_partition_spec)"
                )
        head = self.current_snapshot_id(branch)
        if head is not None:
            snap = self._load_snapshot(head)
            if any(key == name for _, key, _ in snap.deletes):
                raise ValueError(
                    f"column {name!r} has outstanding delete vectors keyed "
                    "on it; run fold_deletes() first"
                )

    def rename_column(self, old: str, new: str, branch: str = _MAIN) -> None:
        """Rename a column — O(1) metadata, no data rewrite. Reads of
        dirs written before the rename re-alias the old physical name to
        ``new`` by field id; reads after see ``new`` everywhere. Writers
        must produce ``new`` from now on (the old name would register as
        a brand-new column, the Iceberg behavior)."""
        self._guard_column_change(old, branch)
        with self._commit_lock():
            reg = self._read_column_registry() or self._bootstrap_registry(branch)
            cur = reg["epochs"][-1]["columns"]
            names = [c["name"] for c in cur]
            if old not in names:
                raise LookupError(f"no column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            nxt = [
                {**c, "name": new if c["name"] == old else c["name"]}
                for c in cur
            ]
            reg["epochs"].append({"columns": nxt})
            self._write_column_registry(reg)

    def drop_column(self, name: str, branch: str = _MAIN) -> None:
        """Drop a column — O(1) metadata. Old files keep the bytes, but
        the field id leaves the current epoch, so readers exclude it
        everywhere; a later re-add of the same NAME gets a fresh id and
        old values do NOT resurrect (they surface as NULL)."""
        self._guard_column_change(name, branch)
        with self._commit_lock():
            reg = self._read_column_registry() or self._bootstrap_registry(branch)
            cur = reg["epochs"][-1]["columns"]
            if name not in [c["name"] for c in cur]:
                raise LookupError(f"no column {name!r}")
            reg["epochs"].append(
                {"columns": [c for c in cur if c["name"] != name]}
            )
            self._write_column_registry(reg)

    # ---- sort order (Iceberg sort-order metadata analog) -----------------

    @property
    def _sort_order_path(self) -> str:
        return os.path.join(self._meta_dir, "sort-order.json")

    def set_sort_order(self, cols: list[str]) -> None:
        """Declare the table's write sort order — the Iceberg
        ``replaceSortOrder`` analog. Declarative only at write time
        (appends need not be sorted), but ``compact()`` with no
        explicit clustering uses it as the default rewrite layout, so
        periodic maintenance converges the table to the declared order
        and manifest/file stats line up with predicates on these
        columns. Exported as Iceberg sort-orders metadata."""
        tmp = self._sort_order_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"columns": list(cols)}, f)
        os.replace(tmp, self._sort_order_path)

    def sort_order(self) -> list[str]:
        if not os.path.exists(self._sort_order_path):
            return []
        with open(self._sort_order_path) as f:
            return list(json.load(f).get("columns", []))

    _WIDENINGS = {"int": "long", "float": "double"}

    @staticmethod
    def _decimal_parts(t: Optional[str]) -> Optional[tuple[int, int]]:
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t or "")
        return (int(m.group(1)), int(m.group(2))) if m else None

    def _is_widening(self, cur: Optional[str], to: str) -> bool:
        if cur == to or self._WIDENINGS.get(cur) == to:
            return True
        cd, td = self._decimal_parts(cur), self._decimal_parts(to)
        # decimal(P,S) -> decimal(P',S) with P' > P: same scale, more
        # precision — the third Iceberg-allowed promotion.
        return bool(cd and td and cd[1] == td[1] and td[0] > cd[0])

    def widen_column(self, name: str, to_type: str, branch: str = _MAIN) -> None:
        """Type promotion — int→long, float→double, or
        decimal(P,S)→decimal(P',S) with P'>P (the Iceberg allowed
        widenings), O(1) metadata. The current epoch records the
        declared type; readers cast every epoch group to it, so dirs
        written narrow and dirs written wide union cleanly (a single
        mergeSchema read would refuse to merge int with long — the
        epoch-group split is what makes this safe). Writers should
        produce the wide type from now on; narrow appends still read
        back wide. Narrowing or unrelated conversions are refused."""
        if to_type not in self._WIDENINGS.values() and not self._decimal_parts(
            to_type
        ):
            raise ValueError(
                f"unsupported target type {to_type!r}; allowed: "
                f"{sorted(set(self._WIDENINGS.values()))} or decimal(P,S)"
            )
        head = self.current_snapshot_id(branch)
        if head is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        # Physical types from parquet FOOTERS, newest dir first (first
        # occurrence wins = the widest epoch), kept alongside each
        # dir's write epoch so the lookup below can resolve the
        # column's PHYSICAL name per epoch (after a rename the logical
        # name no longer appears in older footers). A merged Spark
        # read would THROW here once dirs span widths (int vs bigint
        # is not schema-mergeable) — exactly the state a second widen
        # runs in.
        snap = self._load_snapshot(head)
        dir_schemas: list[tuple[int, object]] = []  # newest first
        for d in reversed(snap.data_dirs):
            f0 = _first_parquet_file(d)
            if not f0:
                continue
            import pyarrow.parquet as _pq

            dir_schemas.append(
                (int((snap.dir_epochs or {}).get(d, 0)), _pq.read_schema(f0))
            )
        with self._commit_lock():
            reg = self._read_column_registry() or self._bootstrap_registry(branch)
            epochs = reg["epochs"]
            cur = epochs[-1]["columns"]
            names = [c["name"] for c in cur]
            if name not in names:
                raise LookupError(f"no column {name!r} (have {names})")
            ent = next(c for c in cur if c["name"] == name)
            cur_type = ent.get("type")
            if cur_type is None:
                for ep, sch in dir_schemas:
                    ep = min(max(ep, 0), len(epochs) - 1)
                    phys = next(
                        (
                            c["name"]
                            for c in epochs[ep]["columns"]
                            if c["id"] == ent["id"]
                        ),
                        None,
                    )
                    i = sch.get_field_index(phys) if phys else -1
                    if i >= 0:
                        cur_type = _arrow_simple_type(sch.field(i).type)
                        break
            if not self._is_widening(cur_type, to_type):
                raise ValueError(
                    f"cannot widen {name!r} from {cur_type!r} to {to_type!r}; "
                    f"allowed: {self._WIDENINGS} and decimal precision growth"
                )
            nxt = [
                {k: v for k, v in c.items()} for c in cur
            ]
            for c in nxt:
                if c["name"] == name:
                    c["type"] = to_type
            reg["epochs"].append({"columns": nxt})
            self._write_column_registry(reg)

    def set_partition_spec(self, spec: list[tuple[str, str]]) -> None:
        """Declare hidden partitioning as ``[(transform, source_col),
        ...]`` with transforms ``identity | year | month | day |
        bucket[n]``. Subsequent writes bucket rows into per-value
        subdirectories automatically (the user never computes or sees a
        partition column — the source column stays in the data files),
        and ``read(filters=...)`` prunes dirs by spec arithmetic before
        stats are even consulted.

        SPEC EVOLUTION (the Iceberg ``updateSpec`` analog) is allowed:
        declaring a spec on a table with data — or changing an existing
        one — applies to writes AFTER the declaration only. Correctness
        never depends on when the spec changed, because pruning is
        per-dir: a dir written under an earlier spec keeps its recorded
        partition values and still prunes under its own transforms
        (every spec ever declared stays queryable), and a dir with no
        recorded values (pre-spec writes) is conservatively scanned.
        No data is rewritten; ``compact()`` rewrites the head under the
        CURRENT spec, which is the backfill path."""
        entries = []
        for transform, source in spec:
            kind, arg = _parse_transform(transform)  # validates
            name = f"{source}_{kind}{arg if arg is not None else ''}"
            entries.append(
                {"name": name, "transform": transform, "source": source}
            )
        with self._commit_lock():
            history = self._read_specs()
            history.append(entries)
            tmp = self._spec_path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"specs": history}, f, indent=1)
            os.replace(tmp, self._spec_path)

    def _read_specs(self) -> list[list[dict]]:
        """All spec versions ever declared, oldest first (legacy
        single-list files read as one version)."""
        if not os.path.exists(self._spec_path):
            return []
        with open(self._spec_path) as f:
            d = json.load(f)
        return [d] if isinstance(d, list) else d["specs"]

    def partition_spec(self) -> list[dict]:
        """The CURRENT spec (what the next write buckets by)."""
        specs = self._read_specs()
        return specs[-1] if specs else []

    def _spec_by_source(self) -> dict[str, list[tuple[str, str]]]:
        """source column → every (partition name, transform) any spec
        version ever derived from it. Pruning consults the entries a
        dir actually recorded, so old-spec dirs keep pruning after an
        evolution."""
        out: dict[str, list[tuple[str, str]]] = {}
        seen: set[tuple[str, str]] = set()
        for spec in self._read_specs():
            for e in spec:
                key = (e["source"], e["name"])
                if key in seen:
                    continue
                seen.add(key)
                out.setdefault(e["source"], []).append(
                    (e["name"], e["transform"])
                )
        return out

    # ---- commit lock ----------------------------------------------------

    @property
    def _lock_path(self) -> str:
        return os.path.join(self._meta_dir, "commit.lock")

    def _commit_lock(self, timeout_s: float = 30.0):
        """Cross-process mutual exclusion for the metadata swap — the
        stale-safe :func:`_file_lock` on this table's lock path."""
        return _file_lock(self._lock_path, timeout_s)

    # ---- snapshots ------------------------------------------------------

    def _snap_path(self, snapshot_id: int) -> str:
        return os.path.join(self._meta_dir, f"snap-{snapshot_id}.json")

    def _load_snapshot(self, snapshot_id: int) -> Snapshot:
        with open(self._snap_path(snapshot_id)) as f:
            d = json.load(f)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            mode=d["mode"],
            data_dirs=tuple(d["data_dirs"]),
            committed_at=d["committed_at"],
            deletes=tuple(
                (e["dir"], e["key"], tuple(e["covers"]))
                for e in d.get("deletes", [])
            ),
            dir_stats=d.get("dir_stats", {}),
            file_stats=d.get("file_stats", {}),
            dir_partitions=d.get("dir_partitions", {}),
            dir_epochs=d.get("dir_epochs", {}),
            merged_from=d.get("merged_from"),
        )

    @property
    def _last_id_path(self) -> str:
        return os.path.join(self._meta_dir, "last-snapshot-id")

    def _next_snapshot_id(self) -> int:
        # Monotonic across retention: the high-water mark survives in a
        # counter file even after expire_snapshots deletes the manifests
        # that carried the highest ids — a recycled snapshot id would
        # silently rebind old time-travel bookmarks to new data.
        ids = [
            int(name[len("snap-") : -len(".json")])
            for name in os.listdir(self._meta_dir)
            if name.startswith("snap-") and name.endswith(".json")
        ]
        last = 0
        try:
            with open(self._last_id_path) as f:
                last = int(f.read().strip() or 0)
        except (OSError, ValueError):
            pass
        return max(max(ids, default=0), last) + 1

    def _record_snapshot_id(self, snapshot_id: int) -> None:
        tmp = self._last_id_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, self._last_id_path)

    def current_snapshot_id(self, branch: str = _MAIN) -> Optional[int]:
        return self._read_refs().get(branch)

    def history(self, branch: str = _MAIN) -> list[Snapshot]:
        """Snapshot lineage of ``branch``, oldest first. Stops at the
        retention horizon: a parent whose manifest was expired ends the
        walk (the oldest retained snapshot is the lineage root)."""
        out: list[Snapshot] = []
        sid = self.current_snapshot_id(branch)
        while sid is not None:
            try:
                snap = self._load_snapshot(sid)
            except FileNotFoundError:
                break  # expired by retention
            out.append(snap)
            sid = snap.parent_id
        return list(reversed(out))

    # ---- write ----------------------------------------------------------

    def _write_data_dirs(self, df: DataFrame, prefix: str) -> _Dirs:
        """Stage ``df`` as new data dirs under the CURRENT partition
        spec (plain dir when none) and return them with their per-dir
        maps — stats, file stats, partitions and write epochs — for the
        commit. Every data path (writes, upserts, folds, rebases,
        catalog transactions) stages here, so each honors the declared
        layout, bloom columns and column registry."""
        # Capture the registry epoch (and reconcile any new columns)
        # BEFORE staging data: the df's column names were authored
        # against the registry state at write start, so a rename/drop
        # that commits DURING the (long) data write must not re-label
        # this dir — stamping the pre-change epoch keeps the re-alias
        # read correct, whereas stamping afterwards would register the
        # old physical names as brand-new columns with fresh ids
        # (silently splitting a renamed column's values on read).
        epoch = self._registry_epoch_for_write(df)
        new_dir = os.path.join(self._data_dir, f"{prefix}-{uuid.uuid4().hex[:12]}")
        spec = self.partition_spec()
        if spec:
            # Hidden partitioning: derive the partition columns, write
            # partitionBy (the derived columns live only in dir names —
            # the logical schema in the files is untouched), and record
            # each per-value subdir as its own manifest entry with its
            # partition values, so reads prune by spec arithmetic.
            staged = df
            pnames = []
            for ent in spec:
                staged = staged.withColumn(
                    ent["name"], _transform_column(ent["transform"], ent["source"])
                )
                pnames.append(ent["name"])
            # Cluster by partition value before the write: without this
            # every task writes a sliver into every value dir (tasks ×
            # values files — measured 10.6 s of footer harvest for an
            # 80-month table), with it each value dir gets ~1 file. AQE
            # coalescing keeps empty shuffle partitions free; a hot
            # partition value is still splittable downstream by
            # compact(). Same guidance as Spark's own partitioned-write
            # docs: repartition on the partition columns first.
            from pyspark.sql import functions as _F

            staged = staged.repartition(*[_F.col(p) for p in pnames])
            staged.write.mode("errorifexists").partitionBy(*pnames).parquet(
                new_dir
            )
            new_dirs, new_partitions = _enumerate_partition_dirs(new_dir, pnames)
        else:
            df.write.mode("errorifexists").parquet(new_dir)
            new_dirs, new_partitions = [new_dir], {}
        # Stats harvest runs OUTSIDE the lock too: O(#files) footer
        # reads, no data pages, no Spark job.
        new_dir_stats: dict = {}
        new_file_stats: dict = {}
        for d in new_dirs:
            s, fsd = _collect_dir_stats(d)
            new_dir_stats[d], new_file_stats[d] = s, fsd
        # Manifest blooms for declared columns (opt-in; one columnar
        # read per new dir feeds BOTH the dir-level and the per-file
        # blooms). A failed/dense/ineligible harvest just leaves the
        # per-column entries bloomless — conservative scan.
        for col in self.bloom_columns():
            for d in new_dirs:
                entry = new_dir_stats.get(d, {}).get(col)
                if not isinstance(entry, dict):
                    continue
                bloom, file_blooms = _harvest_blooms(d, col)
                if bloom is not None:
                    entry["bloom"] = bloom
                for rel, fb in file_blooms.items():
                    fentry = new_file_stats.get(d, {}).get(rel, {}).get(col)
                    if isinstance(fentry, dict):
                        fentry["bloom"] = fb
        return _Dirs(
            data_dirs=tuple(new_dirs),
            dir_stats=new_dir_stats,
            file_stats=new_file_stats,
            dir_partitions=new_partitions,
            dir_epochs={d: epoch for d in new_dirs} if epoch is not None else {},
        )

    def _write_key_dir(self, keys: DataFrame, key_col: str) -> str:
        """Stage the distinct ``key_col`` values of ``keys`` as the key
        dir of an equality delete."""
        del_dir = os.path.join(self._data_dir, f"del-{uuid.uuid4().hex[:12]}")
        keys.select(key_col).distinct().write.mode("errorifexists").parquet(del_dir)
        return del_dir

    def _expect_parent(self, branch: str, expected_parent) -> dict:
        """The CAS of a commit on ``branch``, checked once now — fail
        fast before anything is written; :func:`_publish` re-checks it
        authoritatively under the lock."""
        expect = _expectation(branch, expected_parent)
        if expect:
            _check_refs(self._read_refs(), expect)
        return expect

    def _commit(self, ref: str, derive, expect=None, parent_ref=None) -> Snapshot:
        """Publish one snapshot on this table through :func:`_publish`."""
        commit = _Commit(self, ref, derive, expect or {}, parent_ref)
        return _publish(
            [commit], self._commit_lock, self._read_refs, self._write_refs
        )[0]

    def _auto_fold(self, snap: Snapshot, branch: str) -> None:
        """Auto-compaction trigger: every outstanding delete vector is
        an anti-join every subsequent read replays, so unbounded
        stacking degrades reads linearly in takedown count. Fold them
        physically once the stack hits ``DELETE_FOLD_THRESHOLD``; a
        concurrent writer beating the fold's CAS just postpones it to
        the next commit (janitor semantics — maintenance never wins
        over writers)."""
        fold_after = self.DELETE_FOLD_THRESHOLD
        if fold_after and len(snap.deletes) >= fold_after:
            with contextlib.suppress(CommitConflict):
                self.fold_deletes(branch=branch)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        branch: str = _MAIN,
        expected_parent: "Optional[int] | _Unset" = UNSET,
    ) -> Snapshot:
        """Commit ``df`` as a new snapshot on ``branch``.

        The data write happens BEFORE the ref moves (write-then-publish):
        a failed job leaves an orphan data dir but never a corrupt
        table — the same commit protocol as Iceberg.

        Optimistic concurrency: pass ``expected_parent`` (the snapshot
        id the caller based its write on — ``None`` meaning "I expect
        the branch to be EMPTY", the first-commit CAS) and the commit is
        refused with :class:`CommitConflict` if another writer moved the
        branch in between. The check-and-publish runs inside the
        cross-process commit lock, making it a true CAS — two writers
        racing the same ``expected_parent`` serialize, and exactly one
        wins (including two racing FIRST commits). Omitting
        ``expected_parent`` entirely makes the commit last-writer-wins
        on the ref (appends still extend whatever head is current AT
        COMMIT TIME, re-read under the lock, so no concurrent append is
        lost).
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        expect = self._expect_parent(branch, expected_parent)
        # Data lands OUTSIDE the lock (write-then-publish): writers
        # serialize only on the metadata swap, never on the Spark job.
        staged = self._write_data_dirs(df, "snap")
        return self._commit(branch, _written(mode, staged), expect)

    def merge_upsert(
        self,
        df: DataFrame,
        key_col: str,
        branch: str = _MAIN,
        expected_parent: "Optional[int] | _Unset" = UNSET,
    ) -> Snapshot:
        """Iceberg-style MERGE (upsert) in ONE snapshot: rows whose key
        matches an existing row are replaced, unmatched rows are
        inserted, atomically. The commit pairs a new data dir with an
        equality-delete of ``df``'s keys SCOPED to the dirs visible at
        commit time (Iceberg's sequence-number-scoped equality delete),
        so readers drop the old versions of matched keys while the new
        dir — NOT covered by the delete — supplies the upserted rows.
        O(incoming) write, no data-file rewrite; delete-vector stacking
        triggers the same :meth:`fold_deletes` maintenance as
        ``delete_keys`` — see that method's note on the auto-fold's
        interaction with a forked branch (rebase_branch tolerates
        folds; the dir-copy merge_branch does not). CAS semantics
        mirror :meth:`write`.
        """
        if key_col not in df.columns:
            raise ValueError(f"df has no column {key_col!r}")
        # Upsert semantics need a well-formed key set (round-12 ADVICE):
        # a NULL key never matches the equality delete's anti-join, so
        # the old NULL-key row would survive alongside the inserted one;
        # duplicate keys within one batch would both insert (Iceberg's
        # MERGE errors on multiple matches). One aggregate over the
        # incoming batch — O(incoming), before anything is written.
        from pyspark.sql import functions as F

        kstats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key_col).alias("n_nonnull"),
            F.countDistinct(key_col).alias("n_keys"),
        ).first()
        if kstats["n_nonnull"] < kstats["n"]:
            raise ValueError(
                f"merge_upsert: {kstats['n'] - kstats['n_nonnull']} row(s) "
                f"with NULL {key_col!r} — NULL keys cannot match an "
                "equality delete; clean or re-key the batch"
            )
        if kstats["n_keys"] < kstats["n_nonnull"]:
            raise ValueError(
                f"merge_upsert: {key_col!r} has duplicate values within "
                "the incoming batch "
                f"({kstats['n_nonnull'] - kstats['n_keys']} extra row(s)) "
                "— MERGE requires at most one source row per key"
            )
        expect = self._expect_parent(branch, expected_parent)
        # Data and the key dir land OUTSIDE the lock (write-then-publish).
        staged = self._write_data_dirs(df, "merge")
        del_dir = self._write_key_dir(df, key_col)
        snap = self._commit(branch, _keyed("merge", staged, del_dir, key_col), expect)
        self._auto_fold(snap, branch)
        return snap

    def delete_keys(
        self,
        keys: DataFrame,
        key_col: str,
        branch: str = _MAIN,
        expected_parent: "Optional[int] | _Unset" = UNSET,
    ) -> Snapshot:
        """Row-level DELETE by key — the takedown/right-to-be-forgotten
        workflow. Commits a ``delete`` snapshot: the key set lands as a
        small parquet dir, the manifest records it with the data dirs
        it COVERS (those visible at commit time), and readers anti-join
        it. O(keys) write — no data-file rewrite; rows appended after
        the delete are not affected even if they reuse a deleted key
        (standard DELETE-then-INSERT semantics). Once
        ``DELETE_FOLD_THRESHOLD`` vectors are outstanding, the commit
        auto-triggers :meth:`fold_deletes` so read cost stays bounded
        under repeated takedowns; ``compact()`` remains the full
        rewrite-everything maintenance path. On a FORKED branch, note
        the auto-fold's interaction with the branch surface: a fold is
        fine for :meth:`rebase_branch` (fold-tolerant row-level
        replay) but makes the dir-copy :meth:`merge_branch`
        inapplicable — merge before the threshold, raise it, or
        rebase.
        """
        if key_col not in keys.columns:
            raise ValueError(f"keys DataFrame has no column {key_col!r}")
        expect = self._expect_parent(branch, expected_parent)
        del_dir = self._write_key_dir(keys, key_col)
        snap = self._commit(
            branch, _keyed("delete", _Dirs(), del_dir, key_col), expect
        )
        self._auto_fold(snap, branch)
        return snap

    def fold_deletes(self, branch: str = _MAIN) -> "Optional[Snapshot]":
        """Physically apply the head's outstanding delete vectors and
        commit a delete-free snapshot — bounded-read maintenance for
        takedown-heavy tables (Iceberg's rewrite_position_delete_files
        analog).

        O(covered data), not O(table): only dirs some delete COVERS are
        rewritten (per cover group, with the same grouped anti-joins
        ``read()`` applies); dirs appended after the last delete carry
        over untouched — files, dir stats, and file stats included — so
        on an append-mostly 100 TB table the fold touches just the old
        tail, and manifest-stats pruning on the untouched dirs is
        preserved. History stays intact: older snapshots still reference
        the original dirs and replay their own delete stacks.

        CAS-guarded on the head it read (commit mode ``"fold"``): raises
        :class:`CommitConflict` if a writer moved the branch meanwhile.
        Row-level change feeds treat a fold as the no-op it is
        (``read_changes`` emits nothing for it); ``read_appends`` across
        a fold raises, correctly, because the post-fold file delta is
        not append-only. Returns ``None`` when there is nothing to fold.
        """
        head = self.current_snapshot_id(branch)
        if head is None:
            return None
        snap = self._load_snapshot(head)
        if not snap.deletes:
            return None
        covered = tuple(
            d
            for d in snap.data_dirs
            if any(d in covers for (_, _, covers) in snap.deletes)
        )
        untouched = tuple(d for d in snap.data_dirs if d not in covered)
        folded = self._read_live(dataclasses.replace(snap, data_dirs=covered))
        # Maintenance honors the declared layout: folded rows re-bucket
        # under the current partition spec (colocated joins and spec
        # pruning keep working across a fold).
        staged = self._write_data_dirs(folded, "fold")
        return self._commit(
            branch,
            lambda parent: {
                "mode": "fold",
                **_extended(_dirs_of(parent, untouched), staged),
            },
            {branch: head},
        )

    def commit_with_retry(
        self,
        build: "Callable[[Optional[DataFrame]], DataFrame]",
        branch: str = _MAIN,
        mode: str = "overwrite",
        max_retries: int = 5,
    ) -> Snapshot:
        """Transactional read-modify-write (Iceberg-style commit retry).

        ``build`` receives the branch head as a DataFrame (``None`` if
        the branch is empty) and returns the DataFrame to commit. On
        :class:`CommitConflict` — another writer moved the branch between
        our read and our publish — the transform is REBASED: re-read the
        new head, re-run ``build``, try again. The data write is redone
        per attempt (the transform's input changed), the conflict window
        is only the metadata swap, and each retry backs off with jitter.
        """
        last: Optional[CommitConflict] = None
        for _ in range(max_retries + 1):
            head = self.current_snapshot_id(branch)
            base = None if head is None else self.read(branch=branch, snapshot_id=head)
            try:
                return self.write(
                    build(base), mode=mode, branch=branch, expected_parent=head
                )
            except CommitConflict as exc:
                last = exc
                time.sleep(_LOCK_POLL_S * (1 + random.random()))
        raise CommitConflict(
            f"gave up after {max_retries} rebases on branch {branch!r}"
        ) from last

    # ---- read -----------------------------------------------------------

    def _dir_scan_paths(self, snap: Snapshot, d: str, filters) -> list[str]:
        """Scan paths for one (dir-stats-surviving) dir: its matching
        FILES when the manifest has file-level stats, else the whole
        dir. Empty list = every file provably filtered out."""
        fs = snap.file_stats.get(d)
        if not fs:
            return [d]
        return [
            os.path.join(d, rel)
            for rel in sorted(fs)
            if _dir_may_match(fs[rel], filters)
        ]

    def scan_files(
        self,
        filters,
        branch: str = _MAIN,
        snapshot_id: Optional[int] = None,
    ) -> tuple[list[str], list[str]]:
        """File-granular skip report: (kept, pruned) scan paths under
        ``filters``, after BOTH pruning levels (dir stats, then file
        stats). A dir without file-level stats appears as a single dir
        path. The observable half of ``read(filters=...)``."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id(branch)
        )
        if sid is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(sid)
        spec_by_source = self._spec_by_source()
        kept: list[str] = []
        pruned: list[str] = []
        scan_registry = self._read_column_registry()
        for d in snap.data_dirs:
            fs = snap.file_stats.get(d)
            all_paths = (
                [os.path.join(d, rel) for rel in sorted(fs)] if fs else [d]
            )
            efilters = self._filters_for_epoch(
                scan_registry, filters, snap.dir_epochs.get(d, 0)
            )
            if not _partitions_may_match(
                spec_by_source, snap.dir_partitions.get(d), filters
            ) or not _dir_may_match(snap.dir_stats.get(d), efilters):
                pruned.extend(all_paths)
                continue
            kept_here = self._dir_scan_paths(snap, d, efilters)
            kept.extend(kept_here)
            pruned.extend(p for p in all_paths if p not in set(kept_here))
        return kept, pruned

    def metadata_count(
        self, branch: str = _MAIN, snapshot_id: Optional[int] = None
    ) -> Optional[int]:
        """Exact ``COUNT(*)`` answered purely from the manifest — zero
        data I/O, the metadata-only-aggregate shortcut Iceberg/Delta
        give planners. Returns ``None`` (caller must scan) when the
        answer isn't provable from metadata: pending row-level deletes
        (the anti-join outcome isn't recorded) or a dir without stats."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id(branch)
        )
        if sid is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(sid)
        if snap.deletes:
            return None
        total = 0
        for d in snap.data_dirs:
            stats = snap.dir_stats.get(d)
            rows = None
            if isinstance(stats, dict):
                for col, entry in stats.items():
                    if isinstance(entry, dict) and "rows" in entry:
                        rows = entry["rows"]
                        break
                else:
                    # Stats exist but carry no per-column entry (e.g. a
                    # dir of only unsupported-type columns); fall back
                    # to summing the per-file row counts if present.
                    fs = self._file_rows_total(snap, d)
                    rows = fs
            if rows is None:
                return None
            total += rows
        return total

    @staticmethod
    def _file_rows_total(snap: Snapshot, d: str) -> Optional[int]:
        fs = snap.file_stats.get(d)
        if not fs:
            return None
        total = 0
        for st in fs.values():
            rows = None
            for col, entry in st.items():
                if isinstance(entry, dict) and "rows" in entry:
                    rows = entry["rows"]
                    break
            if rows is None:
                return None
            total += rows
        return total

    def metadata_min_max(
        self,
        column: str,
        branch: str = _MAIN,
        snapshot_id: Optional[int] = None,
    ) -> Optional[tuple]:
        """Exact ``(MIN, MAX)`` of a NUMERIC/date/timestamp column from
        the manifest alone. ``None`` when not provable: deletes pending
        (the extremal row may be deleted), missing stats, or a STRING
        column — parquet writers may store truncated (still valid, but
        inexact) string bounds, fine for pruning, wrong as answers.
        ``(None, None)`` is a real answer: every value is NULL, which is
        SQL's MIN/MAX over an all-null column."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id(branch)
        )
        if sid is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(sid)
        if snap.deletes:
            return None
        lo = hi = None
        for d in snap.data_dirs:
            stats = snap.dir_stats.get(d)
            if not isinstance(stats, dict):
                return None
            entry = stats.get(column)
            if not isinstance(entry, dict):
                schema = stats.get("_schema")
                if isinstance(schema, list) and column not in schema:
                    continue  # absent here = all NULL, contributes nothing
                return None
            if entry.get("rows", 0) == entry.get("nulls"):
                continue  # all NULL in this dir
            mn, mx = entry.get("min"), entry.get("max")
            if mn is None or mx is None:
                return None
            kind = entry.get("kind")
            if kind == "str" or kind is None:
                # Parquet writers may store truncated (still valid, but
                # inexact) STRING bounds — fine for pruning, wrong as an
                # answer; and without a kind tag we can't trust decode.
                return None
            if kind == "date":
                # Stored padded to midnight-timestamp form (see
                # _stat_value); decode back to the date.
                mn = datetime.datetime.fromisoformat(mn).date()
                mx = datetime.datetime.fromisoformat(mx).date()
            elif kind == "ts":
                mn = datetime.datetime.fromisoformat(mn)
                mx = datetime.datetime.fromisoformat(mx)
            if lo is None or mn < lo:
                lo = mn
            if hi is None or mx > hi:
                hi = mx
        return (lo, hi)

    def scan_dirs(
        self,
        filters,
        branch: str = _MAIN,
        snapshot_id: Optional[int] = None,
    ) -> tuple[list[str], list[str]]:
        """Planning-time file skipping: split a snapshot's data dirs
        into (kept, pruned) under ``filters`` using the manifest column
        stats — the observable half of ``read(filters=...)``, exposed so
        maintenance jobs and tests can measure skip effectiveness."""
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id(branch)
        )
        if sid is None:
            raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(sid)
        spec_by_source = self._spec_by_source()
        kept, pruned = [], []
        for d in snap.data_dirs:
            if _partitions_may_match(
                spec_by_source, snap.dir_partitions.get(d), filters
            ) and _dir_may_match(snap.dir_stats.get(d), filters):
                kept.append(d)
            else:
                pruned.append(d)
        return kept, pruned

    def _filters_for_epoch(
        self, registry: Optional[dict], filters, epoch: int
    ):
        """Remap logical filter column names to the PHYSICAL names a
        dir of ``epoch`` was written under, so manifest-stats pruning
        keeps working for pre-rename dirs (their stats are keyed by the
        old names). A column whose field id did not exist in that epoch
        keeps its logical name — the stats lookup then misses and the
        schema-absent path applies (all values NULL there). No registry
        or no filters: unchanged."""
        if registry is None or not filters:
            return filters
        epochs = registry["epochs"]
        cur_id_by_name = {c["name"]: c["id"] for c in epochs[-1]["columns"]}
        e = min(int(epoch), len(epochs) - 1)
        phys_by_id = {c["id"]: c["name"] for c in epochs[e]["columns"]}
        out = []
        for col, op, val in filters:
            phys = phys_by_id.get(cur_id_by_name.get(col))
            out.append((phys if phys is not None else col, op, val))
        return out

    def _read_dirs_evolved(
        self, snap: Snapshot, dirs, paths_for=None
    ) -> DataFrame:
        """mergeSchema read of ``dirs`` with rename/drop evolution
        applied: group dirs by write epoch, re-alias each group's
        PHYSICAL names to the current LOGICAL names by field id in ONE
        select (sequential renames could collide on swap chains), drop
        ids absent from the current epoch, then union by name — added
        columns NULL-extend, dropped values never resurface. Shared by
        read() (with per-dir pruned file lists via ``paths_for``) and
        the incremental feeds (read_appends / read_changes inserts).
        Stats keyed under old physical names stop pruning for
        pre-rename dirs (conservative scan, still correct); compact()
        re-keys them under the current names. No registry: one plain
        merged read, byte-identical to the legacy behavior."""
        paths_for = paths_for or (lambda d: [d])

        def _read_raw(ds) -> DataFrame:
            paths: list[str] = []
            for d in ds:
                paths.extend(paths_for(d))
            return self.spark.read.option("mergeSchema", "true").parquet(*paths)

        registry = self._read_column_registry()
        if registry is None:
            return _read_raw(dirs)
        from pyspark.sql import functions as F

        epochs = registry["epochs"]
        current_by_id = {c["id"]: c["name"] for c in epochs[-1]["columns"]}
        # Declared widened types (int→long / float→double): every epoch
        # group casts to them, so narrow and wide dirs union cleanly.
        type_by_id = {
            c["id"]: c["type"] for c in epochs[-1]["columns"] if c.get("type")
        }
        groups: dict[int, list[str]] = {}
        for d in dirs:
            e = int(snap.dir_epochs.get(d, 0))
            groups.setdefault(min(e, len(epochs) - 1), []).append(d)
        parts: list[DataFrame] = []
        for e, ds in sorted(groups.items()):
            df = _read_raw(ds)
            name_to_id = {c["name"]: c["id"] for c in epochs[e]["columns"]}
            sel = []
            for col in df.columns:
                fid = name_to_id.get(col)
                if fid is None:
                    sel.append(F.col(col))  # unregistered/legacy
                elif fid not in current_by_id:
                    continue  # dropped field id
                else:
                    expr = F.col(col)
                    if fid in type_by_id:
                        expr = expr.cast(type_by_id[fid])
                    sel.append(expr.alias(current_by_id[fid]))
            parts.append(df.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def read(
        self,
        branch: str = _MAIN,
        snapshot_id: Optional[int] = None,
        as_of: Optional[float] = None,
        filters=None,
        tag: Optional[str] = None,
    ) -> DataFrame:
        """Read a version: branch head, an explicit snapshot id (time
        travel), the latest snapshot on ``branch`` committed at or
        before epoch-seconds ``as_of``, or a named immutable ``tag``.

        ``filters`` — an ANDed list of ``(column, op, value)`` with op in
        ``= != < <= > >= in is_null not_null`` — both PRUNES whole data
        dirs via the manifest column stats (files Spark never lists) and
        applies the exact predicate to the surviving scan, so the result
        is identical to ``read().filter(...)`` with strictly less I/O.
        On a 100 TB table where appends arrive roughly clustered on the
        filter column (time, tenant, ingest batch), the manifest pass
        turns a full-table scan into a few-dirs scan before the parquet
        layer's own row-group skipping even starts."""
        if tag is not None:
            if snapshot_id is not None or as_of is not None:
                raise ValueError("tag is exclusive with snapshot_id/as_of")
            tags = self._read_tags()
            if tag not in tags:
                raise LookupError(f"tag {tag!r} does not exist")
            snapshot_id = tags[tag]
        if snapshot_id is None:
            if as_of is not None:
                eligible = [
                    s for s in self.history(branch) if s.committed_at <= as_of
                ]
                if not eligible:
                    raise LookupError(
                        f"no snapshot on {branch!r} at or before {as_of}"
                    )
                snapshot_id = eligible[-1].snapshot_id
            else:
                snapshot_id = self.current_snapshot_id(branch)
                if snapshot_id is None:
                    raise LookupError(f"branch {branch!r} has no snapshots")
        snap = self._load_snapshot(snapshot_id)
        scan_paths: Optional[dict[str, list[str]]] = None
        if filters:
            # Three pruning levels: whole dirs by PARTITION-SPEC
            # arithmetic (no stats needed — the declared transform of
            # the filter value is compared against each dir's recorded
            # partition value), then whole dirs by dir stats, then
            # single FILES inside surviving dirs by file stats (what
            # keeps skipping alive after compaction folds everything
            # into one sorted dir). A dir without file stats scans whole.
            spec_by_source = self._spec_by_source()
            pruning_registry = self._read_column_registry()
            scan_paths = {}
            for d in snap.data_dirs:
                # Filter names remap to the dir's write-epoch physical
                # names so stats pruning survives renames (spec sources
                # cannot be renamed, so partition pruning needs no map).
                efilters = self._filters_for_epoch(
                    pruning_registry, filters, snap.dir_epochs.get(d, 0)
                )
                if not _partitions_may_match(
                    spec_by_source, snap.dir_partitions.get(d), filters
                ):
                    continue
                if not _dir_may_match(snap.dir_stats.get(d), efilters):
                    continue
                scan_paths[d] = self._dir_scan_paths(snap, d, efilters)
            kept = tuple(d for d in snap.data_dirs if scan_paths.get(d))
            if not kept:
                # Schema still comes from the real files (a zero-file
                # read has no schema to offer) — through the evolved
                # read, so mixed rename/widen epochs don't refuse to
                # merge and the filter binds to logical names.
                empty = self._read_dirs_evolved(snap, list(snap.data_dirs))
                return empty.filter(_filters_to_column(filters)).limit(0)
            # Re-derive the snapshot view over the surviving dirs only;
            # delete anti-joins below still apply per covered group.
            snap = dataclasses.replace(snap, data_dirs=kept)
        out = self._read_live(
            snap, paths_for=(lambda d: scan_paths[d]) if scan_paths else None
        )
        if filters:
            out = out.filter(_filters_to_column(filters))
        return out

    def _read_live(self, snap: Snapshot, paths_for=None) -> DataFrame:
        """The rows of ``snap``'s data dirs with its delete vectors
        applied — shared by :meth:`read` and :meth:`fold_deletes`.

        Group the dirs by the exact set of delete entries covering them
        (a delete never touches dirs appended after it committed),
        anti-join each group once per key column (same-column deletes
        union into a single build side), and union the groups. Typical
        shape: one group of old dirs with deletes, one of newer dirs
        without — two scans, each with full pushdown. The anti-join
        builds a broadcast-sized hash of the (small) key set at scale;
        Spark picks BroadcastHashJoin on its own. Each group reads
        through :meth:`_read_dirs_evolved` (a group can span
        rename/widen epochs, which a plain merged read would refuse),
        with ``paths_for`` mapping a dir to its pruned scan paths."""
        if not snap.deletes:
            return self._read_dirs_evolved(
                snap, snap.data_dirs, paths_for=paths_for
            )
        by_cover: dict[tuple[int, ...], list[str]] = {}
        for d in snap.data_dirs:
            applicable = tuple(
                i for i, (_, _, covers) in enumerate(snap.deletes) if d in covers
            )
            by_cover.setdefault(applicable, []).append(d)
        parts: list[DataFrame] = []
        for applicable, dirs in by_cover.items():
            df = self._read_dirs_evolved(snap, dirs, paths_for=paths_for)
            by_key: dict[str, list[str]] = {}
            for i in applicable:
                del_dir, key_col, _ = snap.deletes[i]
                by_key.setdefault(key_col, []).append(del_dir)
            for key_col, del_dirs in by_key.items():
                keys = self.spark.read.parquet(*del_dirs).select(key_col)
                df = df.join(keys, on=key_col, how="left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ---- branch ops (all O(1) metadata) ---------------------------------

    def create_branch(self, name: str, from_branch: str = _MAIN) -> int:
        with self._commit_lock():
            refs = self._read_refs()
            if name in refs:
                raise ValueError(f"branch {name!r} already exists")
            if from_branch not in refs:
                raise LookupError(
                    f"source branch {from_branch!r} has no snapshots"
                )
            refs[name] = refs[from_branch]
            self._write_refs(refs)
            return refs[name]

    def rollback(self, branch: str, snapshot_id: int) -> None:
        """Move ``branch`` back to an ancestor snapshot (data untouched)."""
        with self._commit_lock():
            lineage = {s.snapshot_id for s in self.history(branch)}
            if snapshot_id not in lineage:
                raise LookupError(
                    f"snapshot {snapshot_id} is not in {branch!r}'s lineage"
                )
            refs = self._read_refs()
            refs[branch] = snapshot_id
            self._write_refs(refs)

    def fast_forward(self, branch: str, to_branch: str) -> None:
        """Publish: point ``branch`` at ``to_branch``'s head (the WAP
        merge step — audit on a staging branch, then fast-forward main)."""
        with self._commit_lock():
            refs = self._read_refs()
            if to_branch not in refs:
                raise LookupError(f"branch {to_branch!r} has no snapshots")
            refs[branch] = refs[to_branch]
            self._write_refs(refs)

    def drop_branch(self, name: str) -> None:
        if name == _MAIN:
            raise ValueError("refusing to drop 'main'")
        with self._commit_lock():
            refs = self._read_refs()
            refs.pop(name, None)
            self._write_refs(refs)

    def _merge_base(
        self, src: str, dst: str, src_hist: list, dst_hist: list
    ) -> tuple[int, int]:
        """Three-way base discovery for merge/rebase: ``(fork_id,
        base_id)``.

        ``fork_id`` is the last PLAIN common snapshot of the two
        lineages (raises ValueError if none) — the slice point for the
        post-divergence mode-validity checks. ``base_id`` is the DIFF
        base: the latest snapshot whose content BOTH sides already
        incorporate — the fork itself, or a later snapshot recorded as
        ``merged_from`` by a merge snapshot on either lineage. Without
        the merged_from candidates, re-merging a branch that kept
        committing after a merge re-diffed from the original fork and
        reported the already-merged keys as spurious conflicts
        (round-12 ADVICE). Dir identity keeps base diffs exact: a merge
        copies the source's data-dir PATHS, so dirs present at the base
        never reappear in a side's post-base diff. On a criss-cross
        topology (both sides merged each other) the highest-id
        candidate wins — snapshot ids are monotonic per table.
        Candidates whose manifest was expired fall back to earlier
        ones.
        """
        src_ids = [s.snapshot_id for s in src_hist]
        dst_ids = [s.snapshot_id for s in dst_hist]
        common = set(src_ids) & set(dst_ids)
        if not common:
            raise ValueError(
                f"branches {src!r} and {dst!r} share no common ancestor"
            )
        fork_id = next(i for i in reversed(dst_ids) if i in common)
        cands = {fork_id}
        src_set, dst_set = set(src_ids), set(dst_ids)
        for s in dst_hist:
            if s.mode == "merge" and s.merged_from in src_set:
                cands.add(s.merged_from)
        for s in src_hist:
            if s.mode == "merge" and s.merged_from in dst_set:
                cands.add(s.merged_from)
        for cand in sorted(cands, reverse=True):
            if cand == fork_id:
                break
            try:
                self._load_snapshot(cand)
            except OSError:
                continue
            return fork_id, cand
        return fork_id, fork_id

    def merge_branch(
        self, src: str, dst: str, key_col: str, sample_conflicts: int = 20
    ) -> Snapshot:
        """Three-way branch merge with key-level conflict detection —
        the Nessie-merge analog completing the branch surface
        (create_branch = fork, fast_forward = publish, this = the
        divergent case). The diff base is the last common snapshot of
        the two lineages — or, after an earlier merge, that merge's
        recorded ``merged_from`` snapshot (see :meth:`_merge_base`), so
        a branch that keeps committing after a merge re-merges cleanly
        instead of re-flagging its already-merged keys as conflicts.
        Each side's MUTATED KEY SET since the base is
        the union of ``key_col`` values in its post-fork data dirs and
        delete-key dirs (an O(delta) read — only post-fork dirs are
        opened, never the fork-side table). Overlapping mutations raise
        :class:`MergeConflict` with a deterministic sample of the
        conflicting keys; disjoint mutations commit src's whole
        post-fork delta (new dirs + new scoped deletes, original
        ordering and scoping preserved) onto dst as ONE ``merge``
        snapshot. Degenerate forms short-circuit: src at the fork is a
        no-op, dst at the fork is a fast-forward. A post-fork overwrite
        or compaction on either side raises ValueError (that delta is
        not row-expressible — same rule as read_changes). Assumes
        ``key_col`` was not renamed during the divergence. CAS: the
        commit re-checks both refs under the lock and raises
        :class:`CommitConflict` if either branch moved.
        """
        refs = self._read_refs()
        for b in (src, dst):
            if b not in refs:
                raise LookupError(f"branch {b!r} has no snapshots")
        src_head_id, dst_head_id = refs[src], refs[dst]
        src_hist = self.history(src)
        dst_hist = self.history(dst)
        fork_id, base_id = self._merge_base(src, dst, src_hist, dst_hist)
        if src_head_id == base_id:
            return self._load_snapshot(dst_head_id)  # nothing to merge
        if dst_head_id == base_id:
            # Clean fast-forward — no divergence to reconcile.
            with self._commit_lock():
                live = self._read_refs()
                _check_refs(live, {dst: dst_head_id, src: src_head_id})
                live[dst] = src_head_id
                self._write_refs(live)
            return self._load_snapshot(src_head_id)

        base = self._load_snapshot(base_id)
        src_head = self._load_snapshot(src_head_id)
        dst_head = self._load_snapshot(dst_head_id)

        def _post_fork(hist: list[Snapshot]) -> list[Snapshot]:
            ids = [s.snapshot_id for s in hist]
            return hist[ids.index(fork_id) + 1 :]

        for side, hist in ((src, src_hist), (dst, dst_hist)):
            bad = [
                (s.snapshot_id, s.mode)
                for s in _post_fork(hist)
                if s.mode not in ("append", "delete", "merge", "rebase")
            ]
            if bad:
                # Name the 'fold' case explicitly: delete_keys /
                # merge_upsert AUTO-commit a fold once
                # DELETE_FOLD_THRESHOLD delete vectors are outstanding,
                # so a branch doing only row-expressible work can land
                # here without ever calling fold_deletes() itself
                # (round-12 ADVICE). rebase_branch replays the delta
                # row-level and is fold-tolerant.
                folds = [i for i, m in bad if m == "fold"]
                hint = (
                    (
                        f" (snapshots {folds} are delete FOLDS — "
                        "delete_keys/merge_upsert auto-fold after "
                        "DELETE_FOLD_THRESHOLD outstanding delete "
                        "vectors; merge before the threshold, raise it, "
                        "or use rebase_branch, which replays the delta "
                        "row-level and tolerates folds)"
                    )
                    if folds
                    else " — rebase instead"
                )
                raise ValueError(
                    f"snapshots {[i for i, _ in bad]} on {side!r} after "
                    "the fork are overwrites/compactions/folds; the "
                    f"delta is not dir-expressible{hint}"
                )

        from pyspark.sql.functions import col as F_col

        def _mutated_keys(head: Snapshot) -> "Optional[DataFrame]":
            new_dirs = [d for d in head.data_dirs if d not in base.data_dirs]
            new_dels = [
                dd for dd in head.deletes if dd not in base.deletes
            ]
            frames = []
            if new_dirs:
                frames.append(
                    self._read_dirs_evolved(head, new_dirs).select(key_col)
                )
            for del_dir, del_key, _covers in new_dels:
                frames.append(
                    self.spark.read.parquet(del_dir)
                    .select(F_col(del_key).alias(key_col))
                )
            if not frames:
                return None
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out.distinct()

        src_keys = _mutated_keys(src_head)
        dst_keys = _mutated_keys(dst_head)
        if src_keys is not None and dst_keys is not None:
            clash = src_keys.join(dst_keys, key_col, "inner")
            sample = [
                r[key_col]
                for r in clash.orderBy(key_col).limit(sample_conflicts).collect()
            ]
            if sample:
                n = clash.count()
                raise MergeConflict(
                    f"merge {src!r} -> {dst!r}: {n} key(s) mutated on both "
                    f"branches since base snapshot {base_id}; first "
                    f"{len(sample)}: {sample}",
                    conflict_keys=sample,
                    n_conflicts=n,
                )

        # src's post-base delta — its new dirs (with their map entries)
        # and new scoped deletes, original ordering and scoping kept —
        # extends dst's head as ONE merge snapshot.
        new = _dirs_of(
            src_head, [d for d in src_head.data_dirs if d not in base.data_dirs]
        )
        new_dels = tuple(
            dd for dd in src_head.deletes if dd not in base.deletes
        )
        return self._commit(
            dst,
            lambda parent: {
                "mode": "merge",
                "merged_from": src_head_id,
                "deletes": parent.deletes + new_dels,
                **_extended(parent, new),
            },
            {dst: dst_head_id, src: src_head_id},
        )

    def rebase_branch(
        self,
        src: str,
        onto: str,
        key_col: str,
        strategy: str = "fail",
        sample_conflicts: int = 20,
    ) -> Snapshot:
        """Replay ``src``'s post-fork NET delta on top of ``onto``'s
        head — the git-rebase analog over the branch surface, and the
        "ours/theirs" conflict-policy companion to :meth:`merge_branch`
        (which only supports disjoint mutation sets). ``src``'s ref
        moves to ONE new ``rebase`` snapshot whose parent is ``onto``'s
        head; ``onto`` never moves.

        The net delta is key-level and O(delta): only post-base data
        dirs and delete-key dirs are read, never the base-side table
        (the base is the fork — or an earlier merge's recorded
        ``merged_from`` snapshot, see :meth:`_merge_base`). Unlike the
        dir-copy :meth:`merge_branch`, the replay is FOLD-TOLERANT on
        both sides: a ``fold`` snapshot (incl. the auto-fold
        delete_keys/merge_upsert commit at ``DELETE_FOLD_THRESHOLD``)
        is row-neutral, so the walk skips fold-produced dirs and keeps
        reading the original append/delete dirs, which stay on disk
        until snapshot expiry. Within the delta, a delete kills exactly the
        rows committed before it (scoped-delete semantics), so the
        surviving state per key is its last written version; a key with
        MORE than one surviving row (two plain appends of the same key,
        no delete between) is not expressible as a keyed upsert and
        raises ValueError, as do NULL keys — same contract as
        :meth:`merge_upsert`.

        Conflict keys are delta keys that ``onto`` also mutated since
        the fork. ``strategy`` decides: ``"fail"`` (default) raises
        :class:`MergeConflict` with a deterministic key sample
        (merge_branch parity); ``"ours"`` applies src's delta verbatim
        (src's version replaces — or deletes — onto's); ``"theirs"``
        drops the conflict keys from both the upsert frame and the
        delete set, keeping onto's versions. Degenerate forms
        short-circuit: src at the fork fast-forwards to onto's head; an
        unmoved onto (or an empty net delta) leaves src where it is.
        CAS: both refs are re-checked under the commit lock.
        """
        if strategy not in ("fail", "ours", "theirs"):
            raise ValueError(f"unknown rebase strategy {strategy!r}")
        refs = self._read_refs()
        for b in (src, onto):
            if b not in refs:
                raise LookupError(f"branch {b!r} has no snapshots")
        src_head_id, onto_head_id = refs[src], refs[onto]
        src_hist = self.history(src)
        onto_hist = self.history(onto)
        fork_id, base_id = self._merge_base(src, onto, src_hist, onto_hist)
        if src_head_id == base_id:
            # src added nothing: rebase == fast-forward onto onto's head.
            with self._commit_lock():
                live = self._read_refs()
                _check_refs(live, {src: src_head_id, onto: onto_head_id})
                live[src] = onto_head_id
                self._write_refs(live)
            return self._load_snapshot(onto_head_id)
        if onto_head_id == base_id:
            return self._load_snapshot(src_head_id)  # already based there

        fork = self._load_snapshot(fork_id)
        base = self._load_snapshot(base_id)
        src_head = self._load_snapshot(src_head_id)
        onto_head = self._load_snapshot(onto_head_id)

        def _post_fork(hist: list[Snapshot]) -> list[Snapshot]:
            ids = [s.snapshot_id for s in hist]
            return hist[ids.index(fork_id) + 1 :]

        # 'fold' is allowed on BOTH sides (round-12 ADVICE): a fold is
        # row-neutral — it physically applies delete vectors the delta
        # walk below already sequences — so the key-level replay just
        # skips fold-produced dirs and keeps reading the ORIGINAL
        # append/delete dirs, which stay on disk until snapshot expiry.
        for side, hist in ((src, src_hist), (onto, onto_hist)):
            bad = [
                s.snapshot_id
                for s in _post_fork(hist)
                if s.mode
                not in ("append", "delete", "merge", "rebase", "fold")
            ]
            if bad:
                raise ValueError(
                    f"snapshots {bad} on {side!r} after the fork are "
                    "overwrites/compactions; the delta is not "
                    "row-expressible"
                )

        from pyspark.sql import functions as F

        # ---- src's net delta, in commit order -------------------------
        # Each post-fork snapshot i contributes its NEW dirs at seq 2i+1
        # and its NEW delete-key dirs at seq 2i: a merge's delete half
        # covers only pre-merge dirs, so it must order BEFORE the same
        # snapshot's appended rows.
        base_dirs = set(base.data_dirs)
        base_dels = {d for d, _, _ in base.deletes}
        row_frames: list[DataFrame] = []
        del_frames: list[DataFrame] = []
        prev_dirs = set(fork.data_dirs)
        # Delete capture is by CUMULATIVE first appearance, not a
        # parent-diff: a fold clears the head's delete list, and a
        # parent-diff after one would lose the pre-fold delete dirs
        # (still on disk, still part of the delta algebra). Dirs and
        # delete dirs the BASE already incorporates (an earlier merge's
        # delta) are skipped — they are not new work.
        seen_dels = {d for d, _, _ in fork.deletes} | base_dels
        for i, snap in enumerate(_post_fork(src_hist)):
            new_dirs = [
                d
                for d in snap.data_dirs
                if d not in prev_dirs and d not in base_dirs
            ]
            if new_dirs and snap.mode != "fold":
                # Evolved-read via the INTRODUCING snapshot: a dir a
                # later fold rewrote away is absent from src_head's
                # dir_epochs, but its own snapshot still carries it.
                row_frames.append(
                    self._read_dirs_evolved(snap, new_dirs).withColumn(
                        "_rb_seq", F.lit(2 * i + 1)
                    )
                )
            for del_dir, del_key, _covers in snap.deletes:
                if del_dir in seen_dels:
                    continue
                seen_dels.add(del_dir)
                del_frames.append(
                    self.spark.read.parquet(del_dir).select(
                        F.col(del_key).alias(key_col),
                        F.lit(2 * i).alias("_rb_seq"),
                    )
                )
            prev_dirs = set(snap.data_dirs)

        if not row_frames and not del_frames:
            return self._load_snapshot(src_head_id)  # empty net delta

        rows = None
        if row_frames:
            rows = row_frames[0]
            for fr in row_frames[1:]:
                rows = rows.unionByName(fr, allowMissingColumns=True)
            if key_col not in rows.columns:
                raise ValueError(f"delta rows have no column {key_col!r}")
        last_del = None
        if del_frames:
            last_del = del_frames[0]
            for fr in del_frames[1:]:
                last_del = last_del.unionByName(fr)
            last_del = last_del.groupBy(key_col).agg(
                F.max("_rb_seq").alias("_rb_del_seq")
            )

        if rows is not None:
            if last_del is not None:
                live = rows.join(last_del, key_col, "left").filter(
                    F.col("_rb_seq")
                    > F.coalesce(F.col("_rb_del_seq"), F.lit(-1))
                ).drop("_rb_del_seq")
            else:
                live = rows
            kstats = live.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(key_col).alias("n_nonnull"),
                F.countDistinct(key_col).alias("n_keys"),
            ).first()
            if kstats["n_nonnull"] < kstats["n"]:
                raise ValueError(
                    f"rebase_branch: {kstats['n'] - kstats['n_nonnull']} "
                    f"surviving delta row(s) with NULL {key_col!r} — NULL "
                    "keys cannot replay as an equality-keyed upsert"
                )
            if kstats["n_keys"] < kstats["n_nonnull"]:
                raise ValueError(
                    "rebase_branch: a key has more than one surviving row "
                    "in the post-fork delta "
                    f"({kstats['n_nonnull'] - kstats['n_keys']} extra); "
                    "not expressible as a keyed upsert"
                )
            upserts = live.drop("_rb_seq")
        else:
            upserts = None

        if last_del is not None:
            deleted = last_del.select(key_col).filter(
                F.col(key_col).isNotNull()
            )
            if upserts is not None:
                deleted = deleted.join(
                    upserts.select(key_col), key_col, "left_anti"
                )
        else:
            deleted = None

        # ---- conflicts vs onto's post-fork mutations -------------------
        def _onto_mutated() -> "Optional[DataFrame]":
            # Same fold-tolerant walk as the src delta: fold dirs are
            # row-neutral rewrites (skipped), deletes are captured at
            # first appearance (a head-diff would lose deletes a later
            # fold absorbed), base-incorporated dirs/deletes excluded.
            frames = []
            o_prev = set(fork.data_dirs)
            o_seen = {d for d, _, _ in fork.deletes} | base_dels
            for snap_o in _post_fork(onto_hist):
                nd = [
                    d
                    for d in snap_o.data_dirs
                    if d not in o_prev and d not in base_dirs
                ]
                if nd and snap_o.mode != "fold":
                    frames.append(
                        self._read_dirs_evolved(snap_o, nd).select(key_col)
                    )
                for del_dir, del_key, _covers in snap_o.deletes:
                    if del_dir in o_seen:
                        continue
                    o_seen.add(del_dir)
                    frames.append(
                        self.spark.read.parquet(del_dir).select(
                            F.col(del_key).alias(key_col)
                        )
                    )
                o_prev = set(snap_o.data_dirs)
            if not frames:
                return None
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return out.distinct()

        delta_keys = None
        for part in (upserts, deleted):
            if part is None:
                continue
            k = part.select(key_col)
            delta_keys = k if delta_keys is None else delta_keys.unionByName(k)
        delta_keys = delta_keys.distinct()
        onto_keys = _onto_mutated()
        conflicts = (
            delta_keys.join(onto_keys, key_col, "inner")
            if onto_keys is not None
            else None
        )
        if conflicts is not None and strategy == "fail":
            sample = [
                r[key_col]
                for r in conflicts.orderBy(key_col)
                .limit(sample_conflicts)
                .collect()
            ]
            if sample:
                n = conflicts.count()
                raise MergeConflict(
                    f"rebase {src!r} onto {onto!r}: {n} key(s) mutated on "
                    f"both branches since base snapshot {base_id}; first "
                    f"{len(sample)}: {sample} (pick strategy='ours' or "
                    "'theirs' to resolve)",
                    conflict_keys=sample,
                    n_conflicts=n,
                )
        if conflicts is not None and strategy == "theirs":
            if upserts is not None:
                upserts = upserts.join(conflicts, key_col, "left_anti")
            if deleted is not None:
                deleted = deleted.join(conflicts, key_col, "left_anti")
        # strategy == "ours": apply the delta verbatim.

        # ---- stage outside the lock, publish under it ------------------
        applied_keys = None
        for part in (upserts, deleted):
            if part is None:
                continue
            k = part.select(key_col)
            applied_keys = (
                k if applied_keys is None else applied_keys.unionByName(k)
            )
        staged = (
            self._write_data_dirs(upserts, "rebase")
            if upserts is not None
            else _Dirs()
        )
        del_dir = self._write_key_dir(applied_keys, key_col)
        # src moves to a child of onto's head.
        return self._commit(
            src,
            _keyed("rebase", staged, del_dir, key_col),
            {src: src_head_id, onto: onto_head_id},
            parent_ref=onto,
        )

    def ref_log(self) -> list[dict]:
        """The table's ref topology as plain rows — the Nessie
        reflog/commit-log analog. One row per (ref, lineage snapshot):
        ``{ref, ref_kind, position, snapshot_id, parent_id, mode,
        n_data_dirs, n_deletes, merged_from, is_head,
        is_fork_of_main}`` where
        ``position`` counts from the lineage root and
        ``is_fork_of_main`` marks the last snapshot the ref shares with
        ``main`` (the merge/rebase fork point). Metadata-only: reads
        manifests, never data files. Returned as plain dicts so callers
        can ``spark.createDataFrame`` at any parallelism."""
        rows: list[dict] = []
        refs = self._read_refs()
        tags = self._read_tags()
        main_ids = (
            {s.snapshot_id for s in self.history(_MAIN)}
            if _MAIN in refs
            else set()
        )
        for kind, mapping in (("branch", refs), ("tag", tags)):
            for name in sorted(mapping):
                hist = (
                    self.history(name)
                    if kind == "branch"
                    else self._tag_history(mapping[name])
                )
                shared = [
                    s.snapshot_id for s in hist if s.snapshot_id in main_ids
                ]
                # The fork marker is a branch concept: a tag pins a
                # point, it does not diverge from anything.
                fork_of_main = (
                    shared[-1] if shared and kind == "branch" else None
                )
                for pos, s in enumerate(hist):
                    rows.append(
                        {
                            "ref": name,
                            "ref_kind": kind,
                            "position": pos,
                            "snapshot_id": s.snapshot_id,
                            "parent_id": s.parent_id,
                            "mode": s.mode,
                            "n_data_dirs": len(s.data_dirs),
                            "n_deletes": len(s.deletes),
                            # Branch-merge provenance (round 13): the
                            # source head a 'merge' snapshot carried in
                            # — the merge-log join key; None elsewhere.
                            "merged_from": s.merged_from,
                            "is_head": pos == len(hist) - 1,
                            "is_fork_of_main": s.snapshot_id == fork_of_main
                            and name != _MAIN,
                        }
                    )
        return rows

    def _tag_history(self, snapshot_id: int) -> list[Snapshot]:
        """Lineage ending at an arbitrary snapshot id (tags pin
        mid-lineage points that no branch ref reaches)."""
        out: list[Snapshot] = []
        cur: Optional[int] = snapshot_id
        while cur is not None:
            snap = self._load_snapshot(cur)
            out.append(snap)
            cur = snap.parent_id
        out.reverse()
        return out

    # ---- maintenance ----------------------------------------------------

    def compact(
        self,
        branch: str = _MAIN,
        target_files: int = 8,
        sort_by: Optional[list[str]] = None,
        zorder_by: Optional[list[str]] = None,
    ) -> Snapshot:
        """Rewrite the branch head's (possibly many small appended)
        data files into ``target_files`` larger ones, committed as a
        NEW snapshot with identical rows — history stays intact, and
        readers of older snapshots are untouched. The small-files
        compaction every append-heavy table needs periodically.

        ``sort_by`` additionally CLUSTERS the rewrite (range-partition
        on the columns, sort within files) — the OPTIMIZE ... ZORDER
        analog for one dimension chain. Each output file then covers a
        narrow value range, so parquet row-group min/max stats line up
        with predicates on those columns and scans skip most of the
        table (data-skipping a random layout cannot give).

        CAS-guarded on the snapshot it read: if a writer appends while
        the rewrite runs, the commit raises :class:`CommitConflict`
        instead of silently dropping the concurrent rows — the janitor
        retries, it never wins over data."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are exclusive")
        if not sort_by and not zorder_by:
            # Declared table sort order (set_sort_order) is the default
            # maintenance layout — Iceberg's OPTIMIZE honoring the
            # table's sort-order metadata.
            sort_by = self.sort_order() or None
        head = self.current_snapshot_id(branch)
        current = self.read(branch=branch, snapshot_id=head)
        if zorder_by:
            # Multi-dimensional clustering: every output file covers a
            # narrow hyper-rectangle in ALL zorder_by dimensions, so
            # manifest FILE stats (and parquet row-group stats) can skip
            # on any of them — see _zorder_cluster.
            compacted = _zorder_cluster(current, zorder_by, target_files)
        elif sort_by:
            from pyspark.sql import functions as F

            cols = [F.col(c) for c in sort_by]
            compacted = current.repartitionByRange(
                target_files, *cols
            ).sortWithinPartitions(*cols)
        else:
            compacted = current.repartition(target_files)
        return self.write(
            compacted, mode="overwrite", branch=branch, expected_parent=head
        )

    def maintain(
        self,
        branch: str = _MAIN,
        max_files: int = 16,
        keep_last: int = 20,
        vacuum_older_than_s: float = 24 * 3600.0,
    ) -> dict:
        """One-call maintenance policy — the OPTIMIZE/janitor entry
        point a table owner schedules instead of hand-sequencing the
        primitives. In order: fold outstanding delete vectors, compact
        when the head has more than ``max_files`` data files (under the
        declared sort order, so stats line up again), expire snapshots
        beyond ``keep_last``, vacuum orphan dirs older than
        ``vacuum_older_than_s``. Janitor semantics throughout: a
        :class:`CommitConflict` from a concurrent writer skips that
        step (reported, never retried here — maintenance never wins
        over writers). Returns a report dict of what each step did."""
        report: dict = {}
        try:
            folded = self.fold_deletes(branch=branch)
            report["folded"] = folded.snapshot_id if folded else None
        except CommitConflict as exc:
            report["folded"] = f"conflict: {exc}"
        head = self.current_snapshot_id(branch)
        n_files = 0
        if head is not None:
            snap = self._load_snapshot(head)
            for d in snap.data_dirs:
                fs = snap.file_stats.get(d)
                if fs:
                    n_files += len(fs)
                elif os.path.isdir(d):
                    n_files += sum(
                        1 for f in os.listdir(d) if f.endswith(".parquet")
                    )
        report["head_files"] = n_files
        if n_files > max_files:
            try:
                report["compacted"] = self.compact(
                    branch=branch, target_files=max_files
                ).snapshot_id
            except CommitConflict as exc:
                report["compacted"] = f"conflict: {exc}"
        else:
            report["compacted"] = None
        report["expired"] = self.expire_snapshots(
            keep_last=keep_last, branch=branch
        )
        report["vacuumed"] = self.vacuum(older_than_s=vacuum_older_than_s)
        return report

    def vacuum(self, older_than_s: float = 24 * 3600.0) -> list[str]:
        """Janitor: DELETE orphan data dirs (failed/aborted writes no
        manifest references) older than ``older_than_s`` seconds. The
        age guard keeps in-flight writes safe: a writer stages its dir
        BEFORE taking the commit lock, so a young orphan may be a
        commit in progress — Iceberg's remove_orphan_files has the
        same guard. Returns the removed dirs."""
        import shutil

        now = time.time()
        removed = []
        for d in self.orphan_data_dirs():
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue  # vanished meanwhile
            if age > older_than_s:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
        return removed

    def orphan_data_dirs(self) -> list[str]:
        """Data dirs referenced by NO snapshot manifest — failed-write
        leftovers eligible for deletion by a janitor job."""
        referenced: set[str] = set()
        for name in os.listdir(self._meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                sid = int(name[len("snap-") : -len(".json")])
                snap = self._load_snapshot(sid)
                referenced.update(snap.data_dirs)
                referenced.update(d for d, _, _ in snap.deletes)
        out = []
        for d in sorted(os.listdir(self._data_dir)):
            full = os.path.join(self._data_dir, d)
            # A partitioned snapshot references its per-value SUBDIRS,
            # not the enclosing snap dir — a top-level dir is live if it
            # or anything under it is referenced.
            if full not in referenced and not any(
                r.startswith(full + os.sep) for r in referenced
            ):
                out.append(full)
        return out


    # ---- incremental read ------------------------------------------------

    def read_appends(
        self, since_snapshot_id: int, branch: str = _MAIN
    ) -> DataFrame:
        """Incremental read: ONLY the rows appended after
        ``since_snapshot_id`` on ``branch`` — the append-lineage change
        feed (Delta CDF / Iceberg incremental-scan analog for the
        append-only case).

        Cost is O(delta): the scan touches only data dirs committed by
        the append snapshots after the anchor, never the base table —
        what makes daily incremental consumers viable on a 100 TB
        table. Raises if any snapshot after the anchor is an overwrite
        (the delta is then not expressible as appended files; use
        ``flows.catalog.snapshot_diff`` for the general case).
        """
        lineage = self.history(branch)
        ids = [s.snapshot_id for s in lineage]
        if since_snapshot_id not in ids:
            raise LookupError(
                f"snapshot {since_snapshot_id} is not in {branch!r}'s lineage"
            )
        newer = lineage[ids.index(since_snapshot_id) + 1 :]
        if not newer:
            return self.read(
                branch=branch, snapshot_id=since_snapshot_id
            ).limit(0)
        bad = [s.snapshot_id for s in newer if s.mode != "append"]
        if bad:
            raise ValueError(
                f"snapshots {bad} after {since_snapshot_id} are "
                "overwrites/deletes; the delta is not append-only — "
                "use snapshot_diff instead"
            )
        anchor_dirs = set(
            self._load_snapshot(since_snapshot_id).data_dirs
        )
        new_dirs = [d for d in newer[-1].data_dirs if d not in anchor_dirs]
        # Same evolution-aware merged read as read(): appends may have
        # ADDED columns, and dirs may span rename/drop epochs — the
        # incremental feed must surface the same union schema under the
        # same logical names the head read does.
        return self._read_dirs_evolved(newer[-1], new_dirs)

    def read_changes(
        self, since_snapshot_id: int, branch: str = _MAIN
    ) -> DataFrame:
        """Row-level change feed (the Delta CDF analog, deletes
        included): every snapshot after the anchor contributes either
        its appended rows (``_change_type='insert'``) or its deleted
        keys (``_change_type='delete'``, non-key columns NULL), each
        tagged with ``_commit_snapshot_id``.

        Cost stays O(delta): inserts scan only the dirs the append
        introduced; deletes scan only the (small) key dirs — the
        covered data files are never read, which is why a delete event
        carries the KEY, not the full row image (a full image would
        cost a scan of every covered file). Overwrites after the
        anchor raise — that delta is not row-expressible; re-anchor or
        use ``flows.catalog.snapshot_diff``.

        MERGE rendering is an OVER-APPROXIMATION (documented trade,
        round-12 ADVICE): a merge emits delete-then-insert for EVERY
        incoming key — including keys that never existed in the table —
        because filtering the delete half to previously-present keys
        would require scanning the covered data files, breaking the
        O(delta) guarantee above. Consumers must treat the feed as
        idempotent delete-then-insert per key (apply semantics, which
        are unaffected), not count delete events as prior-row
        tombstones the way Iceberg/Delta changelogs allow.
        """
        lineage = self.history(branch)
        ids = [s.snapshot_id for s in lineage]
        if since_snapshot_id not in ids:
            raise LookupError(
                f"snapshot {since_snapshot_id} is not in {branch!r}'s lineage"
            )
        newer = lineage[ids.index(since_snapshot_id) + 1 :]
        bad = [s.snapshot_id for s in newer if s.mode == "overwrite"]
        if bad:
            raise ValueError(
                f"snapshots {bad} after {since_snapshot_id} are overwrites; "
                "the delta is not row-expressible — use snapshot_diff"
            )
        from pyspark.sql import functions as F

        schema = self.read(
            branch=branch, snapshot_id=since_snapshot_id
        ).schema
        parts: list[DataFrame] = []
        prev_dirs = set(self._load_snapshot(since_snapshot_id).data_dirs)
        prev_dels: set[str] = {
            d for d, _, _ in self._load_snapshot(since_snapshot_id).deletes
        }
        for snap in newer:
            if snap.mode in ("append", "merge", "rebase"):
                # A merge's delete half is emitted below; its insert half
                # is exactly its new dirs (delete-then-insert per key —
                # the standard CDC rendering of an upsert).
                new_dirs = [d for d in snap.data_dirs if d not in prev_dirs]
                if new_dirs:
                    df = self._read_dirs_evolved(snap, new_dirs)
                    for f in schema.fields:
                        if f.name not in df.columns:
                            df = df.withColumn(
                                f.name, F.lit(None).cast(f.dataType)
                            )
                    parts.append(
                        df.select(*[f.name for f in schema.fields]).select(
                            F.lit("insert").alias("_change_type"),
                            F.lit(snap.snapshot_id)
                            .cast("long")
                            .alias("_commit_snapshot_id"),
                            "*",
                        )
                    )
            if snap.mode in ("delete", "merge", "rebase"):
                new_dels = [
                    (d, k) for d, k, _ in snap.deletes if d not in prev_dels
                ]
                for del_dir, key_col in new_dels:
                    keys = self.spark.read.parquet(del_dir)
                    cols = [
                        F.col(key_col).alias(f.name)
                        if f.name == key_col
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in schema.fields
                    ]
                    parts.append(
                        keys.select(
                            F.lit("delete").alias("_change_type"),
                            F.lit(snap.snapshot_id)
                            .cast("long")
                            .alias("_commit_snapshot_id"),
                            *cols,
                        )
                    )
            prev_dirs = set(snap.data_dirs)
            prev_dels = {d for d, _, _ in snap.deletes}
        if not parts:
            empty = self.read(branch=branch, snapshot_id=since_snapshot_id)
            return empty.select(
                F.lit("insert").alias("_change_type"),
                F.lit(0).cast("long").alias("_commit_snapshot_id"),
                "*",
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---- retention -------------------------------------------------------

    def export_iceberg_metadata(self, branch: str = _MAIN, codec: str = "json") -> str:
        """Write an Iceberg-v2-shaped metadata tree (metadata.json +
        manifest lists + shared per-dir manifests, JSON-serialized) for
        ``branch``'s lineage under ``metadata/`` so external engines can
        mount the lake one-way — see
        :mod:`deathmetal_datalake_spark.sources.iceberg_export` for the
        layout and the documented Avro/bounds deviations. Read-only over
        the native manifests; returns the new ``v<N>.metadata.json``
        path."""
        from deathmetal_datalake_spark.sources.iceberg_export import (
            export_iceberg_metadata,
        )

        return export_iceberg_metadata(self, branch, codec=codec)

    def expire_snapshots(self, keep_last: int = 5, branch: str = _MAIN) -> list[int]:
        """Retention: delete manifests (and data dirs no live snapshot
        references) for snapshots OLDER than the last ``keep_last`` on
        ``branch`` — Iceberg's ``expireSnapshots`` analog. Snapshots
        still reachable from ANY branch ref's retained lineage are kept
        (a rolled-back or side branch pins its history). The METADATA
        edit (manifest unlinks) runs under the commit lock; the
        O(data-bytes) directory deletion happens AFTER release — once a
        manifest is gone its dirs are unreachable, and holding the lock
        through a multi-TB rmtree would outlive the stale-lock threshold
        and invite a live-lock break. A crash mid-delete leaves orphan
        dirs for :meth:`orphan_data_dirs`' janitor, never a corrupt
        table. Returns the expired snapshot ids.
        """
        import shutil

        if keep_last < 1:
            # The branch head must survive (refs would dangle otherwise).
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._commit_lock():
            refs = self._read_refs()
            keep: set[int] = set()
            # Tagged snapshots are pinned unconditionally: a tag is a
            # durable reproducibility handle, never subject to branch
            # retention (dropping the tag releases it).
            keep.update(self._read_tags().values())
            for b, head in refs.items():
                lineage = self.history(b)
                tail = lineage[-keep_last:] if b == branch else lineage
                keep.update(s.snapshot_id for s in tail)
                # Parents of kept snapshots stay loadable for history()
                # only if themselves kept; cut the chain cleanly instead:
                # the oldest kept snapshot becomes a root (parent pruned
                # lazily by history(), which stops at missing manifests).
            all_ids = {
                int(n[len("snap-") : -len(".json")])
                for n in os.listdir(self._meta_dir)
                if n.startswith("snap-") and n.endswith(".json")
            }
            expired = sorted(all_ids - keep)
            live_dirs: set[str] = set()
            for sid in keep:
                live = self._load_snapshot(sid)
                live_dirs.update(live.data_dirs)
                live_dirs.update(d for d, _, _ in live.deletes)
            doomed_dirs: list[str] = []
            for sid in expired:
                gone = self._load_snapshot(sid)
                for d in list(gone.data_dirs) + [d for d, _, _ in gone.deletes]:
                    if d not in live_dirs:
                        doomed_dirs.append(d)
                os.unlink(self._snap_path(sid))
        for d in doomed_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return expired
