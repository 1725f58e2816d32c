"""Snapshot-table abstraction: Iceberg semantics over plain parquet.

The sandbox has no Iceberg runtime jar, so this module implements the
subset of snapshot semantics the engine relies on — atomic commit,
time-travel reads, rollback, O(batch) delta appends with incremental
reads — as parquet directories plus a JSON manifest, with the same API
an Iceberg-backed implementation would expose (swap-in is a config
change, not a code change; SURVEY.md §7.3).

``append()`` commits only the new rows (Iceberg append: new data files
plus a manifest entry, never a table rewrite) — the property that makes
a continuously ingested 10^12-row table writable. ``read()`` assembles
a delta snapshot's parent chain in one multi-path scan;
``read_incremental(from, to)`` returns exactly the appended rows
(incremental-scan parity) and feeds ``checkpoint.IncrementalValidator``
so validation cost tracks ingest volume, not table size.

Commit protocol (write-audit-publish):

1. data is written to a NEW snapshot directory (``snap-<id>/``)
2. the manifest is rewritten to a temp file and atomically renamed

A reader only ever sees the manifest before or after the rename, so a
failed job leaves the current snapshot untouched — this is what gives
``engine.update`` its all-or-nothing rollback (reference parity:
Schema.update restores old values on any error, oblate/schema.py:433-436).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SnapshotTable", "SnapshotInfo"]

# Iceberg's legal type promotions (spec §Schema Evolution): widening
# only, never lossy. Key = (from, to) in Spark simpleString names. The
# integer chain and float->double are the promotions Spark's parquet
# vectorized reader can serve directly from narrower files when handed
# the wider requested schema (SPARK-40876), which is what lets an
# evolved chain stay a single multi-file scan with no rewrite.
_WIDENINGS = frozenset(
    [
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    ]
)


def _schema_ddl(schema: dict) -> str:
    """Recorded per-snapshot schema dict -> DDL string for an explicit
    `spark.read.schema(...)` — column order preserved as committed."""
    return ", ".join(f"`{name}` {typ}" for name, typ in schema.items())


@dataclass
class SnapshotInfo:
    snapshot_id: int
    parent_id: Optional[int]
    operation: str
    properties: dict = field(default_factory=dict)


class SnapshotTable:
    """A versioned parquet table with atomic snapshot commits."""

    MANIFEST = "manifest.json"

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def _read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _publish_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    # -- public API ----------------------------------------------------------
    def exists(self) -> bool:
        return self._read_manifest()["current"] is not None

    def current_snapshot_id(self) -> Optional[int]:
        return self._read_manifest()["current"]

    def snapshots(self) -> list[SnapshotInfo]:
        m = self._read_manifest()
        return [
            SnapshotInfo(s["id"], s.get("parent"), s.get("operation", "append"), s.get("properties", {}))
            for s in m["snapshots"]
        ]

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.path, f"snap-{snapshot_id:08d}")

    def _collect_file_stats(
        self, snap_dir: str, stats_cols: Sequence[str]
    ) -> Optional[dict]:
        """Per-data-file min/max for ``stats_cols`` from the parquet
        FOOTERS (pyarrow metadata — kilobytes per file, no data read),
        merged across row groups. This is the Iceberg manifest-stats
        analogue that makes scan planning skip files. Only JSON-safe
        stat values (int/float/str) are recorded; a column with missing
        or exotic stats is simply not prunable for that file. Returns
        None when footers are unreachable (non-local FS without pyarrow
        support) — callers must treat absent stats as 'scan it'."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return None
        wanted = set(stats_cols)
        out: dict = {}
        try:
            for name in sorted(os.listdir(snap_dir)):
                if not name.endswith(".parquet") or name.startswith("."):
                    continue
                md = pq.ParquetFile(os.path.join(snap_dir, name)).metadata
                agg: dict = {}
                for rg in range(md.num_row_groups):
                    row = md.row_group(rg)
                    for ci in range(row.num_columns):
                        c = row.column(ci)
                        col = c.path_in_schema
                        if col not in wanted:
                            continue
                        st = c.statistics
                        if st is None or not st.has_min_max:
                            agg[col] = None  # unknown -> unprunable
                            continue
                        mn, mx = st.min, st.max
                        if not all(
                            isinstance(v, (int, float, str)) for v in (mn, mx)
                        ):
                            agg[col] = None
                            continue
                        if col in agg and agg[col] is None:
                            continue
                        if col in agg:
                            agg[col] = [min(agg[col][0], mn), max(agg[col][1], mx)]
                        else:
                            agg[col] = [mn, mx]
                out[name] = {k: v for k, v in agg.items() if v is not None}
        except (OSError, ValueError):
            return None
        return out

    def write(
        self,
        df: DataFrame,
        *,
        operation: str = "overwrite",
        properties: Optional[dict] = None,
        delta: bool = False,
        stats_cols: Optional[Sequence[str]] = None,
    ) -> int:
        """Commit ``df`` as a new snapshot; returns the snapshot id.

        The data write happens BEFORE the manifest publish — any failure
        mid-write leaves the table at its previous snapshot (rollback is
        simply 'never publish'). ``delta=True`` marks the snapshot's
        logical content as parent content + these rows (see
        ``append``, the public entry for deltas).
        """
        manifest = self._read_manifest()
        # ids must be allocated past EVERY known snapshot, not current+1:
        # after rollback() to an older snapshot, current+1 would reuse a
        # live id, overwrite its snap-dir and corrupt time travel. The
        # parent stays the rolled-back current (Iceberg lineage shape).
        new_id = max((s["id"] for s in manifest["snapshots"]), default=0) + 1
        snap_dir = self._snap_dir(new_id)
        df.write.mode("overwrite").parquet(snap_dir)  # audit target
        entry = {
            "id": new_id,
            "parent": manifest["current"],
            "operation": operation,
            "properties": properties or {},
            # table schema AT this snapshot, recorded so append()'s
            # schema check is a manifest lookup instead of opening the
            # whole parent chain's parquet footers on every commit
            # (O(1) metadata per append, not O(chain length))
            "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        }
        if stats_cols:
            fstats = self._collect_file_stats(snap_dir, stats_cols)
            if fstats is not None:
                entry["file_stats"] = fstats
                entry["stats_cols"] = list(stats_cols)
        if delta:
            entry["delta"] = True
        manifest["snapshots"].append(entry)
        manifest["current"] = new_id
        self._publish_manifest(manifest)  # publish
        return new_id

    def append(
        self,
        df: DataFrame,
        *,
        properties: Optional[dict] = None,
        allow_new_columns: bool = False,
        allow_type_widening: bool = False,
        stats_cols: Optional[Sequence[str]] = None,
    ) -> int:
        """Commit ``df`` as a DELTA snapshot: only the new rows are
        written; the snapshot's logical content is parent content + new
        rows (Iceberg append semantics — new data files plus a manifest
        entry, never a table rewrite). This is what makes a continuously
        ingested 10^12-row table writable: commit cost is O(batch), not
        O(table). Reads assemble the parent chain (all parquet dirs in
        one multi-path scan); ``expire_snapshots`` keeps chain ancestors
        alive as long as a live snapshot references them.

        The batch's schema must match the table's (column names +
        types): a multi-path parquet read resolves columns by whichever
        file it samples first, so a mismatched delta would silently
        drop or null columns for a whole snapshot range — Iceberg
        rejects such a commit, and so does this.

        ``allow_new_columns=True`` permits ADDITIVE schema evolution
        (Iceberg add-column parity): the batch may carry extra columns
        on top of the full current schema; the snapshot records the
        widened schema and reads request it, surfacing NULL for the
        new columns on pre-evolution rows. Dropping or
        retyping columns is rejected, with two Iceberg-parity
        exceptions: a batch column NARROWER than the table's (int into
        a bigint column) is silently upcast at write time — a safe cast
        Iceberg writers also perform — and ``allow_type_widening=True``
        permits the batch to WIDEN a column along Iceberg's legal
        promotions (tinyint→…→bigint, float→double, spec §Schema
        Evolution); the snapshot records the widened schema and chain
        reads hand the parquet reader that wider requested schema, so
        pre-evolution files are served via SPARK-40876 widening reads —
        no rewrite. Anything else (lossy or cross-family retype) still
        needs a rewrite commit, exactly as in Iceberg."""
        manifest = self._read_manifest()
        if manifest["current"] is None:
            return self.write(
                df, operation="append", properties=properties,
                stats_cols=stats_cols,
            )
        by_id = {s["id"]: s for s in manifest["snapshots"]}
        current = by_id[manifest["current"]].get("schema")
        if current is None:
            # manifest written before per-snapshot schemas were recorded:
            # derive once from the table (full-chain footer read) — every
            # NEW commit records its schema, so this path self-heals
            current = {
                f.name: f.dataType.simpleString() for f in self.read().schema.fields
            }
        batch = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        missing = {k: v for k, v in current.items() if k not in batch}
        retyped = {
            k: (current[k], batch[k]) for k in current if k in batch and current[k] != batch[k]
        }
        added = {k: v for k, v in batch.items() if k not in current}
        # classify retypes: batch narrower than table -> safe write-time
        # upcast (no evolution, no flag); table->batch a legal widening
        # -> schema evolution (gated); anything else -> reject.
        upcast = {k for k, (t, b) in retyped.items() if (b, t) in _WIDENINGS}
        widened = {
            k for k, (t, b) in retyped.items() if (t, b) in _WIDENINGS
        }
        bad_retyped = {
            k: v for k, v in retyped.items()
            if k not in upcast and k not in widened
        }
        if (
            missing
            or bad_retyped
            or (widened and not allow_type_widening)
            or (added and not allow_new_columns)
        ):
            hints = []
            if added and not missing and not bad_retyped:
                hints.append(
                    f", added: {sorted(added)} — pass allow_new_columns=True "
                    "for additive evolution"
                )
            if widened and not allow_type_widening and not missing and not bad_retyped:
                hints.append(
                    f", widened: {sorted(widened)} — pass "
                    "allow_type_widening=True for type promotion"
                )
            raise ValueError(
                "append schema mismatch vs table "
                f"(table: {sorted(current.items())}, batch: {sorted(batch.items())}"
                + "".join(hints)
                + ")"
            )
        if upcast:
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(f.name).cast(current[f.name]).alias(f.name)
                    if f.name in upcast
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        return self.write(
            df, operation="append", properties=properties, delta=True,
            stats_cols=stats_cols,
        )

    def _chain_dirs(self, m: dict, sid: int) -> list[str]:
        """Parquet dirs making up snapshot ``sid``'s logical content:
        walk parent pointers while the snapshot is a delta, stopping at
        (and including) the first full snapshot."""
        return [self._snap_dir(s) for s in self._chain_sids(m, sid)]

    def _chain_sids(self, m: dict, sid: int) -> list[int]:
        by_id = {s["id"]: s for s in m["snapshots"]}
        sids, cur = [], sid
        while cur is not None:
            s = by_id.get(cur)
            if s is None:
                raise ValueError(
                    f"snapshot {sid} references expired ancestor {cur}; "
                    "chain is broken"
                )
            sids.append(cur)
            if not s.get("delta"):
                break
            cur = s["parent"]
        return sids

    def _evolved_reader(self, m: dict, sids: list[int]):
        """Reader handed the TARGET snapshot's recorded schema
        (``sids[0]``; appends only ever add or widen, so it is the
        widest in its chain) as the requested schema. Spark then infers
        nothing, so building the scan starts no footer-reading job;
        pre-evolution files surface NULL for added columns and are
        widening-read for promoted ones (SPARK-40876) — mergeSchema
        cannot do the latter (int/bigint footers refuse to merge).
        Legacy snapshots without a recorded schema, and recorded types
        that do not parse back as DDL (nested field names that need
        quoting), infer with mergeSchema (additive-only)."""
        from pyspark.errors import ParseException

        schema = next(s for s in m["snapshots"] if s["id"] == sids[0]).get("schema")
        if schema is not None:
            try:
                return self.spark.read.schema(_schema_ddl(schema))
            except ParseException:
                pass
        return self.spark.read.option("mergeSchema", "true")

    def _scan(self, m: dict, sids: list[int]) -> DataFrame:
        """Multi-path scan over the snapshots' dirs; schema evolution
        (added or widened columns) resolved by ``_evolved_reader``."""
        reader = self._evolved_reader(m, sids)
        return reader.parquet(*[self._snap_dir(s) for s in sids])

    def read(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Read the current (or a historical) snapshot — time travel.
        Delta snapshots are assembled from their parent chain in ONE
        multi-path parquet scan (no unions, no extra jobs)."""
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            raise FileNotFoundError(f"table {self.path} has no committed snapshot")
        known = {s["id"] for s in m["snapshots"]}
        if sid not in known:
            raise ValueError(f"unknown snapshot id {sid} (known: {sorted(known)})")
        return self._scan(m, self._chain_sids(m, sid))

    def _plan_range_files(
        self, m: dict, sids: list[int], col: str, lo, hi
    ) -> tuple[list[str], int]:
        """Scan planning with data skipping: the chain's data files,
        minus every file whose recorded [min, max] for ``col`` provably
        misses [lo, hi]. Files (or whole snapshots) without stats are
        kept — stats only ever PRUNE, never decide membership. Returns
        (surviving file paths, total file count)."""
        by_id = {s["id"]: s for s in m["snapshots"]}
        kept: list[str] = []
        total = 0
        for sid in sids:
            d = self._snap_dir(sid)
            fstats = by_id[sid].get("file_stats") or {}
            for path, _sz in self._list_data_files([d]):
                total += 1
                st = fstats.get(path.rsplit("/", 1)[-1], {}).get(col)
                if st is not None:
                    mn, mx = st
                    if (lo is not None and mx < lo) or (
                        hi is not None and mn > hi
                    ):
                        continue  # provably disjoint -> skip the file
                kept.append(path)
        return kept, total

    def read_range(
        self,
        col: str,
        lo=None,
        hi=None,
        *,
        snapshot_id: Optional[int] = None,
    ) -> DataFrame:
        """``read().filter(lo <= col <= hi)`` with FILE SKIPPING: data
        files whose manifest min/max (recorded by ``write(...,
        stats_cols=[col])``, Iceberg manifest-stats parity) provably
        miss the range are never opened. On a range-clustered table
        (ingest sorted or ``repartitionByRange`` by the column) a
        narrow range touches O(selectivity) files instead of the whole
        chain — the difference between a point-in-time audit query
        costing seconds vs a full 100 TB scan. The exact row filter is
        ALWAYS applied on top, so stats (or their absence) can never
        change results, only I/O. ``lo``/``hi`` are inclusive; None
        leaves that side unbounded."""
        from pyspark.sql import functions as F

        if lo is None and hi is None:
            raise ValueError("read_range needs at least one bound")
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            raise FileNotFoundError(f"table {self.path} has no committed snapshot")
        sids = self._chain_sids(m, sid)
        files, _total = self._plan_range_files(m, sids, col, lo, hi)
        if not files:
            base = self.read(sid).limit(0)
        else:
            base = self._evolved_reader(m, sids).parquet(*files)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return base.filter(cond)

    def read_incremental(
        self, *, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> DataFrame:
        """Rows ADDED after ``from_snapshot`` up to ``to_snapshot``
        (default current) — Iceberg incremental-scan parity. Only
        defined along an append (delta) chain: hitting a full
        (overwrite/merge) snapshot in between raises, because a rewrite
        has no row-level added-set without a diff. This is the input to
        incremental validation: validate each ingest batch, never
        rescan the table."""
        m = self._read_manifest()
        to_sid = to_snapshot if to_snapshot is not None else m["current"]
        by_id = {s["id"]: s for s in m["snapshots"]}
        for sid in (from_snapshot, to_sid):
            if sid not in by_id:
                raise ValueError(f"unknown snapshot id {sid}")
        sids, cur = [], to_sid
        while cur != from_snapshot:
            s = by_id.get(cur)
            if s is None or not s.get("delta"):
                raise ValueError(
                    f"no pure append chain from {from_snapshot} to {to_sid}: "
                    f"snapshot {cur} is a full rewrite or expired"
                )
            sids.append(cur)
            cur = s["parent"]
        if not sids:
            df = self.read(to_sid)
            return df.limit(0)
        return self._scan(m, sids)

    def _list_data_files(self, dirs: list[str]) -> list[tuple[str, int]]:
        """(path, bytes) of every parquet data file in ``dirs`` — ONE
        Hadoop-FS ``listStatus`` per directory (never per file), so a
        many-file table costs O(n_dirs) driver RPCs, and any remote
        object store the session can reach works, not just local disk."""
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        out: list[tuple[str, int]] = []
        for d in dirs:
            jdir = jvm.org.apache.hadoop.fs.Path(d)
            fs = jdir.getFileSystem(hconf)
            for st in fs.listStatus(jdir):
                name = st.getPath().getName()
                if name.endswith(".parquet") and not name.startswith("."):
                    out.append((str(st.getPath().toString()), int(st.getLen())))
        return out

    def compact(
        self,
        *,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
    ) -> Optional[int]:
        """Rewrite the CURRENT snapshot's data into size-targeted files
        — Iceberg ``rewrite_data_files`` (bin-pack) parity, the
        maintenance operation that keeps a long-lived append-heavy
        table scannable. A 100 TB table fed by frequent small ingest
        batches accumulates chains of small files; every subsequent
        scan then pays per-file open cost and tiny splits. Compaction
        reads the chain once, repartitions to ``ceil(total_bytes /
        target_file_bytes)`` output files and commits the rewrite as a
        new FULL snapshot (``operation='compact'``), so time travel to
        pre-compaction snapshots still works and ``expire_snapshots``
        reclaims the small files once history is dropped.

        Returns the new snapshot id, or None when compaction would not
        help (fewer than ``min_files`` data files, or the rewrite would
        not reduce the file count). File sizes come from one
        ``listStatus`` per chain directory. The data pass is a single
        scan + round-robin repartition (one Exchange, no Python);
        row-level content is preserved exactly."""
        import math

        m = self._read_manifest()
        sid = m["current"]
        if sid is None:
            raise FileNotFoundError(f"table {self.path} has no committed snapshot")
        files = self._list_data_files(self._chain_dirs(m, sid))
        if len(files) < min_files:
            return None
        total = sum(sz for _, sz in files)
        n_out = max(1, math.ceil(total / max(target_file_bytes, 1)))
        if n_out >= len(files):
            return None
        df = self.read(sid).repartition(n_out)
        return self.write(
            df,
            operation="compact",
            properties={
                "compacted_from_snapshot": sid,
                "files_before": len(files),
                "bytes_before": total,
                "target_file_bytes": int(target_file_bytes),
            },
        )

    def diff(
        self,
        from_snapshot: int,
        to_snapshot: Optional[int] = None,
        *,
        key_cols: Sequence[str],
        compare_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Exact change set between two snapshots of this table —
        Iceberg changelog-scan parity, but derived, so it works across
        full rewrites where :meth:`read_incremental` must refuse.
        Delegates to :func:`oblate_spark.operators.cdc.snapshot_diff`:
        one full-outer sort-merge join on ``key_cols``; see there for
        the output contract and scale notes."""
        from ..operators.cdc import snapshot_diff

        m = self._read_manifest()
        to_sid = to_snapshot if to_snapshot is not None else m["current"]
        return snapshot_diff(
            self.read(from_snapshot),
            self.read(to_sid),
            key_cols=key_cols,
            compare_cols=compare_cols,
        )

    def schema_changes(
        self, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> list[dict]:
        """Schema drift between two snapshots, from the per-snapshot
        schema RECORDS alone (manifest-only — zero Spark jobs, zero
        footer reads): a list of {column, change, from_type, to_type}
        with change ∈ {added, widened, retyped, dropped}. The table's
        evolution history is queryable the same way its data history is
        — "when did this column appear / grow to bigint" needs no data
        access. ``append()`` can only produce added/widened; dropped or
        retyped entries mean a full ``write()`` overwrite changed the
        shape between the two snapshots — a report-worthy fact, not an
        error (drift reports report; validation rejects)."""
        m = self._read_manifest()
        to_sid = to_snapshot if to_snapshot is not None else m["current"]
        by_id = {s["id"]: s for s in m["snapshots"]}
        for sid in (from_snapshot, to_sid):
            if sid not in by_id:
                raise ValueError(f"unknown snapshot id {sid}")
        old = by_id[from_snapshot].get("schema")
        new = by_id[to_sid].get("schema")
        if old is None or new is None:
            raise ValueError(
                "schema_changes needs per-snapshot schema records; "
                "legacy snapshots predate them — re-commit to heal"
            )
        out: list[dict] = []
        for col, typ in new.items():
            if col not in old:
                out.append(
                    {"column": col, "change": "added",
                     "from_type": None, "to_type": typ}
                )
            elif old[col] != typ:
                kind = (
                    "widened" if (old[col], typ) in _WIDENINGS else "retyped"
                )
                out.append(
                    {"column": col, "change": kind,
                     "from_type": old[col], "to_type": typ}
                )
        for col in old:
            if col not in new:
                out.append(
                    {"column": col, "change": "dropped",
                     "from_type": old[col], "to_type": None}
                )
        return out

    def rollback(self, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot (data retained)."""
        m = self._read_manifest()
        if snapshot_id not in {s["id"] for s in m["snapshots"]}:
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        m["current"] = snapshot_id
        self._publish_manifest(m)

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (never the
        current one) from the manifest and delete data dirs that are no
        longer referenced. A delta snapshot's content lives in its
        ancestors' dirs, so a dir is deletable only when NO kept
        snapshot's parent chain reaches it (Iceberg expires snapshots
        but keeps data files still referenced by live ones). Returns
        the expired snapshot ids."""
        m = self._read_manifest()
        ids = [s["id"] for s in m["snapshots"]]
        by_id = {s["id"]: s for s in m["snapshots"]}
        keep: set[int] = set()
        for sid in set(ids[-keep_last:]) | {m["current"]}:
            cur = sid  # a kept delta keeps its whole ancestor chain live
            while cur is not None and cur in by_id and cur not in keep:
                keep.add(cur)
                if not by_id[cur].get("delta"):
                    break
                cur = by_id[cur]["parent"]
        expired = [s["id"] for s in m["snapshots"] if s["id"] not in keep]
        m["snapshots"] = [s for s in m["snapshots"] if s["id"] in keep]
        # write-audit-publish also applies to deletion: publish the
        # pruned manifest FIRST (atomic os.replace), then delete the
        # now-unreferenced dirs. A crash mid-delete leaves only orphan
        # dirs; the old order left a published manifest referencing
        # deleted dirs, breaking read()/_chain_dirs.
        self._publish_manifest(m)
        for sid in expired:
            shutil.rmtree(self._snap_dir(sid), ignore_errors=True)
        return expired
