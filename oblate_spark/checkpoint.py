"""Resumable validation runs with per-partition lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage and metrics". A run over a huge table is split into file groups;
each completed group's violations land in their own output directory and
the group is recorded — with its metrics — in a JSON run-manifest that is
published atomically after the group commits. A re-run (same run_dir)
skips completed groups, so a crashed 10^12-row job resumes at the first
unfinished group instead of restarting.

With an Iceberg runtime the same contract maps onto snapshot ids per
validated partition set (SURVEY.md §2.7 "Checkpoint/resume"); the JSON
manifest is the jar-free stand-in with identical behavior.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "ResumableRun",
    "resumable_validate_images",
    "IncrementalValidator",
    "incremental_validate_images",
]


class ResumableRun:
    """Generic chunked, resumable execution over parquet file groups."""

    def __init__(self, spark: SparkSession, source_path, run_dir: str, *, group_size: int = 8) -> None:
        self.spark = spark
        self.source_path = source_path
        self.run_dir = run_dir
        self.group_size = group_size
        os.makedirs(run_dir, exist_ok=True)
        # list the SOURCE through the Hadoop FileSystem API (the same
        # lister the image kernel uses) so resumable runs work on
        # object stores (s3a:/hdfs:/...), not just local paths — a
        # local glob silently finds nothing on a remote URI. The run
        # manifest itself stays driver-local JSON by design (the
        # documented Iceberg-snapshot stand-in, module docstring).
        from .operators.images import _list_parquet_files

        sources = [source_path] if isinstance(source_path, str) else list(source_path)
        files = sorted(uri for uri, _sz in _list_parquet_files(spark, sources))
        if not files:
            raise ValueError(f"no parquet files under {source_path!r}")
        self.groups = [files[i : i + group_size] for i in range(0, len(files), group_size)]

    def _manifest_path(self) -> str:
        return os.path.join(self.run_dir, "run_manifest.json")

    def manifest(self) -> dict:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"source": self.source_path, "groups": {}}

    def _publish(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path())

    def completed_groups(self) -> set[int]:
        return {int(k) for k, v in self.manifest()["groups"].items() if v.get("done")}

    def run(
        self,
        job: Callable[[DataFrame], DataFrame],
        *,
        metrics: Optional[Callable[[DataFrame, DataFrame], dict]] = None,
        cleanup: Optional[Callable[[DataFrame], None]] = None,
    ) -> dict:
        """Execute ``job(group_df) -> output_df`` per incomplete group,
        writing output under ``group-<k>/`` and recording lineage
        (file list) + metrics per group. Returns the final manifest.

        ``cleanup`` runs after each group commits, with the job's output
        DataFrame — release per-group resources there (cached reports
        etc.); without it a long run accumulates one cache per group.

        Resume safety: a completed group whose recorded file list no
        longer matches the source listing aborts the run — silent
        re-grouping would attribute old outputs to different inputs.
        The comparison is scheme-tolerant (``file:/data/x.parquet`` ==
        ``/data/x.parquet``): manifests written when the lister
        returned bare local paths stay resumable now that it returns
        qualified Hadoop URIs."""

        def norm(f: str) -> str:
            # proper URI parse, not prefix-stripping: 'file:/p',
            # 'file:///p' and 'file://localhost/p' all name the same
            # local path; a non-local authority (hdfs://nn1/...) is a
            # different filesystem and must stay distinct
            from urllib.parse import urlparse

            u = urlparse(f)
            if u.scheme == "file" and u.netloc in ("", "localhost"):
                return u.path
            return f

        done = self.completed_groups()
        manifest = self.manifest()
        for k, files in enumerate(self.groups):
            if k in done:
                rec = manifest["groups"].get(str(k), {})
                if [norm(f) for f in rec.get("files", [])] != [norm(f) for f in files]:
                    raise RuntimeError(
                        f"group {k} file set changed since checkpoint "
                        f"(source listing drifted); refusing to resume"
                    )
                continue
            gdf = self.spark.read.parquet(*files)
            out = job(gdf)
            out_dir = os.path.join(self.run_dir, f"group-{k:05d}")
            out.write.mode("overwrite").parquet(out_dir)
            entry = {
                "done": True,
                "files": files,  # per-partition lineage
                "output": out_dir,
            }
            if metrics is not None:
                written = self.spark.read.schema(out.schema).parquet(out_dir)
                entry["metrics"] = metrics(gdf, written)
            manifest["groups"][str(k)] = entry
            self._publish(manifest)  # atomic per-group commit
            if cleanup is not None:
                cleanup(out)
        return self.manifest()

    def output(self) -> DataFrame:
        dirs = [v["output"] for v in self.manifest()["groups"].values() if v.get("done")]
        return self.spark.read.parquet(*dirs)


class IncrementalValidator:
    """Continuous-ingest validation over a SnapshotTable: validate ONLY
    rows appended since the last validated snapshot.

    A continuously ingested 10^12-row table cannot be revalidated per
    commit; the unit of work must be the ingest batch. Each call to
    ``validate_new``:

    1. reads the append-delta between the validated watermark and the
       table's current snapshot (``SnapshotTable.read_incremental`` —
       the stand-in for an Iceberg incremental scan),
    2. runs the schema plan on just those rows, persisting violations
       under ``run_dir/upto-<sid>/``,
    3. atomically advances the watermark file to the validated snapshot
       — crash between (2) and (3) re-validates the same batch on the
       next call (at-least-once). Outputs are per-snapshot-range dirs;
       before each attempt, dirs past the watermark (uncommitted
       leftovers of a crashed attempt) are deleted, so a reader
       aggregating ``upto-*`` never double-counts a batch even when a
       new append landed between the crash and the retry. A REBASE
       (cut append chain: rollback/overwrite/expired watermark) writes
       a full-table revalidation, so ALL committed ``upto-*`` dirs are
       deleted first — their content is superseded, and keeping them
       would double-count every previously validated row.

    ``unique_keys`` adds cross-batch uniqueness: each batch's keys are
    checked against the pre-batch table content through a broadcast
    semi-join (the table streams, never shuffles —
    ``stats.incremental_uniqueness_violations``), because validating
    only the delta would otherwise miss a new row reusing an OLD
    image_id/phash.

    ``job`` (instead of ``schema_cls``) plugs in any violations producer
    ``batch_df -> violations_df`` — e.g. the full image payload kernel
    (``incremental_validate_images`` below); ``unique_keys``/``row_id``
    compose with it unchanged.
    """

    def __init__(
        self,
        table,
        schema_cls=None,
        run_dir: str = "",
        *,
        job: Optional[Callable[[DataFrame], DataFrame]] = None,
        unique_keys: Optional[list] = None,
        row_id: Optional[str] = None,
        **validate_kw,
    ) -> None:
        if (schema_cls is None) == (job is None):
            raise ValueError("provide exactly one of schema_cls or job")
        if not run_dir:
            raise ValueError("run_dir is required")
        self.table = table
        self.schema_cls = schema_cls
        self.job = job
        self.run_dir = run_dir
        self.unique_keys = list(unique_keys or [])
        self.row_id = row_id
        self.validate_kw = validate_kw
        if self.unique_keys and not row_id:
            raise ValueError("unique_keys requires row_id")
        os.makedirs(run_dir, exist_ok=True)

    def _state_path(self) -> str:
        return os.path.join(self.run_dir, "watermark.json")

    def last_validated(self) -> Optional[int]:
        p = self._state_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)["last_validated"]
        return None

    def pending(self) -> Optional[tuple[Optional[int], int]]:
        """(from_snapshot, to_snapshot) not yet validated, or None."""
        current = self.table.current_snapshot_id()
        if current is None:
            return None
        last = self.last_validated()
        if last == current:
            return None
        return (last, current)

    def validate_new(self) -> Optional[dict]:
        """Validate the pending append range; returns {from, to, rows,
        violations, output} or None when already up to date."""
        span = self.pending()
        if span is None:
            return None
        last, current = span
        # drop UNCOMMITTED outputs from a crashed attempt: an upto-<sid>
        # dir with sid past the watermark was written but never
        # committed. If a new append landed before the retry, the retry
        # writes upto-<newer> covering those rows again and the stale
        # dir would double-count them for any upto-* aggregating reader.
        import shutil

        for d in glob.glob(os.path.join(self.run_dir, "upto-*")):
            try:
                sid = int(os.path.basename(d).split("-", 1)[1])
            except (IndexError, ValueError):
                continue
            if last is None or sid > last:
                shutil.rmtree(d, ignore_errors=True)
        rebase = False
        if last is None:
            batch = self.table.read(current)  # first run: whole table
        else:
            try:
                batch = self.table.read_incremental(
                    from_snapshot=last, to_snapshot=current
                )
            except ValueError:
                # the watermark stopped being a valid incremental base:
                # a merge/overwrite commit cut the append chain, a
                # rollback diverged history, or expiry dropped the
                # watermark snapshot. Without this the validator would
                # raise forever while ingest goes unvalidated — re-
                # baseline with a FULL revalidation of the current
                # snapshot (at-least-once: rows validated before are
                # validated again; watermark semantics resume from
                # `current`).
                batch = self.table.read(current)
                rebase = True
                last = None  # uniqueness: treat as first run below
        if self.job is not None:
            violations = self.job(batch)
        else:
            violations = self.schema_cls.validate(
                batch, row_id=self.row_id, **self.validate_kw
            ).violations
        if self.unique_keys:
            from .operators.stats import (
                incremental_uniqueness_violations,
                multi_key_uniqueness_violations,
            )

            row_id = self.row_id
            if last is None:  # first run: the whole table IS the batch
                uniq = multi_key_uniqueness_violations(
                    batch.select(row_id, *self.unique_keys),
                    self.unique_keys,
                    row_id=row_id,
                )
            else:
                uniq = incremental_uniqueness_violations(
                    batch, self.table.read(last), self.unique_keys, row_id=row_id
                )
            violations = violations.unionByName(
                uniq.select(
                    "row_id", "field_key", "error_code", "message", "value_repr",
                    F.lit(-1).alias("partition_id"),  # table-level check
                )
            )
        out_dir = os.path.join(self.run_dir, f"upto-{current:05d}")
        violations.write.mode("overwrite").parquet(out_dir)
        if rebase:
            # the full revalidation just written SUPERSEDES every
            # committed upto-* dir: keeping them would double-count
            # every previously validated row's violations for any
            # reader aggregating upto-* (the class guarantee). Purge
            # AFTER the replacement is durably on disk — purging first
            # meant a failed rebase write destroyed the whole
            # validation history. A crash before the watermark commit
            # below re-runs the rebase (the pre-read cleanup deletes
            # the uncommitted upto-<current>), so the purge converges.
            import shutil

            for d in glob.glob(os.path.join(self.run_dir, "upto-*")):
                if os.path.abspath(d) != os.path.abspath(out_dir):
                    shutil.rmtree(d, ignore_errors=True)
        written = self.table.spark.read.schema(violations.schema).parquet(out_dir)
        entry = {
            "from": last,
            "to": current,
            "rows": batch.count(),
            "violations": written.count(),
            "output": out_dir,
        }
        if rebase:
            entry["rebase"] = True  # chain was cut; this was a full revalidation
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_validated": current, **{k: v for k, v in entry.items() if k != "output"}}, f)
        os.replace(tmp, self._state_path())
        return entry


def incremental_validate_images(
    table, run_dir: str, *, phash_tolerance: int = 0
) -> IncrementalValidator:
    """The north-star ingest loop on an image+caption SnapshotTable:
    each append batch runs the FULL validation — row-level schema checks
    + payload kernel (decode, dims/fmt consistency, phash recompute) —
    on just the new rows, plus cross-batch uniqueness of image_id and
    phash against the committed table (broadcast semi-join; the table
    never rescans its payload bytes, only its two key columns).

    Cost per ingest batch: O(batch) decode work + one column-pruned
    key-probe scan of the table — never O(table) kernel work. Call
    ``validate_new()`` after each commit (or on a schedule)."""
    from .operators.images import validate_image_table

    def job(batch: DataFrame) -> DataFrame:
        # in-batch uniqueness is covered by the cross-batch check the
        # validator adds (unique.duplicate within the batch); disable
        # the kernel's own whole-input uniqueness pass
        return validate_image_table(batch, phash_tolerance=phash_tolerance,
                                    check_unique=False)

    return IncrementalValidator(
        table,
        run_dir=run_dir,
        job=job,
        unique_keys=["image_id", "phash"],
        row_id="image_id",
    )


def resumable_validate_images(
    spark: SparkSession, source_path: str, run_dir: str, *, group_size: int = 8
) -> dict:
    """Checkpointed full image-table validation: violations per group +
    per-group rows/violations metrics in the run manifest."""
    from .operators.images import release_report, validate_image_table

    run = ResumableRun(spark, source_path, run_dir, group_size=group_size)

    def job(gdf: DataFrame) -> DataFrame:
        return validate_image_table(gdf)

    def metrics(gdf: DataFrame, out: DataFrame) -> dict:
        return {
            "rows": gdf.count(),
            "violations": out.count(),
            "by_code": {
                r["error_code"]: r["cnt"]
                for r in out.groupBy("error_code").agg(F.count(F.lit(1)).alias("cnt")).collect()
            },
        }

    return run.run(job, metrics=metrics, cleanup=release_report)
