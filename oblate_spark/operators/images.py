"""Image-payload constraint checks (Axis A of the north rule).

The reference's ``value_load`` cast kernel (oblate/fields/primitive.py)
generalized to binary payloads: decodability, declared-vs-encoded
width/height/format consistency, and phash recompute — executed by ONE
``mapInPandas`` kernel that emits a compact report column set; all
violation logic downstream is pure Column expressions. The kernel is fed
either by a DataFrame's Arrow batches (``image_payload_report``) or, for
a plain parquet directory, by file names, each worker reading its files
with pyarrow (``image_payload_report_from_files``, one Python task per
core).

Scale notes:

* Column pruning matters enormously here: the ``bytes`` column dominates
  I/O. The kernel projects exactly (id, bytes, declared metadata) — a
  run that validates only captions never reads bytes at all (Catalyst
  prunes it, see SURVEY.md §4).
* The kernel emits *metadata only* (ok flag, dims, fmt, phash — ~50
  bytes/row), so the exchange back from Python is tiny regardless of
  image size.
* phash comparison uses ``bit_count(declared ^ actual)`` (JVM-side
  hamming distance) so near-match tolerance is a plan knob, not a
  Python loop.
* The file-driven kernel's memory per task is one record batch of
  about ``_BATCH_BYTES`` of payload, not one file: over a 64 MB
  single-row-group file the reader plus decode raise a process's peak
  RSS by 0.43x the file, against 4.2x for a whole-file read. The bound
  holds down to a parquet page, which a reader decodes whole, and so
  is a dictionary page: pyarrow's writer defaults put 256 rows of
  256 KB images in one 64 MB page (``write_batch_size=1024``), and
  26 KB images behind a 26 MB dictionary page. The Spark-written
  files of the images benchmark (plain-encoded payloads) stream.
"""

from __future__ import annotations

import functools
import heapq
import json
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..errors import ErrorCode

__all__ = [
    "image_payload_report",
    "image_payload_violations",
    "validate_image_table",
    "release_report",
    "IMAGE_REPORT_SCHEMA",
]

#: declared metadata keeps its ORIGINAL column names so the generic
#: row-level Schema plan can run directly on the report; the kernel adds
#: the decode outcome + actual-vs-declared columns.
IMAGE_REPORT_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, phash bigint, "
    "decode_ok boolean, decode_err string, "
    "w_actual int, h_actual int, fmt_actual string, phash_actual bigint"
)


def image_payload_report(
    df: DataFrame,
    *,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
    fmt_col: str = "fmt",
    phash_col: str = "phash",
    caption_col: str = "caption",
    compute_phash: bool = True,
) -> DataFrame:
    """Decode every payload once, emit the actual-vs-declared report.

    The report is the compact product of the ONLY pass that reads the
    binary column: declared metadata (original names, passed through)
    plus decode outcome and actuals. Downstream row-level schema checks,
    payload-consistency checks and uniqueness aggregations all consume
    the report — never the bytes — so materializing the report (cache
    locally, checkpoint table at cluster scale) makes the whole
    validation suite a single heavy scan plus cheap metadata plans.

    ``compute_phash=False`` skips the DCT (the expensive part) for runs
    that only need decode/dimension checks.
    """
    import pandas as pd

    cols = [id_col, bytes_col, w_col, h_col, fmt_col, phash_col, caption_col]

    def kernel(iterator):
        for pdf in iterator:
            res = _decode_batch(pdf[bytes_col], compute_phash)
            out = {
                "image_id": pdf[id_col].astype(str),
                "w": pdf[w_col],
                "h": pdf[h_col],
                "fmt": pdf[fmt_col],
                "caption": pdf[caption_col],
                "phash": pdf[phash_col],
                **res,
            }
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(kernel, IMAGE_REPORT_SCHEMA)


def _decode_batch(blobs, compute_phash: bool) -> dict:
    """Decode a batch of payloads into the report's outcome columns.

    Preallocated numpy + direct ``IntegerArray`` construction: building
    nullable ints from Python object lists cost ~0.4 ms/row at scale —
    a third of the whole kernel. (Int64 matters for phash: a float64
    detour would truncate 64-bit hashes to 53-bit mantissas.) Any
    exception becomes a decode_err, never a task failure."""
    import numpy as np
    import pandas as pd

    from ..functions.codecs import ImageDecodeError, decode_image, detect_format, phash64

    n = len(blobs)
    ok = np.zeros(n, dtype=bool)
    errs: list = [None] * n
    fmts: list = [None] * n
    wv = np.zeros(n, dtype=np.int32)
    hv = np.zeros(n, dtype=np.int32)
    pv = np.zeros(n, dtype=np.int64)
    for i, blob in enumerate(blobs):
        if blob is None:
            errs[i] = "payload is NULL"
            continue
        data = bytes(blob)
        try:
            pixels = decode_image(data)
            fmt_actual = detect_format(data)
            ph = phash64(pixels) if compute_phash else 0
        except ImageDecodeError as e:
            errs[i] = str(e)
            continue
        except Exception as e:  # violation row, not task failure
            errs[i] = f"{type(e).__name__}: {e}"
            continue
        ok[i] = True
        hv[i] = pixels.shape[0]
        wv[i] = pixels.shape[1]
        fmts[i] = fmt_actual
        pv[i] = ph
    miss = ~ok
    ph_miss = miss if compute_phash else np.ones(n, dtype=bool)
    return {
        "decode_ok": ok,
        "decode_err": errs,
        "w_actual": pd.arrays.IntegerArray(wv, miss.copy()),
        "h_actual": pd.arrays.IntegerArray(hv, miss.copy()),
        "fmt_actual": fmts,
        "phash_actual": pd.arrays.IntegerArray(pv, ph_miss.copy()),
    }


def payload_check_array(*, phash_tolerance: int = 0):
    """The payload consistency checks as ONE array<check-struct> Column
    over the report's columns — composable into the same projection that
    carries the row-level schema checks (single explode, no extra
    branch/stage in the fused validation job). A failed decode
    suppresses the downstream consistency checks (same gating as the
    reference: a failed load runs no validators,
    oblate/schema.py:267-277)."""
    decode_failed = ~F.col("decode_ok")
    dims_mismatch = F.col("decode_ok") & (
        (F.col("w") != F.col("w_actual")) | (F.col("h") != F.col("h_actual"))
    )
    fmt_mismatch = F.col("decode_ok") & (F.col("fmt") != F.col("fmt_actual"))
    phash_mismatch = F.col("decode_ok") & (
        F.bit_count(F.col("phash").bitwiseXOR(F.col("phash_actual"))) > phash_tolerance
    )

    check_ddl = "struct<field_key:string,error_code:string,message:string,value_repr:string>"

    def chk(cond, field_key, code, message):
        return F.when(
            cond,
            F.struct(
                F.lit(field_key).alias("field_key"),
                F.lit(code).alias("error_code"),
                message.alias("message"),
                F.lit(None).cast("string").alias("value_repr"),
            ),
        ).otherwise(F.lit(None).cast(check_ddl))

    checks = F.filter(
        F.array(
            chk(
                decode_failed,
                "bytes",
                ErrorCode.IMAGE_DECODE_FAILED,
                F.concat(F.lit("Image bytes failed to decode: "), F.coalesce(F.col("decode_err"), F.lit("unknown"))),
            ),
            chk(
                dims_mismatch,
                "w,h",
                ErrorCode.IMAGE_DIMS_MISMATCH,
                F.concat(
                    F.lit("Declared dimensions "),
                    F.col("w").cast("string"),
                    F.lit("x"),
                    F.col("h").cast("string"),
                    F.lit(" do not match encoded "),
                    F.col("w_actual").cast("string"),
                    F.lit("x"),
                    F.col("h_actual").cast("string"),
                ),
            ),
            chk(
                fmt_mismatch,
                "fmt",
                ErrorCode.IMAGE_FMT_MISMATCH,
                F.concat(
                    F.lit("Declared format '"),
                    F.col("fmt"),
                    F.lit("' does not match encoded '"),
                    F.coalesce(F.col("fmt_actual"), F.lit("?")),
                    F.lit("'"),
                ),
            ),
            chk(
                phash_mismatch,
                "phash",
                ErrorCode.IMAGE_PHASH_MISMATCH,
                F.concat(
                    F.lit("Stored phash "),
                    F.col("phash").cast("string"),
                    F.lit(" does not match recomputed "),
                    F.col("phash_actual").cast("string"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return checks


def image_payload_violations(
    report: DataFrame,
    *,
    phash_tolerance: int = 0,
) -> DataFrame:
    """Report -> violation rows, pure Column expressions.

    Emits (row_id, field_key, error_code, message, value_repr,
    partition_id) matching the engine's violation contract. On a report
    from ``image_payload_report_from_files`` a partition is a bin of
    parquet files, not one file."""
    checks = payload_check_array(phash_tolerance=phash_tolerance)
    return (
        report.select(
            F.col("image_id").alias("row_id"),
            F.explode(checks).alias("v"),
            F.spark_partition_id().alias("partition_id"),
        )
        .select(
            "row_id",
            F.col("v.field_key").alias("field_key"),
            F.col("v.error_code").alias("error_code"),
            F.col("v.message").alias("message"),
            F.col("v.value_repr").alias("value_repr"),
            "partition_id",
        )
    )


def image_schema(include_bytes: bool = False):
    """The row-level Schema for the input_hint image table — the
    reference-semantics checks (Literal/Range/Length/none) that compose
    with the payload kernel and the table-level uniqueness checks.

    ``include_bytes=False`` (the composite-pipeline default) leaves the
    binary column out of the row-level plan so Catalyst prunes it from
    this scan entirely — the payload kernel is then the ONLY reader of
    the dominant-I/O column (a NULL payload surfaces there as
    ``image.decode_failed: payload is NULL``). Scanning bytes once
    instead of four times is the difference between scaling and
    thrashing at 100 TB (and measurably on local[32]).

    One class per argument, declared on first use: ``engine.validate``
    reuses a compiled plan per schema class, so repeat validations of
    the image table skip recompiling it."""
    return _image_schema(bool(include_bytes))


@functools.cache
def _image_schema(include_bytes: bool):
    from .. import fields
    from .. import validate as V
    from ..schema import Schema

    if include_bytes:
        class ImageRowWithBytes(_image_schema(False)):
            bytes = fields.Binary()

        return ImageRowWithBytes

    class ImageRow(Schema):
        image_id = fields.String()
        w = fields.Integer(validators=[V.Range(1, 4096)])
        h = fields.Integer(validators=[V.Range(1, 4096)])
        fmt = fields.Literal("bmp", "png", "ppm")
        caption = fields.String(validators=[V.Length(max=120)])
        phash = fields.Integer()

    return ImageRow


def validate_image_table(
    df: DataFrame,
    *,
    phash_tolerance: int = 0,
    check_payload: bool = True,
    check_unique: bool = True,
    source_path: Optional[str] = None,
    max_files: Optional[int] = None,
) -> DataFrame:
    """Full north-rule validation of an image+caption table: row-level
    schema checks + payload kernel + salted uniqueness on image_id and
    phash. Returns one unified violations DataFrame.

    Architecture (the 100 TB invariant): ONE heavy pass. The payload
    kernel is the only consumer of the multi-KB ``bytes`` column; it
    emits a compact metadata report (~150 B/row) and every constraint
    branch — schema checks, payload consistency, uniqueness — runs over
    the report. With ``check_unique`` the report has two consumers, so it
    is cached: otherwise each union branch would re-execute the kernel
    (release it with :func:`release_report`). Without ``check_unique``
    the one fused branch reads it and nothing is cached. A resumable run
    (``checkpoint.ResumableRun``) writes each group's violations, so a
    cluster job needs no report checkpoint of its own.
    """
    from .stats import multi_key_uniqueness_violations

    if check_payload:
        if source_path is not None:
            # file-driven kernel: each worker reads its bin of parquet
            # files with pyarrow directly; the multi-KB bytes never cross
            # the JVM->Python socket (the measured feed wall), and the
            # violations' partition_id is then the bin, not the file
            report = image_payload_report_from_files(
                df.sparkSession, source_path, max_files=max_files
            )
        else:
            report = image_payload_report(df)
        if check_unique:  # a second branch reads the report
            report = report.cache()
        base = report
    else:
        base = df.drop("bytes")

    schema = image_schema(include_bytes=False)
    extra_ok = (
        "image_id", "decode_ok", "decode_err",
        "w_actual", "h_actual", "fmt_actual", "phash_actual",
    )
    res = schema.validate(base, row_id="image_id", extra_columns_ok=extra_ok)
    if check_payload:
        # fuse: the payload-consistency checks are row-wise expressions
        # over the same report rows as the schema checks, so they concat
        # into the same _violations array — ONE projection + ONE explode
        # instead of two independent branches over the cached report
        # (each branch costs a full stage of scheduling latency, which
        # is the dominant term once the kernel is file-driven)
        from ..engine import ValidationResult

        fused = res.annotated.withColumn(
            "_violations",
            F.concat(
                F.col("_violations"),
                payload_check_array(phash_tolerance=phash_tolerance),
            ),
        )
        parts = [ValidationResult(annotated=fused, plan=res.plan).violations]
    else:
        parts = [res.violations]

    if check_unique:
        slim = base.select("image_id", "phash")
        uniq = multi_key_uniqueness_violations(slim, ["image_id", "phash"], row_id="image_id")
        parts.append(
            uniq.select(
                "row_id", "field_key", "error_code", "message", "value_repr",
                F.lit(-1).alias("partition_id"),  # table-level: no source partition
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # cache-lifetime contract: a cached report stays cached so every
    # branch of the returned (lazy) union reuses it; it is exposed here
    # so long-lived sessions can release it after consuming the result
    # (see release_report()).
    out._oblate_cached_report = report if (check_payload and check_unique) else None
    return out


def release_report(validation_result: DataFrame) -> None:
    """Unpersist the payload report cached by ``validate_image_table``
    (no-op when it cached none: no payload or no uniqueness check). Call
    after the violations DataFrame has been consumed — in a long-lived
    session the cached report otherwise pins executor storage memory."""
    rep = getattr(validation_result, "_oblate_cached_report", None)
    if rep is not None:
        rep.unpersist()


def _list_parquet_files(spark, paths: list) -> list:
    """List ``*.parquet`` under each path via the Hadoop FileSystem API
    (object-store-safe: resolves file:/hdfs:/s3a:/... through the same
    connectors Spark's own scans use). Returns (uri, size) tuples."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    out = []
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(str(p).rstrip("/") + "/*.parquet")
        fs = jpath.getFileSystem(hconf)
        statuses = fs.globStatus(jpath)
        if statuses is not None:
            for st in statuses:
                out.append((st.getPath().toString(), int(st.getLen())))
    return out


#: payload bytes a file-driven kernel task decodes per Arrow record
#: batch: one batch, not one file, bounds a Python worker's memory
_BATCH_BYTES = 4 << 20


def _rows_per_batch(total_byte_size: int, num_rows: int) -> int:
    """Rows per record batch for a row group of ``num_rows`` rows and
    ``total_byte_size`` uncompressed bytes: ``_BATCH_BYTES`` over the
    mean row size, at least one row (a huge image is a batch of one;
    thumbnails pack many)."""
    return max(1, _BATCH_BYTES * num_rows // max(total_byte_size, 1))


def _parquet_batches(uri: str, columns: list):
    """Worker-side streaming read of a Hadoop-style parquet URI: yields
    ``columns`` as Arrow record batches of about ``_BATCH_BYTES``, each
    row group in turn, single-threaded (the executor already runs one
    worker per core). A 1 MiB read buffer keeps pyarrow from reading a
    whole column chunk per batch. ``file:`` URIs are stripped to local
    paths; remote schemes resolve through ``pyarrow.fs``. The file is
    closed when the generator finishes or is closed: Python workers are
    reused, so a leaked handle would outlive the task."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        filesystem = fs.LocalFileSystem()
    else:
        filesystem, path = fs.FileSystem.from_uri(uri)
    with filesystem.open_input_file(path) as source, pq.ParquetFile(
        source, buffer_size=1 << 20
    ) as pf:
        meta = pf.metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            # ``yield from`` binds no local: a suspended reader holds
            # no batch the consumer has dropped
            yield from pf.iter_batches(
                batch_size=_rows_per_batch(rg.total_byte_size, rg.num_rows),
                row_groups=[i],
                columns=columns,
                use_threads=False,
            )


def _pack_files(files: list, n_bins: int) -> list:
    """Longest-processing-time-first packing of ``(uri, size)`` pairs
    into ``n_bins`` bins of URIs: each file, largest first (ties by
    name), goes to the bin with the least bytes so far (ties: lower
    index). With ``n_bins <= len(files)`` and non-empty files every bin
    gets a file; the largest bin is within Graham's
    ``4/3 - 1/(3 * n_bins)`` of the best packing; the result depends
    only on the input set."""
    bins: list = [[] for _ in range(n_bins)]
    heap = [(0, i) for i in range(n_bins)]
    for uri, size in sorted(files, key=lambda fl: (-fl[1], fl[0])):
        load, i = heapq.heappop(heap)
        bins[i].append(uri)
        heapq.heappush(heap, (load + size, i))
    return bins


def image_payload_report_from_files(
    spark,
    path,  # str | list[str]; any Hadoop-visible scheme
    *,
    compute_phash: bool = True,
    max_files: Optional[int] = None,
) -> DataFrame:
    """File-driven payload kernel: pack the parquet *file names* into one
    bin per core, read each file of a bin with pyarrow inside the Python
    worker, decode, emit the compact report.

    This is the zero-copy-ish pattern large image pipelines use
    (Petastorm-style direct reads): the multi-KB ``bytes`` cells never
    cross the JVM->Python socket — the JVM only ships file paths out and
    ~150 B/row of report back. On the sandbox this removes the
    row->Arrow serialization that capped the DataFrame-driven kernel at
    ~400 MB/s regardless of core count. Requires the table to be a plain
    parquet directory (the DataFrame-driven ``image_payload_report``
    stays the composable default).

    The files are packed longest-first into ``min(files,
    defaultParallelism)`` bins (``_pack_files``), and the bins are a
    JVM-side ``range`` with one row, and one partition, per bin: each
    core runs ONE Python task, whatever the file count. A Python task
    has a fixed start-up cost before the kernel runs (an empty
    ``mapInPandas`` stage took 0.39 s at 4 tasks and 0.89 s at 16 on a
    4-core host, most of it PySpark's ``importlib.invalidate_caches()``
    re-reading the archives on the worker's ``sys.path``), so more tasks
    than cores only add that cost. A report partition — and so the
    ``partition_id`` of its violations — therefore covers a bin of
    files, not one file.

    Each file is streamed as Arrow record batches of about
    ``_BATCH_BYTES`` of payload (``_parquet_batches``), and the kernel
    yields one report batch per record batch, so a worker holds one
    batch of payloads, not a file: over 8 files of 33 MB on 4 cores a
    kernel worker peaks at 175-188 MB (372-390 MB reading each file
    whole). Rows keep their file order within a bin.

    ``path`` may be a single directory or a list of directories, on ANY
    Hadoop-visible filesystem (``file:``, ``hdfs:``, ``s3a:``, ...):
    listing goes through the Hadoop FileSystem API of the session —
    exactly what the scan of a real object-store table resolves through
    — and workers open the returned URIs with ``pyarrow.fs``.

    ``max_files`` truncates the (name-sorted) file list — a sampling /
    warm-up knob: validate a deterministic subset of a huge table, or
    pre-warm python workers + codegen on a fraction of the input before
    a timed run.
    """
    files = _list_parquet_files(spark, [path] if isinstance(path, str) else list(path))
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    if max_files is not None:
        files = sorted(files)[:max_files]
    n = min(len(files), spark.sparkContext.defaultParallelism)
    bins = _pack_files(files, n)

    import pandas as pd

    def kernel(iterator):
        meta_cols = ["image_id", "w", "h", "fmt", "caption", "phash"]
        for pdf in iterator:
            for bin_files in pdf["files"]:
                for fname in bin_files:
                    for batch in _parquet_batches(fname, meta_cols + ["bytes"]):
                        # vectorized Arrow->pandas for the metadata; only
                        # the bytes column needs python objects (decode input)
                        meta = batch.select(meta_cols).to_pandas(
                            use_threads=False, types_mapper={None: None}.get
                        )
                        blobs = batch.column("bytes").to_pylist()
                        res = _decode_batch(blobs, compute_phash)
                        # drop the payloads before the next batch is read
                        del batch, blobs
                        out = {c: meta[c] for c in meta_cols}
                        out.update(res)
                        yield pd.DataFrame(out)

    # the bins travel as ONE JSON literal and row ``id`` picks its bin:
    # O(1) py4j calls however many files (a per-file ``F.lit`` costs a
    # round trip each), and no Python RDD source task chained in front
    # of the kernel's Python task
    fdf = spark.range(n, numPartitions=n).select(
        F.element_at(
            F.from_json(F.lit(json.dumps(bins)), "array<array<string>>"),
            (F.col("id") + 1).cast("int"),
        ).alias("files")
    )
    return fdf.mapInPandas(kernel, IMAGE_REPORT_SCHEMA)
