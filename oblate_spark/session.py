"""SparkSession builders tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: AQE on
(runtime re-planning + skew-join splitting), shuffle partitions sized to
the core count rather than the 200 default, Arrow enabled for every
pandas-UDF exchange. On a real cluster the same builder is used by
``spark-submit --py-files``; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = [
    "default_cores", "default_heap", "get_spark", "local_frame", "session_conf", "stop_spark",
]


def get_spark(
    cores: int | None = None,
    app_name: str = "oblate_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``default_cores()``: ``$SPARK_GRAFT_CPUS`` if
    set, else the CPUs this process may run on. Shuffle partitions
    default to ``max(cores, 8)`` — sized so each of the local executor
    threads gets work without creating thousands of tiny reducers; at
    cluster scale callers override this to ~2-3x total cores.
    """
    # keep per-worker numpy/BLAS single-threaded: N python workers each
    # spawning a BLAS pool oversubscribes the box (inherited by workers)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)

    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """Rows the driver already holds (tuples or ``Row``s) as a
    ``LocalRelation``, through Arrow; ``schema`` is a ``StructType`` or
    a DDL string. ``spark.createDataFrame(list)`` would plan a Python
    RDD scan instead, and every action on it would run a Python job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def session_conf(
    shuffle_partitions: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """Every conf ``get_spark`` sets, ``extra_conf`` applied last.

    The driver heap is resolved once — ``spark.driver.memory`` from
    ``extra_conf``, else ``$OBLATE_SPARK_DRIVER_MEM``, else
    ``default_heap()`` — and sets both -Xmx (``spark.driver.memory``)
    and -Xms, so a smaller ``extra_conf`` heap cannot leave -Xms above
    -Xmx (the JVM refuses to start)."""
    mem = (
        (extra_conf or {}).get("spark.driver.memory")
        or os.environ.get("OBLATE_SPARK_DRIVER_MEM")
        or default_heap()
    )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Plan-hygiene default measured in round 6 (OPTIMIZATION_r06.md):
        # InferFiltersFromGenerate copies the ENTIRE generator expression
        # into a pre-Generate filter, so every compiled violations array
        # was evaluated twice per row (the filter is pushed through the
        # projection by alias substitution, which is cost-unaware, and
        # Generate already drops empty arrays). Excluding it cut staged
        # lineitem validation 10.97s -> 5.81s at sf0.1; the cost on
        # prune-friendly jobs (image report explode) measured ~1s the
        # other way — net strongly positive, and scale-independent
        # (pure per-row compute, no shuffle involvement).
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # DataFrame call-site capture off. When on, PySpark 4.1 wraps
        # every DataFrame/Column/F.* call in extra py4j round trips
        # (active session, conf read, origin set and reset). Building
        # the plan of validate_image_table, warm, on a 4-core host: with
        # it 5,254-7,181 round trips and 0.58-0.82 s, without it
        # 1,954-2,981 and 0.49-0.51 s. Errors keep their class and
        # message; only the Python call site in an error's query context
        # is lost. To get it back, pass extra_conf=
        # {"spark.python.sql.dataFrameDebugging.enabled": "true"} to the
        # first session of the process (PySpark reads it once).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.driver.memory": mem,
        "spark.ui.enabled": "false",
        # JVM tuning for the Arrow-exchange allocation pattern of
        # binary-heavy mapInPandas, measured on local[8..32]:
        # - ParallelGC: default G1 stalls erratically (humongous batch
        #   buffers + all cores busy -> concurrent-cycle thrash)
        # - Xms=Xmx + AlwaysPreTouch: without it the heap grows lazily
        #   and young GCs absorb multi-second page-zeroing stalls
        #   (observed 3-4.3 s young pauses on a virtualized host)
        "spark.driver.extraJavaOptions":
            "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC "
            f"-Xms{mem} -XX:+AlwaysPreTouch",
    }
    conf.update(extra_conf or {})
    return conf


def default_heap() -> str:
    """Half the host's physical memory, at most 12g: the heap is
    pre-touched (-Xms = -Xmx), so a fixed 12g would claim most of a
    small host before the first job."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2 >> 20, 12 << 10)}m"


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
