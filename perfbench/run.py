"""oblate_spark benchmark: one workload, one closed-loop client, one JSON line.

    python3 perfbench/run.py --workload images|registry \\
        --seed N --seconds S --trace 0|1

Run from the repository root. A run starts Spark through
``oblate_spark.session.get_spark`` at ``local[nproc]``, prepares the
workload's inputs from the seed (cached under ``.perfbench/inputs``),
runs ``WARM_PASSES`` untimed passes, then at least ``MIN_PASSES`` whole
passes, and more while the next one is expected to end within
``--seconds``. Every operation's output is checked (see workloads.py).
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` Spark's
event log is on, layer entry points are wrapped in spans, and the
per-layer metrics are reported instead (tracing.py). Spans, per-query
times and per-job totals go to ``.perfbench/traces/`` at the end.

Host-fit settings are pinned here: ``local[nproc]``, a 2 GB driver heap
(``OBLATE_SPARK_DRIVER_MEM``), and Spark's and Python's scratch space
inside ``.perfbench/`` (``SPARK_LOCAL_DIRS``, ``TMPDIR``,
``java.io.tmpdir``; JVM perf-data files off). Before it prints, the run
stops its SparkSession, waits for the JVM and every Python worker to
exit, and kills and reaps any that did not.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
#: untimed passes before timing: the first starts the Python workers'
#: imports and runs every plan once; pass times keep falling for several
#: passes after it while the JVM compiles the hot paths
WARM_PASSES = 2
#: timed passes a run makes even when they take longer than --seconds,
#: so that each run's medians and percentiles rest on this many samples
MIN_PASSES = 5

import procs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("images", "registry")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_tail_s": "s",
    "op_geomean_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "bench.timed_ops": "count",
    "inputs.prepare_s": "s",
    "trace.pass_s": "s",
    "session.start_s": "s",
    "session.first_job_s": "s",
    "host.cpu_steal": "ratio",
    "compiler.compile_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "python.exec_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "images.kernel_s": "s",
    "images.pass_kernel_s": "s",
    "images.post_kernel_s": "s",
    "images.decode_us": "us",
    "images.phash_us": "us",
    "images.report_bytes": "bytes",
    "stats.uniqueness_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "tableio.append_s": "s",
    "tableio.bytes_written_per_row": "bytes",
    "checkpoint.validate_new_s": "s",
    "checkpoint.jobs_per_batch": "count",
    "driver.collect_s": "s",
    "driver.result_rows": "count",
}


def tail(values: list[float]) -> float:
    """90th percentile (inclusive interpolation); the value itself for
    a single sample."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.inputs = os.path.join(WORK, "inputs")  # generated inputs, kept across runs
        self.spark = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.timed: list[tuple[str, float, int]] = []  # (op, seconds, items)
        self.pass_times: list[float] = []
        self.pass_windows: list[tuple[float, float]] = []
        self.layer: dict[str, float] = {}

    # -- environment ---------------------------------------------------------
    def _environment(self) -> None:
        local = os.path.join(self.work, "local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no hsperfdata files: the JVM would write them under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["OBLATE_SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        sys.path.insert(0, ROOT)

    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                # Spark 4 compresses event logs with zstd by default;
                # plain JSON lines need no codec to read back
                "spark.eventLog.compress": "false",
                # one plain file per application (Spark 4 rolls event
                # logs into a subdirectory by default); tracing.read_event_log
                # reads the files directly under the directory
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    # -- operations ----------------------------------------------------------
    def _mark(self, phase: str, p: int, name: str) -> None:
        self.spark.sparkContext.setLocalProperty(tracing.OP_PROP, f"{phase}:{p}:{name}")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED {self.workload} {what}", file=sys.stderr)

    def _op(self, op, phase: str, p: int) -> None:
        self._mark(phase, p, op.name)
        t0 = time.perf_counter()
        try:
            out = op.run()
        except Exception:  # a failing operation is counted, not fatal
            traceback.print_exc()
            out = workloads.Outcome(False, 0)
        dt = time.perf_counter() - t0
        self.check(out.ok, op.name)
        if phase == "timed":
            self.timed.append((op.name, dt, out.items))

    def _pass(self, wl, phase: str, p: int) -> float:
        t0 = time.perf_counter()
        for op in wl.pass_ops():
            self._op(op, phase, p)
        t1 = time.perf_counter()
        if phase == "timed":
            self.pass_windows.append((t0, t1))
        return t1 - t0

    # -- the run -------------------------------------------------------------
    def execute(self) -> dict:
        self._environment()
        from oblate_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(cores=cores, app_name="perfbench", extra_conf=self._conf())
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # through a Python worker on every core, so that worker start-up is
        # paid here in every run, not in the first pass of only those runs
        # whose prepare() did not generate inputs
        self.spark.range(0, cores, numPartitions=cores).mapInPandas(
            lambda batches: batches, "id long").collect()
        first_job_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = tracing.Tracer()
            tracing.install_layer_spans(self.tracer)

        wl = self._workload()
        self._mark("prepare", 0, "inputs")
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0

        self.warm_times = [self._pass(wl, "warm", p) for p in range(WARM_PASSES)]
        setup_s = start_s + first_job_s + sum(self.warm_times)

        if self.trace:
            gc0 = tracing.jvm_gc_seconds(self.spark)
            tracing.reset_heap_peak(self.spark)
        # at least MIN_PASSES whole passes, then more while the next one, at
        # the mean pass time so far, still ends within --seconds
        loop_t0 = time.perf_counter()
        jiffies = procs.cpu_jiffies()
        p = 0
        while True:
            self.pass_times.append(self._pass(wl, "timed", p))
            p += 1
            if p >= MIN_PASSES and (time.perf_counter() - loop_t0
                                    + statistics.fmean(self.pass_times) > self.seconds):
                break
        steal = procs.steal_fraction(jiffies, procs.cpu_jiffies())
        if self.trace:
            gc_s = (tracing.jvm_gc_seconds(self.spark) - gc0) / len(self.pass_times)
            heap_mb = tracing.heap_peak_mb(self.spark)
        # VmHWM since process start: the JVM pre-touches its whole heap
        # (-Xms = -Xmx = DRIVER_MEM, AlwaysPreTouch), so about 2 GB of this
        # is constant; only worker and off-heap memory move it. Heap use
        # itself is the traced run's jvm.heap_peak_mb.
        peak_rss = procs.peak_rss_mb(procs.descendants())

        lat = [dt for _, dt, _ in self.timed]
        items = sum(n for _, _, n in self.timed)
        self.result = {
            "setup_s": setup_s,
            "pass_s": statistics.median(self.pass_times),
            "op_tail_s": tail(lat),
            "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in lat)),
            "items_per_s": items / sum(lat),
            "peak_rss_mb": peak_rss,
        }
        self.layer = {
            "bench.timed_ops": len(lat),
            "inputs.prepare_s": prepare_s,
            "trace.pass_s": self.result["pass_s"],
            "session.start_s": start_s,
            "session.first_job_s": first_job_s,
            "host.cpu_steal": steal,
        }
        if self.trace:
            self.layer["executor.gc_s"] = gc_s  # JVM-wide, per timed pass
            self.layer["jvm.heap_peak_mb"] = heap_mb
            self._trace_extras(wl)
        return self.result

    def _workload(self):
        if self.workload == "images":
            return workloads.Images(self.spark, self.seed, self.inputs)
        return workloads.Registry(self.spark, self.seed)

    def op_medians(self) -> dict[str, float]:
        """Median timed latency of each operation."""
        by_op: dict[str, list[float]] = {}
        for name, dt, _ in self.timed:
            by_op.setdefault(name, []).append(dt)
        return {name: statistics.median(v) for name, v in by_op.items()}

    def _trace_extras(self, wl) -> None:
        """Untimed traced-run work: each operation's result plan into a
        ``noop`` sink (collect time is the operation's timed median minus
        that), its Catalyst phases, and the fixed layer probe."""
        op_s = self.op_medians()
        collect_minus_noop = plan_s = 0.0
        rows = 0
        for op in wl.pass_ops():
            self._mark("noop", 0, op.name)
            t0 = time.perf_counter()
            op.frame().write.format("noop").mode("overwrite").save()
            collect_minus_noop += op_s[op.name] - (time.perf_counter() - t0)
            self._mark("collect", 0, op.name)
            df = op.frame()
            rows += len(df.collect())
            plan_s += tracing.plan_seconds(df)
        self.spark.catalog.clearCache()  # the payload reports the image frames cached
        self.layer.update({
            "driver.collect_s": collect_minus_noop,
            "driver.result_rows": rows,
            "catalyst.plan_s": plan_s,
            "images.pass_kernel_s": pass_kernel_s(self, wl),
        })
        self.layer.update(layer_probe(self))
        self.layer["compiler.compile_s"] = statistics.median(
            self.tracer.total("compiler.validate", t0, t1) for t0, t1 in self.pass_windows)
        cand = self.tracer.captured.get("dedup.candidates")
        n_cand = confirmed = 0
        if cand is not None:
            self._mark("probe", 0, "candidates")
            n_cand, confirmed = confirm_candidates(self.spark, cand)
        self.layer.update({
            "dedup.candidate_pairs": n_cand,
            "dedup.confirmed_pairs": confirmed,
            "dedup.candidate_precision": confirmed / n_cand if n_cand else 0.0,
        })
        self.tracer.restore()

    def event_metrics(self) -> None:
        """Per-layer metrics from the event log (after the session stopped)."""
        jobs = tracing.read_event_log(self.event_dir)
        self.jobs = jobs
        passes = tracing.per_pass(jobs)

        def med(value):
            return tracing.median_per_pass(passes, lambda js: sum(value(j) for j in js))

        self.layer.update({
            "spark.jobs": med(lambda j: 1),
            "spark.stages": med(lambda j: j.stages),
            "spark.tasks": med(lambda j: j.tasks),
            "executor.run_s": med(lambda j: j.run_ms) / 1e3,
            "executor.cpu_s": med(lambda j: j.cpu_ns) / 1e9,
            "shuffle.write_bytes": med(lambda j: j.shuffle_write),
            "shuffle.read_bytes": med(lambda j: j.shuffle_read),
            "shuffle.spill_bytes": med(lambda j: j.spill),
            "python.exec_s": med(lambda j: j.py_ms) / 1e3,
            "python.bytes_sent": med(lambda j: j.py_sent),
            "python.bytes_returned": med(lambda j: j.py_back),
        })

        def probe_jobs(name):
            return [j for j in jobs if j.op == f"probe:0:{name}"]

        appended = probe_jobs("append")
        self.layer.update({
            "images.report_bytes": sum(j.py_back for j in probe_jobs("kernel")),
            "tableio.bytes_written_per_row": (
                sum(j.output_bytes for j in appended) / sum(j.output_records for j in appended)),
            "checkpoint.jobs_per_batch": len(probe_jobs("validate_new")),
        })

    def write_trace(self) -> None:
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json")
        doc = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "cores": len(os.sched_getaffinity(0)), "driver_mem": DRIVER_MEM,
            "end_to_end": getattr(self, "result", {}), "per_layer": self.layer,
            "op_median_s": self.op_medians(),
            "warm_pass_s": self.warm_times,
            "pass_s": self.pass_times,
        }
        if self.tracer is not None:
            doc["spans"] = [vars(s) for s in self.tracer.spans]
        if getattr(self, "jobs", None):
            doc["jobs"] = [vars(j) for j in self.jobs]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)

    def stop(self) -> int:
        """Stop Spark, then make sure every process the run started has
        exited. Returns how many had to be killed."""
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gateway = SparkContext._gateway
                if gateway is not None:
                    gateway.shutdown()
                    # the JVM exits when its stdin closes
                    gateway.proc.stdin.close()
                    try:
                        gateway.proc.wait(timeout=30)
                    except Exception:  # left to stop_all below
                        pass
                SparkContext._gateway = None
                SparkContext._jvm = None
                self.spark = None
        return procs.stop_all()


def pass_kernel_s(run: Run, wl) -> float:
    """Median of three runs of the file-driven payload kernel into a
    ``noop`` sink over the images workload's own table (its share of
    ``trace.pass_s`` is the kernel's share of a pass); 0 for a workload
    without an image table."""
    if not isinstance(wl, workloads.Images):
        return 0.0
    from oblate_spark.operators.images import image_payload_report_from_files

    times = []
    for _ in range(3):
        run._mark("noop", 0, "pass_kernel")
        t0 = time.perf_counter()
        image_payload_report_from_files(run.spark, wl.path).write.format("noop").mode(
            "overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def confirm_candidates(spark, cand) -> tuple[int, int]:
    """(LSH candidate pairs, pairs whose exact shingle Jaccard reaches
    the registry's threshold) for the last candidate set the run built."""
    import __spark_entry__ as entry
    from oblate_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(os.path.join(workloads.SF_DIR, "documents.parquet"))
    pairs = cand.select("id_a", "id_b").cache()
    try:
        confirmed = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                                        threshold=entry.JACCARD_THRESHOLD, pairs=pairs).count()
        return pairs.count(), confirmed
    finally:
        pairs.unpersist()


def layer_probe(run: Run) -> dict:
    """Fixed-size calls into the codec, image-kernel, stats, table and
    checkpoint layers, the same in every workload's traced run. Their
    violation counts are checked against the manifest like the
    workload's own operations."""
    from oblate_spark import fixtures
    from oblate_spark.checkpoint import incremental_validate_images
    from oblate_spark.functions import codecs
    from oblate_spark.operators import images, stats
    from oblate_spark.sources.tableio import SnapshotTable

    spark = run.spark
    base_rows, batch_rows = range(0, 800), range(800, 1000)
    run._mark("probe", 0, "inputs")
    base = workloads.generate_images(spark, base_rows, os.path.join(run.inputs, "probe_base"), 4)
    batch = workloads.generate_images(spark, batch_rows, os.path.join(run.inputs, "probe_batch"), 1)

    blobs = [bytes(fixtures.make_row(i, workloads.IMAGE_PX)["bytes"]) for i in range(100, 164)]
    decode_us, phash_us = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        pixels = [codecs.decode_image(b) for b in blobs]
        decode_us.append((time.perf_counter() - t0) / len(blobs) * 1e6)
        t0 = time.perf_counter()
        for px in pixels:
            codecs.phash64(px)
        phash_us.append((time.perf_counter() - t0) / len(blobs) * 1e6)

    def timed(name, fn):
        run._mark("probe", 0, name)
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def validate():
        v = images.validate_image_table(spark.read.parquet(base), source_path=base)
        try:
            return workloads.counts_by_code(v)
        finally:
            images.release_report(v)

    kernel_s, _ = timed("kernel", lambda: noop(images.image_payload_report_from_files(spark, base)))
    full_s, got = timed("validate", validate)
    run.check(got == workloads.expected_codes(base_rows), "probe validate_image_table")
    uniq_s, _ = timed("uniqueness", lambda: noop(stats.multi_key_uniqueness_violations(
        spark.read.parquet(base).select("image_id", "phash"), ["image_id", "phash"],
        row_id="image_id")))

    table = SnapshotTable(spark, os.path.join(run.work, "probe_table"))
    validator = incremental_validate_images(table, os.path.join(run.work, "probe_validation"))
    timed("snapshot_base", lambda: table.write(spark.read.parquet(base)))
    _, entry = timed("validate_base", validator.validate_new)
    run.check(workloads.counts_by_code(spark.read.parquet(entry["output"]))
              == workloads.expected_codes(base_rows), "probe validate_new (base)")
    append_s, _ = timed("append", lambda: table.append(spark.read.parquet(batch)))
    validate_new_s, entry = timed("validate_new", validator.validate_new)
    run.check(workloads.counts_by_code(spark.read.parquet(entry["output"]))
              == workloads.expected_codes(batch_rows, history=base_rows), "probe validate_new (batch)")
    return {
        "images.kernel_s": kernel_s,
        "images.post_kernel_s": full_s - kernel_s,
        "images.decode_us": statistics.median(decode_us),
        "images.phash_us": statistics.median(phash_us),
        "stats.uniqueness_s": uniq_s,
        "tableio.append_s": append_s,
        "checkpoint.validate_new_s": validate_new_s,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in ("oblate_spark", "__spark_entry__.py", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    procs.become_subreaper()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    finished = False
    try:
        run.execute()
        finished = True
    finally:
        killed = run.stop()
        if finished:
            if run.trace:
                run.event_metrics()
            run.write_trace()
        shutil.rmtree(run.work, ignore_errors=True)
    if killed:
        print(f"# killed {killed} process(es) left after the session stopped", file=sys.stderr)

    names = PER_LAYER if run.trace else END_TO_END
    values = run.layer if run.trace else run.result
    print(f"# workload={args.workload} seed={args.seed} timed_ops={len(run.timed)} "
          f"passes={len(run.pass_times)} prepare_s={run.layer['inputs.prepare_s']:.3f} "
          f"cpu_steal={run.layer['host.cpu_steal']:.3f} "
          f"cores={len(os.sched_getaffinity(0))} driver_mem={DRIVER_MEM}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
