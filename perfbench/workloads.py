"""The benchmark's workloads: inputs made from the seed, the operations
of one pass, and the correctness check of every operation.

Each workload is one client in a closed loop: :class:`Op` ``run`` is
called, and the next operation starts only after it returned.

* ``images``   -- ``validate_image_table(..., source_path=...)`` over a
  generated image+caption table; violation counts per error code are
  checked against the closed-form ``fixtures.defect_for_index`` manifest.
* ``registry`` -- registered ``__spark_entry__.queries()`` entries over
  the bundled sf0.001 tables; each result is hashed with the canonical
  form of ``tools/check_correctness.py`` and compared with the DuckDB
  oracle hashes in ``expected.json`` (``make_expected.py`` rebuilds them).

The seed picks the image index window (a multiple of 1000, so the
defect manifest stays closed-form) and the query order of a pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED_PATH = os.path.join(HERE, "expected.json")

#: registry queries of one pass: table constraints (compiled schema
#: plans, staged JSON kernels, a join, a quantile sketch) and
#: near-duplicate candidate generation (MinHash LSH)
REGISTRY_QUERIES = (
    "validate_lineitem",
    "validate_staged_lineitem",
    "referential_lineitem_orders",
    "tdigest_quantiles",
    "lsh_candidates_documents",
)

#: image edge range of the generated tables (realistic, not thumbnails)
IMAGE_PX = (64, 128)


@dataclass
class Outcome:
    ok: bool
    items: int  # work items completed: images validated, or one query


@dataclass
class Op:
    """One closed-loop operation. ``frame`` rebuilds the DataFrame that
    ``run`` collects, so a traced run can time the same plan into a
    ``noop`` sink."""

    name: str
    run: Callable[[], Outcome]
    frame: Callable[[], object]


def window_offset(seed: int) -> int:
    """First image index of the seed's window: a multiple of 1000, one of
    eight windows so that generated tables are reused across runs."""
    return (1 + seed % 8) * 10_000


# ---------------------------------------------------------------------------
# closed-form violation manifest
# ---------------------------------------------------------------------------

_ROW_CODES = {
    "caption_null": ("field.none_disallowed",),
    "bad_bytes": ("image.decode_failed",),
    "dims_mismatch": ("image.dims_mismatch",),
    "bad_fmt": ("literal.invalid_value", "image.fmt_mismatch"),
    "stale_phash": ("image.phash_mismatch",),
    "w_range": ("validate.range",),
    "caption_overlength": ("validate.length",),
}


def _keys(i: int) -> dict:
    """The two unique-key values of fixture row ``i``, as classes: rows
    share a class exactly when they share the stored value."""
    from oblate_spark import fixtures

    defect = fixtures.defect_for_index(i)
    image_id = i
    if defect == "dup_image_id":
        image_id = (i // 1000) * 1000 + 500 + (i % 1000 - 10)
    if defect == "hot_phash":
        phash = "hot"
    elif defect == "dup_phash":
        phash = ("pair", (i // 1000) * 1000 + 15 + 2 * ((i % 1000 - 15) // 2))
    else:
        phash = ("own", i)
    return {"image_id": image_id, "phash": phash}


def expected_codes(batch: range, history: range | None = None) -> dict:
    """Violation count per error code for validating the fixture rows
    ``batch``: row-level and payload codes from the manifest, then
    ``unique.duplicate`` for a key repeated inside the batch and
    ``unique.exists`` for a key already in ``history`` (the rows
    committed before the batch)."""
    from oblate_spark import fixtures

    counts: Counter = Counter()
    for i in batch:
        for code in _ROW_CODES.get(fixtures.defect_for_index(i), ()):
            counts[code] += 1
    for key in ("image_id", "phash"):
        in_batch = Counter(_keys(i)[key] for i in batch)
        old = {_keys(i)[key] for i in history} if history else set()
        for i in batch:
            k = _keys(i)[key]
            if in_batch[k] > 1:
                counts["unique.duplicate"] += 1
            if k in old:
                counts["unique.exists"] += 1
    return dict(counts)


def generate_images(spark, indices: range, path: str, files: int) -> str:
    """Write fixture rows ``indices`` as ``files`` parquet files; reused
    when a previous run already wrote them."""
    import pandas as pd

    from oblate_spark import fixtures

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([fixtures.make_row(int(i), IMAGE_PX) for i in pdf["id"]])

    shutil.rmtree(path, ignore_errors=True)
    (
        spark.range(indices.start, indices.stop, numPartitions=files)
        .mapInPandas(gen, fixtures.IMAGES_SCHEMA)
        .write.parquet(path)
    )
    return path


def _by_code(violations):
    from pyspark.sql import functions as F

    return violations.groupBy("error_code").agg(F.count(F.lit(1)).alias("cnt"))


def counts_by_code(violations) -> dict:
    return {r[0]: r[1] for r in _by_code(violations).collect()}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Images:
    """Full image-table validation, file-driven payload kernel."""

    #: large enough that the payload kernel is most of a pass (55-60% on
    #: a 4-core host: the traced run's images.pass_kernel_s against
    #: trace.pass_s); below a few thousand images per-task and per-job
    #: cost dominate instead
    n_images = 10000
    files = 8

    def __init__(self, spark, seed: int, inputs: str) -> None:
        self.spark = spark
        self.rows = range(window_offset(seed), window_offset(seed) + self.n_images)
        self.path = os.path.join(inputs, f"images_{self.rows.start}_{self.n_images}")

    def prepare(self) -> None:
        generate_images(self.spark, self.rows, self.path, self.files)
        self.expected = expected_codes(self.rows)

    def _violations(self):
        from oblate_spark.operators.images import validate_image_table

        df = self.spark.read.parquet(self.path)
        return validate_image_table(df, source_path=self.path)

    def _run(self) -> Outcome:
        from oblate_spark.operators.images import release_report

        violations = self._violations()
        try:
            got = counts_by_code(violations)
        finally:
            release_report(violations)
        return Outcome(got == self.expected, self.n_images)

    def pass_ops(self) -> list[Op]:
        return [Op("validate_images", self._run, lambda: _by_code(self._violations()))]


def canonical_hash(rows, columns) -> str:
    from tools.check_correctness import canonical

    return hashlib.md5(canonical(rows, columns).encode()).hexdigest()


class Registry:
    """Registered queries, each collected and hash-checked."""

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.order = list(REGISTRY_QUERIES)
        random.Random(seed).shuffle(self.order)

    def prepare(self) -> None:
        import __spark_entry__

        with open(EXPECTED_PATH) as f:
            self.expected = json.load(f)["queries"]
        registered = __spark_entry__.queries()
        self.fns = {q: registered[q] for q in self.order}

    def _run(self, name: str) -> Outcome:
        df = self.fns[name](self.spark, SF_DIR)
        rows = [tuple(r) for r in df.collect()]
        want = self.expected[name]
        ok = len(rows) == want["rows"] and canonical_hash(rows, df.columns) == want["md5"]
        return Outcome(ok, 1)

    def pass_ops(self) -> list[Op]:
        return [
            Op(q, lambda q=q: self._run(q), lambda q=q: self.fns[q](self.spark, SF_DIR))
            for q in self.order
        ]
