"""Validated mutation: the distributed form of ``Schema.update``.

Reference semantics (oblate/schema.py:385-436): updates are validated
eagerly; frozen schemas/fields reject mutation (FrozenError,
oblate/exceptions.py:75-91); ANY validation error rolls back the entire
update atomically (:417,433-436).

Distributed translation: validate the change-set in isolation; if any
violation exists, DO NOT commit (the snapshot table's write-audit-publish
makes "don't publish" the rollback); otherwise MERGE the changes into a
new snapshot (upsert by key). ``LoadContext.is_update()`` parity: the
plan runs with ``mode_flag='update'`` so custom validators can branch.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from .engine import ValidationResult, validate
from .session import local_frame
from .sources.tableio import SnapshotTable

__all__ = ["FrozenError", "UpdateRejected", "update", "merge_upsert", "set_field"]


class FrozenError(RuntimeError):
    """Mutation of a frozen field or schema (reference oblate/exceptions.py:75-91)."""


class UpdateRejected(RuntimeError):
    """The change-set had validation errors; nothing was committed."""

    def __init__(self, result: ValidationResult, n_violations: int) -> None:
        self.result = result
        self.n_violations = n_violations
        super().__init__(
            f"update rejected: {n_violations} violation(s); no snapshot committed"
        )


def merge_upsert(current: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """MERGE semantics as a plan.

    Full-row change-set: rows of ``current`` whose key is absent from
    ``changes`` plus all ``changes`` rows (update-or-insert). Partial
    change-set (a column subset): existing rows get the provided columns
    replaced, other columns kept; keys absent from ``current`` cannot be
    inserted from a partial row — they raise ``KeyError`` (an eager,
    key-column-pruned existence check; silently dropping validated
    change rows would be data loss).

    Either way the change-set side is broadcast in the merge — the big
    table is never shuffled for the merge itself.

    The change-set must have UNIQUE keys (the reference's ``update``
    takes a dict, unique by construction — oblate/schema.py:385-436): a
    duplicate key would silently insert duplicate rows (full-row path)
    or fan out every matching current row (partial path, join
    multiplication) — both are corruption, so it raises ``ValueError``
    eagerly. The check aggregates only the key column of the
    broadcast-sized change-set."""
    dup = (
        changes.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            f"change-set has duplicate {key} values "
            f"(e.g. {[r[0] for r in dup]}); an upsert needs one row per key"
        )
    if set(changes.columns) == set(current.columns):
        changes = changes.select(*current.columns)
        keys = changes.select(key).distinct()
        untouched = current.join(F.broadcast(keys), on=key, how="left_anti")
        return untouched.unionByName(changes)

    missing = (
        changes.select(key).distinct().join(current.select(key), on=key, how="left_anti")
    )
    sample = [r[0] for r in missing.limit(10).collect()]
    if sample:
        raise KeyError(
            f"partial change-set references {key} values absent from the "
            f"current table (cannot insert from a column subset): {sample}"
        )

    update_cols = [c for c in changes.columns if c != key]
    renamed = changes.select(
        F.col(key),
        F.lit(True).alias("__updated"),
        *[F.col(c).alias(f"__u_{c}") for c in update_cols],
    )
    joined = current.join(F.broadcast(renamed), on=key, how="left")
    out_cols = [F.col(key)]
    for c in current.columns:
        if c == key:
            continue
        if c in update_cols:
            out_cols.append(
                F.when(F.col("__updated"), F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def update(
    table: SnapshotTable,
    changes: DataFrame,
    schema_cls: Any,
    *,
    key: str,
    mode: str = "typed",
    updated_columns: Optional[Sequence[str]] = None,
) -> int:
    """Validated, atomic upsert into a snapshot table.

    1. frozen checks (schema- and field-level) — compile time
    2. validate the change-set with the schema plan
    3. zero violations -> MERGE into a new snapshot (returns its id)
       any violations -> raise UpdateRejected; table is untouched
    """
    cfg = schema_cls.__config__
    if cfg.frozen:
        raise FrozenError(f"{schema_cls.__name__} schema is frozen and cannot be updated")

    touched = set(updated_columns if updated_columns is not None else changes.columns) - {key}
    for f in schema_cls.__fields__.values():
        if f.frozen and f.load_key in touched:
            raise FrozenError(f"field {f.load_key!r} is frozen and cannot be updated")

    result = validate(changes, schema_cls, mode=mode, row_id=key, is_update=True)
    n_bad = result.violations.limit(1).count()
    if n_bad:
        n = result.violations.count()
        # pluggable rejection class (reference config.validation_error_cls
        # parity, oblate/configs.py:113-125): must subclass UpdateRejected
        from .schema import config as _config

        cls = _config.update_rejected_cls or UpdateRejected
        if not (isinstance(cls, type) and issubclass(cls, UpdateRejected)):
            raise TypeError("config.update_rejected_cls must subclass UpdateRejected")
        raise cls(result, n)

    current = table.read()
    merged = merge_upsert(current, changes, key)
    return table.write(merged, operation="merge", properties={"key": key})


def set_field(
    table: SnapshotTable,
    schema_cls: Any,
    *,
    key: str,
    field: str,
    assignments: dict,
    mode: str = "typed",
) -> int:
    """Single-field eager set — the distributed form of the reference's
    ``Field.__set__`` (oblate/fields/base.py:182-196): validators for
    ``field`` run immediately on the new values; any violation raises
    (config.update_rejected_cls) and nothing is committed; frozen field/
    schema checks apply. ``assignments`` maps key value -> new value.

    Compiles to a two-column change-set through the same validated
    atomic MERGE as ``update`` (one broadcast join against the big
    table, commit-or-nothing snapshot)."""
    if not assignments:
        raise ValueError("assignments must not be empty")
    cur = table.read()
    names = cur.columns
    if key not in names or field not in names:
        raise RuntimeError(f"Invalid field name {field if key in names else key!r}")
    changes = local_frame(
        table.spark,
        assignments.items(),
        StructType([StructField(c, cur.schema[c].dataType) for c in (key, field)]),
    )
    return update(table, changes, schema_cls, key=key, mode=mode, updated_columns=[field])
