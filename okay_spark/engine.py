"""The battery's public API: compiled schema × DataFrame -> violations.

This is the distributed analogue of the reference's dataflow
(``/root/reference/src/okay/validator.py:7-11``): compile -> index ->
rule-scan -> missing/extra reconciliation. :mod:`okay_spark.plan_exploded`
lowers that dataflow to Spark Columns once; this module hands its two
assemblies to callers:

- :func:`validate_dataframe` — one violation per output row, through the
  explode assembly (``posexplode_outer`` over the primary array chain keeps
  element checks inside whole-stage codegen);
- :func:`violations_array` — one ``array<violation>`` per input row, for
  consumers that must stay shuffle-free per row (:func:`quarantine`,
  :func:`okay_spark.checks.partition_summary`, ``rule_summary``, streaming).

No Python runs per row except for ``custom`` rules (and regex rules in
Python-only dialect), evaluated Arrow-batched in :mod:`okay_spark.compat`;
both entry points merge them.

``plan_exploded.exploded_violations`` and ``compat.custom_violation_arrays``
are looked up through their modules at call time, so a wrapper installed on
those module attributes (the benchmark's per-layer tracer) sees every call.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import compat, plan_exploded
from .rules import empty_violations
from .schema import CompiledSchema, compile_cached


def violations_array(df_schema: StructType, compiled: CompiledSchema) -> Column:
    """The full battery as ONE ``array<violation>`` Column per row, custom
    and Arrow-routed rules included. Violation semantics are those of
    :func:`validate_dataframe`: exploding this array yields the same
    multiset of violations."""
    viol = plan_exploded.row_violations(df_schema, compiled)
    if compat.has_arrow_routed(compiled):
        for arr in compat.custom_violation_arrays(df_schema, compiled):
            viol = F.concat(viol, arr)
    return viol


def validate_dataframe(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
    message_values: dict | None = None,
    include_seq: bool = False,
) -> DataFrame:
    """Validate every row of ``df`` against an okay schema.

    ``schema`` is an okay-style schema callable or a pre-compiled
    :class:`CompiledSchema`. Returns a violations DataFrame with columns
    ``(*id_cols, path, rule, expected[, seq])`` — the engine's message model
    (``rule`` = okay message type, ``path`` = instance path with indices,
    ``expected`` = canonical-JSON rule params). ``message_values`` are stamped
    onto every violation as literal columns (``validator.py:12-15``).

    Rows with no violations produce no output rows (use
    :func:`okay_spark.checks.partition_summary` for pass/fail rollups). The
    validation job does not re-validate for its summaries: it rolls them up
    from this function's output (see :mod:`okay_spark.state`).

    The root column ``__ok_row`` (``paths.ROW_KEY``) is reserved for the
    job's per-row key: it is never reported as an extra field.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)
    ids = [plan_exploded._q(c).alias(c) for c in id_cols]

    exploded = plan_exploded.exploded_violations(df, compiled).select(*ids, F.col("_v"))
    if compat.has_arrow_routed(compiled):
        custom = empty_violations()
        for arr in compat.custom_violation_arrays(df.schema, compiled):
            custom = F.concat(custom, arr)
        exploded = exploded.unionByName(df.select(*ids, F.explode(custom).alias("_v")))
    out_cols = [F.col(c) for c in id_cols] + [
        F.col("_v.path").alias("path"),
        F.col("_v.rule").alias("rule"),
        F.col("_v.expected").alias("expected"),
    ]
    if include_seq:
        out_cols.append(F.col("_v.seq").alias("seq"))
    out = exploded.select(*out_cols)
    if message_values:
        for k, v in message_values.items():
            out = out.withColumn(k, F.lit(v))
    return out


def quarantine(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Sink-side split of a table into (clean, quarantined) by the rule
    battery — the pipeline counterpart of :func:`validate_dataframe`, which
    reports violations but keeps the table whole. The reference stops at
    returning a message list per document (validator.py:30-47); routing
    documents on the outcome is left to the caller there, and at cluster
    scale it must be part of the plan to avoid a second validation pass.

    Returns two DataFrames computed from the SAME shuffle-free violations
    projection:

    - ``clean``: the input rows (original columns) with zero violations;
    - ``quarantined``: ``(*id_cols, n_violations, reasons)`` where
      ``reasons`` is the document's distinct ``path:rule`` strings,
      lexicographically sorted and ';'-joined — a canonical, engine-portable
      digest of WHY the row was quarantined (stable under any partitioning,
      so an exact SQL oracle can replay it).

    Scale shape: the battery is a projection (:func:`violations_array`), so
    each branch is scan -> filter with zero exchanges, and with zero Python
    unless the schema has ``custom`` (or Python-dialect regex) rules, whose
    Arrow-batched evaluation then runs in each branch. Writing both outputs costs
    two scans of the source; to pay one scan instead, write
    ``df.withColumn('_status', ...)`` with ``partitionBy('_status')`` — the
    two-frame form exists because most callers keep only ``clean`` and
    route ``quarantined`` to a side sink.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)
    va = violations_array(df.schema, compiled)
    clean = df.filter(F.size(va) == 0)
    # project the array once, then filter on it: filtering on an expression
    # of ``va`` would let the optimizer evaluate the battery twice per row
    _va = F.col("_va")
    quarantined = (
        df.select(*[F.col(c) for c in id_cols], va.alias("_va"))
        .filter(F.size(_va) > 0)
        .select(
            *[F.col(c) for c in id_cols],
            F.size(_va).cast("bigint").alias("n_violations"),
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.transform(_va, lambda v: F.concat(v["path"], F.lit(":"), v["rule"]))
                    )
                ),
                ";",
            ).alias("reasons"),
        )
    )
    return clean, quarantined
