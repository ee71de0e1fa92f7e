"""Per-partition lineage, metrics, and checkpoint-resume (north rule).

okay has no notion of resumability (single doc, single process); at 10^12
documents a validation run must be idempotent and restartable. The unit of
progress is a *table partition*: after a partition's battery + summaries are
durably written, a lineage row (partition value, run_id, snapshot, status,
metrics) is appended. A re-run loads the lineage table, prunes partitions
already marked ``done`` for the same (input snapshot, schema fingerprint),
and validates only the remainder — partition pruning makes the skip free at
scan time.

Lineage table schema:
    part        : partition value (stringified)
    run_id      : caller-supplied run identifier
    run_seq     : monotonic run sequence stamped at write time (window order)
    snapshot    : input snapshot id / fingerprint ('' when unknown)
    schema_fp   : fingerprint of the compiled schema (rules change -> re-run)
    status      : 'done'
    n_docs, n_violations, n_failed_docs : bigint
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .engine import validate_dataframe
from .io import local_frame, read_table, table_exists, write_table
from .paths import ROW_KEY
from .schema import CompiledSchema, compile_cached

LINEAGE_DDL = (
    "part string, run_id string, run_seq bigint, snapshot string, "
    "schema_fp string, "
    "status string, n_docs bigint, n_violations bigint, n_failed_docs bigint, "
    "fp bigint"
)
# the per-partition summary row after the typed partition column (the
# columns and types checks.partition_summary produces, plus run_id)
_SUMMARY_DDL = (
    "n_docs bigint, n_violations bigint, n_failed_docs bigint, "
    "pass_rate double, run_id string"
)
# typed partition value riding the per-partition doc counts (``part`` is
# its string form, the lineage key)
_PART_VALUE = "part_value"

# order-independent content digests sum per-row 60-bit md5 values modulo
# this Mersenne prime (2^61-1): commutative, overflow-free in decimal(38,0)
# up to ~10^17 rows per partition, and exactly replayable by any engine
# with md5 + 128-bit integer arithmetic (the DuckDB twin uses HUGEINT)
_FP_MOD = (1 << 61) - 1


def _read_lineage(spark: SparkSession, lineage_target: str) -> DataFrame:
    """Read a lineage table tolerating the pre-``run_seq`` format: tables
    written before the column existed (and parquet dirs MIXING old and new
    part files, which a plain read would collapse to one footer's schema)
    are normalized to ``run_seq = -1`` — ordered before every stamped run,
    so ``next_run_seq`` resumes at 0 and trend windows keep a total order."""
    from .io import _is_table_ident, iceberg_available

    if _is_table_ident(lineage_target) and iceberg_available(spark):
        lin = read_table(spark, lineage_target)
    else:
        lin = spark.read.option("mergeSchema", "true").parquet(lineage_target)
    if "run_seq" not in lin.columns:
        lin = lin.withColumn("run_seq", F.lit(-1).cast("bigint"))
    else:
        lin = lin.withColumn(
            "run_seq", F.coalesce(F.col("run_seq"), F.lit(-1)).cast("bigint")
        )
    # pre-fingerprint lineage rows read as fp=null: "content unknown", which
    # change detection treats as changed (forces one re-validation, never a
    # false skip)
    if "fp" not in lin.columns:
        lin = lin.withColumn("fp", F.lit(None).cast("bigint"))
    return lin


def next_run_seq(spark: SparkSession, lineage_target: str) -> int:
    """Monotonic run sequence: 1 + max(run_seq) already in the lineage table.
    run_id is caller-supplied and only unique, not ordered ('run-10' sorts
    before 'run-2' lexicographically) — trend analysis must order on this."""
    if not table_exists(spark, lineage_target):
        return 0
    row = _read_lineage(spark, lineage_target).agg(F.max("run_seq").alias("m")).first()
    return 0 if row is None or row["m"] is None else int(row["m"]) + 1


def schema_fingerprint(compiled: CompiledSchema) -> str:
    """Stable digest of the rule table (custom callables by qualname)."""
    payload = []
    for path, spec in compiled.fields.items():
        for rule in spec.rules:
            params = {
                k: (getattr(v, "__qualname__", str(v)) if callable(v) else v)
                for k, v in rule.params.items()
                if k != "kwargs"
            }
            payload.append((path, spec.strictness, rule.type, rule.nullable, rule.implicit, sorted(params.items())))
    blob = json.dumps(payload, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def completed_partitions(
    spark: SparkSession, lineage_target: str, snapshot: str, schema_fp: str
) -> set[str]:
    if not table_exists(spark, lineage_target):
        return set()
    lin = _read_lineage(spark, lineage_target)
    rows = (
        lin.filter(
            (F.col("status") == "done")
            & (F.col("snapshot") == snapshot)
            & (F.col("schema_fp") == schema_fp)
        )
        .select("part")
        .distinct()
        .collect()
    )
    return {r["part"] for r in rows}


def partition_fingerprints(
    df: DataFrame, partition_col: str, content=None
) -> DataFrame:
    """(part, n_docs, fp) — an order-independent content digest per
    partition: sum of per-row 60-bit md5 values modulo 2^61-1. Any engine
    with md5 replays it exactly (the driver's DuckDB twin does), any row
    change, insert, or delete flips it with overwhelming probability, and
    the aggregation partial-combines map-side (O(1) reducer state, no skew).

    This is the changed-partition detector for sources WITHOUT snapshot
    metadata (plain parquet dirs): an Iceberg table prunes re-validation by
    snapshot id for free; a parquet lake must read content once — one
    column-pruned md5 scan — to learn which partitions changed. That scan is
    far cheaper than re-running the full battery + violations write over
    unchanged partitions, which is exactly what it saves.

    ``content`` defaults to ``to_json(struct(<all non-partition columns, in
    schema order>))``; pass an explicit Column to pin the byte recipe when
    cross-engine replay matters (JSON formatting is engine-specific; the
    driver twin uses a ``concat_ws`` recipe both engines share).
    """
    return df.groupBy(F.col(partition_col).cast("string").alias("part")).agg(
        *_fingerprint_aggs(df, partition_col, content)
    )


def _fingerprint_aggs(df: DataFrame, partition_col: str, content) -> list:
    if content is None:
        content = F.to_json(
            F.struct(*[F.col(c) for c in df.columns if c != partition_col])
        )
    row_h = F.conv(F.substring(F.md5(content), 1, 15), 16, 10).cast("decimal(38,0)")
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.pmod(F.sum(row_h), F.lit(_FP_MOD)).cast("bigint").alias("fp"),
    ]


def _by_partition(df: DataFrame, partition_col: str, *aggs) -> DataFrame:
    """``(part, part_value, *aggs)``: grouped on the typed partition value,
    keyed by its string form."""
    return (
        df.groupBy(F.col(partition_col).alias(_PART_VALUE))
        .agg(*aggs)
        .select(F.col(_PART_VALUE).cast("string").alias("part"), "*")
    )


def unchanged_partitions(
    spark: SparkSession,
    lineage_target: str,
    schema_fp: str,
    current_fps: dict[str, int],
) -> set[str]:
    """Partitions whose latest 'done' lineage fingerprint (same compiled
    schema) equals the current content fingerprint — safe to skip even
    across snapshots/runs. A lineage row with fp=null (pre-fingerprint
    format, or a run that didn't fingerprint) never matches: unknown
    content is treated as changed, so the failure mode is one redundant
    re-validation, never a false skip."""
    if not table_exists(spark, lineage_target):
        return set()
    lin = _read_lineage(spark, lineage_target).filter(
        (F.col("status") == "done") & (F.col("schema_fp") == schema_fp)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("part").orderBy(F.col("run_seq").desc())
    latest = (
        lin.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("part", "fp")
        .collect()
    )
    return {
        r["part"]
        for r in latest
        if r["fp"] is not None and current_fps.get(r["part"]) == r["fp"]
    }


def partition_doc_counts(df: DataFrame, partition_col: str) -> DataFrame:
    """Per-partition row counts ``(part, part_value, n)``: ``part`` is the
    stringified partition value (the lineage key), ``part_value`` the typed
    one (the summaries' key). Reads ONLY the partition column (Catalyst
    prunes the scan to ``struct<partition_col>``; on a hive/Iceberg-
    partitioned source it is pure partition metadata). The cheap half of the
    resumable run's scan budget — asserted by tests/test_pipeline_ops.py."""
    return _by_partition(df, partition_col, F.count(F.lit(1)).alias("n"))


def _write_summaries(
    battery: DataFrame, doc_counts: dict, part_field, run_id: str, target: str
) -> None:
    """``{target}`` and ``{target}_by_rule`` from the run's battery output:
    the rows checks.partition_summary / checks.rule_summary give for the
    validated partitions, plus run_id, without validating again.

    A failed doc is a distinct ROW_KEY, not a distinct doc_id: duplicated
    doc_ids whose copies both fail are two failed docs, as in
    partition_summary."""
    part = part_field.name
    per_part = {
        r["part"]: (r["n_violations"], r["n_failed_docs"])
        for r in battery.groupBy(F.col(part).cast("string").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.count_distinct(ROW_KEY).alias("n_failed_docs"),
        )
        .collect()
    }
    rows = []
    for key, (value, n_docs) in doc_counts.items():
        n_viol, n_failed = per_part.get(key, (0, 0))
        rows.append((value, n_docs, n_viol, n_failed, (n_docs - n_failed) / n_docs, run_id))
    schema = StructType([part_field, *StructType.fromDDL(_SUMMARY_DDL).fields])
    spark = battery.sparkSession
    write_table(local_frame(spark, rows, schema), target, mode="append")
    by_rule = (
        battery.groupBy(part, "rule", "path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("run_id", F.lit(run_id))
    )
    write_table(by_rule, f"{target}_by_rule", mode="append")


def run_resumable_validation(
    df: DataFrame,
    schema,
    *,
    partition_col: str,
    violations_target: str,
    lineage_target: str,
    run_id: str,
    snapshot: str = "",
    fingerprint_content=None,
    summaries_target: str | None = None,
) -> dict:
    """Validate only partitions not yet marked done; append violations,
    summaries (when ``summaries_target`` is given) and lineage. Returns run
    metrics.

    Partition-granular idempotency: a crashed run re-appends nothing for
    partitions whose lineage row landed; interrupted partitions are re-run
    wholesale (violation sinks should be de-duplicated downstream by
    (run_id, part) if exactly-once matters).

    ``fingerprint_content`` (a Column, or ``True`` for the default
    ``to_json(struct(*))`` recipe) switches resume from snapshot-identity to
    CONTENT-identity: each run records an order-independent per-partition
    content digest in its lineage rows, and later runs skip partitions whose
    digest is unchanged — even across snapshots or with no snapshot id at
    all — while a partition that was marked done but whose bytes changed is
    re-validated instead of silently trusted. This is the incremental mode
    for plain-parquet lakes; Iceberg sources get the same effect cheaper by
    passing the snapshot id.

    ``summaries_target`` appends ``{summaries_target}`` (the rows of
    :func:`okay_spark.checks.partition_summary`) and
    ``{summaries_target}_by_rule`` (those of
    :func:`okay_spark.checks.rule_summary`), each plus ``run_id``, for the
    partitions this run validates — derived from the same battery output
    as the violations sink, before the lineage rows mark them done.

    Scan budget (tests/test_pipeline_ops.py asserts it): ONE full-data scan
    per run — the violations write. The per-partition doc counts read only
    the partition column (or ride the fingerprint aggregate when
    fingerprinting, which reads content columns once by design), and the
    lineage metrics aggregate the violations already written to the sink
    instead of re-validating the source.
    """
    spark = df.sparkSession
    compiled = compile_cached(schema)
    fp = schema_fingerprint(compiled)

    done = completed_partitions(spark, lineage_target, snapshot, fp)
    current_fps: dict[str, int] = {}
    if fingerprint_content is not None:
        content = None if fingerprint_content is True else fingerprint_content
        fp_rows = _by_partition(
            df, partition_col, *_fingerprint_aggs(df, partition_col, content)
        ).collect()
        current_fps = {r["part"]: r["fp"] for r in fp_rows}
        # content-identity REPLACES snapshot-identity: unchanged partitions
        # skip (even across snapshots); a stale 'done' whose bytes changed
        # falls out of the set and re-validates
        done = unchanged_partitions(spark, lineage_target, fp, current_fps)
    if done:
        key = F.col(partition_col).cast("string")
        skip = key.isin(*[p for p in done if p is not None])
        if None in done:
            skip = skip | key.isNull()
        df = df.filter(~F.coalesce(skip, F.lit(False)))

    # ONE full-data scan per run (round 1 scanned twice: once for the
    # partition summary, once for the violations write). Order of work:
    #
    # 1. per-partition doc counts — a scan that reads ONLY the partition
    #    column (column-pruned; on a hive/Iceberg-partitioned source this is
    #    metadata-weight) and doubles as the cheap emptiness check;
    # 2. the battery + violations write — the single full scan, with the
    #    partition value stamped on every violation row (per-partition
    #    violation rows are themselves a north-rule deliverable). The
    #    battery output is persisted with a per-row key, so both summaries
    #    roll up from it instead of validating again;
    # 3. the lineage metrics derive from the WRITTEN violations (sparse,
    #    already durable) joined driver-side with the doc counts — the source
    #    table is not scanned again. Lineage goes last: a crash before it
    #    leaves the partitions to be re-run, never marked done unsummarized.
    if current_fps:
        # the fingerprint aggregate already counted every partition — no
        # second scan
        counts = [(r["part"], r[_PART_VALUE], r["n_docs"]) for r in fp_rows]
    else:
        counts = [
            (r["part"], r[_PART_VALUE], r["n"])
            for r in partition_doc_counts(df, partition_col).collect()
        ]
    # part -> (typed partition value, n_docs)
    doc_counts = {p: (v, n) for p, v, n in counts if p not in done}
    if not doc_counts:
        return {"run_id": run_id, "partitions": 0, "skipped": len(done), "n_docs": 0}

    id_cols = [c for c in df.columns if c == "doc_id"]
    battery = validate_dataframe(
        df.withColumn(ROW_KEY, F.monotonically_increasing_id()),
        compiled,
        id_cols=[partition_col, *id_cols, ROW_KEY],
    ).persist()
    try:
        write_table(
            battery.drop(ROW_KEY).withColumn("run_id", F.lit(run_id)),
            violations_target,
            mode="append",
        )
        if summaries_target is not None:
            _write_summaries(
                battery, doc_counts, df.schema[partition_col], run_id, summaries_target
            )
    finally:
        battery.unpersist()

    written = read_table(spark, violations_target).filter(F.col("run_id") == run_id)
    vaggs = [F.count(F.lit(1)).alias("n_violations")]
    if id_cols:
        # distinct failing doc ids (a doc duplicated in the input counts once)
        vaggs.append(F.count_distinct(*[F.col(c) for c in id_cols]).alias("n_failed_docs"))
    else:
        vaggs.append(F.lit(None).cast("bigint").alias("n_failed_docs"))
    viol_counts = {
        r["part"]: (r["n_violations"], r["n_failed_docs"])
        for r in written.groupBy(
            F.col(partition_col).cast("string").alias("part")
        ).agg(*vaggs).collect()
    }

    run_seq = next_run_seq(spark, lineage_target)
    lineage_rows = [
        (
            part,
            run_id,
            run_seq,
            snapshot,
            fp,
            "done",
            n_docs,
            viol_counts.get(part, (0, 0))[0],
            viol_counts.get(part, (0, 0))[1],
            current_fps.get(part),
        )
        for part, (_, n_docs) in doc_counts.items()
    ]
    write_table(local_frame(spark, lineage_rows, LINEAGE_DDL), lineage_target, mode="append")
    return {
        "run_id": run_id,
        "partitions": len(lineage_rows),
        "skipped": len(done),
        "n_docs": sum(n for _, n in doc_counts.values()),
        "n_violations": sum(v[0] for v in viol_counts.values()),
    }


def violation_trend(
    spark: SparkSession,
    output: str,
    *,
    max_increase_frac: float = 0.5,
) -> DataFrame:
    """Run-over-run anomaly check on the job's metrics sink: flag runs whose
    violation RATE (violations / docs, from the lineage rows each run
    appends) jumped by more than ``max_increase_frac`` relative to the
    previous run — the quality-regression alarm a nightly 10^12-doc
    validation pipeline pages on.

    Reads only the lineage table (one row per partition per run, already
    tiny relative to the data) and aggregates to one row per run before the
    window step, so the ordered window runs over run-count rows, not data.
    Returns ``(run_id, n_docs, n_violations, rate, prev_rate, increase_frac,
    regressed)`` ordered by first appearance."""
    lineage = _read_lineage(spark, f"{output}/lineage")
    per_run = lineage.groupBy("run_id").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_violations").alias("n_violations"),
        # run_seq is the write-time monotonic sequence; run_id is unique but
        # NOT ordered ('run-10' < 'run-2' lexicographically)
        F.min("run_seq").alias("run_seq"),
    )
    from pyspark.sql import Window

    rate = F.when(
        F.col("n_docs") > 0, F.col("n_violations") / F.col("n_docs")
    ).otherwise(F.lit(0.0))
    w = Window.orderBy("run_seq")
    out = (
        per_run.withColumn("rate", F.round(rate, 9))
        .withColumn("prev_rate", F.lag("rate").over(w))
        .withColumn(
            "increase_frac",
            F.when(
                F.col("prev_rate").isNotNull() & (F.col("prev_rate") > 0),
                F.round((F.col("rate") - F.col("prev_rate")) / F.col("prev_rate"), 9),
            ),
        )
        .withColumn(
            "regressed",
            F.coalesce(F.col("increase_frac") > max_increase_frac, F.lit(False)),
        )
        .select(
            "run_id", "n_docs", "n_violations", "rate", "prev_rate",
            "increase_frac", "regressed",
        )
    )
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two table snapshots by key — the change-data view a
    nightly re-validation pipeline triages before deciding what to re-run
    (the partition-level counterpart is :func:`unchanged_partitions`; this
    answers WHICH rows moved, not just which partitions).

    Output: one row per key present in either snapshot whose content
    changed — ``(key..., old_fp, new_fp, change)`` with change in
    ``added`` (key only in new), ``removed`` (only in old), ``changed``
    (both, fingerprints differ). Unchanged keys produce NO row, so at
    corpus scale the output is proportional to the churn, not the table.

    Content fingerprint: md5 over the ``compare_cols`` (default: every
    non-key column of ``old``; both snapshots must carry them) rendered as
    ``coalesce(cast(c as string), chr(0))`` joined by chr(31) — the unit
    separator keeps ``('ab','c')`` distinct from ``('a','bc')`` and the
    NUL marker keeps NULL distinct from ``''``. String/integer casts are
    engine-portable (the DuckDB twin replays the digest bit-for-bit);
    float/decimal columns should be pre-cast by the caller (engines
    disagree on double-to-string shortest form — same caveat as the
    lineage fingerprints above).

    Scale shape: each side reduces to (key, 16-byte fp) in the scan, then
    ONE full-outer equi-join on the key — two designed shuffles, AQE
    handles size/skew, no row content ever shuffles. Keys are assumed
    unique per snapshot (that is :func:`okay_spark.checks
    .duplicate_keys`'s job); duplicate keys produce join fan-out rather
    than an error.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = (
        list(compare_cols)
        if compare_cols is not None
        else [c for c in old.columns if c not in keys]
    )
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]

    def fingerprint(df: DataFrame, out: str) -> DataFrame:
        return df.select(*[F.col(k) for k in keys], F.md5(F.concat_ws("\x1f", *parts)).alias(out))

    o = fingerprint(old, "old_fp")
    n = fingerprint(new, "new_fp")
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return joined.select(
        *keys, "old_fp", "new_fp", change.alias("change")
    ).filter(F.col("change").isNotNull())
