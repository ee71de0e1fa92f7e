"""Incremental validation via Structured Streaming.

The reference is strictly batch-of-one (its design log explicitly deferred
parallel/streaming execution, ``/root/reference/docs/development-log.md:410-418``)
and the north rule is batch-over-Iceberg, so streaming here is an engine
extension, not a conformance surface: the battery's one lowering
(:mod:`okay_spark.plan_exploded`) is applied to a streaming DataFrame — it is
a stateless projection/generate, so it is trivially streamable with
exactly-once file sinks and checkpointing.

``validate_stream`` wires: readStream (file source) ->
:func:`okay_spark.engine.validate_dataframe` -> violations sink;
``run_incremental`` uses ``Trigger.AvailableNow`` so a cron re-run processes
only files that arrived since the last checkpoint — the streaming analogue of
the lineage-based batch resume in :mod:`okay_spark.state`.
``running_violation_totals`` keeps per-key running totals over the per-row
:func:`okay_spark.engine.violations_array` in a streaming aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import validate_dataframe, violations_array
from .schema import compile_cached


def validate_stream(stream_df: DataFrame, schema, *, id_cols=None) -> DataFrame:
    """Violations stream from a streaming DataFrame: identical semantics to
    the batch battery (same expression tree), stateless, no shuffle."""
    compiled = compile_cached(schema)
    return validate_dataframe(stream_df, compiled, id_cols=id_cols)


def run_incremental(
    spark: SparkSession,
    *,
    source_dir: str,
    source_ddl: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
    id_cols=None,
) -> None:
    """Process all files not yet seen by the checkpoint, then stop
    (Trigger.AvailableNow): an idempotent, resumable incremental run."""
    stream = spark.readStream.schema(source_ddl).parquet(source_dir)
    violations = validate_stream(stream, schema, id_cols=id_cols)
    (
        violations.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_drift_psi(
    stream_df: DataFrame,
    reference: DataFrame,
    col: str,
    *,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Streaming PSI drift monitor against a static reference snapshot —
    the alarm a 10^12-doc ingest pipeline keeps running BETWEEN full
    validation runs (batch twin: :func:`okay_spark.checks.drift_metrics`,
    bit-identical math: reference-extent bin edges, epsilon clamps,
    round-6 output).

    Scale shape: the reference histogram is aggregated ONCE and folded into
    the streaming plan as ``bins`` literal fractions (tiny, no stream-static
    join); the stream maintains ONE global stateful aggregate with O(bins)
    state — ``count_if`` per bucket partial-combines map-side, so each
    micro-batch ships ``bins+1`` longs per map task, never rows. PSI folds
    over the bin columns in the same projection, so every trigger emits one
    ``(n_docs, psi)`` row in complete mode. Entirely JVM-side: no Python,
    no per-row state, no watermark needed (the aggregate is a running
    total over the whole stream)."""
    if lo is None or hi is None:
        ext = reference.agg(
            F.min(F.col(col).cast("double")).alias("lo"),
            F.max(F.col(col).cast("double")).alias("hi"),
        ).first()
        lo = lo if lo is not None else ext["lo"]
        hi = hi if hi is not None else ext["hi"]
    from .checks import numeric_histogram

    ref_counts = {
        r["bucket"]: r["cnt"] for r in numeric_histogram(reference, col, lo, hi, bins).collect()
    }
    n_ref = sum(ref_counts.values())
    q = [max((ref_counts.get(b, 0) / n_ref) if n_ref else 0.0, epsilon) for b in range(bins)]

    width = (hi - lo) / bins if hi > lo else 1.0
    c = F.col(col).cast("double")
    bucket = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(width)), F.lit(0)), F.lit(bins - 1)
    ).cast("int")
    hist = (
        stream_df.filter(c.isNotNull() & ~F.isnan(c))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.count_if(bucket == b).alias(f"_b{b}") for b in range(bins)],
        )
    )
    n = F.col("n_docs")
    psi = None
    for b in range(bins):
        # sequential fold (term0 + term1 + ...) so the addition order matches
        # the batch twin's Python loop and the oracle's ORDER BY b sum
        pe = F.greatest(F.col(f"_b{b}") / n, F.lit(epsilon))
        term = (pe - F.lit(q[b])) * F.log(pe / F.lit(q[b]))
        psi = term if psi is None else (psi + term)
    return hist.select(
        n.alias("n_docs"),
        F.when(n > 0, F.round(psi, 6)).alias("psi"),
    )


def running_violation_totals(
    stream_df: DataFrame,
    schema,
    *,
    key_col: str,
) -> DataFrame:
    """Cumulative per-key document/violation totals across micro-batches:
    ``(key, n_docs, n_violations, n_failed_docs)``, one JVM streaming
    aggregate over the per-row battery. Run it in ``update`` output mode to
    get each trigger's changed keys.

    State per key is three counters (O(keys), not O(rows)), kept by Spark's
    state store; no Python runs unless the schema has Arrow-routed rules.
    Checkpoints written by the earlier ``applyInPandasWithState`` form of
    this operator hold a different state layout and cannot be resumed.
    """
    compiled = compile_cached(schema)
    n_viol = F.size(violations_array(stream_df.schema, compiled))
    nv = F.col("_nv")
    return (
        stream_df.select(F.col(key_col).alias("key"), n_viol.alias("_nv"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(nv).cast("bigint").alias("n_violations"),
            F.count_if(nv > 0).alias("n_failed_docs"),
        )
    )


def stream_cross_dedup(
    stream_docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1_000,
    watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming form of :func:`okay_spark.dedup.minhash_cross_duplicates`:
    near-duplicates of INCOMING docs against an accumulated STATIC reference
    corpus — dedup a live crawl against the already-kept corpus without
    re-scanning it per batch.

    Scale shape: the reference's shingles and (capped) band buckets are
    computed once and ``localCheckpoint``-pinned — every micro-batch reuses
    them. The stream side is a stateless projection (shingle -> per-band
    explode -> the SHARED bit-exact bucket recipe, so a stream row lands in
    the identical bucket as its batch twin), then a stream-static equi-join
    on (band, bucket). Per-row join fan-out is bounded by the reference-side
    flood cap (``max_bucket_size`` per band); the stream side needs no cap
    because it never aggregates. The only stateful operator is the (a, b)
    pair dedup: with ``watermark_col`` it is ``dropDuplicatesWithinWatermark``
    — state is bounded by the watermark delay, the only formulation that
    survives an unbounded stream; without one (finite backfills via
    Trigger.AvailableNow) plain ``dropDuplicates`` state dies with the run.
    Output rows (a, b, jaccard) carry the EXACT word-shingle Jaccard — the
    stream row's shingles ride the plan (no stream self-join), the
    reference row's come from the pinned static frame."""
    from .dedup import _band_bucket_expr, _buckets_from_shingled, _cap_bucket_flood, _shingled
    from .textops import word_shingles

    ref_sh = _shingled(reference, text_col, id_col, shingle_k).localCheckpoint(eager=True)
    ref_buckets = (
        _cap_bucket_flood(
            _buckets_from_shingled(ref_sh, id_col, num_hashes=num_hashes, bands=bands),
            max_bucket_size,
        )
        .select(F.col(id_col).alias("b"), "band", "bucket")
        .localCheckpoint(eager=True)
    )
    ref_shb = ref_sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))

    if watermark_col is not None:
        stream_docs = stream_docs.withWatermark(watermark_col, delay)
    carry = [F.col(id_col).alias("a")] + (
        [F.col(watermark_col)] if watermark_col is not None else []
    )
    shingled = stream_docs.select(
        *carry, word_shingles(F.col(text_col), shingle_k).alias("_sh")
    ).filter(F.size("_sh") > 0)
    # the explode is the optimizer barrier that materializes _sh once per row
    # before the per-band/hash fan-out (see _buckets_from_shingled)
    per_band = shingled.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    )
    stream_buckets = per_band.select(
        "a", "_sh", *([watermark_col] if watermark_col is not None else []),
        "band", _band_bucket_expr(num_hashes, bands).alias("bucket"),
    )
    cand = stream_buckets.join(ref_buckets, ["band", "bucket"]).select(
        "a", "b", "_sh", *([watermark_col] if watermark_col is not None else [])
    )
    if watermark_col is not None:
        cand = cand.dropDuplicatesWithinWatermark(["a", "b"])
    else:
        cand = cand.dropDuplicates(["a", "b"])
    joined = cand.join(ref_shb, "b")
    inter = F.size(F.array_intersect("_sh", "_shb")).cast("double")
    union = (F.size("_sh") + F.size("_shb")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str] | str = "doc_id",
    *,
    watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Cross-micro-batch exact dedup of a stream on ``key_cols``.

    With a ``watermark_col``, uses ``dropDuplicatesWithinWatermark`` so the
    dedup state is bounded: a key is remembered only until the watermark
    passes it, which is the only formulation that survives an unbounded
    stream (plain ``dropDuplicates`` on a stream keeps every key forever).
    Without a watermark (finite backfills via Trigger.AvailableNow), plain
    ``dropDuplicates`` is used and state dies with the run."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if watermark_col is not None:
        return stream_df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)
    return stream_df.dropDuplicates(keys)


def stream_stateful_parity(
    spark: SparkSession,
    batch_df: DataFrame,
    transform,
    *,
    name_prefix: str = "stream_parity",
) -> DataFrame:
    """Run a bounded-state aggregate builder (``transform: DataFrame ->
    DataFrame``) over a STREAMED materialization of ``batch_df`` and return
    the final result — the harness behind streaming-vs-batch parity
    entries, and the deployment shape for streaming sketch maintenance.

    Because the deterministic sketches (:func:`okay_spark.checks.hll_sketch`,
    ``bloom_sketch``, ``cms_sketch``) are single hash aggregates whose state
    is bounded by construction (2^p registers / m_bits/63 words /
    depth*width cells), they run unchanged as Structured Streaming stateful
    aggregates: complete output mode re-emits the whole (tiny) state each
    micro-batch, and the associative merge (max / bit_or / sum) is exactly
    the streaming state-update operation. The result must equal the batch
    sketch bit-for-bit — same SQL twin certifies both.

    Mechanics: batch_df materializes to a temp parquet dir (a stream needs
    a file source), the transformed stream runs with Trigger.AvailableNow
    into a memory sink, the temp dir is removed, and the sink table is
    returned.
    """
    import shutil
    import tempfile
    import uuid

    src = tempfile.mkdtemp(prefix=f"okay_{name_prefix}_src_")
    try:
        batch_df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        out = transform(stream)
        name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
        (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.table(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def stream_ewma(
    spark: SparkSession,
    batch_df: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
    alpha: float = 0.25,
    k: float = 2.0,
) -> DataFrame:
    """Streaming EWMA volume monitor with exact batch parity: the
    (group, day) daily-count state is maintained as ONE Structured
    Streaming stateful aggregate (state = groups x calendar days — the
    same bounded-state argument as the streaming sketches), and the
    EWMA prefix folds (:func:`okay_spark.checks.ewma_from_daily`) run as
    the finisher over the final state. The result equals the batch
    :func:`okay_spark.checks.ewma_anomalies` bit-for-bit — the same
    DuckDB twin certifies both (the streaming_hll discipline).

    Mechanics: `stream_stateful_parity` streams the input through the
    daily-count aggregate with Trigger.AvailableNow in complete mode;
    any real deployment replaces the memory sink with a per-trigger
    sink and applies the same finisher to each emitted state snapshot
    (the finisher is a pure function of the state, so parity holds at
    every trigger, not just the last)."""
    from .checks import ewma_daily_counts, ewma_from_daily

    daily = stream_stateful_parity(
        spark,
        batch_df,
        lambda s: ewma_daily_counts(s, ts_col, group_col),
        name_prefix="stream_ewma",
    )
    return ewma_from_daily(daily, alpha=alpha, k=k)


def stream_cusum(
    spark: SparkSession,
    batch_df: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
    k_slack: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Streaming CUSUM control chart with exact batch parity — the same
    (group, day) daily-count state as :func:`stream_ewma` (ONE
    Structured Streaming stateful aggregate, state = groups x calendar
    days) with the CUSUM prefix max/plus finisher
    (:func:`okay_spark.checks.cusum_from_daily`) applied to the final
    state. Equals the batch :func:`okay_spark.checks.cusum_anomalies`
    bit-for-bit, so the one DuckDB twin certifies both executions (the
    streaming_hll/stream_ewma discipline). The finisher is a pure
    function of the state, so parity holds at every trigger."""
    from .checks import cusum_from_daily, ewma_daily_counts

    daily = stream_stateful_parity(
        spark,
        batch_df,
        lambda s: ewma_daily_counts(s, ts_col, group_col),
        name_prefix="stream_cusum",
    )
    return cusum_from_daily(daily, k_slack=k_slack, h=h)
