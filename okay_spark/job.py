"""The full validation job: what ``spark-submit --py-files okay_spark.zip``
runs on the cluster (north rule).

One invocation = one resumable run over an input table of interleaved
documents, in two lanes that read the same input and write disjoint sinks:

1. battery lane (the calling thread): the rule battery, evaluated ONCE
   (shuffle-free) -> ``violations``; the per-partition and per-rule
   summaries roll up from that same battery output -> ``summaries``,
   ``summaries_by_rule``; then lineage marks the partitions done ->
   ``lineage`` (resume skips them). Summaries always land before lineage.
2. checks lane (one helper thread), in this order:
   a. doc_id uniqueness (salted hash aggregate) -> ``violations_uniqueness``
   b. media_ref referential vs the media catalog (broadcast | salted SMJ)
      -> ``violations_referential``
   c. per-column stats -> ``metrics_stats``
   d. drift vs a reference snapshot, when one is given -> ``metrics_drift``
3. after both lanes finish: ``run_metrics``. The uniqueness/referential
   counts are observed on their sink writes (no second execution); tiny
   driver-built sinks go through io.local_frame (no Python worker tasks).

No check reads the battery's output, so neither lane waits on the other:
they share the executor cores, and the run takes as long as the longer
lane instead of the sum of both. The helper inherits the caller's
Spark local properties (job group, description, scheduler pool) and job
tags, so every Spark job of the run belongs to the caller's job group.
Errors: the call returns or raises only after both lanes have stopped; a
battery-lane error wins, otherwise a checks-lane error is raised, and in
either case ``run_metrics`` is not written.

Usage (cluster) — spark-submit's primary file must be a top-level script
(relative imports have no parent package there), so the repo-root launcher
``submit_job.py`` dispatches into this module:

    zip -qr okay_spark.zip okay_spark
    spark-submit --py-files okay_spark.zip submit_job.py \\
        --input warehouse.docs --catalog warehouse.media \\
        --output /sinks/validation --run-id nightly-2026-08-16

Executed end-to-end (real spark-submit subprocess, zip on --py-files) by
tests/test_spark_submit.py.

Sandbox smoke:
    python -m okay_spark.job --n-docs 100000 --output /tmp/okay_run
"""

from __future__ import annotations

import argparse
import json
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from .checks import (  # noqa: F401  partition_summary, rule_summary: re-exported
    column_stats,
    drift_metrics,
    media_ref_violations,
    partition_summary,
    rule_summary,
    uniqueness_violations,
)
from .io import local_frame, read_table, write_table
from .schema import compile_cached
from .state import run_resumable_validation


def run_full_validation(
    spark: SparkSession,
    docs,
    catalog,
    schema,
    *,
    output: str,
    run_id: str,
    partition_col: str = "part",
    input_snapshot: str = "",
    reference_snapshot=None,
    broadcast_catalog: bool = True,
    salt_buckets: int = 16,
) -> dict:
    """Run the rule battery and the aggregate checks; returns run metrics
    (also written to ``{output}/run_metrics``).

    The battery (``violations``, ``summaries``, ``summaries_by_rule``, then
    ``lineage``) runs on the calling thread while one helper thread runs
    the checks (``violations_uniqueness``, ``violations_referential``,
    ``metrics_stats``, then ``metrics_drift``). The helper is wrapped with
    :func:`pyspark.util.inheritable_thread_target` at call time, so its
    Spark jobs carry the caller's job group, description, scheduler pool
    and tags (this needs pyspark's default pinned-thread mode, as
    ``pyspark.ml.tuning`` does). Both lanes finish before ``run_metrics`` is written. The call
    never returns or raises while a lane is still running: if the battery
    raises, that error propagates once the checks have stopped; if only
    the checks raise, their error propagates once the battery has
    finished. Either way ``run_metrics`` is not written.

    ``input_snapshot`` identifies the INPUT data version (e.g. the Iceberg
    snapshot id); resume skips a partition only when the same (input
    snapshot, schema fingerprint) pair already completed it. Earlier this
    passed the schema fingerprint as the snapshot, which made a nightly run
    over NEW data with an unchanged schema skip everything."""
    compiled = compile_cached(schema) if callable(schema) else schema
    t0 = time.time()

    def checks():
        dup = uniqueness_violations(docs, "doc_id", salt_buckets=salt_buckets)
        n_dup = _write_counted(dup.withColumn("run_id", F.lit(run_id)), f"{output}/violations_uniqueness")

        refv = media_ref_violations(
            docs,
            catalog,
            broadcast=broadcast_catalog,
            salt_buckets=None if broadcast_catalog else salt_buckets,
        )
        n_ref = _write_counted(refv.withColumn("run_id", F.lit(run_id)), f"{output}/violations_referential")

        stats = column_stats(docs.select("doc_id", partition_col)).withColumn("run_id", F.lit(run_id))
        write_table(stats, f"{output}/metrics_stats", mode="append")

        drift = None
        if reference_snapshot is not None:
            sizes_cur = docs.select(F.size("spans").cast("double").alias("n_spans"))
            sizes_ref = reference_snapshot.select(F.size("spans").cast("double").alias("n_spans"))
            drift = drift_metrics(sizes_cur, sizes_ref, "n_spans", bins=16)
            write_table(
                local_frame(
                    spark,
                    [(run_id, drift["column"], float(drift["psi"]), float(drift["ks"]))],
                    "run_id string, column string, psi double, ks double",
                ),
                f"{output}/metrics_drift",
                mode="append",
            )
        return n_dup, n_ref, drift

    # the wrapper copies the caller's local properties and tags NOW, so the
    # helper's Spark jobs stay in the caller's job group
    with ThreadPoolExecutor(max_workers=1) as lane:
        checked = lane.submit(inheritable_thread_target(spark)(checks))
        battery = run_resumable_validation(
            docs,
            compiled,
            partition_col=partition_col,
            violations_target=f"{output}/violations",
            lineage_target=f"{output}/lineage",
            run_id=run_id,
            snapshot=input_snapshot,
            summaries_target=f"{output}/summaries",
        )
    n_dup, n_ref, drift = checked.result()

    metrics = {
        "run_id": run_id,
        "elapsed_sec": round(time.time() - t0, 2),
        "battery": battery,
        "duplicate_keys": n_dup,
        "unknown_media_refs": n_ref,
        "drift": drift,
    }
    write_table(
        local_frame(spark, [(run_id, json.dumps(metrics, default=str))], "run_id string, metrics string"),
        f"{output}/run_metrics",
        mode="append",
    )
    return metrics


def _write_counted(df, target: str) -> int:
    """Append ``df`` to ``target`` and return the number of rows written,
    observed on the write itself instead of executing the plan again."""
    obs = Observation()
    write_table(df.observe(obs, F.count(F.lit(1)).alias("n")), target, mode="append")
    return obs.get["n"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="input docs table/path (default: synthesize fixture)")
    ap.add_argument("--catalog", help="media catalog table/path (default: synthesize)")
    ap.add_argument("--n-docs", type=int, default=100_000, help="fixture size when no --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--snapshot", default="", help="input data snapshot id (resume key with the schema fingerprint)")
    ap.add_argument("--no-broadcast", action="store_true", help="force salted sort-merge referential join")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("okay_spark-validation").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from .fixtures import document_schema, interleaved_documents, media_catalog

    docs = read_table(spark, args.input) if args.input else interleaved_documents(spark, args.n_docs)
    catalog = read_table(spark, args.catalog) if args.catalog else media_catalog(spark)

    metrics = run_full_validation(
        spark,
        docs,
        catalog,
        document_schema,
        output=args.output,
        run_id=args.run_id,
        input_snapshot=args.snapshot,
        broadcast_catalog=not args.no_broadcast,
    )
    print(json.dumps(metrics, default=str))


if __name__ == "__main__":
    main()
