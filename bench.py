"""Benchmark harness (driver contract): runs the headline operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may run on, as ``nproc`` counts them) and
prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline workload is the north metric: the full okay rule battery over
the interleaved (doc_id, spans[]) fixture table, measured in validated
docs/sec (reported under "docs_per_sec"; the compliant "value" is total
seconds across headline queries). The fixture parquet is generated once per
(N, sf) into /tmp and scanned like a real table so the measurement includes
the parquet scan, not generation.

Usage:
    python bench.py              # full suite, one JSON line to stdout
    python bench.py --battery-only   # just the interleaved battery (used by
                                     # scripts/scaling_bench.py at 2 widths)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
BATTERY_DOCS = int(os.environ.get("OKAY_BENCH_DOCS", "6000000"))
ACC_DOCS = int(os.environ.get("OKAY_BENCH_ACC_DOCS", "400000"))


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("okay_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("OKAY_BENCH_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .getOrCreate()
    )


def _cpu_total_steal() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat — the steal-aware protocol:
    every recorded time carries the hypervisor-steal share measured DURING
    that window, so a cross-round 'regression' whose best repeat ran at 30%
    steal is attributable to the machine, not the plan (r02's −26% headline
    docs/sec did not reproduce on a quiet machine; this field makes the next
    one self-diagnosing instead of a round-long bisect hunt)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def _fixture_path(kind: str, n: int) -> str:
    return f"/tmp/okay_spark_bench/{kind}_{n}"


def _ensure_fixture(spark, kind: str, n: int) -> str:
    path = _fixture_path(kind, n)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from okay_spark.fixtures import accommodations, interleaved_documents

        gen = interleaved_documents(spark, n, parts=64) if kind == "interleaved" else accommodations(spark, n)
        gen.repartition(max(CPUS * 2, 16)).write.mode("overwrite").parquet(path)
    return path


def _ensure_split(spark, table: str) -> str:
    """Rewrite a driver-fixture table into CPUS*2 splits under /tmp (once
    per sf) and return the split path. The sf0.1 fixtures are ONE file with
    ONE row group each (lineitem: 600k rows in a single 30MB group), and
    parquet cannot split inside a row group — so every scan-heavy stage
    (the md5 probe hashing in the bloom referential, minhash shingle
    hashing) would run as a SINGLE task no matter how many cores local[N]
    has. A production 100-TB input arrives in thousands of splits; reading
    the multi-split copy makes the bench measure the operator, not the
    fixture's accidental single-split layout. (Same pattern as the
    generated interleaved/accommodations fixtures above, which are written
    repartition(CPUS*2) for the same reason.)"""
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    path = f"/tmp/okay_spark_bench/split_{sf}_{table}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            spark.read.parquet(f"{SF_DIR}/{table}.parquet")
            .repartition(max(CPUS * 2, 16))
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def bench_queries(spark) -> dict[str, dict]:
    from pyspark.sql import functions as F

    from okay_spark.checks import (
        column_stats,
        drift_metrics,
        duplicate_keys,
        media_ref_violations,
        partition_summary,
    )
    from okay_spark.dedup import minhash_near_duplicates
    from okay_spark.engine import validate_dataframe
    from okay_spark.fixtures import (
        accommodation_schema_native,
        document_schema,
        interleaved_documents,
        media_catalog,
    )
    from okay_spark.similarity import brute_force_topk

    inter_path = _ensure_fixture(spark, "interleaved", BATTERY_DOCS)
    acc_path = _ensure_fixture(spark, "accommodations", ACC_DOCS)
    inter = spark.read.parquet(inter_path)
    acc = spark.read.parquet(acc_path)
    # multi-split copies of the single-row-group driver fixtures (see
    # _ensure_split) — built once, before any timing starts
    split = {
        t: _ensure_split(spark, t)
        for t in ("lineitem", "orders", "part", "events", "documents", "embeddings")
    }

    def battery_interleaved():
        return validate_dataframe(inter, document_schema, id_cols=["doc_id"]).count()

    def summary_interleaved():
        return partition_summary(inter, document_schema, "part").count()

    def battery_accommodations():
        return validate_dataframe(
            acc, accommodation_schema_native, id_cols=[]
        ).count()

    def battery_custom():
        # the Arrow (mapInPandas/compat) slow path: a cross-element custom
        # rule the native battery can't express, over the same 6M docs
        def schema():
            from okay_spark import ignore_extra_fields, required
            from okay_spark.messages import Message

            def offsets_monotonic(field, value, **kw):
                offs = [s.get("offset") for s in (value or []) if s is not None]
                offs = [o for o in offs if o is not None]
                if any(b < a for a, b in zip(offs, offs[1:])):
                    return Message(type="out_of_order_spans", field=field)

            required("doc_id", type="string")
            required("spans", type="custom", validator=offsets_monotonic)
            ignore_extra_fields()

        return validate_dataframe(inter, schema, id_cols=["doc_id"]).count()

    def battery_custom_pruned():
        # same custom rule with the declared read-set (arrow_fields): the
        # engine ships only `offset` across Arrow instead of the full span
        # struct — identical violations, measured alongside the full path
        def schema():
            from okay_spark import ignore_extra_fields, required
            from okay_spark.messages import Message

            def offsets_monotonic(field, value, **kw):
                offs = [s.get("offset") for s in (value or []) if s is not None]
                offs = [o for o in offs if o is not None]
                if any(b < a for a, b in zip(offs, offs[1:])):
                    return Message(type="out_of_order_spans", field=field)

            required("doc_id", type="string")
            required(
                "spans", type="custom", validator=offsets_monotonic, arrow_fields=["offset"]
            )
            ignore_extra_fields()

        return validate_dataframe(inter, schema, id_cols=["doc_id"]).count()

    def uniqueness():
        return duplicate_keys(inter, "doc_id").count()

    def referential():
        catalog = media_catalog(spark, 100_000)
        return media_ref_violations(inter, catalog, broadcast=True).count()

    def stats():
        li = spark.read.parquet(split["lineitem"])
        return column_stats(li, ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]).count()

    def drift():
        ev = spark.read.parquet(split["events"])
        cur = ev.filter(F.col("event_type") == "error")
        ref = ev.filter(F.col("event_type") == "click")
        return drift_metrics(cur, ref, "value", bins=20)["bins"]

    def minhash():
        docs = spark.read.parquet(split["documents"])
        return minhash_near_duplicates(docs, threshold=0.5, num_hashes=16, bands=8).count()

    def ann():
        emb = spark.read.parquet(split["embeddings"])
        query = [float(x) for x in emb.first()["embedding"]]
        return brute_force_topk(emb, query, k=10).count()

    # round-4 additions, appended so earlier per-query comparisons across
    # rounds stay aligned
    def agg_consistency():
        from okay_spark.checks import aggregate_consistency

        li = spark.read.parquet(split["lineitem"])
        od = spark.read.parquet(split["orders"])
        m = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        return aggregate_consistency(
            li, od, "l_orderkey", "o_orderkey", m, "o_totalprice", tolerance=0.01
        ).count()

    # Violations-PRESENT referential fixture (round 5): the dim drops every
    # 5th part key, so ~20% of lineitem rows violate and the bloom
    # definite-miss branch actually prunes (r04 benched against the full
    # dim — zero violations, the strategy's documented worst case). The
    # plain key-reduce entry runs on the SAME truncated input so the bench
    # carries a direct bloom-vs-plain comparison.
    def _truncated_ref_inputs():
        li = spark.read.parquet(split["lineitem"])
        pt = spark.read.parquet(split["part"]).filter(
            F.col("p_partkey") % 5 != 0
        )
        return li.select("l_orderkey", "l_partkey"), pt

    def referential_bloom():
        from okay_spark.checks import referential_violations_bloom

        li, pt = _truncated_ref_inputs()
        return referential_violations_bloom(
            li,
            "l_partkey",
            pt,
            "p_partkey",
            m_bits=1 << 18,
            k=5,
            id_cols=["l_orderkey", "l_partkey"],
        ).count()

    def referential_plain_truncated():
        from okay_spark.checks import referential_violations

        li, pt = _truncated_ref_inputs()
        return referential_violations(
            li,
            "l_partkey",
            pt,
            "p_partkey",
            key_reduce=True,
            id_cols=["l_orderkey", "l_partkey"],
        ).count()

    # round-5 late additions, appended to keep earlier per-query rows
    # aligned across rounds: the duplicated-ngram ratio (the widest
    # join-back among the new profile operators — shingle explode, df
    # count, 1:1 probe join) and the per-language corpus-overlap matrix
    # (group-level DISTINCT + bounded-fan-out intersection join).
    def dup_ngram():
        from okay_spark.dedup import duplicated_ngram_ratio

        docs = spark.read.parquet(split["documents"])
        return duplicated_ngram_ratio(docs).filter(F.col("n_dup") > 0).count()

    def corpus_jaccard():
        from okay_spark.dedup import corpus_group_jaccard

        docs = spark.read.parquet(split["documents"])
        return corpus_group_jaccard(docs, "lang").count()

    # continuation addition: distinct-n diversity — the widest shuffle of
    # the evaluation/profile family (corpus bigram explode + two-phase
    # count_distinct per source; vocabulary-bounded distinct state).
    def ngram_div():
        from okay_spark.textops import ngram_diversity

        docs = spark.read.parquet(split["documents"])
        return ngram_diversity(docs).count()

    suite = {
        "battery_interleaved": (battery_interleaved, BATTERY_DOCS),
        "summary_interleaved": (summary_interleaved, BATTERY_DOCS),
        "battery_accommodations": (battery_accommodations, ACC_DOCS),
        "battery_custom_arrow": (battery_custom, BATTERY_DOCS),
        "battery_custom_pruned": (battery_custom_pruned, BATTERY_DOCS),
        "uniqueness_doc_id": (uniqueness, BATTERY_DOCS),
        "referential_media_ref": (referential, BATTERY_DOCS),
        "stats_lineitem": (stats, None),
        "drift_events": (drift, None),
        "minhash_documents": (minhash, None),
        "ann_topk_embeddings": (ann, None),
        "aggregate_consistency_orders": (agg_consistency, None),
        "referential_bloom_lineitem": (referential_bloom, None),
        "referential_plain_truncated": (referential_plain_truncated, None),
        "dup_ngram_documents": (dup_ngram, None),
        "corpus_jaccard_documents": (corpus_jaccard, None),
        "ngram_diversity_documents": (ngram_div, None),
    }
    if "--battery-only" in sys.argv:
        suite = {k: suite[k] for k in ("battery_interleaved",)}
    # one untimed battery pass warms JVM JIT + parquet footers so the
    # reported numbers measure the operators, not first-run compilation
    battery_interleaved()
    # best-of-N so a one-off GC pause / page-cache miss doesn't masquerade as
    # operator cost; the per-query constant (~0.7s of driver-side plan
    # construction) stays included — it is real end-to-end latency, just one
    # that amortizes to zero at 10^12 rows
    repeats = 3 if "--battery-only" in sys.argv else 2
    results = {}
    for name, (fn, n_rows) in suite.items():
        # the interleaved battery is the headline docs/sec figure and the
        # custom-rule batteries are the longest operators; this machine takes
        # multi-second external load bursts (observed loadavg 1->20 swings),
        # so give those entries an extra repeat — one burst must not define
        # the recorded operator time
        # (this VM shows ~37% historical CPU-steal: /proc/stat col 8 — the
        # floor only appears when a repeat lands between steal bursts)
        if name == "battery_interleaved":
            n_rep = 5  # the headline docs/sec figure: most repeats
        elif name in ("battery_custom_arrow", "battery_custom_pruned"):
            n_rep = max(repeats, 3)
        else:
            n_rep = repeats
        best, out, best_steal, max_steal = None, None, 0.0, 0.0
        for _ in range(n_rep):
            tot0, st0 = _cpu_total_steal()
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            tot1, st1 = _cpu_total_steal()
            steal = 100.0 * (st1 - st0) / max(1, tot1 - tot0)
            max_steal = max(max_steal, steal)
            if best is None or dt < best:
                best, best_steal = dt, steal
        results[name] = {
            "sec": round(best, 3),
            "result": out,
            "steal_pct": round(best_steal, 1),
            "max_steal_pct": round(max_steal, 1),
        }
        if n_rows:
            results[name]["rows_per_sec"] = round(n_rows / best)
    return results


def main() -> None:
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + fixture caches so timings measure the operators
    _ensure_fixture(spark, "interleaved", BATTERY_DOCS)
    tot0, st0 = _cpu_total_steal()
    results = bench_queries(spark)
    tot1, st1 = _cpu_total_steal()
    total = round(sum(v["sec"] for v in results.values()), 3)
    battery = results.get("battery_interleaved", {})
    payload = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: v["sec"] for k, v in results.items()},
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "battery_docs": BATTERY_DOCS,
        "docs_per_sec": battery.get("rows_per_sec"),
        # steal-aware protocol: hypervisor steal share during the suite and
        # during each query's BEST repeat — compare rounds on steal-clean
        # numbers, not wall clock alone
        "suite_steal_pct": round(100.0 * (st1 - st0) / max(1, tot1 - tot0), 1),
        "query_steal_pct": {k: v["steal_pct"] for k, v in results.items()},
        "detail": {k: v.get("result") for k, v in results.items()},
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
