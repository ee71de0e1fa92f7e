"""Full-job smoke (battery + checks + sinks + lineage in one run) and
okay-compatible intra-document message ordering."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F


def test_full_validation_job(spark, tmp_path):
    from okay_spark.fixtures import document_schema, interleaved_documents, media_catalog
    from okay_spark.job import run_full_validation

    docs = interleaved_documents(spark, 300, parts=4).cache()
    catalog = media_catalog(spark, 100_000)
    out = str(tmp_path / "run")

    metrics = run_full_validation(
        spark,
        docs,
        catalog,
        document_schema,
        output=out,
        run_id="t1",
        reference_snapshot=interleaved_documents(spark, 300, parts=4, inject_errors=False),
    )
    assert metrics["battery"]["partitions"] == 4
    assert metrics["duplicate_keys"] >= 0
    assert metrics["unknown_media_refs"] > 0  # fixture injects orphans
    assert metrics["drift"]["psi"] >= 0

    viol = spark.read.parquet(f"{out}/violations")
    assert viol.count() == metrics["battery"]["n_violations"]
    assert spark.read.parquet(f"{out}/lineage").count() == 4
    assert spark.read.parquet(f"{out}/summaries").count() == 4
    assert spark.read.parquet(f"{out}/run_metrics").count() == 1

    # second run: everything already validated -> battery skipped
    again = run_full_validation(
        spark, docs, catalog, document_schema, output=out, run_id="t2"
    )
    assert again["battery"]["partitions"] == 0 and again["battery"]["skipped"] == 4


def test_message_ordering_matches_okay(spark, okay_reference):
    """okay's deterministic per-document order: rule violations (document /
    rule order) -> missing fields (schema order) -> extra fields. The engine
    reproduces it via the violation ``seq`` (phase, field, rule) when sorted;
    instance order within a field follows array position."""
    from okay import validate  # type: ignore
    from okay.schema import required, optional  # type: ignore
    from okay_spark import compile_schema
    from okay_spark import schema as dsl
    from okay_spark.engine import validate_dataframe

    # columns declared in DataFrame column order, so document traversal order
    # (okay) == schema order (seq) and full ordering parity is exact
    def ours():
        dsl.optional("_id", type="int?")
        dsl.required("a", type="int", min=10)
        dsl.required("b", type="string", min=3)
        dsl.required("xs", type="list", min=2)
        dsl.required("xs[].k", type="string", options=["ok"])
        dsl.required("missing_col", type="string")

    def ref():
        optional("_id", type="int?")
        required("a", type="int", min=10)
        required("b", type="string", min=3)
        required("xs", type="list", min=2)
        required("xs[].k", type="string", options=["ok"])
        required("missing_col", type="string")

    df = spark.createDataFrame(
        [(0, 5, "x", [("bad",), ("ok",), ("worse",)], "zz")],
        "_id int, a bigint, b string, xs array<struct<k:string>>, extra_col string",
    )
    for strategy in ("array", "explode"):
        got = [
            (r["rule"], r["path"])
            for r in validate_dataframe(
                df, compile_schema(ours), id_cols=["_id"], include_seq=True, strategy=strategy
            )
            .orderBy("seq", "path")
            .collect()
        ]
        doc = df.first().asDict(recursive=True)
        expect = [(m.type, m.field) for m in validate(ref, doc)]
        assert got == expect, f"{strategy}: {got} != {expect}"


# --- one battery pass per job ---------------------------------------------------


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda t: [(v is None, str(v)) for v in t])


def _summary_input(spark):
    """Partitions 0-2 carry the fixture's defects; a NULL partition; a clean
    partition 7 with no violation at all; and, in partition 0, two rows with
    the same doc_id that both fail."""
    from okay_spark.fixtures import interleaved_documents

    noisy = interleaved_documents(spark, 240, parts=3)
    clean = interleaved_documents(spark, 30, parts=1, inject_errors=False)
    null_part = interleaved_documents(spark, 20, parts=1).withColumn(
        "part", F.lit(None).cast("int")
    )
    twins = (
        clean.filter(F.col("doc_id").isin("doc-000000000001", "doc-000000000002"))
        .withColumn("doc_id", F.lit("dup-fails"))
        .withColumn("part", F.lit(0))
    )
    return noisy.unionByName(clean.withColumn("part", F.lit(7))).unionByName(
        null_part
    ).unionByName(twins)


def test_job_summaries_equal_public_functions(spark, tmp_path):
    """The job's summaries come from its one battery pass, not from
    partition_summary/rule_summary; they must be the same rows and types."""
    from okay_spark.checks import partition_summary, rule_summary
    from okay_spark.fixtures import document_schema, media_catalog
    from okay_spark.job import run_full_validation

    docs = _summary_input(spark).cache()
    out = str(tmp_path / "run")
    run_full_validation(
        spark, docs, media_catalog(spark, 1_000), document_schema, output=out, run_id="s1"
    )

    for sink, expected in [
        ("summaries", partition_summary(docs, document_schema, "part")),
        ("summaries_by_rule", rule_summary(docs, document_schema, "part")),
    ]:
        expected = expected.withColumn("run_id", F.lit("s1"))
        got = spark.read.parquet(f"{out}/{sink}")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in expected.schema
        ], sink
        assert _sorted_rows(got) == _sorted_rows(expected), sink

    by_part = {r["part"]: r for r in spark.read.parquet(f"{out}/summaries").collect()}
    assert set(by_part) == {0, 1, 2, 7, None}
    assert by_part[7]["n_violations"] == 0 and by_part[7]["n_failed_docs"] == 0
    # both copies of the duplicated doc_id fail: two failed docs, not one
    viol0 = spark.read.parquet(f"{out}/violations").filter(F.col("part") == 0)
    assert by_part[0]["n_failed_docs"] > viol0.select("doc_id").distinct().count()


def test_row_key_is_invisible_to_validation(spark):
    """The resumable run's reserved row key is never reported as an extra
    field, on either battery strategy, nor shown to a root custom rule;
    other undeclared columns are still extra fields."""
    from okay_spark import ignore_extra_fields, required
    from okay_spark.engine import validate_dataframe
    from okay_spark.fixtures import interleaved_documents
    from okay_spark.messages import Message
    from okay_spark.paths import ROW_KEY

    def strict():
        required("doc_id", type="string", regex=r"doc-\d{12}")
        required("spans", type="list", min=1)
        required("spans[].kind", type="string", options=["text", "media"])

    def lenient():
        strict()
        ignore_extra_fields()

    def sees_row_key(field, value, **kw):
        return Message(type="saw_row_key", field=field) if ROW_KEY in value else None

    def root_custom():
        lenient()
        required(".", type="custom", validator=sees_row_key)

    df = interleaved_documents(spark, 200, parts=2)
    keyed = df.withColumn(ROW_KEY, F.monotonically_increasing_id())
    for schema in (strict, lenient, root_custom):
        for strategy in ("explode", "array"):
            plain = _sorted_rows(validate_dataframe(df, schema, strategy=strategy))
            got = _sorted_rows(validate_dataframe(keyed, schema, strategy=strategy))
            assert got == plain, (schema.__name__, strategy)
            extra = {r[1] for r in got if r[2] == "extra_field"}
            assert not any(r[2] == "saw_row_key" for r in got)
            if schema is not strict:
                assert extra == set()
            else:
                assert "part" in extra and ROW_KEY not in extra, extra


def test_job_resume_and_crash_order(spark, tmp_path, monkeypatch):
    """Summaries cover exactly the partitions a run validates, and they land
    before the lineage rows that mark those partitions done."""
    import okay_spark.state as state
    from okay_spark.fixtures import document_schema, interleaved_documents, media_catalog
    from okay_spark.job import run_full_validation
    from okay_spark.schema import compile_cached

    docs = interleaved_documents(spark, 200, parts=4).cache()
    catalog = media_catalog(spark, 1_000)
    out = str(tmp_path / "run")

    def run(frame, run_id):
        return run_full_validation(
            spark, frame, catalog, document_schema, output=out, run_id=run_id
        )

    def summary_parts(run_id):
        return {
            sink: sorted(
                {r["part"] for r in spark.read.parquet(f"{out}/{sink}").filter(F.col("run_id") == run_id).collect()}
            )
            for sink in ("summaries", "summaries_by_rule")
        }

    run(docs.filter(F.col("part") < 2), "r1")
    assert summary_parts("r1") == {"summaries": [0, 1], "summaries_by_rule": [0, 1]}
    resumed = run(docs, "r2")
    assert resumed["battery"]["partitions"] == 2 and resumed["battery"]["skipped"] == 2
    assert summary_parts("r2") == {"summaries": [2, 3], "summaries_by_rule": [2, 3]}
    skipped = run(docs, "r3")
    assert skipped["battery"]["partitions"] == 0
    assert summary_parts("r3") == {"summaries": [], "summaries_by_rule": []}

    # a crash while writing lineage: summaries are durable, nothing is done
    crash_out = str(tmp_path / "crash")
    real_write = state.write_table

    def failing_write(df, target, **kw):
        if target.endswith("/lineage"):
            raise RuntimeError("injected lineage fault")
        return real_write(df, target, **kw)

    monkeypatch.setattr(state, "write_table", failing_write)
    try:
        run_full_validation(
            spark, docs, catalog, document_schema, output=crash_out, run_id="c1"
        )
    except RuntimeError as exc:
        assert "injected lineage fault" in str(exc)
    else:  # pragma: no cover
        raise AssertionError("the injected fault did not fire")
    monkeypatch.setattr(state, "write_table", real_write)
    assert spark.read.parquet(f"{crash_out}/summaries").count() == 4
    # the checks lane had finished before the battery lane's error propagated
    assert spark.read.parquet(f"{crash_out}/metrics_stats").count() > 0
    assert not os.path.exists(f"{crash_out}/run_metrics")
    fp = state.schema_fingerprint(compile_cached(document_schema))
    assert state.completed_partitions(spark, f"{crash_out}/lineage", "", fp) == set()
    again = run_full_validation(
        spark, docs, catalog, document_schema, output=crash_out, run_id="c2"
    )
    assert again["battery"]["partitions"] == 4


# --- two lanes: battery on the caller's thread, aggregate checks beside it ------


def test_job_lanes_stay_in_callers_job_group(spark, tmp_path):
    """The checks lane runs on a helper thread; each Spark job it starts
    must still carry the job group set by the caller, or per-group
    accounting (benchmarks, cancellation) loses those stages."""
    from okay_spark.fixtures import document_schema, interleaved_documents, media_catalog
    from okay_spark.job import run_full_validation

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    docs = interleaved_documents(spark, 200, parts=4).cache()
    reference = interleaved_documents(spark, 200, parts=4, inject_errors=False)
    catalog = media_catalog(spark, 1_000)
    docs.count()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    group = "okay-spark-lanes-test"
    sc.setJobGroup(group, "two lanes")
    try:
        ungrouped = set(tracker.getJobIdsForGroup(None))
        run_full_validation(
            spark,
            docs,
            catalog,
            document_schema,
            output=str(tmp_path / "run"),
            run_id="g1",
            reference_snapshot=reference,
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped
        grouped = tracker.getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert escaped == set()
    assert len(grouped) >= 10  # both lanes' writes, drift's collects, run_metrics


def test_job_checks_lane_fault(spark, tmp_path, monkeypatch):
    """A failing check surfaces after the battery lane has finished: the
    battery's sinks and lineage are complete, run_metrics is not written,
    and no helper thread outlives the call."""
    import okay_spark.job as job
    from okay_spark.fixtures import document_schema, interleaved_documents, media_catalog

    docs = interleaved_documents(spark, 200, parts=4).cache()
    catalog = media_catalog(spark, 1_000)
    out = str(tmp_path / "run")
    real_write = job.write_table

    def failing_write(df, target, **kw):
        if target.endswith("/violations_uniqueness"):
            raise RuntimeError("injected uniqueness fault")
        return real_write(df, target, **kw)

    monkeypatch.setattr(job, "write_table", failing_write)
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="injected uniqueness fault"):
        job.run_full_validation(spark, docs, catalog, document_schema, output=out, run_id="f1")
    assert threading.active_count() == threads
    assert spark.read.parquet(f"{out}/violations").count() > 0
    assert spark.read.parquet(f"{out}/summaries").count() == 4
    assert spark.read.parquet(f"{out}/lineage").count() == 4
    assert not os.path.exists(f"{out}/run_metrics")
