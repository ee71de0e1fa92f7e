"""Plan-shape regression gate: the invariants SCALE.md documents, enforced
in CI. A change that sneaks a shuffle or a Python eval into the battery hot
path fails here, not at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from okay_spark.engine import validate_dataframe
from okay_spark.fixtures import document_schema, interleaved_documents


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_battery_is_shuffle_free_and_python_free(spark):
    # other modules cache this parquet; a cache hit would swap the FileScan
    # for InMemoryTableScan and break the ReadSchema pruning assertion
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def schema():
        from okay_spark import ignore_extra_fields, required

        required("lang", type="string", options=["en", "fr", "de"])
        required("n_chars", type="int", min=1, max=500)
        ignore_extra_fields()

    plan = _final_plan(validate_dataframe(docs, schema, id_cols=["doc_id"]))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # nested-schema pruning: untouched columns (text, source) never scanned
    assert "text" not in plan.split("ReadSchema:")[1]


def test_interleaved_battery_plan(spark):
    inter = interleaved_documents(spark, 2_000, parts=4)
    plan = _final_plan(validate_dataframe(inter, document_schema, id_cols=["doc_id"]))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_column_stats_single_pass(spark):
    from okay_spark.checks import column_stats

    spark.catalog.clearCache()
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = _final_plan(column_stats(li, ["l_quantity", "l_extendedprice"]))
    # global aggregate: partial per partition, single-partition final — no
    # hash exchange of data rows
    assert "Exchange hashpartitioning" not in plan


def test_referential_salted_never_broadcasts(spark):
    from okay_spark.checks import referential_violations

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    out = referential_violations(
        events.select("event_id", "user_id"), "user_id", supplier, "s_suppkey",
        id_cols=["event_id"], broadcast=False, salt_buckets=4,
    )
    plan = _final_plan(out)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_heavy_hitters_lazy_single_data_scan(spark):
    import re

    from okay_spark.checks import heavy_hitters

    spark.catalog.clearCache()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    jobs_before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    hh = heavy_hitters(events, "user_id", k=5)
    # construction is lazy: building the DataFrame must not have run a job
    # (round 1 fired an eager df.count() for the denominator)
    jobs_after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    assert len(jobs_after) == len(jobs_before)
    plan = _final_plan(hh)
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # one real data scan (the key column); the COUNT(*) denominator branch
    # projects zero columns — footer-only work on parquet
    assert sorted(schemas) == ["struct<>", "struct<user_id:bigint>"]


def test_categorical_drift_stays_engine_side(spark):
    from okay_spark.checks import categorical_drift_frame

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cur = events.filter(F.col("event_type") == "error")
    ref = events.filter(F.col("event_type") == "click")
    out = categorical_drift_frame(cur, ref, "user_id")
    rows = out.collect()
    # exactly ONE row ever crosses to the driver, whatever the category
    # cardinality (round 1 collected one row per category)
    assert len(rows) == 1 and rows[0]["psi"] >= 0
    plan = _final_plan(out)
    # the per-category combine is ONE keyed aggregate over the tagged union
    # of both inputs feeding a global aggregate — no per-category rows at
    # the driver, no join
    assert "Union" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_drift_histogram_partial_agg(spark):
    from okay_spark.checks import numeric_histogram

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _final_plan(numeric_histogram(events, "value", 0.0, 400.0, 20))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_quarantine_runs_arrow_udf_once_per_branch(spark):
    """A custom rule's Arrow UDF is evaluated once per row in each branch:
    the ``n_violations > 0`` filter must not copy the UDF below the
    projection of the quarantined branch."""
    from okay_spark import required
    from okay_spark.engine import quarantine
    from okay_spark.messages import Message

    def short(field, value):
        return Message(type="too_short", field=field) if len(value) < 3 else None

    def schema():
        required("doc_id", type="int")
        required("s", type="custom", validator=short)

    df = spark.createDataFrame(
        [(i, "x" * (i % 5)) for i in range(10)], "doc_id bigint, s string"
    )
    clean, quarantined = quarantine(df, schema)
    for branch in (clean, quarantined):
        assert _final_plan(branch).count("ArrowEvalPython") == 1
    assert sorted(r["doc_id"] for r in clean.collect()) == [3, 4, 8, 9]
    assert sorted((r["doc_id"], r["reasons"]) for r in quarantined.collect()) == [
        (i, "s:too_short") for i in (0, 1, 2, 5, 6, 7)
    ]


def test_custom_rule_arrow_udf_takes_the_column(spark):
    """A custom rule runs as one Arrow UDF over the column itself: no
    ``struct(v, ...)`` wrapper around its argument."""
    import re

    from okay_spark import required
    from okay_spark.messages import Message

    def empty(field, value):
        return Message(type="empty_spans", field=field) if not value else None

    def schema():
        required("doc_id", type="int")
        required("spans", type="custom", validator=empty)

    df = spark.createDataFrame(
        [(1, [(0, "a")]), (2, []), (3, None)], "doc_id bigint, spans array<struct<o:int,t:string>>"
    )
    out = validate_dataframe(df, schema)
    plan = _final_plan(out)
    assert plan.count("ArrowEvalPython") == 1
    assert re.search(r"ArrowEvalPython \[run\(spans#\d+\)#\d+\]", plan), plan
    assert sorted((r["doc_id"], r["rule"]) for r in out.collect()) == [
        (2, "empty_spans"),
        (3, "null_value"),
    ]


def test_custom_rule_battery_scans_its_input_once(spark, tmp_path):
    """The Arrow-routed rules are part of the one battery plan: with a
    custom rule, ``validate_dataframe`` over a parquet table reads the file
    once, with no second branch unioned in for the Python rules."""
    from okay_spark import required
    from okay_spark.messages import Message

    def short(field, value):
        return Message(type="too_short", field=field) if len(value) < 3 else None

    def schema():
        required("doc_id", type="int")
        required("n", type="int", min=1)
        required("s", type="custom", validator=short)

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, i % 4, "x" * (i % 5)) for i in range(10)], "doc_id bigint, n bigint, s string"
    ).write.parquet(path)
    out = validate_dataframe(spark.read.parquet(path), schema)
    plan = _final_plan(out)
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert sorted((r["doc_id"], r["rule"]) for r in out.collect()) == sorted(
        [(i, "too_short") for i in (0, 1, 2, 5, 6, 7)]
        + [(i, "number_too_small") for i in (0, 4, 8)]
    )


def test_validate_json_arrow_udf_takes_only_the_json_column(spark):
    """validate_json runs one Arrow UDF over the JSON column alone; the id
    columns stay in the JVM and meet its output in a Generate."""
    import re

    from okay_spark import required
    from okay_spark.dynamic import validate_json

    def schema():
        required("a", type="int")

    df = spark.createDataFrame([(1, '{"a": 1}'), (2, '{"a": "x"}'), (3, None)], "doc_id bigint, body string")
    out = validate_json(df, "body", schema)
    plan = _final_plan(out)
    assert plan.count("ArrowEvalPython") == 1 and "MapInPandas" not in plan
    assert re.search(r"ArrowEvalPython \[kernel\(body#\d+\)#\d+\]", plan), plan
    assert sorted((r["doc_id"], r["rule"]) for r in out.collect()) == [(2, "invalid_type"), (3, "invalid_json")]
