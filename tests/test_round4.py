"""Round-4 pins: ADVICE fixes (pruned-path NaN normalization, lineage
run_seq migration, oracle-SQL robustness) and the minhash single-evaluation
refactor's observable invariants."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# arrow_fields pruning: nullable integral fields must not leak NaN/float
# ---------------------------------------------------------------------------


def test_arrow_fields_null_int_field_sees_none_and_int(spark):
    """A nullable int field must reach the callable as None for the null and
    a plain int for valid values (reference semantics), on the pruned and
    the unpruned path alike (ADVICE r3: the pruned path once delivered
    nan/7.0, silently flipping `field is None` checks between declared and
    undeclared rules)."""
    from okay_spark import ignore_extra_fields, required
    from okay_spark.engine import validate_dataframe
    from okay_spark.messages import Message

    df = spark.createDataFrame(
        [("a", [("text", "x", None, None), ("text", "y", None, 7)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )

    def mk(declare):
        def schema():
            def probe(field, value, **kw):
                desc = "|".join(
                    "None" if s["offset"] is None
                    else f"{type(s['offset']).__name__}:{s['offset']}"
                    for s in value
                )
                return Message(type=f"seen_{desc}", field=field)

            kw = {"arrow_fields": ["offset"]} if declare else {}
            required("spans", type="custom", validator=probe, **kw)
            ignore_extra_fields()

        return schema

    pruned = {
        r["rule"] for r in validate_dataframe(df, mk(True), id_cols=["doc_id"]).collect()
    }
    full = {
        r["rule"] for r in validate_dataframe(df, mk(False), id_cols=["doc_id"]).collect()
    }
    # both paths: reference-faithful None + int (the unpruned path used to
    # promote the nullable int to float 7.0 through pandas)
    assert pruned == {"seen_None|int:7"}
    assert full == {"seen_None|int:7"}


def test_arrow_fields_all_valid_int_field_stays_int(spark):
    """No nulls -> the ndarray fast path must still deliver plain ints."""
    from okay_spark import ignore_extra_fields, required
    from okay_spark.engine import validate_dataframe
    from okay_spark.messages import Message

    df = spark.createDataFrame(
        [("a", [("text", "x", None, 3), ("text", "y", None, 7)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )

    def schema():
        def probe(field, value, **kw):
            desc = "|".join(f"{type(s['offset']).__name__}:{s['offset']}" for s in value)
            return Message(type=f"seen_{desc}", field=field)

        required("spans", type="custom", validator=probe, arrow_fields=["offset"])
        ignore_extra_fields()

    rules = {
        r["rule"] for r in validate_dataframe(df, schema, id_cols=["doc_id"]).collect()
    }
    assert rules == {"seen_int:3|int:7"}


def test_arrow_fields_nullable_bool_field_normalizes(spark):
    from okay_spark import ignore_extra_fields, required
    from okay_spark.engine import validate_dataframe
    from okay_spark.messages import Message

    df = spark.createDataFrame(
        [("a", [(None,), (True,)])],
        "doc_id string, spans array<struct<flag:boolean>>",
    )

    def schema():
        def probe(field, value, **kw):
            desc = "|".join(
                "None" if s["flag"] is None else f"{type(s['flag']).__name__}:{s['flag']}"
                for s in value
            )
            return Message(type=f"seen_{desc}", field=field)

        required("spans", type="custom", validator=probe, arrow_fields=["flag"])
        ignore_extra_fields()

    rules = {
        r["rule"] for r in validate_dataframe(df, schema, id_cols=["doc_id"]).collect()
    }
    assert rules == {"seen_None|bool:True"}


# ---------------------------------------------------------------------------
# lineage run_seq migration: tables written before the column existed
# ---------------------------------------------------------------------------

_OLD_LINEAGE_DDL = (
    "part string, run_id string, snapshot string, schema_fp string, "
    "status string, n_docs bigint, n_violations bigint, n_failed_docs bigint"
)


def test_old_lineage_without_run_seq_reads_and_resumes(spark, tmp_path):
    """A lineage table written by the pre-run_seq format must not break
    next_run_seq (resume at 0), violation_trend (old rows order first), or a
    new append (mixed-schema parquet dir read with mergeSchema)."""
    from okay_spark.schema import required
    from okay_spark.state import next_run_seq, run_resumable_validation, violation_trend

    out = str(tmp_path / "sinks")
    old_rows = [("p0", "old-run", "s", "fp", "done", 1000, 10, 10)]
    spark.createDataFrame(old_rows, _OLD_LINEAGE_DDL).write.parquet(f"{out}/lineage")

    assert next_run_seq(spark, f"{out}/lineage") == 0

    docs = spark.createDataFrame(
        [(1, "a", 0), (2, None, 0)], "doc_id bigint, text string, part int"
    )

    def schema():
        required("text", type="string")

    run_resumable_validation(
        docs,
        schema=schema,
        partition_col="part",
        violations_target=f"{out}/viol",
        lineage_target=f"{out}/lineage",
        run_id="new-run",
        snapshot="s2",
    )
    trend = {r["run_id"]: r for r in violation_trend(spark, out).collect()}
    assert set(trend) == {"old-run", "new-run"}
    # old rows act as run_seq=-1: ordered before the stamped run, so the new
    # run's prev_rate is the old run's rate (0.01), not None
    assert trend["old-run"]["prev_rate"] is None
    assert trend["new-run"]["prev_rate"] == pytest.approx(0.01)
    # and the next stamped run continues the sequence after the new run's 0
    assert next_run_seq(spark, f"{out}/lineage") == 1


# ---------------------------------------------------------------------------
# driver wiring pins (exact-oracle claims must not be undermined silently)
# ---------------------------------------------------------------------------


def test_cross_dedup_driver_entry_is_uncapped():
    """q_cross_dedup_documents pins recall=1 at threshold=1.0 against an
    exact fingerprint-join twin; the default bucket cap could silently drop
    Spark-side pairs the twin still reports, so the entry must disable it."""
    import inspect

    import __spark_entry__ as e

    src = inspect.getsource(e.q_cross_dedup_documents)
    assert "max_bucket_size=None" in src


def test_ref_catalog_oracle_survives_media_x_rows():
    """DuckDB does not guarantee OR short-circuit order, so the catalog twin
    must TRY_CAST the id it parses out of media_ref — a plain CAST can raise
    on the 'MEDIA_X' rows (substr -> 'X') whichever branch runs first."""
    import duckdb

    import __spark_entry__ as e

    sql = e._REF_CATALOG_SQL
    assert "TRY_CAST(substr(media_ref, 7) AS BIGINT)" in sql
    # the predicate itself must evaluate cleanly on a MEDIA_X value
    row = duckdb.sql(
        "SELECT ('0x' || substr(md5(TRY_CAST(substr('MEDIA_X', 7) AS BIGINT)::VARCHAR"
        " || '|hole'), 1, 8))::BIGINT % 29 = 0"
    ).fetchone()
    assert row[0] is None  # NULL, never an error


# ---------------------------------------------------------------------------
# minhash single-evaluation refactor: semantics unchanged
# ---------------------------------------------------------------------------


def test_minhash_near_duplicates_matches_pre_refactor_semantics(spark):
    """The checkpointed shingle reuse must not change scores: jaccard from
    the carried shingle frame equals a from-scratch ngram_jaccard on the
    same pairs."""
    from okay_spark.dedup import minhash_candidate_pairs, minhash_near_duplicates, ngram_jaccard

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text about spark engines here"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, threshold=0.3, num_hashes=8, bands=4).collect()
    }
    pairs = minhash_candidate_pairs(docs, num_hashes=8, bands=4)
    want = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard(pairs, docs).collect()
        if r["jaccard"] >= 0.3
    }
    assert got == want
    assert got[(1, 4)] == 1.0


# ---------------------------------------------------------------------------
# round-4 driver-signal upgrades: pack_chunks exact twin, compression replay
# ---------------------------------------------------------------------------


def test_pack_chunks_bucket_expr_override(spark):
    """bucket_expr must route bucketing (oracle-reproducible pmod) while
    leaving pack semantics untouched: same doc set per bucket, budget
    respected, every chunk packed exactly once."""
    from pyspark.sql import functions as F

    from okay_spark.textops import chunk_documents, pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(50 + 7 * (i % 5)))) for i in range(20)],
        "doc_id bigint, text string",
    )
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
    packed = pack_chunks(
        chunks,
        budget_tokens=40,
        n_buckets=4,
        bucket_expr=F.pmod(F.col("doc_id"), F.lit(4)),
    ).collect()
    # bucket is doc_id % 4 for every member of every pack
    for r in packed:
        assert all(d % 4 == r["bucket"] for d in r["doc_ids"])
    # partition: every chunk appears exactly once across packs
    n_packed = sum(r["n_chunks"] for r in packed)
    assert n_packed == chunks.count()
    # budget bound (singleton oversize chunks exempt)
    for r in packed:
        assert r["total_tokens"] <= 40 or r["n_chunks"] == 1


def test_compression_ratio_byte_columns(spark):
    """raw_bytes is the exact utf-8 length, comp_bytes the zlib-6 length,
    ratio their Python-rounded quotient; NULL text -> all NULL, empty text
    -> ratio 0.0 with zlib's 8-byte empty frame reported."""
    import zlib

    from okay_spark.textops import compression_ratio

    df = spark.createDataFrame(
        [(1, "hello hello hello hello"), (2, None), (3, ""), (4, "émoji ✓ bytes")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    t1 = "hello hello hello hello".encode()
    assert out[1]["raw_bytes"] == len(t1)
    assert out[1]["comp_bytes"] == len(zlib.compress(t1, 6))
    assert out[1]["compression_ratio"] == round(len(zlib.compress(t1, 6)) / len(t1), 6)
    assert out[2]["raw_bytes"] is None and out[2]["comp_bytes"] is None
    assert out[2]["compression_ratio"] is None
    assert out[3]["raw_bytes"] == 0 and out[3]["compression_ratio"] == 0.0
    assert out[3]["comp_bytes"] == len(zlib.compress(b"", 6))
    t4 = "émoji ✓ bytes".encode()
    assert out[4]["raw_bytes"] == len(t4)  # multibyte chars counted as bytes


def test_pack_oracle_recursive_cte_matches_spark(spark):
    """The recursive-CTE pack twin must reproduce the greedy packer
    bit-for-bit on the real sf0.001 documents table (pack membership,
    ordering, token totals AND the concatenated text)."""
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    sdf = E.queries()["pack_chunks_documents"](spark, sf)
    srows = {
        (r["bucket"], r["seq_id"]): (r["n_chunks"], r["total_tokens"], r["doc_ids"], r["packed_text"])
        for r in sdf.collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    drows = {
        (b, s): (n, t, d, p)
        for b, s, n, t, d, p in con.sql(E.oracle_sql()["pack_chunks_documents"]).fetchall()
    }
    assert srows == drows


# ---------------------------------------------------------------------------
# streaming cross-corpus dedup: batch parity + bounded state formulation
# ---------------------------------------------------------------------------


def _xdedup_fixture(spark):
    ref = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight"),
            (101, "completely different reference text about spark engines"),
            (102, "short"),
        ],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # verbatim dup of 100
            (2, "the quick brown fox jumps over the lazy dog today"),    # near-dup of 100
            (3, "totally unrelated corpus document about databases and joins"),
            (4, "completely different reference text about spark engines"),  # dup of 101
        ],
        "doc_id bigint, text string",
    )
    return corpus, ref


def test_stream_cross_dedup_matches_batch(spark, tmp_path):
    """The streaming formulation must produce exactly the batch
    minhash_cross_duplicates result on the same fixture — same pairs, same
    exact jaccard scores — including sub-1.0 thresholds."""
    from okay_spark.dedup import minhash_cross_duplicates
    from okay_spark.streaming import stream_cross_dedup

    corpus, ref = _xdedup_fixture(spark)
    want = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_cross_duplicates(
            corpus, ref, threshold=0.5, num_hashes=16, bands=8
        ).collect()
    }
    src = str(tmp_path / "src")
    corpus.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    out = stream_cross_dedup(stream, ref, threshold=0.5, num_hashes=16, bands=8)
    q = (
        out.writeStream.format("memory")
        .queryName("xdedup_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in spark.table("xdedup_parity").collect()
    }
    assert got == want
    assert (1, 100) in got and got[(1, 100)] == 1.0  # planted verbatim pair
    assert (4, 101) in got
    assert len(got) >= 3  # near-dup pair 2->100 as well


def test_stream_cross_dedup_watermark_bounds_state(spark, tmp_path):
    """With a watermark column the plan's stateful pair-dedup must be the
    watermark-bounded operator (dropDuplicatesWithinWatermark), not the
    unbounded dropDuplicates — the formulation that survives an unbounded
    stream — and results on the finite fixture are unchanged."""
    from pyspark.sql import functions as F

    from okay_spark.streaming import stream_cross_dedup

    corpus, ref = _xdedup_fixture(spark)
    corpus = corpus.withColumn("ts", F.timestamp_seconds(F.col("doc_id") + F.lit(2)))
    src = str(tmp_path / "src")
    corpus.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    out = stream_cross_dedup(
        stream, ref, threshold=0.5, num_hashes=16, bands=8,
        watermark_col="ts", delay="30 days",
    )
    # the logical plan must carry the within-watermark dedup marker
    plan = out._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan, plan
    q = (
        out.writeStream.format("memory")
        .queryName("xdedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["a"], r["b"]) for r in spark.table("xdedup_wm").collect()}
    assert (1, 100) in got and (4, 101) in got


# ---------------------------------------------------------------------------
# key-reduced referential: the big-dim path where the fact table never sorts
# ---------------------------------------------------------------------------


def _ref_fixture(spark):
    from pyspark.sql import functions as F

    # 40k fact rows over 60 distinct keys, one hot key = 50% of rows and
    # absent from dim (the "default avatar gone missing" worst case);
    # dim has 50 keys
    fact = spark.range(0, 40_000, 1, 8).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 2 == 0, F.lit(999_999))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(59)))
        .alias("fk"),
    )
    dim = spark.range(0, 50).select(F.col("id").alias("pk"))
    return fact, dim


def test_referential_key_reduce_matches_broadcast(spark):
    from okay_spark.checks import referential_violations

    fact, dim = _ref_fixture(spark)
    base = referential_violations(fact, "fk", dim, "pk", id_cols=["rid"])
    kr = referential_violations(
        fact, "fk", dim, "pk", id_cols=["rid"], key_reduce=True
    )
    bset = {(r["rid"], r["expected"]) for r in base.collect()}
    kset = {(r["rid"], r["expected"]) for r in kr.collect()}
    assert bset == kset and len(bset) > 20_000  # hot key is violating


def test_referential_key_reduce_plan_never_shuffles_fact(spark):
    """The violations plan after key reduction is scan -> broadcast SEMI
    join: zero hash exchanges of fact rows (the distinct-key work happened
    in the checkpointed bad-key subplan, bounded by |distinct keys|)."""
    from okay_spark.checks import referential_violations

    fact, dim = _ref_fixture(spark)
    kr = referential_violations(
        fact, "fk", dim, "pk", id_cols=["rid"], key_reduce=True
    )
    kr.collect()
    plan = kr._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Sort " not in plan, plan


def test_referential_key_reduce_fallback_when_keys_exceed_cap(spark):
    """max_broadcast_keys=0 forces the shuffled-join fallback (a corpus so
    broken its violating keys can't broadcast) — results must not change."""
    from okay_spark.checks import referential_violations

    fact, dim = _ref_fixture(spark)
    base = {r["rid"] for r in referential_violations(
        fact, "fk", dim, "pk", id_cols=["rid"]
    ).collect()}
    fb = {r["rid"] for r in referential_violations(
        fact, "fk", dim, "pk", id_cols=["rid"],
        key_reduce=True, max_broadcast_keys=0,
    ).collect()}
    assert fb == base


def test_referential_key_reduce_composite_and_nulls(spark):
    from okay_spark.checks import referential_violations

    fact = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 10), (4, None, 10), (5, "a", None)],
        "rid int, k1 string, k2 int",
    )
    dim = spark.createDataFrame([("a", 10), ("b", 10)], "k1 string, k2 int")
    out = referential_violations(
        fact, ["k1", "k2"], dim, ["k1", "k2"], id_cols=["rid"], key_reduce=True
    ).collect()
    # rows with a partially-null composite key are the battery's problem
    assert [r["rid"] for r in out] == [2]
    assert '"k1":"a"' in out[0]["expected"] and '"k2":20' in out[0]["expected"]


def test_media_ref_violations_key_reduce_agrees(spark):
    from okay_spark.checks import media_ref_violations
    from okay_spark.fixtures import interleaved_documents, media_catalog

    docs = interleaved_documents(spark, 3000)
    catalog = media_catalog(spark, 100_000)
    b = {(r["doc_id"], r["path"]) for r in media_ref_violations(
        docs, catalog, broadcast=True
    ).collect()}
    k = {(r["doc_id"], r["path"]) for r in media_ref_violations(
        docs, catalog, key_reduce=True
    ).collect()}
    assert b == k and len(b) > 0


# ---------------------------------------------------------------------------
# content-identity incremental re-validation (partition fingerprints)
# ---------------------------------------------------------------------------


def test_partition_fingerprints_order_independent_and_sensitive(spark):
    from pyspark.sql import functions as F

    from okay_spark.state import partition_fingerprints

    df = spark.createDataFrame(
        [(i, f"text-{i}", i % 3) for i in range(60)], "doc_id long, text string, part int"
    )
    content = F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text"))
    a = {r["part"]: (r["n_docs"], r["fp"]) for r in partition_fingerprints(df, "part", content).collect()}
    b = {r["part"]: (r["n_docs"], r["fp"]) for r in partition_fingerprints(df.repartition(7), "part", content).collect()}
    assert a == b and len(a) == 3

    # one changed row flips exactly its partition's fingerprint
    changed = df.withColumn(
        "text", F.when(F.col("doc_id") == 4, F.lit("EDITED")).otherwise(F.col("text"))
    )
    c = {r["part"]: r["fp"] for r in partition_fingerprints(changed, "part", content).collect()}
    assert c["1"] != a["1"][1]
    assert c["0"] == a["0"][1] and c["2"] == a["2"][1]


def test_content_identity_incremental_revalidation(spark, tmp_path):
    """fingerprint_content switches resume to content identity: identical
    bytes skip even across snapshot ids; a partition whose bytes changed is
    re-validated even though a 'done' lineage row exists for it."""
    from pyspark.sql import functions as F

    from okay_spark.fixtures import document_schema, interleaved_documents
    from okay_spark.state import run_resumable_validation

    src = str(tmp_path / "src_v1")
    interleaved_documents(spark, 200, parts=4).write.parquet(src)
    docs = spark.read.parquet(src)
    kwargs = dict(
        schema=document_schema,
        partition_col="part",
        violations_target=str(tmp_path / "viol"),
        lineage_target=str(tmp_path / "lineage"),
        fingerprint_content=True,
    )
    first = run_resumable_validation(docs, run_id="r1", snapshot="s1", **kwargs)
    assert first["partitions"] == 4 and first["skipped"] == 0

    # same bytes, DIFFERENT snapshot id: snapshot-identity would re-run all
    # four; content-identity skips all four
    second = run_resumable_validation(docs, run_id="r2", snapshot="s2", **kwargs)
    assert second["partitions"] == 0 and second["skipped"] == 4

    # mutate one partition's content in place (same snapshot id as r1!):
    # the stale 'done' row must NOT shield it
    v3 = docs.withColumn(
        "doc_id",
        F.when(F.col("part") == 2, F.concat(F.col("doc_id"), F.lit("!"))).otherwise(
            F.col("doc_id")
        ),
    )
    third = run_resumable_validation(v3, run_id="r3", snapshot="s1", **kwargs)
    assert third["partitions"] == 1 and third["skipped"] == 3
    lin = spark.read.parquet(str(tmp_path / "lineage"))
    r3_parts = [r["part"] for r in lin.filter(F.col("run_id") == "r3").collect()]
    assert r3_parts == ["2"]
    # every lineage row of a fingerprinting run carries the digest
    assert lin.filter(F.col("run_id").isin("r1", "r3") & F.col("fp").isNull()).count() == 0


def test_fingerprint_resume_over_prefingerprint_lineage(spark, tmp_path):
    """Lineage written WITHOUT the fp column (older engine version) reads as
    fp=null = content unknown -> everything re-validates once (never a false
    skip), and the new run's rows backfill digests."""
    from pyspark.sql import functions as F

    from okay_spark.fixtures import document_schema, interleaved_documents
    from okay_spark.state import run_resumable_validation

    docs = interleaved_documents(spark, 120, parts=3)
    lineage = str(tmp_path / "lineage")
    kwargs = dict(
        schema=document_schema,
        partition_col="part",
        violations_target=str(tmp_path / "viol"),
        lineage_target=lineage,
        snapshot="s1",
    )
    # old-format run: no fingerprinting, then strip run_seq AND fp to mimic
    # a table written by the pre-fingerprint engine
    run_resumable_validation(docs, run_id="old", **kwargs)
    old = spark.read.parquet(lineage).drop("run_seq", "fp")
    old.write.mode("overwrite").parquet(str(tmp_path / "lineage_old"))
    kwargs["lineage_target"] = str(tmp_path / "lineage_old")

    out = run_resumable_validation(
        docs, run_id="new", fingerprint_content=True, **kwargs
    )
    assert out["partitions"] == 3 and out["skipped"] == 0
    again = run_resumable_validation(
        docs, run_id="new2", fingerprint_content=True, **kwargs
    )
    assert again["partitions"] == 0 and again["skipped"] == 3


# ---------------------------------------------------------------------------
# streaming PSI drift monitor: batch parity
# ---------------------------------------------------------------------------


def test_stream_drift_psi_matches_batch(spark, tmp_path):
    """stream_drift_psi's complete-mode aggregate must reproduce the batch
    drift_metrics PSI bit-for-bit at round-6 (same bin edges, epsilon
    clamps, sequential term fold), including n_docs."""
    from pyspark.sql import functions as F

    from okay_spark.checks import drift_metrics
    from okay_spark.streaming import stream_drift_psi

    ev = spark.createDataFrame(
        [(float(i % 37) + (3.0 if i % 5 == 0 else 0.0), "cur" if i % 3 else "ref")
         for i in range(2000)] + [(None, "cur")],
        "value double, side string",
    )
    cur = ev.filter(F.col("side") == "cur").select("value")
    ref = ev.filter(F.col("side") == "ref")
    m = drift_metrics(cur, ref, "value", bins=20)

    src = str(tmp_path / "cur")
    cur.write.parquet(src)
    stream = spark.readStream.schema(cur.schema).parquet(src)
    q = (
        stream_drift_psi(stream, ref, "value", bins=20)
        .writeStream.format("memory")
        .queryName("sdrift_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table("sdrift_t").first()
    assert row["n_docs"] == m["n_current"]  # null value excluded on both sides
    assert row["psi"] == round(m["psi"], 6)
    # the plan is one stateful aggregate, no Python nodes
    plan = spark.table("sdrift_t")._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


# ---------------------------------------------------------------------------
# round-4 new operators: line dedup, rare tokens, interleave rule, quarantine
# ---------------------------------------------------------------------------


def test_drop_duplicate_lines_semantics(spark):
    """A line shared by >=2 docs is struck from EVERY doc; unique lines and
    within-doc repeats survive; blank lines vanish from the rebuilt text; a
    doc made entirely of corpus-duplicated lines comes back empty, not
    dropped; line order is preserved."""
    from okay_spark.dedup import drop_duplicate_lines

    rows = [
        ("a", "dup one\nunique a\ndup two"),
        ("b", "dup one\n\nunique b\ndup two"),
        ("c", "dup one\ndup two"),  # all boilerplate -> empty
        ("d", "solo d\nsolo d"),  # within-doc repeat: df=1, kept
        ("e", ""),  # no lines
        ("f", None),  # null text
    ]
    out = {
        r["doc_id"]: r
        for r in drop_duplicate_lines(
            spark.createDataFrame(rows, "doc_id string, text string")
        ).collect()
    }
    assert out["a"]["text_dedup"] == "unique a" and out["a"]["n_kept"] == 1
    assert out["a"]["n_lines"] == 3
    assert out["b"]["text_dedup"] == "unique b" and out["b"]["n_lines"] == 3
    assert out["c"]["text_dedup"] == "" and out["c"]["n_kept"] == 0
    assert out["d"]["text_dedup"] == "solo d\nsolo d" and out["d"]["n_kept"] == 2
    assert out["e"]["n_lines"] == 0 and out["e"]["text_dedup"] == ""
    assert out["f"]["n_lines"] == 0 and out["f"]["text_dedup"] == ""
    assert len(out) == 6


def test_drop_duplicate_lines_partition_invariant(spark):
    """Same answer at 1 and 7 partitions (the count/anti-join/rebuild chain
    must not depend on physical layout)."""
    from okay_spark.dedup import drop_duplicate_lines

    rows = [(f"d{i}", f"common line\nword{i} tail{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    a = sorted(map(tuple, drop_duplicate_lines(df.coalesce(1)).collect()))
    b = sorted(map(tuple, drop_duplicate_lines(df.repartition(7)).collect()))
    assert a == b
    assert all(t[3] != "" and "common line" not in t[3] for t in a)


def test_rare_token_stats_hand_computed(spark):
    from okay_spark.textops import rare_token_stats

    rows = [
        ("a", "x x y"),  # x in 2 docs, y in 1 doc
        ("b", "x z"),  # z in 1 doc
        ("c", ""),  # zero tokens
    ]
    out = {
        r["doc_id"]: r
        for r in rare_token_stats(
            spark.createDataFrame(rows, "doc_id string, text string"), min_df=2
        ).collect()
    }
    assert out["a"]["n_tokens"] == 3 and out["a"]["n_rare"] == 1  # y rare
    assert out["a"]["min_token_df"] == 1
    assert out["a"]["rare_ratio"] == 1.0 / 3.0
    assert out["b"]["n_tokens"] == 2 and out["b"]["n_rare"] == 1  # z rare
    assert out["c"]["n_tokens"] == 0 and out["c"]["rare_ratio"] is None
    assert out["c"]["min_token_df"] is None


def test_adjacent_pair_violations_all_pairs_and_nulls(spark):
    """Every offending adjacent pair is reported (not just the first), the
    path indexes the LATER element, and null fields are skipped."""
    from pyspark.sql import functions as F

    from okay_spark.checks import adjacent_pair_violations

    df = spark.createDataFrame(
        [
            ("a", [("media",), ("media",), ("media",), ("text",)]),  # pairs at 1,2
            ("b", [("media",), (None,), ("media",)]),  # null in the middle: none
            ("c", [("text",), ("media",)]),  # none
            ("d", [("media",)]),  # single element: none
        ],
        "doc_id string, spans array<struct<kind:string>>",
    )
    out = adjacent_pair_violations(
        df,
        "spans",
        id_cols=["doc_id"],
        pred=lambda a, b: (a["kind"] == F.lit("media")) & (b["kind"] == F.lit("media")),
        rule="adjacent_media",
        field="kind",
    ).collect()
    got = sorted((r["doc_id"], r["path"], r["rule"]) for r in out)
    assert got == [
        ("a", "spans[1].kind", "adjacent_media"),
        ("a", "spans[2].kind", "adjacent_media"),
    ]


def test_quarantine_partitions_input_and_digests_reasons(spark):
    from okay_spark import required
    from okay_spark.engine import quarantine

    def schema():
        required("doc_id", type="int", min=0)
        required("text", type="string", min=3)

    df = spark.createDataFrame(
        [(1, "long enough"), (-1, "x"), (2, "ok!"), (None, None)],
        "doc_id bigint, text string",
    )
    clean, quar = quarantine(df, schema, id_cols=["doc_id"])
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    got = {r["doc_id"]: r for r in quar.collect()}
    assert got[-1]["reasons"] == "doc_id:number_too_small;text:string_too_short"
    assert got[-1]["n_violations"] == 2
    assert got[None]["reasons"] == "doc_id:null_value;text:null_value"
    # the split is a partition of the input
    assert clean.count() + quar.count() == df.count()


def test_quarantine_is_shuffle_free(spark):
    """Both branches must stay scan -> filter/project: zero exchanges."""
    from okay_spark import required
    from okay_spark.engine import quarantine

    def schema():
        required("doc_id", type="int", min=0)
        required("text", type="string", min=3)

    df = spark.createDataFrame([(1, "long enough")], "doc_id bigint, text string")
    clean, quar = quarantine(df, schema, id_cols=["doc_id"])
    for frame in (clean, quar):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange" not in plan


def test_hll_sketch_matches_reference_construction(spark):
    """Registers equal a from-scratch Python HLL over the same md5 stream
    (the exactness claim), and merging = row-wise max (the property that
    makes the sketch distributable)."""
    import hashlib

    from okay_spark.checks import hll_sketch

    vals_a = [f"u{i}" for i in range(300)]
    vals_b = [f"v{i}" for i in range(200)] + vals_a[:50]
    p, m, k = 6, 64, 54

    def py_regs(vals):
        regs = {}
        for v in set(vals):
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            b, rest = h % m, h >> p
            rho = (k + 1) if rest == 0 else k - rest.bit_length() + 1
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    dfa = spark.createDataFrame([(v,) for v in vals_a], "x string")
    dfb = spark.createDataFrame([(v,) for v in vals_b], "x string")
    sa = {r["bucket"]: r["max_rho"] for r in hll_sketch(dfa, "x", p=p).collect()}
    sb = {r["bucket"]: r["max_rho"] for r in hll_sketch(dfb, "x", p=p).collect()}
    assert sa == py_regs(vals_a)
    assert sb == py_regs(vals_b)
    su = {
        r["bucket"]: r["max_rho"]
        for r in hll_sketch(dfa.union(dfb), "x", p=p).collect()
    }
    merged = {b: max(sa.get(b, 0), sb.get(b, 0)) for b in set(sa) | set(sb)}
    assert su == merged


def test_hll_estimate_error_bound(spark):
    """p=9 (512 registers): standard error ~1.04/sqrt(512) ~= 4.6%; assert
    a loose 3-sigma bound on a 5000-distinct column."""
    from okay_spark.checks import hll_estimate, hll_sketch

    df = spark.range(5000).selectExpr("concat('id', id) AS x")
    est = hll_estimate(hll_sketch(df, "x", p=9), p=9)
    assert abs(est - 5000) / 5000 < 0.15


def test_aggregate_consistency_rules(spark):
    from pyspark.sql import functions as F

    from okay_spark.checks import aggregate_consistency

    facts = spark.createDataFrame(
        [(1, 10.0), (1, 5.5), (2, 3.25)], "k bigint, amt double"
    )
    parents = spark.createDataFrame(
        [(1, 15.5), (2, 99.0), (3, 7.0)], "pk bigint, total double"
    )
    out = {
        r["pk"]: r
        for r in aggregate_consistency(
            facts, parents, "k", "pk", F.col("amt"), "total"
        ).collect()
    }
    assert 1 not in out  # stored == computed: consistent
    assert out[2]["rule"] == "total_mismatch" and out[2]["diff"] == 99.0 - 3.25
    assert out[3]["rule"] == "missing_fact_rows" and out[3]["computed"] is None
    # tolerance swallows the mismatch
    tol = aggregate_consistency(
        facts, parents, "k", "pk", F.col("amt"), "total", tolerance=100.0
    ).collect()
    assert {r["rule"] for r in tol} == {"missing_fact_rows"}


def test_aggregate_consistency_partition_invariant(spark):
    """The decimal(38,12) pre-cast makes the computed total independent of
    partitioning (a raw double sum would not be)."""
    from pyspark.sql import functions as F

    from okay_spark.checks import aggregate_consistency

    rows = [(i % 7, 0.1 + (i % 13) * 0.017) for i in range(2000)]
    facts = spark.createDataFrame(rows, "k bigint, amt double")
    parents = spark.createDataFrame([(i, 1.0) for i in range(7)], "pk bigint, total double")
    a = sorted(
        map(
            tuple,
            aggregate_consistency(
                facts.coalesce(1), parents, "k", "pk", F.col("amt"), "total"
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            aggregate_consistency(
                facts.repartition(11), parents, "k", "pk", F.col("amt"), "total"
            ).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# deterministic Bloom filter: mergeable state, no false negatives, exact
# bloom-pruned referential
# ---------------------------------------------------------------------------


def test_bloom_sketch_mergeable_and_bounded(spark):
    """The sketch of a union is the row-wise OR of the sketches — THE
    property that lets filter state build distributed — and the state never
    exceeds ceil(m_bits/63) rows no matter the key cardinality."""
    from pyspark.sql import functions as F

    from okay_spark.checks import bloom_sketch

    m = 1 << 10
    a = spark.range(0, 5_000).select(F.col("id").alias("k"))
    b = spark.range(5_000, 10_000).select(F.col("id").alias("k"))
    sa = {r["word_idx"]: r["word"] for r in bloom_sketch(a, "k", m_bits=m).collect()}
    sb = {r["word_idx"]: r["word"] for r in bloom_sketch(b, "k", m_bits=m).collect()}
    su = {
        r["word_idx"]: r["word"]
        for r in bloom_sketch(a.unionByName(b), "k", m_bits=m).collect()
    }
    merged = {i: sa.get(i, 0) | sb.get(i, 0) for i in set(sa) | set(sb)}
    assert su == {i: w for i, w in merged.items() if w}
    assert len(su) <= (m + 62) // 63
    # bits live in [0, 62]: no word is negative (bit 63 is the sign bit)
    assert all(w > 0 for w in su.values())


def test_bloom_no_false_negatives(spark):
    """Every inserted key must pass bloom_contains, even on a saturated
    filter — the soundness property the definite-miss branch relies on."""
    from pyspark.sql import functions as F

    from okay_spark.checks import bloom_contains, bloom_sketch, bloom_words

    keys = spark.range(0, 2_000).select(F.col("id").alias("k"))
    for m in (64, 1 << 14):  # saturated and roomy
        words = bloom_words(bloom_sketch(keys, "k", m_bits=m), m_bits=m)
        misses = (
            keys.select(bloom_contains(F.col("k"), words, m_bits=m).alias("h"))
            .filter(~F.col("h"))
            .count()
        )
        assert misses == 0, f"false negative at m_bits={m}"


def test_referential_bloom_matches_plain(spark):
    """The bloom-pruned strategy equals the plain anti-join row-for-row —
    on a roomy filter AND on a deliberately saturated one where most
    violators collide into the confirmation branch."""
    from okay_spark.checks import referential_violations, referential_violations_bloom

    fact, dim = _ref_fixture(spark)
    base = {
        (r["rid"], r["expected"])
        for r in referential_violations(fact, "fk", dim, "pk", id_cols=["rid"]).collect()
    }
    for m in (1 << 14, 64):
        got = {
            (r["rid"], r["expected"])
            for r in referential_violations_bloom(
                fact, "fk", dim, "pk", m_bits=m, id_cols=["rid"]
            ).collect()
        }
        assert got == base and len(base) > 20_000, f"mismatch at m_bits={m}"


def test_referential_bloom_both_branches_nonvacuous(spark):
    """On the saturated driver-entry shape, definite misses AND confirmed
    false positives both carry rows — the certification exercises the
    scan-only split and the exact confirmation, not just one path."""
    from pyspark.sql import functions as F

    from okay_spark.checks import bloom_contains, bloom_sketch, bloom_words

    fact, dim = _ref_fixture(spark)
    # m=128: ~250 insertions over 128 bits partially saturates — small
    # enough for false positives, big enough that misses survive (m=64 is
    # FULLY saturated: every bit set, no definite misses at all)
    m = 128
    words = bloom_words(bloom_sketch(dim, "pk", m_bits=m), m_bits=m)
    flagged = fact.withColumn(
        "_hit", bloom_contains(F.col("fk"), words, m_bits=m)
    ).join(dim, fact["fk"] == dim["pk"], "left_anti")
    split = {
        r["_hit"]: r["n"]
        for r in flagged.groupBy("_hit").agg(F.count("*").alias("n")).collect()
    }
    assert split.get(False, 0) > 0, "no definite misses"
    assert split.get(True, 0) > 0, "no bloom-positive violators (confirmation idle)"


def test_bloom_probe_branch_is_scan_only(spark):
    """The definite-miss branch is a pure codegen scan: the literal word
    array is probed row-locally, so the plan has no Exchange, no join, and
    no Python."""
    from pyspark.sql import functions as F

    from okay_spark.checks import bloom_contains, bloom_sketch, bloom_words

    fact, dim = _ref_fixture(spark)
    m = 1 << 10
    words = bloom_words(bloom_sketch(dim, "pk", m_bits=m), m_bits=m)
    definite = fact.filter(~bloom_contains(F.col("fk"), words, m_bits=m))
    definite.collect()
    plan = definite._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


# ---------------------------------------------------------------------------
# count-min sketch: mergeable state, one-sided frequency guarantee
# ---------------------------------------------------------------------------


def test_cms_sketch_mergeable_and_bounded(spark):
    """The sketch of a union is the cell-wise SUM of the sketches, and the
    state never exceeds depth*width cells no matter the key cardinality."""
    from pyspark.sql import functions as F

    from okay_spark.checks import cms_sketch

    d, w = 3, 64
    a = spark.range(0, 3_000).select(F.pmod(F.col("id"), F.lit(37)).alias("k"))
    b = spark.range(0, 2_000).select(F.pmod(F.col("id"), F.lit(11)).alias("k"))
    sa = {(r["row"], r["bucket"]): r["cnt"] for r in cms_sketch(a, "k", depth=d, width=w).collect()}
    sb = {(r["row"], r["bucket"]): r["cnt"] for r in cms_sketch(b, "k", depth=d, width=w).collect()}
    su = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(a.unionByName(b), "k", depth=d, width=w).collect()
    }
    merged = {c: sa.get(c, 0) + sb.get(c, 0) for c in set(sa) | set(sb)}
    assert su == merged
    assert len(su) <= d * w


def test_cms_frequency_one_sided_and_exact_when_roomy(spark):
    """est >= true count for EVERY key (the guarantee threshold alerts rely
    on), with collisions present at width=32; at width=4096 over 37 keys no
    row collides, so est == true exactly."""
    from pyspark.sql import functions as F

    from okay_spark.checks import cms_frequency, cms_sketch

    df = spark.range(0, 5_000).select(F.pmod(F.xxhash64("id"), F.lit(37)).alias("k"))
    truth = {str(r["k"]): r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    probes = df.dropDuplicates(["k"])
    for w, must_be_exact in ((32, False), (4096, True)):
        est = {
            r["value"]: r["est"]
            for r in cms_frequency(
                cms_sketch(df, "k", depth=4, width=w), probes, "k", depth=4, width=w
            ).collect()
        }
        assert set(est) == set(truth)
        assert all(est[v] >= truth[v] for v in truth), f"undercount at width={w}"
        if must_be_exact:
            assert est == truth
        else:
            assert any(est[v] > truth[v] for v in truth), "width=32 should collide"


def test_cms_unknown_key_estimates_from_collisions_only(spark):
    """A key never inserted still gets a well-defined estimate (the min of
    whatever collided into its cells) — and zero when a cell is empty."""
    from pyspark.sql import functions as F

    from okay_spark.checks import cms_frequency, cms_sketch

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    sk = cms_sketch(df, "k", depth=4, width=4096)
    ghost = spark.createDataFrame([(999_999,)], "k bigint")
    est = cms_frequency(sk, ghost, "k", depth=4, width=4096).collect()
    assert est[0]["est"] == 0


def test_streaming_sketch_parity_all_three(spark, tmp_path):
    """All three deterministic sketches run unchanged as Structured
    Streaming stateful aggregates (their bounded state + associative merge
    IS the streaming state update) and must equal the batch sketch
    exactly — the driver certifies HLL against the shared twin; this pins
    bloom and cms on the same code path."""
    from pyspark.sql import functions as F

    from okay_spark.checks import bloom_sketch, cms_sketch, hll_sketch
    from okay_spark.streaming import stream_stateful_parity

    df = spark.range(0, 4_000, 1, 8).select(F.pmod(F.xxhash64("id"), F.lit(211)).alias("k"))
    cases = [
        ("hll", lambda d: hll_sketch(d, "k", p=5)),
        ("bloom", lambda d: bloom_sketch(d, "k", m_bits=512, k=3)),
        ("cms", lambda d: cms_sketch(d, "k", depth=3, width=128)),
    ]
    for name, build in cases:
        batch = sorted(map(tuple, build(df).collect()))
        streamed = sorted(
            map(
                tuple,
                stream_stateful_parity(
                    spark, df, build, name_prefix=f"t_{name}"
                ).collect(),
            )
        )
        assert streamed == batch, f"{name} stream != batch"


def test_key_skew_stats_detects_hot_key_and_nulls(spark):
    """The profiler ranks the hot key first with an exact count, counts a
    null FK as a key (the wild's most common hot key), computes share as
    one int/int division, and sizes the salt by integer ceil."""
    from pyspark.sql import functions as F

    from okay_spark.salt import key_skew_stats

    fact = spark.range(0, 10_000, 1, 8).select(
        F.when(F.col("id") % 2 == 0, F.lit(999))        # hot: 5000 rows
        .when(F.col("id") % 5 == 0, F.lit(None))        # null: 1000 rows
        .otherwise(F.pmod(F.col("id"), F.lit(97)))      # long tail < 97
        .alias("fk")
    )
    out = key_skew_stats(fact, "fk", target_rows_per_task=300, top_n=3).collect()
    assert [r["fk"] for r in out][:2] == [999, None]
    hot = out[0]
    assert hot["cnt"] == 5_000
    assert hot["share"] == 5_000 / 10_000
    assert hot["suggested_salt"] == (5_000 + 299) // 300
    nul = out[1]
    assert nul["cnt"] == 1_000 and nul["suggested_salt"] == 4


def test_key_skew_stats_partition_invariant(spark):
    """Exact counts + deterministic tie order: the frame is identical on
    any input partitioning (ties at the top-N cut break by key)."""
    from pyspark.sql import functions as F

    from okay_spark.salt import key_skew_stats

    fact = spark.range(0, 6_000).select(F.pmod(F.col("id"), F.lit(40)).alias("fk"))
    a = [tuple(r) for r in key_skew_stats(fact.coalesce(1), "fk", top_n=10).collect()]
    b = [tuple(r) for r in key_skew_stats(fact.repartition(13), "fk", top_n=10).collect()]
    assert a == b and len(a) == 10
    # all 40 keys tie at 150 rows: the cut must be the 10 smallest key ids
    assert [r[0] for r in a] == list(range(10))


def test_ivf_centroids_partition_invariant(spark):
    """The round-4 exactness work on IVF: md5-seeded init and
    decimal(38,12)-summed centroid means make assignments AND returned
    centroids bit-identical on any input partitioning (a raw double avg
    floats with shuffle order — the class of bug the moment discipline
    exists to kill)."""
    from pyspark.sql import functions as F

    from okay_spark.similarity import ivf_assignments

    emb = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j, F.lit("v")), F.lit(1000)) / 500.0 - 1.0
            ).cast("double"),
        ).alias("embedding"),
    )
    a1, c1 = ivf_assignments(emb.coalesce(1), n_lists=8, iters=2)
    a2, c2 = ivf_assignments(emb.repartition(11), n_lists=8, iters=2)
    assert c1 == c2  # exact float equality, not approx
    r1 = sorted(map(tuple, a1.collect()))
    r2 = sorted(map(tuple, a2.collect()))
    assert r1 == r2


def test_winnow_guarantee_and_short_doc_edges(spark):
    """The winnowing guarantee: any shared token run >= k + window - 1
    shares a fingerprint. Short docs: < k tokens emit nothing; >= k but
    fewer grams than the window emit exactly one (the global gram min)."""
    from okay_spark.dedup import winnow_fingerprints, winnow_shared_pairs

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y z a b c d e f g h i j q r s"),   # shares the 10-token run
        (3, "p q"),                               # < k
        (4, "m n o p q"),                         # exactly k -> 1 gram
        (5, "totally unrelated words that appear nowhere else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    per_doc = {
        r["doc_id"]: r["n"]
        for r in winnow_fingerprints(df, k=5, window=4)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert 3 not in per_doc and per_doc[4] == 1
    pairs = {
        (r["a"], r["b"]): r["shared"]
        for r in winnow_shared_pairs(
            df, k=5, window=4, min_shared=1, max_doc_freq=None
        ).collect()
    }
    assert (1, 2) in pairs and len(pairs) == 1  # run of 10 >= 5+4-1


def test_winnow_fingerprints_shuffle_free(spark):
    """Fingerprinting is row-local — the plan is scan -> codegen'd
    projection -> generate, like the battery: no Exchange, no Python."""
    from pyspark.sql import functions as F

    from okay_spark.dedup import winnow_fingerprints

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array(*[F.md5(F.concat(F.col("id").cast("string"), F.lit(str(j)))) for j in range(12)])).alias("text"),
    )
    out = winnow_fingerprints(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_winnow_pairs_df_cap_is_observable_drop(spark):
    """A fingerprint appearing in more docs than max_doc_freq is dropped
    from the posting join (the boilerplate guard); pairs supported only by
    it disappear, everything else is unaffected."""
    from pyspark.sql import functions as F

    from okay_spark.dedup import winnow_shared_pairs

    boiler = " ".join(f"w{j}" for j in range(10))
    rows = [(i, boiler) for i in range(6)] + [
        (10, "q r s t u v w x y z"),
        (11, "m n q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = {
        (r["a"], r["b"])
        for r in winnow_shared_pairs(df, min_shared=1, max_doc_freq=5).collect()
    }
    assert capped == {(10, 11)}  # boiler fps hit 6 docs > cap; real pair kept
