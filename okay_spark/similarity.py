"""Similarity search over embedding columns (array<float>).

Two tiers:

- :func:`brute_force_topk` — exact cosine against one query vector; a single
  projection + ``ORDER BY LIMIT k`` (Spark runs TakeOrderedAndProject: each
  partition keeps its local top-k, the driver merges k*partitions rows — no
  full sort, no shuffle of the table).
- :func:`lsh_knn_join` — the scale path for many-query / all-pairs k-NN:
  random-hyperplane LSH buckets (deterministic, hash-derived planes shared
  with :mod:`okay_spark.dedup`) with multiprobe, exact cosine re-rank inside
  buckets, per-query top-k via window. Shuffle is bucket-local, never
  all-pairs.

Dot products are pure Column expressions (``zip_with`` + ``aggregate``); for
very high dimensions a vectorized Arrow kernel could replace them, but at the
128-dim fixtures the JVM expression path wins (no Python worker round-trip).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import cosine, hyperplane_bucket


def cosine_to_query(vec_col: Column | str, query: list[float]) -> Column:
    """Cosine similarity of each row's vector against one constant query."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    q = F.lit([float(x) for x in query]).cast("array<double>")
    return cosine(v.cast("array<double>"), q)


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for a single query vector."""
    scored = df.select(
        F.col(id_col), cosine_to_query(vec_col, query).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    k: int = 10,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate k-NN join: for each query row, top-k corpus rows by cosine
    among LSH-bucket candidates. Returns (query_id, neighbor_id, score, rank).

    ``max_bucket_size`` (opt-in) md5-samples each corpus bucket down to
    ~cap candidates before the join (okay_spark.dedup.sample_bucket_anchors)
    — the engineered escape when a degenerate embedding distribution floods
    one bucket and turns the candidate join into per-query full scans. The
    tradeoff is recall among the flooded near-ties only; default ``None``
    keeps the exact candidate set (the join itself holds no unbounded
    reducer state).
    """
    from .dedup import sample_bucket_anchors

    qb = hyperplane_bucket(F.col(vec_col).cast("array<double>"), dim, planes=planes)
    cb = hyperplane_bucket(F.col(vec_col).cast("array<double>"), dim, planes=planes)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), qb.alias("_bkt"))
    if multiprobe:
        probes = F.array(F.col("_bkt"), *[F.col("_bkt").bitwiseXOR(F.lit(1 << p)) for p in range(planes)])
        q = q.select("query_id", "_qv", F.explode(probes).alias("_probe"))
    else:
        q = q.select("query_id", "_qv", F.col("_bkt").alias("_probe"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), cb.alias("_probe"))
    c = sample_bucket_anchors(c, "_probe", "neighbor_id", max_bucket_size)

    scored = (
        q.join(c, on="_probe")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_assignments(
    df: DataFrame,
    *,
    n_lists: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic IVF coarse quantizer: k-means with hash-seeded init.

    Initial centroids are per-bucket means under an md5-derived bucket of
    the id (deterministic, no RNG — resumable runs re-derive identical
    lists; md5 rather than xxhash64 because the md5 stream is
    ENGINE-PORTABLE, which is what lets the driver's DuckDB twin replay
    the whole k-means, round 4). Then ``iters`` Lloyd rounds. Every round
    is one broadcast of k x dim floats to executors and one hash aggregate
    (partial means map-side) — no shuffle of the vectors themselves, so
    the build cost at 10^12 rows is iters scans.
    Returns (assignments DataFrame (id, list_id), centroids).

    Exactness discipline: per-dimension means sum in decimal(38,12) (the
    moment rule) so centroids — and therefore every downstream assignment,
    probe ranking, and top-k — are bit-identical on any partitioning and
    any engine. A raw double avg would float with shuffle order.
    """
    v = F.col(vec_col).cast("array<double>")
    work = df.select(F.col(id_col).alias("_id"), v.alias("_v")).filter(F.col("_v").isNotNull())
    init = F.pmod(
        F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 15), 16, 10).cast("bigint"),
        F.lit(n_lists),
    ).cast("int")
    assign = work.withColumn("_list", init)

    def _centroids(assigned: DataFrame) -> list[list[float]]:
        # per-dimension mean via posexplode: the (list, pos) hash aggregate
        # partial-combines map-side (sum/count scalars), unlike a
        # collect_list-of-vectors reduce which would materialize every vector
        # of a group on one reducer; driver receives only k x dim rows.
        # decimal sum -> exact; ONE double division per (list, pos)
        rows = (
            assigned.select("_list", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_list", "_pos")
            .agg(
                (
                    F.sum(F.col("_val").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in rows:
            by_list.setdefault(r["_list"], {})[r["_pos"]] = r["_m"]
        dim = max(max(d) for d in by_list.values()) + 1
        # present centroids in ASCENDING list order: the fallback below is a
        # sequential float sum, so its fold order must not depend on collect
        # row order (dict insertion order was a latent nondeterminism)
        present = [[by_list[i][j] for j in range(dim)] for i in sorted(by_list)]
        # empty lists inherit the global mean of present centroids
        fallback = [sum(c[i] for c in present) / len(present) for i in range(dim)]
        return [
            [by_list[i][j] for j in range(dim)] if i in by_list else fallback
            for i in range(n_lists)
        ]

    cents = _centroids(assign)
    for _ in range(iters):
        assign = _with_nearest_centroid(work, F.col("_v"), cents, "_list")
        cents = _centroids(assign)
    out = assign.select(F.col("_id").alias(id_col), F.col("_list").alias("list_id"))
    return out, cents


def _with_nearest_centroid(
    frame: DataFrame, v: Column, centroids: list[list[float]], out_col: str
) -> DataFrame:
    """Append ``out_col`` = argmax-cosine list id, with an O(1)-size plan.

    The centroids ship as DATA — a broadcast one-row frame carrying the
    whole ``array<array<double>>`` — and the per-centroid cosine runs
    inside a single ``transform`` lambda over that column. The round-1 form
    built ``F.array(*[cosine(v, lit(c)) for c in centroids])``, inlining
    n_lists independent fold trees each carrying a dim-element literal, and
    Catalyst ANALYSIS cost exploded super-linearly: measured 5.6s at
    16x384, 8.7s at 32x384, 19.9s at 64x384, >2min at 256x384 — per Lloyd
    round (``F.lit`` of the nested list is no better: PySpark lowers it to
    nested CreateArray, ~n_lists x dim plan nodes, 47.9s at 256x384). The
    data form analyzes in milliseconds at any (n_lists, dim); the broadcast
    is k x dim doubles (6 MB at 1024x768) — exactly what each Lloyd round
    already shipped conceptually. Per-element evaluation is the IDENTICAL
    expression (same zip_with/aggregate fold, same values), so assignments
    — and the driver's exact DuckDB twin — are bit-for-bit unchanged.
    Tie-break: ``array_position`` of the first maximum == lowest list id,
    matching the twin's ascending-index scan."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    cent_df = frame.sparkSession.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        StructType(
            [StructField("__cents", ArrayType(ArrayType(DoubleType(), False), False), False)]
        ),
    )
    sims = F.transform(F.col("__cents"), lambda c: cosine(v, c))
    lst = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    return (
        frame.crossJoin(F.broadcast(cent_df)).withColumn(out_col, lst).drop("__cents")
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    *,
    n_lists: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Materialize the IVF index: vectors written to ``path`` partitioned by
    ``list_id``, centroids persisted alongside (``_centroids.json``).

    This is the deployment form round 1 only described: with ``list_id`` a
    PARTITION column of the index table, a probe of ``n_probe`` lists is
    partition pruning at scan time — :func:`ivf_search` reads n_probe/n_lists
    of the data and never touches the rest (PartitionFilters asserted by
    tests/test_new_ops.py). Build cost is ``iters + 1`` scans (k-means is
    centroid-broadcast + hash aggregate per round, no vector shuffle) plus
    one write shuffled on ``list_id``.
    """
    import json
    import os

    assign, cents = ivf_assignments(
        df, n_lists=n_lists, iters=iters, vec_col=vec_col, id_col=id_col
    )
    indexed = df.join(assign, on=id_col)
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as fh:
        json.dump(cents, fh)
    return cents


def ivf_search(
    spark,
    path: str,
    query: list[float],
    *,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF index: score the query against the stored
    centroids on the driver (k x dim floats), scan ONLY the ``n_probe``
    nearest list partitions (partition pruning — no data read outside them),
    exact cosine re-rank inside. ``n_probe = n_lists`` degrades to exact
    brute force over the whole index."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as fh:
        cents = json.load(fh)
    qv = [float(x) for x in query]
    ranked = sorted(range(len(cents)), key=lambda i: -_py_cosine(qv, cents[i]))
    probe = ranked[:n_probe]
    candidates = spark.read.parquet(path).filter(F.col("list_id").isin(probe))
    scored = candidates.select(F.col(id_col), cosine_to_query(vec_col, qv).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _py_cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    da = sum(x * x for x in a) ** 0.5
    db = sum(x * x for x in b) ** 0.5
    return num / (da * db) if da > 0 and db > 0 else 0.0


def ivf_topk(
    df: DataFrame,
    query: list[float],
    *,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k for one query: score the query against the k
    centroids on the driver, scan only the ``n_probe`` nearest inverted
    lists, exact cosine re-rank inside them. With assignments persisted (the
    real deployment), each query touches n_probe/n_lists of the data;
    ``n_probe = n_lists`` degrades to exact brute force.
    """
    _assign, cents = ivf_assignments(
        df, n_lists=n_lists, iters=iters, vec_col=vec_col, id_col=id_col
    )
    qv = [float(x) for x in query]
    ranked = sorted(range(len(cents)), key=lambda i: -_py_cosine(qv, cents[i]))
    probe = ranked[:n_probe]
    # Filter by the assignment expression inline — no join, no shuffle. In the
    # persisted deployment list_id is a partition column of the index table,
    # so this filter is partition pruning and only n_probe/n_lists of the
    # data is ever read.
    v = F.col(vec_col).cast("array<double>")
    candidates = _with_nearest_centroid(df.filter(v.isNotNull()), v, cents, "_list").filter(
        F.col("_list").isin(probe)
    )
    scored = candidates.select(
        F.col(id_col), cosine_to_query(vec_col, qv).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ann_recall(
    df: DataFrame,
    query: list[float],
    *,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the IVF probe against the exact brute-force ranking
    for one query — the number that makes an approximate index honest:
    ``n_probe/n_lists`` trades scan fraction for exactly this recall,
    and a pipeline should MEASURE the trade on its own corpus before
    trusting :func:`ivf_topk` in a dedup or retrieval stage. Both sides
    run on the same input with the same deterministic tie-break (score
    desc, then id), so the metric is reproducible to the bit. No
    reference counterpart (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(k, n_hits, recall)`` — ``recall`` one int/int
    IEEE division; integer set intersection, no float comparison
    anywhere in the metric itself.

    Scale shape: the two rankings are the existing operators unchanged
    (IVF scans n_probe/n_lists of the data; brute force one full scan —
    recall measurement is an offline audit, not the serving path); the
    intersection is a k-row broadcast join and one scalar count."""
    approx = ivf_topk(
        df,
        query,
        k=k,
        n_lists=n_lists,
        n_probe=n_probe,
        iters=iters,
        vec_col=vec_col,
        id_col=id_col,
    ).select(F.col(id_col).alias("_ida"))
    exact = brute_force_topk(
        df, query, k=k, vec_col=vec_col, id_col=id_col
    ).select(F.col(id_col).alias("_ide"))
    hits = approx.join(
        F.broadcast(exact), F.col("_ida") == F.col("_ide"), "left_semi"
    )
    return hits.agg(
        F.lit(int(k)).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.lit(float(k)), 6
        ).alias("recall"),
    )
