"""Embedding-column analytics for large-scale training-data pipelines.

All pure Column expressions over ``array<float>`` embeddings (JVM-side
higher-order functions — no UDFs, no shuffle beyond the declared groupBy):

- :func:`l2_norm` / :func:`l2_normalize` — vector norms as ``aggregate``.
- :func:`label_centroids` — per-group element-wise mean via a single
  ``posexplode`` + hash aggregate. Output is long-form ``(label, pos,
  centroid)`` so it partitions by (label, pos) at any dimensionality and
  hashes stably cross-engine after rounding.
- :func:`quantize_int8` / :func:`quantization_error` — symmetric per-row
  int8 quantization (scale = 127 / max|v|) with reconstruction-MSE stats,
  the standard storage/ANN compression check.

At cluster scale the posexplode multiplies rows by ``dim`` (64 → 64×) but
every derived row is 20 bytes and the aggregate is partial/map-side combined
on (label, pos) — a wide but shallow shuffle that AQE coalesces. No driver
collection anywhere.

No counterpart in the reference (a single-dict validator,
/root/reference/src/okay/validator.py:10-24); these are the engine-level
embedding checks the north-star brief's pipeline would run alongside
validation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .relops import decimal_avg


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def l2_norm(vec: Column | str) -> Column:
    """Euclidean norm of an array column (double), single ``aggregate``."""
    v = _c(vec)
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(vec: Column | str, *, epsilon: float = 1e-12) -> Column:
    """Unit-normalized copy of the vector (``array<double>``); zero vectors
    map to zeros rather than NaNs."""
    v = _c(vec)
    n = F.greatest(l2_norm(v), F.lit(epsilon))
    return F.transform(v, lambda x: x.cast("double") / n)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    *,
    round_to: int | None = 6,
) -> DataFrame:
    """Element-wise mean embedding per label, long form ``(label, pos,
    centroid, n)``.

    One ``posexplode`` then one hash aggregate keyed on (label, pos): the
    shuffle key cardinality is ``labels × dim`` regardless of row count, and
    the mean is decimal-summed so the result is independent of partial-
    aggregation order (the round-1 float-sum-hash lesson)."""
    lbl, v = F.col(label_col), _c(vec_col)
    exploded = df.select(lbl.alias("label"), F.posexplode(v).alias("pos", "_x"))
    cent = decimal_avg(F.col("_x").cast("double"))
    if round_to is not None:
        cent = F.round(cent, round_to)
    return (
        exploded.groupBy("label", "pos")
        .agg(cent.alias("centroid"), F.count("_x").alias("n"))
        .orderBy("label", "pos")
    )


def quantize_int8(vec: Column | str) -> tuple[Column, Column]:
    """Symmetric int8 quantization: returns ``(scale, q)`` where
    ``scale = 127 / max|v|`` and ``q[i] = floor(v[i] * scale + 0.5)``.

    ``floor(x + 0.5)`` (not ``round``) so Spark and any SQL oracle agree on
    halfway cases bit-for-bit; all arithmetic in IEEE double."""
    v = _c(vec)
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int"))
    return scale, q


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str | None = "label",
    *,
    round_to: int = 8,
) -> DataFrame:
    """Per-label reconstruction error of int8 quantization: mean MSE and
    worst element error. Per-row math is order-free double arithmetic; the
    cross-row mean is decimal-summed, so the whole result hashes stably."""
    v = _c(vec_col)
    scale, q = quantize_int8(v)
    recon_err2 = F.zip_with(
        v, q, lambda x, qi: F.pow(x.cast("double") - qi.cast("double") / scale, F.lit(2.0))
    )
    mse = F.aggregate(recon_err2, F.lit(0.0), lambda acc, e: acc + e) / F.size(v)
    max_abs_err = F.sqrt(F.aggregate(recon_err2, F.lit(0.0), lambda acc, e: F.greatest(acc, e)))
    keys = [F.col(label_col).alias("label")] if label_col else [F.lit(0).alias("label")]
    per_row = df.select(*keys, mse.alias("_mse"), max_abs_err.alias("_maxerr"))
    return (
        per_row.groupBy("label")
        .agg(
            F.round(decimal_avg("_mse"), round_to).alias("avg_mse"),
            F.round(F.max("_maxerr"), round_to).alias("max_abs_err"),
            F.count("*").alias("n"),
        )
        .orderBy("label")
    )


def normalized_self_cosine_check(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Sanity/violation scan: rows whose normalized self-dot deviates from 1
    (zero or non-finite vectors) — the embedding analogue of a null-rule."""
    v = _c(vec_col)
    unit = l2_normalize(v)
    selfdot = F.aggregate(unit, F.lit(0.0), lambda acc, x: acc + x * x)
    return df.select("*", selfdot.alias("_selfdot")).filter(
        (F.col("_selfdot") < 0.999) | (F.col("_selfdot") > 1.001) | F.isnan("_selfdot")
    )


def centroid_separation(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-label cluster-separation quality — a silhouette-style margin
    over label centroids: for every vector, its cosine to its OWN label
    centroid versus the best cosine to any OTHER label centroid; per
    label, the mean own/other similarities, the mean margin, and the
    fraction of vectors sitting closer to their own centroid. Labels
    whose margin hovers near zero are entangled — the signal a pipeline
    reads before trusting label-stratified sampling or classifier-based
    filtering. No counterpart in the reference (single-document
    validator, /root/reference/src/okay/validator.py).

    Output, one row per label: ``(label, n, mean_own, mean_other,
    mean_margin, frac_separated)``. With a single label in the corpus
    ``mean_other``/``mean_margin`` are NULL and ``frac_separated`` 0.

    Exactness: vectors are cast to ``array<double>`` up front (every
    product is a double multiply — the LSH-twin discipline); centroids
    are decimal(38,12)-summed means (partial-aggregation-order-free);
    cosines are zero-seeded SEQUENTIAL folds (DuckDB ``list_reduce``
    with a ``[0.0]`` seed element replays them bit-for-bit); cross-row
    means go through :func:`okay_spark.relops.decimal_avg`; the
    separated fraction is one int/int IEEE division.

    Scale shape: the centroid build is one posexplode + (label, pos)
    hash aggregate (shuffle keys = labels x dim regardless of rows),
    assembled into per-label arrays via a collect_list bounded by
    ``dim``; the scoring pass broadcasts the #labels-row centroid frame
    and fans out each vector by #labels (bounded), then reduces per
    vector and per label — no posting lists, no global sort, one
    corpus-width shuffle for the per-vector reduce."""
    from .dedup import cosine

    v = F.col(vec_col).cast("array<double>")
    exploded = df.select(
        F.col(label_col).alias("_cl"), F.posexplode(v).alias("pos", "_x")
    )
    cents_long = exploded.groupBy("_cl", "pos").agg(
        decimal_avg(F.col("_x")).alias("_cv")
    )
    cents = cents_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "_cv"))),
            lambda s: s["_cv"],
        ).alias("_cent")
    )
    pairs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            v.alias("_v"),
        )
        .join(F.broadcast(cents))
        .select(
            "_id",
            "label",
            "_cl",
            cosine(F.col("_v"), F.col("_cent")).alias("_s"),
        )
    )
    per_vec = pairs.groupBy("_id", "label").agg(
        F.max(F.when(F.col("_cl") == F.col("label"), F.col("_s"))).alias("_own"),
        F.max(F.when(F.col("_cl") != F.col("label"), F.col("_s"))).alias("_oth"),
    )
    margin = F.col("_own") - F.col("_oth")
    n_sep = F.sum(F.when(margin > 0, 1).otherwise(0)).cast("bigint")
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(decimal_avg("_own"), round_to).alias("mean_own"),
        F.round(decimal_avg("_oth"), round_to).alias("mean_other"),
        F.round(decimal_avg(margin), round_to).alias("mean_margin"),
        F.round(
            n_sep.cast("double") / F.count(F.lit(1)).cast("double"), round_to
        ).alias("frac_separated"),
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension embedding health profile: mean, variance, extrema,
    and the exact zero fraction for every vector position — the check
    that catches dead dimensions (variance ~ 0), collapsed encoders
    (all dimensions near-constant), and sparsity shifts after a model
    swap. Complements :func:`label_centroids` (per-label means) with
    corpus-wide second moments. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per dimension: ``(pos, n, mean, var, vmin, vmax,
    frac_zero)``. ``var`` is the population variance spelled in a FIXED
    order — ``s2/n - (s1/n)*(s1/n)`` with both sums accumulated in
    decimal(38,12) and cast back to double (the moment discipline), so
    the result is partial-aggregation-order-free and the DuckDB twin is
    bit-identical; ``frac_zero`` is one int/int IEEE division.

    Scale shape: one posexplode + hash aggregate keyed on ``pos`` —
    shuffle-key cardinality = dim regardless of row count, map-side
    combined; no collect, no window, no join."""
    v = _c(vec_col).cast("array<double>")
    e = df.select(F.posexplode(v).alias("pos", "_x"))
    d = lambda c: c.cast("double")  # noqa: E731
    agg = e.groupBy("pos").agg(
        F.count("_x").cast("bigint").alias("n"),
        F.sum(F.col("_x").cast("decimal(38,12)")).cast("double").alias("_s1"),
        F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,12)"))
        .cast("double")
        .alias("_s2"),
        F.min("_x").alias("_mn"),
        F.max("_x").alias("_mx"),
        F.sum(F.when(F.col("_x") == 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("_nz"),
    )
    n = d(F.col("n"))
    mean = F.col("_s1") / n
    var = F.col("_s2") / n - (F.col("_s1") / n) * (F.col("_s1") / n)
    return agg.select(
        "pos",
        "n",
        F.round(mean, round_to).alias("mean"),
        F.round(var, round_to).alias("var"),
        F.round(F.col("_mn"), round_to).alias("vmin"),
        F.round(F.col("_mx"), round_to).alias("vmax"),
        F.round(d(F.col("_nz")) / n, round_to).alias("frac_zero"),
    )


def embedding_outliers(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    z_threshold: float = 3.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-vector distance-to-own-centroid z-scores — the mislabeled/
    corrupted-embedding detector: a vector sitting many standard
    deviations from its label's centroid is a wrong label, a truncated
    array, or an encoder glitch, and poisons every centroid-based
    downstream step (:func:`centroid_separation`, IVF assignment,
    stratified sampling). Scores the vectors of every label that has a
    centroid (the flag is a column, not a filter, so thresholds can be
    re-derived downstream). The inner join against the centroid frame
    drops rows with a NULL label, and the rows of a label whose
    embeddings are all NULL or empty (it has no centroid). A NULL or
    empty embedding in a label that has a centroid, like any vector whose
    length differs from its label's centroid (as long as the label's
    longest vector), gets a NULL ``dist`` and a NULL z and never flags;
    such a row still counts in its label's moment ``n`` while the
    distance sums skip it, so it shifts the other vectors' z. Labels with
    zero distance variance (singleton or duplicated clusters) report NULL
    z and never flag. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per vector: ``(vec_id, label, dist, z, outlier)``
    with ``outlier`` decided on the RAW z against ``z_threshold``
    (display values rounded).

    Exactness: centroids are decimal(38,12)-summed means; the L2
    distance is a zero-seeded SEQUENTIAL fold over the element-wise
    squared differences (the LSH-twin discipline — DuckDB ``list_reduce``
    with a ``[0.0]`` seed replays it); per-label distance moments
    accumulate per-row decimal(38,12) casts with the fixed
    ``s2/n - (s1/n)^2`` variance order; z is ONE fixed IEEE expression.

    Scale shape: centroid build is one posexplode + (label, pos) hash
    aggregate (shuffle keys = labels x dim); the scored frame joins the
    broadcast #labels-row centroid frame ONCE and localCheckpoints (it
    feeds both the per-label moments and the final projection); moments
    re-aggregate to #labels rows and broadcast back. No posting lists,
    no global sort."""
    v = F.col(vec_col).cast("array<double>")
    exploded = df.select(
        F.col(label_col).alias("_cl"), F.posexplode(v).alias("pos", "_x")
    )
    cents_long = exploded.groupBy("_cl", "pos").agg(
        decimal_avg(F.col("_x")).alias("_cv")
    )
    cents = cents_long.groupBy("_cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "_cv"))),
            lambda s: s["_cv"],
        ).alias("_cent")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("_v"), F.col("_cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(label_col).alias("label"),
            v.alias("_v"),
        )
        .join(F.broadcast(cents), F.col("label") == F.col("_cl"))
        .select("vec_id", "label", dist.alias("_d"))
        .localCheckpoint(eager=False)
    )
    moments = scored.groupBy(F.col("label").alias("_ml")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col("_d").cast("decimal(38,12)")).cast("double").alias("_s1"),
        F.sum((F.col("_d") * F.col("_d")).cast("decimal(38,12)"))
        .cast("double")
        .alias("_s2"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n = d(F.col("_n"))
    mean = F.col("_s1") / n
    var = F.col("_s2") / n - (F.col("_s1") / n) * (F.col("_s1") / n)
    z = F.when(var > 0, (F.col("_d") - mean) / F.sqrt(var))
    return scored.join(F.broadcast(moments), F.col("label") == F.col("_ml")).select(
        "vec_id",
        "label",
        F.round(F.col("_d"), round_to).alias("dist"),
        F.round(z, round_to).alias("z"),
        F.coalesce(z > F.lit(float(z_threshold)), F.lit(False)).alias("outlier"),
    )
