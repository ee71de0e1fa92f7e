"""Engine-level checks the reference never had (BASELINE.json north_star):
per-column stats, exact uniqueness, referential integrity, distribution
drift, per-partition pass/fail summaries.

Every check is a declarative DataFrame plan so Catalyst handles pushdown,
partial (map-side) aggregation and AQE re-planning. The only shuffles in the
whole engine live here — uniqueness (hash partition by key), referential
(broadcast when the catalog is small, salted sort-merge otherwise), and the
two-level histogram aggregation for drift. Skew handling per
:mod:`okay_spark.salt`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import BooleanType, DecimalType, NumericType

from .engine import violations_array
from .salt import partition_salt, replicate_with_salts
from .schema import CompiledSchema, compile_cached

# ---------------------------------------------------------------------------
# Per-column statistics (one aggregation pass over the table)
# ---------------------------------------------------------------------------


def column_stats(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """count / nulls / null_rate / min / max / mean / approx-distinct per
    column, long format (one output row per column), in ONE wide aggregate —
    partial aggregation map-side, a single reduce, no per-column passes.
    """
    cols = cols or df.columns
    aggs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        dtype = df.schema[c].dataType
        col = F.col("`" + c + "`")
        aggs.append(F.count(col).alias(f"{c}__cnt"))
        aggs.append(F.approx_count_distinct(col, approx_rsd).alias(f"{c}__dist"))
        if isinstance(dtype, NumericType) and not isinstance(dtype, BooleanType):
            num = col.cast("double") if isinstance(dtype, DecimalType) else col
            aggs.append(F.min(num).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(num).cast("double").alias(f"{c}__max"))
            aggs.append(F.avg(num).cast("double").alias(f"{c}__avg"))
        else:
            aggs.append(F.min(col).cast("string").alias(f"{c}__smin"))
            aggs.append(F.max(col).cast("string").alias(f"{c}__smax"))
    wide = df.agg(*aggs)

    structs = []
    for c in cols:
        dtype = df.schema[c].dataType
        numeric = isinstance(dtype, NumericType) and not isinstance(dtype, BooleanType)
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").alias("n_rows"),
                F.col(f"{c}__cnt").alias("n_present"),
                (F.col("_rows") - F.col(f"{c}__cnt")).alias("n_nulls"),
                F.when(F.col("_rows") > 0, (F.col("_rows") - F.col(f"{c}__cnt")) / F.col("_rows"))
                .otherwise(F.lit(None))
                .alias("null_rate"),
                F.col(f"{c}__dist").alias("approx_distinct"),
                (F.col(f"{c}__min") if numeric else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"{c}__max") if numeric else F.lit(None).cast("double")).alias("max_num"),
                (F.col(f"{c}__avg") if numeric else F.lit(None).cast("double")).alias("avg_num"),
                (F.lit(None).cast("string") if numeric else F.col(f"{c}__smin")).alias("min_str"),
                (F.lit(None).cast("string") if numeric else F.col(f"{c}__smax")).alias("max_str"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def schema_table_diff(df: DataFrame, schema) -> DataFrame:
    """Static reconciliation of the declared okay schema against the table's
    Spark schema — the fixed-schema analogue of O17/O18 (missing/extra) at
    TABLE scope, evaluated on the driver with zero data scanned.

    - ``missing_field``: a ``required`` path that cannot resolve anywhere in
      the table schema (the column/member simply does not exist, so every row
      would fail — report once, at the table level, before launching a
      10^12-row job);
    - ``unresolvable_field``: an ``optional``/rule-bearing path that cannot
      resolve (its rules can never fire — almost always a typo);
    - ``extra_field``: a struct member present in the table but not declared
      (topmost path only, matching the reference's pruned walk,
      ``/root/reference/src/okay/index.py:24-26``); suppressed by
      ``ignore_extra_fields()``. MapType segments are open by construction
      and contribute no static extras (their keys are checked per row by the
      engine's ``map_keys`` set-minus).
    """
    from pyspark.sql.types import ArrayType, MapType, StringType, StructType

    from .plan_exploded import _resolves
    from .paths import parse_path

    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    rows: list[tuple[str, str]] = []

    for path, spec in compiled.fields.items():
        if path == ".":
            continue
        if not _resolves(df.schema, parse_path(path)):
            if spec.strictness == "required":
                rows.append((path, "missing_field"))
            elif spec.rules or spec.strictness == "optional":
                rows.append((path, "unresolvable_field"))

    def extras(dtype, fname: str) -> None:
        if isinstance(dtype, StructType):
            for m in dtype.names:
                child = m if fname == "" else f"{fname}.{m}"
                if child not in compiled.fields:
                    rows.append((child, "extra_field"))
                else:
                    extras(dtype[m].dataType, child)
        elif isinstance(dtype, ArrayType):
            elem = fname + "[]"
            if elem in compiled.fields:
                extras(dtype.elementType, elem)
        # MapType: open segment, no static extras

    if not compiled.ignore_extra_fields:
        extras(df.schema, "")

    return df.sparkSession.createDataFrame(
        rows, "path string, rule string"
    )


def distinct_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """EXACT distinct count per column, long format, in ONE aggregate pass.

    ``count(distinct a), count(distinct b), ...`` in a single agg: Spark
    plans one expand + partial/final aggregate (nulls excluded, SQL
    semantics). Use :func:`column_stats` for the sketch-based approximate
    version when exactness isn't required at 10^12 rows."""
    aggs = [F.countDistinct(F.col("`" + c + "`")).alias(c) for c in cols]
    wide = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("col_name"), F.col(c).alias("n_distinct")) for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def approx_distinct_counts(df: DataFrame, cols: list[str], *, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ distinct estimate per column — single pass, O(1) state
    per column, the scale path for cardinality monitoring (exact distinct on
    a 10^12-row key would shuffle the full table)."""
    aggs = [F.approx_count_distinct(F.col("`" + c + "`"), rsd).alias(c) for c in cols]
    wide = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("col_name"), F.col(c).alias("n_distinct_approx"))
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def heavy_hitters(df: DataFrame, col: str, *, k: int = 10) -> DataFrame:
    """Top-k most frequent values with their share of all rows — the input
    to salting decisions (SKEW.md: a key holding >1/parallelism of the rows
    pins a reducer; salt stages keyed on it). Exact two-phase aggregate:
    partial counts map-side, one exchange on the value, top-k on the counts
    (TakeOrdered — per-partition local top-k, no full sort). Deterministic
    tiebreak on the stringified value."""
    c = F.col("`" + col + "`")
    # Fully lazy — no job fires until the caller acts (round 1 ran an EAGER
    # df.count() at construction time: a second full scan and a surprise job
    # before the returned DataFrame was ever used). One real data scan: the
    # per-value counts branch reads the key column; the share denominator is
    # a COUNT(*) branch whose scan projects ZERO columns (ReadSchema
    # struct<>, asserted by tests/test_plan_shapes.py) — on parquet that is
    # footer/page-count work, no column decoding. (A shared single-scan
    # formulation via CUBE + grouping-id filters was tried and rejected:
    # Catalyst's constraint inference pushes the grouping-id predicates below
    # the aggregate, so the two branches never canonicalize equal and
    # ReuseExchange cannot fire.)
    counts = df.filter(c.isNotNull()).groupBy(c.alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = df.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("cnt").desc(), F.col("value").cast("string"))
        .limit(k)
        .select(
            F.col("value").cast("string").alias("value"),
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 6).alias("share"),
        )
    )


def column_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (nats) of each column's value distribution — a
    degenerate-column detector (entropy ~0: constant column; ~ln(n):
    unique-per-row). One aggregate per column over its value counts; only
    (value, count) pairs cross the wire."""
    spark = df.sparkSession
    outs = []
    for col in cols:
        c = F.col("`" + col + "`")
        counts = df.filter(c.isNotNull()).groupBy(c.alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        e = counts.agg(
            F.sum("cnt").alias("n"),
            F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("slc"),
        ).select(
            F.lit(col).alias("col_name"),
            F.col("n").alias("n_values"),
            F.round(
                F.when(F.col("n") > 0, F.log(F.col("n")) - F.col("slc") / F.col("n"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("entropy_nats"),
        )
        outs.append(e)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def numeric_quantiles(df: DataFrame, cols: list[str], probabilities=(0.5, 0.9, 0.99)) -> DataFrame:
    """Approximate quantiles (t-digest style sketch, single pass)."""
    aggs = [
        F.percentile_approx(F.col(c), list(probabilities)).alias(c) for c in cols
    ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(list(probabilities)).alias("p"),
            F.col(c).alias("q"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def exact_quantiles(df: DataFrame, cols: list[str], probabilities=(0.5, 0.9, 0.99)) -> DataFrame:
    """EXACT interpolated quantiles (``percentile``, i.e. a full sort-based
    aggregate) — one tidy row per (column, probability).

    Use :func:`numeric_quantiles` (t-digest sketch, single pass, mergeable)
    on the 10^12-row path; the exact variant exists for the metrics table of
    moderate-cardinality columns and for oracle-checked conformance — its
    linear interpolation matches ANSI ``percentile_cont``.
    """
    probs = list(probabilities)
    aggs = [F.expr(f"percentile(`{c}`, array({', '.join(map(str, probs))}))").alias(c) for c in cols]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.lit(probs).alias("_ps"),
            F.col(c).alias("_qs"),
        )
        for c in cols
    ]
    tall = wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    return tall.select(
        "col_name", F.posexplode(F.arrays_zip(F.col("_ps").alias("p"), F.col("_qs").alias("q")))
    ).select("col_name", F.col("col.p").alias("p"), F.col("col.q").alias("q"))


def exact_quantiles_twopass(
    df: DataFrame,
    cols: list[str],
    probabilities=(0.5, 0.9, 0.99),
    *,
    accuracy: int = 100_000,
) -> DataFrame:
    """EXACT interpolated quantiles with BOUNDED state at any scale — the
    10^12-row replacement for :func:`exact_quantiles` (whose ``percentile``
    aggregate materializes every distinct value of a column on one reducer:
    fine for the fixture-scale metrics table, a full-sort hazard at corpus
    scale).

    Three bounded scans, no full sort:

    1. ``approx_percentile`` (mergeable sketch, rank error <= n/accuracy)
       brackets each target quantile from both sides, plus exact non-null
       counts. Driver receives #cols rows.
    2. One conditional-count aggregate (map-side partial, scalar state)
       computes the exact rank below each bracket's lower edge.
    3. Value-level counts are aggregated ONLY inside the brackets — at most
       ~6n/accuracy rows per (col, probability) BEFORE value dedup — a
       per-(col,p) cumulative sum over those candidates turns exact global
       ranks into the two order statistics percentile_cont interpolates
       between. Driver receives one row.

    Output matches :func:`exact_quantiles` / ANSI ``percentile_cont``
    bit-for-bit (pinned by pytest); nulls and NaN are excluded. ``accuracy``
    trades pass-1 sketch memory against pass-3 candidate volume."""
    probs = [float(p) for p in probabilities]
    margin = 3.0 / accuracy

    def _clean(c: str) -> Column:
        v = F.col(c).cast("double")
        return F.when(v.isNotNull() & ~F.isnan(v), v)

    # pass 1: exact n + sketch brackets per (col, p)
    aggs = []
    for c in cols:
        v = _clean(c)
        lo_ps = [max(0.0, p - margin) for p in probs]
        hi_ps = [min(1.0, p + margin) for p in probs]
        aggs.append(F.count(v).alias(f"n_{c}"))
        aggs.append(
            F.percentile_approx(v, F.lit(lo_ps), F.lit(accuracy)).alias(f"lo_{c}")
        )
        aggs.append(
            F.percentile_approx(v, F.lit(hi_ps), F.lit(accuracy)).alias(f"hi_{c}")
        )
    first = df.agg(*aggs).first()

    plan: list[tuple[str, float, int, float, int, int, float, float]] = []
    empty: list[tuple[str, float]] = []
    for c in cols:
        n = first[f"n_{c}"]
        for j, p in enumerate(probs):
            if not n:
                empty.append((c, p))
                continue
            h = (n - 1) * p
            i = int(math.floor(h))
            f = h - i
            lo, hi = first[f"lo_{c}"][j], first[f"hi_{c}"][j]
            plan.append((c, p, j, f, i + 1, i + 2 if f > 0 else i + 1, lo, hi))

    out_rows: list[tuple[str, float, float | None]] = [(c, p, None) for c, p in empty]
    if plan:
        # pass 2: exact count strictly below each bracket (scalar aggregate)
        below_aggs = [
            F.count(F.when(_clean(c) < F.lit(lo), 1)).alias(f"b_{c}_{j}")
            for c, p, j, f, k1, k2, lo, hi in plan
        ]
        below = df.agg(*below_aggs).first()

        # pass 3: candidate (value, count) inside each bracket, tagged per
        # (col, p) — one scan via explode, then a per-tag cumulative sum over
        # the candidates ONLY (<= ~6n/accuracy rows per tag, value-deduped)
        tags = F.array(
            *[
                F.struct(
                    F.lit(f"{c}\x00{j}").alias("tag"),
                    F.when(
                        (_clean(c) >= F.lit(lo)) & (_clean(c) <= F.lit(hi)), _clean(c)
                    ).alias("v"),
                )
                for c, p, j, f, k1, k2, lo, hi in plan
            ]
        )
        cand = (
            df.select(F.explode(tags).alias("s"))
            .select("s.tag", "s.v")
            .filter(F.col("v").isNotNull())
            .groupBy("tag", "v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = (
            Window.partitionBy("tag")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ranked = cand.withColumn("cum", F.sum("cnt").over(w))
        pick_aggs = []
        for c, p, j, f, k1, k2, lo, hi in plan:
            tag, b = f"{c}\x00{j}", below[f"b_{c}_{j}"]
            hit = F.col("tag") == F.lit(tag)
            pick_aggs.append(
                F.min(F.when(hit & (F.lit(b) + F.col("cum") >= F.lit(k1)), F.col("v"))).alias(
                    f"v1_{c}_{j}"
                )
            )
            pick_aggs.append(
                F.min(F.when(hit & (F.lit(b) + F.col("cum") >= F.lit(k2)), F.col("v"))).alias(
                    f"v2_{c}_{j}"
                )
            )
        picked = ranked.agg(*pick_aggs).first()
        for c, p, j, f, k1, k2, lo, hi in plan:
            v1, v2 = picked[f"v1_{c}_{j}"], picked[f"v2_{c}_{j}"]
            q = v1 if f == 0 or v2 is None else v1 + f * (v2 - v1)
            out_rows.append((c, p, q))

    spark = df.sparkSession
    return spark.createDataFrame(out_rows, "col_name string, p double, q double")


def quantile_drift(
    current: DataFrame,
    reference: DataFrame,
    cols: list[str],
    probabilities=(0.25, 0.5, 0.9),
    *,
    round_to: int = 4,
) -> DataFrame:
    """Per-quantile drift between two slices: exact interpolated quantiles
    of each side joined on (column, probability) with the absolute gap —
    the tail-sensitive companion to PSI/KS (a shifted p99 moves `drift`
    where a binned PSI can stay flat). Each side is ONE sort-based
    aggregate producing #cols x #probs rows; the join is trivially small.
    Quantiles are rounded before differencing so the gap is reproducible
    across engines (matches ANSI percentile_cont interpolation)."""
    qc = exact_quantiles(current, cols, probabilities).select(
        "col_name", "p", F.round("q", round_to).alias("q_current")
    )
    qr = exact_quantiles(reference, cols, probabilities).select(
        "col_name", "p", F.round("q", round_to).alias("q_reference")
    )
    joined = qc.join(qr, ["col_name", "p"])
    return joined.select(
        "col_name",
        F.round("p", 2).alias("p"),
        "q_current",
        "q_reference",
        F.round(F.abs(F.col("q_current") - F.col("q_reference")), round_to).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Exact uniqueness (hash-repartitioned aggregate; optional explicit salting)
# ---------------------------------------------------------------------------


def duplicate_keys(df: DataFrame, key_cols: list[str] | str, *, salt_buckets: int | None = None) -> DataFrame:
    """Keys occurring more than once, with their counts.

    The plain path is a hash aggregate — Spark already applies partial
    (map-side) combine, so each duplicate key ships one row per input
    partition regardless of skew. ``salt_buckets`` adds an explicit two-stage
    pre-aggregation keyed by (key, physical-partition salt) for the
    heavy-hitter case where even the final single-key reduce is too hot.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if salt_buckets:
        partial = (
            df.withColumn("_salt", partition_salt(salt_buckets))
            .groupBy(*keys, "_salt")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        counts = partial.groupBy(*keys).agg(F.sum("_c").alias("cnt"))
    else:
        counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.filter(F.col("cnt") > 1)


def uniqueness_violations(df: DataFrame, key_col: str = "doc_id", **kwargs) -> DataFrame:
    """Duplicate keys as violation rows (doc_id, rule, path, expected)."""
    dups = duplicate_keys(df, key_col, **kwargs)
    return dups.select(
        F.col(key_col),
        F.lit(key_col).alias("path"),
        F.lit("duplicate_key").alias("rule"),
        F.to_json(F.struct(F.col("cnt").alias("count"))).alias("expected"),
    )


# ---------------------------------------------------------------------------
# Referential integrity (broadcast or salted sort-merge anti-join)
# ---------------------------------------------------------------------------


def referential_violations(
    fact: DataFrame,
    fk_col: str | list[str],
    dim: DataFrame,
    pk_col: str | list[str],
    *,
    id_cols: list[str] | None = None,
    broadcast: bool = True,
    salt_buckets: int | None = None,
    key_reduce: bool = False,
    max_broadcast_keys: int = 5_000_000,
    path: str | None = None,
) -> DataFrame:
    """Rows of ``fact`` whose non-null key is absent from ``dim`` — a
    left-anti existence join, emitted as violation rows. ``fk_col`` /
    ``pk_col`` may be single columns or equal-length lists (composite
    keys); a fact row participates when EVERY key part is non-null (a
    partially-null composite key is a nullability problem for the rule
    battery, not a referential one).

    Join strategy ladder, by dim size and data health:

    - ``broadcast=True`` (default): hint the dim side — the right choice
      whenever the catalog fits in executor memory.
    - ``key_reduce=True`` (takes precedence): the big-dim fast path when
      violations are RARE (the normal state of a production corpus).
      Referential violations live at KEY granularity, so the fact table
      itself never shuffles: distinct fact keys partial-combine map-side
      (a hot key collapses to one row per map task BEFORE the exchange —
      skew vanishes with no salting), the key-level anti-join touches
      ``|distinct fact keys| + |dim|`` rows only, and the violating-key
      set — counted, and broadcast only while ``<= max_broadcast_keys`` —
      joins back over a second fact scan to recover row-level violation
      rows. At 10^12 fact rows this replaces a full-table sort-merge
      shuffle with two scans plus a distinct-key shuffle.
    - ``broadcast=False`` + ``salt_buckets``: row-level salted sort-merge,
      for when violations are too numerous for key reduction AND the dim
      is too large to broadcast — the dim side is replicated per salt and
      the fact side salted deterministically, so one hot FK value spreads
      over ``salt_buckets`` sort-merge tasks (AQE skew handling does not
      apply to anti-joins' build side in all cases; explicit salt is
      deterministic).
    """
    fks = [fk_col] if isinstance(fk_col, str) else list(fk_col)
    pks = [pk_col] if isinstance(pk_col, str) else list(pk_col)
    if len(fks) != len(pks):
        raise ValueError(f"fk/pk arity mismatch: {fks} vs {pks}")
    id_cols = id_cols if id_cols is not None else [c for c in fact.columns if c == "doc_id"]
    cond = None
    for f_ in fks:
        c = F.col(f_).isNotNull()
        cond = c if cond is None else (cond & c)
    probe = fact.filter(cond)
    dim_keys = dim.select(
        *[F.col(p).alias(f"__pk{i}") for i, p in enumerate(pks)]
    ).dropDuplicates([f"__pk{i}" for i in range(len(pks))])

    def key_eq(left, right):
        eq = None
        for i, f_ in enumerate(fks):
            c = left[f_] == right[f"__pk{i}"]
            eq = c if eq is None else (eq & c)
        return eq

    if key_reduce:
        fact_keys = probe.select(
            *[F.col(f_).alias(f"__bk{i}") for i, f_ in enumerate(fks)]
        ).dropDuplicates([f"__bk{i}" for i in range(len(fks))])
        bk_eq = None
        for i in range(len(fks)):
            c = fact_keys[f"__bk{i}"] == dim_keys[f"__pk{i}"]
            bk_eq = c if bk_eq is None else (bk_eq & c)
        # localCheckpoint: the bad-key set is counted (broadcast decision)
        # and then joined — one evaluation, and the truncated lineage also
        # breaks the probe->fact_keys self-join ambiguity
        bad_keys = fact_keys.join(dim_keys, on=bk_eq, how="left_anti").localCheckpoint(
            eager=True
        )
        n_bad = bad_keys.count()
        # a pathologically-broken corpus (more violating keys than fit in
        # executor memory) falls back to a shuffled hash join — fact still
        # shuffles just once, with no sort; never a silent OOM
        build = F.broadcast(bad_keys) if n_bad <= max_broadcast_keys else bad_keys
        semi_eq = None
        for i, f_ in enumerate(fks):
            c = probe[f_] == build[f"__bk{i}"]
            semi_eq = c if semi_eq is None else (semi_eq & c)
        missing = probe.join(build, on=semi_eq, how="left_semi")
    elif broadcast:
        missing = probe.join(
            F.broadcast(dim_keys), on=key_eq(probe, dim_keys), how="left_anti"
        )
    elif salt_buckets:
        # hint("merge") pins the sort-merge strategy: without it, Catalyst's
        # auto-broadcast threshold silently converts a small-dim test run to a
        # broadcast join and the salting never engages — the plan must have
        # the same shape at sf0.01 and at 10^12 rows for the audit to mean
        # anything
        # the probe salt MUST vary *within* a key (partition-derived) — a salt
        # hashed from the key itself sends every hot-key row to the same
        # reducer and defeats the whole construction (caught by
        # scripts/skew_bench.py's max-reducer-share metric)
        salted_dim = replicate_with_salts(dim_keys, salt_buckets).hint("merge")
        probe = probe.withColumn("_salt", partition_salt(salt_buckets))
        missing = probe.join(
            salted_dim,
            on=key_eq(probe, salted_dim) & (probe["_salt"] == salted_dim["_salt"]),
            how="left_anti",
        ).drop("_salt")
    else:
        missing = probe.join(
            dim_keys.hint("merge"), on=key_eq(probe, dim_keys), how="left_anti"
        )

    return missing.select(
        *id_cols,
        F.lit(path or ",".join(fks)).alias("path"),
        F.lit("unknown_reference").alias("rule"),
        F.to_json(F.struct(*[F.col(f_).alias(f_ if len(fks) > 1 else "value") for f_ in fks])).alias("expected"),
    )


def referential_valid(
    fact: DataFrame,
    fk_col: str,
    dim: DataFrame,
    pk_col: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Rows of ``fact`` whose ``fk_col`` DOES resolve in ``dim`` — the
    left-semi complement of :func:`referential_violations`, used to feed only
    referentially-sound documents into downstream pipeline stages. Same join
    strategy rules (broadcast the dim when it fits)."""
    dim_keys = dim.select(F.col(pk_col).alias("__pk")).dropDuplicates(["__pk"])
    if broadcast:
        dim_keys = F.broadcast(dim_keys)
    else:
        dim_keys = dim_keys.hint("merge")
    return fact.join(dim_keys, on=fact[fk_col] == dim_keys["__pk"], how="left_semi")


def media_ref_violations(
    docs: DataFrame,
    catalog: DataFrame,
    *,
    broadcast: bool = True,
    salt_buckets: int | None = None,
    key_reduce: bool = False,
) -> DataFrame:
    """North-star referential check: every spans[].media_ref must exist in the
    media catalog. Emits instance paths (``spans[3].media_ref``)."""
    refs = docs.select(
        "doc_id", F.posexplode_outer("spans").alias("_i", "_s")
    ).select(
        "doc_id",
        F.col("_s.media_ref").alias("media_ref"),
        F.concat(F.lit("spans["), F.col("_i").cast("string"), F.lit("].media_ref")).alias("_path"),
    ).filter(F.col("media_ref").isNotNull())

    out = referential_violations(
        refs,
        "media_ref",
        catalog,
        "media_ref",
        id_cols=["doc_id", "_path"],
        broadcast=broadcast,
        salt_buckets=salt_buckets,
        key_reduce=key_reduce,
    )
    return out.select(
        "doc_id", F.col("_path").alias("path"), "rule", "expected"
    )


# ---------------------------------------------------------------------------
# Distribution drift: PSI + two-sample KS over binned histograms
# ---------------------------------------------------------------------------


def numeric_histogram(
    df: DataFrame, col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Fixed-edge histogram: two-level aggregate (partial per partition ->
    final), outliers clamped to the edge buckets, nulls dropped."""
    width = (hi - lo) / bins if hi > lo else 1.0
    c = F.col(col).cast("double")
    bucket = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(width)), F.lit(0)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.filter(c.isNotNull() & ~F.isnan(c))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_metrics(
    current: DataFrame,
    reference: DataFrame,
    col: str,
    *,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
    epsilon: float = 1e-6,
) -> dict:
    """PSI and two-sample-KS between ``current`` and ``reference`` on a
    numeric column. Bin edges come from the reference extent (the snapshot
    being compared against), so both sides aggregate into the same buckets —
    two shuffle-light histogram aggregates plus a driver-side combine over
    ``bins`` rows."""
    if lo is None or hi is None:
        ext = reference.agg(
            F.min(F.col(col).cast("double")).alias("lo"),
            F.max(F.col(col).cast("double")).alias("hi"),
        ).first()
        lo = lo if lo is not None else ext["lo"]
        hi = hi if hi is not None else ext["hi"]

    cur = {r["bucket"]: r["cnt"] for r in numeric_histogram(current, col, lo, hi, bins).collect()}
    ref = {r["bucket"]: r["cnt"] for r in numeric_histogram(reference, col, lo, hi, bins).collect()}
    n_cur, n_ref = sum(cur.values()), sum(ref.values())
    psi = 0.0
    ks = 0.0
    cdf_c = cdf_r = 0.0
    for b in range(bins):
        p = (cur.get(b, 0) / n_cur) if n_cur else 0.0
        q = (ref.get(b, 0) / n_ref) if n_ref else 0.0
        pe, qe = max(p, epsilon), max(q, epsilon)
        psi += (pe - qe) * math.log(pe / qe)
        cdf_c += p
        cdf_r += q
        ks = max(ks, abs(cdf_c - cdf_r))
    return {
        "column": col,
        "bins": bins,
        "lo": lo,
        "hi": hi,
        "n_current": n_cur,
        "n_reference": n_ref,
        "psi": psi,
        "ks": ks,
    }


def categorical_drift_frame(
    current: DataFrame, reference: DataFrame, col: str, *, epsilon: float = 1e-6
) -> DataFrame:
    """PSI over categorical proportions (null as its own category) as a
    ONE-ROW DataFrame ``(psi, n_current, n_reference)`` — fully engine-side.

    Plan shape (the scale-safe one): UNION the two inputs with a side tag
    and count both sides per category in ONE keyed aggregate (the full-outer
    join of two aggregates the oracle SQL spells out, collapsed into a
    single shuffle — no null-safe join, and the union's partial aggregation
    combines map-side). Grand totals are a single-row aggregate broadcast
    back over the per-category rows; a final sum of per-category PSI terms
    produces the one output row. Nothing proportional to category
    cardinality ever reaches the driver — a high-cardinality column at 100x
    scale stays distributed end to end (round 1 collected one row per
    category, a driver OOM at 10^12 rows).

    PSI terms are summed in decimal so the result is independent of
    partial-aggregation order (same determinism fix as
    :func:`okay_spark.relops.decimal_sum`).
    """
    tagged = current.select(F.col(col).alias("_k"), F.lit(1).alias("_s")).unionByName(
        reference.select(F.col(col).alias("_k"), F.lit(0).alias("_s"))
    )
    j = tagged.groupBy("_k").agg(
        F.sum("_s").cast("double").alias("_c"),
        F.sum(F.lit(1) - F.col("_s")).cast("double").alias("_r"),
    )
    tot = j.agg(F.sum("_c").alias("_nc"), F.sum("_r").alias("_nr"))
    terms = j.crossJoin(F.broadcast(tot)).select(
        "_nc",
        "_nr",
        F.greatest(
            F.when(F.col("_nc") > 0, F.col("_c") / F.col("_nc")).otherwise(F.lit(0.0)),
            F.lit(epsilon),
        ).alias("_p"),
        F.greatest(
            F.when(F.col("_nr") > 0, F.col("_r") / F.col("_nr")).otherwise(F.lit(0.0)),
            F.lit(epsilon),
        ).alias("_q"),
    )
    term = (F.col("_p") - F.col("_q")) * F.log(F.col("_p") / F.col("_q"))
    return terms.agg(
        F.sum(term.cast("decimal(38,18)")).cast("double").alias("psi"),
        F.max("_nc").cast("bigint").alias("n_current"),
        F.max("_nr").cast("bigint").alias("n_reference"),
    )


def categorical_drift(current: DataFrame, reference: DataFrame, col: str, *, epsilon: float = 1e-6) -> dict:
    """Dict facade over :func:`categorical_drift_frame` (one row collected)."""
    row = categorical_drift_frame(current, reference, col, epsilon=epsilon).first()
    return {
        "column": col,
        "psi": row["psi"] if row["psi"] is not None else 0.0,
        "n_current": row["n_current"] or 0,
        "n_reference": row["n_reference"] or 0,
    }


def pairwise_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_by: list[str] | str | None = None,
) -> DataFrame:
    """Pearson correlation with ORDER-INDEPENDENT accumulation.

    ``F.corr`` sums doubles in partial-aggregation order, so its last ulps
    vary run to run — the same nondeterminism class as the round-1 flaky
    oracle cell. Here every accumulator (sum x, y, x^2, y^2, xy) is summed in
    ``decimal(38,12)`` (exact, associative) and the correlation assembled
    from those scalars, so any partitioning yields the identical bit pattern
    — and the same SQL on DuckDB reproduces it. One hash aggregate; pairs
    with a null/NaN on either side are excluded (SQL ``corr`` semantics)."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    xs, ys = F.when(both, x), F.when(both, y)

    def dec(c: Column) -> Column:
        return F.sum(c.cast("decimal(38,12)")).cast("double")

    n = F.count(xs)
    sx, sy = dec(xs), dec(ys)
    sxx, syy, sxy = dec(xs * xs), dec(ys * ys), dec(xs * ys)
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    aggs = [
        n.alias("n"),
        F.when(den > 0, num / den).alias("corr"),
    ]
    if group_by is None:
        return df.agg(*aggs)
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    return df.groupBy(*keys).agg(*aggs)


# ---------------------------------------------------------------------------
# Per-partition pass/fail summaries (north rule)
# ---------------------------------------------------------------------------


def partition_summary(
    df: DataFrame, schema, partition_cols: list[str] | str = "part"
) -> DataFrame:
    """One row per partition: docs, failed docs, violation count, pass rate.

    Computed in the SAME pass as the rule battery (the violations array is a
    projection; the only shuffle is the final tiny groupBy on the partition
    key) — no second scan of the table. No Python runs unless the schema has
    ``custom`` (or Python-dialect regex) rules, which are Arrow-batched as in
    :func:`okay_spark.engine.validate_dataframe`."""
    parts = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    n_viol = F.size(violations_array(df.schema, compiled))
    return (
        df.select(*parts, n_viol.alias("_nv"))
        .groupBy(*parts)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nv").alias("n_violations"),
            F.count_if(F.col("_nv") > 0).alias("n_failed_docs"),
        )
        .withColumn(
            "pass_rate",
            F.when(
                F.col("n_docs") > 0,
                (F.col("n_docs") - F.col("n_failed_docs")) / F.col("n_docs"),
            ),
        )
    )


def rule_summary(df: DataFrame, schema, partition_cols: list[str] | str = "part") -> DataFrame:
    """Violation counts per (partition, rule, path) — rollup-ready."""
    parts = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    return (
        df.select(*parts, F.explode(violations_array(df.schema, compiled)).alias("_v"))
        .groupBy(*parts, F.col("_v.rule").alias("rule"), F.col("_v.path").alias("path"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ks_exact(
    current: DataFrame,
    reference: DataFrame,
    col: str,
    *,
    partitions: int = 32,
    round_to: int = 6,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic (one row: ``ks_stat,
    n_current, n_reference``) — the unbinned twin of :func:`drift_metrics`'s
    binned KS.

    The textbook formulation (one global ordered window) collapses every
    distinct value onto a single task, which is the classic exact-KS
    scale-killer. This plan is a distributed prefix sum instead:

    1. one aggregate keyed on the value (per-value counts for both sides);
    2. ``repartitionByRange`` on the value — each partition holds a
       contiguous value range, cumulative sums are local windows;
    3. per-partition totals (≤ ``partitions`` rows — bounded by the chosen
       partition count, never by data size) come back to the driver once and
       return as a broadcast offsets table;
    4. global ECDF gap = local cumsum + range offset; one max-aggregate.

    The ECDF is evaluated after each distinct value (right-continuous), and
    values occurring in only one side still contribute because the union
    carries every distinct value. All math is exact integer counts until the
    final two divisions, so the statistic is bit-stable across partitionings
    (and reproducible by the DuckDB oracle)."""
    from pyspark.sql import Window

    x = F.col(col).cast("double")
    u = current.select(x.alias("x"), F.lit(1).alias("c1"), F.lit(0).alias("c2")).unionAll(
        reference.select(x.alias("x"), F.lit(0).alias("c1"), F.lit(1).alias("c2"))
    )
    per_val = (
        u.filter(F.col("x").isNotNull())
        .groupBy("x")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    ranged = per_val.repartitionByRange(partitions, "x").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("x")
    local = ranged.withColumn("l1", F.sum("c1").over(w)).withColumn(
        "l2", F.sum("c2").over(w)
    )
    local = local.localCheckpoint(eager=True)  # pid is physical: pin it before reuse
    totals = (
        local.groupBy("pid")
        .agg(F.max("l1").alias("t1"), F.max("l2").alias("t2"))
        .orderBy("pid")
        .collect()  # <= `partitions` rows by construction
    )
    spark = current.sparkSession
    off1 = off2 = 0
    offsets = []
    for r in totals:
        offsets.append((r["pid"], off1, off2))
        off1 += r["t1"]
        off2 += r["t2"]
    n1, n2 = off1, off2
    if n1 == 0 or n2 == 0:
        raise ValueError(
            f"ks_exact({col!r}): both sides need at least one non-null value "
            f"(n_current={n1}, n_reference={n2})"
        )
    off_df = spark.createDataFrame(offsets, "pid int, o1 bigint, o2 bigint")
    gaps = local.join(F.broadcast(off_df), on="pid").select(
        F.abs(
            (F.col("l1") + F.col("o1")) / F.lit(float(n1))
            - (F.col("l2") + F.col("o2")) / F.lit(float(n2))
        ).alias("gap")
    )
    return gaps.agg(
        F.round(F.max("gap"), round_to).alias("ks_stat"),
        F.lit(n1).alias("n_current"),
        F.lit(n2).alias("n_reference"),
    )


# ---------------------------------------------------------------------------
# Outlier detection
# ---------------------------------------------------------------------------


def numeric_outliers(
    df: DataFrame,
    value_col: str,
    *,
    z_threshold: float = 3.0,
    id_cols: list[str] | None = None,
    group_by: list[str] | str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Rows whose value lies more than ``z_threshold`` population standard
    deviations from the mean — the anomaly twin of :func:`column_stats`.
    With ``group_by``, moments are computed per group and each row is
    judged against ITS group's mean/stddev (a $5 coffee is normal, a $5
    wire transfer is not).

    Moments accumulate in ``decimal(38,12)`` (exact, associative — the same
    order-independence discipline as :func:`pairwise_corr`), so mean and
    stddev are bit-identical on any partitioning and the SQL oracle
    reproduces every comparison. Two scans by design: one tiny moments
    aggregate (1 row, or #groups rows, broadcast back) and one filter scan
    — the fact table itself is never shuffled, and the z-expression runs
    inside codegen. ``broadcast=True`` (default) assumes moderate group
    cardinality (the usual case for status/type/partition keys); pass
    ``broadcast=False`` for a group key with millions of values to drop the
    stats join to a plain shuffle join instead of collecting #groups rows
    onto every executor (mirrors ``referential_violations``). NaN/null
    values are excluded from both the moments and the output."""
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v)
    vs = F.when(ok, v)
    aggs = [
        F.count(vs).alias("_n"),
        F.sum(vs.cast("decimal(38,12)")).cast("double").alias("_s"),
        F.sum((vs * vs).cast("decimal(38,12)")).cast("double").alias("_ss"),
    ]
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    stats = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    mean = F.col("_s") / F.col("_n")
    std = F.sqrt(F.greatest(F.col("_ss") / F.col("_n") - mean * mean, F.lit(0.0)))
    zcol = F.when(std > 0, F.abs(v - mean) / std).otherwise(F.lit(0.0))
    keep = keys + [c for c in (id_cols or []) if c not in keys] + [value_col]
    base = df.filter(ok)
    stats_side = F.broadcast(stats) if broadcast else stats
    joined = (
        base.join(stats_side, on=keys)
        if keys
        else base.crossJoin(F.broadcast(stats))  # global moments: always 1 row
    )
    return joined.filter(zcol > z_threshold).select(*keep, F.round(zcol, 6).alias("z"))


def violation_exemplars(
    violations: DataFrame,
    id_col: str = "doc_id",
    *,
    per_rule: int = 3,
) -> DataFrame:
    """Per-(path, rule) violation counts with the ``per_rule`` smallest
    offending ids as concrete examples — the triage report a validation run
    feeds an on-call human (the reference emits a flat message list only,
    /root/reference/src/okay/validator.py:7-16).

    Scale shape: the count is one hash aggregate; the examples reuse
    :func:`okay_spark.balance.cap_per_group`'s two-phase window, so a rule
    violated by half the corpus contributes ``per_rule`` rows per shard to
    the final per-rule sort, never the whole group. The example array is
    bounded at ``per_rule`` elements by construction."""
    from .balance import cap_per_group

    counts = violations.groupBy("path", "rule").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    ex = cap_per_group(
        violations.select("path", "rule", id_col),
        ["path", "rule"],
        max_rows=per_rule,
        order_col=id_col,
    )
    examples = ex.groupBy("path", "rule").agg(
        F.sort_array(F.collect_list(id_col)).alias("example_ids")
    )
    return counts.join(examples, ["path", "rule"])


def cross_field_rule(
    df: DataFrame,
    *,
    when: Column | str,
    expect: Column | str,
    path: str,
    rule: str = "cross_field_violation",
    id_cols: list[str],
) -> DataFrame:
    """Declarative cross-field conditional rule: rows where ``when`` holds
    but ``expect`` does not are violations at ``path``.

    In the reference the ONLY way to express "if A then B" across fields is
    a ``custom`` callable on a common ancestor
    (/root/reference/docs/user-guide.md:354-375) — which on this engine
    means the Arrow slow path. This lowers the pattern to a pure Column
    predicate instead: it runs inside whole-stage codegen in the same scan
    pipeline as the battery, shuffle-free, zero Python. A null ``expect``
    is a failure when ``when`` holds (SQL three-valued logic is collapsed
    with ``coalesce(expect, false)``), matching what a user means by
    "purchases must have a value"."""
    w = F.expr(when) if isinstance(when, str) else when
    e = F.expr(expect) if isinstance(expect, str) else expect
    return df.filter(w & ~F.coalesce(e, F.lit(False))).select(
        *[F.col(c) for c in id_cols],
        F.lit(path).alias("path"),
        F.lit(rule).alias("rule"),
    )


def element_rule(
    df: DataFrame,
    array_col: str,
    *,
    when,
    expect,
    field: str,
    id_cols: list[str],
    rule: str = "cross_field_violation",
) -> DataFrame:
    """Per-element conditional rule over an ``array<struct>`` column — the
    array analog of :func:`cross_field_rule`: for every element where
    ``when(elem)`` holds but ``expect(elem)`` does not, emit a violation at
    ``{array_col}[i].{field}``.

    ``when`` / ``expect`` are callables Column -> Column over the element
    struct (e.g. ``lambda s: s["kind"] == F.lit("text")``). A null ``expect``
    counts as a failure when ``when`` holds (coalesced to false), mirroring
    cross_field_rule. All offending indices are reported (unlike
    span_order_violations, which reports only the first of a per-doc chain).

    Plan shape: transform-with-index marks offenders, ``F.filter`` drops the
    rest, one shuffle-free ``posexplode``-style generate fans out violations
    — no Python, no Exchange; linear in total element count."""
    arr = F.col(array_col)
    marked = F.transform(
        arr,
        lambda e, i: F.when(
            F.coalesce(when(e), F.lit(False)) & ~F.coalesce(expect(e), F.lit(False)), i
        ),
    )
    hits = F.filter(marked, lambda x: x.isNotNull())
    return (
        df.select(*[F.col(c) for c in id_cols], F.explode(hits).alias("_i"))
        .select(
            *[F.col(c) for c in id_cols],
            F.format_string(f"{array_col}[%d].{field}", F.col("_i").cast("int")).alias("path"),
            F.lit(rule).alias("rule"),
        )
    )


def span_order_violations(
    df: DataFrame,
    array_col: str,
    field: str,
    *,
    id_cols: list[str],
    strict: bool = True,
    rule: str = "out_of_order_element",
) -> DataFrame:
    """Cross-element sequence constraint: ``field`` must be increasing
    (strictly when ``strict``) along the ``array_col`` struct array — the
    north-rule span-ORDER invariant (spans sorted by offset within a doc).

    The reference validates one element at a time (index.py:11-51 fans each
    element out independently) and can only express adjacency constraints via
    a ``custom`` callable on the whole list — the Python slow path. Here it
    is a pure Column expression: the array is zipped with its own tail
    (``zip_with`` pads the tail with nulls; null comparisons are skipped by
    ``array_position``), so the check runs inside whole-stage codegen in the
    same scan pipeline as the battery — shuffle-free, zero Python, linear in
    total span count, independent of how skewed per-doc span counts are.

    Emits one violation per offending document at the FIRST out-of-order
    element: ``(id_cols..., path='{array_col}[i].{field}', rule)`` with the
    0-based index of the later element of the offending adjacent pair. Null
    elements/fields compare to null and are skipped (the rule battery already
    reports them as ``null_value``)."""
    arr = F.col(array_col)
    tail = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    if strict:
        bad = F.zip_with(arr, tail, lambda a, b: b[field] <= a[field])
    else:
        bad = F.zip_with(arr, tail, lambda a, b: b[field] < a[field])
    pos = F.array_position(bad, F.lit(True))  # 1-based zip slot = 0-based index of the later element
    return (
        df.filter(F.size(arr) > 1)
        .select(*[F.col(c) for c in id_cols], pos.alias("_pos"))
        .filter(F.col("_pos") > 0)
        .select(
            *[F.col(c) for c in id_cols],
            F.format_string(f"{array_col}[%d].{field}", F.col("_pos").cast("int")).alias("path"),
            F.lit(rule).alias("rule"),
        )
    )

def adjacent_pair_violations(
    df: DataFrame,
    array_col: str,
    *,
    id_cols: list[str],
    pred,
    rule: str,
    field: str | None = None,
) -> DataFrame:
    """Generic adjacency rule over a struct array: emit one violation for
    EVERY adjacent pair ``(arr[i], arr[i+1])`` where ``pred(prev, next)``
    holds. The interleave-pattern analog of :func:`span_order_violations`
    (which reports only the first ordering break per document): pass
    ``pred=lambda a, b: (a['kind'] == 'media') & (b['kind'] == 'media')``
    to forbid two media spans in a row on the north-rule shape — a
    constraint the reference can only express as a ``custom`` callable over
    the whole list (the Python slow path; its element fan-out at
    /root/reference/src/okay/index.py:11-51 validates elements
    independently and cannot see neighbours).

    Paths point at the LATER element of the offending pair:
    ``{array_col}[i+1]`` (or ``{array_col}[i+1].{field}`` when ``field`` is
    given). A null predicate result (null fields involved) is skipped — the
    rule battery already reports those as ``null_value``.

    Scale shape: ``zip_with`` the array with its own tail, then ONE
    ``posexplode`` over the boolean zip — shuffle-free, zero Python, whole-
    stage codegen in the same scan pipeline as the battery, linear in total
    element count regardless of per-doc skew."""
    arr = F.col(array_col)
    tail = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    bad = F.zip_with(arr, tail, lambda a, b: pred(a, b))
    suffix = f".{field}" if field else ""
    return (
        df.filter(F.size(arr) > 1)
        .select(*[F.col(c) for c in id_cols], F.posexplode(bad).alias("_i", "_bad"))
        .filter(F.col("_bad"))
        .select(
            *[F.col(c) for c in id_cols],
            F.format_string(f"{array_col}[%d]{suffix}", (F.col("_i") + 1).cast("int")).alias(
                "path"
            ),
            F.lit(rule).alias("rule"),
        )
    )

def hll_sketch(df: DataFrame, col: str, *, p: int = 6) -> DataFrame:
    """Deterministic HyperLogLog sketch state: one row per non-empty
    register, ``(bucket, max_rho)``. Unlike ``approx_count_distinct``
    (whose JVM-internal hash cannot be replayed outside Spark), every step
    here is an md5-derived integer expression a SQL oracle reproduces
    bit-for-bit — so the distributed sketch STATE is exactly certifiable,
    while the scalar estimate stays a driver-side fold over at most 2^p
    rows (:func:`hll_estimate`). The reference has no approximate
    operators at all (per-document validation only,
    /root/reference/src/okay/validator.py).

    Construction (Flajolet et al. 2007, HyperLogLog):

    - 60-bit hash ``h`` from the md5 hex prefix (15 nibbles — the same
      cross-engine stream every fixture twin uses);
    - register index ``bucket = h mod 2^p``; remainder ``rest = h div 2^p``
      has ``K = 60 - p`` usable bits;
    - ``rho = K - bitlen(rest) + 1`` (leading-zero count + 1), where
      ``bitlen`` is the length of the minimal binary string — an exact
      integer identity for ``floor(log2)+1``, never a float log;
    - per-register state is ``max(rho)``: a tiny hash aggregate with
      partial (map-side) max combine and at most 2^p result rows.

    Mergeability — THE property that makes sketches work on a cluster —
    is literal here: the sketch of a union is the row-wise max of the
    sketches (pytest-pinned). Nulls are skipped, matching count_distinct.
    """
    m = 1 << p
    k = 60 - p
    c = F.col(col).cast("string")
    h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
    bucket = F.pmod(h, F.lit(m))
    # h >> p, NOT h / m: bigint '/' goes through double and a 60-bit value
    # loses its low bits past 2^53
    rest = F.shiftright(h, p)
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(k + 1)).otherwise(F.lit(k) - bitlen + 1)
    return (
        df.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.cast("bigint").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(sketch: DataFrame, *, p: int = 6) -> float:
    """Fold a :func:`hll_sketch` frame into the HLL cardinality estimate.

    Driver-side over at most 2^p rows (the one bounded collect). Standard
    bias-corrected form: ``E = alpha_m * m^2 / sum(2^-M_j)`` with the
    small-range correction ``m * ln(m / V)`` when ``E <= 2.5m`` and ``V``
    registers are empty. The float math lives HERE, after the exact
    distributed state — the driver entry certifies the state, pytest
    bounds the estimate's relative error and pins merge-equality."""
    import math

    m = 1 << p
    rows = sketch.collect()
    regs = {int(r["bucket"]): int(r["max_rho"]) for r in rows}
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def aggregate_consistency(
    fact: DataFrame,
    parent: DataFrame,
    fact_key: str,
    parent_key: str,
    measure: Column,
    stored_col: str,
    *,
    tolerance: float = 0.0,
) -> DataFrame:
    """Cross-table AGGREGATE consistency: flag parent rows whose stored
    total disagrees with the fact-side aggregate (orders.o_totalprice vs
    the sum over its lineitems), plus parents with no fact rows at all.
    Referential integrity checks membership; this checks the NUMBERS — the
    other half of cross-table validation, and nothing the per-document
    reference can express (validator.py sees one document at a time).

    Output: one row per violating parent —
    ``(parent_key, stored, computed, diff, rule)`` with rule
    ``total_mismatch`` (|stored - computed| > tolerance) or
    ``missing_fact_rows`` (no fact rows; computed/diff null).

    Exactness discipline: ``measure`` is evaluated in double (IEEE ops are
    deterministic), then CAST per-row to decimal(38,12) BEFORE the sum —
    decimal addition is associative, so the total is bit-identical on any
    partitioning and any engine (the numeric_outliers / pairwise_corr
    moment rule). Outputs are cast back to double for materialization
    stability.

    Domain bound: the diff is computed at decimal(37,12) (see below), so
    stored/computed magnitudes must stay below 10^25 — with ANSI mode on
    (this engine's config) a larger total raises a cast-overflow error at
    runtime rather than emitting a row. That is 10 orders of magnitude
    above any currency/quantity total that fits a double's 2^53 integer
    range exactly, so the bound is theoretical for the operator's intended
    inputs; for data that can legitimately exceed it, pre-scale the
    measure (e.g. sum in millions) before calling.

    Scale shape: the fact side partial-aggregates map-side, so only one
    pre-aggregated row per key reaches the shuffle; the parent join is an
    equi-join on the key (broadcast when the aggregate is small, AQE
    otherwise). Two designed shuffles, bounded reducer state.
    """
    dec = "decimal(38,12)"
    # Subtracting two decimal(38,12) operands needs precision 39, so Spark
    # drops the result to scale 11 (half-up) while other engines keep scale
    # 12 — the diff column would diverge in its 12th decimal. Subtract at
    # decimal(37,12) instead: max(25,25)+12+1 = 38 fits, full scale kept.
    dsub = "decimal(37,12)"
    agg = fact.groupBy(F.col(fact_key).alias(parent_key)).agg(
        F.sum(measure.cast(dec)).alias("_computed")
    )
    stored_dec = F.col(stored_col).cast(dec)
    joined = parent.join(agg, on=parent_key, how="left")
    diff = stored_dec.cast(dsub) - F.col("_computed").cast(dsub)
    return (
        joined.select(
            F.col(parent_key),
            F.col(stored_col).cast("double").alias("stored"),
            F.col("_computed").cast("double").alias("computed"),
            diff.cast("double").alias("diff"),
            F.when(F.col("_computed").isNull(), F.lit("missing_fact_rows"))
            .when(
                F.abs(diff) > F.lit(tolerance).cast(dec), F.lit("total_mismatch")
            )
            .alias("rule"),
        )
        .filter(F.col("rule").isNotNull())
    )


def _bloom_hash(value_str: Column) -> Column:
    """ONE md5-derived 60-bit integer per key — the same cross-engine hash
    stream as hll_sketch, so a SQL oracle replays it bit-for-bit. All k
    probe positions derive from this single hash (see :func:`_bloom_pos`):
    ``conv`` (hex -> bigint) is ~4x the cost of the md5 itself (measured
    ~0.35us/row each extra conv over 600k rows), so one hash + integer
    arithmetic beats k independent hashes ~5x on the probe scan."""
    return F.conv(F.substring(F.md5(value_str), 1, 15), 16, 10).cast("bigint")


def _bloom_pos(h: Column, i: int, m_bits: int) -> Column:
    """Bit position of probe ``i`` via Kirsch-Mitzenmacher double hashing:
    ``pos_i = (h1 + i*h2) mod m`` with ``h1`` the low 30 bits and ``h2``
    the high 30 bits forced odd — k positions from one hash, preserving
    the Bloom false-positive guarantee (Kirsch & Mitzenmacher 2006).
    ``h1 + k*h2 < (k+1) * 2^30`` never overflows a bigint."""
    h1 = F.pmod(h, F.lit(1 << 30))
    h2 = F.shiftright(h, 30).bitwiseOR(F.lit(1))
    return F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))


def bloom_sketch(df: DataFrame, col: str, *, m_bits: int = 1 << 16, k: int = 5) -> DataFrame:
    """Deterministic Bloom filter state over ``df[col]``: one row per
    non-zero 63-bit word, ``(word_idx, word)``. Like :func:`hll_sketch`,
    every step is an md5-derived integer Column expression, so the
    distributed filter STATE is exactly certifiable by a SQL oracle —
    unlike Spark's built-in ``bloom_filter_agg``, whose binary layout
    cannot be replayed outside the JVM.

    Construction: each key hashes ONCE (:func:`_bloom_hash`) and emits
    ``k`` probe positions by double hashing (:func:`_bloom_pos`);
    position ``pos`` sets bit ``pos % 63`` of word ``pos // 63``. Words
    hold 63 bits, not 64 — bit 63 is the BIGINT sign bit, and ``1 << 63``
    overflows on engines with checked arithmetic.
    Per-word state is ``bit_or`` — associative/commutative with map-side
    partial combine, at most ``ceil(m_bits / 63)`` result rows. The
    sketch of a union is the row-wise OR of the sketches (pytest-pinned
    mergeability). Nulls are skipped, matching referential semantics.

    Scale: the aggregate state is bounded by ``m_bits`` regardless of key
    cardinality — the filter for a billion-key dim at ~10 bits/key is
    ~150M words spread across reducers, and the collected form
    (:func:`bloom_words`) is what a real cluster would broadcast.
    """
    # project the hash once per row, then fan out k cheap integer positions
    hashed = df.filter(F.col(col).isNotNull()).select(
        _bloom_hash(F.col(col).cast("string")).alias("_h")
    )
    probes = hashed.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("_h"), i, m_bits) for i in range(k)])
        ).alias("pos")
    )
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), F.pmod(F.col("pos"), F.lit(63)).cast("int")
    )
    return (
        probes.select(
            F.floor(F.col("pos") / F.lit(63)).cast("int").alias("word_idx"),
            mask.alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def bloom_words(sketch: DataFrame, *, m_bits: int) -> list[int]:
    """Collect a :func:`bloom_sketch` frame into the dense word list a
    probe expression indexes. The one bounded collect: ``ceil(m_bits/63)``
    longs — the driver-side stand-in for a cluster broadcast variable."""
    n_words = (m_bits + 62) // 63
    words = [0] * n_words
    for r in sketch.collect():
        words[int(r["word_idx"])] = int(r["word"])
    return words


def bloom_contains(col: Column, words: list[int], *, m_bits: int, k: int = 5) -> Column:
    """Row-local Bloom membership test: True iff every probe bit is set.
    Pure codegen Column expression over a literal word array — zero
    shuffle, zero Python. False means DEFINITELY absent (no false
    negatives); True means present-or-false-positive.

    Cost discipline (measured over 600k rows): the md5+conv hash is the
    expensive part (~2us/row) and expression trees get NO common-
    subexpression reuse in the interpreted evaluator, so the hash is
    computed ONCE by binding it as the element of a one-element
    ``transform`` — every probe term references the bound lambda
    variable, integer-only. The k probes themselves are an unrolled AND
    chain over compile-time constants, not a ``forall`` HOF (first
    version cost ~9s/600k: k md5+conv pairs re-evaluated per row).

    The word array is built as ONE parsed SQL literal, never
    ``F.lit(words)``: PySpark expands a Python list into per-element
    ``lit`` py4j calls, which costs ~2.7s of DRIVER time at m_bits=2^18
    (4161 words) — and this expression is instantiated once per probe
    site, so the literal form put ~5.5s of pure plan-build into every
    bloom-referential query (measured; the IVF centroid lesson again:
    large constants must not be built element-by-element through py4j).
    The parsed ``array(...)`` is all-foldable, so Catalyst constant-folds
    it to a single Literal — execution is identical. Words are 63-bit
    (never negative), so plain decimal rendering round-trips exactly."""
    arr = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")

    def bit_set(h: Column, i: int) -> Column:
        pos = _bloom_pos(h, i, m_bits)
        word = F.element_at(arr, F.floor(pos / F.lit(63)).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), F.pmod(pos, F.lit(63)).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    def all_set(h: Column) -> Column:
        out = bit_set(h, 0)
        for i in range(1, k):
            out = out & bit_set(h, i)
        return out

    return F.element_at(
        F.transform(F.array(_bloom_hash(col.cast("string"))), all_set), 1
    )


def cms_sketch(df: DataFrame, col: str, *, depth: int = 4, width: int = 1024) -> DataFrame:
    """Deterministic count-min sketch over ``df[col]``: one row per
    non-empty counter, ``(row, bucket, cnt)``. Completes the sketch trio
    — :func:`hll_sketch` (cardinality), :func:`bloom_sketch` (membership),
    this (frequency) — and like the other two, every hash is an
    md5-derived integer Column expression, so the distributed sketch
    STATE is exactly certifiable by a SQL oracle.

    Construction (Cormode & Muthukrishnan 2005): each value increments
    one counter per hash row, ``bucket = md5(value|row) mod width``; the
    aggregate is a plain count with map-side partial combine and at most
    ``depth * width`` result rows — frequency monitoring whose state is
    bounded by parameters, not key cardinality. Mergeability is literal:
    the sketch of a union is the cell-wise SUM of the sketches
    (pytest-pinned). Nulls are skipped.
    """
    rows = df.filter(F.col(col).isNotNull()).select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
        F.col(col).cast("string").alias("_v"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.col("_v"), F.col("row").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(width),
    )
    return (
        rows.select(F.col("row").cast("int").alias("row"), bucket.cast("int").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_frequency(
    sketch: DataFrame, probes: DataFrame, col: str, *, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-query a :func:`cms_sketch`: for every probe key, the
    estimated frequency ``est = min over hash rows of the counter it
    lands in``. The count-min guarantee — ``est >= true count`` always,
    ``est <= true + eps * N`` with high probability — is one-sided, so a
    threshold alert on ``est`` can over-fire but never miss a heavy
    hitter (pytest pins the lower bound exactly).

    Plan shape: probes fan out ``depth`` rows each, equi-join the sketch
    (broadcast — the sketch is at most ``depth * width`` rows by
    construction), then one hash aggregate keyed by probe value. Nothing
    scales with the sketched table's size; missing cells mean a count of
    zero (the key never hashed there).
    """
    fan = probes.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("value"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.col("value"), F.col("row").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(width),
    )
    keyed = fan.select("value", F.col("row").cast("int").alias("row"), bucket.cast("int").alias("bucket"))
    joined = keyed.join(F.broadcast(sketch), on=["row", "bucket"], how="left")
    return (
        joined.groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def referential_violations_bloom(
    fact: DataFrame,
    fk_col: str,
    dim: DataFrame,
    pk_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
    id_cols: list[str] | None = None,
    path: str | None = None,
    max_broadcast_keys: int = 5_000_000,
) -> DataFrame:
    """Bloom-pruned referential check, EXACT by construction: equals
    :func:`referential_violations` row-for-row while moving most of the
    work off the join.

    Three-stage plan for the 10^12-fact x 10^9-dim case where the dim is
    too big to broadcast and violations are too common for pure key
    reduction:

    1. **Filter build** — one bounded-state aggregate over the dim
       (:func:`bloom_sketch`, state <= m_bits/63 words), collected/
       broadcast once (:func:`bloom_words`).
    2. **Scan-only split** — every fact row evaluates
       :func:`bloom_contains` in whole-stage codegen. Rows whose key
       misses the filter are DEFINITE violations (a Bloom filter has no
       false negatives): they reach the output with ZERO joins and zero
       shuffles.
    3. **Exact confirmation** — only bloom-POSITIVE keys (valid keys plus
       the ~fpr sliver of colliding violators) are distinct-reduced and
       anti-joined against the dim; survivors join back broadcast (counted
       first, falling back to a shuffled join past ``max_broadcast_keys``
       — never a silent OOM).

    The filter is a PRUNER, not the verdict: stage 3 restores exactness,
    so false positives cost only work, never correctness (equality with
    the plain anti-join is both pytest-pinned and driver-certified against
    the NOT IN oracle). Single-column keys only — composite keys go
    through :func:`referential_violations`.

    **When NOT to use this**: the strategy pays a per-row hash (k probe
    positions off one md5) to let definite misses exit scan-side. If the
    violation rate is ~0, every row is bloom-positive, the filter prunes
    nothing, and the plan degenerates to the key-reduce strategy plus pure
    hash overhead — ``referential_violations(strategy="key_reduce")`` is
    strictly cheaper there. Reach for bloom when violations are common
    enough that skipping the join for the miss rows pays for the hashing
    (rule of thumb: expected miss rate >~ a few percent of fact rows), or
    when the distinct fact-key set is too large to shuffle comfortably and
    the dim fits the filter's m_bits budget.

    Output-plan shape (single-pass): the fact is scanned ONCE in the
    returned frame — rows are marked by a left broadcast join against the
    checkpointed bad-key set and filtered on ``NOT hit OR marked`` (a
    definite miss can never equal a bloom-positive bad key, so the
    disjunction reproduces the two-branch union exactly). The bad-key
    pre-pass scans the fact a second time (distinct bloom-positive keys
    anti-joined against the dim); materializing the probe frame instead
    would trade that bounded re-scan for checkpointing 10^12 rows — the
    re-scan is the scale-correct choice.
    """
    id_cols = id_cols if id_cols is not None else [c for c in fact.columns if c == "doc_id"]
    words = bloom_words(bloom_sketch(dim, pk_col, m_bits=m_bits, k=k), m_bits=m_bits)
    probe = fact.filter(F.col(fk_col).isNotNull()).withColumn(
        "_bloom_hit", bloom_contains(F.col(fk_col), words, m_bits=m_bits, k=k)
    )
    # Pre-pass hashes per DISTINCT key, not per row: distinct first (map-side
    # partial combine, the key_reduce discipline), THEN bloom-probe the
    # distinct keys — on a 10^12-row fact with 10^9 distinct keys that is a
    # 1000x reduction in pre-pass hash work for the same bad-key set
    # (measured 4.3s -> 0.7s on the sf0.1 truncated-part fixture). The
    # probe predicate is OR-tied to the aggregated count: a deterministic
    # predicate on the group key alone would be PUSHED BELOW the aggregate
    # by Catalyst and hash every fact row again — `_c < 0` is never true
    # (counts are >= 1), so the filter is exactly `bloom_contains`, but the
    # reference to `_c` pins it above the distinct.
    pos_keys = (
        fact.filter(F.col(fk_col).isNotNull())
        .groupBy(F.col(fk_col).alias("__bk"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(
            bloom_contains(F.col("__bk"), words, m_bits=m_bits, k=k)
            | (F.col("_c") < 0)
        )
        .select("__bk")
    )
    dim_keys = dim.select(F.col(pk_col).alias("__pk")).dropDuplicates(["__pk"])
    # localCheckpoint: counted for the broadcast decision, then joined —
    # one evaluation (the referential_violations key_reduce precedent)
    bad_keys = pos_keys.join(
        dim_keys, on=pos_keys["__bk"] == dim_keys["__pk"], how="left_anti"
    ).localCheckpoint(eager=True)
    build = F.broadcast(bad_keys) if bad_keys.count() <= max_broadcast_keys else bad_keys
    marked = probe.join(build, on=probe[fk_col] == build["__bk"], how="left")
    missing = marked.filter((~F.col("_bloom_hit")) | F.col("__bk").isNotNull())
    return missing.select(
        *id_cols,
        F.lit(path or fk_col).alias("path"),
        F.lit("unknown_reference").alias("rule"),
        F.to_json(F.struct(F.col(fk_col).alias("value"))).alias("expected"),
    )


def functional_dependency_violations(
    df: DataFrame,
    determinant: list[str] | str,
    dependent: list[str] | str,
) -> DataFrame:
    """Functional-dependency check: determinant columns should map to ONE
    combination of dependent columns (nation_key -> nation_name, sku ->
    unit, user_id -> signup_country). Returns the violating determinant
    groups — ``(det..., n_rows, n_values, min_value, max_value)`` where
    ``n_values`` is the exact count of distinct dependent combinations
    (> 1 by construction) and min/max_value bracket them as rendered
    strings (chr(31)-joined, chr(0) for NULL — the :func:`snapshot_diff`
    rendering), giving a bounded example of the disagreement without ever
    collecting a value list.

    This is a CROSS-ROW rule the per-document reference cannot express
    (validator.py sees one document at a time) — the third member of the
    cross-table family with referential integrity (membership) and
    aggregate consistency (totals).

    Scale shape: two hash aggregates, both with map-side partial combine —
    (det, dep) pair counts first (a hot determinant collapses to one row
    per distinct dependent per map task), then scalar-only aggregates per
    determinant (sum/count/min/max — never a collect_list/set, the
    rare_token_stats discipline). NULL determinants group normally (an
    all-null det with 2 dependent values IS a violation worth seeing);
    NULL dependents count as a distinct combination, matching SQL GROUP BY
    null-equality on both engines.
    """
    det = [determinant] if isinstance(determinant, str) else list(determinant)
    dep = [dependent] if isinstance(dependent, str) else list(dependent)
    pair = df.groupBy(*det, *dep).agg(F.count(F.lit(1)).alias("_n"))
    rendered = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in dep]
    )
    return (
        pair.select(*det, rendered.alias("_v"), "_n")
        .groupBy(*det)
        .agg(
            F.sum("_n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_values"),
            F.min("_v").alias("min_value"),
            F.max("_v").alias("max_value"),
        )
        .filter(F.col("n_values") > 1)
    )


def iqr_outliers(
    df: DataFrame,
    col: str,
    *,
    factor: float = 1.5,
    id_cols: list[str] | None = None,
    accuracy: int = 100_000,
) -> DataFrame:
    """Tukey-fence outliers: rows whose value falls outside
    ``[q1 - factor*(q3-q1), q3 + factor*(q3-q1)]`` — the ROBUST
    counterpart of :func:`numeric_outliers` (whose z-scores an extreme
    tail inflates: one 10^9 value widens sigma until nothing else flags;
    quartiles don't move). The standard default ``factor=1.5``.

    Output: ``(id_cols..., value, fence, rule)`` with rule ``iqr_low`` /
    ``iqr_high`` and ``fence`` the crossed bound.

    Scale shape: quartiles come from :func:`exact_quantiles_twopass`
    (bounded state at any scale — sketch bracket + exact in-bracket
    interpolation, never a full sort); the driver receives two doubles,
    and the flagging pass is a pure codegen filter scan — zero joins.
    The fences are EXACT interpolated quartiles, matching ANSI
    ``percentile_cont`` / DuckDB ``quantile_cont`` linear interpolation.
    NULL values never flag (they are the battery's null_value rule).
    """
    ids = id_cols if id_cols is not None else [c for c in df.columns if c == "doc_id"]
    qs = {
        r["p"]: r["q"]
        for r in exact_quantiles_twopass(df, [col], (0.25, 0.75), accuracy=accuracy).collect()
    }
    q1, q3 = qs[0.25], qs[0.75]
    if q1 is None or q3 is None:  # empty / all-null column: nothing can flag
        lo, hi = None, None
    else:
        iqr = q3 - q1
        lo, hi = q1 - factor * iqr, q3 + factor * iqr
    v = F.col(col)
    rule = (
        F.when(v < F.lit(lo), F.lit("iqr_low")).when(v > F.lit(hi), F.lit("iqr_high"))
        if lo is not None
        else F.lit(None).cast("string")
    )
    fence = F.when(v < F.lit(lo), F.lit(lo)).when(v > F.lit(hi), F.lit(hi)) if lo is not None else F.lit(None).cast("double")
    return (
        df.filter(v.isNotNull())
        .select(*ids, v.cast("double").alias("value"), fence.cast("double").alias("fence"), rule.alias("rule"))
        .filter(F.col("rule").isNotNull())
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    *,
    k: float = 3.5,
    id_cols: list[str] | None = None,
    accuracy: int = 100_000,
) -> DataFrame:
    """Median/MAD robust-z outliers: rows where ``|x - median| > k * scale``
    with ``scale = 1.4826 * MAD`` (MAD = median of ``|x - median|``; 1.4826
    makes the scale estimate consistent with sigma under normality). The
    third member of the outlier family — :func:`numeric_outliers` (z-score,
    tail-inflatable), :func:`iqr_outliers` (Tukey fences), and this one,
    the classical robust-z with a 50% breakdown point.

    Output: ``(id_cols..., value, robust_z, rule)`` with rule ``mad_low`` /
    ``mad_high``. Degenerate corpus (MAD == 0, e.g. >50% of rows share one
    value): every value != median flags with ``robust_z`` NULL — the
    deviation is real but the scale is unmeasurable; the DuckDB twin
    replays the same branch. NULL/NaN values never flag (the battery's
    null_value rule owns those).

    Scale shape: BOTH medians come from :func:`exact_quantiles_twopass`
    (sketch bracket + exact in-bracket interpolation — bounded state at
    10^12 rows, never a full sort); the driver receives two doubles and
    the flagging pass is a pure codegen filter scan, zero joins. The fence
    arithmetic is replicated op-for-op in the oracle so comparisons are
    IEEE-exact on both engines.
    """
    ids = id_cols if id_cols is not None else [c for c in df.columns if c == "doc_id"]
    med_rows = exact_quantiles_twopass(df, [col], (0.5,), accuracy=accuracy).collect()
    med = med_rows[0]["q"] if med_rows else None
    v = F.col(col)
    if med is None:  # empty / all-null column: nothing can flag
        return (
            df.select(
                *ids,
                v.cast("double").alias("value"),
                F.lit(None).cast("double").alias("robust_z"),
                F.lit(None).cast("string").alias("rule"),
            ).filter(F.col("rule").isNotNull())
        )
    dev = df.select(F.abs(v.cast("double") - F.lit(med)).alias("_dev"))
    mad = exact_quantiles_twopass(dev, ["_dev"], (0.5,), accuracy=accuracy).collect()[0]["q"]
    scale = 1.4826 * mad
    vd = v.cast("double")
    if scale > 0:
        # lo/hi computed driver-side with the SAME operation order as the
        # SQL twin: med -/+ k * (1.4826 * mad)
        lo = med - k * scale
        hi = med + k * scale
        rule = F.when(vd < F.lit(lo), F.lit("mad_low")).when(vd > F.lit(hi), F.lit("mad_high"))
        rz = (vd - F.lit(med)) / F.lit(scale)
    else:
        rule = F.when(vd < F.lit(med), F.lit("mad_low")).when(vd > F.lit(med), F.lit("mad_high"))
        rz = F.lit(None).cast("double")
    return (
        df.filter(vd.isNotNull() & ~F.isnan(vd))
        .select(*ids, vd.alias("value"), rz.alias("robust_z"), rule.alias("rule"))
        .filter(F.col("rule").isNotNull())
    )


def js_divergence_frame(
    current: DataFrame, reference: DataFrame, col: str, *, epsilon: float = 1e-6
) -> DataFrame:
    """Jensen-Shannon divergence over categorical proportions (natural log,
    so the range is [0, ln 2]) as a ONE-ROW DataFrame ``(js, n_current,
    n_reference)`` — the bounded, symmetric companion of
    :func:`categorical_drift_frame`'s PSI, which explodes when a category
    vanishes from one side (the epsilon floor caps it but the scale is
    arbitrary); JS stays finite and comparable across columns by
    construction.

    Plan shape: identical to PSI — UNION with a side tag, ONE keyed
    aggregate for both sides' counts (map-side partial combine), grand
    totals as a single-row broadcast back over the per-category rows, and
    a final decimal(38,18) sum of per-category terms so the result is
    independent of partial-aggregation order. Nothing proportional to
    category cardinality reaches the driver. Proportions are floored at
    ``epsilon`` exactly like PSI so the two metrics see the same inputs.
    """
    tagged = current.select(F.col(col).alias("_k"), F.lit(1).alias("_s")).unionByName(
        reference.select(F.col(col).alias("_k"), F.lit(0).alias("_s"))
    )
    j = tagged.groupBy("_k").agg(
        F.sum("_s").cast("double").alias("_c"),
        F.sum(F.lit(1) - F.col("_s")).cast("double").alias("_r"),
    )
    tot = j.agg(F.sum("_c").alias("_nc"), F.sum("_r").alias("_nr"))
    terms = j.crossJoin(F.broadcast(tot)).select(
        "_nc",
        "_nr",
        F.greatest(
            F.when(F.col("_nc") > 0, F.col("_c") / F.col("_nc")).otherwise(F.lit(0.0)),
            F.lit(epsilon),
        ).alias("_p"),
        F.greatest(
            F.when(F.col("_nr") > 0, F.col("_r") / F.col("_nr")).otherwise(F.lit(0.0)),
            F.lit(epsilon),
        ).alias("_q"),
    )
    # operation order is load-bearing for the oracle: m is spelled inline
    # as (p + q) / 2 in BOTH engines, each product left-associated
    m = (F.col("_p") + F.col("_q")) / F.lit(2.0)
    term = F.lit(0.5) * F.col("_p") * F.log(F.col("_p") / m) + F.lit(0.5) * F.col(
        "_q"
    ) * F.log(F.col("_q") / m)
    return terms.agg(
        F.sum(term.cast("decimal(38,18)")).cast("double").alias("js"),
        F.max("_nc").cast("bigint").alias("n_current"),
        F.max("_nr").cast("bigint").alias("n_reference"),
    )


def benford_first_digit(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-significant-digit conformance — the classic
    fabricated/synthetic-numerics screen for columns that span several
    orders of magnitude (amounts, populations, file sizes). The reference
    validator has no distributional checks at all (per-document rules only,
    /root/reference/src/okay/validator.py); this extends the drift family
    (:func:`drift_metrics`, :func:`js_divergence_frame`) with a
    fixed-reference-distribution test.

    Output: exactly nine rows ``(digit, n_observed, observed_share,
    expected_share, chi2)`` for digits 1-9 — zero-count digits keep their
    row (they contribute ``n * p_d`` to the statistic). ``chi2`` is the
    global Pearson statistic carried on every row (the broadcast-back
    discipline of ``key_skew_stats.share``); compare to the 5%/1% critical
    values for 8 degrees of freedom (15.51 / 20.09).

    Engine portability: the first significant digit is extracted from the
    value's shortest-round-trip string form (``regexp_extract(cast(abs(x)
    as string), '[1-9]', 0)``) — the shortest decimal representation of a
    double is unique, so Spark (Java) and DuckDB print the same digit
    sequence whatever their exponent formatting, and the leading nonzero
    digit is identical by construction. Zero, NULL, NaN and infinities are
    excluded (no nonzero digit / not finite). ``expected_share`` is spelled
    ``ln((d+1)/d) / ln(10)`` on BOTH engines ((d+1)/d is a correctly-rounded
    small-int division, and ``ln`` parity is already load-bearing in the JS
    twin); the chi-square sum runs through decimal(38,12) per-term casts so
    it is independent of partial-aggregation order.

    Scale shape: one hash aggregate with map-side combine down to <= 9
    groups, a broadcast join against a literal 9-row digit frame, and the
    total re-derived from the aggregated counts (ReusedExchange — one input
    scan, never ``df.count()``). Nothing proportional to the data reaches
    the driver."""
    v = F.abs(F.col(col).cast("double"))
    finite = (
        F.col(col).isNotNull()
        & ~F.isnan(v)
        & (v != F.lit(float("inf")))
        & (v > F.lit(0.0))
    )
    counted = (
        df.filter(finite)
        .select(F.regexp_extract(v.cast("string"), "[1-9]", 0).alias("_d"))
        .filter(F.col("_d") != "")
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit"), F.col("id").cast("string").alias("_d")
    )
    full = digits.join(F.broadcast(counted), "_d", "left").select(
        "digit", F.coalesce("_n", F.lit(0)).cast("bigint").alias("n_observed")
    )
    tot = full.agg(F.sum("n_observed").cast("bigint").alias("_tot"))
    exp_share = F.log((F.col("digit").cast("double") + F.lit(1.0)) / F.col("digit").cast("double")) / F.log(F.lit(10.0))
    expected_n = F.col("_tot").cast("double") * F.col("_e")
    term = (F.col("n_observed").cast("double") - expected_n) * (
        F.col("n_observed").cast("double") - expected_n
    ) / expected_n
    base = full.crossJoin(F.broadcast(tot)).select(
        "digit", "n_observed", "_tot", exp_share.alias("_e")
    )
    # guard: _tot == 0 makes the Pearson term 0/0 (NaN), and ANSI mode
    # throws casting NaN to decimal — the empty corpus reports chi2 NULL
    safe_term = F.when(F.col("_tot") > 0, term).otherwise(F.lit(0.0))
    chi = base.agg(
        F.sum(safe_term.cast("decimal(38,12)")).cast("double").alias("_chi2")
    )
    return (
        base.crossJoin(F.broadcast(chi))
        .select(
            "digit",
            "n_observed",
            F.when(
                F.col("_tot") > 0,
                F.col("n_observed").cast("double") / F.col("_tot").cast("double"),
            ).otherwise(F.lit(0.0)).alias("observed_share"),
            F.round(F.col("_e"), 6).alias("expected_share"),
            F.when(F.col("_tot") > 0, F.round(F.col("_chi2"), 6)).alias("chi2"),
        )
        .orderBy("digit")
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: list[str] | str,
    *,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns: every combination
    of ``quasi_cols`` shared by fewer than ``k`` rows is a re-identification
    risk (Sweeney's criterion — the standard pre-release privacy gate for
    training corpora carrying user-linked metadata, the corpus-level
    complement of the per-document PII scan in okay_spark/textops.py).
    The reference validates one document at a time
    (/root/reference/src/okay/validator.py) and cannot see group sizes.

    Output, one row per violating combination: ``(quasi..., n_rows)`` with
    ``n_rows < k``. NULLs group normally (SQL GROUP BY null-equality on
    both engines) — an all-null quasi tuple of size 1 IS a singleton worth
    seeing.

    Scale shape: ONE hash aggregate with map-side partial combine, then a
    codegen filter — a hot combination collapses per map task, and the
    output is bounded by the number of *small* groups (each contributing
    < k rows), which is what makes the result frame safe to persist or
    join back for suppression."""
    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    return (
        df.groupBy(*quasi)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") < k)
    )


def group_staleness(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str] | str,
) -> DataFrame:
    """Per-group freshness audit: how far each group's newest record lags
    the table's newest record — the first question an incremental-ingest
    monitor asks (a partner feed that silently stopped shows up as a
    growing ``lag_seconds`` long before volume anomaly fires). The lag is
    measured against the data's own max timestamp, not wall-clock, so the
    check is deterministic and replayable.

    Output, one row per group: ``(group..., n_rows, min_ts, max_ts,
    lag_seconds)`` with ``lag_seconds = global_max - group_max`` as a
    double of whole microseconds over 1e6 — the exact-integer diff at the
    storage resolution followed by ONE IEEE division, engine-portable
    where unit-truncating second diffs are not (Spark truncates the
    duration, DuckDB counts boundary crossings — they disagree on
    sub-second parts). TIMESTAMP_NTZ cannot cast to a number under ANSI,
    hence ``timestamp_diff`` (see okay_spark/relops.py). NULL timestamps
    are ignored for min/max but still counted in ``n_rows``; a group with
    only NULL timestamps carries NULL bounds and NULL lag.

    Scale shape: ONE hash aggregate (map-side combinable scalar min/max/
    count) down to #groups rows; the global max re-derives from that
    aggregated frame and broadcasts back (the key_skew_stats discipline —
    the fact table is scanned once, never re-counted)."""
    grp = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    g = (
        df.groupBy(*grp)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        )
        # feeds the global max AND the projection — one scan/aggregate
        .localCheckpoint(eager=False)
    )
    gmax = g.agg(F.max("max_ts").alias("_gmax"))
    return g.crossJoin(F.broadcast(gmax)).select(
        *grp,
        "n_rows",
        "min_ts",
        "max_ts",
        (
            F.timestamp_diff("MICROSECOND", F.col("max_ts"), F.col("_gmax"))
            / F.lit(1e6)
        ).alias("lag_seconds"),
    )


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information between two categorical columns — the SOFT
    association profile that complements
    :func:`functional_dependency_violations` (FD asks "does X determine Y
    exactly?"; MI answers "how much does X tell you about Y?"). Reads:
    mi ~ 0 -> independent (safe to treat as separate stratification keys);
    mi ~ min(h_x, h_y) -> one column nearly determines the other (a
    redundant quasi-identifier — see :func:`k_anonymity_violations`).

    Output, ONE row: ``(n_rows, h_x, h_y, h_xy, mi, nmi)`` — Shannon
    entropies in nats, ``mi = h_x + h_y - h_xy``, and the normalized
    ``nmi = mi / sqrt(h_x * h_y)`` (null when either marginal entropy is
    0 — a constant column carries no information to normalize by). Rows
    where EITHER column is null are excluded (nulls are the battery's
    null_value rule, not a category). ``mi`` may come out a few ulps
    negative on independent data — that is float reality, not a bug; both
    engines produce the identical double.

    Exactness: each entropy is ``ln(n) - S/n`` with ``S = sum(cnt *
    ln(cnt))`` accumulated in decimal(38,12) (the moment discipline — the
    sum is independent of aggregation order and the DuckDB twin replays
    it through the VARCHAR decimal route); the final combination is a
    fixed IEEE expression.

    Scale shape: ONE corpus hash aggregate down to the joint (x, y)
    cardinality (map-side combinable), lazily localCheckpoint-ed; BOTH
    marginals and the total re-aggregate that bounded frame — the fact
    table is scanned once, and everything after is O(|X x Y|)."""
    x, y = F.col(col_x), F.col(col_y)
    xy = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # feeds h_xy, both marginals, and the total — one corpus evaluation
        .localCheckpoint(eager=False)
    )

    def _s(frame: DataFrame, alias: str) -> DataFrame:
        term = F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))
        return frame.agg(
            F.sum(term.cast("decimal(38,12)")).cast("double").alias(alias)
        )

    xs = xy.groupBy("_x").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    ys = xy.groupBy("_y").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    tot = xy.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n"))
    joined = (
        tot.crossJoin(F.broadcast(_s(xs, "_sx")))
        .crossJoin(F.broadcast(_s(ys, "_sy")))
        .crossJoin(F.broadcast(_s(xy, "_sxy")))
    )
    n_d = F.col("n").cast("double")
    h = lambda s: F.log(n_d) - F.col(s) / n_d  # noqa: E731
    staged = joined.select(
        F.col("n").alias("n_rows"),
        F.when(F.col("n") > 0, h("_sx")).alias("h_x"),
        F.when(F.col("n") > 0, h("_sy")).alias("h_y"),
        F.when(F.col("n") > 0, h("_sxy")).alias("h_xy"),
    )
    mi = F.col("h_x") + F.col("h_y") - F.col("h_xy")
    return staged.select(
        "n_rows",
        "h_x",
        "h_y",
        "h_xy",
        mi.alias("mi"),
        F.when(
            (F.col("h_x") > 0) & (F.col("h_y") > 0),
            mi / F.sqrt(F.col("h_x") * F.col("h_y")),
        ).alias("nmi"),
    )


def chi2_independence(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramér's V — the significance-flavored member of the
    association family (:func:`functional_dependency_violations` = exact
    dependence, :func:`mutual_information` = soft dependence in nats, this
    = normalized strength on [0, 1] comparable across tables). Reads:
    V < ~0.1 -> negligible association; V = 1 -> one column determines the
    other. ``chi2`` compares against the critical value for ``dof``
    degrees of freedom.

    Output, ONE row: ``(n_rows, n_x, n_y, dof, chi2, cramers_v)`` —
    category cardinalities, ``dof = (n_x - 1) * (n_y - 1)``, the Pearson
    statistic over the FULL |X| x |Y| contingency table (observed-zero
    cells contribute their expected count — summing only observed cells
    understates the statistic), and ``cramers_v = sqrt(chi2 / (n *
    min(n_x - 1, n_y - 1)))`` (null when either column is constant —
    dof 0 has no association to normalize). Rows where EITHER column is
    null are excluded (nulls are the battery's null_value rule, not a
    category).

    Exactness: each cell term ``(o - e)^2 / e`` with ``e = (cx * cy) / n``
    is a fixed IEEE double expression (marginal products stay in double —
    ``cx * cy`` can pass 2^63 at corpus scale; the square is spelled
    ``d * d``, never ``pow``, so both engines agree bit-for-bit); the sum
    accumulates in decimal(38,12) (the moment discipline — the DuckDB twin
    replays it through the VARCHAR decimal route); V's final combination
    is a fixed IEEE expression (sqrt is correctly rounded on both).

    Scale shape: ONE corpus hash aggregate down to the joint (x, y)
    cardinality (map-side combinable), lazily localCheckpoint-ed; the
    contingency grid is the cross join of the two bounded marginal frames
    (|X| x |Y| cells, never the fact table) with the joint counts
    broadcast back onto it — the fact table is scanned once, and
    everything after is O(|X x Y|)."""
    x, y = F.col(col_x), F.col(col_y)
    xy = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # feeds the grid, both marginals, and the total — one evaluation
        .localCheckpoint(eager=False)
    )
    # fresh _gx/_gy aliases: the grid joins back onto xy, and reusing xy's
    # own attribute ids would trip the ambiguous-self-join resolver
    xs = xy.groupBy(F.col("_x").alias("_gx")).agg(
        F.sum("cnt").cast("bigint").alias("_cx")
    )
    ys = xy.groupBy(F.col("_y").alias("_gy")).agg(
        F.sum("cnt").cast("bigint").alias("_cy")
    )
    card = (
        xs.agg(F.count(F.lit(1)).cast("bigint").alias("n_x"))
        .crossJoin(
            F.broadcast(ys.agg(F.count(F.lit(1)).cast("bigint").alias("n_y")))
        )
        .crossJoin(
            F.broadcast(
                xy.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n"))
            )
        )
    )
    # full contingency grid: cross join of the two BOUNDED marginal frames;
    # observed counts broadcast back (zero-cells coalesce to 0)
    cells = (
        xs.crossJoin(F.broadcast(ys))
        .join(
            F.broadcast(xy),
            (F.col("_gx") == xy["_x"]) & (F.col("_gy") == xy["_y"]),
            "left",
        )
        .crossJoin(F.broadcast(card.select("n")))
    )
    o = F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
    e = (F.col("_cx").cast("double") * F.col("_cy").cast("double")) / F.col(
        "n"
    ).cast("double")
    term = (o - e) * (o - e) / e
    chi = cells.agg(
        F.sum(term.cast("decimal(38,12)")).cast("double").alias("_chi2")
    )
    mink = F.least(F.col("n_x") - 1, F.col("n_y") - 1)
    return card.crossJoin(F.broadcast(chi)).select(
        F.col("n").alias("n_rows"),
        "n_x",
        "n_y",
        F.when(
            (F.col("n_x") > 0) & (F.col("n_y") > 0),
            (F.col("n_x") - 1) * (F.col("n_y") - 1),
        ).alias("dof"),
        F.col("_chi2").alias("chi2"),
        F.when(
            (F.col("n") > 0) & (mink > 0),
            F.sqrt(F.col("_chi2") / (F.col("n").cast("double") * mink.cast("double"))),
        ).alias("cramers_v"),
    )


def ewma_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    *,
    alpha: float = 0.25,
    k: float = 2.0,
) -> DataFrame:
    """EWMA control chart over daily per-group row counts — the classic
    volume-anomaly monitor: each day's count is compared against the
    exponentially-weighted moving average of all PRIOR days, and flagged
    when it deviates by more than a factor of ``k`` in either direction.
    Unlike :func:`volume_anomaly`'s global z-score, the EWMA adapts to
    trends (a corpus that doubles every month is not "anomalous" daily).
    Corpus-level monitor — no per-document counterpart in the reference
    (/root/reference/src/okay/validator.py).

    Output, one row per (group, day): ``(group, day, cnt, ewma_prev,
    ratio, is_anomaly)`` — ``ewma_prev`` the EWMA of days strictly
    before this one (the first day seeds the chart: ewma_prev = its own
    count, ratio 1, never anomalous), ``ratio = cnt / ewma_prev``,
    ``is_anomaly = ratio > k OR ratio * k < 1``.

    Exactness: the EWMA is a SEQUENTIAL fold ``e <- a*x + (1-a)*e`` over
    the day-sorted counts, seeded with the first day — Spark's
    ``F.aggregate`` and DuckDB's ``list_reduce`` run the identical op
    sequence, so with a binary-exact ``alpha`` (0.25, 0.5, ...) the twin
    is bit-identical. The flag is computed from the RAW ratio; display
    doubles are rounded to 6dp.

    Scale shape: one map-side-combinable (group, day) count aggregate,
    then one ``collect_list`` per group bounded by CALENDAR DAYS — a
    control chart's state is inherently days-per-group (10 years =
    3,653 elements), never row-counts; the prefix folds are O(days^2)
    per group on that bounded array, row-local after the explode. No
    unbounded reducer state, no global sort."""
    daily = ewma_daily_counts(df, ts_col, group_col)
    return ewma_from_daily(daily, alpha=alpha, k=k)


def ewma_daily_counts(
    df: DataFrame, ts_col: str = "ts", group_col: str = "event_type"
) -> DataFrame:
    """The (grp, day, cnt) daily-count state behind
    :func:`ewma_anomalies` — factored out because it is a SINGLE
    map-side-combinable aggregate, which makes it directly maintainable
    as a Structured Streaming stateful aggregate (state = groups x
    calendar days; see :func:`okay_spark.streaming.stream_ewma`)."""
    return (
        df.filter(F.col(ts_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), F.to_date(ts_col).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def ewma_from_daily(
    daily: DataFrame, *, alpha: float = 0.25, k: float = 2.0
) -> DataFrame:
    """The EWMA finisher over a (grp, day, cnt) frame — the row-local
    prefix folds of :func:`ewma_anomalies`, applied to either the batch
    daily aggregate or a streaming-maintained daily-count state (same
    expression, bit-identical result — one DuckDB twin certifies
    both)."""
    af = float(alpha)
    bf = float(1.0 - af)
    per = daily.groupBy("grp").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("_s")
    )
    arr_d = F.transform(F.col("_s"), lambda x: x["cnt"].cast("double"))
    rows = per.select(
        "grp", arr_d.alias("_c"), F.posexplode("_s").alias("_p", "_e")
    )
    seed = F.element_at(F.col("_c"), 1)
    fold = F.aggregate(
        F.slice(F.col("_c"), 2, F.greatest(F.col("_p") - 1, F.lit(0))),
        seed,
        lambda e, x: F.lit(af) * x + F.lit(bf) * e,
    )
    ewma_prev = F.when(F.col("_p") == 0, seed).otherwise(fold)
    out = rows.select(
        "grp",
        F.col("_e")["day"].alias("day"),
        F.col("_e")["cnt"].alias("cnt"),
        ewma_prev.alias("_ew"),
    )
    ratio = F.col("cnt").cast("double") / F.col("_ew")
    return out.select(
        "grp",
        "day",
        "cnt",
        F.round("_ew", 6).alias("ewma_prev"),
        F.round(ratio, 6).alias("ratio"),
        ((ratio > F.lit(float(k))) | (ratio * F.lit(float(k)) < F.lit(1.0))).alias(
            "is_anomaly"
        ),
    )


def binary_filter_eval(df: DataFrame, pred: Column, label: Column) -> DataFrame:
    """Confusion matrix + precision / recall / F1 / Matthews correlation
    for a candidate boolean filter ``pred`` against a reference boolean
    ``label`` — the evaluate-the-cheap-heuristic-before-trusting-it step
    of a filtering pipeline (e.g. does the stopword language-ID agree
    with the gold label; does a quality score predict duplicate
    membership). NULL predicate/label values count as False on both
    sides (``coalesce``), so partial columns never crash the evaluation.

    Output, ONE row: ``(tp, fp, fn, tn, precision, recall, f1, mcc)`` —
    counts exact bigints, metrics guarded NULL when their denominator is
    zero. Every metric is spelled as one fixed IEEE expression over the
    four counts (integer adds first, each operand cast to double
    individually, products left-associative), so the DuckDB twin is
    bit-identical; display values are rounded to 6dp.

    Scale shape: ONE map-side-combinable scalar aggregate over the
    input — four conditional counts, no shuffle beyond the final
    single-row reduce, no Python, no collect."""
    p = F.coalesce(pred, F.lit(False))
    lab = F.coalesce(label, F.lit(False))
    agg = df.agg(
        F.coalesce(F.sum(F.when(p & lab, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("tp"),
        F.coalesce(F.sum(F.when(p & ~lab, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("fp"),
        F.coalesce(F.sum(F.when(~p & lab, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("fn"),
        F.coalesce(F.sum(F.when(~p & ~lab, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("tn"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    prec = F.when(tp + fp > 0, d(tp) / d(tp + fp))
    rec = F.when(tp + fn > 0, d(tp) / d(tp + fn))
    f1 = F.when(
        F.lit(2) * tp + fp + fn > 0,
        d(F.lit(2) * tp) / d(F.lit(2) * tp + fp + fn),
    )
    mcc_den = F.sqrt(d(tp + fp) * d(tp + fn) * d(tn + fp) * d(tn + fn))
    mcc = F.when(
        (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0),
        (d(tp) * d(tn) - d(fp) * d(fn)) / mcc_den,
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
    )


def mann_kendall_trend(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    *,
    z_threshold: float = 1.96,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test over daily per-group row counts
    — the standard nonparametric is-this-metric-drifting monitor (no
    normality assumption, robust to outliers; Mann 1945 / Kendall 1975).
    ``S = sum_{i<j} sign(x_j - x_i)`` over day-ordered counts, variance
    with the tie correction ``(n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18``,
    continuity-corrected ``z``, and Kendall's ``tau = 2S / (n(n-1))``.
    Complements :func:`ewma_anomalies` (point anomalies) with a
    whole-window direction verdict. Corpus-level monitor — no reference
    counterpart (/root/reference/src/okay/validator.py).

    Output, one row per group: ``(grp, n_days, s_stat, var_s, tau, z,
    trend)`` with ``trend`` in {'increasing', 'decreasing', 'none'}
    decided on the RAW z against ``z_threshold``; groups with < 2 days
    (or zero variance: all counts tied) report NULL tau/z and 'none'.

    Exactness: S and both variance terms are exact bigint arithmetic
    (integer products first — safe to ~1.6M days per group before
    bigint overflow); ``var_s`` is ONE /18 IEEE division, ``tau`` ONE
    2S/(n(n-1)) division, ``z`` the fixed continuity-corrected CASE —
    the DuckDB twin replays every op in order.

    Scale shape: one (group, day) count aggregate bounds everything
    after it to calendar-days cardinality; the pair comparison is a
    self-equi-join on the group over that bounded frame (days^2/2 rows
    per group — 10 years = 6.7M comparisons, distributed and row-local);
    ties re-aggregate the same bounded frame. The daily frame is
    localCheckpoint-ed once and feeds all three consumers."""
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.to_date(ts_col).alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        F.col("grp").alias("_ga"), F.col("day").alias("_da"), F.col("cnt").alias("_ca")
    )
    b = daily.select(
        F.col("grp").alias("_gb"), F.col("day").alias("_db"), F.col("cnt").alias("_cb")
    )
    sgn = (
        F.when(F.col("_cb") > F.col("_ca"), 1)
        .when(F.col("_cb") < F.col("_ca"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, (F.col("_ga") == F.col("_gb")) & (F.col("_da") < F.col("_db")))
        .groupBy(F.col("_ga").alias("grp"))
        .agg(F.sum(sgn).cast("bigint").alias("s_stat"))
    )
    n = daily.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    t = F.col("_t")
    ties = (
        daily.groupBy(F.col("grp").alias("_tg"), "cnt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
        .groupBy("_tg")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("_tie_term")
        )
    )
    nn = F.col("n_days")
    joined = (
        n.join(s.withColumnRenamed("grp", "_sg"), F.col("grp") == F.col("_sg"), "left")
        .join(ties, F.col("grp") == F.col("_tg"), "left")
        .select(
            "grp",
            "n_days",
            F.coalesce(F.col("s_stat"), F.lit(0)).cast("bigint").alias("s_stat"),
            F.coalesce(F.col("_tie_term"), F.lit(0)).cast("bigint").alias("_tt"),
        )
    )
    var_num = nn * (nn - 1) * (2 * nn + 5) - F.col("_tt")
    var_s = var_num.cast("double") / F.lit(18.0)
    ss = F.col("s_stat")
    z = (
        F.when(ss > 0, (ss - 1).cast("double") / F.sqrt(var_s))
        .when(ss < 0, (ss + 1).cast("double") / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    tau = (2 * ss).cast("double") / (nn * (nn - 1)).cast("double")
    ok = (nn >= 2) & (var_num > 0)
    zt = F.lit(float(z_threshold))
    trend = (
        F.when(ok & (z > zt), F.lit("increasing"))
        .when(ok & (z < -zt), F.lit("decreasing"))
        .otherwise(F.lit("none"))
    )
    return joined.select(
        "grp",
        "n_days",
        "s_stat",
        F.round(F.when(nn >= 2, var_s), 6).alias("var_s"),
        F.round(F.when(nn >= 2, tau), 6).alias("tau"),
        F.round(F.when(ok, z), 6).alias("z"),
        trend.alias("trend"),
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    permilles: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """EXACT per-group quantiles by the nearest-rank (type-1) definition:
    for each permille p, the smallest value whose cumulative count
    reaches ``ceil(p/1000 * n)`` within its group — the per-group
    companion of :func:`exact_quantiles_twopass` for columns whose
    distinct-value cardinality is bounded (latencies, scores, sizes).
    Per-group distribution profile — no reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per (group, permille): ``(grp, p_permille, value,
    n)``. Groups never lose rows: any non-empty group yields every
    requested permille (the last value always satisfies p <= 1000).

    Exactness: selection is PURE INTEGER arithmetic — the candidate set
    is ``1000 * cum >= p * n`` over exact bigint cumulative counts, the
    quantile is ``min(value)`` over it — no float thresholds, no
    interpolation, so the DuckDB twin is trivially bit-identical.

    Scale shape: one (group, value) count aggregate bounds all
    downstream state by the per-group distinct-value cardinality (the
    grouped_cume_dist discipline — the window sorts COUNTS, never
    rows); group totals come from a same-partition window (no second
    scan, no join); the permille fan-out is a bounded literal explode.
    For unbounded-cardinality doubles at extreme scale, bucket first or
    use the global two-pass operator."""
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("grp")
    cum = counts.select(
        "grp",
        "v",
        F.sum("cnt").over(wcum).cast("bigint").alias("_cum"),
        F.sum("cnt").over(wall).cast("bigint").alias("_n"),
    )
    ps = F.explode(
        F.array(*[F.lit(int(p)).cast("bigint") for p in permilles])
    ).alias("p_permille")
    cand = cum.select("grp", "v", "_cum", "_n", ps).filter(
        F.lit(1000) * F.col("_cum") >= F.col("p_permille") * F.col("_n")
    )
    return cand.groupBy("grp", "p_permille").agg(
        F.min("v").alias("value"), F.max("_n").alias("n")
    )


def classification_eval(df: DataFrame, pred: Column, label: Column) -> DataFrame:
    """Multi-class classifier evaluation: per-class one-vs-rest
    precision / recall / F1 from the exact confusion counts of a
    predicted class column against a reference label — the multi-class
    generalization of :func:`binary_filter_eval` (evaluate the lang-ID
    router or a quality-bucket classifier across ALL its classes, not
    one threshold). NULL predictions/labels become the literal class
    ``'(null)'`` so they are scored, never silently dropped.

    Output, one row per class present on either side: ``(cls, n_label,
    n_pred, tp, precision, recall, f1)`` — counts exact bigints,
    metrics single int/int IEEE divisions (``f1 = 2*tp / (n_pred +
    n_label)``, the harmonic-mean identity), guarded NULL when a
    denominator is zero. The DuckDB twin is bit-identical.

    Scale shape: ONE (pred, label) hash aggregate bounds every
    downstream frame by |classes|^2; marginals, the diagonal, and the
    class union are re-aggregates/joins of that bounded frame
    (localCheckpoint-ed once — the input is scanned once). No collect,
    no window, no posting list."""
    p = F.coalesce(pred, F.lit("(null)"))
    lab = F.coalesce(label, F.lit("(null)"))
    counts = (
        df.select(p.alias("_p"), lab.alias("_l"))
        .groupBy("_p", "_l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .localCheckpoint(eager=False)
    )
    pm = counts.groupBy(F.col("_p").alias("_pc")).agg(
        F.sum("_c").cast("bigint").alias("n_pred")
    )
    lm = counts.groupBy(F.col("_l").alias("_lc")).agg(
        F.sum("_c").cast("bigint").alias("n_label")
    )
    diag = counts.filter(F.col("_p") == F.col("_l")).select(
        F.col("_p").alias("_dc"), F.col("_c").alias("tp")
    )
    classes = (
        pm.join(lm, F.col("_pc") == F.col("_lc"), "full_outer")
        .select(
            F.coalesce(F.col("_pc"), F.col("_lc")).alias("cls"),
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce(F.col("n_label"), F.lit(0)).cast("bigint").alias("n_label"),
        )
        .join(diag, F.col("cls") == F.col("_dc"), "left")
        .select(
            "cls",
            "n_label",
            "n_pred",
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    tp, npred, nlab = F.col("tp"), F.col("n_pred"), F.col("n_label")
    return classes.select(
        "cls",
        "n_label",
        "n_pred",
        "tp",
        F.round(F.when(npred > 0, d(tp) / d(npred)), 6).alias("precision"),
        F.round(F.when(nlab > 0, d(tp) / d(nlab)), 6).alias("recall"),
        F.round(
            F.when(npred + nlab > 0, d(2 * tp) / d(npred + nlab)), 6
        ).alias("f1"),
    )


def roc_auc(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """Threshold-free ranking quality of a numeric score against a boolean
    label — the exact ROC-AUC via the rank-sum (Mann-Whitney U) identity
    with the standard average-rank tie treatment: AUC = P(score_pos >
    score_neg) + P(score_pos = score_neg)/2. The calibration companion of
    :func:`binary_filter_eval` (which scores ONE threshold; this scores
    the whole ranking before a threshold is chosen). NULL labels count as
    False (the filter-eval convention); NULL scores are excluded — an
    unranked row has no place in a ranking metric. No reference
    counterpart (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n, n_pos, n_neg, auc)`` — counts exact bigints,
    ``auc`` NULL when either class is empty, else ONE bigint/bigint IEEE
    division rounded to 6dp.

    Exactness: with ascending average ranks, ``2*R_pos = sum_v pos(v) *
    (2*cum_before(v) + cnt(v) + 1)`` is EXACT bigint arithmetic over the
    per-distinct-score counts, and ``auc = (2*R_pos - n_pos*(n_pos+1)) /
    (2*n_pos*n_neg)`` is one division — the DuckDB twin replays it
    bit-for-bit. Bigint-safe to ~1.5e9 scored rows (2*R_pos <= 2n^2).

    Scale shape: one (score) count aggregate bounds all downstream state
    by the distinct-score cardinality (the grouped_exact_quantiles
    discipline — the cumulative window sorts COUNTS, never rows); then
    one scalar reduce. For unbounded-cardinality continuous scores at
    extreme scale, round/bucket the score first — AUC over a quantized
    score is the quantized ranking's true AUC, not an approximation."""
    lab = F.coalesce(label, F.lit(False))
    counts = (
        df.filter(score.isNotNull())
        .groupBy(score.alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_cnt"),
            F.sum(F.when(lab, 1).otherwise(0)).cast("bigint").alias("_pos"),
        )
    )
    wcum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = counts.select(
        "_cnt",
        "_pos",
        F.coalesce(F.sum("_cnt").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("_cumb"),
    )
    agg = ranked.agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.sum("_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(
            F.sum(
                F.col("_pos")
                * (F.lit(2) * F.col("_cumb") + F.col("_cnt") + F.lit(1))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("_r2"),
    )
    n, npos, r2 = F.col("n"), F.col("n_pos"), F.col("_r2")
    nneg = n - npos
    auc = F.when(
        (npos > 0) & (nneg > 0),
        (r2 - npos * (npos + F.lit(1))).cast("double")
        / (F.lit(2) * npos * nneg).cast("double"),
    )
    return agg.select(
        "n",
        "n_pos",
        nneg.cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
    )


def cohens_kappa(df: DataFrame, pred: Column, label: Column) -> DataFrame:
    """Chance-corrected agreement between two categorical columns —
    Cohen's kappa (Cohen 1960): ``(p_o - p_e) / (1 - p_e)`` where p_o is
    the observed agreement rate and p_e the agreement expected from the
    marginals alone. The is-my-cheap-classifier-actually-informative
    check that raw accuracy can't answer under class imbalance (a lang-ID
    router that always says 'en' scores 80% accuracy on an 80%-English
    corpus but kappa ~ 0). Complements :func:`classification_eval`
    (per-class P/R/F1) with one chance-corrected scalar. NULL values on
    either side become the literal class ``'(null)'`` — scored, never
    dropped. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n, n_agree, po, pe, kappa)``. ``kappa`` is NULL
    when the marginal product concentrates all mass (n*n == pe_num —
    e.g. both sides constant), where chance correction is undefined.

    Exactness: ``kappa = (n*n_agree - pe_num) / (n*n - pe_num)`` with
    ``pe_num = sum_k rowmarg(k) * colmarg(k)`` — every term exact bigint
    (products first), ONE IEEE division; ``po``/``pe`` are single
    divisions for display. Bigint-safe to ~3e9 rows (n^2 bound). The
    DuckDB twin replays it bit-for-bit.

    Scale shape: ONE (pred, label) hash aggregate bounds everything by
    |classes|^2 (localCheckpoint-ed — the input is scanned once);
    marginals and the expected-agreement term are re-aggregates and a
    |classes|-row join of that bounded frame. No collect, no window."""
    p = F.coalesce(pred, F.lit("(null)"))
    lab = F.coalesce(label, F.lit("(null)"))
    counts = (
        df.select(p.alias("_p"), lab.alias("_l"))
        .groupBy("_p", "_l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("_p") == F.col("_l"), F.col("_c")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_agree"),
    )
    pm = counts.groupBy(F.col("_p").alias("_k")).agg(
        F.sum("_c").cast("bigint").alias("_rm")
    )
    lm = counts.groupBy(F.col("_l").alias("_k2")).agg(
        F.sum("_c").cast("bigint").alias("_cm")
    )
    pe_num = (
        pm.join(lm, F.col("_k") == F.col("_k2"))
        .agg(
            F.coalesce(F.sum(F.col("_rm") * F.col("_cm")), F.lit(0))
            .cast("bigint")
            .alias("_pe_num")
        )
    )
    joined = totals.crossJoin(pe_num)
    n, agree, pe_n = F.col("n"), F.col("n_agree"), F.col("_pe_num")
    d = lambda c: c.cast("double")  # noqa: E731
    kappa = F.when(
        n * n != pe_n, d(n * agree - pe_n) / d(n * n - pe_n)
    )
    return joined.select(
        "n",
        "n_agree",
        F.round(F.when(n > 0, d(agree) / d(n)), 6).alias("po"),
        F.round(F.when(n > 0, d(pe_n) / d(n * n)), 6).alias("pe"),
        F.round(kappa, 6).alias("kappa"),
    )


def calibration_bins(
    df: DataFrame, p: Column, label: Column, *, bins: int = 10
) -> DataFrame:
    """Reliability diagram + Brier decomposition for a probability-like
    score in [0, 1] against a boolean outcome: per score-decile, the mean
    predicted probability vs the observed positive rate, and the bin's
    Brier contribution (mean squared error). The calibration companion
    of :func:`roc_auc` — AUC says the ranking is right, this says the
    VALUES are honest (a quality classifier that says "0.9" should be
    right ~90% of the time before its scores are used as sampling
    weights). NULL scores are excluded; NULL labels count as False.
    No reference counterpart (/root/reference/src/okay/validator.py).

    Output, one row per non-empty bin: ``(bin, p_lo, n, mean_p,
    frac_pos, brier)`` — ``bin`` in [0, bins), ``p_lo`` the bin's lower
    edge for display.

    Exactness: the bin index is ``least(greatest(floor(p * bins), 0),
    bins-1)`` — one double multiply + floor, a FIXED IEEE expression both
    engines evaluate identically (no data-dependent thresholds);
    ``mean_p`` and ``brier`` accumulate per-row decimal(38,12) casts (the
    moment discipline) with ONE double division each; ``frac_pos`` is one
    int/int division. The DuckDB twin replays every op in order.

    Scale shape: ONE hash aggregate keyed on the bin index — at most
    ``bins`` groups, fully map-side combined; no window, no join, no
    collect."""
    y = F.when(F.coalesce(label, F.lit(False)), F.lit(1.0)).otherwise(F.lit(0.0))
    b = F.least(
        F.greatest(F.floor(p * F.lit(float(bins))), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    base = df.filter(p.isNotNull()).select(
        b.alias("bin"), p.alias("_p"), y.alias("_y")
    )
    sq = (F.col("_p") - F.col("_y")) * (F.col("_p") - F.col("_y"))
    agg = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("_p").cast("decimal(38,12)")).cast("double").alias("_sp"),
        F.sum(F.when(F.col("_y") == 1.0, 1).otherwise(0))
        .cast("bigint")
        .alias("_pos"),
        F.sum(sq.cast("decimal(38,12)")).cast("double").alias("_sq"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return agg.select(
        "bin",
        F.round(d(F.col("bin")) / F.lit(float(bins)), 6).alias("p_lo"),
        "n",
        F.round(F.col("_sp") / d(F.col("n")), 6).alias("mean_p"),
        F.round(d(F.col("_pos")) / d(F.col("n")), 6).alias("frac_pos"),
        F.round(F.col("_sq") / d(F.col("n")), 6).alias("brier"),
    )


def spearman_corr(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Spearman rank correlation between two numeric columns — Pearson
    over average ranks, the monotonic-association check that is robust
    to outliers and nonlinearity where :func:`pairwise_corr`'s Pearson
    is not (score-vs-length sanity, feature redundancy before mixing).
    Rows with a NULL on either side are excluded. No reference
    counterpart (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n, rho)`` — ``rho`` NULL when either side is
    constant (zero rank variance) or n == 0.

    Exactness: per-value average ranks come from the per-distinct-value
    counts frame as ``2*avgrank = 2*cum_before + cnt + 1`` — EXACT
    bigint, joined back to rows by value (Spearman is invariant under
    the common factor 2); the five moments accumulate exact integers
    (``sx``/``sy`` bigint, the three products per-row cast to
    decimal(38,0) before summing — bigint-safe products to ~1.5e9 rows,
    overflow-free sums to ~2e9 rows); ``rho`` is ONE fixed IEEE
    expression over the double-cast moments. The DuckDB twin replays it
    bit-for-bit (decimal sums direct-cast to double — the
    embedding-dim-stats route).

    Scale shape: the base projection localCheckpoints ONCE (it feeds
    both value-count frames and the probe — without it the input scans
    three times); each rank frame is bounded by that column's
    distinct-value cardinality (the cumulative window sorts COUNTS,
    never rows); the rank join-backs have one build row per key; then
    one scalar reduce. For unbounded-cardinality doubles at extreme
    scale, bucket/round first (the roc_auc guidance)."""
    base = (
        df.select(x.alias("_x"), y.alias("_y"))
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .localCheckpoint(eager=False)
    )

    def rank_frame(col: str, key: str, rank: str):
        counts = base.groupBy(F.col(col).alias(key)).agg(
            F.count(F.lit(1)).cast("bigint").alias("_cnt")
        )
        wcum = (
            Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
        )
        return counts.select(
            key,
            (
                F.lit(2) * F.coalesce(F.sum("_cnt").over(wcum), F.lit(0))
                + F.col("_cnt")
                + F.lit(1)
            )
            .cast("bigint")
            .alias(rank),
        )
    rx = rank_frame("_x", "_kx", "_rx")
    ry = rank_frame("_y", "_ky", "_ry")
    ranked = base.join(rx, F.col("_x") == F.col("_kx")).join(
        ry, F.col("_y") == F.col("_ky")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("_rx"), F.lit(0)).cast("bigint").alias("_sx"),
        F.coalesce(F.sum("_ry"), F.lit(0)).cast("bigint").alias("_sy"),
        F.sum(dec(F.col("_rx") * F.col("_rx"))).cast("double").alias("_sxx"),
        F.sum(dec(F.col("_ry") * F.col("_ry"))).cast("double").alias("_syy"),
        F.sum(dec(F.col("_rx") * F.col("_ry"))).cast("double").alias("_sxy"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n, sx, sy = F.col("n"), F.col("_sx"), F.col("_sy")
    num = d(n) * F.col("_sxy") - d(sx) * d(sy)
    denx = d(n) * F.col("_sxx") - d(sx) * d(sx)
    deny = d(n) * F.col("_syy") - d(sy) * d(sy)
    rho = F.when(
        (denx > 0) & (deny > 0), num / (F.sqrt(denx) * F.sqrt(deny))
    )
    return agg.select("n", F.round(rho, 6).alias("rho"))


def gini_inequality(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Gini coefficient of a non-negative quantity per group — the
    inequality profile that tells a pipeline HOW a source's volume is
    distributed, where :func:`column_stats` only says how much: a source
    whose token mass has Gini ~0.9 is a few mega-documents wearing a
    long tail (dedup/cap candidates), one near 0 is uniform boilerplate.
    Complements the share-concentration check (top-k shares) with a
    whole-distribution scalar. NULLs on either column are excluded.
    No reference counterpart (/root/reference/src/okay/validator.py).

    Output, one row per group: ``(grp, n, total, gini)`` — ``gini`` NULL
    when the group's total is zero (all-zero values carry no mass to
    distribute).

    Exactness: the sorted-rank identity ``G = (2*sum_i r_i*x_i - (n+1)
    *sum x) / (n * sum x)`` evaluated over the per-distinct-value counts
    frame — a tied block at value v with count c and cum_before b
    contributes ``v*(2*c*b + c*(c+1))`` to ``2*sum(r*x)``, EXACT bigint
    (tie order cancels: v is constant within the block), accumulated in
    decimal(38,0); the coefficient is ONE fixed IEEE expression over the
    double-cast terms, replayed bit-for-bit by the DuckDB twin.
    Per-row products are bigint-safe to ~sqrt(9e18 / (2*v_max)) rows per
    group (v_max=1000 -> ~6.7e7); pre-bucket values beyond that.

    Scale shape: one (group, value) count aggregate bounds all
    downstream state by per-group distinct-value cardinality (the
    grouped-quantiles discipline — the cumulative window sorts COUNTS,
    never rows); then one aggregate per group. No join, no collect."""
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("_v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.select(
        "grp",
        "_v",
        "_c",
        F.coalesce(F.sum("_c").over(wcum), F.lit(0)).cast("bigint").alias("_b"),
    )
    term = F.col("_v") * (
        F.lit(2) * F.col("_c") * F.col("_b")
        + F.col("_c") * (F.col("_c") + F.lit(1))
    )
    agg = cum.groupBy("grp").agg(
        F.sum("_c").cast("bigint").alias("n"),
        F.sum(F.col("_v") * F.col("_c")).cast("bigint").alias("total"),
        F.sum(term.cast("decimal(38,0)")).cast("double").alias("_r2"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n, total = F.col("n"), F.col("total")
    gini = F.when(
        (n > 0) & (total > 0),
        (F.col("_r2") - d((n + F.lit(1)) * total)) / d(n * total),
    )
    return agg.select("grp", "n", "total", F.round(gini, 6).alias("gini"))


def autocorrelation_daily(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    *,
    lags: tuple[int, ...] = (1, 7),
) -> DataFrame:
    """Lag-k Pearson autocorrelation of daily per-group row counts — the
    seasonality/momentum detector that completes the time-profile
    family: :func:`ewma_anomalies` flags point spikes,
    :func:`mann_kendall_trend` reads direction, this reads PERIODICITY
    (a strong lag-7 on a daily feed is weekly seasonality any
    volume-anomaly threshold must account for). The statistic is the
    plain Pearson correlation over (count_day, count_day+k) pairs of
    consecutive PRESENT days (missing days pair with nothing — run
    :func:`okay_spark.relops.coverage_gaps` first if holes matter).
    No reference counterpart (/root/reference/src/okay/validator.py).

    Output, one row per (group, lag): ``(grp, lag, n_pairs, acf)`` —
    ``acf`` NULL when fewer than 2 pairs or either side is constant.

    Exactness: counts are exact bigints; the five pair moments
    accumulate bigint values and decimal(38,0)-cast products (the
    spearman_corr discipline); ``acf`` is ONE fixed IEEE expression
    over the double-cast moments — the DuckDB twin replays it
    bit-for-bit.

    Scale shape: one (group, day) count aggregate bounds everything by
    calendar-day cardinality (localCheckpoint-ed once — it feeds both
    join sides); the lag pairing is a self-equi-join on (group, day+k)
    over that bounded frame with one build row per key; then one
    aggregate per (group, lag). No window over raw rows, no collect."""
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.to_date(ts_col).alias("_day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    lag_lit = F.explode(
        F.array(*[F.lit(int(k)).cast("int") for k in lags])
    ).alias("lag")
    a = daily.select(
        F.col("grp").alias("_ga"), F.col("_day").alias("_da"),
        F.col("_cnt").alias("_ca"), lag_lit,
    )
    b = daily.select(
        F.col("grp").alias("_gb"), F.col("_day").alias("_db"),
        F.col("_cnt").alias("_cb"),
    )
    pairs = a.join(
        b,
        (F.col("_ga") == F.col("_gb"))
        & (F.col("_db") == F.expr("date_add(_da, lag)")),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.groupBy(F.col("_ga").alias("grp"), "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("_ca").cast("bigint").alias("_sx"),
        F.sum("_cb").cast("bigint").alias("_sy"),
        F.sum(dec(F.col("_ca") * F.col("_ca"))).cast("double").alias("_sxx"),
        F.sum(dec(F.col("_cb") * F.col("_cb"))).cast("double").alias("_syy"),
        F.sum(dec(F.col("_ca") * F.col("_cb"))).cast("double").alias("_sxy"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n, sx, sy = F.col("n_pairs"), F.col("_sx"), F.col("_sy")
    num = d(n) * F.col("_sxy") - d(sx) * d(sy)
    denx = d(n) * F.col("_sxx") - d(sx) * d(sx)
    deny = d(n) * F.col("_syy") - d(sy) * d(sy)
    acf = F.when(
        (n >= 2) & (denx > 0) & (deny > 0),
        num / (F.sqrt(denx) * F.sqrt(deny)),
    )
    return agg.select("grp", "lag", "n_pairs", F.round(acf, 6).alias("acf"))


def wasserstein_exact(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """EXACT 1-Wasserstein (earth-mover) distance between two groups'
    empirical value distributions — the drift number that, unlike PSI
    (binned) and KS (sup-norm only), weights HOW FAR the mass moved:
    ``W1 = integral |F_a - F_b|`` over the merged support. Completes
    the drift family (psi/ks binned, categorical, exact unbinned KS,
    quantile drift) with the transport metric mixture tuning actually
    optimizes. NULL values are excluded. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n_a, n_b, support, w1)`` — ``support`` the
    merged distinct-value count; ``w1`` NULL when either side is empty.

    Exactness: per-value counts for both sides come from ONE aggregate;
    the CDF difference at each support point is the INTEGER numerator
    ``|cum_a*n_b - cum_b*n_a|`` (exact bigint, safe to ~3e9 rows per
    side) over the constant ``n_a*n_b``; each segment term is ONE fixed
    IEEE expression ``(num/den) * (next_v - v)`` accumulated in
    per-row decimal(38,12) casts (the moment discipline). The DuckDB
    twin replays it bit-for-bit.

    Scale shape: one (value) count aggregate bounds all downstream
    state by merged distinct-value cardinality (the roc_auc
    discipline — the cumulative/lead windows sort COUNTS, never rows);
    then one scalar reduce. Bucket/round continuous values first at
    extreme cardinality."""
    v, g = F.col(value_col), F.col(group_col)
    counts = (
        df.filter(v.isNotNull() & g.isin(group_a, group_b))
        .groupBy(v.alias("_v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0))
            .cast("bigint")
            .alias("_ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0))
            .cast("bigint")
            .alias("_cb"),
        )
    )
    wcum = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wlead = Window.orderBy("_v")
    cum = counts.select(
        "_v",
        F.sum("_ca").over(wcum).cast("bigint").alias("_cuma"),
        F.sum("_cb").over(wcum).cast("bigint").alias("_cumb"),
        F.sum("_ca").over(wall).cast("bigint").alias("_na"),
        F.sum("_cb").over(wall).cast("bigint").alias("_nb"),
        F.lead("_v").over(wlead).alias("_nextv"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    num = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    )
    term = (
        d(num) / d(F.col("_na") * F.col("_nb"))
    ) * (d(F.col("_nextv")) - d(F.col("_v")))
    agg = cum.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("support"),
        F.sum(
            F.when(F.col("_nextv").isNotNull(), term)
            .otherwise(F.lit(0.0))
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("_w1"),
    )
    w1 = F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("_w1"))
    return agg.select("n_a", "n_b", "support", F.round(w1, 6).alias("w1"))


def proportion_ztest(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    success: Column,
) -> DataFrame:
    """Two-sample proportion z-test between two groups' success rates —
    the pooled-variance z statistic behind every A/B readout and
    source-vs-source rate comparison (did src3's PII-hit rate really
    move, or is it sampling noise?). NULL successes count as False;
    rows outside the two groups are ignored. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n_a, n_b, k_a, k_b, p_a, p_b, z)`` — counts
    exact bigints; ``z`` NULL when either group is empty or the pooled
    rate is degenerate (0 or 1: zero variance, the difference is exact,
    not a test).

    Exactness: rates are single int/int IEEE divisions; the z statistic
    is ONE fixed expression — ``(p_a - p_b) / sqrt(p*(1-p)*(1/n_a +
    1/n_b))`` with the pooled ``p = (k_a+k_b)/(n_a+n_b)`` — every
    operand ordered identically in the DuckDB twin.

    Scale shape: ONE map-side-combinable scalar aggregate (four
    conditional counts); no shuffle beyond the single-row reduce, no
    join, no window."""
    g = F.col(group_col)
    s = F.coalesce(success, F.lit(False))
    agg = df.filter(g.isin(group_a, group_b)).agg(
        F.coalesce(F.sum(F.when(g == group_a, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_a"),
        F.coalesce(F.sum(F.when(g == group_b, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_b"),
        F.coalesce(F.sum(F.when((g == group_a) & s, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("k_a"),
        F.coalesce(F.sum(F.when((g == group_b) & s, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("k_b"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    na, nb, ka, kb = (F.col(x) for x in ("n_a", "n_b", "k_a", "k_b"))
    pa = d(ka) / d(na)
    pb = d(kb) / d(nb)
    pp = d(ka + kb) / d(na + nb)
    z = F.when(
        (na > 0) & (nb > 0) & (ka + kb > 0) & (ka + kb < na + nb),
        (pa - pb)
        / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / d(na) + F.lit(1.0) / d(nb))),
    )
    return agg.select(
        "n_a",
        "n_b",
        "k_a",
        "k_b",
        F.round(F.when(na > 0, pa), 6).alias("p_a"),
        F.round(F.when(nb > 0, pb), 6).alias("p_b"),
        F.round(z, 6).alias("z"),
    )


def kendall_tau_b(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Kendall's tau-b between two ordinal columns — concordant-minus-
    discordant pair agreement with the tie correction, the rank
    association that (unlike :func:`spearman_corr`) reads naturally as
    a probability ("how often do two random rows order the same way on
    both axes"). Rows with a NULL on either side are excluded. Use on
    BOUNDED-cardinality ordinals (buckets, hours, grades) — bucket
    continuous values first. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n, concordant, discordant, tau_b)`` — ``tau_b``
    NULL when either axis is constant (its tie term swallows all
    pairs).

    Exactness: everything derives from ONE (x, y) contingency aggregate
    — concordant/discordant from the cell self-join (n1*n2 per ordered
    cell pair, counted once and NOT doubled; tau-b is symmetric in the
    pair orientation), tie terms from the marginals — all EXACT bigint
    products accumulated in decimal(38,0); ``tau_b = (C - D) /
    (sqrt(n0 - tx) * sqrt(n0 - ty))`` is ONE fixed IEEE expression over
    the double-cast terms (with ``n0 = n(n-1)/2`` and the pair counts
    HALVED symbolically: C, D, tx, ty all count unordered pairs). The
    DuckDB twin replays it bit-for-bit.

    Scale shape: the contingency aggregate bounds everything by
    |distinct x| * |distinct y| cells; the pair comparison is a
    self-join over that bounded grid (cells^2/2 row-local products —
    the mann_kendall discipline); marginal tie terms re-aggregate the
    same frame (localCheckpoint-ed once). No window over raw rows."""
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    cells = (
        base.groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"), F.col("_c").alias("_cb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = a.join(b, (F.col("_xa") < F.col("_xb")))
    cd = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_ya") < F.col("_yb"), dec(F.col("_ca") * F.col("_cb"))
                ).otherwise(dec(F.lit(0)))
            ),
            dec(F.lit(0)),
        ).alias("_conc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_ya") > F.col("_yb"), dec(F.col("_ca") * F.col("_cb"))
                ).otherwise(dec(F.lit(0)))
            ),
            dec(F.lit(0)),
        ).alias("_disc"),
    )
    n_tot = cells.agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n"))
    tx = (
        cells.groupBy("_x")
        .agg(F.sum("_c").cast("bigint").alias("_m"))
        .agg(
            F.coalesce(
                F.sum(dec(F.col("_m") * (F.col("_m") - F.lit(1)))), dec(F.lit(0))
            ).alias("_tx2")
        )
    )
    ty = (
        cells.groupBy("_y")
        .agg(F.sum("_c").cast("bigint").alias("_m"))
        .agg(
            F.coalesce(
                F.sum(dec(F.col("_m") * (F.col("_m") - F.lit(1)))), dec(F.lit(0))
            ).alias("_ty2")
        )
    )
    j = n_tot.crossJoin(cd).crossJoin(tx).crossJoin(ty)
    d = lambda c: c.cast("double")  # noqa: E731
    n = F.col("n")
    # all pair counts as doubles; n0/tx/ty are halved-symbolically via /2.0
    n0 = d(n) * d(n - F.lit(1)) / F.lit(2.0)
    txv = d(F.col("_tx2")) / F.lit(2.0)
    tyv = d(F.col("_ty2")) / F.lit(2.0)
    conc, disc = d(F.col("_conc")), d(F.col("_disc"))
    tau = F.when(
        (n0 - txv > 0) & (n0 - tyv > 0),
        (conc - disc) / (F.sqrt(n0 - txv) * F.sqrt(n0 - tyv)),
    )
    return j.select(
        "n",
        F.col("_conc").cast("bigint").alias("concordant"),
        F.col("_disc").cast("bigint").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    )


def wilson_interval(
    df: DataFrame,
    group_col: str,
    success: Column,
    *,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a per-group success rate —
    the interval every rate dashboard should draw instead of the
    textbook Wald p +/- z*sqrt(p(1-p)/n), which collapses to a
    zero-width lie at p = 0 or 1 exactly where small sources and rare
    violation rates live (Wilson 1927; Brown-Cai-DasGupta 2001). The
    uncertainty companion of :func:`proportion_ztest` (that compares
    two groups; this bounds each). NULL successes count as False; NULL
    groups are dropped. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per group: ``(grp, n, k, p, lo, hi)`` — ``lo``/
    ``hi`` the Wilson bounds at the given z (default two-sided 95%).

    Exactness: ``k``/``n`` exact bigints, ``p`` one int/int division;
    the bounds are ONE fixed IEEE expression each — center ``(p +
    z^2/2n) / (1 + z^2/n)``, half-width ``z*sqrt(p(1-p)/n +
    z^2/(4n^2)) / (1 + z^2/n)`` — with the z literal binary-exact as
    spelled (the twin repeats the identical digits in e-notation). The
    DuckDB twin replays every operand in order.

    Scale shape: ONE map-side-combinable hash aggregate on the group
    key; bounds are row-local expressions over (n, k). No window, no
    join, no collect."""
    s = F.coalesce(success, F.lit(False))
    agg = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(s, 1).otherwise(0)).cast("bigint").alias("k"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n, k = F.col("n"), F.col("k")
    p = d(k) / d(n)
    z2 = F.lit(float(z)) * F.lit(float(z))
    denom = F.lit(1.0) + z2 / d(n)
    center = (p + z2 / (F.lit(2.0) * d(n))) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(
            p * (F.lit(1.0) - p) / d(n)
            + z2 / (F.lit(4.0) * d(n) * d(n))
        )
        / denom
    )
    return agg.select(
        "grp",
        "n",
        "k",
        F.round(p, 6).alias("p"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("hi"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value: Column,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups' means — the
    continuous companion of :func:`proportion_ztest` (compare mean
    document length, mean quality, mean latency across sources without
    assuming equal variances; Welch 1947 with the Welch-Satterthwaite
    degrees of freedom). NULL values and rows outside the two groups
    are excluded. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, ONE row: ``(n_a, n_b, mean_a, mean_b, t, df)`` — ``t``/
    ``df`` NULL when either group has < 2 values or both variances are
    zero.

    Exactness: per-group moments accumulate per-row decimal(38,12)
    casts of the double value and its square (the moment discipline);
    the sample variance is spelled in ONE fixed order — ``(s2/n -
    m*m) * (n/(n-1))`` — and t/df are single fixed IEEE expressions
    over the double-cast moments, replayed operand-for-operand by the
    DuckDB twin.

    Scale shape: ONE map-side-combinable scalar aggregate (six
    conditional sums); everything after is row-local on one row. No
    window, no join, no collect."""
    g = F.col(group_col)
    v = value.cast("double")
    base = df.filter(v.isNotNull() & g.isin(group_a, group_b))
    is_a = g == group_a

    def side(flag: Column, tag: str):
        return [
            F.coalesce(F.sum(F.when(flag, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"n_{tag}"),
            F.sum(F.when(flag, v).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"_s1{tag}"),
            F.sum(F.when(flag, v * v).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"_s2{tag}"),
        ]
    agg = base.agg(*side(is_a, "a"), *side(~is_a, "b"))
    d = lambda c: c.cast("double")  # noqa: E731
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("_s1a") / d(na)
    mb = F.col("_s1b") / d(nb)
    va = (F.col("_s2a") / d(na) - ma * ma) * (d(na) / d(na - F.lit(1)))
    vb = (F.col("_s2b") / d(nb) - mb * mb) * (d(nb) / d(nb - F.lit(1)))
    sea = va / d(na)
    seb = vb / d(nb)
    t = F.when(
        (na >= 2) & (nb >= 2) & (sea + seb > 0),
        (ma - mb) / F.sqrt(sea + seb),
    )
    dof = F.when(
        (na >= 2) & (nb >= 2) & (sea + seb > 0),
        ((sea + seb) * (sea + seb))
        / (sea * sea / d(na - F.lit(1)) + seb * seb / d(nb - F.lit(1))),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.when(na > 0, ma), 6).alias("mean_a"),
        F.round(F.when(nb > 0, mb), 6).alias("mean_b"),
        F.round(t, 6).alias("t"),
        F.round(dof, 6).alias("df"),
    )


def jarque_bera(
    df: DataFrame, value: Column, group_col: str | None = None
) -> DataFrame:
    """Jarque-Bera normality check per group — sample skewness and
    excess kurtosis from exact central-moment sums and the JB statistic
    ``n/6 * (S^2 + K^2/4)`` (asymptotically chi-square(2): JB >> 6
    means the column is nowhere near Gaussian and every
    mean±z*sigma-based threshold on it — :func:`numeric_outliers`,
    control limits — needs the robust alternatives instead). The
    distribution-shape companion of :func:`column_stats`. NULL values
    are excluded; NULL groups are dropped (the grouped-ops
    convention). No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per group (``grp = '(all)'`` when ungrouped):
    ``(grp, n, skewness, kurtosis_excess, jb)`` — all NULL when n < 2
    or the variance is zero.

    Exactness: the four raw power sums accumulate per-row
    decimal(38,12) casts of the double value's powers (the moment
    discipline — powers spelled as repeated multiplication, never
    pow); central moments derive from them in ONE fixed expression
    order (m2 = s2/n - m*m; m3 = s3/n - 3*m*s2/n + 2*m*m*m; m4 =
    s4/n - 4*m*s3/n + 6*m*m*s2/n - 3*m*m*m*m); S, K, and JB are
    single fixed IEEE expressions — the DuckDB twin replays every
    operand in order.

    Scale shape: ONE map-side-combinable hash aggregate; everything
    after is row-local. No window, no join, no collect."""
    v = value.cast("double")
    g = F.col(group_col) if group_col is not None else F.lit("(all)")
    flt = v.isNotNull() if group_col is None else v.isNotNull() & g.isNotNull()
    base = df.filter(flt).select(g.alias("grp"), v.alias("_v"))
    x = F.col("_v")
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(x)).cast("double").alias("_s1"),
        F.sum(dec(x * x)).cast("double").alias("_s2"),
        F.sum(dec(x * x * x)).cast("double").alias("_s3"),
        F.sum(dec(x * x * x * x)).cast("double").alias("_s4"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    n = d(F.col("n"))
    m = F.col("_s1") / n
    m2 = F.col("_s2") / n - m * m
    m3 = (
        F.col("_s3") / n
        - F.lit(3.0) * m * (F.col("_s2") / n)
        + F.lit(2.0) * m * m * m
    )
    m4 = (
        F.col("_s4") / n
        - F.lit(4.0) * m * (F.col("_s3") / n)
        + F.lit(6.0) * m * m * (F.col("_s2") / n)
        - F.lit(3.0) * m * m * m * m
    )
    ok = (F.col("n") >= 2) & (m2 > 0)
    skew = F.when(ok, m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)))
    kurt = F.when(ok, m4 / (m2 * m2) - F.lit(3.0))
    jb = F.when(
        ok,
        n / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0)),
    )
    return agg.select(
        "grp",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis_excess"),
        F.round(jb, 6).alias("jb"),
    )


def cusum_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    *,
    k_slack: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Tabular CUSUM control chart over daily per-group row counts —
    the small-persistent-shift detector that completes the chart
    family: :func:`ewma_anomalies` reacts to recent level moves, CUSUM
    accumulates EVERY deviation from the corpus mean, so a feed
    drifting +0.5 sigma per day (too small for any point threshold)
    crosses the CUSUM limit within days (Page 1954). ``S+_t = max(0,
    S+_{t-1} + x_t - (mu + k*sigma))`` and the mirrored ``S-``, flagged
    when either exceeds ``h*sigma``. NULL timestamps/groups excluded.
    No reference counterpart (/root/reference/src/okay/validator.py).

    Output, one row per (group, day): ``(grp, day, cnt, cusum_pos,
    cusum_neg, flagged)`` — single-day groups report zero CUSUMs and
    never flag (sigma undefined -> slack/limit fall back to 0/0 with
    sigma 0; the guard keeps them unflagged).

    Exactness: mu and sigma come from row-local SEQUENTIAL folds over
    the day-sorted counts array (zero-seeded sums — the LSH-twin fold
    discipline; sigma in the fixed sqrt(s2/n - m*m) order); the CUSUM
    recurrences are PREFIX-SLICE folds (the ewma_anomalies discipline —
    DuckDB ``list_reduce`` with a [0.0] seed replays max/plus
    element-for-element); ``k_slack``/``h`` must stay binary-exact
    (0.5, 4.0). Flags read the RAW statistics; display rounded 6dp.

    Scale shape: one map-side-combinable (group, day) count aggregate,
    one collect_list per group bounded by CALENDAR DAYS, prefix folds
    O(days^2) row-local after the explode — the exact ewma_anomalies
    budget. No unbounded reducer state, no global sort."""
    return cusum_from_daily(
        ewma_daily_counts(df, ts_col, group_col), k_slack=k_slack, h=h
    )


def cusum_from_daily(
    daily: DataFrame, *, k_slack: float = 0.5, h: float = 4.0
) -> DataFrame:
    """The CUSUM finisher over a (grp, day, cnt) frame — the prefix
    max/plus folds of :func:`cusum_anomalies`, applied to either the
    batch daily aggregate or a streaming-maintained daily-count state
    (same expression, bit-identical result — one DuckDB twin certifies
    both; the ewma_from_daily discipline)."""
    kf, hf = float(k_slack), float(h)
    per = daily.groupBy("grp").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("_s")
    )
    arr = F.transform(F.col("_s"), lambda x: x["cnt"].cast("double"))
    n = F.size(F.col("_s")).cast("double")
    s1 = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)
    mu = s1 / n
    sigma = F.when(
        n >= 2, F.sqrt(F.greatest(s2 / n - (s1 / n) * (s1 / n), F.lit(0.0)))
    ).otherwise(F.lit(0.0))
    base = per.select(
        "grp",
        F.col("_s").alias("_arr"),
        arr.alias("_x"),
        mu.alias("_mu"),
        sigma.alias("_sig"),
    )
    exploded = base.select(
        "grp",
        "_x",
        "_mu",
        "_sig",
        F.posexplode(F.col("_arr")).alias("_i", "_e"),
    )
    up_ref = F.col("_mu") + F.lit(kf) * F.col("_sig")
    dn_ref = F.col("_mu") - F.lit(kf) * F.col("_sig")
    cpos = F.aggregate(
        F.slice(F.col("_x"), 1, F.col("_i") + 1),
        F.lit(0.0),
        lambda a, x: F.greatest(F.lit(0.0), a + x - up_ref),
    )
    cneg = F.aggregate(
        F.slice(F.col("_x"), 1, F.col("_i") + 1),
        F.lit(0.0),
        lambda a, x: F.greatest(F.lit(0.0), a + dn_ref - x),
    )
    limit = F.lit(hf) * F.col("_sig")
    flagged = (F.col("_sig") > 0) & (
        (cpos > limit) | (cneg > limit)
    )
    return exploded.select(
        "grp",
        F.col("_e")["day"].alias("day"),
        F.col("_e")["cnt"].alias("cnt"),
        F.round(cpos, 6).alias("cusum_pos"),
        F.round(cneg, 6).alias("cusum_neg"),
        F.coalesce(flagged, F.lit(False)).alias("flagged"),
    )


def theil_sen_slope(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Theil-Sen robust trend slope over daily per-group counts — the
    median of all pairwise day-slopes, the magnitude companion of
    :func:`mann_kendall_trend`'s direction verdict (MK says "this feed
    is drifting"; Theil-Sen says "by N rows per day", immune to the
    outlier days that wreck a least-squares fit; Theil 1950, Sen 1968).
    NULL timestamps/groups excluded. No reference counterpart
    (/root/reference/src/okay/validator.py).

    Output, one row per group: ``(grp, n_days, n_pairs, slope)`` —
    ``slope`` the nearest-rank median pair slope (rows/day), NULL for
    single-day groups.

    Exactness: each pair slope is ONE IEEE division of exact integers
    (count delta / day delta); the median is the nearest-rank selection
    in PURE integer arithmetic over the per-distinct-slope counts (the
    grouped_exact_quantiles discipline: smallest slope with ``2*cum >=
    n``) — no interpolation, no float thresholds. The DuckDB twin is
    bit-identical.

    Scale shape: the (group, day) count aggregate bounds the pair
    self-join by calendar days (days^2/2 slopes per group — the
    mann_kendall budget, localCheckpoint-ed once); the median selection
    sorts slope COUNTS within each group. No posting lists, no global
    sort."""
    daily = ewma_daily_counts(df, ts_col, group_col).localCheckpoint(
        eager=False
    )
    a = daily.select(
        F.col("grp").alias("_ga"), F.col("day").alias("_da"),
        F.col("cnt").alias("_ca"),
    )
    b = daily.select(
        F.col("grp").alias("_gb"), F.col("day").alias("_db"),
        F.col("cnt").alias("_cb"),
    )
    slopes = (
        a.join(b, (F.col("_ga") == F.col("_gb")) & (F.col("_da") < F.col("_db")))
        .select(
            F.col("_ga").alias("grp"),
            (
                (F.col("_cb") - F.col("_ca")).cast("double")
                / F.datediff(F.col("_db"), F.col("_da")).cast("double")
            ).alias("_sl"),
        )
    )
    counts = slopes.groupBy("grp", "_sl").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("_sl")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("grp")
    cum = counts.select(
        "grp",
        "_sl",
        F.sum("_c").over(wcum).cast("bigint").alias("_cum"),
        F.sum("_c").over(wall).cast("bigint").alias("_n"),
    )
    med = (
        cum.filter(F.lit(2) * F.col("_cum") >= F.col("_n"))
        .groupBy("grp")
        .agg(F.min("_sl").alias("slope"), F.max("_n").alias("n_pairs"))
    )
    ndays = daily.groupBy(F.col("grp").alias("_gd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return ndays.join(med, F.col("_gd") == F.col("grp"), "left").select(
        F.col("_gd").alias("grp"),
        "n_days",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.round(F.col("slope"), 6).alias("slope"),
    )
