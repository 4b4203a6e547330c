"""Column profiling — the reference's most analytic operator.

Reference computation (plugins/extractors/bigquery/bigquery.go:386-411,
one SQL query PER COLUMN, goroutine per column at :237-254):

    MIN(col), MAX(col) cast to string
    AVG(SAFE_CAST(col AS FLOAT64))
    APPROX_QUANTILES(col, 2)[OFFSET(1)]      -- approx median
    APPROX_COUNT_DISTINCT(col)
    COUNT(col)
    APPROX_TOP_COUNT(col, 1)[OFFSET(0)].value -- mode / top-1

Spark design: ALL columns profiled in ONE aggregation pass —
`df.agg(*flat_list_of_aggregates)` — instead of N queries. On a 100 TB
table that is one scan (with column pruning to the profiled columns)
and one partial-aggregate shuffle of a single row per partition, vs the
reference's N full scans. Skips binary/array/struct/map columns, the
same gate as the reference (bigquery.go:340-343 skips
bytes/repeated/record).

`exact=True` swaps the approximate aggregates (percentile_approx,
approx_count_distinct) for exact ones (median via percentile, exact
count distinct) — used by the correctness oracle where DuckDB and Spark
approximate sketches would legitimately differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PROFILE_FIELDS = ("min", "max", "avg", "med", "unique", "count", "top")

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
_SKIP = (T.BinaryType, T.ArrayType, T.MapType, T.StructType)  # bigquery.go:340-343


def profilable_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if not isinstance(f.dataType, _SKIP)]


def _aggs_for(col: str, dtype: T.DataType, exact: bool) -> list[Column]:
    c = F.col(col)
    numeric = isinstance(dtype, _NUMERIC)
    double = c.cast("double")
    if exact:
        unique = F.count_distinct(c)
        med = F.expr(f"percentile(`{col}`, 0.5)") if numeric else F.lit(None).cast("double")
    else:
        unique = F.approx_count_distinct(c)
        med = F.percentile_approx(double, 0.5) if numeric else F.lit(None).cast("double")
    return [
        F.min(c).cast("string").alias(f"{col}__min"),
        F.max(c).cast("string").alias(f"{col}__max"),
        (F.avg(double) if numeric else F.lit(None).cast("double")).alias(f"{col}__avg"),
        med.alias(f"{col}__med"),
        unique.alias(f"{col}__unique"),
        F.count(c).alias(f"{col}__count"),
        F.mode(c).cast("string").alias(f"{col}__top"),
    ]


def profile_columns(
    df: DataFrame, columns: list[str] | None = None, exact: bool = False
) -> tuple[dict[str, dict], int]:
    """Profile every (profilable) column and count the rows in one
    aggregation pass.

    Returns ({column: {min,max,avg,med,unique,count,top}}, row_count);
    the profiles match the ColumnProfile facet
    (models/odpf/assets/facets/v1beta1/schema.pb.go:180). The row count
    is one more aggregate of the same scan, so a caller that needs both
    runs one job, not a profile and a count().
    """
    cols = columns or profilable_columns(df)
    types = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.extend(_aggs_for(c, types[c], exact))
    row = df.agg(*aggs).collect()[0].asDict()
    profiles = {
        c: {f: row[f"{c}__{f}"] for f in _PROFILE_FIELDS}
        for c in cols
    }
    return profiles, row["__rows"]


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def profile_df(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
    round_to: int = 4,
    quantiles: dict[str, float] | None = None,
) -> DataFrame:
    """DataFrame-shaped profile: one output row per column, columns
    (column, min, max, avg, med, unique, count, top[, *quantiles]).

    quantiles (exact path only): extra named EXACT interpolated
    quantile columns, e.g. {"p45": 0.45} — derived from the SAME
    persisted (column, v, cnt) frequency frame as the median via the
    frequency-weighted percentile aggregate, so each extra quantile
    costs one tiny agg over the freq frame, not another scan of df
    (the r11 profile_lineitem_approx contract re-scanned lineitem with
    a full-sort F.percentile for its p45/p55 window — 2s of its 5s).
    NULL (double) for non-numeric columns.

    Plan shape (chosen over a single wide agg after measuring): unpivot
    FIRST into long form (column_name, value), then ONE groupBy per type
    family. A wide agg with N exact count_distincts triggers Catalyst's
    Expand rewrite (N+1 copies of every row) plus giant sort buffers for
    the percentiles — measured 36s on 600k x 6 columns. The long form
    keeps each distinct-aggregate single-column (two-phase hash agg, no
    Expand): same answer in ~3s, and at 100 TB the shuffle carries only
    partial aggs keyed by column name.

    Type families keep min/max/top rendering faithful to the source type
    (integral columns must print '1', not '1.0' — the reference casts
    the typed value to string, bigquery.go:387-396).
    """
    cols = columns or profilable_columns(df)
    types = {f.name: f.dataType for f in df.schema.fields}
    integral = [c for c in cols if isinstance(types[c], _INTEGRAL)]
    fractional = [c for c in cols if isinstance(types[c], _NUMERIC) and c not in integral]
    other = [c for c in cols if c not in integral and c not in fractional]

    def long_form(group: list[str], value_type: str) -> DataFrame:
        pairs = F.array(
            *[F.struct(F.lit(c).alias("column"), F.col(c).cast(value_type).alias("v")) for c in group]
        )
        return df.select(F.explode(pairs).alias("p")).select("p.column", "p.v").filter(F.col("v").isNotNull())

    def agg_family(group: list[str], value_type: str, numeric: bool) -> DataFrame:
        lf = long_form(group, value_type)
        if not exact:
            med = (
                F.round(F.percentile_approx(F.col("v").cast("double"), 0.5), round_to)
                if numeric
                else F.lit(None).cast("double")
            )
            avg = F.round(F.avg(F.col("v").cast("double")), round_to) if numeric else F.lit(None).cast("double")
            return lf.groupBy("column").agg(
                F.min("v").cast("string").alias("min"),
                F.max("v").cast("string").alias("max"),
                avg.alias("avg"),
                med.alias("med"),
                F.approx_count_distinct("v").cast("long").alias("unique"),
                F.count("v").alias("count"),
                F.mode("v").cast("string").alias("top"),
            )
        # Exact path: pre-aggregate value frequencies, then derive every
        # statistic from the compact (column, v, cnt) frame. Rationale:
        # mixing count_distinct (Expand rewrite) with TypedImperative
        # aggregates (percentile, mode) degrades the whole plan to a
        # sort-based aggregate — measured 32s vs 3s on 600k x 4 cols.
        # The frequency frame gives: unique = row count, count = sum cnt,
        # avg = weighted mean, mode = deterministic arg-max (ties -> min
        # value), median = interpolated cumulative-count lookup — all
        # hash aggregates and one window, no Expand, no sort fallback.
        # persist the frequency frame: it feeds the stats aggregate AND
        # the median derivation, and without the persist each consumer
        # re-scans the source and re-runs the explode+count (measured 7
        # FileScans / 0 ReusedExchange on an 11-column profile). The
        # cached frame is one row per distinct (column, value) — tiny
        # next to the input.
        pre = lf.groupBy("column", "v").agg(F.count("*").alias("cnt")).persist()
        stats = pre.groupBy("column").agg(
            F.min("v").cast("string").alias("min"),
            F.max("v").cast("string").alias("max"),
            (
                F.round(F.sum(F.col("v").cast("double") * F.col("cnt")) / F.sum("cnt"), round_to)
                if numeric
                else F.lit(None).cast("double")
            ).alias("avg"),
            F.count("*").cast("long").alias("unique"),
            F.sum("cnt").alias("count"),
            F.min_by("v", F.struct((-F.col("cnt")).alias("nc"), F.col("v").alias("vv"))).cast("string").alias("top"),
        )
        qnames = list((quantiles or {}))
        if not numeric:
            return stats.select(
                "column", "min", "max", "avg", F.lit(None).cast("double").alias("med"), "unique", "count", "top",
                *[F.lit(None).cast("double").alias(qn) for qn in qnames],
            )
        # exact interpolated median via the frequency-weighted percentile
        # AGGREGATE over the (column, v, cnt) frame — identical semantics
        # to percentile(v, 0.5) over the raw rows (index q*(N-1), linear
        # interpolation). Earlier formulation ran running/total sums in a
        # Window.partitionBy(column): ONE task per column sorting every
        # distinct value — a single-reducer bottleneck that broke down on
        # high-cardinality columns (and cost ~half the exact-profile
        # runtime at sf0.1). The aggregate form combines map-side partial
        # value->count maps instead; no global sort, no one-task window.
        # ONE percentile aggregate evaluating every requested quantile
        # from a single weighted buffer (the array-percentage form).
        # Separate percentile(...) calls per quantile each build, merge
        # and sort their own value->weight map over the same rows —
        # measured 4.2s vs 2.2s for [med, p45, p55] on the cached
        # 600k-row lineitem freq frame at sf0.1, values bit-identical.
        # med is rounded after extraction; the extra quantiles stay
        # unrounded — window-bound consumers must not lose a boundary
        # to rounding.
        qitems = list((quantiles or {}).items())
        med = pre.groupBy("column").agg(
            F.percentile(
                F.col("v").cast("double"),
                F.array(F.lit(0.5), *[F.lit(q) for _, q in qitems]),
                F.col("cnt"),
            ).alias("__qs")
        ).select(
            "column",
            F.round(F.col("__qs")[0], round_to).alias("med"),
            *[F.col("__qs")[i + 1].alias(qn) for i, (qn, _) in enumerate(qitems)],
        )
        return stats.join(med, "column").select(
            "column", "min", "max", "avg", "med", "unique", "count", "top", *qnames
        )

    outs = []
    for group, vt, numeric in ((integral, "long", True), (fractional, "double", True), (other, "string", False)):
        if group:
            outs.append(agg_family(group, vt, numeric))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def histogram(df: DataFrame, col: str, bins: int = 20, round_to: int = 4) -> DataFrame:
    """Equi-width histogram: (bin, bin_lo, bin_hi, n), bins covering
    [min, max] with the max value folded into the last bin.

    Beyond the reference's scalar profile: the distribution shape a data
    catalog shows next to min/max. Two passes over one column — an agg
    for the bounds (single row, broadcast back via crossJoin) and a
    map-side-combined groupBy on the bin id. All double arithmetic is
    IEEE-identical across engines, so the oracle matches bit-for-bit.
    """
    c = F.col(col).cast("double")
    # NULLs are not observations (least(NULL, bins-1) would skip the
    # null and drop the row into the top bin)
    df = df.filter(c.isNotNull())
    bounds = df.agg(F.min(c).alias("__lo"), F.max(c).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / bins
    binned = (
        df.select(c.alias("__v"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(F.floor((F.col("__v") - F.col("__lo")) / width).cast("int"), F.lit(bins - 1)).alias("bin"),
            F.col("__lo"),
            width.alias("__w"),
        )
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.round(F.first("__lo") + F.col("bin") * F.first("__w"), round_to).alias("bin_lo"),
            F.round(F.first("__lo") + (F.col("bin") + 1) * F.first("__w"), round_to).alias("bin_hi"),
            F.count("*").alias("n"),
        )
    )


def weighted_median(
    df,
    value_col: str,
    weight_col: str,
    keys: list[str],
    round_to: int = 2,
):
    """Exact weighted median of `value_col` under `weight_col` per key
    group: the smallest value v whose cumulative weight reaches half the
    group total — (keys..., n_rows, total_weight, weighted_median).

    The weighted sibling of the exact-median profile path (an unweighted
    median is the weight==1 special case). One per-key cumulative-weight
    window (RANGE frame, so value ties accumulate as a block — the
    selected value is set-determined, not order-determined) and one
    groupBy; with integer-valued weights the cumulative comparisons are
    exact in doubles, so any engine picks the identical value.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(value_col)
    cum = df.select(
        *keys,
        F.col(value_col).alias("__v"),
        F.col(weight_col).alias("__w"),
        F.sum(weight_col).over(w).alias("__cw"),
        F.sum(weight_col).over(Window.partitionBy(*keys)).alias("__tw"),
    )
    return cum.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.max("__tw"), round_to).alias("total_weight"),
        F.round(
            F.min(F.when(F.col("__cw") >= F.col("__tw") / 2, F.col("__v"))), round_to
        ).alias("weighted_median"),
    )


def functional_dependencies(df, cols: list[str]):
    """Functional-dependency discovery over a column set: for every
    ordered pair (a, b), a → b holds iff every a-value maps to exactly
    one b-value — checked as count_distinct(a) == count_distinct(a, b).
    Output: (det, dep, n_det, n_pairs, holds) per candidate pair.

    NULL semantics (explicit): rows whose DETERMINANT is NULL are
    excluded from the check (a NULL determinant determines nothing);
    a NULL DEPENDENT counts as a distinct mapped value, so a -> b with
    b in {'x', NULL} for one a-value correctly reports holds=false.
    The naive count_distinct(a, b) silently drops b-IS-NULL rows and
    reports such a pair as holding — the pair count therefore uses a
    null-safe composite: count_distinct(struct(a, b)) restricted to
    a IS NOT NULL (struct(...) is non-null even when b is NULL).

    Classic single-table metadata profiling (the dependency layer a
    catalog infers on top of per-column stats; see the reference's
    profile family). All |cols|·(|cols|-1) checks ride ONE wide
    aggregate over one scan — each exact distinct costs an Expand
    internally, so at warehouse scale swap in approx_count_distinct
    (same plan shape, rename the gate approximate) or check only the
    pairs a key-candidate prescan shortlists.
    """
    aggs = []
    for a in cols:
        aggs.append(F.count_distinct(F.col(a)).alias(f"__d_{a}"))
        for b in cols:
            if a != b:
                aggs.append(
                    F.count_distinct(
                        F.when(
                            F.col(a).isNotNull(), F.struct(F.col(a), F.col(b))
                        )
                    ).alias(f"__p_{a}_{b}")
                )
    wide = df.agg(*aggs)
    pairs = []
    for a in cols:
        for b in cols:
            if a != b:
                pairs.append(
                    F.struct(
                        F.lit(a).alias("det"),
                        F.lit(b).alias("dep"),
                        F.col(f"__d_{a}").cast("long").alias("n_det"),
                        F.col(f"__p_{a}_{b}").cast("long").alias("n_pairs"),
                        (F.col(f"__d_{a}") == F.col(f"__p_{a}_{b}")).alias("holds"),
                    )
                )
    return wide.select(F.explode(F.array(*pairs)).alias("fd")).select("fd.*")


def inclusion_dependency(
    child, child_col: str, parent, parent_col: str
):
    """One referential-integrity check: is every DISTINCT child value
    present in the parent column? Returns a single row
    (n_child_values, violations, holds).

    The cross-table half of dependency profiling (foreign-key
    discovery / FK validation). Both sides reduce to their distinct
    value sets first, so the join compares keys, not rows — at scale
    this is two map-side-combined distincts and one key-sized join,
    and AQE broadcasts whichever side turns out small.

    Both published counts ride ONE aggregate over ONE left join with a
    hit flag (count(*) = distinct child values, hits-missing = the
    anti-join count). The first form ran a count agg AND a left_anti
    join against the same child-distinct subtree — nothing reuses that
    exchange across two separate aggregations, so the child's
    scan+distinct (the expensive side: the fact table) executed twice
    per edge (referential_integrity_report's 6-edge union carried 36
    parquet scans; the fold halves the child work, same values).
    """
    c = child.select(F.col(child_col).alias("__v")).where(F.col(child_col).isNotNull()).distinct()
    p = parent.select(F.col(parent_col).alias("__v")).where(F.col(parent_col).isNotNull()).distinct()
    return (
        c.join(p.withColumn("__hit", F.lit(1)), "__v", "left")
        .agg(
            F.count("*").alias("__n"),
            # coalesce: sum() over an empty child is NULL, but the old
            # crossJoin-of-count form published 0 violations there
            F.coalesce(
                F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)), F.lit(0)
            ).alias("__viol"),
        )
        .select(
            F.col("__n").cast("long").alias("n_child_values"),
            F.col("__viol").cast("long").alias("violations"),
            (F.col("__viol") == 0).alias("holds"),
        )
    )


def weighted_percentiles(
    df,
    value_col: str,
    weight_col: str,
    keys: list[str],
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    round_to: int = 2,
):
    """Exact weighted percentiles per key group: for each q, the
    smallest value whose cumulative weight reaches q·total —
    (keys..., n_rows, total_weight, wp25, wp50, ...). The multi-q
    generalization of weighted_median: ONE cumulative-weight window
    feeds every quantile read-off, so adding quantiles is free."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(value_col)
    cum = df.select(
        *keys,
        F.col(value_col).alias("__v"),
        F.sum(weight_col).over(w).alias("__cw"),
        F.sum(weight_col).over(Window.partitionBy(*keys)).alias("__tw"),
    )
    aggs = [
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.max("__tw"), round_to).alias("total_weight"),
    ]
    for q in quantiles:
        aggs.append(
            F.round(
                F.min(F.when(F.col("__cw") >= q * F.col("__tw"), F.col("__v"))),
                round_to,
            ).alias(f"wp{int(q * 100)}")
        )
    return cum.groupBy(*keys).agg(*aggs)


def footer_stats(spark, path: str, columns: list[str]):
    """Scan-free column statistics from parquet FOOTER metadata:
    (column, n_rows, min_value, max_value, null_count) without reading
    a single data page — the at-scale profiling shortcut (row-group
    stats are how engines prune; a catalog can publish min/max/null
    profiles for a 100 TB table by touching only footers).

    Footers are enumerated and decoded per file; this fixture is one
    file, and at scale the same loop runs as a parallel mapPartitions
    over the file list (each footer is a few KB regardless of data
    size). Values are surfaced as DOUBLE for numeric columns so the
    frame has a stable schema.
    """
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    agg: dict[str, list] = {c: [0, None, None, 0] for c in columns}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in agg:
                continue
            a = agg[name]
            a[0] += g.num_rows
            st = col.statistics
            if st is not None and st.has_min_max:
                mn, mx = float(st.min), float(st.max)
                a[1] = mn if a[1] is None else min(a[1], mn)
                a[2] = mx if a[2] is None else max(a[2], mx)
            if st is not None and st.null_count is not None:
                a[3] += st.null_count
    rows = [
        (c, int(a[0]), a[1], a[2], int(a[3])) for c, a in agg.items()
    ]
    return spark.createDataFrame(
        rows,
        "column string, n_rows long, min_value double, max_value double, null_count long",
    )


def mad_outlier_report(
    df: DataFrame, key_col: str, value_col: str, z_crit: float = 3.5
) -> DataFrame:
    """Robust per-group outlier census via the median absolute
    deviation: med = median(x), mad = median(|x - med|), and a value is
    an outlier when 0.6745·|x - med| / mad > z_crit (the standard
    consistency constant making MAD comparable to sigma under
    normality). Unlike mean/stddev censors (event_value_outliers'
    z-score twin), a few extreme values cannot drag the threshold —
    the breakdown point is 50%.

    Two exact interpolated-percentile passes (Spark `percentile` ==
    DuckDB `quantile_cont`, parity proven by the percentile gates) with
    a broadcast join of the per-group (med, mad) frame back onto the
    values — group-count-sized state, two shuffles on the group key at
    any corpus size. mad == 0 (constant-majority groups) yields zero
    outliers rather than a division blow-up: the comparison is kept in
    product form |x-med|·0.6745 > z_crit·mad, which is also where the
    engines stay bit-identical (one multiply each side, no divide).
    """
    med = df.groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), key_col).select(
        key_col, value_col, "med",
        F.abs(F.col(value_col) - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy(key_col).agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count("*").alias("n"),
    )
    out = (
        dev.select(key_col, "adev")
        .join(F.broadcast(mad.select(key_col, "mad")), key_col)
        .filter(F.col("adev") * 0.6745 > z_crit * F.col("mad"))
        .groupBy(key_col)
        .agg(F.count("*").alias("n_outliers"))
    )
    stable = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        mad.join(out, key_col, "left")
        .select(
            key_col,
            stable(F.col("med")).alias("med"),
            stable(F.col("mad")).alias("mad"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
            F.col("n"),
        )
    )


def constraint_report(
    fact: DataFrame,
    dim: DataFrame,
    fk_col: str,
    pk_col: str,
    checks: list[tuple],
) -> DataFrame:
    """Declarative data-quality constraint suite — the dbt-test /
    expectation-suite shape: one result row per constraint with
    (constraint, n_checked, n_violations, passed). Row-level checks
    (not_null, range, accepted_values, custom predicates) evaluate in
    ONE conditional-aggregation pass over the fact table; the two
    relational checks ride their own minimal plans — referential
    integrity as a broadcast anti-join against the dimension's key
    projection, key uniqueness as one groupBy counting keys seen more
    than once. Nothing scans the fact table more than twice, whatever
    the number of row-level checks.

    `checks` entries: (name, violation_predicate_sql) — the predicate
    is TRUE when the row VIOLATES the constraint (null-safe: wrap with
    coalesce as needed)."""
    row_aggs = [F.count("*").cast("long").alias("__n")]
    for name, pred in checks:
        row_aggs.append(
            F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(name)
        )
    wide = fact.agg(*row_aggs)
    names = [n for n, _ in checks]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    rows = wide.selectExpr(
        "__n", f"stack({len(names)}, {stack}) AS (constraint, n_violations)"
    ).select(
        "constraint",
        F.col("__n").alias("n_checked"),
        "n_violations",
    )
    orphans = (
        fact.select(F.col(fk_col))
        .join(F.broadcast(dim.select(F.col(pk_col).alias(fk_col))), fk_col, "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
        .select(
            F.lit("fk_" + fk_col).alias("constraint"),
            F.lit(None).cast("long").alias("n_checked"),
            "n_violations",
        )
    )
    return (
        rows.unionByName(orphans)
        .withColumn("passed", (F.col("n_violations") == 0))
        .orderBy("constraint")
    )
