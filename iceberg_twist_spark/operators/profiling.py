"""Data-profiling and distribution-statistics operators.

Before a 100 TB corpus or telemetry lake is queryable with confidence,
it gets profiled: per-column null/distinct/min/max summaries,
value-distribution histograms, per-key modal values, and distribution
entropy. The reference does this by hand at the REPL (the exploratory
`__main__` probe session, `iceberg-twist/main.py:84-103`, printing
lengths/hex/word counts per frame); these operators are that workflow
made declarative and scalable.

Scale notes:
- The table profile is a SINGLE pass: one aggregate computes every
  per-column statistic, and the wide one-row result is unpivoted to
  long form driver-side-free (the unpivot runs on one row). No
  per-column rescans.
- The histogram computes data-dependent bounds in-plan (one-row
  aggregate, broadcast crossJoin — never a driver collect) and bins
  with pure arithmetic; the bin aggregate is map-side combined, so
  shuffle volume is |bins|, not |rows|.
- Mode and entropy shuffle (key, value) then key — both partial-
  aggregated; entropy's per-key total rides the same second shuffle
  via a window over the group, not a second scan.
- The rolling time window uses a RANGE frame over epoch seconds per
  key: one shuffle, sort within key, O(window) state per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.common import duck_r4, duck_ts_str, r4, ts_str
from iceberg_twist_spark.registry import register

# Columns profiled (name, is_numeric). A fixed projection keeps the
# profile single-pass and the oracle exact; at scale you'd generate
# this list from the schema the same way.
_PROFILE_COLS = (
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM lineitem"""
    for c, _ in _PROFILE_COLS
)


@register("q_profile_table", oracle=_PROFILE_ORACLE, tags=("profile", "agg"))
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format table profile of ``lineitem``: rows, nulls,
    distincts, min/max per column — no per-column rescans.

    r12 (guide §2, r11 verdict #5): two-pass exact NDV in long form
    replaces the former multi-distinct Expand + crossJoin'd min/max
    SortAggregate. Each type family (numeric / string) stacks its
    columns to (col_name, value) rows, pre-aggregates by (col_name,
    value) — map-side combined, so the shuffle is |distinct (c, v)|
    pairs, not scan rows — and one merge aggregate per column derives
    rows (Σcnt), nulls (Σcnt where value null), exact NDV
    (count(value) over the deduped pairs), and min/max (min/max over
    the distinct values ≡ min/max over all values). Stacking needs one
    type per family, so numbers run as double and strings as string,
    both before the string cast of min/max, so ordering is never
    lexicographic on numbers. The double family is lossless only for
    double columns: any other numeric column raises ``TypeError``
    rather than being coerced. The Expand multiplier drops from
    ×(|cols|+1) on every scan row to ×|family| with only (name,
    value) carried, the second full scan and its group-less
    SortAggregate disappear, and min/max ride the same shuffle.
    Measured at sf0.1 (alternating A/B, best-of-5): 3.08 → 2.00 s,
    rows identical.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    num_cols = [c for c, num in _PROFILE_COLS if num]
    str_cols = [c for c, num in _PROFILE_COLS if not num]
    for c in num_cols:
        if li.schema[c].dataType != DoubleType():
            raise TypeError(
                f"q_profile_table profiles numeric columns as double; "
                f"{c} is {li.schema[c].dataType.simpleString()}"
            )

    def long_profile(cols: list[str], cast: str) -> DataFrame:
        stack = ", ".join(f"'{c}', cast(`{c}` as {cast})" for c in cols)
        lf = li.selectExpr(f"stack({len(cols)}, {stack}) AS (col_name, value)")
        per_val = lf.groupBy("col_name", "value").agg(F.count("*").alias("cnt"))
        return per_val.groupBy("col_name").agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("value").isNull(), F.col("cnt"))), F.lit(0)
            ).cast("long").alias("n_null"),
            F.count("value").cast("long").alias("n_distinct"),
            F.min("value").cast("string").alias("min_val"),
            F.max("value").cast("string").alias("max_val"),
        )

    return long_profile(num_cols, "double").unionByName(
        long_profile(str_cols, "string")
    )


N_BINS = 10

_HIST_ORACLE = f"""
WITH bounds AS (
    SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
    FROM lineitem
),
binned AS (
    SELECT CASE WHEN b.hi = b.lo THEN 0
               ELSE least(CAST(floor((l_extendedprice - b.lo)
                                     / ((b.hi - b.lo) / {N_BINS})) AS BIGINT),
                          {N_BINS - 1})
           END AS bin_id,
           l_extendedprice, b.lo, b.hi
    FROM lineitem CROSS JOIN bounds b
)
SELECT bin_id,
       CAST(count(*) AS BIGINT) AS n,
       {duck_r4(f'min(lo) + min(bin_id) * ((min(hi) - min(lo)) / {N_BINS})')} AS bin_lo,
       {duck_r4('min(l_extendedprice)')} AS bin_min,
       {duck_r4('max(l_extendedprice)')} AS bin_max
FROM binned GROUP BY bin_id
"""


@register("q_agg_histogram", oracle=_HIST_ORACLE, tags=("profile", "agg"))
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bin histogram of ``l_extendedprice`` with
    data-dependent bounds computed in-plan (one-row broadcast), not
    collected to the driver. Bin counts partial-aggregate map-side —
    shuffle volume is 10 rows regardless of table size."""
    li = load_tables(spark, sf_dir)["lineitem"]
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / N_BINS
    # constant column → single bin 0 (guard against zero width)
    bin_id = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
            F.lit(N_BINS - 1),
        )
    ).cast("long")
    return (
        li.crossJoin(F.broadcast(bounds))
        .withColumn("bin_id", bin_id)
        .groupBy("bin_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            # bin_id * ((hi-lo)/N), NOT (bin_id*(hi-lo))/N — the float
            # association must match the oracle exactly or a one-ulp
            # drift can flip the 4th decimal at the rounding boundary
            r4(F.min("lo") + F.min("bin_id") * ((F.min("hi") - F.min("lo")) / N_BINS)).alias("bin_lo"),
            r4(F.min("l_extendedprice")).alias("bin_min"),
            r4(F.max("l_extendedprice")).alias("bin_max"),
        )
    )


_MODE_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS n
FROM c
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY cnt DESC, event_type
) = 1
"""


@register("q_agg_mode", oracle=_MODE_ORACLE, tags=("profile", "agg", "window"))
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sensor modal event type (deterministic tiebreak: most
    frequent, then alphabetical). Count then rank — WindowGroupLimit
    prunes non-winners map-side after the keyed count."""
    events = load_tables(spark, sf_dir)["events"]
    c = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("cnt").cast("long").alias("n"),
        )
    )


_ENTROPY_ORACLE = f"""
WITH c AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
),
t AS (
    SELECT user_id, event_type, cnt,
           sum(cnt) OVER (PARTITION BY user_id) AS total
    FROM c
)
SELECT user_id,
       CAST(min(total) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       {duck_r4('sum(-(cnt * 1.0 / total) * ln(cnt * 1.0 / total))')} AS entropy
FROM t GROUP BY user_id
"""


@register("q_agg_entropy", oracle=_ENTROPY_ORACLE, tags=("profile", "agg"))
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each sensor's event-type mix — the standard
    distribution-drift / diversity signal. Per-key totals ride a
    window over the already-aggregated counts (|keys × types| rows),
    so the raw stream is shuffled exactly once."""
    events = load_tables(spark, sf_dir)["events"]
    c = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    t = c.withColumn("total", F.sum("cnt").over(Window.partitionBy("user_id")))
    p = F.col("cnt") * F.lit(1.0) / F.col("total")
    return t.groupBy("user_id").agg(
        F.min("total").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        r4(F.sum(-p * F.log(p))).alias("entropy"),
    )


ROLL_WINDOW_S = 86_400  # 24 h

_ROLLING_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, value,
           CAST(ts AS TIMESTAMP) AS ts,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
    FROM events
)
SELECT event_id, user_id, {duck_ts_str('ts')} AS ts,
       {duck_r4(f'''avg(value) OVER (
           PARTITION BY user_id ORDER BY sec
           RANGE BETWEEN {ROLL_WINDOW_S} PRECEDING AND CURRENT ROW
       )''')} AS rolling_avg,
       CAST(count(*) OVER (
           PARTITION BY user_id ORDER BY sec
           RANGE BETWEEN {ROLL_WINDOW_S} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_window
FROM e
"""


@register("q_ts_rolling", oracle=_ROLLING_ORACLE, tags=("timeseries", "window"))
def q_ts_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24 h rolling average per sensor — a RANGE frame over
    epoch seconds, the feature-engineering primitive for telemetry.

    RANGE (not ROWS) so frame membership is a pure function of event
    time — identical on any engine and under any tie ordering. One
    shuffle on user_id; per-key state is the 24 h window."""
    events = load_tables(spark, sf_dir)["events"]
    e = events.select(
        "event_id", "user_id", "value", "ts",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-ROLL_WINDOW_S, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("ts"),
        r4(F.avg("value").over(w)).alias("rolling_avg"),
        F.count("*").over(w).cast("long").alias("n_window"),
    )


_WINSOR_ORACLE = f"""
WITH b AS (
    SELECT l_returnflag AS flag,
           quantile_cont(l_extendedprice, 0.05) AS lo,
           quantile_cont(l_extendedprice, 0.95) AS hi
    FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       {duck_r4('avg(least(greatest(l.l_extendedprice, b.lo), b.hi))')} AS avg_winsor,
       {duck_r4('avg(l.l_extendedprice)')} AS avg_raw
FROM lineitem l JOIN b ON l.l_returnflag = b.flag
GROUP BY 1
"""


@register("q_winsorize", oracle=_WINSOR_ORACLE, tags=("profile", "agg", "filter"))
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip ``l_extendedprice`` to each
    return-flag's [p05, p95] band and compare the winsorized mean to
    the raw mean — the standard outlier-robust cleaning step before
    model features.

    The per-group percentile bounds (|groups| rows) broadcast back
    onto the fact table, so the big side never shuffles; Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    linear-interpolation definition, so the clip boundaries are
    bit-identical on both engines.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    bounds = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    )
    x = F.col("l_extendedprice")
    clipped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(bounds), li.l_returnflag == bounds.flag)
        .groupBy("flag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum((x < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((x > F.col("hi")).cast("long")).alias("n_clip_hi"),
            r4(F.avg(clipped)).alias("avg_winsor"),
            r4(F.avg(x)).alias("avg_raw"),
        )
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_CORR_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       {duck_r4(f'corr({a}, {b})')} AS corr
FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
)


@register("q_agg_corr_matrix", oracle=_CORR_ORACLE, tags=("profile", "agg"))
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix (upper triangle) of the lineitem
    measures — ONE scan computes every pair (a single aggregate with
    C(4,2)=6 corr expressions), then the wide row is stacked to long
    form. The single-pass shape is what survives a 100 TB fact table;
    a per-pair rescan loop would not."""
    li = load_tables(spark, sf_dir)["lineitem"]
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
    ]
    wide = li.agg(
        *[r4(F.corr(a, b)).alias(f"{a}__{b}") for a, b in pairs]
    )
    stack_expr = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, corr)"
    )


TOP_SKEW = 10

_SKEW_ORACLE = f"""
WITH c AS (
    SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
),
s AS (
    SELECT o_custkey, n,
           sum(n) OVER () AS total,
           avg(n) OVER () AS avg_n,
           row_number() OVER (ORDER BY n DESC, o_custkey) AS rnk
    FROM c
)
SELECT CAST(rnk AS BIGINT) AS rnk, o_custkey, CAST(n AS BIGINT) AS n,
       {duck_r4('n * 1.0 / total')} AS share,
       {duck_r4('n / avg_n')} AS imbalance
FROM s WHERE rnk <= {TOP_SKEW}
"""


@register("q_profile_skew", oracle=_SKEW_ORACLE, tags=("profile", "agg", "window"))
def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: the top-10 heaviest ``o_custkey`` values
    with their row share and imbalance factor (count / mean count) —
    the diagnostic that decides whether a join needs salting
    (operators/skew.py) or AQE skew splitting before it burns a
    cluster. Key counts partial-aggregate map-side; the global windows
    then run over |keys| rows, not |rows|."""
    orders = load_tables(spark, sf_dir)["orders"]
    c = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(F.desc("n"), F.asc("o_custkey"))
    return (
        c.withColumn("total", F.sum("n").over(w_all))
        .withColumn("avg_n", F.avg("n").over(w_all))
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= TOP_SKEW)
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "o_custkey",
            F.col("n").cast("long").alias("n"),
            r4(F.col("n") * F.lit(1.0) / F.col("total")).alias("share"),
            r4(F.col("n") / F.col("avg_n")).alias("imbalance"),
        )
    )


_SLA_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       {duck_r4('quantile_cont(value, 0.5)')} AS p50,
       {duck_r4('quantile_cont(value, 0.95)')} AS p95,
       {duck_r4('quantile_cont(value, 0.99)')} AS p99
FROM events GROUP BY event_type
"""


@register("q_agg_sla", oracle=_SLA_ORACLE, tags=("profile", "agg", "timeseries"))
def q_agg_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA-style tail percentiles (p50/p95/p99) of the value
    distribution per event type — one exact multi-percentile aggregate
    (single sort per group inside the ObjectHashAggregate), the
    standard latency-report shape."""
    events = load_tables(spark, sf_dir)["events"]
    pct = F.expr("percentile(value, array(0.5, 0.95, 0.99))")
    return (
        events.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"), pct.alias("pcts"))
        .select(
            "event_type", "n",
            r4(F.element_at("pcts", 1)).alias("p50"),
            r4(F.element_at("pcts", 2)).alias("p95"),
            r4(F.element_at("pcts", 3)).alias("p99"),
        )
    )


_IMPUTE_ORACLE = f"""
WITH holes AS (
    SELECT event_id, user_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
    FROM events
),
mu AS (
    -- exact integer-cent sum: avg(double) is summation-order-dependent
    -- in the last ulp, and a mean landing on the r4 boundary would
    -- round differently per engine (surfaced by the sf1 twin data)
    SELECT user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / (count(value) * 100.0)
               AS user_mean
    FROM holes WHERE value IS NOT NULL GROUP BY 1
)
SELECT h.event_id, h.user_id,
       h.value IS NULL AS was_null,
       {duck_r4('coalesce(h.value, m.user_mean)')} AS value_imputed
FROM holes h JOIN mu m ON h.user_id = m.user_id
"""


@register("q_impute_mean", oracle=_IMPUTE_ORACLE, tags=("profile", "agg", "filter"))
def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key mean imputation of missing values (holes injected
    deterministically on event_id ≡ 0 mod 7, so the query is
    oracle-checkable). Per-user means are one map-side-combined
    aggregate broadcast back onto the stream — the fill never shuffles
    the fact side; the cleaning step every feature pipeline runs."""
    events = load_tables(spark, sf_dir)["events"]
    holes = events.select(
        "event_id", "user_id",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value")).alias("value"),
    )
    # integer-cent mean: values carry 2 decimals, so summing
    # floor(value·100 + .5) as longs is exact — the double division at
    # the end is one identical IEEE op on both engines, immune to the
    # summation-order ulp drift that plain avg(double) has
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    mu = (
        holes.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg((F.sum(cents) / (F.count("value") * 100.0)).alias("user_mean"))
    )
    # per-user means grow with the user population — no forced broadcast.
    return holes.join(mu, "user_id").select(
        "event_id", "user_id",
        F.col("value").isNull().alias("was_null"),
        r4(F.coalesce("value", "user_mean")).alias("value_imputed"),
    )


# ----------------------------------------------------- DQ constraints
# Declarative data-quality audit (the Deequ-style expectation suite):
# each constraint is one aggregate or anti-join over the table under
# test, unioned into a (constraint, n_violations, n_checked) report.
# All shapes are scale-safe: null/range/uniqueness checks are
# two-phase aggregates; referential integrity is a LEFT ANTI join on
# the key (shuffle on the key only — at 100 TB this is the same plan
# as any fact⋈dim semi join, and AQE handles the skewed-orphan case).
_DQ_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem.l_quantity_in_1_50' AS constraint,
         CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS n_violations,
         CAST(count(*) AS BIGINT) AS n_checked
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_extendedprice_nonneg',
         CAST(count(*) FILTER (WHERE l_extendedprice < 0 OR l_extendedprice IS NULL) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orders.o_orderkey_unique',
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem.l_orderkey_fk_orders',
         CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
               ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey_fk_customer',
         CAST((SELECT count(*) FROM orders o LEFT JOIN customer c
               ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT),
         CAST((SELECT count(*) FROM orders) AS BIGINT)
)
"""


@register("q_dq_checks", oracle=_DQ_ORACLE, tags=("profile", "agg", "join"))
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite: range, non-negative/non-null,
    key uniqueness, and two referential-integrity constraints, as one
    (constraint, n_violations, n_checked) report. Range/null/unique
    are single-pass aggregates; FK orphans are LEFT ANTI joins that
    shuffle only the key — the audit a nightly pipeline runs before
    publishing a partition."""
    t = load_tables(spark, sf_dir)
    li, od, cu = t["lineitem"], t["orders"], t["customer"]

    def one(name, viol, checked):
        return viol.crossJoin(checked).select(
            F.lit(name).alias("constraint"),
            F.col("v").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )

    qty = li.agg(
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("v")
    )
    li_n = li.agg(F.count("*").alias("n"))
    price = li.agg(
        F.sum(
            (F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") < 0)).cast("long")
        ).alias("v")
    )
    uniq = od.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("v")
    )
    od_n = od.agg(F.count("*").alias("n"))
    fk_li = (
        li.join(od.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("v"))
    )
    fk_od = (
        od.join(cu.select("c_custkey"), od["o_custkey"] == F.col("c_custkey"), "left_anti")
        .agg(F.count("*").alias("v"))
    )
    return (
        one("lineitem.l_quantity_in_1_50", qty, li_n)
        .unionByName(one("lineitem.l_extendedprice_nonneg", price, li_n))
        .unionByName(one("orders.o_orderkey_unique", uniq, od_n))
        .unionByName(one("lineitem.l_orderkey_fk_orders", fk_li, li_n))
        .unionByName(one("orders.o_custkey_fk_customer", fk_od, od_n))
    )
