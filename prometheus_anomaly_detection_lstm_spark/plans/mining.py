"""Pattern-mining / diagnostics plans.

Engine-completeness work (the reference —
vpuhoff/prometheus-anomaly-detection-lstm — has none of this surface);
the metric-facing entries extend its anomaly-detection premise with the
classic statistical baselines a metrics platform runs beside an LSTM:

- TS diagnostics: ``metric_rolling_median`` (exact sliding median),
  ``metric_change_points`` (two-sample mean-shift scan),
  ``metric_autocorrelation`` (ACF 1..8), ``metric_mad_outliers``
  (median/MAD robust z), ``metric_stl_decompose`` (trend/seasonal/
  residual), ``metric_periodogram`` (rFFT dominant periods),
  ``metric_cross_correlation`` (lead/lag CCF between series)
- Serving/alerting: ``metric_m4_downsample`` (error-free chart
  reduction), ``metric_slo_burn_rate`` (multiwindow SRE alert),
  ``metric_anomaly_ensemble`` (2-of-3 detector vote),
  ``metric_distribution_drift`` (PSI vs the reference half),
  ``metric_forecast_backtest`` (rolling-origin MAE/RMSE)
- Graph: ``event_graph_triangles`` (degree-oriented triangle count)
- Corpus/product analytics: ``corpus_quality_curriculum`` (quantile
  curriculum stages), ``corpus_length_gini`` (per-language length
  inequality), ``events_ab_test`` (Welch's t readout),
  ``cohort_ltv_curve`` (cumulative cohort revenue),
  ``events_bot_cadence`` (inter-event-time regularity)

Scale notes (100 TB):

- Rolling median / change points use per-series ROWS frames — the only
  exchange is hashpartitioning(metric); parallelism grows with label
  cardinality, and the frames are bounded (24/16 rows), so state per
  row is O(frame), never O(series).
- Triangle counting uses the degree-orientation trick (direct every
  edge from its lower-(degree, name) endpoint to the higher one): the
  join cost is sum of squared OUT-degrees, which orientation minimizes
  — the standard MapReduce-triangles shape.  All joins are equi-joins
  on node keys; no broadcast hints, AQE size-gates the tiny sides.
- Curriculum boundaries are a one-row percentile aggregate (partial
  aggregation map-side, one row to the driver-free broadcast), so the
  bucket assignment is a map-only projection over the corpus — no sort,
  no ntile single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_tables import load_table
from ..functions.checkpoint import cut_lineage

QUERIES: dict = {}

#: sliding-median frame: current row + 23 preceding (24 samples ~ "2h
#: at 5min scrape" in the reference's cadence).
MEDIAN_FRAME = 23
#: mean-shift windows: 16 samples each side of the candidate point.
SHIFT_W = 16
#: |standardized mean shift| above this flags a change point.
SHIFT_THRESHOLD = 1.0
#: curriculum boundary quantiles over document length.
CURRICULUM_QS = (0.25, 0.5, 0.75, 0.9)


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sample-stream adapter (io_tables.events_series)."""
    from ..io_tables import events_series

    return events_series(spark, sf_dir)


# ------------------------------------------------------- rolling median

def rolling_median(s: DataFrame) -> DataFrame:
    """Exact sliding median per series: ``percentile(value, 0.5)`` over a
    bounded ROWS frame (continuous interpolation — DuckDB's
    quantile_cont twin is bit-identical, verified).  One
    hashpartitioning(metric) exchange; the frame is 24 rows, so memory
    per row is constant."""
    w = (
        Window.partitionBy("metric")
        .orderBy("ts", "seq")
        .rowsBetween(-MEDIAN_FRAME, 0)
    )
    return s.select(
        "metric",
        "ts",
        "seq",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "roll_median"
        ),
    )


def q_metric_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_median(_series(spark, sf_dir))


ORACLE_ROLLING_MEDIAN = f"""SELECT event_type AS metric, ts,
       event_id AS seq,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN {MEDIAN_FRAME} PRECEDING AND CURRENT ROW), 6)
         AS roll_median
FROM events"""

QUERIES["metric_rolling_median"] = (
    q_metric_rolling_median,
    ORACLE_ROLLING_MEDIAN,
)


# -------------------------------------------------------- change points

def change_points(s: DataFrame) -> DataFrame:
    """Two-sample mean-shift scan: at every sample, compare the mean of
    the 16 preceding samples against the mean of the 16 starting here;
    standardize by the series' population stddev; flag |shift| >
    threshold.  Both windows must be FULL (count == 16) so series edges
    can't fire spurious alerts.

    All three window aggregates (two bounded frames + the unbounded
    stddev) share one hashpartitioning(metric) exchange."""
    base = Window.partitionBy("metric").orderBy("ts", "seq")
    pre = base.rowsBetween(-SHIFT_W, -1)
    post = base.rowsBetween(0, SHIFT_W - 1)
    whole = Window.partitionBy("metric")
    shift = (
        (F.avg("value").over(post) - F.avg("value").over(pre))
        / F.stddev_pop("value").over(whole)
    )
    return (
        s.select(
            "metric",
            "ts",
            "seq",
            F.count("value").over(pre).alias("__pre_n"),
            F.count("value").over(post).alias("__post_n"),
            # sd == 0 (constant series) means shift is 0/0 = NaN, and
            # BOTH engines order NaN above every number — guard it out
            # explicitly or a flat series would flag every sample.
            F.stddev_pop("value").over(whole).alias("__sd"),
            F.round(shift, 6).alias("shift_z"),
        )
        .filter(
            (F.col("__pre_n") == SHIFT_W)
            & (F.col("__post_n") == SHIFT_W)
            & (F.col("__sd") > 0)
            & (F.abs("shift_z") > SHIFT_THRESHOLD)
        )
        .select("metric", "ts", "seq", "shift_z")
    )


def q_metric_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return change_points(_series(spark, sf_dir))


ORACLE_CHANGE_POINTS = f"""WITH d AS (
  SELECT event_type AS metric, ts, event_id AS seq,
    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN {SHIFT_W} PRECEDING AND 1 PRECEDING) AS pre_avg,
    count(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN {SHIFT_W} PRECEDING AND 1 PRECEDING) AS pre_n,
    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN CURRENT ROW AND {SHIFT_W - 1} FOLLOWING) AS post_avg,
    count(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN CURRENT ROW AND {SHIFT_W - 1} FOLLOWING) AS post_n,
    stddev_pop(value) OVER (PARTITION BY event_type) AS sd
  FROM events)
SELECT metric, ts, seq, round((post_avg - pre_avg) / sd, 6) AS shift_z
FROM d
WHERE pre_n = {SHIFT_W} AND post_n = {SHIFT_W} AND sd > 0
  AND abs(round((post_avg - pre_avg) / sd, 6)) > {SHIFT_THRESHOLD}"""

QUERIES["metric_change_points"] = (
    q_metric_change_points,
    ORACLE_CHANGE_POINTS,
)


# ------------------------------------------------------------ triangles

def q_event_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected user-journey
    transition graph (event types that co-occur in closed loops).

    Degree orientation: every undirected edge is directed from its
    lower-(degree, name) endpoint to the higher one, making the
    orientation a total order — each triangle is then found EXACTLY
    once as a directed path u->v, v->w closed by u->w, and the
    wedge-join fan-out is bounded by the squared out-degree, which the
    orientation minimizes (high-degree hubs get few out-edges).  The
    oracle counts the same triangles with the lexical a<b<c
    orientation: the triangle SET is orientation-independent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t"),
        F.lag("event_type").over(w).alias("f"),
    ).filter(F.col("f").isNotNull() & (F.col("f") != F.col("t")))
    # und is VOCABULARY-scale (distinct event-type pairs) but derives
    # from the corpus-wide lag chain; deg (twice via the union),
    # withdeg and the three oriented join sides re-executed that chain
    # per consumer — 15 executed scans of events (round-12 audit).
    # One lazy checkpoint of the tiny frame: scans 15 -> 1.
    # Executor-loss caveat: see events_association_rules (relational.py).
    und = seq.select(
        F.least("f", "t").alias("a"), F.greatest("f", "t").alias("b")
    ).distinct().transform(cut_lineage)
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("deg", "deg_b")
    )
    lo_first = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = withdeg.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    e1 = oriented
    e2 = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    e3 = oriented.select(
        F.col("u").alias("u3"), F.col("v").alias("w3")
    )
    tri = (
        e1.join(e2, "v")
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
        )
        .select("u", "v", "w")
    )
    return (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


ORACLE_TRIANGLES = """WITH seq AS (
  SELECT event_type AS t,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS f
  FROM events
), und AS (
  SELECT DISTINCT least(f, t) AS a, greatest(f, t) AS b
  FROM seq WHERE f IS NOT NULL AND f <> t
), tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), pernode AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT node, count(*) AS n_triangles FROM pernode GROUP BY node"""

QUERIES["event_graph_triangles"] = (
    q_event_graph_triangles,
    ORACLE_TRIANGLES,
)


# ----------------------------------------------------------- curriculum

def q_corpus_quality_curriculum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stage-wise curriculum split of the corpus by document length:
    exact continuous quantile boundaries (p25/p50/p75/p90) computed as
    ONE one-row aggregate (map-side partials — no sort, no single-
    partition ntile window), broadcast into a map-only bucket
    projection, then a per-stage summary.

    The one-row boundary frame rides a BroadcastNestedLoopJoin by
    construction (allowlisted in the plan-hygiene sweep); bucket
    assignment and the final rollup never see a global sort, so the
    shape survives any corpus size."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = load_table(spark, sf_dir, "documents")
    qs = ", ".join(repr(q) for q in CURRICULUM_QS)
    bounds = docs.agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("__b")
    )
    bucket = sum(
        F.when(F.col("n_chars") > F.col("__b")[i], 1).otherwise(0)
        for i in range(len(CURRICULUM_QS))
    )
    return (
        docs.join(F.broadcast(bounds))
        .select(bucket.alias("stage"), "n_chars", "doc_id")
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _curriculum_oracle() -> str:
    qs = ", ".join(repr(q) for q in CURRICULUM_QS)
    bucket = " + ".join(
        f"CASE WHEN n_chars > b[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(len(CURRICULUM_QS))
    )
    return f"""WITH bounds AS (
  SELECT quantile_cont(n_chars, [{qs}]) AS b FROM documents
), staged AS (
  SELECT ({bucket}) AS stage, n_chars
  FROM documents, bounds
)
SELECT stage, count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM staged GROUP BY stage"""


QUERIES["corpus_quality_curriculum"] = (
    q_corpus_quality_curriculum,
    _curriculum_oracle(),
)


# ------------------------------------------------------ autocorrelation

#: ACF lags computed per series.
ACF_LAGS = 8


def autocorrelation(s: DataFrame) -> DataFrame:
    """Per-series autocorrelation at lags 1..K — the seasonality /
    memory diagnostic run before choosing a window length (the
    reference hard-codes its LSTM lookback; ACF is how that choice is
    audited).  lag() columns ride ONE hashpartitioning(metric) window
    exchange which the per-metric corr() aggregate then reuses; the
    K correlations fan out of a single aggregate row via stack() —
    no per-lag re-scan (the oracle's UNION ALL form is the readable
    equivalent on the DuckDB side)."""
    w = Window.partitionBy("metric").orderBy("ts", "seq")
    lagged = s.select(
        "metric",
        "value",
        *[
            F.lag("value", k).over(w).alias(f"__l{k}")
            for k in range(1, ACF_LAGS + 1)
        ],
    )
    agg = lagged.groupBy("metric").agg(
        *[
            F.round(F.corr("value", f"__l{k}"), 6).alias(f"__acf{k}")
            for k in range(1, ACF_LAGS + 1)
        ]
    )
    pairs = ", ".join(
        f"{k}, __acf{k}" for k in range(1, ACF_LAGS + 1)
    )
    return agg.select(
        "metric",
        F.expr(f"stack({ACF_LAGS}, {pairs}) AS (lag, acf)"),
    ).select("metric", "lag", "acf")


def q_metric_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorrelation(_series(spark, sf_dir))


def _acf_oracle() -> str:
    lag_cols = ",\n         ".join(
        f"lag(value, {k}) OVER w AS l{k}" for k in range(1, ACF_LAGS + 1)
    )
    branches = "\nUNION ALL ".join(
        f"SELECT metric, {k} AS lag, round(corr(value, l{k}), 6) AS acf"
        f" FROM lagged GROUP BY metric"
        for k in range(1, ACF_LAGS + 1)
    )
    return f"""WITH lagged AS (
  SELECT event_type AS metric, value,
         {lag_cols}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
{branches}"""


QUERIES["metric_autocorrelation"] = (q_metric_autocorrelation, _acf_oracle())


# -------------------------------------------------- MAD robust outliers

#: |0.6745·(x−median)/MAD| above this flags a robust outlier.
MAD_THRESHOLD = 5.0


def mad_outliers(s: DataFrame) -> DataFrame:
    """Median/MAD robust outlier flags — the heavy-tail-safe twin of the
    z-score rate anomaly already registered (one planted spike can
    poison a mean/stddev threshold; it cannot move the median).

    Two exact-percentile aggregates over metric-cardinality frames (the
    median must exist before deviations can be ranked — inherently two
    passes); both summary frames join back by metric unhinted, so AQE
    broadcasts them at any realistic label cardinality."""
    # Both summary frames are metric-cardinality with two consumers
    # each — unchecked, Catalyst re-executed the corpus scan per
    # consumer (4 executed scans, round-12 audit).  Two lazy
    # checkpoints cut that to 1 (interleaved full-cost A/B at sf0.1:
    # 0.956 vs 0.986 s median-of-7, noise-level; three avoided full
    # reads at lake scale).  Executor-loss caveat: see
    # events_association_rules (relational.py).
    med = s.groupBy("metric").agg(
        F.expr("percentile(value, 0.5)").alias("__med")
    ).transform(cut_lineage)
    dev = s.join(med, "metric").withColumn(
        "__ad", F.abs(F.col("value") - F.col("__med"))
    )
    mad = dev.groupBy("metric").agg(
        F.expr("percentile(__ad, 0.5)").alias("__mad")
    ).transform(cut_lineage)
    z = F.lit(0.6745) * (F.col("value") - F.col("__med")) / F.col("__mad")
    return (
        dev.join(mad, "metric")
        # mad == 0 (majority-constant series) makes z ±Inf/NaN; the
        # robust score is undefined there, so flag nothing — guarded in
        # BOTH engines (they order NaN above every number).
        .filter(F.col("__mad") > 0)
        .select("metric", "ts", "seq", "value", F.round(z, 6).alias("robust_z"))
        .filter(F.abs("robust_z") > MAD_THRESHOLD)
    )


def q_metric_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(_series(spark, sf_dir))


ORACLE_MAD_OUTLIERS = f"""WITH med AS (
  SELECT event_type AS m, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type AS metric, e.ts, e.event_id AS seq, e.value,
         med.med, abs(e.value - med.med) AS ad
  FROM events e JOIN med ON e.event_type = med.m
), mad AS (
  SELECT metric AS m2, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT metric, ts, seq, value,
       round(0.6745 * (value - med) / mad, 6) AS robust_z
FROM dev JOIN mad ON dev.metric = mad.m2
WHERE mad > 0
  AND abs(round(0.6745 * (value - med) / mad, 6)) > {MAD_THRESHOLD}"""

QUERIES["metric_mad_outliers"] = (q_metric_mad_outliers, ORACLE_MAD_OUTLIERS)


# ------------------------------------------------- STL-lite decompose

#: centered moving-average half-width for the trend component.
STL_HALF = 12


def stl_decompose(s: DataFrame) -> DataFrame:
    """Additive trend/seasonal/residual decomposition (STL-lite):
    trend = centered 25-sample moving average (full frames only),
    seasonal = mean detrended value per (series, hour-of-day) phase,
    residual = the rest.  The anomaly-detection preprocessing shape the
    reference approximates with calendar features (SURVEY P4): here the
    seasonal profile is LEARNED from the data instead of one-hot
    encoded.

    Two exchanges by necessity: the trend window partitions by metric,
    the phase profile by (metric, hour) — the second operates on the
    already-bounded per-series distribution."""
    base = Window.partitionBy("metric").orderBy("ts", "seq")
    frame = base.rowsBetween(-STL_HALF, STL_HALF)
    trended = s.select(
        "metric",
        "ts",
        "seq",
        "value",
        F.when(
            F.count("value").over(frame) == 2 * STL_HALF + 1,
            F.avg("value").over(frame),
        ).alias("__trend"),
        F.hour("ts").alias("__phase"),
    ).withColumn("__detr", F.col("value") - F.col("__trend"))
    wp = Window.partitionBy("metric", "__phase")
    out = trended.withColumn("__seasonal", F.avg("__detr").over(wp))
    return out.filter(F.col("__trend").isNotNull()).select(
        "metric",
        "ts",
        "seq",
        F.round("__trend", 6).alias("trend"),
        F.round("__seasonal", 6).alias("seasonal"),
        F.round(
            F.col("__detr") - F.col("__seasonal"), 6
        ).alias("residual"),
    )


def q_metric_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stl_decompose(_series(spark, sf_dir))


ORACLE_STL = f"""WITH t AS (
  SELECT event_type AS metric, ts, event_id AS seq, value,
    CASE WHEN count(value) OVER w = {2 * STL_HALF + 1}
         THEN avg(value) OVER w END AS trend,
    hour(ts) AS phase
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
), d AS (
  SELECT *, value - trend AS detr FROM t
), s AS (
  SELECT *, avg(detr) OVER (PARTITION BY metric, phase) AS seasonal
  FROM d
)
SELECT metric, ts, seq, round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(detr - seasonal, 6) AS residual
FROM s WHERE trend IS NOT NULL"""

QUERIES["metric_stl_decompose"] = (q_metric_stl_decompose, ORACLE_STL)


# ------------------------------------------------------ M4 downsampling

def m4_downsample(s: DataFrame) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    (series, tumbling bucket) keep the four pixel-defining points —
    first, last, min, max — the error-free reduction for line-chart
    rendering at any zoom level.

    One keyed aggregate; each extreme is a lexicographic min/max over a
    struct whose trailing (ts, seq) fields make ties deterministic, so
    both engines pick the identical sample.  At 100 TB this is the
    query a dashboard issues per paint: output is O(buckets), shuffle
    carries only the four struct partials per bucket."""
    first = F.min(F.struct("ts", "seq", "value"))
    last = F.max(F.struct("ts", "seq", "value"))
    low = F.min(F.struct("value", "ts", "seq"))
    high = F.max(F.struct("value", "ts", "seq"))
    return (
        s.groupBy("metric", F.date_trunc("hour", "ts").alias("w_start"))
        .agg(
            F.count("*").alias("n_samples"),
            first.alias("__f"),
            last.alias("__l"),
            low.alias("__lo"),
            high.alias("__hi"),
        )
        .select(
            "metric",
            "w_start",
            "n_samples",
            F.col("__f.ts").alias("first_ts"),
            F.round("__f.value", 6).alias("first_v"),
            F.col("__l.ts").alias("last_ts"),
            F.round("__l.value", 6).alias("last_v"),
            F.col("__lo.ts").alias("min_ts"),
            F.round("__lo.value", 6).alias("min_v"),
            F.col("__hi.ts").alias("max_ts"),
            F.round("__hi.value", 6).alias("max_v"),
        )
    )


def q_metric_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return m4_downsample(_series(spark, sf_dir))


ORACLE_M4 = """SELECT event_type AS metric,
       date_trunc('hour', ts) AS w_start,
       count(*) AS n_samples,
       (min({'ts': ts, 'seq': event_id, 'value': value})).ts AS first_ts,
       round((min({'ts': ts, 'seq': event_id, 'value': value})).value, 6)
         AS first_v,
       (max({'ts': ts, 'seq': event_id, 'value': value})).ts AS last_ts,
       round((max({'ts': ts, 'seq': event_id, 'value': value})).value, 6)
         AS last_v,
       (min({'value': value, 'ts': ts, 'seq': event_id})).ts AS min_ts,
       round((min({'value': value, 'ts': ts, 'seq': event_id})).value, 6)
         AS min_v,
       (max({'value': value, 'ts': ts, 'seq': event_id})).ts AS max_ts,
       round((max({'value': value, 'ts': ts, 'seq': event_id})).value, 6)
         AS max_v
FROM events
GROUP BY 1, 2"""

QUERIES["metric_m4_downsample"] = (q_metric_m4_downsample, ORACLE_M4)


# -------------------------------------------------------- SLO burn rate

#: SLO error budget: tolerated error ratio.
SLO_BUDGET = 0.2
#: multiwindow alert thresholds (short 1h, long 1d burn multiples).
BURN_SHORT_TH = 1.5
BURN_LONG_TH = 1.1


def slo_burn_rate(ev: DataFrame) -> DataFrame:
    """Multiwindow SLO burn-rate alert (the SRE-workbook shape): an
    hour pages only when BOTH its own burn and its day's burn exceed
    their thresholds — the short window gives reaction time, the long
    window suppresses blips.

    The daily frame re-aggregates the hourly partials (no second scan
    of the raw events), and at ~365 rows/year/service it broadcasts
    into the hour-side join under AQE."""
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("w_start")
    ).agg(
        F.count("*").alias("__n"),
        F.count_if(F.col("event_type") == "error").alias("__err"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "w_start").alias("__day")
    ).agg(
        F.sum("__n").alias("__dn"), F.sum("__err").alias("__derr")
    )
    burn_s = (F.col("__err") / F.col("__n")) / F.lit(SLO_BUDGET)
    burn_l = (F.col("__derr") / F.col("__dn")) / F.lit(SLO_BUDGET)
    return (
        hourly.join(
            daily,
            F.date_trunc("day", "w_start") == F.col("__day"),
        )
        .select(
            "w_start",
            F.round(burn_s, 6).alias("burn_1h"),
            F.round(burn_l, 6).alias("burn_1d"),
        )
        .filter(
            (F.col("burn_1h") > BURN_SHORT_TH)
            & (F.col("burn_1d") > BURN_LONG_TH)
        )
    )


def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return slo_burn_rate(load_table(spark, sf_dir, "events"))


ORACLE_SLO_BURN = f"""WITH h AS (
  SELECT date_trunc('hour', ts) AS w_start, count(*) AS n,
         count(*) FILTER (event_type = 'error') AS err
  FROM events GROUP BY 1
), d AS (
  SELECT date_trunc('day', w_start) AS day,
         sum(n) AS dn, sum(err) AS derr
  FROM h GROUP BY 1
)
SELECT h.w_start,
       round((h.err / h.n) / {SLO_BUDGET}, 6) AS burn_1h,
       round((d.derr / d.dn) / {SLO_BUDGET}, 6) AS burn_1d
FROM h JOIN d ON date_trunc('day', h.w_start) = d.day
WHERE round((h.err / h.n) / {SLO_BUDGET}, 6) > {BURN_SHORT_TH}
  AND round((d.derr / d.dn) / {SLO_BUDGET}, 6) > {BURN_LONG_TH}"""

QUERIES["metric_slo_burn_rate"] = (q_slo_burn_rate, ORACLE_SLO_BURN)


# ---------------------------------------------------------- periodogram

#: top spectral peaks reported per series.
PERIODOGRAM_TOP = 3


def periodogram(s: DataFrame, top: int = PERIODOGRAM_TOP) -> DataFrame:
    """Dominant-period detection per series: an rFFT power spectrum over
    the sample-index axis, top peaks by power share — the seasonality
    probe behind window-length choices (daily/weekly cycles in metrics).

    No SQL twin exists (FFT), so this is a rows-only registry entry;
    the spectrum itself is pinned against numpy on synthetic sinusoids
    in tests.  Arrow-batched ``applyInPandas`` per series (one group =
    one kernel call — the §2.9 UDF surface, never row-at-a-time);
    parallelism grows with series cardinality, the kernel is O(n log n)
    in the series length.  The closure captures only numpy/pandas, so
    it pickles to executors without shipping the package.  Peak order:
    power descending, frequency index ascending on exact ties —
    deterministic for the hash gate."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "metric string, rank int, period_samples double, power_share double"
    )

    def spectrum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "seq"], ignore_index=True)
        metric = pdf["metric"].iloc[0]
        v = pdf["value"].to_numpy(dtype=float)
        n = len(v)
        if n < 2 * top + 2:
            return pd.DataFrame(
                columns=["metric", "rank", "period_samples", "power_share"]
            )
        p = np.abs(np.fft.rfft(v - v.mean())) ** 2
        p[0] = 0.0  # DC carries no period
        total = float(p.sum())
        if total == 0.0:  # constant series: no spectrum, no rows
            return pd.DataFrame(
                columns=["metric", "rank", "period_samples", "power_share"]
            )
        # only strictly-positive bins are peaks: with fewer than
        # `top` of them the old code padded with the zeroed DC bin,
        # fabricating period n/0 = inf rows
        pos = np.flatnonzero(p > 0.0)
        order = pos[np.lexsort((pos, -p[pos]))][:top]
        return pd.DataFrame(
            {
                "metric": metric,
                "rank": np.arange(1, len(order) + 1, dtype="int32"),
                "period_samples": np.round(n / order, 6),
                "power_share": np.round(p[order] / total, 6),
            }
        )

    return s.groupBy("metric").applyInPandas(spectrum, out_schema)


def q_metric_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return periodogram(_series(spark, sf_dir))


# FFT has no DuckDB twin: rows-only driver check (like the ANN family);
# numpy-pinned in tests/test_mining.py.
QUERIES["metric_periodogram"] = (q_metric_periodogram, None)


# ------------------------------------------------- detector ensemble

#: votes needed to confirm an ensemble anomaly.
ENSEMBLE_CONFIRM = 2


def anomaly_ensemble(s: DataFrame) -> DataFrame:
    """Majority-vote ensemble over three statistical detectors with
    DISJOINT failure modes: MAD robust z (global heavy-tail outliers),
    two-sample mean shift (level changes), and the seasonal-profile
    z-score (wrong-for-this-hour values).  A sample is CONFIRMED when
    at least two detectors agree — the standard trick for cutting
    single-detector false positives without a labeled set.

    Composition reuses the registered operator bodies verbatim (the
    same no-drift rule as corpus_clean_pipeline), so each branch keeps
    its one-exchange plan; the vote is one keyed aggregate over the
    alert-scale union."""
    from ..operators.promql import seasonal_anomaly

    branches = [
        mad_outliers(s).select("metric", "ts", "seq"),
        change_points(s).select("metric", "ts", "seq"),
        seasonal_anomaly(s).select("metric", "ts", "seq"),
    ]
    u = branches[0].unionByName(branches[1]).unionByName(branches[2])
    return u.groupBy("metric", "ts", "seq").agg(
        F.count("*").cast("int").alias("n_votes"),
        (F.count("*") >= ENSEMBLE_CONFIRM).cast("int").alias("confirmed"),
    )


def q_metric_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anomaly_ensemble(_series(spark, sf_dir))


def _ensemble_oracle() -> str:
    from ..operators.promql import ORACLE_SEASONAL

    return f"""WITH mad_side AS (
  {ORACLE_MAD_OUTLIERS}
), chg_side AS (
  {ORACLE_CHANGE_POINTS}
), seas_side AS (
  {ORACLE_SEASONAL}
), u AS (
  SELECT metric, ts, seq FROM mad_side
  UNION ALL SELECT metric, ts, seq FROM chg_side
  UNION ALL SELECT metric, ts, seq FROM seas_side
)
SELECT metric, ts, seq, CAST(count(*) AS INTEGER) AS n_votes,
       CAST(count(*) >= {ENSEMBLE_CONFIRM} AS INTEGER) AS confirmed
FROM u GROUP BY 1, 2, 3"""


QUERIES["metric_anomaly_ensemble"] = (
    q_metric_anomaly_ensemble,
    _ensemble_oracle(),
)


# -------------------------------------------------- distribution drift

#: PSI decile edges learned from the reference half.
PSI_QS = tuple(round(0.1 * i, 1) for i in range(1, 10))
#: Laplace smoothing keeping ln() finite on empty buckets.
PSI_SMOOTH = 0.5
#: bucket count implied by the edge list — derived ONCE so the batch
#: operator and its oracle can never disagree.
PSI_N_BUCKETS = len(PSI_QS) + 1


def psi_bucket_expr(edges_col: str):
    """0-based PSI bucket of ``value`` against the quantile-edge array
    column — THE bucketization of the batch drift operator."""
    return sum(
        F.when(F.col("value") > F.col(edges_col)[i], 1).otherwise(0)
        for i in range(len(PSI_QS))
    )


def distribution_drift(s: DataFrame) -> DataFrame:
    """Population-stability-index (PSI) drift report per series: split
    the stream at its TIME-RANGE MIDPOINT, learn decile boundaries from
    the REFERENCE half, histogram both halves on those edges, and score
    PSI = Σ (actual−expected)·ln(actual/expected) with Laplace-smoothed
    shares (empty buckets stay finite) — the production train/serve
    drift metric.

    Scale shape: the time cut is a ONE-ROW min/max broadcast (map-side
    partials; see the inline note on why not an exact median); decile
    edges are a metric-cardinality EXACT-percentile aggregate joined
    back unhinted (AQE broadcasts) — exact for the oracle twin, a
    production deployment at extreme per-series volume would swap in
    approx_percentile edges with no other change; both halves histogram
    in a single pass (conditional counts per (metric, bucket)), and the
    PSI rollup runs on the metrics×10 grid — metadata scale."""
    from ..functions import ntz_epoch_seconds

    x = ntz_epoch_seconds("ts")
    # Time-range MIDPOINT, not median: min/max partial-aggregate in one
    # map-side pass, where an exact global median would buffer the full
    # stream per partition (measured 3.7x wall at 10x data before this
    # change — the one super-linear stage the growth harness caught).
    # Both the cut (ONE row) and the edges (metric cardinality) are
    # metadata-scale frames with two consumers each; unchecked,
    # Catalyst re-executed the tagged subtree per consumer — 6 executed
    # scans of the corpus (round-12 audit).  Two lazy checkpoints cut
    # that to 1 (interleaved full-cost A/B 1.33 -> 1.30 s at sf0.1,
    # hash-identical).  Executor-loss caveat: see
    # events_association_rules (relational.py).
    cut = s.agg(
        ((F.min(x) + F.max(x)) / 2).alias("__cut")
    ).transform(cut_lineage)
    tagged = s.join(F.broadcast(cut)).withColumn(
        "__is_ref", x <= F.col("__cut")
    )
    qs = ", ".join(repr(q) for q in PSI_QS)
    edges = (
        tagged.filter("__is_ref")
        .groupBy("metric")
        .agg(F.expr(f"percentile(value, array({qs}))").alias("__bs"))
        .transform(cut_lineage)
    )
    bucket = psi_bucket_expr("__bs")
    counts = (
        tagged.join(edges, "metric")
        .select("metric", bucket.alias("bucket"), "__is_ref")
        .groupBy("metric", "bucket")
        .agg(
            F.count_if("__is_ref").alias("__rn"),
            F.count_if(~F.col("__is_ref")).alias("__cn"),
        )
    )
    grid = edges.select(
        "metric",
        F.explode(
            F.sequence(F.lit(0), F.lit(PSI_N_BUCKETS - 1))
        ).alias("bucket"),
    )
    j = grid.join(counts, ["metric", "bucket"], "left").select(
        "metric",
        "bucket",
        F.coalesce("__rn", F.lit(0)).alias("__rn"),
        F.coalesce("__cn", F.lit(0)).alias("__cn"),
    )
    w = Window.partitionBy("metric")
    e = (F.col("__rn") + PSI_SMOOTH) / (
        F.sum("__rn").over(w) + PSI_N_BUCKETS * PSI_SMOOTH
    )
    a = (F.col("__cn") + PSI_SMOOTH) / (
        F.sum("__cn").over(w) + PSI_N_BUCKETS * PSI_SMOOTH
    )
    return (
        j.withColumn("__term", (a - e) * F.log(a / e))
        .groupBy("metric")
        .agg(F.round(F.sum("__term"), 6).alias("psi"))
    )


def q_metric_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distribution_drift(_series(spark, sf_dir))


def _drift_oracle() -> str:
    cases = " + ".join(
        f"CASE WHEN value > bs[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(len(PSI_QS))
    )
    qs = ", ".join(repr(q) for q in PSI_QS)
    sm = PSI_SMOOTH
    return f"""WITH s AS (
  SELECT event_type AS metric, ts, value FROM events
), cut AS (
  SELECT (min(epoch(ts)) + max(epoch(ts))) / 2 AS c FROM s
), tagged AS (
  SELECT metric, value, epoch(ts) <= c AS is_ref FROM s, cut
), b AS (
  SELECT metric, quantile_cont(value, [{qs}]) AS bs
  FROM tagged WHERE is_ref GROUP BY 1
), bucketed AS (
  SELECT t.metric, ({cases}) AS bucket, is_ref
  FROM tagged t JOIN b ON t.metric = b.metric
), counts AS (
  SELECT metric, bucket,
         count(*) FILTER (is_ref) AS rn,
         count(*) FILTER (NOT is_ref) AS cn
  FROM bucketed GROUP BY 1, 2
), grid AS (
  SELECT metric, unnest(generate_series(0, {PSI_N_BUCKETS - 1})) AS bucket FROM b
), j AS (
  SELECT g.metric, g.bucket,
         coalesce(rn, 0) AS rn, coalesce(cn, 0) AS cn
  FROM grid g LEFT JOIN counts c
    ON g.metric = c.metric AND g.bucket = c.bucket
), sh AS (
  SELECT metric, bucket,
         (rn + {sm}) / (sum(rn) OVER (PARTITION BY metric)
                        + {PSI_N_BUCKETS} * {sm}) AS e,
         (cn + {sm}) / (sum(cn) OVER (PARTITION BY metric)
                        + {PSI_N_BUCKETS} * {sm}) AS a
  FROM j
)
SELECT metric, round(sum((a - e) * ln(a / e)), 6) AS psi
FROM sh GROUP BY 1"""


QUERIES["metric_distribution_drift"] = (
    q_metric_distribution_drift,
    _drift_oracle(),
)


# --------------------------------------------------- forecast backtest

#: lookback window for the one-step linear forecast.
BACKTEST_K = 16


def forecast_backtest(s: DataFrame) -> DataFrame:
    """Rolling-origin one-step backtest of the linear forecast (the
    eval loop behind predict_linear-style alerting): at every sample,
    fit slope/intercept on the PREVIOUS K samples (closed-form
    co-moment regression over a bounded frame, x = sample index — no
    timestamp arithmetic), extrapolate one step, and score the realized
    error.  Output: per-series MAE / RMSE / n — the numbers that decide
    whether the forecaster is trustworthy enough to page on.

    One hashpartitioning(metric) exchange carries the row_number, all
    four frame aggregates AND feeds the final per-metric rollup."""
    base = Window.partitionBy("metric").orderBy("ts", "seq")
    frame = base.rowsBetween(-BACKTEST_K, -1)
    x = F.row_number().over(base).cast("double")
    withx = s.withColumn("__x", x)
    slope = F.covar_pop("__x", "value").over(frame) / F.var_pop("__x").over(
        frame
    )
    pred = (
        F.avg("value").over(frame)
        + slope * (F.col("__x") - F.avg("__x").over(frame))
    )
    scored = withx.select(
        "metric",
        F.count("value").over(frame).alias("__k"),
        (F.col("value") - pred).alias("__err"),
    ).filter(F.col("__k") == BACKTEST_K)
    return scored.groupBy("metric").agg(
        F.count("*").alias("n_forecasts"),
        F.round(F.avg(F.abs("__err")), 6).alias("mae"),
        F.round(F.sqrt(F.avg(F.col("__err") * F.col("__err"))), 6).alias(
            "rmse"
        ),
    )


def q_metric_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forecast_backtest(_series(spark, sf_dir))


ORACLE_BACKTEST = f"""WITH w AS (
  SELECT event_type AS metric, ts, event_id AS seq, value,
         CAST(row_number() OVER o AS DOUBLE) AS x
  FROM events
  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id)
), p AS (
  SELECT metric, value,
         count(value) OVER f AS k,
         avg(value) OVER f
           + (covar_pop(x, value) OVER f) / (var_pop(x) OVER f)
             * (x - avg(x) OVER f) AS pred
  FROM w
  WINDOW f AS (PARTITION BY metric ORDER BY ts, seq
               ROWS BETWEEN {BACKTEST_K} PRECEDING AND 1 PRECEDING)
)
SELECT metric, count(*) AS n_forecasts,
       round(avg(abs(value - pred)), 6) AS mae,
       round(sqrt(avg((value - pred) * (value - pred))), 6) AS rmse
FROM p WHERE k = {BACKTEST_K}
GROUP BY 1"""

QUERIES["metric_forecast_backtest"] = (
    q_metric_forecast_backtest,
    ORACLE_BACKTEST,
)


# ------------------------------------------------------- A/B analysis

#: |t| above this is reported significant (~95% two-sided).
AB_T_CRIT = 1.96


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split by a deterministic hash of
    their id (user_id % 2 — the bucketing every experimentation system
    does), per-user purchase spend as the metric, Welch's t between the
    variants.  One row: variant sizes/means/stds, the t statistic and
    the significance verdict — the analysis every product team runs
    daily, expressed as two keyed aggregates and a one-row join (the
    per-variant summary is 2 rows; nothing after the per-user rollup
    exceeds metadata scale)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("__spend"))
        .withColumn("__variant", (F.col("user_id") % 2).cast("int"))
    )
    stats = per_user.groupBy("__variant").agg(
        F.count("*").alias("n"),
        F.avg("__spend").alias("m"),
        F.var_samp("__spend").alias("v"),
    )
    a = stats.filter(F.col("__variant") == 0).select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = stats.filter(F.col("__variant") == 1).select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    # nullif: zero spend variance in BOTH variants (fixed-price
    # single purchases) would be 0/0 — ANSI throws, DuckDB yields NULL
    t = (F.col("m_a") - F.col("m_b")) / F.nullif(
        F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
        F.lit(0.0),
    )
    return a.join(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        (F.abs(F.round(t, 6)) > AB_T_CRIT).cast("int").alias("significant"),
    )


ORACLE_AB_TEST = f"""WITH per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
         sum(value) AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), s AS (
  SELECT variant, count(*) AS n, avg(spend) AS m, var_samp(spend) AS v
  FROM per_user GROUP BY 1
), a AS (SELECT n AS n_a, m AS m_a, v AS v_a FROM s WHERE variant = 0),
b AS (SELECT n AS n_b, m AS m_b, v AS v_b FROM s WHERE variant = 1)
SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
       CAST(abs(round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6))
            > {AB_T_CRIT} AS INTEGER) AS significant
FROM a, b"""

QUERIES["events_ab_test"] = (q_events_ab_test, ORACLE_AB_TEST)


# ---------------------------------------------------- Gini inequality

def q_corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document lengths — the
    inequality diagnostic behind mixture decisions (a language whose
    token mass concentrates in a few giant documents needs different
    chunking/sampling than a uniform one).

    Exact rank-based Gini: G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over the
    ascending order — the rank window partitions by LANGUAGE (hash
    exchange, parallelism grows with language count; never a global
    sort).  Ties contribute identically under any tie order, so the
    (n_chars, doc_id) tiebreak is for determinism only."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).cast("double").alias("__i"),
    )
    n = F.count("*").cast("double")
    # nullif: a language of all-zero-length documents would divide
    # by zero — ANSI throws, DuckDB yields NULL
    gini = (
        F.lit(2.0) * F.sum(F.col("__i") * F.col("n_chars"))
        / F.nullif(n * F.sum("n_chars"), F.lit(0.0))
        - (n + 1) / n
    )
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(gini, 6).alias("gini"),
    )


ORACLE_LENGTH_GINI = """WITH r AS (
  SELECT lang, n_chars,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY n_chars, doc_id) AS DOUBLE) AS i,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(2.0 * sum(i * n_chars) / (max(n) * sum(n_chars))
             - (max(n) + 1.0) / max(n), 6) AS gini
FROM r GROUP BY 1"""

QUERIES["corpus_length_gini"] = (q_corpus_length_gini, ORACLE_LENGTH_GINI)


# ------------------------------------------------- cross-correlation

#: CCF lags examined (minutes of bucket offset, both directions).
CCF_MAX_LAG = 3
#: alignment bucket for the irregular sample streams.
CCF_BUCKET = "15 minutes"


def q_metric_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between metric pairs: align each
    series onto a common 15-minute grid (bucket averages), then for
    every ordered pair and lag in [-3, 3] correlate a's bucket t with
    b's bucket t+lag — the screen for WHICH metric moves first (the
    input to alerting-dependency and root-cause graphs; lag 0 recovers
    the plain correlation matrix).

    The grid frame is (metric x buckets) — already aggregate-scale;
    the pair-lag join is an equi-join on the shifted bucket key, and
    the final corr() rollup groups on (pair, lag).  Lags materialize
    via one small explode of the lag range, NOT one join per lag."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    s = _series(spark, sf_dir)
    from ..functions import ntz_epoch_seconds

    bucket = (ntz_epoch_seconds("ts") / 900).cast("long")
    grid = (
        s.groupBy("metric", bucket.alias("__b"))
        .agg(F.avg("value").alias("__v"))
    )
    lags = F.explode(
        F.sequence(F.lit(-CCF_MAX_LAG), F.lit(CCF_MAX_LAG))
    ).alias("lag")
    a = grid.select(
        F.col("metric").alias("m_lead"),
        F.col("__b").alias("__ba"),
        F.col("__v").alias("__va"),
        lags,
    )
    b = grid.select(
        F.col("metric").alias("m_follow"),
        F.col("__b").alias("__bb"),
        F.col("__v").alias("__vb"),
    )
    joined = a.join(
        b,
        (F.col("__ba") + F.col("lag") == F.col("__bb"))
        & (F.col("m_lead") < F.col("m_follow")),
    )
    return joined.groupBy("m_lead", "m_follow", "lag").agg(
        F.count("*").alias("n_buckets"),
        F.nanvl(
            F.round(F.corr("__va", "__vb"), 6),
            F.lit(None).cast("double"),
        ).alias("ccf"),
    )


ORACLE_CROSS_CORRELATION = f"""WITH grid AS (
  SELECT event_type AS metric,
         CAST(floor(epoch(ts) / 900) AS BIGINT) AS b,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), lags AS (
  SELECT unnest(generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag
)
SELECT a.metric AS m_lead, bb.metric AS m_follow, lags.lag,
       count(*) AS n_buckets,
       round(corr(a.v, bb.v), 6) AS ccf
FROM grid a
CROSS JOIN lags
JOIN grid bb
  ON a.b + lags.lag = bb.b AND a.metric < bb.metric
GROUP BY 1, 2, 3"""

QUERIES["metric_cross_correlation"] = (
    q_metric_cross_correlation,
    ORACLE_CROSS_CORRELATION,
)


# ----------------------------------------------------- cohort LTV curve

def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue by (signup cohort, weeks since signup) — the
    LTV curve behind payback-period decisions (the money twin of the
    count-based retention_cohorts matrix).

    Cohort assignment is one per-user min() aggregate joined back
    unhinted (user-cardinality, AQE decides); weekly revenue is one
    keyed aggregate; the cumulative sum runs per-cohort (hash exchange
    on the cohort key — a running frame over ~weeks rows per cohort,
    never a global sort).  Weeks are epoch-week integers, so both
    engines bucket identically with no calendar semantics in play."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from ..functions import ntz_epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    week = (ntz_epoch_seconds("ts") / 604800).cast("long")
    with_week = ev.withColumn("__w", week)
    cohorts = with_week.groupBy("user_id").agg(
        F.min("__w").alias("cohort_week")
    )
    weekly = (
        with_week.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "__w")
        .agg(F.sum("value").alias("__rev"))
    )
    aged = weekly.join(cohorts, "user_id").select(
        "cohort_week",
        (F.col("__w") - F.col("cohort_week")).alias("age_weeks"),
        "user_id",
        "__rev",
    )
    per_cell = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count_distinct("user_id").alias("n_buyers"),
        F.sum("__rev").alias("__cell_rev"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_cell.select(
        "cohort_week",
        "age_weeks",
        "n_buyers",
        F.round("__cell_rev", 6).alias("revenue"),
        F.round(F.sum("__cell_rev").over(w), 6).alias("cum_revenue"),
    )


ORACLE_COHORT_LTV = """WITH e AS (
  SELECT user_id, event_type, value,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
  FROM events
), cohorts AS (
  SELECT user_id, min(w) AS cohort_week FROM e GROUP BY 1
), weekly AS (
  SELECT user_id, w, sum(value) AS rev
  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2
), cell AS (
  SELECT cohort_week, w - cohort_week AS age_weeks,
         count(DISTINCT weekly.user_id) AS n_buyers,
         sum(rev) AS cell_rev
  FROM weekly JOIN cohorts ON weekly.user_id = cohorts.user_id
  GROUP BY 1, 2
)
SELECT cohort_week, age_weeks, n_buyers,
       round(cell_rev, 6) AS revenue,
       round(sum(cell_rev) OVER (PARTITION BY cohort_week
             ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS cum_revenue
FROM cell"""

QUERIES["cohort_ltv_curve"] = (q_cohort_ltv_curve, ORACLE_COHORT_LTV)


# ---------------------------------------------------- cadence anomaly

#: coefficient-of-variation floor: human/poisson traffic sits near 1,
#: schedulers and bots sit near 0.
BOT_CV_THRESHOLD = 0.85
#: minimum inter-event gaps before a user is scoreable.
BOT_MIN_GAPS = 20


def bot_cadence(ev: DataFrame) -> DataFrame:
    """Machine-cadence detection: users whose inter-event times are too
    REGULAR (coefficient of variation of the gaps below threshold) —
    Poisson-ish human traffic has CV≈1, schedulers/bots approach 0.
    The abuse-filtering pass a training-data pipeline runs before
    trusting engagement signals.

    One per-user lag window (hash exchange on user_id — parallelism
    grows with the user base) feeding one per-user aggregate; the
    minimum-gap floor keeps thin users from producing noise scores."""
    from ..functions import ntz_epoch_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ntz_epoch_seconds("ts")
    gaps = ev.select(
        "user_id", (x - F.lag(x).over(w)).alias("__dt")
    ).filter(F.col("__dt").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        # nullif: >= 21 events at ONE instant make avg gap 0 and ANSI
        # Spark throws on 0/0 where DuckDB yields NULL; NULL cv drops
        # the row in the filter below, matching the oracle
        (
            F.stddev_pop("__dt") / F.nullif(F.avg("__dt"), F.lit(0.0))
        ).alias("__cv"),
    )
    return (
        per_user.filter(
            (F.col("n_gaps") >= BOT_MIN_GAPS)
            & (F.col("__cv") < BOT_CV_THRESHOLD)
        )
        .select("user_id", "n_gaps", F.round("__cv", 6).alias("cadence_cv"))
    )


def q_events_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return bot_cadence(load_table(spark, sf_dir, "events"))


ORACLE_BOT_CADENCE = f"""WITH d AS (
  SELECT user_id,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS dt
  FROM events
), cv AS (
  SELECT user_id, count(dt) AS n_gaps,
         stddev_pop(dt) / avg(dt) AS cv
  FROM d WHERE dt IS NOT NULL GROUP BY 1
)
SELECT user_id, n_gaps, round(cv, 6) AS cadence_cv
FROM cv
WHERE n_gaps >= {BOT_MIN_GAPS} AND cv < {BOT_CV_THRESHOLD}"""

QUERIES["events_bot_cadence"] = (q_events_bot_cadence, ORACLE_BOT_CADENCE)
