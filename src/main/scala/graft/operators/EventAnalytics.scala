package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clickstream-style analytics over the driver's `events` table
  * (event_id, ts, user_id, event_type, value) — the downstream product
  * surface a tick engine's users build next: sessionization, ordered
  * funnels, retention cohorts, and transition matrices. A
  * beyond-reference capability family (like the general joins), kept
  * under the engine's exactness contract:
  *
  *  - every timestamp becomes INTEGER microseconds (`unix_micros` here,
  *    `epoch_us` in the DuckDB twins; Verify/Bench pin the session TZ
  *    to UTC so the parquet `timestamp[us]` values agree bit-for-bit),
  *    so every gap/bucket comparison is exact integer arithmetic;
  *  - the one double column (`value`) is summed as quantized integers
  *    (`floor(value·1e6)` — |value| ≤ ~1e3 in the data, so the
  *    quantized summand is ≤ ~1e9 and a session/bucket sum is far from
  *    2^63). The sum rides [[valueQSum]]'s raise-loud discipline: a
  *    non-finite value raises (where Spark's `floor` would silently
  *    yield 0 and the DuckDB twins' `CAST(NaN AS BIGINT)` errors), a
  *    quantized summand past 1e15 raises (only reachable from corrupt
  *    feed values; past it the non-ANSI double→long floor clamps
  *    silently where the twins error), the sum runs in decimal, and
  *    the BIGINT emission raises past 2^63 exactly where the twins'
  *    HUGEINT→BIGINT cast errors — OverflowAuditSpec drives each
  *    bound;
  *  - every ratio is one IEEE division of identically-derived exact
  *    operands — bit-portable with no tolerance.
  *
  * Scale shape: every window partitions by `user_id` (unbounded
  * cardinality — the opposite of the `lang` funnel retired in r11) and
  * every join keys on `user_id`, so the family is one co-partitioned
  * shuffle wide and skew-free for any real event stream. */
object EventAnalytics {

  /** Quantization scale for `value` sums (see class doc). */
  val ValueScale: Double = 1e6

  /** Raise-loud guard on an event value entering the quantized sum
    * (the [[Microstructure]] finiteSize stance): a NaN/±∞ value would
    * floor to 0/±clamp silently under Spark's non-ANSI double→long
    * floor while the DuckDB twins ERROR on the same cast. Spark's
    * NaN-greatest ordering makes `NOT (abs(value) <= MaxValue)` true
    * for both NaN and ±∞. */
  private def finiteValue: Column =
    when(!(abs(col("value")) <= lit(Double.MaxValue)),
      raise_error(concat(lit("non-finite event value at user_id="),
        col("user_id"))).cast("double"))
      .otherwise(col("value"))

  /** The family's exact quantized value sum (see class doc): guarded
    * summand (|floor(value·1e6)| ≤ 1e15 — 6 digits past any real
    * event value, and past it the floor's long clamp would go silent
    * where the twins error), decimal accumulation, and a raise-guarded
    * BIGINT emission at 2^63 exactly where the twins'
    * `CAST(HUGEINT AS BIGINT)` errors. */
  private[graft] def valueQSum(op: String): Column = {
    val q0 = floor(finiteValue * ValueScale)
    val q = when(abs(q0) > 1000000000000000L,
      raise_error(concat(lit(s"$op: quantized value outside the " +
        "exact-decimal regime at user_id="), col("user_id")))
        .cast("long")).otherwise(q0)
    val s = sum(q.cast("decimal(28,0)"))
    when(abs(s) > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(lit(s"$op: value_q sum overflows BIGINT"))
        .cast("long"))
      .otherwise(s.cast("long"))
  }

  /** events with the exact integer-microsecond timestamp the whole
    * family computes on. The driver parquet reads as TIMESTAMP_NTZ
    * (no UTC adjustment flag); with the session TZ pinned to UTC the
    * NTZ→TIMESTAMP cast is the identity on the stored micros, so
    * `unix_micros` yields exactly DuckDB's `epoch_us(ts)`. */
  private def ev(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("tsu"),
      col("event_type"), col("value"))

  private def perUser = Window.partitionBy("user_id")
    .orderBy("tsu", "event_id")

  /** Per-user sessions under an inactivity gap: a new session starts
    * when the previous event is `gapSeconds` or more older (strictly
    * `diff >= gap`, so a diff of exactly the gap splits — the same rule
    * the streaming twin's state timeout applies). Emits one row per
    * session with exact start/end/duration micros, the event count, and
    * the quantized value sum.
    *
    * The running new-session flag sum uses an explicit ROWS frame: the
    * (tsu, event_id) order is unique per user, but spelling the frame
    * keeps Spark and DuckDB on identical semantics by construction. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessioned(events, gapSeconds)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("tsu")).as("session_start"),
        max(col("tsu")).as("session_end"),
        count(lit(1)).as("n_events"),
        valueQSum("sessionize").as("value_q"))
      .withColumn("duration_us", col("session_end") - col("session_start"))
      .orderBy("user_id", "session_idx")

  /** The event-level frame every session operator folds from: each
    * event tagged with its per-user `session_idx` (running sum of the
    * gap-split flag over the unique `(tsu, event_id)` order). */
  private def sessioned(events: DataFrame, gapSeconds: Long): DataFrame = {
    val gapUs = gapSeconds * 1000000L
    ev(events)
      .withColumn("prev_tsu", lag(col("tsu"), 1).over(perUser))
      .withColumn("new_session",
        when(col("prev_tsu").isNull ||
          col("tsu") - col("prev_tsu") >= gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def sessionizeSql(gapSeconds: Long = 1800): String = {
    val gapUs = gapSeconds * 1000000L
    s"""SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       | min(tsu) AS session_start,
       | max(tsu) AS session_end, count(*) AS n_events,
       | CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
       |  AS value_q,
       | max(tsu) - min(tsu) AS duration_us
       |FROM (
       | SELECT user_id, tsu, value,
       |  SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY tsu, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       | FROM (
       |  SELECT user_id, event_id, tsu, value,
       |   CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu >= $gapUs
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM (
       |   SELECT user_id, event_id, epoch_us(ts) AS tsu, value,
       |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev_tsu
       |   FROM events)))
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin.replace('\n', ' ')
  }

  /** Session path analysis: the frequency table of event-type paths —
    * each session rendered as its first `maxLen` event types in the
    * `(tsu, event_id)` total order joined with `>` — counted across all
    * sessions, heaviest first (ties broken by path, so the order is
    * total). The classic "top user journeys" query over [[sessioned]].
    *
    * Determinism: Spark's `collect_list` has no intra-group order, so
    * the path sorts `(tsu, event_id, event_type)` STRUCTS after
    * collection — `(tsu, event_id)` is unique per user, so the struct
    * sort IS the event order and the third field never compares. The
    * twin's `list(... ORDER BY tsu, event_id)` is ordered directly.
    *
    * Scale shape: the per-session array is bounded by session length
    * (inactivity-gap bounded, not data-volume bounded), and the path
    * table aggregates to distinct-path cardinality before the final
    * (small) total sort. */
  def sessionPaths(events: DataFrame, gapSeconds: Long = 1800,
      maxLen: Int = 8): DataFrame =
    sessioned(events, gapSeconds)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sort_array(collect_list(
        struct(col("tsu"), col("event_id"), col("event_type"))))
        .as("_evs"))
      .select(array_join(
        transform(slice(col("_evs"), 1, maxLen),
          e => e.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))

  def sessionPathsSql(gapSeconds: Long = 1800, maxLen: Int = 8): String = {
    val gapUs = gapSeconds * 1000000L
    s"""WITH base AS (
       | SELECT user_id, event_id, tsu, event_type,
       |  SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY tsu, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   AS session_idx
       | FROM (
       |  SELECT user_id, event_id, tsu, event_type,
       |   CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu >= $gapUs
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM (
       |   SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
       |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev_tsu
       |   FROM events))),
       |p AS (
       | SELECT user_id, session_idx,
       |  array_to_string(list_slice(
       |    list(event_type ORDER BY tsu, event_id), 1, $maxLen), '>')
       |   AS path
       | FROM base GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
       |ORDER BY n_sessions DESC, path""".stripMargin.replace('\n', ' ')
  }

  /** Bounce rate per calendar period: of the sessions STARTING in each
    * `periodDays` bucket (the [[retentionCohorts]] period grid on
    * `session_start`), the fraction with exactly one event — one IEEE
    * division of two exact counts. Composes [[sessionize]]; the twin
    * literally wraps [[sessionizeSql]] as a CTE, so the two gates share
    * one session definition by construction. */
  def bounceRate(events: DataFrame, gapSeconds: Long = 1800,
      periodDays: Long = 7): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    sessionize(events, gapSeconds)
      .groupBy(floor(col("session_start") / periodUs).cast("long")
        .as("period"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_bounce"))
      .withColumn("bounce_rate",
        col("n_bounce").cast("double") / col("n_sessions").cast("double"))
      .orderBy("period")
  }

  def bounceRateSql(gapSeconds: Long = 1800,
      periodDays: Long = 7): String = {
    val periodUs = periodDays * 86400L * 1000000L
    s"""WITH s AS (${sessionizeSql(gapSeconds)})
       |SELECT period, n_sessions, n_bounce,
       | CAST(n_bounce AS DOUBLE) / CAST(n_sessions AS DOUBLE)
       |  AS bounce_rate
       |FROM (
       | SELECT CAST(floor(session_start / $periodUs) AS BIGINT)
       |   AS period,
       |  count(*) AS n_sessions,
       |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_bounce
       | FROM s GROUP BY 1)
       |ORDER BY period""".stripMargin.replace('\n', ' ')
  }

  /** Ordered funnel: for each user who performed `steps.head`, the
    * first time of each subsequent step STRICTLY after the previous
    * step's time and within `horizonSeconds` of step 1 (the
    * windowFunnel contract). One row per step-1 user: the step times
    * (null once the chain breaks — each join condition references the
    * previous step's time, so a broken chain nulls everything after it)
    * and the furthest step reached.
    *
    * Plan shape: one conditional-min aggregation per step, each a join
    * + hash agg keyed on `user_id` — co-partitioned after the first
    * shuffle, and the carried step times ride along as `max()` of a
    * per-user-constant column, so no re-sort. */
  def funnel(events: DataFrame, steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): DataFrame = {
    require(steps.size >= 2, "funnel needs at least two steps")
    // a repeated step type would silently diverge from the streaming
    // twin (whose indexOf resolves only the FIRST occurrence) — both
    // sides reject it loudly (ADVICE r11)
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct: $steps")
    val horizonUs = horizonSeconds * 1000000L
    val e = ev(events).select("user_id", "tsu", "event_type")
    val s1 = e.where(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("tsu")).as("t1"))
    val full = steps.indices.tail.foldLeft(s1) { (acc, i) =>
      val cand = e.where(col("event_type") === steps(i))
        .select(col("user_id").as("_u"), col("tsu").as("_cand"))
      val carried = (1 to i).map(j => max(col(s"t$j")).as(s"t$j"))
      acc.join(cand,
          acc("user_id") === cand("_u") &&
            col("_cand") > col(s"t$i") &&
            col("_cand") <= col("t1") + horizonUs, "left")
        .groupBy(col("user_id"))
        .agg(carried.head, carried.tail :+ min(col("_cand"))
          .as(s"t${i + 1}"): _*)
    }
    // fold ascending so the LAST wrap tests the deepest step first:
    // when(t_k)…otherwise(when(t_{k-1})…otherwise(1))
    val reach = steps.indices.tail
      .foldLeft(lit(1)) { (els, i) =>
        when(col(s"t${i + 1}").isNotNull, i + 1).otherwise(els)
      }
    full.withColumn("max_step", reach.cast("long")).orderBy("user_id")
  }

  def funnelSql(steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): String = {
    val horizonUs = horizonSeconds * 1000000L
    val ctes = new StringBuilder(
      "WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type" +
        " FROM events), s1 AS (SELECT user_id, min(tsu) AS t1 FROM ev" +
        s" WHERE event_type = '${steps.head}' GROUP BY 1)")
    for (i <- steps.indices.tail) {
      val carried = (1 to i).map(j => s"max(t$j) AS t$j").mkString(", ")
      ctes ++= s", s${i + 1} AS (SELECT s$i.user_id, $carried," +
        s" min(e.tsu) AS t${i + 1} FROM s$i LEFT JOIN ev e ON" +
        s" e.user_id = s$i.user_id AND e.event_type = '${steps(i)}'" +
        s" AND e.tsu > s$i.t$i AND e.tsu <= s$i.t1 + $horizonUs" +
        " GROUP BY 1)"
    }
    val caseArms = steps.indices.tail.reverse
      .map(i => s"WHEN t${i + 1} IS NOT NULL THEN ${i + 1}")
      .mkString(" ")
    val ts = (1 to steps.size).map(j => s"t$j").mkString(", ")
    ctes ++= s" SELECT user_id, $ts, CAST(CASE $caseArms ELSE 1 END" +
      s" AS BIGINT) AS max_step FROM s${steps.size} ORDER BY user_id"
    ctes.toString
  }

  /** Funnel summary: one row per step with the count of users who
    * reached it and the stepwise conversion — a pure composition over
    * [[funnel]] (the twin literally wraps [[funnelSql]]), collapsing
    * the per-user table to a steps-sized one. Conversion is one IEEE
    * division of two exact counts; step 1's is null (no predecessor). */
  def funnelSummary(events: DataFrame, steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): DataFrame = {
    val f = funnel(events, steps, horizonSeconds)
    val aggs = steps.indices.map(i =>
      sum(when(col("max_step") >= i + 1, 1L).otherwise(0L))
        .as(s"n${i + 1}"))
    val totals = f.agg(aggs.head, aggs.tail: _*)
    // unpivot the ONE-ROW totals with a single explode — a per-step
    // select unionAll-reduced would duplicate the whole funnel plan
    // (N joins + aggs) once per step in the logical plan (ADVICE r11)
    val stepRows = steps.indices.map { i =>
      struct(
        lit((i + 1).toLong).as("step"),
        col(s"n${i + 1}").as("n_reached"),
        (if (i == 0) lit(null).cast("double")
         else col(s"n${i + 1}").cast("double") /
           col(s"n$i").cast("double")).as("conversion"))
    }
    totals.select(explode(array(stepRows: _*)).as("_r"))
      .select(col("_r.step").as("step"),
        col("_r.n_reached").as("n_reached"),
        col("_r.conversion").as("conversion"))
      .orderBy("step")
  }

  def funnelSummarySql(steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): String = {
    val sums = steps.indices.map(i =>
      s"CAST(SUM(CASE WHEN max_step >= ${i + 1} THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS n${i + 1}").mkString(", ")
    val rows = steps.indices.map { i =>
      val conv =
        if (i == 0) "CAST(NULL AS DOUBLE)"
        else s"CAST(n${i + 1} AS DOUBLE) / CAST(n$i AS DOUBLE)"
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, n${i + 1} AS n_reached," +
        s" $conv AS conversion FROM t"
    }.mkString(" UNION ALL ")
    s"WITH f AS (${funnelSql(steps, horizonSeconds)}), " +
      s"t AS (SELECT $sums FROM f) $rows ORDER BY step"
  }

  /** Time-to-convert percentiles: p25/p50/p75 of `t_last − t1` exact
    * micros across users who completed the WHOLE funnel — the latency
    * companion of [[funnelSummary]], through the same distributed
    * order-statistic machinery as [[dwellPercentiles]] (a single global
    * group is exactly the funnel shape the bucketed-rank plan retires).
    * Empty when no user converts — both engines agree on zero rows. */
  def funnelTimeToConvert(events: DataFrame, steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): DataFrame = {
    val f = funnel(events, steps, horizonSeconds)
    val conv = f.where(col(s"t${steps.size}").isNotNull)
      .select(lit("all").as("symbol"),
        (col(s"t${steps.size}") - col("t1")).cast("double").as("dt"))
    HistogramOps.percentilesBy(conv, col("dt"),
      Seq(25.0 -> "p25", 50.0 -> "p50", 75.0 -> "p75"))
      .select("p25", "p50", "p75")
  }

  def funnelTimeToConvertSql(steps: Seq[String],
      horizonSeconds: Long = 7L * 86400): String = {
    val n = steps.size
    s"""WITH f AS (${funnelSql(steps, horizonSeconds)}),
       |conv AS (SELECT 'all' AS symbol,
       |  CAST(t$n - t1 AS DOUBLE) AS dt FROM f WHERE t$n IS NOT NULL),
       |q25 AS (${HistogramOps.percentileSql("conv", "dt", 25.0, "p25")}),
       |q50 AS (${HistogramOps.percentileSql("conv", "dt", 50.0, "p50")}),
       |q75 AS (${HistogramOps.percentileSql("conv", "dt", 75.0, "p75")})
       |SELECT p25, p50, p75 FROM q25 JOIN q50 USING (symbol)
       | JOIN q75 USING (symbol)""".stripMargin.replace('\n', ' ')
  }

  /** Deterministic A/B split test over per-user value: users assign to
    * variant A when the first hex digit of `md5(user_id)` is < '8'
    * (the engine's no-RNG hash-membership stance — identical strings,
    * identical split, in both engines), the metric is each user's
    * exact quantized value sum, and the output is one row of exact
    * operands (counts; exact sums emitted as their correctly rounded
    * doubles) plus the Welch z-statistic — one identical IEEE chain;
    * null when a variance or group is degenerate. Population variance,
    * matching the family's other estimators. Spark's decimal→double
    * cast rounds correctly; DuckDB's HUGEINT→DOUBLE cast does not
    * always (one ulp low on a sum of squares past 2^64), so the oracle
    * casts each HUGEINT sum through VARCHAR, whose parse does. */
  def abTest(events: DataFrame): DataFrame = {
    val users = ev(events).groupBy("user_id")
      .agg(valueQSum("abTest").as("m"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
          "A").otherwise("B"))
    def side(v: String, out: String) = Seq(
      sum(when(col("variant") === v, 1L).otherwise(0L)).as(s"n_$out"),
      sum(when(col("variant") === v, col("m").cast("decimal(28,0)"))
        .otherwise(lit(0).cast("decimal(28,0)"))).cast("double")
        .as(s"sum_$out"),
      sum(when(col("variant") === v,
        col("m").cast("decimal(19,0)") * col("m").cast("decimal(19,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))).cast("double")
        .as(s"sumsq_$out"))
    val aggs = side("A", "a") ++ side("B", "b")
    val t = users.agg(aggs.head, aggs.tail: _*)
    def mean(s: String) = col(s"sum_$s") / col(s"n_$s")
    def vr(s: String) =
      col(s"sumsq_$s") / col(s"n_$s") - mean(s) * mean(s)
    t.select(col("n_a"), col("n_b"), col("sum_a"), col("sum_b"),
      col("sumsq_a"), col("sumsq_b"),
      when(col("n_a") > 0L, mean("a")).as("mean_a"),
      when(col("n_b") > 0L, mean("b")).as("mean_b"))
      .withColumn("_se2", vr("a") / col("n_a") + vr("b") / col("n_b"))
      .withColumn("z",
        // both-variances-zero gives a 0 standard error: z is NULL (the
        // documented degenerate contract), not ±Inf/NaN (ADVICE r11)
        when(col("n_a") > 0L && col("n_b") > 0L &&
            col("_se2") =!= 0.0d,
          (col("mean_a") - col("mean_b")) / sqrt(col("_se2"))))
      .drop("_se2")
  }

  def abTestSql: String =
    """SELECT n_a, n_b, sum_a, sum_b, sumsq_a, sumsq_b,
      | CASE WHEN n_a > 0 THEN sum_a / n_a END AS mean_a,
      | CASE WHEN n_b > 0 THEN sum_b / n_b END AS mean_b,
      | CASE WHEN n_a > 0 AND n_b > 0 AND
      |   (sumsq_a / n_a - (sum_a / n_a) * (sum_a / n_a)) / n_a +
      |   (sumsq_b / n_b - (sum_b / n_b) * (sum_b / n_b)) / n_b <> 0.0
      |  THEN
      |  ((sum_a / n_a) - (sum_b / n_b)) / sqrt(
      |   (sumsq_a / n_a - (sum_a / n_a) * (sum_a / n_a)) / n_a +
      |   (sumsq_b / n_b - (sum_b / n_b) * (sum_b / n_b)) / n_b)
      | END AS z
      |FROM (
      | SELECT
      |  CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_a,
      |  CAST(CAST(SUM(CASE WHEN variant = 'A' THEN CAST(m AS HUGEINT)
      |   ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sum_a,
      |  CAST(CAST(SUM(CASE WHEN variant = 'A' THEN CAST(m AS HUGEINT)
      |   * CAST(m AS HUGEINT) ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sumsq_a,
      |  CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_b,
      |  CAST(CAST(SUM(CASE WHEN variant = 'B' THEN CAST(m AS HUGEINT)
      |   ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sum_b,
      |  CAST(CAST(SUM(CASE WHEN variant = 'B' THEN CAST(m AS HUGEINT)
      |   * CAST(m AS HUGEINT) ELSE 0 END) AS VARCHAR) AS DOUBLE) AS sumsq_b
      | FROM (
      |  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |    < '8' THEN 'A' ELSE 'B' END AS variant, m
      |  FROM (
      |   SELECT user_id,
      |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS m
      |   FROM events GROUP BY 1)))""".stripMargin.replace('\n', ' ')

  /** Weekly retention cohorts: users bucketed by the period of their
    * FIRST event (`floor(first_tsu / period)` — exact integer), then
    * for each (cohort, periods-since-cohort offset) the count of
    * distinct users active in that period and the retained fraction of
    * the cohort (offset 0 is the cohort size by construction — every
    * user is active in their own first period).
    *
    * The cohort-size spread is a window over the AGGREGATED
    * (cohort, offset) table — dozens of rows, not a data-scale sort. */
  def retentionCohorts(events: DataFrame,
      periodDays: Long = 7): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    val e = ev(events).select("user_id", "tsu")
    val firsts = e.groupBy("user_id")
      .agg(floor(min(col("tsu")) / periodUs).cast("long").as("cohort"))
    val active = e
      .select(col("user_id"),
        floor(col("tsu") / periodUs).cast("long").as("period"))
      .distinct()
    val counts = active.join(firsts, "user_id")
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
    val wCohort = Window.partitionBy("cohort")
    counts
      .withColumn("cohort_size",
        max(when(col("offset") === 0L, col("n_users"))).over(wCohort))
      .withColumn("retained_frac",
        col("n_users").cast("double") / col("cohort_size").cast("double"))
      .orderBy("cohort", "offset")
  }

  def retentionCohortsSql(periodDays: Long = 7): String = {
    val periodUs = periodDays * 86400L * 1000000L
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
       |firsts AS (SELECT user_id,
       |  CAST(floor(min(tsu) / $periodUs) AS BIGINT) AS cohort
       | FROM e GROUP BY 1),
       |active AS (SELECT DISTINCT user_id,
       |  CAST(floor(tsu / $periodUs) AS BIGINT) AS period FROM e),
       |counts AS (SELECT cohort, period - cohort AS "offset",
       |  count(*) AS n_users
       | FROM active JOIN firsts USING (user_id) GROUP BY 1, 2)
       |SELECT cohort, "offset", n_users, cohort_size,
       | CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)
       |  AS retained_frac
       |FROM (SELECT *, max(CASE WHEN "offset" = 0 THEN n_users END)
       |  OVER (PARTITION BY cohort) AS cohort_size FROM counts)
       |ORDER BY cohort, "offset"""".stripMargin.replace('\n', ' ')
  }

  /** Dwell-time percentiles per event type: p25/p50/p75 of the exact
    * micros between an event and the SAME user's next event (attributed
    * to the earlier event's type — "how long do users stay on X").
    *
    * The percentiles ride [[HistogramOps.percentilesBy]] — the engine's
    * adaptive distributed order-statistic machinery (window-sort below
    * [[HistogramOps.PctWindowMaxRows]] rows, bucketed-rank above), so a
    * dominant event type never funnels its dwells through one task; the
    * twin full-sorts, which is what the bucketed plan is proven
    * bit-equal to. Dwell micros are < 2^53, so the double cast both
    * sides compute on is lossless. */
  def dwellPercentiles(events: DataFrame): DataFrame = {
    val dwell = dwellIntervals(events)
      .select(col("event_type").as("symbol"),
        col("dwell_us").cast("double").as("dwell"))
    HistogramOps.percentilesBy(dwell, col("dwell"),
      Seq(25.0 -> "p25", 50.0 -> "p50", 75.0 -> "p75"))
      .withColumnRenamed("symbol", "event_type")
      .orderBy("event_type")
  }

  /** The per-event dwell frame behind [[dwellPercentiles]]: each event
    * with the exact micros until the SAME user's next event (the last
    * event of a user has no dwell). Also what the streaming twin's
    * O(1) last-event fold emits. */
  private[graft] def dwellIntervals(events: DataFrame): DataFrame =
    ev(events)
      .withColumn("next_tsu", lead(col("tsu"), 1).over(perUser))
      .where(col("next_tsu").isNotNull)
      .select(col("user_id"), col("tsu"), col("event_type"),
        (col("next_tsu") - col("tsu")).as("dwell_us"))

  /** Quartile classification of dwell intervals against a
    * [[dwellPercentiles]] boundary SNAPSHOT (VERDICT r11 #6): pure
    * compare-to-boundary over a broadcast one-row-per-type table (the
    * ppl assignPplBuckets stance — `<=` keeps a boundary tie in the
    * lower quartile), so the batch path and
    * [[graft.streaming.Streaming.streamingDwellBucket]] classify
    * bit-identically from the same snapshot. A type unseen at snapshot
    * time classifies "unknown". */
  def assignDwellBuckets(dwells: DataFrame,
      bounds: DataFrame): DataFrame =
    dwells.join(broadcast(bounds), Seq("event_type"), "left")
      .select(col("user_id"), col("tsu"), col("event_type"),
        col("dwell_us"),
        when(col("p25").isNull, "unknown")
          .when(col("dwell_us") <= col("p25"), "q1")
          .when(col("dwell_us") <= col("p50"), "q2")
          .when(col("dwell_us") <= col("p75"), "q3")
          .otherwise("q4").as("bucket"))

  def dwellPercentilesSql: String = {
    val dw =
      """SELECT event_type AS symbol,
        | CAST(next_tsu - tsu AS DOUBLE) AS v
        |FROM (
        | SELECT event_type, tsu,
        |  lead(tsu, 1) OVER (PARTITION BY user_id
        |    ORDER BY tsu, event_id) AS next_tsu
        | FROM (SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |   event_type FROM events))
        |WHERE next_tsu IS NOT NULL""".stripMargin.replace('\n', ' ')
    s"""WITH dw AS ($dw),
       |q25 AS (${HistogramOps.percentileSql("dw", "v", 25.0, "p25")}),
       |q50 AS (${HistogramOps.percentileSql("dw", "v", 50.0, "p50")}),
       |q75 AS (${HistogramOps.percentileSql("dw", "v", 75.0, "p75")})
       |SELECT q25.symbol AS event_type, p25, p50, p75
       |FROM q25 JOIN q50 USING (symbol) JOIN q75 USING (symbol)
       |ORDER BY event_type""".stripMargin.replace('\n', ' ')
  }

  /** RFM segmentation: per user the exact recency (last event micros),
    * frequency (event count), monetary (quantized value sum), each
    * scored 1–3 by GLOBAL tercile boundaries — computed through
    * [[HistogramOps.percentilesBy]] on a constant key, i.e. global
    * order statistics WITHOUT a global sort (above the window threshold
    * the bucketed-rank plan runs; the single-key shape is exactly the
    * funnel it exists to avoid). Scores compare-to-boundary (`<=` keeps
    * a value equal to a boundary in the lower tercile), so once the
    * boundary row is fixed the scoring is one broadcast join of exact
    * comparisons. `rfm_code` packs the three scores as r·100+f·10+m. */
  def rfm(events: DataFrame): DataFrame = {
    // ONE materialized per-user aggregation: the three boundary
    // percentile calls (each an eager multi-pass operator) and the
    // scoring cross-join all consume `base` — unmaterialized, the
    // events scan + user groupBy re-ran seven times per invocation
    // (VERDICT r16 #7, the attribution-block audit).
    val base = rfmUserStats(events)
      .transform(graft.functions.checkpointed)
    rfmApply(base, rfmBoundsOf(base))
  }

  /** The per-user (recency, frequency, monetary) aggregates behind
    * [[rfm]] — also the state the streaming twin folds. */
  private[graft] def rfmUserStats(events: DataFrame): DataFrame =
    ev(events).groupBy("user_id").agg(
      max(col("tsu")).as("recency_us"),
      count(lit(1)).as("frequency"),
      valueQSum("rfm").as("monetary_q"))

  /** [[rfm]]'s boundary SNAPSHOT: one row of global tercile bounds per
    * dimension (symbol, b1_r, b2_r, b1_f, b2_f, b1_m, b2_m) — the
    * serving artifact [[graft.streaming.Streaming.streamingRfm]] scores
    * against (VERDICT r11 #6, the ppl boundary-snapshot pattern). */
  def rfmBounds(events: DataFrame): DataFrame =
    rfmBoundsOf(rfmUserStats(events))

  private def rfmBoundsOf(base: DataFrame): DataFrame = {
    val (t1, t2) = (100.0 / 3.0, 200.0 / 3.0)
    def bounds(c: String, tag: String) = HistogramOps.percentilesBy(
      base.select(lit("all").as("symbol"), col(c)), col(c),
      Seq(t1 -> s"b1_$tag", t2 -> s"b2_$tag"))
    bounds("recency_us", "r")
      .join(bounds("frequency", "f"), "symbol")
      .join(bounds("monetary_q", "m"), "symbol")
  }

  /** Compare-to-boundary scoring from a snapshot — shared by the batch
    * [[rfm]] and (as one IEEE comparison chain per dimension, replayed
    * scalar-side) the streaming twin, so both front doors score
    * identically from the same snapshot. */
  private[graft] def rfmApply(base: DataFrame, b: DataFrame): DataFrame = {
    def score(v: Column, tag: String) =
      when(v <= col(s"b1_$tag"), 1L)
        .when(v <= col(s"b2_$tag"), 2L).otherwise(3L)
    base.crossJoin(b) // one boundary row: broadcast by construction
      .select(col("user_id"), col("recency_us"), col("frequency"),
        col("monetary_q"),
        score(col("recency_us"), "r").as("r_score"),
        score(col("frequency"), "f").as("f_score"),
        score(col("monetary_q"), "m").as("m_score"))
      .withColumn("rfm_code",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .orderBy("user_id")
  }

  def rfmSql: String = {
    val (t1, t2) = (100.0 / 3.0, 200.0 / 3.0)
    def b(src: String, c: String, pct: Double, out: String) =
      HistogramOps.percentileSql(src, c, pct, out)
    s"""WITH base AS (
       | SELECT user_id, max(tsu) AS recency_us, count(*) AS frequency,
       |  CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
       |   AS monetary_q
       | FROM (SELECT user_id, epoch_us(ts) AS tsu, value FROM events)
       | GROUP BY 1),
       |src AS (SELECT 'all' AS symbol, * FROM base),
       |r1 AS (${b("src", "recency_us", t1, "b1_r")}),
       |r2 AS (${b("src", "recency_us", t2, "b2_r")}),
       |f1 AS (${b("src", "frequency", t1, "b1_f")}),
       |f2 AS (${b("src", "frequency", t2, "b2_f")}),
       |m1 AS (${b("src", "monetary_q", t1, "b1_m")}),
       |m2 AS (${b("src", "monetary_q", t2, "b2_m")}),
       |bo AS (SELECT * FROM r1 JOIN r2 USING (symbol)
       |  JOIN f1 USING (symbol) JOIN f2 USING (symbol)
       |  JOIN m1 USING (symbol) JOIN m2 USING (symbol))
       |SELECT user_id, recency_us, frequency, monetary_q, r_score,
       | f_score, m_score,
       | r_score * 100 + f_score * 10 + m_score AS rfm_code
       |FROM (
       | SELECT user_id, recency_us, frequency, monetary_q,
       |  CAST(CASE WHEN recency_us <= b1_r THEN 1
       |   WHEN recency_us <= b2_r THEN 2 ELSE 3 END AS BIGINT) AS r_score,
       |  CAST(CASE WHEN frequency <= b1_f THEN 1
       |   WHEN frequency <= b2_f THEN 2 ELSE 3 END AS BIGINT) AS f_score,
       |  CAST(CASE WHEN monetary_q <= b1_m THEN 1
       |   WHEN monetary_q <= b2_m THEN 2 ELSE 3 END AS BIGINT) AS m_score
       | FROM base CROSS JOIN bo)
       |ORDER BY user_id""".stripMargin.replace('\n', ' ')
  }

  /** Event-type co-occurrence lift at the user grain: for each ordered
    * type pair (a < b), the distinct-user counts of a, b, and both, the
    * support `n_ab/n_users`, and the independence lift
    * `(n_ab·n_users)/(n_a·n_b)` — all counts exact, the two ratios the
    * same short IEEE chain in both engines.
    *
    * Scale shape: one distinct over (user, type) — bounded at
    * users × type-cardinality — then a user-keyed self-join whose
    * per-user output is ≤ type-cardinality², a constant; the pair
    * and per-type tables are type-cardinality-sized, so every join
    * after the distinct broadcasts. */
  def eventLift(events: DataFrame): DataFrame = {
    val ut = ev(events).select("user_id", "event_type").distinct()
    val n = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val tc = ut.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = ut.as("x").join(ut.as("y"), "user_id")
      .where(col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(tc.select(col("event_type").as("type_a"),
        col("n_t").as("n_a")), "type_a")
      .join(tc.select(col("event_type").as("type_b"),
        col("n_t").as("n_b")), "type_b")
      .crossJoin(n) // 1-row total: broadcast by construction
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_users"),
        (col("n_ab").cast("double") / col("n_users").cast("double"))
          .as("support"),
        ((col("n_ab").cast("double") * col("n_users").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy("type_a", "type_b")
  }

  def eventLiftSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
      |tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
      |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
      |  count(*) AS n_ab
      | FROM ut x JOIN ut y ON x.user_id = y.user_id
      |  AND x.event_type < y.event_type GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
      | n_users,
      | CAST(n_ab AS DOUBLE) / CAST(n_users AS DOUBLE) AS support,
      | (CAST(n_ab AS DOUBLE) * CAST(n_users AS DOUBLE))
      |  / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)) AS lift
      |FROM p JOIN tc ta ON p.type_a = ta.event_type
      | JOIN tc tb ON p.type_b = tb.event_type CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin.replace('\n', ' ')

  /** First-order event-type transition matrix: consecutive event pairs
    * per user (the (tsu, event_id) total order), counted per
    * (from, to) with the row-normalized transition probability — one
    * IEEE division of two exact counts. */
  def transitions(events: DataFrame): DataFrame = {
    val wFrom = Window.partitionBy("event_type")
    ev(events)
      .withColumn("next_type", lead(col("event_type"), 1).over(perUser))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total", sum(col("n")).over(wFrom))
      .withColumn("p",
        col("n").cast("double") / col("from_total").cast("double"))
      .orderBy("event_type", "next_type")
  }

  /** PageRank over the event-type transition graph (Brin–Page 1998,
    * damping 0.85, `iterations` FIXED power iterations — a
    * beyond-reference graph-analytics capability): nodes are the event
    * types appearing in any transition, edges are weighted by the
    * distributed [[transitions]] counts. The heavy half is the
    * user-keyed transition aggregation (the `q_transitions` plan); the
    * rank iteration runs on the aggregated TYPE graph — bounded by
    * type cardinality², the same LocalRelation class as the
    * transitions output itself, guarded LOUD at `maxTypes` distinct
    * types (the [[Microstructure.returnCorr]] stance) before anything
    * is collected.
    *
    * Contract: the LEAKY dangling convention — a type with no
    * out-transitions redistributes nothing (total rank mass decays
    * toward the teleport floor), exactly as spelled in the twin; both
    * engines iterate the identical IEEE chain with every cross-edge
    * contribution QUANTIZED to an integer
    * (`floor(r_u · (n_uv / out_u) · 1e12)`) before the order-sensitive
    * sum, so ranks are bit-equal independent of edge order. Rank mass
    * ≤ 1 keeps every per-node contribution sum ≤ 1e12 ≪ 2^53 — the
    * HUGEINT→DOUBLE cast is exact.
    *
    * Streaming stance: batch-only BY DESIGN — the power iteration is a
    * global fixed-point over the whole edge table, not a per-key fold
    * (the amihud/returnCorr convention); serve ranks from periodic
    * batch snapshots. */
  def typePagerank(events: DataFrame, iterations: Int = 20,
      maxTypes: Int = 200): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val nTypes = ev(events).select("event_type").distinct()
      .take(maxTypes + 1).length
    if (nTypes > maxTypes) throw new IllegalStateException(
      s"typePagerank: more than maxTypes=$maxTypes event types " +
        "(type-squared edge collect + iterations × edges solve)")
    val edges = transitions(events)
      .select(col("event_type"), col("next_type"), col("n"),
        col("from_total"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nD = nodes.length.toDouble
    var r = nodes.map(_ -> 1.0d / nD).toMap
    for (_ <- 0 until iterations) {
      val sumq = scala.collection.mutable.Map.empty[String, Long]
      edges.foreach { case (src, dst, n, outn) =>
        val cq = math.floor(
          r(src) * (n.toDouble / outn.toDouble) * 1e12).toLong
        sumq(dst) = sumq.getOrElse(dst, 0L) + cq
      }
      r = nodes.map(t => t ->
        (0.15d / nD +
          0.85d * (sumq.getOrElse(t, 0L).toDouble / 1e12))).toMap
    }
    nodes.map(t => (t, r(t))).toSeq
      .toDF("event_type", "pagerank")
      .orderBy("event_type")
  }

  /** DuckDB twin of [[typePagerank]]: the same edge table, the same
    * quantized power iteration as `iterations` CHAINED CTEs (standard
    * SQL forbids aggregation in a recursive term, and a 20-deep chain
    * over a bounded node table is trivial for the oracle). Every CTE
    * is `AS MATERIALIZED` — the [[markovAttributionSql]] inlining
    * lesson: un-materialized, DuckDB re-evaluates the event-scale
    * edge pipeline once per chain reference (~100×), which is what
    * tripped OracleBudgetSpec's ceiling when the gate landed. */
  def typePagerankSql(iterations: Int = 20): String = {
    val edge =
      """SELECT event_type AS src, next_type AS dst, count(*) AS n,
        | CAST(SUM(count(*)) OVER (PARTITION BY event_type) AS BIGINT)
        |  AS outn
        |FROM (
        | SELECT user_id, event_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS next_type
        | FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type""".stripMargin.replace('\n', ' ')
    val iters = (1 to iterations).map { k =>
      s"""r$k AS MATERIALIZED (
         | SELECT nd.t,
         |  0.15 / (SELECT CAST(count(*) AS DOUBLE) FROM nodes)
         |   + 0.85 * (CAST(COALESCE(SUM(c.cq), 0) AS DOUBLE) / 1e12)
         |   AS r
         | FROM nodes nd LEFT JOIN (
         |  SELECT e.dst AS t,
         |   CAST(floor(p.r * (CAST(e.n AS DOUBLE)
         |     / CAST(e.outn AS DOUBLE)) * 1e12) AS BIGINT) AS cq
         |  FROM e JOIN r${k - 1} p ON p.t = e.src) c ON c.t = nd.t
         | GROUP BY nd.t)""".stripMargin.replace('\n', ' ')
    }.mkString(", ")
    s"""WITH e AS MATERIALIZED ($edge),
       |nodes AS MATERIALIZED (SELECT DISTINCT t FROM
       |  (SELECT src AS t FROM e UNION ALL SELECT dst AS t FROM e)),
       |r0 AS MATERIALIZED (SELECT t,
       |  1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM nodes) AS r
       | FROM nodes),
       |$iters
       |SELECT t AS event_type, r AS pagerank FROM r$iterations
       |ORDER BY event_type""".stripMargin.replace('\n', ' ')
  }

  def transitionsSql: String =
    """SELECT event_type, next_type, count(*) AS n,
      | CAST(SUM(count(*)) OVER (PARTITION BY event_type) AS BIGINT)
      |  AS from_total,
      | CAST(count(*) AS DOUBLE)
      |  / CAST(SUM(count(*)) OVER (PARTITION BY event_type) AS DOUBLE)
      |  AS p
      |FROM (
      | SELECT user_id, event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS next_type
      | FROM events)
      |WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY event_type, next_type""".stripMargin.replace('\n', ' ')

  /** Conditional next-step entropy per event type over the
    * [[transitions]] chain: `H(next | cur = t) = −Σ_dst p·ln p` with
    * `p = n/from_total` — how predictable the step AFTER each event
    * is — plus each type's share of the corpus entropy rate,
    * `contribution = −Σ n·ln p / N` (so `Σ contribution` IS the
    * empirical entropy rate of the chain, the [[typePagerank]]
    * family's global diagnostic).
    *
    * Exactness — the [[graft.operators.ActivityStats.navEntropy]]
    * stance: `lnq = floor(ln(n/ft)·1e12)` (the one libm call,
    * quantized), `Σ n·lnq` in exact decimal with raise-guarded BIGINT
    * emission, and entropy/contribution as fixed IEEE chains over
    * exact integers (the `ft` factors cancel in `contribution`, so it
    * is a single division by the broadcast corpus total).
    *
    * Scale shape: one (src, dst) aggregation (type²-bounded), a
    * type-keyed window over the aggregated table, one 1-row broadcast
    * total. */
  def transitionEntropy(events: DataFrame): DataFrame = {
    val wFrom = Window.partitionBy("event_type")
    val lnq = floor(log(col("n").cast("double") /
      col("from_total").cast("double")) * 1e12).cast("long")
    val g = when(abs(col("_s")) > lit(Long.MaxValue),
      raise_error(concat(lit("transitionEntropy: sum_nlnq overflows " +
        "BIGINT at type="), col("event_type"))).cast("long"))
      .otherwise(col("_s").cast("long"))
    val counts = ev(events)
      .withColumn("next_type", lead(col("event_type"), 1).over(perUser))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total", sum(col("n")).over(wFrom))
    val total = graft.functions.localRelation(
      counts.agg(sum(col("n")).as("n_total")))
    counts
      .withColumn("lnq", lnq)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_dst"),
        max(col("from_total")).as("from_total"),
        sum(col("n").cast("decimal(20,0)") *
          col("lnq").cast("decimal(15,0)")).as("_s"))
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("n_dst"), col("from_total"),
        col("n_total"), g.as("sum_nlnq"))
      .withColumn("entropy",
        -(col("sum_nlnq").cast("double")) / 1e12d /
          col("from_total").cast("double"))
      .withColumn("contribution",
        -(col("sum_nlnq").cast("double")) / 1e12d /
          col("n_total").cast("double"))
      .orderBy("event_type")
  }

  /** DuckDB twin of [[transitionEntropy]] — identical quantization,
    * HUGEINT sums, chain order. */
  def transitionEntropySql: String =
    s"""SELECT event_type, n_dst, from_total, n_total, sum_nlnq,
       | -CAST(sum_nlnq AS DOUBLE) / 1e12
       |   / CAST(from_total AS DOUBLE) AS entropy,
       | -CAST(sum_nlnq AS DOUBLE) / 1e12
       |   / CAST(n_total AS DOUBLE) AS contribution
       |FROM (
       | SELECT event_type, count(*) AS n_dst,
       |  CAST(max(from_total) AS BIGINT) AS from_total,
       |  CAST(SUM(CAST(n AS HUGEINT)
       |   * CAST(floor(ln(CAST(n AS DOUBLE)
       |      / CAST(from_total AS DOUBLE)) * 1e12) AS BIGINT))
       |   AS BIGINT) AS sum_nlnq
       | FROM (
       |  SELECT event_type, next_type, count(*) AS n,
       |   CAST(SUM(count(*)) OVER (PARTITION BY event_type) AS BIGINT)
       |    AS from_total
       |  FROM (
       |   SELECT user_id, event_type,
       |    lead(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |   FROM events)
       |  WHERE next_type IS NOT NULL
       |  GROUP BY event_type, next_type)
       | GROUP BY 1)
       |CROSS JOIN (
       | SELECT CAST(count(*) AS BIGINT) AS n_total FROM (
       |  SELECT user_id, event_type,
       |   lead(event_type, 1) OVER (PARTITION BY user_id
       |     ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events)
       | WHERE next_type IS NOT NULL)
       |ORDER BY event_type""".stripMargin.replace('\n', ' ')

  /** Reserved state names of the attribution chain. A feed whose
    * event types collide with them fails loud (Spark side; the gate
    * data cannot reach it). */
  private val ReservedStates = Set("START", "CONV", "NULL")

  /** The twin's full-chain variant sentinel — reserved alongside
    * [[ReservedStates]]: an event type literally named `__full__`
    * would collide with the twin's `variants` axis (zeroed in the
    * full chain, its removal row excluded), so the Spark-side gate
    * rejects it for BOTH engines (ADVICE r12). */
  private[graft] val FullSentinel = "__full__"

  /** `convType` is interpolated into the twin's SQL string literal —
    * restrict it to a quote-free identifier-ish alphabet so the twin
    * can never be corrupted by a crafted type name (ADVICE r12). Both
    * the Spark op and the twin generator call this, so the two
    * surfaces reject identically. */
  private[graft] def requireSafeType(convType: String): Unit =
    require(convType.matches("[A-Za-z0-9_.:-]+"),
      s"conversion type must match [A-Za-z0-9_.:-]+, got: $convType")

  /** The attribution chain's edge table: per user, the journey of
    * channel touches STRICTLY BEFORE the first `convType` event
    * (events after the first conversion are out of scope; users who
    * never convert end in NULL), with synthetic START/CONV/NULL
    * terminals:
    *
    *  - `START → first touch` (or `START → CONV` for users whose very
    *    first event converts),
    *  - `touch_i → touch_{i+1}` in the family's `(tsu, event_id)`
    *    total order,
    *  - `last touch → CONV` (converted) or `→ NULL` (never).
    *
    * Every window/join keys on `user_id` — the family's skew-free
    * parallelism unit; the output is type-bounded. */
  /** Shared pre-conversion journey slice (the attribution family's
    * base): `firstConv` = each user's first-`convType` rank, `base` =
    * every event STRICTLY BEFORE it (all events for never-converters),
    * ranked in the family's `(tsu, event_id)` total order. User-keyed
    * window + join only. */
  private def journeyBase(events: DataFrame,
      convType: String): (DataFrame, DataFrame) = {
    // ranked is materialized once: every attribution consumer reads it
    // through several plan branches (firstConv, the base join's left
    // side, and each op's own steps/coalition fan-out) — Catalyst does
    // not dedupe common subtrees, so unmaterialized it re-ran the
    // per-user rank window once per branch (VERDICT r16 #7).
    val ranked = ev(events)
      .withColumn("rn", row_number().over(perUser))
      .transform(graft.functions.checkpointed)
    val firstConv = ranked.where(col("event_type") === convType)
      .groupBy("user_id").agg(min(col("rn")).as("crn"))
    val base = ranked.join(firstConv, Seq("user_id"), "left")
      .where(col("crn").isNull || col("rn") < col("crn"))
    (firstConv, base)
  }

  /** The `ev`/`fc`/`base` CTE prefix shared by the attribution twins —
    * the SQL mirror of [[journeyBase]], every CTE `AS MATERIALIZED`
    * (DuckDB 1.0 inlines each reference; see
    * [[markovAttributionSql]]). */
  private def journeySqlCtes(convType: String): String =
    s"""ev AS MATERIALIZED (
       | SELECT user_id, event_type,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts), event_id) AS rn
       | FROM events),
       |fc AS MATERIALIZED (SELECT user_id, min(rn) AS crn FROM ev
       | WHERE event_type = '$convType' GROUP BY 1),
       |base AS MATERIALIZED (
       | SELECT ev.user_id, ev.event_type, ev.rn, fc.crn
       | FROM ev LEFT JOIN fc USING (user_id)
       | WHERE fc.crn IS NULL OR ev.rn < fc.crn)""".stripMargin
      .replace('\n', ' ')

  private[graft] def attributionEdges(events: DataFrame,
      convType: String): DataFrame = {
    val byRn = Window.partitionBy("user_id").orderBy("rn")
    val allRn = Window.partitionBy("user_id")
    val (firstConv, base) = journeyBase(events, convType)
    // steps feeds FOUR union branches (mid/entry/exit + immediate's
    // anti-join probe): materialize it once so the two user-keyed
    // windows run once per invocation, not once per branch.
    val steps = base
      .withColumn("nxt", lead(col("event_type"), 1).over(byRn))
      .withColumn("first_rn", min(col("rn")).over(allRn))
      .withColumn("last_rn", max(col("rn")).over(allRn))
      .transform(graft.functions.checkpointed)
    val mid = steps.where(col("nxt").isNotNull)
      .select(col("event_type").as("src"), col("nxt").as("dst"))
    val entry = steps.where(col("rn") === col("first_rn"))
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val exit = steps.where(col("rn") === col("last_rn"))
      .select(col("event_type").as("src"),
        when(col("crn").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("dst"))
    val immediate = firstConv.join(
        steps.select("user_id").distinct(), Seq("user_id"), "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    mid.unionAll(entry).unionAll(exit).unionAll(immediate)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("outn",
        sum(col("n")).over(Window.partitionBy("src")))
  }

  /** Markov removal-effect attribution over the user-journey chain
    * (Anderl et al. 2014, the standard data-driven alternative to
    * last-touch): for each channel, the drop in the chain's
    * START→CONV absorption probability when that channel is removed
    * (its state zeroed — transitions into it are lost, the
    * redirect-to-NULL convention), and each channel's share of the
    * total drop.
    *
    * The chain runs `iterations` FIXED truncated-absorption steps in
    * PURE INTEGER arithmetic — `pq_k(s) = Σ_{s→t} (n·pq_{k-1}(t)) ÷
    * outn` (floor division per edge before the order-independent
    * integer sum), `pq(CONV) ≡ 1e12`, `pq(NULL) ≡ 0`, removed-channel
    * state ≡ 0 — so every probability is an exact integer in BOTH
    * engines and the emitted ratios are single IEEE divisions of
    * exact operands. No libm anywhere.
    *
    * `removal_q = pq_full − pq_removed ≥ 0` (monotone: zeroing a state
    * can only lose absorption mass under the truncated iteration);
    * `share = removal_q / Σ_channels removal_q` — the denominator is
    * an exact integer sum, so shares are order-independent.
    *
    * Scale shape: the heavy half is [[attributionEdges]] (user-keyed
    * windows); the chain solve runs on the aggregated TYPE graph,
    * guarded LOUD at `maxTypes` before the bounded collect (the
    * [[typePagerank]] stance — the solve is
    * `channels × iterations × edges`, i.e. up to maxTypes³·iterations
    * multiplies, which is what sizes the default). Batch-only BY
    * DESIGN — a global fixed-point, not a per-key fold; serve from
    * batch snapshots.
    *
    * Collision guard: checked on the RAW distinct event-type set,
    * BEFORE any synthetic state is introduced — an event type
    * literally named `START`/`CONV`/`NULL` (chain states) or
    * `__full__` (the twin's full-chain variant sentinel) would
    * silently merge with the synthetic states, so it raises loud in
    * the Spark gate that fronts both engines (VERDICT r12 #3 / ADVICE
    * r12: the previous guard filtered the reserved names out before
    * checking for them — a tautology). */
  def markovAttribution(events: DataFrame,
      convType: String = "purchase", iterations: Int = 20,
      maxTypes: Int = 200): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    requireSafeType(convType)
    val types = ev(events).select("event_type").distinct()
      .take(maxTypes + 1).map(_.getString(0))
    if (types.length > maxTypes) throw new IllegalStateException(
      s"markovAttribution: more than maxTypes=$maxTypes event types " +
        "(the removal solve is channels × iterations × edges — " +
        "type-cubed)")
    val clash = types.filter(t =>
      ReservedStates.contains(t) || t == FullSentinel)
    if (clash.nonEmpty) throw new IllegalStateException(
      "markovAttribution: event types collide with reserved chain " +
        s"states: ${clash.sorted.mkString(", ")}")
    val edges = attributionEdges(events, convType)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val channels = (edges.map(_._1) ++ edges.map(_._2))
      .filterNot(ReservedStates.contains).distinct.sorted
    val scale = BigInt(1000000000000L)
    def absorb(removed: Option[String]): BigInt = {
      val states = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var pq = states.map(t =>
        t -> (if (t == "CONV") scale else BigInt(0))).toMap
      for (_ <- 0 until iterations) {
        val next = scala.collection.mutable.Map.empty[String, BigInt]
        edges.foreach { case (src, dst, n, outn) =>
          if (src != "CONV" && src != "NULL" &&
              !removed.contains(src)) {
            val cq = (BigInt(n) * pq(dst)) / BigInt(outn)
            next(src) = next.getOrElse(src, BigInt(0)) + cq
          }
        }
        pq = states.map(t => t -> (
          if (t == "CONV") scale
          else if (t == "NULL" || removed.contains(t)) BigInt(0)
          else next.getOrElse(t, BigInt(0)))).toMap
      }
      pq.getOrElse("START", BigInt(0))
    }
    val pqFull = absorb(None)
    val removals = channels.map(c => c -> absorb(Some(c)))
    val totalDrop = removals.map { case (_, p) => pqFull - p }.sum
    removals.toSeq.map { case (c, pqc) =>
      val dropQ = (pqFull - pqc).toLong
      (c, pqFull.toLong, pqc.toLong, dropQ,
        if (pqFull.signum > 0)
          Some(dropQ.toDouble / pqFull.toDouble) else None,
        if (totalDrop.signum > 0)
          Some(dropQ.toDouble / totalDrop.toDouble) else None)
    }.toDF("channel", "pq_full", "pq_removed", "removal_q",
        "removal_effect", "share")
      .orderBy("channel")
  }

  /** DuckDB twin of [[markovAttribution]]: the same edge table, the
    * same pure-integer truncated-absorption iteration as `iterations`
    * CHAINED CTEs over (variant, state) — one variant per channel
    * plus the full chain (the [[typePagerankSql]] convention).
    *
    * Every shared CTE is `AS MATERIALIZED`: DuckDB 1.0 INLINES each
    * CTE reference, so without it the user-journey edge pipeline
    * (3 windows + 4-way union) is re-evaluated once per reference —
    * ~100× inside the 20-step chain, >300 s at sf0.01 and the direct
    * cause of the empty round-12 correctness artifact (VERDICT r12
    * #1); materialized it runs in ~1 s with bit-identical output. */
  /** The attribution chain's full edge-table CTE prefix (`WITH` ev →
    * fc → base → steps → raw → e), the SQL mirror of
    * [[attributionEdges]], shared by [[markovAttributionSql]] and
    * [[chainHittingTimeSql]]. */
  private def edgeSqlCtes(convType: String): String =
    s"""WITH ${journeySqlCtes(convType)},
       |steps AS MATERIALIZED (
       | SELECT user_id, event_type, rn, crn,
       |  lead(event_type, 1) OVER (PARTITION BY user_id
       |    ORDER BY rn) AS nxt,
       |  min(rn) OVER (PARTITION BY user_id) AS first_rn,
       |  max(rn) OVER (PARTITION BY user_id) AS last_rn
       | FROM base),
       |raw AS MATERIALIZED (
       | SELECT event_type AS src, nxt AS dst FROM steps
       |  WHERE nxt IS NOT NULL
       | UNION ALL
       | SELECT 'START', event_type FROM steps WHERE rn = first_rn
       | UNION ALL
       | SELECT event_type,
       |  CASE WHEN crn IS NOT NULL THEN 'CONV' ELSE 'NULL' END
       | FROM steps WHERE rn = last_rn
       | UNION ALL
       | SELECT 'START', 'CONV' FROM fc
       |  WHERE user_id NOT IN (SELECT DISTINCT user_id FROM base)),
       |e AS MATERIALIZED (
       | SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(count(*)) OVER (PARTITION BY src) AS BIGINT) AS outn
       | FROM raw GROUP BY src, dst)""".stripMargin
      .replace('\n', ' ')

  def markovAttributionSql(convType: String = "purchase",
      iterations: Int = 20): String = {
    requireSafeType(convType)
    val edge = edgeSqlCtes(convType)
    val iters = (1 to iterations).map { k =>
      s"""p$k AS MATERIALIZED (
         | SELECT v.rm, nd.t,
         |  CASE WHEN nd.t = 'CONV' THEN CAST(1000000000000 AS HUGEINT)
         |   WHEN nd.t = 'NULL' OR nd.t = v.rm THEN 0
         |   ELSE COALESCE(c.s, 0) END AS pq
         | FROM variants v CROSS JOIN nodes nd
         | LEFT JOIN (
         |  SELECT p.rm, e.src AS t,
         |   SUM((CAST(e.n AS HUGEINT) * p.pq) // e.outn) AS s
         |  FROM e JOIN p${k - 1} p ON p.t = e.dst
         |  GROUP BY p.rm, e.src) c
         |  ON c.rm = v.rm AND c.t = nd.t)""".stripMargin
        .replace('\n', ' ')
    }.mkString(", ")
    s"""$edge,
       |nodes AS MATERIALIZED (SELECT DISTINCT t FROM
       |  (SELECT src AS t FROM e UNION ALL SELECT dst AS t FROM e)),
       |channels AS MATERIALIZED (SELECT t FROM nodes
       | WHERE t NOT IN ('START', 'CONV', 'NULL')),
       |variants AS MATERIALIZED (
       | SELECT '__full__' AS rm UNION ALL SELECT t FROM channels),
       |p0 AS MATERIALIZED (
       | SELECT v.rm, nd.t,
       |  CASE WHEN nd.t = 'CONV' THEN CAST(1000000000000 AS HUGEINT)
       |   ELSE 0 END AS pq
       | FROM variants v CROSS JOIN nodes nd),
       |$iters,
       |fin AS (
       | SELECT rm, pq FROM p$iterations WHERE t = 'START'),
       |fullp AS (SELECT pq AS pq_full FROM fin WHERE rm = '__full__'),
       |drops AS (
       | SELECT f.rm AS channel, fp.pq_full, f.pq AS pq_removed,
       |  fp.pq_full - f.pq AS drop_q
       | FROM fin f CROSS JOIN fullp fp WHERE f.rm <> '__full__'),
       |tot AS (SELECT SUM(drop_q) AS total_drop FROM drops)
       |SELECT channel, CAST(pq_full AS BIGINT) AS pq_full,
       | CAST(pq_removed AS BIGINT) AS pq_removed,
       | CAST(drop_q AS BIGINT) AS removal_q,
       | CASE WHEN pq_full > 0
       |  THEN CAST(drop_q AS DOUBLE) / CAST(pq_full AS DOUBLE)
       | END AS removal_effect,
       | CASE WHEN total_drop > 0
       |  THEN CAST(drop_q AS DOUBLE) / CAST(total_drop AS DOUBLE)
       | END AS share
       |FROM drops CROSS JOIN tot
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  /** Truncated expected steps to absorption from each transient chain
    * state — the journey-length companion of [[markovAttribution]]
    * over the same [[attributionEdges]] chain (START/CONV/NULL
    * terminals, first-conversion truncation): `START`'s value is the
    * expected number of touches a journey makes before it ends
    * (converted OR abandoned); a channel's value is the expected
    * remaining path length from that channel.
    *
    * `iterations` FIXED truncated steps in PURE INTEGER arithmetic
    * (the [[markovAttribution]] convention): `h_0 ≡ 0`,
    * `h_k(s) = 1e9 + Σ_{s→t} (n·h_{k-1}(t)) ÷ outn` for transient `s`
    * (floor division per edge before the order-independent integer
    * sum), `h(CONV) ≡ h(NULL) ≡ 0` — so `h ≤ iterations·1e9` is exact
    * in BOTH engines and `steps = h/1e9` is one IEEE division of an
    * exactly-representable operand. No libm anywhere.
    *
    * Scale shape: identical to [[markovAttribution]] — the heavy half
    * is the user-keyed [[attributionEdges]]; the solve runs on the
    * type graph behind the same loud `maxTypes` collect guard.
    * Batch-only BY DESIGN (a global fixed-point). */
  def chainHittingTime(events: DataFrame,
      convType: String = "purchase", iterations: Int = 20,
      maxTypes: Int = 200): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    requireSafeType(convType)
    val types = ev(events).select("event_type").distinct()
      .take(maxTypes + 1).map(_.getString(0))
    if (types.length > maxTypes) throw new IllegalStateException(
      s"chainHittingTime: more than maxTypes=$maxTypes event types " +
        "(the solve collects the type graph)")
    val clash = types.filter(ReservedStates.contains)
    if (clash.nonEmpty) throw new IllegalStateException(
      "chainHittingTime: event types collide with reserved chain " +
        s"states: ${clash.sorted.mkString(", ")}")
    val edges = attributionEdges(events, convType)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val states = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val scale = BigInt(1000000000L)
    var h = states.map(t => t -> BigInt(0)).toMap
    for (_ <- 0 until iterations) {
      val next = scala.collection.mutable.Map.empty[String, BigInt]
      edges.foreach { case (src, dst, n, outn) =>
        if (src != "CONV" && src != "NULL") {
          val cq = (BigInt(n) * h(dst)) / BigInt(outn)
          next(src) = next.getOrElse(src, BigInt(0)) + cq
        }
      }
      h = states.map(t => t -> (
        if (t == "CONV" || t == "NULL") BigInt(0)
        else scale + next.getOrElse(t, BigInt(0)))).toMap
    }
    states.filterNot(t => t == "CONV" || t == "NULL").sorted.toSeq
      .map { t =>
        val q = h(t).toLong
        (t, q, q.toDouble / 1e9d)
      }
      .toDF("state", "steps_q", "steps")
      .orderBy("state")
  }

  /** DuckDB twin of [[chainHittingTime]]: the same
    * [[edgeSqlCtes]] edge table and the same pure-integer truncated
    * iteration as `iterations` chained `AS MATERIALIZED` CTEs (the
    * [[markovAttributionSql]] inlining lesson) — one state axis, no
    * removal variants. */
  def chainHittingTimeSql(convType: String = "purchase",
      iterations: Int = 20): String = {
    requireSafeType(convType)
    val iters = (1 to iterations).map { k =>
      s"""h$k AS MATERIALIZED (
         | SELECT nd.t,
         |  CASE WHEN nd.t = 'CONV' OR nd.t = 'NULL'
         |   THEN CAST(0 AS HUGEINT)
         |   ELSE CAST(1000000000 AS HUGEINT) + COALESCE(c.s, 0)
         |  END AS h
         | FROM nodes nd LEFT JOIN (
         |  SELECT e.src AS t,
         |   SUM((CAST(e.n AS HUGEINT) * p.h) // e.outn) AS s
         |  FROM e JOIN h${k - 1} p ON p.t = e.dst
         |  GROUP BY e.src) c ON c.t = nd.t)""".stripMargin
        .replace('\n', ' ')
    }.mkString(", ")
    s"""${edgeSqlCtes(convType)},
       |nodes AS MATERIALIZED (SELECT DISTINCT t FROM
       |  (SELECT src AS t FROM e UNION ALL SELECT dst AS t FROM e)),
       |h0 AS MATERIALIZED (
       | SELECT t, CAST(0 AS HUGEINT) AS h FROM nodes),
       |$iters
       |SELECT t AS state, CAST(h AS BIGINT) AS steps_q,
       | CAST(h AS DOUBLE) / 1e9 AS steps
       |FROM h$iterations WHERE t NOT IN ('CONV', 'NULL')
       |ORDER BY state""".stripMargin.replace('\n', ' ')
  }

  /** Shapley-value channel attribution (Zhao/Mahboobi/Moghaddam 2018,
    * the order-free data-driven companion of [[markovAttribution]]'s
    * order-sensitive chain): each user's COALITION is the distinct
    * set of channels touched strictly before first conversion (the
    * [[journeyBase]] slice); the characteristic value of a channel
    * set `S` is `v(S) = Σ_{observed T ⊆ S} conversions(T)` (a
    * monotone game), and each channel gets its exact Shapley value
    * `φ_i = Σ_{S ⊆ N∖{i}} |S|!(n−1−|S|)!/n! · (v(S∪i) − v(S))`.
    *
    * Exactness: conversions are integer counts, `v` comes off a
    * subset-sum (zeta) transform over the 2^n coalition lattice in
    * exact integers, and the emitted `phi_q = φ·n!` is an exact
    * integer in BOTH engines (raise-guarded BIGINT emission past
    * 2^63); `shapley = phi_q/n!` and `share = phi_q/Σphi_q` are
    * single IEEE divisions of exact operands (efficiency:
    * `Σφ = v(N)`, so shares sum to 1 whenever any coalition
    * converts). No libm anywhere.
    *
    * Scale shape: the heavy half is the user-keyed [[journeyBase]]
    * aggregation; the solve enumerates `2^n` coalitions and is
    * guarded LOUD at `maxChannels` (default 12 → ≤ 4096 coalitions,
    * the exact-enumeration bound) before the set-table collect.
    * Batch-only BY DESIGN. */
  def shapleyAttribution(events: DataFrame,
      convType: String = "purchase", maxChannels: Int = 12): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    requireSafeType(convType)
    val (_, base) = journeyBase(events, convType)
    // Pre-guard the channel universe BEFORE collecting the coalition
    // table: distinct-coalition cardinality is bounded by min(#users,
    // 2^T) over the full channel set T, so on a type-rich feed the
    // collect below could be millions of rows — the take() guard is
    // the typePagerank/chainHittingTime pattern and costs one tiny
    // distinct scan.
    val nChans = base.select(col("event_type")).distinct()
      .take(maxChannels + 1).length
    if (nChans > maxChannels) throw new IllegalStateException(
      s"shapleyAttribution: more than maxChannels=$maxChannels " +
        "channels (the exact solve enumerates 2^n coalitions)")
    val sets = base.groupBy(col("user_id")).agg(
        array_sort(collect_set(col("event_type"))).as("chans"),
        max(when(col("crn").isNotNull, 1).otherwise(0)).as("conv"))
      .groupBy(col("chans"))
      .agg(sum(col("conv")).cast("long").as("convs"))
      .collect()
      .map(r => (r.getSeq[String](0), r.getLong(1)))
    val channels = sets.flatMap(_._1).distinct.sorted
    val n = channels.length
    if (n == 0)
      return Seq.empty[(String, Long, Long, Double, Option[Double])]
        .toDF("channel", "conversions", "phi_q", "shapley", "share")
    val bit = channels.zipWithIndex.toMap
    val full = (1 << n) - 1
    val v = Array.fill(1 << n)(BigInt(0))
    sets.foreach { case (chans, convs) =>
      v(chans.map(c => 1 << bit(c)).sum) += BigInt(convs)
    }
    // zeta transform: v(S) = sum of observed-coalition conversions
    // over all observed T subset-of S
    for (b <- 0 until n; s <- 0 to full) {
      if ((s & (1 << b)) != 0) v(s) += v(s ^ (1 << b))
    }
    val fact = new Array[BigInt](n + 1)
    fact(0) = BigInt(1)
    for (k <- 1 to n) fact(k) = fact(k - 1) * k
    val phis = channels.map { c =>
      val i = 1 << bit(c)
      var phi = BigInt(0)
      for (s <- 0 to full) {
        if ((s & i) == 0) {
          val b = Integer.bitCount(s)
          phi += fact(b) * fact(n - 1 - b) * (v(s | i) - v(s))
        }
      }
      c -> phi
    }
    val tot = phis.map(_._2).sum
    phis.toSeq.map { case (c, phi) =>
      if (!phi.isValidLong) throw new ArithmeticException(
        s"shapleyAttribution: phi_q overflows BIGINT at channel=$c")
      (c, v(full).toLong, phi.toLong,
        phi.toDouble / fact(n).toDouble,
        if (tot.signum > 0) Some(phi.toDouble / tot.toDouble)
        else None)
    }.toDF("channel", "conversions", "phi_q", "shapley", "share")
      .orderBy("channel")
  }

  /** DuckDB twin of [[shapleyAttribution]]: the same
    * [[journeySqlCtes]] slice, coalitions as BITMASKS (channel →
    * bit by sorted rank), the 2^n lattice from a recursive counter
    * CTE, `v` via the same subset-containment sum
    * (`(s & mask) = mask`), factorial weights from a recursive
    * factorial CTE, and the identical exact integer `phi` sum in
    * HUGEINT with the same BIGINT emission and IEEE divisions. */
  def shapleyAttributionSql(convType: String = "purchase"): String = {
    requireSafeType(convType)
    s"""WITH RECURSIVE ${journeySqlCtes(convType)},
       |chmap AS MATERIALIZED (
       | SELECT t, CAST(row_number() OVER (ORDER BY t) - 1 AS INTEGER)
       |   AS bit
       | FROM (SELECT DISTINCT event_type AS t FROM base)),
       |nn AS MATERIALIZED (
       | SELECT CAST(count(*) AS INTEGER) AS n FROM chmap),
       |usr AS MATERIALIZED (
       | SELECT b.user_id,
       |  CAST(sum(DISTINCT (CAST(1 AS BIGINT) << c.bit)) AS BIGINT)
       |    AS mask,
       |  max(CASE WHEN b.crn IS NOT NULL THEN 1 ELSE 0 END) AS conv
       | FROM base b JOIN chmap c ON c.t = b.event_type
       | GROUP BY b.user_id),
       |obs AS MATERIALIZED (
       | SELECT mask, CAST(sum(conv) AS BIGINT) AS convs
       | FROM usr GROUP BY mask),
       |subsets AS (
       | SELECT CAST(0 AS BIGINT) AS s
       | UNION ALL
       | SELECT s + 1 FROM subsets
       |  WHERE s + 1 < (SELECT CAST(1 AS BIGINT) << n FROM nn)),
       |vv AS MATERIALIZED (
       | SELECT su.s, COALESCE(SUM(o.convs), CAST(0 AS BIGINT)) AS v
       | FROM subsets su LEFT JOIN obs o ON (su.s & o.mask) = o.mask
       | GROUP BY su.s),
       |fact AS (
       | SELECT 0 AS k, CAST(1 AS HUGEINT) AS f
       | UNION ALL
       | SELECT k + 1, f * (k + 1) FROM fact
       |  WHERE k + 1 <= (SELECT n FROM nn)),
       |fct AS MATERIALIZED (SELECT k, f FROM fact),
       |phi AS MATERIALIZED (
       | SELECT c.t AS channel,
       |  SUM(f1.f * f2.f * CAST(vi.v - vs.v AS HUGEINT)) AS phi
       | FROM chmap c CROSS JOIN nn
       | JOIN subsets su ON (su.s & (CAST(1 AS BIGINT) << c.bit)) = 0
       | JOIN vv vs ON vs.s = su.s
       | JOIN vv vi ON vi.s = (su.s | (CAST(1 AS BIGINT) << c.bit))
       | JOIN fct f1 ON f1.k = bit_count(su.s)
       | JOIN fct f2 ON f2.k = nn.n - 1 - bit_count(su.s)
       | GROUP BY c.t),
       |fullv AS (SELECT v AS v_full FROM vv, nn
       | WHERE vv.s = (CAST(1 AS BIGINT) << n) - 1),
       |nf AS (SELECT f AS fn FROM fct, nn WHERE k = n),
       |tot AS (SELECT SUM(phi) AS total FROM phi)
       |SELECT channel, CAST(v_full AS BIGINT) AS conversions,
       | CAST(phi AS BIGINT) AS phi_q,
       | CAST(phi AS DOUBLE) / CAST(fn AS DOUBLE) AS shapley,
       | CASE WHEN total > 0
       |  THEN CAST(phi AS DOUBLE) / CAST(total AS DOUBLE) END AS share
       |FROM phi CROSS JOIN fullv CROSS JOIN nf CROSS JOIN tot
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  /** Position-weighted (U-shaped 40/20/40) channel attribution over
    * CONVERTED journeys — the rule-based companion of the data-driven
    * [[markovAttribution]]/[[shapleyAttribution]] pair: the first and
    * last pre-conversion touches get 40% each, the middle touches
    * split the remaining 20%; a single touch gets 100%, a two-touch
    * journey 50/50.
    *
    * Credit is EXACT integer millionths: middles get
    * `200000 ÷ (m−2)` each with the remainder going to the EARLIEST
    * `200000 mod (m−2)` middles (deterministic in the family's
    * journey order), so every journey sums to exactly 1e6 and the
    * per-channel sums are exact integers in BOTH engines;
    * `conversions = credit_q/1e6` and `share = credit_q/Σcredit_q`
    * are single IEEE divisions of exact operands.
    *
    * Scale shape: user-keyed windows over [[journeyBase]] and one
    * channel aggregation — NO driver collect, no cardinality guard
    * needed (contrast the chain solves): the op is fully distributed
    * at any channel count. */
  def positionAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    requireSafeType(convType)
    val (_, base) = journeyBase(events, convType)
    val byRn = Window.partitionBy("user_id").orderBy("rn")
    val all = Window.partitionBy("user_id")
    val cr = base.where(col("crn").isNotNull)
      .withColumn("pos", row_number().over(byRn))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("credit_q",
        when(col("m") === 1L, lit(1000000L))
          .when(col("m") === 2L, lit(500000L))
          .when(col("pos") === 1 || col("pos") === col("m"),
            lit(400000L))
          .otherwise(expr(
            "200000 DIV (m - 2) + " +
              "(CASE WHEN pos - 1 <= 200000 % (m - 2) " +
              "THEN 1 ELSE 0 END)")))
    val agg = cr.groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_q").cast("decimal(30,0)")).as("_c"))
      .select(col("channel"), col("n_touches"),
        when(abs(col("_c")) > lit(Long.MaxValue),
          raise_error(concat(
            lit("positionAttribution: credit_q overflows BIGINT at "),
            col("channel"))).cast("long"))
          .otherwise(col("_c").cast("long")).as("credit_q"))
    // full-frame window over the bounded channel table instead of a
    // self-join: `agg.join(agg.agg(...))` evaluated the whole journey
    // subtree twice (Catalyst does not dedupe common subtrees). Same
    // exact decimal total, one evaluation.
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("_t", sum(col("credit_q").cast("decimal(30,0)"))
        .over(full).cast("double"))
      .select(col("channel"), col("n_touches"), col("credit_q"),
        (col("credit_q").cast("double") / 1e6d).as("conversions"),
        (col("credit_q").cast("double") / col("_t")).as("share"))
      .orderBy("channel")
  }

  /** DuckDB twin of [[positionAttribution]] — identical split rule,
    * remainder convention, and IEEE chains. */
  def positionAttributionSql(convType: String = "purchase"): String = {
    requireSafeType(convType)
    s"""WITH ${journeySqlCtes(convType)},
       |pos AS MATERIALIZED (
       | SELECT user_id, event_type,
       |  row_number() OVER (PARTITION BY user_id ORDER BY rn) AS pos,
       |  count(*) OVER (PARTITION BY user_id) AS m
       | FROM base WHERE crn IS NOT NULL),
       |cr AS MATERIALIZED (
       | SELECT event_type AS channel,
       |  CASE WHEN m = 1 THEN 1000000
       |   WHEN m = 2 THEN 500000
       |   WHEN pos = 1 OR pos = m THEN 400000
       |   ELSE 200000 // (m - 2)
       |    + (CASE WHEN pos - 1 <= 200000 % (m - 2)
       |       THEN 1 ELSE 0 END)
       |  END AS credit_q
       | FROM pos),
       |agg AS MATERIALIZED (
       | SELECT channel, count(*) AS n_touches,
       |  CAST(SUM(CAST(credit_q AS HUGEINT)) AS BIGINT) AS credit_q
       | FROM cr GROUP BY channel),
       |tot AS (SELECT CAST(SUM(CAST(credit_q AS HUGEINT)) AS DOUBLE)
       |  AS t FROM agg)
       |SELECT channel, n_touches, credit_q,
       | CAST(credit_q AS DOUBLE) / 1e6 AS conversions,
       | CAST(credit_q AS DOUBLE) / t AS share
       |FROM agg CROSS JOIN tot
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  /** First-touch, last-touch, and linear channel attribution in ONE
    * pass over CONVERTED journeys — the three baseline rule-based
    * models every attribution report shows next to
    * [[positionAttribution]]/[[timeDecayAttribution]] and the
    * data-driven [[markovAttribution]]/[[shapleyAttribution]]:
    * first/last give the journey's full credit to one touch; linear
    * splits it equally (`1e6 ÷ m` each, remainder to the EARLIEST
    * `1e6 mod m` touches — the [[positionAttribution]] convention, so
    * every journey sums to exactly 1e6 under all three models).
    *
    * All credits are exact integer millionths in BOTH engines
    * (raise-guarded BIGINT sums); the three share columns divide by
    * the same exact total (`Σ linear_q` = 1e6 · converters = the
    * other two models' totals by construction).
    *
    * Scale shape: user-keyed windows over [[journeyBase]] and one
    * channel aggregation — no collect, no guard, fully distributed. */
  def touchAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    requireSafeType(convType)
    val (_, base) = journeyBase(events, convType)
    val byRn = Window.partitionBy("user_id").orderBy("rn")
    val all = Window.partitionBy("user_id")
    def guarded(c: Column, what: String): Column =
      when(abs(c) > lit(Long.MaxValue),
        raise_error(concat(
          lit(s"touchAttribution: $what overflows BIGINT at "),
          col("channel"))).cast("long"))
        .otherwise(c.cast("long"))
    val cr = base.where(col("crn").isNotNull)
      .withColumn("pos", row_number().over(byRn))
      .withColumn("m", count(lit(1)).over(all))
      .select(col("event_type"),
        when(col("pos") === 1, lit(1000000L)).otherwise(lit(0L))
          .as("first_q1"),
        when(col("pos") === col("m"), lit(1000000L)).otherwise(lit(0L))
          .as("last_q1"),
        expr("1000000 DIV m + (CASE WHEN pos <= 1000000 % m " +
          "THEN 1 ELSE 0 END)").as("linear_q1"))
    val agg = cr.groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("first_q1").cast("decimal(30,0)")).as("_f"),
        sum(col("last_q1").cast("decimal(30,0)")).as("_l"),
        sum(col("linear_q1").cast("decimal(30,0)")).as("_n"))
      .select(col("channel"), col("n_touches"),
        guarded(col("_f"), "first_q").as("first_q"),
        guarded(col("_l"), "last_q").as("last_q"),
        guarded(col("_n"), "linear_q").as("linear_q"))
    // corpus total as a full-frame window over the BOUNDED channel
    // table (not a self-join: `agg.join(agg.agg(...))` evaluated the
    // whole journey subtree twice — Catalyst does not dedupe common
    // subtrees). Same exact decimal sum, one evaluation.
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("_t", sum(col("linear_q").cast("decimal(30,0)"))
        .over(full).cast("double"))
      .select(col("channel"), col("n_touches"),
        col("first_q"), col("last_q"), col("linear_q"),
        (col("first_q").cast("double") / col("_t")).as("first_share"),
        (col("last_q").cast("double") / col("_t")).as("last_share"),
        (col("linear_q").cast("double") / col("_t"))
          .as("linear_share"))
      .orderBy("channel")
  }

  /** DuckDB twin of [[touchAttribution]] — identical credit rules,
    * remainder convention, and IEEE chains. */
  def touchAttributionSql(convType: String = "purchase"): String = {
    requireSafeType(convType)
    s"""WITH ${journeySqlCtes(convType)},
       |pos AS MATERIALIZED (
       | SELECT user_id, event_type,
       |  row_number() OVER (PARTITION BY user_id ORDER BY rn) AS pos,
       |  count(*) OVER (PARTITION BY user_id) AS m
       | FROM base WHERE crn IS NOT NULL),
       |cr AS MATERIALIZED (
       | SELECT event_type AS channel,
       |  CASE WHEN pos = 1 THEN 1000000 ELSE 0 END AS first_q1,
       |  CASE WHEN pos = m THEN 1000000 ELSE 0 END AS last_q1,
       |  1000000 // m + (CASE WHEN pos <= 1000000 % m
       |   THEN 1 ELSE 0 END) AS linear_q1
       | FROM pos),
       |agg AS MATERIALIZED (
       | SELECT channel, count(*) AS n_touches,
       |  CAST(SUM(CAST(first_q1 AS HUGEINT)) AS BIGINT) AS first_q,
       |  CAST(SUM(CAST(last_q1 AS HUGEINT)) AS BIGINT) AS last_q,
       |  CAST(SUM(CAST(linear_q1 AS HUGEINT)) AS BIGINT) AS linear_q
       | FROM cr GROUP BY channel),
       |tot AS (SELECT CAST(SUM(CAST(linear_q AS HUGEINT)) AS DOUBLE)
       |  AS t FROM agg)
       |SELECT channel, n_touches, first_q, last_q, linear_q,
       | CAST(first_q AS DOUBLE) / t AS first_share,
       | CAST(last_q AS DOUBLE) / t AS last_share,
       | CAST(linear_q AS DOUBLE) / t AS linear_share
       |FROM agg CROSS JOIN tot
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  /** Exponential time-decay channel attribution over CONVERTED
    * journeys: a touch `Δt` before the conversion weighs
    * `2^(−Δt/halflife)` — implemented as the PURE-INTEGER halving
    * ladder `w_q = 1e12 ÷ 2^k` with `k = min(Δt ÷ halflifeMicros,
    * 39)` (no libm: the decay is quantized to full half-lives, the
    * standard "recent touches matter more" rule at half-life
    * granularity; the 39-cap floors weights at exactly 1 — never 0,
    * so a journey's weight sum is always positive and the share
    * division is total). Per-journey credit is the exact integer share
    * `share_q = (w_q·1e6) ÷ Σ_journey w_q` in millionths; journeys
    * sum to ≤ 1e6 (floor losses stay in the journey, never move
    * between channels).
    *
    * Exactness: weights, journey sums, and shares are exact integers
    * in BOTH engines (journey weight sums accumulate in
    * decimal/HUGEINT and emit through a raise-guarded BIGINT);
    * `conversions = credit_q/1e6` and `share` are single IEEE
    * divisions of exact operands.
    *
    * Scale shape: user-keyed windows only, no collect, no guard —
    * fully distributed at any channel count. */
  def timeDecayAttribution(events: DataFrame,
      convType: String = "purchase",
      halflifeMicros: Long = 7L * 86400L * 1000000L): DataFrame = {
    requireSafeType(convType)
    require(halflifeMicros > 0L, "halflifeMicros must be positive")
    // materialized once: referenced by fc AND as the touches join's
    // left side (the journeyBase stance)
    val ranked = ev(events)
      .withColumn("rn", row_number().over(perUser))
      .transform(graft.functions.checkpointed)
    val fc = ranked.where(col("event_type") === convType)
      .groupBy("user_id").agg(min(col("rn")).as("crn"),
        min(col("tsu")).as("conv_tsu"))
    val all = Window.partitionBy("user_id")
    val touches = ranked.join(fc, Seq("user_id"))
      .where(col("rn") < col("crn"))
      .withColumn("w_q", expr(
        s"1000000000000 DIV shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(LEAST((conv_tsu - tsu) DIV $halflifeMicros, 39) " +
          "AS INT))"))
      .withColumn("_sw", sum(col("w_q").cast("decimal(30,0)")).over(all))
      .withColumn("sum_w",
        when(col("_sw") > lit(Long.MaxValue),
          raise_error(concat(
            lit("timeDecayAttribution: journey weight sum overflows " +
              "BIGINT at user_id="), col("user_id"))).cast("long"))
          .otherwise(col("_sw").cast("long")))
      .withColumn("share_q", expr("(w_q * 1000000) DIV sum_w"))
    val agg = touches.groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("share_q").cast("decimal(30,0)")).as("_c"))
      .select(col("channel"), col("n_touches"),
        when(abs(col("_c")) > lit(Long.MaxValue),
          raise_error(concat(
            lit("timeDecayAttribution: credit_q overflows BIGINT at "),
            col("channel"))).cast("long"))
          .otherwise(col("_c").cast("long")).as("credit_q"))
    // full-frame window over the bounded channel table instead of a
    // self-join (the positionAttribution treatment: one journey-subtree
    // evaluation, same exact decimal total)
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("_t", sum(col("credit_q").cast("decimal(30,0)"))
        .over(full).cast("double"))
      .select(col("channel"), col("n_touches"), col("credit_q"),
        (col("credit_q").cast("double") / 1e6d).as("conversions"),
        (col("credit_q").cast("double") / col("_t")).as("share"))
      .orderBy("channel")
  }

  /** DuckDB twin of [[timeDecayAttribution]] — identical halving
    * ladder, journey-share floor, and IEEE chains. */
  def timeDecayAttributionSql(convType: String = "purchase",
      halflifeMicros: Long = 7L * 86400L * 1000000L): String = {
    requireSafeType(convType)
    s"""WITH ev AS MATERIALIZED (
       | SELECT user_id, event_type, epoch_us(ts) AS tsu,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts), event_id) AS rn
       | FROM events),
       |fc AS MATERIALIZED (
       | SELECT user_id, min(rn) AS crn, min(tsu) AS conv_tsu
       | FROM ev WHERE event_type = '$convType' GROUP BY 1),
       |touches AS MATERIALIZED (
       | SELECT ev.user_id, ev.event_type,
       |  1000000000000 // (CAST(1 AS BIGINT)
       |   << LEAST((fc.conv_tsu - ev.tsu) // $halflifeMicros, 39))
       |   AS w_q
       | FROM ev JOIN fc USING (user_id) WHERE ev.rn < fc.crn),
       |shares AS MATERIALIZED (
       | SELECT event_type,
       |  (w_q * 1000000) // CAST(SUM(CAST(w_q AS HUGEINT))
       |    OVER (PARTITION BY user_id) AS BIGINT) AS share_q
       | FROM touches),
       |agg AS MATERIALIZED (
       | SELECT event_type AS channel, count(*) AS n_touches,
       |  CAST(SUM(CAST(share_q AS HUGEINT)) AS BIGINT) AS credit_q
       | FROM shares GROUP BY 1),
       |tot AS (SELECT CAST(SUM(CAST(credit_q AS HUGEINT)) AS DOUBLE)
       |  AS t FROM agg)
       |SELECT channel, n_touches, credit_q,
       | CAST(credit_q AS DOUBLE) / 1e6 AS conversions,
       | CAST(credit_q AS DOUBLE) / t AS share
       |FROM agg CROSS JOIN tot
       |ORDER BY channel""".stripMargin.replace('\n', ' ')
  }

  /** Kaplan–Meier survival over user lifetimes with right-censoring:
    * each user's lifetime is `(last_tsu − first_tsu) ÷ periodUs` whole
    * periods (exact integer floor on nonneg micros); a user whose last
    * event falls within `censorMicros` of the corpus horizon (the
    * global max last-event time) is CENSORED at that lifetime (they
    * may still be alive), everyone else is a churn event. At each
    * observed lifetime `k` (ascending): `n_risk_k = Σ_{j≥k}(d_j+c_j)`
    * and the product-limit estimate
    * `S_q(k) = ⌊S_q(k−1)·(n_risk_k − d_k) / n_risk_k⌋` in EXACT
    * integer arithmetic at 1e12 scale (`S_q(−1) = 1e12`; every operand
    * nonnegative, so truncation ≡ floor in both engines) — a
    * censor-only time leaves `S_q` unchanged exactly
    * (`S·n/n ≡ S`). `survival = S_q / 1e12` is the one IEEE division.
    *
    * Scale shape: per-user min/max is one user-keyed aggregation; the
    * per-lifetime table is TIME-bounded (periods spanned by the
    * corpus, not data-bounded), guarded LOUD at `maxPeriods` before
    * the bounded collect; the product-limit fold runs on the driver in
    * BigInt (the [[markovAttribution]] stance — a global recursion,
    * not a per-key fold). The twin runs the same recursion as a
    * `WITH RECURSIVE` CTE in HUGEINT. */
  def kaplanMeier(events: DataFrame, periodDays: Long = 7,
      censorDays: Long = 7, maxPeriods: Int = 10000): DataFrame = {
    require(periodDays > 0 && censorDays >= 0,
      "periodDays must be positive, censorDays nonnegative")
    val spark = events.sparkSession
    import spark.implicits._
    val periodUs = periodDays * 86400L * 1000000L
    val censorUs = censorDays * 86400L * 1000000L
    val u = ev(events).groupBy("user_id")
      .agg(min(col("tsu")).as("f"), max(col("tsu")).as("l"))
    val lab = u
      .join(broadcast(u.agg(max(col("l")).as("h"))))
      .select(((col("l") - col("f")) / periodUs).cast("long")
          .as("period"),
        when(col("h") - col("l") < censorUs, 1L).otherwise(0L)
          .as("cen"))
    val wk = lab.groupBy("period")
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
      .orderBy("period")
      .take(maxPeriods + 1)
    if (wk.length > maxPeriods) throw new IllegalStateException(
      s"kaplanMeier: more than maxPeriods=$maxPeriods observed " +
        "lifetimes (corpus spans more periods than the bounded " +
        "driver fold is sized for)")
    val total = wk.map(r => r.getLong(1) + r.getLong(2)).sum
    val scale = BigInt(1000000000000L)
    var atRisk = total
    var s = scale
    val rows = wk.map { r =>
      val (k, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val nRisk = atRisk
      s = s * BigInt(nRisk - d) / BigInt(nRisk)
      atRisk -= d + c
      (k, nRisk, d, c, s.toLong, s.toLong.toDouble / 1e12d)
    }.toSeq
    rows.toDF("period", "n_risk", "churned", "censored",
        "survival_q", "survival")
      .orderBy("period")
  }

  /** DuckDB twin of [[kaplanMeier]] — identical labeling, the reverse
    * cumulative risk-set window, and the same nonnegative-integer
    * product-limit recursion in HUGEINT (`//` on nonnegative operands
    * ≡ the driver fold's BigInt floor). */
  def kaplanMeierSql(periodDays: Long = 7,
      censorDays: Long = 7): String = {
    val periodUs = periodDays * 86400L * 1000000L
    val censorUs = censorDays * 86400L * 1000000L
    s"""WITH RECURSIVE u AS MATERIALIZED (
       | SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
       | FROM events GROUP BY 1),
       |hz AS (SELECT max(l) AS h FROM u),
       |lab AS MATERIALIZED (
       | SELECT (l - f) // $periodUs AS period,
       |  CASE WHEN h - l < $censorUs THEN 1 ELSE 0 END AS cen
       | FROM u CROSS JOIN hz),
       |wk AS MATERIALIZED (
       | SELECT period, SUM(1 - cen) AS d, SUM(cen) AS c,
       |  row_number() OVER (ORDER BY period) AS rn
       | FROM lab GROUP BY 1),
       |risk AS MATERIALIZED (
       | SELECT period, rn, d, c,
       |  SUM(d + c) OVER (ORDER BY period DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   AS n_risk
       | FROM wk),
       |km AS (
       | SELECT period, rn, n_risk, d, c,
       |  (CAST(1000000000000 AS HUGEINT) * (n_risk - d)) // n_risk
       |   AS sq
       | FROM risk WHERE rn = 1
       | UNION ALL
       | SELECT r.period, r.rn, r.n_risk, r.d, r.c,
       |  (k.sq * (r.n_risk - r.d)) // r.n_risk
       | FROM km k JOIN risk r ON r.rn = k.rn + 1)
       |SELECT period, CAST(n_risk AS BIGINT) AS n_risk,
       | CAST(d AS BIGINT) AS churned, CAST(c AS BIGINT) AS censored,
       | CAST(sq AS BIGINT) AS survival_q,
       | CAST(CAST(sq AS BIGINT) AS DOUBLE) / 1e12 AS survival
       |FROM km ORDER BY period""".stripMargin.replace('\n', ' ')
  }

  /** Cohort lifetime value: users bucketed by the period of their
    * FIRST event (the [[retentionCohorts]] cohort convention), then
    * per (cohort, periods-since-cohort offset) the exact quantized
    * value sum of that offset's events, its running cumulative within
    * the cohort, and the cumulative value per cohort user —
    * `ltv = cum_value_q / 1e6 / cohort_size` (one IEEE chain, textual
    * twin-identical). The cumulative window runs over the AGGREGATED
    * (cohort, offset) table — time²-bounded rows, not a data-scale
    * sort — with an explicit ROWS frame and the family's decimal
    * accumulation + raise-guarded BIGINT emission. Offsets with zero
    * events contribute no row (the cumulative jumps across the gap
    * identically in both engines).
    *
    * Scale shape: one user-keyed first-event aggregation, one
    * user-keyed join, one (cohort, offset) aggregation — co-partitioned
    * and skew-free; no collect, no guard needed. */
  def cohortLtv(events: DataFrame, periodDays: Long = 7): DataFrame = {
    require(periodDays > 0, "periodDays must be positive")
    val periodUs = periodDays * 86400L * 1000000L
    val e = ev(events)
    val firsts = e.groupBy("user_id")
      .agg(floor(min(col("tsu")) / periodUs).cast("long").as("cohort"))
    val sizes = firsts.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_size"))
    val byOffset = e.join(firsts, "user_id")
      .groupBy(col("cohort"),
        (floor(col("tsu") / periodUs).cast("long") - col("cohort"))
          .as("offset"))
      .agg(valueQSum("cohortLtv").as("value_q"))
    val wCum = Window.partitionBy("cohort").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byOffset
      .withColumn("_cum",
        sum(col("value_q").cast("decimal(38,0)")).over(wCum))
      .withColumn("cum_value_q",
        when(abs(col("_cum")) > lit(Long.MaxValue)
            .cast("decimal(38,0)"),
          raise_error(lit("cohortLtv: cumulative value_q overflows " +
            "BIGINT")).cast("long"))
          .otherwise(col("_cum").cast("long")))
      .drop("_cum")
      .join(broadcast(sizes), "cohort")
      .withColumn("ltv",
        col("cum_value_q").cast("double") / 1e6d /
          col("cohort_size").cast("double"))
      .select("cohort", "offset", "cohort_size", "value_q",
        "cum_value_q", "ltv")
      .orderBy("cohort", "offset")
  }

  /** DuckDB twin of [[cohortLtv]] — identical quantized sums, the
    * same explicit-frame cumulative, the same IEEE chain. */
  def cohortLtvSql(periodDays: Long = 7): String = {
    val periodUs = periodDays * 86400L * 1000000L
    s"""WITH e AS MATERIALIZED (
       | SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
       |firsts AS MATERIALIZED (
       | SELECT user_id,
       |  CAST(floor(min(tsu) / $periodUs) AS BIGINT) AS cohort
       | FROM e GROUP BY 1),
       |sizes AS (SELECT cohort, count(*) AS cohort_size
       | FROM firsts GROUP BY 1),
       |byoff AS MATERIALIZED (
       | SELECT cohort,
       |  CAST(floor(tsu / $periodUs) AS BIGINT) - cohort AS "offset",
       |  CAST(SUM(CAST(CAST(floor(value * 1e6) AS BIGINT) AS HUGEINT))
       |    AS BIGINT) AS value_q
       | FROM e JOIN firsts USING (user_id) GROUP BY 1, 2),
       |cum AS (
       | SELECT cohort, "offset", value_q,
       |  CAST(SUM(CAST(value_q AS HUGEINT)) OVER (
       |    PARTITION BY cohort ORDER BY "offset"
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   AS BIGINT) AS cum_value_q
       | FROM byoff)
       |SELECT cohort, "offset", cohort_size, value_q, cum_value_q,
       | CAST(cum_value_q AS DOUBLE) / 1e6
       |  / CAST(cohort_size AS DOUBLE) AS ltv
       |FROM cum JOIN sizes USING (cohort)
       |ORDER BY cohort, "offset"""".stripMargin.replace('\n', ' ')
  }
  /** DAU/MAU stickiness per calendar period: for each `periodDays`
    * window (default 28, the product-analytics convention) the ratio of
    * average daily active users to period active users — "how many of
    * the month's users show up on a given day". `avg_dau` divides by
    * ACTIVE days only (days with zero events contribute no row in
    * either engine — the corpus has no day axis to densify from), so
    * the twin is closed under the same convention.
    *
    * Exactness: `dau_sum`, `n_days`, `mau` are exact integers
    * (distinct (user, day) pairs / active days / distinct users);
    * `avg_dau` and `stickiness` are each ONE IEEE chain over casts of
    * those integers, spelled identically in the twin.
    *
    * Scale shape: one distinct on (period, day, user) — the family's
    * hash-shuffle unit — then two period-keyed aggregations and a
    * period-keyed join; period cardinality is time-bounded. */
  def stickiness(events: DataFrame, periodDays: Long = 28): DataFrame = {
    val dayUs = 86400L * 1000000L
    val days = ev(events)
      .select(col("user_id"),
        floor(col("tsu") / dayUs).cast("long").as("day"))
      .distinct()
      .withColumn("period",
        floor(col("day") / periodDays).cast("long"))
    val daily = days.groupBy(col("period"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("period"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = days.select(col("period"), col("user_id")).distinct()
      .groupBy(col("period")).agg(count(lit(1)).as("mau"))
    daily.join(mau, Seq("period"))
      .select(col("period"), col("n_days"), col("dau_sum"), col("mau"),
        (col("dau_sum").cast("double") / col("n_days").cast("double"))
          .as("avg_dau"),
        (col("dau_sum").cast("double") /
          (col("n_days").cast("double") * col("mau").cast("double")))
          .as("stickiness"))
      .orderBy("period")
  }

  /** DuckDB twin of [[stickiness]] — identical day/period floors and
    * IEEE chains. */
  def stickinessSql(periodDays: Long = 28): String = {
    val dayUs = 86400L * 1000000L
    s"""WITH days AS MATERIALIZED (
       | SELECT DISTINCT user_id,
       |  CAST(floor(epoch_us(ts) / $dayUs) AS BIGINT) AS day
       | FROM events),
       |pdays AS MATERIALIZED (
       | SELECT user_id, day,
       |  CAST(floor(day / $periodDays) AS BIGINT) AS period FROM days),
       |daily AS (
       | SELECT period, count(*) AS n_days,
       |  CAST(SUM(dau) AS BIGINT) AS dau_sum FROM (
       |  SELECT period, day, count(*) AS dau FROM pdays GROUP BY 1, 2)
       | GROUP BY 1),
       |mau AS (
       | SELECT period, count(*) AS mau FROM (
       |  SELECT DISTINCT period, user_id FROM pdays) GROUP BY 1)
       |SELECT period, n_days, dau_sum, mau,
       | CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_dau,
       | CAST(dau_sum AS DOUBLE)
       |  / (CAST(n_days AS DOUBLE) * CAST(mau AS DOUBLE)) AS stickiness
       |FROM daily JOIN mau USING (period)
       |ORDER BY period""".stripMargin.replace('\n', ' ')
  }
}
