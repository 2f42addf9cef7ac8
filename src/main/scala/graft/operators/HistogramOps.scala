package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Binning + descriptive statistics
  * (`postprocessing/histogram.rs`, `postprocessing/level.rs`).
  *
  * Everything here is generalized per-symbol (the reference operates on one
  * in-memory book at a time; per-symbol grouping is the 100 TB shape).
  *
  * Determinism contract: medians/percentiles are computed MANUALLY with the
  * reference's own interpolation (`percentile_of_sorted`,
  * histogram.rs:370-390: `lo + (hi-lo)*d`), never via engine-specific
  * percentile built-ins, so Spark and DuckDB agree bit-for-bit.
  */
object HistogramOps {

  // ---------------------------------------------------------------- medians

  /** (symbol, out) = pct-percentile of `value` over `df` rows per symbol. */
  def percentileBy(df: DataFrame, value: Column, pct: Double,
      out: String): DataFrame =
    percentilesBy(df, value, Seq(pct -> out))

  /** Several percentiles of the SAME value column, emitted as
    * (symbol, out₁, out₂, …) — an EAGER operator:
    *
    *  - the 2-column (symbol, value) projection is cached for exactly the
    *    passes the chosen plan makes, then unpersisted (scoped cache: no
    *    CacheManager residue across repeated engine calls — round-2 ADVICE);
    *  - inputs up to [[PctWindowMaxRows]] use the per-symbol window-sort
    *    plan (one pass; a "hot-symbol funnel" is irrelevant below this
    *    size), larger inputs the bucketed-rank plan ([[bucketedPlan]]) —
    *    both bit-identical (OperatorPropertySpec proves each against the
    *    scalar `percentile_of_sorted`);
    *  - the per-symbol result (bounded by symbol cardinality, the same
    *    bound that makes the reference's per-book processing feasible) is
    *    materialized into a LocalRelation, so every downstream join against
    *    it is a broadcast and composed operators (madKeep → histogram →
    *    levels) never recompute the percentile subtree.
    */
  def percentilesBy(df: DataFrame, value: Column,
      pcts: Seq[(Double, String)]): DataFrame = {
    val base = df.select(col("symbol"), value.as("_v")).cache()
    try {
      // eager count: populates the cache in ONE pass before the plan's
      // concurrent stages read it, and selects the plan
      val n = base.count()
      val plan =
        if (n <= PctWindowMaxRows) windowPlanOn(base, pcts)
        else bucketedPlanOn(base, pcts)
      localized(plan)
    } finally base.unpersist()
  }

  /** See [[graft.functions.localRelation]] — bounded per-symbol aggregate
    * to LocalRelation. */
  private def localized(df: DataFrame): DataFrame = localRelation(df)

  /** Single-pass per-symbol window-sort percentile plan — the exact
    * `percentile_of_sorted` rank arithmetic over `row_number`. Right for
    * inputs small enough that sorting one symbol in one task is cheaper
    * than the bucketed-rank passes. */
  private def windowPlanOn(base: DataFrame,
      pcts: Seq[(Double, String)]): DataFrame = {
    val ranked = base
      .withColumn("_rn",
        row_number().over(
          Window.partitionBy("symbol").orderBy("_v")) - 1)
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy("symbol")))
    val aggs = pcts.flatMap { case (pct, out) =>
      val lrank = floor(lit(pct / 100.0) * (col("_n") - 1))
      Seq(
        max(when(col("_rn") === lrank, col("_v"))).as(s"_lo_$out"),
        max(when(col("_rn") === lrank + 1, col("_v"))).as(s"_hi_$out"))
    } :+ max(col("_n")).as("_n")
    interpolate(ranked.groupBy("symbol").agg(aggs.head, aggs.tail: _*), pcts)
  }

  /** DISTRIBUTED order-statistics percentile plan (two-pass bucketed
    * rank) — no per-symbol full window sort, so one hot symbol never
    * funnels its whole history through one task:
    *
    *  1. per-symbol min/max/count (one aggregation);
    *  2. equi-width bucket counts over [min,max] ([[PctBuckets]] buckets) +
    *     an exclusive prefix sum over the TINY per-symbol bucket table
    *     (≤ [[PctBuckets]] rows/symbol — bounded, not a funnel) locates the
    *     bucket holding each target rank;
    *  3. only rows inside located buckets (expected n/B per bucket) get a
    *     local `row_number` within (symbol, bucket).
    *
    * Bit-parity with a full sort: IEEE subtraction/division by a constant
    * are monotone, so `floor((v-min)/width)` is nondecreasing in v and
    * bucket-local ranks compose to exact global ranks; equal values always
    * share a bucket. The interpolation `lo + (hi-lo)*d`
    * (`percentile_of_sorted`, histogram.rs:370-390) is unchanged. */
  private def bucketedPlanOn(base: DataFrame,
      pcts: Seq[(Double, String)]): DataFrame = {
    val B = PctBuckets
    val stats = base.groupBy("symbol").agg(
      min(col("_v")).as("_mn"), max(col("_v")).as("_mx"),
      count(lit(1)).as("_n"))
    // two target ranks per percentile: lrank and lrank+1 (the hi neighbor;
    // rank n never matches a bucket -> null, unused when d == 0)
    val targets = stats.select(col("symbol"),
      explode(array(pcts.flatMap { case (pct, out) =>
        val lrank = floor(lit(pct / 100.0) * (col("_n") - 1))
        Seq(
          struct(lrank.cast("long").as("_tr"), lit(s"lo_$out").as("_tag")),
          struct((lrank + 1).cast("long").as("_tr"),
            lit(s"hi_$out").as("_tag")))
      }: _*)).as("_t"))
      .select(col("symbol"), col("_t._tr").as("_tr"), col("_t._tag").as("_tag"))
    val bucketed = base.join(stats.select("symbol", "_mn", "_mx"), "symbol")
      .withColumn("_w", (col("_mx") - col("_mn")) / B)
      .withColumn("_b",
        when(col("_w") > 0.0,
          least(floor((col("_v") - col("_mn")) / col("_w")),
            lit((B - 1).toDouble)))
          .otherwise(0.0).cast("long"))
      .select("symbol", "_v", "_b")
    val bcounts = bucketed.groupBy("symbol", "_b").agg(count(lit(1)).as("_c"))
    val wcum = Window.partitionBy("symbol").orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = bcounts.withColumn("_base",
      coalesce(sum(col("_c")).over(wcum), lit(0L)))
    val located = targets.join(cum, "symbol")
      .where(col("_tr") >= col("_base") && col("_tr") < col("_base") + col("_c"))
    val needed = located.select("symbol", "_b", "_base").distinct()
    val wloc = Window.partitionBy("symbol", "_b").orderBy("_v")
    val ranked = bucketed.join(needed, Seq("symbol", "_b"))
      .withColumn("_r", row_number().over(wloc) - 1 + col("_base"))
    val vals = ranked.select(col("symbol"), col("_r"), col("_v"))
      .join(targets, "symbol")
      .where(col("_r") === col("_tr"))
    val aggs = pcts.flatMap { case (_, out) =>
      Seq(
        max(when(col("_tag") === s"lo_$out", col("_v"))).as(s"_lo_$out"),
        max(when(col("_tag") === s"hi_$out", col("_v"))).as(s"_hi_$out"))
    }
    interpolate(
      vals.groupBy("symbol").agg(aggs.head, aggs.tail: _*)
        .join(stats.select("symbol", "_n"), "symbol"),
      pcts)
  }

  /** `lo + (hi - lo) * d` with `d == 0` short-circuit — the exact
    * `percentile_of_sorted` interpolation (histogram.rs:370-390) over the
    * (_lo_*, _hi_*, _n) columns both plans emit. */
  private def interpolate(df: DataFrame,
      pcts: Seq[(Double, String)]): DataFrame =
    df.select(col("symbol") +: pcts.map { case (pct, out) =>
      interpolated(pct, col("_n"), col(s"_lo_$out"), col(s"_hi_$out"))
        .as(out)
    }: _*)

  /** The pct-percentile of `n` values from its two neighbours at ranks
    * `floor(p·(n−1))` and one above: `lo + (hi − lo)·d`, `lo` itself when
    * `d == 0`. */
  private def interpolated(pct: Double, n: Column, lo: Column,
      hi: Column): Column = {
    val rank = lit(pct / 100.0) * (n - 1)
    val d = rank - floor(rank)
    when(d === 0.0, lo).otherwise(lo + (hi - lo) * d)
  }

  /** Test hooks: the two LAZY percentile plans over an arbitrary input —
    * PlanSpec gates the bucketed plan's window shape (no hot-symbol
    * funnel), OperatorPropertySpec proves each bit-equal to the scalar
    * sorted-rank interpolation. */
  private[graft] def bucketedPlan(df: DataFrame, value: Column,
      pcts: Seq[(Double, String)]): DataFrame =
    bucketedPlanOn(df.select(col("symbol"), value.as("_v")), pcts)
  private[graft] def windowPlan(df: DataFrame, value: Column,
      pcts: Seq[(Double, String)]): DataFrame =
    windowPlanOn(df.select(col("symbol"), value.as("_v")), pcts)

  /** Bucket count for the distributed percentile: expected rows ranked in
    * pass 3 is n/B per located bucket; the per-symbol bucket table (≤ B
    * rows) must stay small enough to prefix-sum cheaply. */
  val PctBuckets = 4096

  /** Inputs at or below this row count take the single-pass window-sort
    * plan; above it, the bucketed-rank plan. Sorting ~10M (symbol, value)
    * pairs in one task is ~1 s — below that the bucketed plan's extra
    * passes cost more than the funnel it avoids. The same
    * adaptive-by-statistics principle as Spark's broadcast-vs-sort-merge
    * join selection; the count is already in hand from the cache-populating
    * pass, so the choice is free. [[stats]] holds a symbol's sorted prices
    * in one task only under the same bound. */
  val PctWindowMaxRows: Long = 10_000_000L

  /** DuckDB twin of [[percentileBy]]: percentile of `valExpr` over
    * `fromRel` (must expose symbol), emitted as (symbol, out). */
  def percentileSql(fromRel: String, valExpr: String, pct: Double,
      out: String): String =
    s"""SELECT symbol, CASE WHEN dd = 0.0 THEN lo ELSE lo + (hi - lo) * dd END AS $out
       |FROM (SELECT symbol,
       |  max(CASE WHEN rn0 = lrank THEN v END) AS lo,
       |  max(CASE WHEN rn0 = lrank + 1 THEN v END) AS hi,
       |  max(d) AS dd
       | FROM (SELECT symbol, v,
       |   row_number() OVER (PARTITION BY symbol ORDER BY v) - 1 AS rn0,
       |   floor($pct / 100.0 * (count(*) OVER (PARTITION BY symbol) - 1)) AS lrank,
       |   $pct / 100.0 * (count(*) OVER (PARTITION BY symbol) - 1)
       |     - floor($pct / 100.0 * (count(*) OVER (PARTITION BY symbol) - 1)) AS d
       |  FROM (SELECT symbol, $valExpr AS v FROM $fromRel))
       | GROUP BY symbol)""".stripMargin.replace('\n', ' ')

  // ------------------------------------------------------- outlier filter

  /** MAD z-score outlier rejection (`reject_outliers`,
    * histogram.rs:93-119): keep p where
    * `(mdev > 0 ? |p-med|/mdev : 0) < m`. Returns the input rows that
    * survive, with `_med`/`_mdev` columns retained for reuse. */
  def madKeep(updates: DataFrame, m: Double): DataFrame = {
    val med = percentileBy(updates, col("price"), 50.0, "_med")
    val withMed = updates.join(med, "symbol")
    val mdev = percentileBy(withMed, abs(col("price") - col("_med")), 50.0,
      "_mdev")
    withMed.join(mdev, "symbol")
      .where(
        when(col("_mdev") > 0.0,
          abs(col("price") - col("_med")) / col("_mdev"))
          .otherwise(lit(0.0)) < m)
  }

  /** DuckDB CTE chain for [[madKeep]] — binds relations `med`, `mdev`,
    * `kept`. */
  def madKeepSql(m: Double): String =
    s"""med AS (${percentileSql("updates", "price", 50.0, "med")}),
       |wm AS (SELECT u.*, med.med FROM updates u JOIN med USING (symbol)),
       |mdev AS (${percentileSql("wm", "abs(price - med)", 50.0, "mdev")}),
       |kept AS (SELECT wm.*, mdev.mdev FROM wm JOIN mdev USING (symbol)
       | WHERE (CASE WHEN mdev > 0.0 THEN abs(price - med) / mdev ELSE 0.0 END) < $m)"""
      .stripMargin.replace('\n', ' ')

  // ------------------------------------------------------------- histogram

  /** Equal-width histogram over MAD-filtered prices
    * (`build_histogram`, histogram.rs:121-158):
    * `bucket = (max-min)/(bins-1)`, `idx = floor((p-min)/bucket)` clamped to
    * bins-1; ALL bins emitted (zero counts included), with their lower
    * boundaries `min + i*bucket`. */
  def histogram(updates: DataFrame, bins: Int, m: Double): DataFrame = {
    // madKeep's _med/_mdev are LocalRelations, so `kept` is one scan plus
    // broadcast joins — cheap to evaluate twice (bounds pass + counts
    // pass); the per-symbol bounds are materialized local so the grid
    // explodes a LocalRelation and the counts join broadcasts, leaving the
    // final plan a single scan of the input. No cache to leak.
    val kept = madKeep(updates, m).select("symbol", "price")
    val bounds = localized(kept.groupBy("symbol")
      .agg(min(col("price")).as("hmin"), max(col("price")).as("hmax"))
      .withColumn("bucket", (col("hmax") - col("hmin")) / (bins - 1)))
    val counts = kept.join(bounds, "symbol")
      .withColumn("bin",
        when(col("bucket") > 0.0,
          least(floor((col("price") - col("hmin")) / col("bucket")),
            lit(bins - 1)).cast("long"))
          .otherwise(0L))
      .groupBy("symbol", "bin").agg(count(lit(1)).as("cnt"))
    val grid = bounds.select(col("symbol"), col("hmin"), col("bucket"),
      explode(sequence(lit(0L), lit((bins - 1).toLong))).as("bin"))
    grid.join(counts, Seq("symbol", "bin"), "left")
      .select(col("symbol"), col("bin"),
        (col("hmin") + col("bin") * col("bucket")).as("boundary"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  def histogramSql(bins: Int, m: Double): String =
    s"""WITH ${madKeepSql(m)},
       |bounds AS (SELECT symbol, min(price) AS hmin, max(price) AS hmax,
       |  (max(price) - min(price)) / ${bins - 1} AS bucket
       | FROM kept GROUP BY symbol),
       |counts AS (SELECT symbol, bin, count(*) AS cnt FROM (
       |  SELECT k.symbol,
       |   CASE WHEN b.bucket > 0.0
       |    THEN least(CAST(floor((k.price - b.hmin) / b.bucket) AS BIGINT), ${bins - 1})
       |    ELSE 0 END AS bin
       |  FROM kept k JOIN bounds b USING (symbol)) GROUP BY 1, 2),
       |grid AS (SELECT symbol, hmin, bucket, unnest(generate_series(0, ${bins - 1})) AS bin
       | FROM bounds)
       |SELECT g.symbol, g.bin, g.hmin + g.bin * g.bucket AS boundary,
       | coalesce(c.cnt, 0) AS cnt
       |FROM grid g LEFT JOIN counts c ON g.symbol = c.symbol AND g.bin = c.bin
       |ORDER BY 1, 2""".stripMargin.replace('\n', ' ')

  /** Uniform time-grid boundaries (`new_boundaries`, histogram.rs:43-64):
    * integer bucket `(max_ts-min_ts)/(step_bins-1)` over epoch SECONDS,
    * boundaries as doubles. */
  def timeBoundaries(updates: DataFrame, stepBins: Int): DataFrame =
    updates
      .select(col("symbol"), tsSeconds(col("ts")).as("tsec"))
      .groupBy("symbol")
      .agg(min(col("tsec")).as("tmin"), max(col("tsec")).as("tmax"))
      .withColumn("tbucket",
        expr(s"(tmax - tmin) div ${stepBins - 1}"))
      .select(col("symbol"), col("tmin"), col("tbucket"),
        explode(sequence(lit(0L), lit((stepBins - 1).toLong))).as("bin"))
      .select(col("symbol"), col("bin"),
        (col("tmin") + col("bin") * col("tbucket")).cast("double")
          .as("boundary"))

  def timeBoundariesSql(stepBins: Int): String =
    s"""SELECT symbol, bin, CAST(tmin + bin * tbucket AS DOUBLE) AS boundary
       |FROM (SELECT symbol, tmin,
       |  (tmax - tmin) // ${stepBins - 1} AS tbucket,
       |  unnest(generate_series(0, ${stepBins - 1})) AS bin
       | FROM (SELECT symbol, min(ts // 1000) AS tmin, max(ts // 1000) AS tmax
       |  FROM updates GROUP BY symbol))
       |ORDER BY symbol, bin""".stripMargin.replace('\n', ' ')

  // ----------------------------------------------------------------- stats

  /** Variance-quantizer scale: the largest power of two `2^k` (k ≤ 26,
    * ≈ the old 1e8 granularity) with `maxdev² · 2^k ≤ 2^53`, so
    * `floor(d² · scale)` is an exactly-representable integer double for
    * every deviation `d ≤ maxdev`. Selected by comparing `maxdev` against
    * exact power-of-two thresholds — comparisons and the scale multiply
    * itself (an exponent shift) are bit-identical in Spark and DuckDB, so
    * the choice and the quantized terms are portable at ANY price scale.
    * Branch `maxdev < 2^(e+1)` → `k = 51 − 2e` (d² < 2^(2e+2), product
    * < 2^53). The ladder covers maxdev < 2^51; the `ELSE 2^-75` tail
    * stays exact to maxdev < 2^64 — beyond that (absurd for prices) the
    * floor argument may exceed 2^53 and the cross-engine guarantee ends
    * (documented bound, was silently ~9.5e3 before). */
  private def vscaleLadder(maxdev: Column): Column =
    (13 to 50).foldLeft(
      when(maxdev < lit(math.pow(2, 13)), lit(math.pow(2, 26)))) {
      (acc, e) =>
        acc.when(maxdev < lit(math.pow(2, e + 1)),
          lit(math.pow(2, 51 - 2 * e)))
    }.otherwise(lit(math.pow(2, -75)))

  /** Any double as a DuckDB DOUBLE literal via the read-back-exact
    * toString round-trip (same trick as TextOps.sqlDouble). */
  private def sqlD(x: Double): String = s"CAST('$x' AS DOUBLE)"

  /** The SQL twin of [[vscaleLadder]] over `b.maxdev` — textually the
    * same exact-power-of-two thresholds and scales. */
  private val vscaleCaseSql: String = {
    val branches = (13 to 50).map { e =>
      s"WHEN b.maxdev < ${sqlD(math.pow(2, e + 1))} " +
        s"THEN ${sqlD(math.pow(2, 51 - 2 * e))}"
    }.mkString(" ")
    s"CASE WHEN b.maxdev < ${sqlD(math.pow(2, 13))} " +
      s"THEN ${sqlD(math.pow(2, 26))} $branches " +
      s"ELSE ${sqlD(math.pow(2, -75))} END"
  }

  /** Full descriptive-stats suite per symbol over `price`
    * (`Stats for [f64]`, histogram.rs:160-366): exact sum, min/max, mean,
    * manual median, TWO-PASS sample variance (the reference's algorithm),
    * stddev(+pct), MAD(+pct, ×1.4826), quartiles, IQR. Decimal accumulation
    * keeps every aggregate bit-exact vs. the oracle.
    *
    * Two plans give bit-identical rows (OperatorPropertySpec):
    *  - [[sortedStats]] when `updates` reads only parquet files whose
    *    footers bound it to at most [[PctWindowMaxRows]] rows
    *    ([[graft.Tables.parquetRowBound]], read on the driver): ONE
    *    `groupBy("symbol")` aggregation collects n, the exact sum, min,
    *    max and the symbol's sorted prices, and reads every other
    *    statistic off that array, the way the reference reads its sorted
    *    slice (`percentile_of_sorted`, histogram.rs:370-390). It launches
    *    no Spark job while it is built. The array holds all of one
    *    symbol's prices inside one task, so the bound keeps it to what
    *    the window-sort percentile plan already sorts in one task;
    *  - [[scanStats]] for every other input (one that reads no parquet
    *    file, that the footers cannot bound, or that is above the bound):
    *    a local per-symbol base aggregate, [[percentilesBy]] for the
    *    quartiles and the MAD, and a variance pass joined to the base.
    *
    * Nulls and NaN follow the window-sort order in both plans. A null
    * price counts in `n` and ranks below every number, so a percentile
    * whose rank lands on it is null; NaN ranks above every number. The
    * exact sum skips NaN (its decimal cast is null), while max is NaN. A
    * zero divisor (`n = 1` for `var`, a zero mean or median for the
    * percentages) gives null, as in the DuckDB twin, not an error. */
  def stats(updates: DataFrame): DataFrame = {
    val fromSorted = graft.Tables.parquetRowBound(updates)
      .exists(_ <= PctWindowMaxRows)
    val per = if (fromSorted) sortedStats(updates) else scanStats(updates)
    per.select(col("symbol"), col("n"), col("sum"), col("min"), col("max"),
      col("mean"), col("median"), variance.as("var"),
      sqrt(variance).as("std_dev"),
      (try_divide(sqrt(variance), col("mean")) * 100.0).as("std_dev_pct"),
      (col("_mdev") * 1.4826).as("mad"),
      (try_divide(col("_mdev") * 1.4826, col("median")) * 100.0)
        .as("mad_pct"),
      col("q1"), col("q3"), (col("q3") - col("q1")).as("iqr"))
  }

  /** n, the exact sum, min and max per symbol. */
  private val baseAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    exactSum(col("price")).as("sum"),
    min(col("price")).as("min"),
    max(col("price")).as("max"))

  /** The mean and the variance quantizer's scale, from [[baseAggs]]. */
  private def withMean(base: DataFrame): DataFrame = base
    .withColumn("mean", col("sum") / col("n"))
    .withColumn("maxdev",
      greatest(col("max") - col("mean"), col("mean") - col("min")))
    .withColumn("vscale", vscaleLadder(col("maxdev")))

  // Determinism contract for the two-pass variance: the squared
  // deviation is an ARBITRARY double, and double→decimal casts are not
  // bit-portable (Spark goes through the shortest decimal repr, DuckDB
  // expands the exact binary value — divergence surfaced at sf0.1 after
  // passing at sf0.01). Quantize each term to the exact INTEGER
  // floor(d²·vscale), sum exactly in wide decimal, divide once. vscale
  // is a per-symbol POWER OF TWO picked by [[vscaleLadder]] so that
  // d²·vscale provably stays ≤ 2^53: the product is a lossless exponent
  // shift, floor() of it is an integer-valued double both engines cast
  // identically — at ANY price scale, not just |dev| ≤ ~9.5e3 as the
  // old fixed 1e8 scale required. The per-term floor shifts var by
  // ≤ n·2^-k/Σ (~1e-12 relative at default granularity), far below
  // statistical meaning; same quantize-then-exact pattern as
  // TextOps.lnQ.
  private def varTerm(price: Column): Column =
    floor((price - col("mean")) * (price - col("mean")) * col("vscale"))
      .cast("decimal(38,0)")

  /** The sample variance from the exact sum of [[varTerm]]s, `_vsum`. */
  private def variance: Column =
    try_divide(col("_vsum").cast("double") / col("vscale"), col("n") - 1)

  /** [[stats]]' per-symbol columns from one aggregation over a bounded
    * input. `_s` holds the symbol's non-null prices sorted as the window
    * plan sorts them; its `_k = n − size(_s)` nulls rank first, so the
    * value at rank r is `_s[r − _k]`, and `get` gives null below `_k`
    * (a null price) and past the end (the unused `hi` at rank n). */
  private def sortedStats(updates: DataFrame): DataFrame = {
    def pct(sorted: Column, p: Double): Column = {
      val lrank = floor(lit(p / 100.0) * (col("n") - 1))
      def at(r: Column) = get(sorted, (r - col("_k")).cast("int"))
      interpolated(p, col("n"), at(lrank), at(lrank + 1))
    }
    // no price is null in `_s`, and a non-null mean makes every term
    // non-null, so this fold is the null-skipping decimal `sum` of the
    // scan plan; a null mean (no price with a decimal cast) gives null
    val vsum = aggregate(col("_s"), lit(0).cast("decimal(38,0)"),
      (acc, x) => (acc + varTerm(x)).cast("decimal(38,0)"))
    withMean(updates.where(col("symbol").isNotNull).groupBy("symbol")
      .agg(baseAggs.head,
        baseAggs.tail :+ sort_array(collect_list(col("price"))).as("_s"): _*))
      .withColumn("_k", col("n") - size(col("_s")))
      .withColumn("median", pct(col("_s"), 50.0))
      .withColumn("q1", pct(col("_s"), 25.0))
      .withColumn("q3", pct(col("_s"), 75.0))
      .withColumn("_vsum", when(col("mean").isNotNull, vsum))
      .withColumn("_mdev", pct(
        sort_array(transform(col("_s"), x => abs(x - col("median")))), 50.0))
  }

  /** [[stats]]' per-symbol columns for any input: the per-symbol base
    * aggregate is materialized local (consumed by the variance pass AND
    * the final join — recomputing the scan twice is the alternative,
    * caching it a leak); q1/median/q3 share one sorted pass. */
  private def scanStats(updates: DataFrame): DataFrame = {
    val base = localized(withMean(
      updates.groupBy("symbol").agg(baseAggs.head, baseAggs.tail: _*)))
    val quartiles = percentilesBy(updates, col("price"),
      Seq(25.0 -> "q1", 50.0 -> "median", 75.0 -> "q3"))
    val vsum = updates
      .join(base.select(col("symbol"), col("mean"), col("vscale")), "symbol")
      .groupBy("symbol").agg(sum(varTerm(col("price"))).as("_vsum"))
    val mdev = percentileBy(
      updates.join(quartiles.select("symbol", "median"), "symbol"),
      abs(col("price") - col("median")), 50.0, "_mdev")
    base.join(quartiles, "symbol").join(vsum, "symbol").join(mdev, "symbol")
  }

  val statsSql: String =
    s"""WITH base AS (SELECT symbol, count(*) AS n,
       |  CAST(SUM(CAST(price AS DECIMAL(30,4))) AS DOUBLE) AS sum,
       |  min(price) AS min, max(price) AS max,
       |  CAST(SUM(CAST(price AS DECIMAL(30,4))) AS DOUBLE) / count(*) AS mean
       | FROM updates GROUP BY symbol),
       |basev AS (SELECT b.*, $vscaleCaseSql AS vscale
       | FROM (SELECT *,
       |   greatest(max - mean, mean - min) AS maxdev FROM base) b),
       |med AS (${percentileSql("updates", "price", 50.0, "median")}),
       |q1 AS (${percentileSql("updates", "price", 25.0, "q1")}),
       |q3 AS (${percentileSql("updates", "price", 75.0, "q3")}),
       |vr AS (SELECT u.symbol,
       |  CAST(SUM(CAST(floor(
       |    (u.price - b.mean) * (u.price - b.mean) * b.vscale)
       |    AS HUGEINT)) AS DOUBLE) / max(b.vscale) / (count(*) - 1) AS var
       | FROM updates u JOIN basev b USING (symbol) GROUP BY u.symbol),
       |wmed AS (SELECT u.*, med.median FROM updates u JOIN med USING (symbol)),
       |mdev AS (${percentileSql("wmed", "abs(price - median)", 50.0, "mdev")})
       |SELECT b.symbol, b.n, b.sum, b.min, b.max, b.mean, med.median, vr.var,
       | sqrt(vr.var) AS std_dev,
       | sqrt(vr.var) / b.mean * 100.0 AS std_dev_pct,
       | mdev.mdev * 1.4826 AS mad,
       | mdev.mdev * 1.4826 / med.median * 100.0 AS mad_pct,
       | q1.q1, q3.q3, q3.q3 - q1.q1 AS iqr
       |FROM base b JOIN med USING (symbol) JOIN q1 USING (symbol)
       | JOIN q3 USING (symbol) JOIN vr USING (symbol) JOIN mdev USING (symbol)
       |ORDER BY symbol""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------- levels

  /** Levels transpose (`postprocessing/level.rs:23-49`): bin price by the
    * MAD-filtered histogram, bin time by the uniform grid, last write per
    * cell wins by `(ts,seq)`. Values outside the boundary range (outliers,
    * the max row) drop out — `to_bin` None semantics. Time bin is truncated
    * to integer (the reference stores it `as u32`). */
  def levels(updates: DataFrame, stepBins: Int, tickBins: Int,
      m: Double): DataFrame = {
    val kept = madKeep(updates, m)
    // bin parameters are per-symbol scalars: local → broadcast joins below
    val bounds = localized(kept.groupBy("symbol")
      .agg(min(col("price")).as("hmin"), max(col("price")).as("hmax"))
      .withColumn("bucket", (col("hmax") - col("hmin")) / (tickBins - 1)))
    val tbounds = localized(updates
      .select(col("symbol"), tsSeconds(col("ts")).as("tsec"))
      .groupBy("symbol")
      .agg(min(col("tsec")).as("tmin"), max(col("tsec")).as("tmax"))
      .withColumn("tbucket", expr(s"(tmax - tmin) div ${stepBins - 1}")))
    updates.join(bounds, "symbol").join(tbounds, "symbol")
      .withColumn("pidx",
        when(col("bucket") > 0.0,
          floor((col("price") - col("hmin")) / col("bucket")))
          .otherwise(0L))
      .withColumn("tidx",
        expr("(ts div 1000 - tmin) div tbucket"))
      .where(col("pidx").between(0, tickBins - 2) &&
        col("tidx").between(0, stepBins - 2))
      .withColumn("price_bin", col("hmin") + col("pidx") * col("bucket"))
      .withColumn("time_bin",
        (col("tmin") + col("tidx") * col("tbucket")).cast("long"))
      .groupBy("symbol", "price_bin", "time_bin")
      .agg(orderedLast(col("size"), col("ts"), col("seq")).as("size"))
  }

  /** Matrix form of [[levels]] (`level.rs` is consumed as a
    * price × time grid): one row per (symbol, price_bin), one column per
    * time bin. Presentation-shaped — the pivot collects the (bounded:
    * stepBins-1) time-bin domain; use [[levels]] for relational output. */
  def levelsMatrix(updates: DataFrame, stepBins: Int, tickBins: Int,
      m: Double): DataFrame =
    levels(updates, stepBins, tickBins, m)
      .groupBy("symbol", "price_bin")
      .pivot("time_bin")
      .agg(first(col("size")))

  def levelsSql(stepBins: Int, tickBins: Int, m: Double): String =
    s"""WITH ${madKeepSql(m)},
       |bounds AS (SELECT symbol, min(price) AS hmin, max(price) AS hmax,
       |  (max(price) - min(price)) / ${tickBins - 1} AS bucket
       | FROM kept GROUP BY symbol),
       |tbounds AS (SELECT symbol, min(ts // 1000) AS tmin, max(ts // 1000) AS tmax,
       |  (max(ts // 1000) - min(ts // 1000)) // ${stepBins - 1} AS tbucket
       | FROM updates GROUP BY symbol),
       |binned AS (SELECT u.symbol, u.size, u.ts, u.seq,
       |  CASE WHEN b.bucket > 0.0 THEN CAST(floor((u.price - b.hmin) / b.bucket) AS BIGINT)
       |       ELSE 0 END AS pidx,
       |  (u.ts // 1000 - t.tmin) // t.tbucket AS tidx,
       |  b.hmin, b.bucket, t.tmin, t.tbucket
       | FROM updates u JOIN bounds b USING (symbol) JOIN tbounds t USING (symbol))
       |SELECT symbol, hmin + pidx * bucket AS price_bin,
       | CAST(tmin + tidx * tbucket AS BIGINT) AS time_bin,
       | last(size ORDER BY ts, seq) AS size
       |FROM binned
       |WHERE pidx BETWEEN 0 AND ${tickBins - 2} AND tidx BETWEEN 0 AND ${stepBins - 2}
       |GROUP BY 1, 2, 3 ORDER BY symbol, price_bin, time_bin"""
      .stripMargin.replace('\n', ' ')
}
