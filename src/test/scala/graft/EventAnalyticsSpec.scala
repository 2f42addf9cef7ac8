package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics

/** The clickstream family against hand-computed fixtures: session
  * boundary semantics (strict `diff >= gap` split, exact-gap edge,
  * same-timestamp ties), funnel chain breaks and horizon clipping,
  * retention's offset-0 ≡ cohort-size invariant, and transition rows
  * normalizing to 1 per from-type. The registry gates cross-check the
  * same plans against DuckDB on the driver data; these pin the
  * semantics on inputs small enough to verify by hand. */
class EventAnalyticsSpec extends SparkSpec {

  /** (event_id, us, user_id, event_type, value) → events-table frame.
    * Timestamps are built from epoch micros so the expected integer
    * `tsu` values are the literals below. */
  private def eventsDf(
      rows: Seq[(Long, Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value")
  }

  private val M = 60L * 1000000L // one minute in micros

  test("sessionize: exact-gap diff splits, sub-gap diff joins") {
    val gapUs = 1800L * 1000000L
    val df = eventsDf(Seq(
      (1L, 0L, 7L, "view", 1.5),
      (2L, gapUs - 1, 7L, "click", 2.0), // strictly inside -> same
      (3L, 2 * gapUs - 1 + 0L, 7L, "view", 0.25), // diff == gap -> split
      (4L, 2 * gapUs, 7L, "purchase", 0.0))) // diff 1us -> same
    val out = EventAnalytics.sessionize(df).collect()
    assert(out.length === 2)
    val s1 = out(0)
    assert(s1.getAs[Long]("session_idx") === 1L)
    assert(s1.getAs[Long]("session_start") === 0L)
    assert(s1.getAs[Long]("session_end") === gapUs - 1)
    assert(s1.getAs[Long]("n_events") === 2L)
    assert(s1.getAs[Long]("value_q") === 3500000L)
    val s2 = out(1)
    assert(s2.getAs[Long]("session_idx") === 2L)
    assert(s2.getAs[Long]("n_events") === 2L)
    assert(s2.getAs[Long]("duration_us") === 1L)
    assert(s2.getAs[Long]("value_q") === 250000L)
  }

  test("sessionize: same-timestamp ties stay in one session") {
    val df = eventsDf(Seq(
      (2L, 100L, 1L, "view", 0.0), // ids out of insertion order:
      (1L, 100L, 1L, "view", 0.0), // the (tsu, event_id) tiebreak
      (3L, 100L, 1L, "view", 0.0))) // must not split a tie group
    val out = EventAnalytics.sessionize(df).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_events") === 3L)
    assert(out(0).getAs[Long]("duration_us") === 0L)
  }

  test("funnel: full chain, strict-after, horizon clip, chain break") {
    val steps = Seq("view", "click", "purchase")
    val horizon = 7L * 86400 // seconds
    val hUs = horizon * 1000000L
    val df = eventsDf(Seq(
      // u1: completes in order
      (1L, 0L, 1L, "view", 0.0),
      (2L, M, 1L, "click", 0.0),
      (3L, 2 * M, 1L, "purchase", 0.0),
      // u2: purchase BEFORE click -> chain breaks at step 3
      (4L, 0L, 2L, "view", 0.0),
      (5L, 2 * M, 2L, "click", 0.0),
      (6L, M, 2L, "purchase", 0.0),
      // u3: click at exactly t1 (not strictly after) -> stuck at step 1
      (7L, 5L * M, 3L, "view", 0.0),
      (8L, 5L * M, 3L, "click", 0.0),
      // u4: click beyond the horizon -> stuck at step 1
      (9L, 0L, 4L, "view", 0.0),
      (10L, hUs + 1, 4L, "click", 0.0),
      // u5: never views -> absent
      (11L, 0L, 5L, "click", 0.0)))
    val out = EventAnalytics.funnel(df, steps, horizon).collect()
    assert(out.map(_.getAs[Long]("user_id")).toSeq === Seq(1L, 2L, 3L, 4L))
    val byUser = out.map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(byUser(1L).getAs[Long]("max_step") === 3L)
    assert(byUser(1L).getAs[Long]("t3") === 2 * M)
    assert(byUser(2L).getAs[Long]("max_step") === 2L)
    assert(byUser(2L).isNullAt(byUser(2L).fieldIndex("t3")))
    assert(byUser(3L).getAs[Long]("max_step") === 1L)
    assert(byUser(4L).getAs[Long]("max_step") === 1L)
  }

  test("funnel: horizon measured from step 1, not the previous step") {
    val steps = Seq("view", "click", "purchase")
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "view", 0.0),
      (2L, 6L * 86400000000L, 1L, "click", 0.0),
      // 8 days after the view: within 7d of the CLICK but not the view
      (3L, 8L * 86400000000L, 1L, "purchase", 0.0)))
    val out = EventAnalytics.funnel(df, steps).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("max_step") === 2L)
  }

  test("retention: offset 0 is the cohort size; fractions exact") {
    val week = 7L * 86400000000L
    val df = eventsDf(Seq(
      // cohort 0: users 1,2 in week 0; user 1 returns week 1
      (1L, 0L, 1L, "view", 0.0),
      (2L, 1L, 2L, "view", 0.0),
      (3L, week + 5L, 1L, "click", 0.0),
      // cohort 1: user 3 first appears week 1
      (4L, week + 9L, 3L, "view", 0.0)))
    val out = EventAnalytics.retentionCohorts(df).collect()
    val rows = out.map(r => (r.getAs[Long]("cohort"),
      r.getAs[Long]("offset"), r.getAs[Long]("n_users"),
      r.getAs[Long]("cohort_size"), r.getAs[Double]("retained_frac")))
    assert(rows.toSeq === Seq(
      (0L, 0L, 2L, 2L, 1.0),
      (0L, 1L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0)))
  }

  test("retention: one row per (user, period) even with many events") {
    val df = eventsDf((1L to 6L).map(i => (i, i, 1L, "view", 0.0)))
    val out = EventAnalytics.retentionCohorts(df).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_users") === 1L)
  }

  test("transitions: per-user ordered pairs; p sums to 1 per from-type") {
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "a", 0.0),
      (4L, 0L, 2L, "a", 0.0), (5L, M, 2L, "a", 0.0)))
    val out = EventAnalytics.transitions(df).collect()
    val rows = out.map(r => (r.getAs[String]("event_type"),
      r.getAs[String]("next_type"), r.getAs[Long]("n")))
    // u1: a->b, b->a; u2: a->a. No cross-user pair (u1's last a never
    // transitions into u2's first a).
    assert(rows.toSeq === Seq(("a", "a", 1L), ("a", "b", 1L), ("b", "a", 1L)))
    val byFrom = out.groupBy(_.getAs[String]("event_type"))
    byFrom.values.foreach { rs =>
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-15)
    }
  }

  test("sessionPaths: ordered, truncated, session-split, tie-broken") {
    val gapUs = 1800L * 1000000L
    val df = eventsDf(
      // u1 session 1: 10 events a,b,a,b,... -> path truncates at 8
      (1 to 10).map(i => (i.toLong, i * M, 1L,
        if (i % 2 == 1) "a" else "b", 0.0)) ++ Seq(
        // u1 session 2 (after the gap): single "c" -> path "c"
        (11L, 10 * M + gapUs, 1L, "c", 0.0),
        // u2: same-timestamp tie ordered by event_id: b(12) before
        // c(13) is FALSE — event_id 12 carries "c", 13 carries "b",
        // so the path must be c>b (id order, not insertion order)
        (13L, 0L, 2L, "b", 0.0),
        (12L, 0L, 2L, "c", 0.0),
        // u3: single "c" -> second "c" path; count 2 beats a>b... ties
        (14L, 0L, 3L, "c", 0.0)))
    val out = EventAnalytics.sessionPaths(df).collect()
    val paths = out.map(r => (r.getAs[String]("path"),
      r.getAs[Long]("n_sessions"))).toSeq
    // "c" twice (u1 s2 + u3); truncated 8-step path once; c>b once —
    // ordered by count desc then path asc
    assert(paths === Seq(
      ("c", 2L),
      ("a>b>a>b>a>b>a>b", 1L),
      ("c>b", 1L)))
  }

  test("bounceRate: period grid on session_start; exact division") {
    val week = 7L * 86400L * 1000000L
    val df = eventsDf(Seq(
      // period 0: u1 bounces (1 event), u2 doesn't (2 events)
      (1L, 0L, 1L, "view", 0.0),
      (2L, 0L, 2L, "view", 0.0), (3L, M, 2L, "click", 0.0),
      // period 3: u1 again, one bounce session
      (4L, 3 * week + M, 1L, "view", 0.0)))
    val out = EventAnalytics.bounceRate(df).collect()
    val rows = out.map(r => (r.getAs[Long]("period"),
      r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounce"),
      r.getAs[Double]("bounce_rate"))).toSeq
    assert(rows === Seq((0L, 2L, 1L, 0.5), (3L, 1L, 1L, 1.0)))
  }

  test("dwellPercentiles: equals the scalar percentile_of_sorted replay") {
    val df = eventsDf(Seq(
      // u1 on "a": dwells 1M, 3M (to the b), u2 on "a": 2M
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "a", 0.0),
      (3L, 4 * M, 1L, "b", 0.0), (4L, 10 * M, 1L, "b", 0.0),
      (5L, 0L, 2L, "a", 0.0), (6L, 2 * M, 2L, "a", 0.0)))
    def pct(sorted: Seq[Double], p: Double): Double = {
      val rank = p / 100.0 * (sorted.length - 1)
      val (lo, d) = (math.floor(rank).toInt, rank - math.floor(rank))
      if (d == 0.0) sorted(lo)
      else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * d
    }
    // "a" dwells: u1 1m, 3m; u2 2m; "b": u1 6m (b->b); last events none
    val aD = Seq(1.0 * M, 3.0 * M, 2.0 * M).sorted
    val out = EventAnalytics.dwellPercentiles(df).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("p25"), r.getAs[Double]("p50"),
          r.getAs[Double]("p75")))).toMap
    assert(out("a") === ((pct(aD, 25), pct(aD, 50), pct(aD, 75))))
    assert(out("b") === ((6.0 * M, 6.0 * M, 6.0 * M)))
  }

  test("rfm: boundary ties score into the lower tercile; code packs") {
    // three users with frequencies 1, 2, 3: terciles of (1,2,3) put
    // b1 ≈ 1.67, b2 ≈ 2.33 -> scores 1, 2, 3; same for the other dims
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 1.0),
      (2L, 0L, 2L, "a", 1.0), (3L, M, 2L, "a", 1.0),
      (4L, 0L, 3L, "a", 1.0), (5L, M, 3L, "a", 1.0),
      (6L, 2 * M, 3L, "a", 1.0)))
    val out = EventAnalytics.rfm(df).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("f_score"), r.getAs[Long]("m_score"),
          r.getAs[Long]("rfm_code")))).toMap
    assert(out(1L)._1 === 1L); assert(out(2L)._1 === 2L)
    assert(out(3L)._1 === 3L)
    // monetary tracks frequency here (value 1.0 each)
    assert(out.values.map(_._2).toSeq.sorted === Seq(1L, 2L, 3L))
    out.foreach { case (_, (f, m, code)) =>
      assert(code % 10 === m && (code / 10) % 10 === f)
    }
  }

  test("eventLift: counts, support, and lift are the exact expressions") {
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 0L, 2L, "a", 0.0),
      (4L, 0L, 3L, "a", 0.0), (5L, M, 3L, "b", 0.0),
      (6L, 2 * M, 3L, "b", 0.0))) // dup (u3,b) collapses in distinct
    val out = EventAnalytics.eventLift(df).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[String]("type_a"), r.getAs[String]("type_b")) ===
      (("a", "b")))
    assert(r.getAs[Long]("n_ab") === 2L)
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("n_users") === 3L)
    assert(r.getAs[Double]("support") === 2.0 / 3.0)
    assert(r.getAs[Double]("lift") === (2.0 * 3.0) / (3.0 * 2.0))
  }

  test("abTest: zero variance in both groups yields NULL z, not " +
      "±Inf/NaN (ADVICE r11)") {
    // every user has the same value sum -> both group variances are 0,
    // the standard error is 0, and the documented degenerate contract
    // is NULL (the SQL twin spells the identical guard)
    val df = eventsDf((1L to 8L).map(u =>
      (u, u * M, u, "view", 2.5)))
    val row = EventAnalytics.abTest(df).head()
    assert(row.getAs[Long]("n_a") > 0L && row.getAs[Long]("n_b") > 0L,
      "fixture must populate both variants")
    assert(row.isNullAt(row.fieldIndex("z")),
      s"degenerate z not null: $row")
  }

  test("funnel: repeated step types are rejected loudly in batch " +
      "(the streaming twin's indexOf could never advance past the " +
      "first occurrence)") {
    val df = eventsDf(Seq((1L, 0L, 7L, "view", 0.0)))
    val ex = intercept[IllegalArgumentException] {
      EventAnalytics.funnel(df, Seq("view", "view", "purchase"))
    }
    assert(ex.getMessage.contains("distinct"))
  }

  test("typePagerank: symmetric cycle equalizes, hubs rank highest, " +
      "mass ~conserved, type-cardinality guard raises loud") {
    import graft.operators.EventAnalytics
    // a <-> b two-cycle: perfectly symmetric, so ranks are equal and
    // (strongly connected) total mass stays ~1 up to the floor leak
    val sym = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 0L, 2L, "b", 0.0), (4L, M, 2L, "a", 0.0)))
    val r = EventAnalytics.typePagerank(sym).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("a", "b"))
    assert(r("a") === r("b"), "symmetric graph must equalize ranks")
    assert(math.abs(r.values.sum - 1.0) < 1e-6,
      s"mass not conserved: ${r.values.sum}")
    // hub: a->b, c->b, b->a — b collects two sources, c collects none
    // (the teleport floor only)
    val hub = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 0L, 2L, "c", 0.0), (4L, M, 2L, "b", 0.0),
      (5L, 0L, 3L, "b", 0.0), (6L, M, 3L, "a", 0.0)))
    val rh = EventAnalytics.typePagerank(hub).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(rh("b") > rh("a") && rh("a") > rh("c"),
      s"hub ordering wrong: $rh")
    assert(math.abs(rh("c") - 0.15 / 3.0) < 1e-12,
      "sourceless node must sit at the teleport floor")
    // the S^2-edge-collect guard fails loud past the type bound
    val many = eventsDf((1L to 12L).flatMap(u =>
      Seq((u * 2, 0L, u, s"t$u", 0.0), (u * 2 + 1, M, u, s"u$u", 0.0))))
    val ex = intercept[IllegalStateException] {
      EventAnalytics.typePagerank(many, maxTypes = 10)
    }
    assert(ex.getMessage.contains("maxTypes"))
  }

  test("markovAttribution: planted journeys with hand-computed " +
      "removal effects; post-conversion events out of scope") {
    // user 1: a -> b -> purchase (then c, AFTER conversion — must be
    //         out of scope entirely, so 'c' is never a channel)
    // user 2: a, never converts         -> a -> NULL
    // user 3: b -> purchase
    // user 4: purchase as the VERY FIRST event -> START -> CONV
    // Edge table: START->a n=2, START->b n=1, START->CONV n=1
    //             (outn START=4); a->b n=1, a->NULL n=1 (outn a=2);
    //             b->CONV n=2 (outn b=2).
    // Truncated-absorption fixpoint (converges by iteration 3,
    // iterations=20), scale S=1e12, floor division per edge:
    //   pq(b)=S; pq(a)=floor(S/2)=5e11
    //   pq_full(START)=floor(2*5e11/4)+floor(S/4)+floor(S/4)=75e10
    //   remove a: START=0+25e10+25e10=5e11 -> drop 25e10
    //   remove b: pq(a)=0 -> START=0+0+25e10=25e10 -> drop 5e11
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "purchase", 0.0), (4L, 3 * M, 1L, "c", 0.0),
      (5L, 0L, 2L, "a", 0.0),
      (6L, 0L, 3L, "b", 0.0), (7L, M, 3L, "purchase", 0.0),
      (8L, 0L, 4L, "purchase", 0.0)))
    val out = EventAnalytics.markovAttribution(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val S = 1000000000000L
    assert(out === Array(
      ("a", 3 * S / 4, S / 2, S / 4,
        (S / 4).toDouble / (3 * S / 4).toDouble,
        (S / 4).toDouble / (3 * S / 4).toDouble),
      ("b", 3 * S / 4, S / 4, S / 2,
        (S / 2).toDouble / (3 * S / 4).toDouble,
        (S / 2).toDouble / (3 * S / 4).toDouble)))
  }

  test("markovAttribution: reserved-state and sentinel collisions " +
      "raise loud BEFORE the chain is built; maxTypes; convType") {
    // a feed with a literal CONV event type must raise (previously a
    // tautological guard let it silently merge with the absorbing
    // state — ADVICE r12)
    Seq("CONV", "START", "NULL", "__full__").foreach { bad =>
      val df = eventsDf(Seq(
        (1L, 0L, 1L, bad, 0.0), (2L, M, 1L, "purchase", 0.0)))
      val ex = intercept[IllegalStateException] {
        EventAnalytics.markovAttribution(df)
      }
      assert(ex.getMessage.contains("collide") &&
        ex.getMessage.contains(bad), s"$bad: ${ex.getMessage}")
    }
    // the type-cardinality guard raises at N+1 (3 types, bound 2)
    val many = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "purchase", 0.0)))
    val ex = intercept[IllegalStateException] {
      EventAnalytics.markovAttribution(many, maxTypes = 2)
    }
    assert(ex.getMessage.contains("maxTypes"))
    // but passes at exactly N
    assert(EventAnalytics.markovAttribution(many, maxTypes = 3)
      .count() > 0)
    // convType is interpolated into the twin's SQL literal — both
    // surfaces reject a quote-bearing name identically
    intercept[IllegalArgumentException] {
      EventAnalytics.markovAttribution(many, convType = "x'y")
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.markovAttributionSql(convType = "x'y")
    }
  }

  test("chainHittingTime: hand-computed expected steps on the markov " +
      "fixture; guards raise loud") {
    // same journeys as the markov fixture -> same edge table:
    //   START->a n=2, START->b n=1, START->CONV n=1 (outn START=4);
    //   a->b n=1, a->NULL n=1 (outn a=2); b->CONV n=2 (outn b=2).
    // Truncated hitting times (scale 1e9, converges by iteration 3):
    //   h(b) = 1e9; h(a) = 1e9 + floor(1e9/2) = 1.5e9
    //   h(START) = 1e9 + floor(2*1.5e9/4) + floor(1e9/4) = 2e9
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "purchase", 0.0), (4L, 3 * M, 1L, "c", 0.0),
      (5L, 0L, 2L, "a", 0.0),
      (6L, 0L, 3L, "b", 0.0), (7L, M, 3L, "purchase", 0.0),
      (8L, 0L, 4L, "purchase", 0.0)))
    val out = EventAnalytics.chainHittingTime(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out === Array(
      ("START", 2000000000L, 2.0),
      ("a", 1500000000L, 1.5),
      ("b", 1000000000L, 1.0)))
    // reserved-state collision raises loud before the chain is built
    Seq("CONV", "START", "NULL").foreach { bad =>
      val clash = eventsDf(Seq(
        (1L, 0L, 1L, bad, 0.0), (2L, M, 1L, "purchase", 0.0)))
      val ex = intercept[IllegalStateException] {
        EventAnalytics.chainHittingTime(clash)
      }
      assert(ex.getMessage.contains("collide"), s"$bad: ${ex.getMessage}")
    }
    intercept[IllegalStateException] {
      EventAnalytics.chainHittingTime(df, maxTypes = 2)
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.chainHittingTimeSql(convType = "x'y")
    }
  }

  test("shapleyAttribution: hand-computed 2-channel lattice; " +
      "efficiency; guards raise loud") {
    // user 1: a -> purchase            -> coalition {a}, converted
    // user 2: a -> b -> purchase       -> coalition {a,b}, converted
    // user 3: b, never converts        -> coalition {b}, not
    // user 4: purchase first (empty coalition, out of the game)
    // v (zeta): v({a})=1, v({b})=0, v({a,b})=2
    // phi_a*2! = 0!1!(v(a)-v({}))+1!0!(v(ab)-v(b)) = 1 + 2 = 3
    // phi_b*2! = 0!1!(v(b)-v({}))+1!0!(v(ab)-v(a)) = 0 + 1 = 1
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "purchase", 0.0),
      (3L, 0L, 2L, "a", 0.0), (4L, M, 2L, "b", 0.0),
      (5L, 2 * M, 2L, "purchase", 0.0),
      (6L, 0L, 3L, "b", 0.0),
      (7L, 0L, 4L, "purchase", 0.0)))
    val out = EventAnalytics.shapleyAttribution(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out === Array(
      ("a", 2L, 3L, 1.5, 0.75),
      ("b", 2L, 1L, 0.5, 0.25)))
    // efficiency: shapley values sum to the conversions in the game
    assert(out.map(_._4).sum === 2.0)
    // the coalition-lattice guard raises at n+1 channels, passes at n
    val ex = intercept[IllegalStateException] {
      EventAnalytics.shapleyAttribution(df, maxChannels = 1)
    }
    assert(ex.getMessage.contains("maxChannels"))
    assert(EventAnalytics.shapleyAttribution(df, maxChannels = 2)
      .count() === 2L)
    intercept[IllegalArgumentException] {
      EventAnalytics.shapleyAttributionSql(convType = "x'y")
    }
    // a feed with NO pre-conversion touches yields the empty frame
    val none = eventsDf(Seq((1L, 0L, 1L, "purchase", 0.0)))
    assert(EventAnalytics.shapleyAttribution(none).count() === 0L)
  }

  test("shapleyAttribution: a type-rich feed raises the maxChannels " +
      "guard BEFORE the coalition collect (r13 verdict: the collect " +
      "is bounded by min(#users, 2^T) and must never run unguarded)") {
    // 15 pre-conversion channel types across 3 users with default
    // maxChannels=12: the guard must fire off the tiny distinct-type
    // take, and the coalition collect must never launch a job
    val rows = (0 until 15).map { i =>
      (i.toLong + 1L, i.toLong * M, (i % 3).toLong + 1L, s"ch$i", 0.0)
    } ++ Seq((100L, 100L * M, 1L, "purchase", 0.0))
    val df = eventsDf(rows)
    val (_, seen) = jobsDuring {
      val ex = intercept[IllegalStateException] {
        EventAnalytics.shapleyAttribution(df)
      }
      assert(ex.getMessage.contains("maxChannels"))
    }
    assert(seen.nonEmpty, "the guard's take job was never observed")
    assert(!seen.exists(_.startsWith("collect at")),
      s"coalition collect launched before the guard: $seen")
  }

  test("positionAttribution: U-shape splits with the exact remainder " +
      "convention; journeys each sum to exactly 1e6") {
    // u1: a           -> a = 1e6 (single touch)
    // u2: a b         -> 500000 each (no middles)
    // u3: a b c       -> 400000 / 200000 / 400000
    // u4: a b c d e   -> 400000 / 66667 / 66667 / 66666 / 400000
    //                    (200000 = 3*66666 + 2: earliest 2 middles +1)
    // u5: f, never converts -> no credit, channel absent
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "purchase", 0.0),
      (3L, 0L, 2L, "a", 0.0), (4L, M, 2L, "b", 0.0),
      (5L, 2 * M, 2L, "purchase", 0.0),
      (6L, 0L, 3L, "a", 0.0), (7L, M, 3L, "b", 0.0),
      (8L, 2 * M, 3L, "c", 0.0), (9L, 3 * M, 3L, "purchase", 0.0),
      (10L, 0L, 4L, "a", 0.0), (11L, M, 4L, "b", 0.0),
      (12L, 2 * M, 4L, "c", 0.0), (13L, 3 * M, 4L, "d", 0.0),
      (14L, 4 * M, 4L, "e", 0.0), (15L, 5 * M, 4L, "purchase", 0.0),
      (16L, 0L, 5L, "f", 0.0)))
    val out = EventAnalytics.positionAttribution(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val expected = Map(
      "a" -> 2300000L, "b" -> 766667L, "c" -> 466667L,
      "d" -> 66666L, "e" -> 400000L)
    assert(out.keySet === expected.keySet, "non-converter leaked in")
    expected.foreach { case (ch, q) =>
      assert(out(ch)._2 === q, s"$ch credit_q")
      assert(out(ch)._3 === q.toDouble / 1e6)
      assert(out(ch)._4 === q.toDouble / 4000000.0, s"$ch share")
    }
    // journeys sum to exactly 1e6 each -> total = #converters * 1e6
    assert(expected.values.sum === 4000000L)
  }

  test("touchAttribution: first/last/linear credits with the exact " +
      "remainder convention; all three models total identically") {
    // u1: a (m=1); u2: a b (m=2); u3: a b c (m=3, r=1 -> a +1)
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "purchase", 0.0),
      (3L, 0L, 2L, "a", 0.0), (4L, M, 2L, "b", 0.0),
      (5L, 2 * M, 2L, "purchase", 0.0),
      (6L, 0L, 3L, "a", 0.0), (7L, M, 3L, "b", 0.0),
      (8L, 2 * M, 3L, "c", 0.0), (9L, 3 * M, 3L, "purchase", 0.0)))
    val out = EventAnalytics.touchAttribution(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") === ((3000000L, 1000000L, 1833334L)))
    assert(out("b") === ((0L, 1000000L, 833333L)))
    assert(out("c") === ((0L, 1000000L, 333333L)))
    // each model's credits sum to converters * 1e6
    assert(out.values.map(_._1).sum === 3000000L)
    assert(out.values.map(_._2).sum === 3000000L)
    assert(out.values.map(_._3).sum === 3000000L)
  }

  test("timeDecayAttribution: halving ladder, exact journey shares, " +
      "39-cap floors the weight at 1 (never 0)") {
    // halflife = 1 minute. u1: a at 0, b at M, conv at 2M ->
    //   w(a) = 1e12 DIV 4, w(b) = 1e12 DIV 2; shares 333333 / 666666
    // u2: c at the conversion's own timestamp (earlier event_id) ->
    //   k = 0, sole touch, share 1e6
    // u3: d 100 half-lives out -> k caps at 39, w = 1 -> still the
    //   sole touch, share 1e6 (a zero weight would 0-divide)
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "purchase", 0.0),
      (4L, 0L, 2L, "c", 0.0), (5L, 0L, 2L, "purchase", 0.0),
      (6L, 0L, 3L, "d", 0.0), (7L, 100 * M, 3L, "purchase", 0.0)))
    val out = EventAnalytics.timeDecayAttribution(df,
        halflifeMicros = M).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(out("a")._1 === 333333L)
    assert(out("b")._1 === 666666L)
    assert(out("c")._1 === 1000000L)
    assert(out("d")._1 === 1000000L)
    val tot = (333333L + 666666L + 1000000L + 1000000L).toDouble
    assert(out("b")._3 === 666666.0 / tot)
    assert(out("a")._2 === 0.333333)
    intercept[IllegalArgumentException] {
      EventAnalytics.timeDecayAttribution(df, halflifeMicros = 0L)
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.timeDecayAttributionSql(convType = "x'y")
    }
  }

  test("kaplanMeier: hand-computed product-limit ladder with a " +
      "horizon-censored user; censor-only time leaves S unchanged") {
    val D = 86400L * 1000000L
    // lifetimes (days): u5 churn@0, u4 churn@2, u2 churn@5, u1
    // churn@9 (h-l = exactly 1 day, NOT < censorUs -> event), u3
    // censored@10 (l == horizon)
    val df = eventsDf(Seq(
      (1L, 0L, 1L, "view", 0.0), (2L, 9 * D, 1L, "view", 0.0),
      (3L, 0L, 2L, "view", 0.0), (4L, 5 * D, 2L, "view", 0.0),
      (5L, 0L, 3L, "view", 0.0), (6L, 10 * D, 3L, "view", 0.0),
      (7L, 2 * D, 4L, "view", 0.0), (8L, 4 * D, 4L, "view", 0.0),
      (9L, 0L, 5L, "view", 0.0)))
    val out = EventAnalytics.kaplanMeier(df, periodDays = 1,
      censorDays = 1).collect()
    val byP = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 2L, 5L, 9L, 10L))
    assert(byP(0L) === ((5L, 1L, 0L, 800000000000L)))
    assert(byP(2L) === ((4L, 1L, 0L, 600000000000L)))
    assert(byP(5L) === ((3L, 1L, 0L, 400000000000L)))
    assert(byP(9L) === ((2L, 1L, 0L, 200000000000L)))
    // censor-only time: d = 0, survival EXACTLY unchanged
    assert(byP(10L) === ((1L, 0L, 1L, 200000000000L)))
    assert(out.last.getDouble(5) === 0.2)
    intercept[IllegalStateException] {
      EventAnalytics.kaplanMeier(df, periodDays = 1, censorDays = 1,
        maxPeriods = 2)
    }
  }

  test("cohortLtv: per-cohort cumulative jumps offset gaps; ltv " +
      "divides by cohort size, not active users") {
    val D = 86400L * 1000000L
    val df = eventsDf(Seq(
      // cohort 0: u1 (events at offsets 0, 0, 1), u2 (offset 0)
      (1L, 0L, 1L, "view", 1.0),
      (2L, D / 2, 1L, "view", 2.0),
      (3L, D + D / 5, 1L, "view", 3.0),
      (4L, 9 * D / 10, 2L, "view", 10.0),
      // cohort 1: u3 at offsets 0 and 2 (offset-1 gap)
      (5L, 3 * D / 2, 3L, "view", 5.0),
      (6L, 7 * D / 2, 3L, "view", 1.0)))
    val out = EventAnalytics.cohortLtv(df, periodDays = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out((0L, 0L)) === ((2L, 13000000L, 13000000L, 6.5)))
    assert(out((0L, 1L)) === ((2L, 3000000L, 16000000L, 8.0)))
    assert(out((1L, 0L)) === ((1L, 5000000L, 5000000L, 5.0)))
    // the offset-1 gap: cumulative carries straight to offset 2
    assert(out((1L, 2L)) === ((1L, 1000000L, 6000000L, 6.0)))
    assert(out.size === 4)
  }

  test("registry gates analyze and return rows on sf0.001") {
    Tables.enableNanos(spark)
    graft.queries.EventQueries.all.foreach { q =>
      assert(q.fn(spark, sf()).count() > 0L, q.name)
    }
  }
}
