package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates (builder brief: "explain the plan and
  * iterate until it's the plan you'd want"). These lock in the properties
  * that matter at 100 TB: filters reach the parquet scan, column pruning
  * holds, small dimensions broadcast, aggregation is map-side partial,
  * and hot paths stay inside whole-stage codegen. */
class PlanSpec extends SparkSpec {

  private def plan(name: String, dir: String = "sf0.001"): String =
    SparkEntry.queries(name)(spark, sf(dir))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("range scan pushes ts bounds into the parquet scan") {
    val p = plan("q_range_scan")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"ts lower bound not pushed:\n$p")
    // the upper bound pushes as exclusive LessThan after the ns conversion
    assert(p.contains("LessThan(ts") || p.contains("LessThanOrEqual(ts"),
      s"ts upper bound not pushed:\n$p")
  }

  test("time bars prune to the columns they read") {
    val p = plan("q_time_bars")
    // ReadSchema of the events scan must not include the unused seq-only
    // payload columns beyond what bars need
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.nonEmpty)
    assert(!read.contains("is_bid"), s"is_bid not pruned from scan: $read")
  }

  test("revenue join broadcasts the small dimension side") {
    val p = plan("q_join_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no broadcast in join plan:\n$p")
  }

  test("q1 aggregation is partial (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), "aggregation is not hash-based")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // formatted AQE plans omit codegen markers pre-execution; HashAggregate
    // + partial_ is the load-bearing property here
  }

  test("brute-force ANN broadcasts the query side, not the corpus") {
    val p = plan("q_ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
  }

  test("LSH near-dup joins on bucket keys — no cartesian product") {
    val p = plan("q_cosine_neardup")
    assert(!p.contains("CartesianProduct"),
      s"similarity join degenerated to a cartesian product:\n$p")
  }

  test("percentiles use bucketed rank — no per-symbol full window sort") {
    // VERDICT r1 #3/#4: a Window over (symbol) ordered by the value column
    // funnels a hot symbol's entire history through one task. The
    // distributed order-statistics path (what percentilesBy dispatches to
    // above PctWindowMaxRows; asserted here on the lazy plan builder) only
    // ever windows (a) the tiny bucket-count table and (b) rows inside
    // located buckets, both keyed by (symbol, _b).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    val df = graft.operators.HistogramOps.bucketedPlan(
      Tables.updates(spark, sf("sf0.001")), col("price"),
      Seq(25.0 -> "q1", 50.0 -> "med", 75.0 -> "q3"))
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected window nodes in the percentile plan")
    ws.foreach { w =>
      val sortsValue = w.orderSpec.exists(_.child.toString.contains("_v"))
      assert(!(w.partitionSpec.length == 1 && sortsValue),
        s"hot-symbol window funnel: partition=${w.partitionSpec} " +
          s"order=${w.orderSpec}")
    }
  }

  test("book features: rolling window keyed on symbol; depth imbalance " +
      "broadcasts its bounded best-level table; no cartesians") {
    val pRoll = plan("q_rolling_volume")
    assert(pRoll.contains("Window"), s"no window:\n$pRoll")
    assert(pRoll.contains("hashpartitioning(symbol"),
      s"rolling window not keyed on symbol:\n$pRoll")
    assert(!pRoll.contains("SinglePartition"),
      s"rolling window collapsed to one task:\n$pRoll")
    for (q <- Seq("q_microprice", "q_depth_imbalance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    assert(plan("q_depth_imbalance").contains("BroadcastExchange"),
      "best-level table not broadcast")
  }

  test("tick-rule flow and effective spread: both windows share ONE " +
      "per-symbol sort (single shuffle) feeding a partial aggregation") {
    for (q <- Seq("q_tick_rule_flow", "q_effective_spread",
        "q_roll_spread")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(p.contains("hashpartitioning(symbol"),
        s"$q window not keyed on symbol:\n$p")
      // the lag/last windows must reuse one symbol-keyed exchange: more
      // than one hashpartitioning(symbol ...) Exchange means the plan
      // re-shuffles between the two window passes
      val exchanges = "Exchange hashpartitioning\\(symbol".r
        .findAllIn(p).length
      assert(exchanges <= 2, // one for windows + one for the final agg
        s"$q re-shuffles between window passes ($exchanges):\n$p")
      assert(p.contains("partial_"), s"$q no partial agg:\n$p")
    }
  }

  test("kyle lambda, flow autocorr, amihud: every window keyed on " +
      "symbol (no global sort), partial aggregation, no cartesian") {
    for (q <- Seq("q_kyle_lambda", "q_flow_autocorr", "q_amihud")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(p.contains("hashpartitioning(symbol"),
        s"$q window not keyed on symbol:\n$p")
      assert(p.contains("partial_"), s"$q no partial agg:\n$p")
    }
    val p = plan("q_kyle_lambda")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("hashpartitioning(symbol"),
      s"window not keyed on symbol:\n$p")
    // the composition must never fall into a single-partition window:
    // partitionBy is present on every Window (raw-update pass AND the
    // bucket-series pass), so no SinglePartition exchange feeds a sort
    assert(!p.contains("Exchange SinglePartition\n+- *Sort") &&
      !p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS\n   +- Sort"),
      s"single-partition window sort:\n$p")
    assert(p.contains("partial_"), s"no partial agg:\n$p")
  }

  test("ppl boundary cut uses bucketed rank — no per-language score " +
      "sort, no ntile (VERDICT r10 #1)") {
    // the >PplWindowMaxRows dispatch arm: the dominant language of a web
    // corpus must never sort its whole score column in one task. The
    // only windows allowed are (a) the per-(lang,_b) local rank inside
    // located buckets and (b) the <=PctBuckets-row bucket-table prefix
    // sum (partitioned by lang but ordered by the bucket ID, never by
    // the score).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val scored = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9, "en").otherwise("rest").as("lang"),
      lit(5L).as("n_bigrams"),
      (-(col("id") % 97).cast("double") / 7.0).as("avg_logprob"))
    val df = graft.ext.TextOps.pplBoundaryBucketedPlan(scored)
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected window nodes in the boundary plan")
    ws.foreach { w =>
      val sortsScore = w.orderSpec.exists(_.child.toString.contains("_v"))
      assert(!(w.partitionSpec.length == 1 && sortsScore),
        s"per-language score-sort funnel: partition=${w.partitionSpec} " +
          s"order=${w.orderSpec}")
      assert(w.windowExpression.forall(
        !_.toString.toLowerCase.contains("ntile")),
        s"ntile survived in the bucketed boundary plan: $w")
    }
  }

  test("tick carry: no per-symbol tick-order window in the segmented " +
      "plans (VERDICT r11 #1)") {
    // the >TickWindowMaxRows arm of the microstructure running-state
    // family: a window partitioned by symbol ALONE must never order by
    // the tick axis (ts, seq) — that is the hot-symbol funnel being
    // retired. Allowed: the (symbol, _cseg) local carry (tick-ordered
    // inside one symbol-day) and the per-symbol boundary window over
    // the tiny day table (ordered by _cseg, rows = days).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.operators.Microstructure
    val u = Tables.updates(spark, sf())
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val plans: Seq[(String, DataFrame)] = Seq(
      "realizedVol" -> Microstructure.realizedVolPlan(
        u.where(col("is_trade") && col("price") > 0.0d)
          .select(col("symbol"), col("ts"), col("seq"), col("price")),
        60, segmented = true),
      "rollSpread" -> Microstructure.rollSpreadPlan(
        u.where(col("is_trade")).select(col("symbol"), col("ts"),
          col("seq"), floor(col("price") * 100.0d + 0.5d).cast("long")
            .as("c0")),
        60, segmented = true),
      "tickRuleFlow" -> Microstructure.tickRuleFlowPlan(
        u.where(col("is_trade")).select(col("symbol"), col("ts"),
          col("seq"), col("price"), col("size")),
        60, segmented = true),
      "effectiveSpread" ->
        Microstructure.effectiveSpreadPlan(u, 60, segmented = true),
      "kyleLambda" ->
        Microstructure.kyleLambdaPlan(u, 60, segmented = true),
      "flowAutocorr" ->
        Microstructure.flowAutocorrPlan(u, 60, segmented = true),
      "leeReady" ->
        Microstructure.leeReadyPlan(u, 60, segmented = true),
      "quoteTradeLag" ->
        Microstructure.quoteTradeLagPlan(u, 60, segmented = true))
    plans.foreach { case (label, df) =>
      val ws = windows(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$label: expected window nodes")
      ws.foreach { w =>
        val ordersTickAxis = w.orderSpec.exists(o =>
          o.child.toString.contains("ts#") ||
            o.child.toString.contains("seq#"))
        assert(!(w.partitionSpec.length == 1 && ordersTickAxis),
          s"$label: hot-symbol tick-order funnel: " +
            s"partition=${w.partitionSpec} order=${w.orderSpec}")
      }
    }
  }

  test("round-12 fold family: bounded exchanges, no cartesian, no " +
      "tick-ordered window outside the fold") {
    // vpin / tick imbalance bars / decay series: the per-symbol
    // sequential work lives INSIDE the one mapPartitions fold (the
    // FoldBars budget); everything relational around it must stay a
    // couple of keyed exchanges, and any WindowExec may only order by
    // the bucket series, never re-sort the tick axis
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.operators.{DecaySeries, FoldBars, Vpin}
    val u = Tables.updates(spark, sf())
    def audit(label: String, df: DataFrame, maxHash: Int): Unit = {
      val p = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$label cartesian:\n$p")
      val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
      assert(hashEx <= maxHash,
        s"$label: $hashEx hash exchanges (cap $maxHash):\n$p")
      def windows(pl: org.apache.spark.sql.execution.SparkPlan)
          : Seq[WindowExec] = pl.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      }.flatten
      windows(df.queryExecution.executedPlan).foreach { w =>
        val ordersTick = w.orderSpec.exists(o =>
          o.child.toString.contains("ts#") ||
            o.child.toString.contains("seq#"))
        assert(!ordersTick,
          s"$label: tick-ordered window outside the fold: $w")
      }
    }
    // fold shuffle + the bucket-series window's re-exchange (typed
    // mapPartitions hides the fold's partitioning from Catalyst)
    audit("vpin", Vpin.vpin(u), maxHash = 2)
    audit("tickImbalanceBars",
      FoldBars.tickImbalanceBars(u, 4L), maxHash = 1)
    // partial (symbol, bucket) agg + the fold repartition
    audit("tradeIntensity", DecaySeries.tradeIntensity(u), maxHash = 2)
    audit("emaClose", DecaySeries.emaClose(u), maxHash = 2)
    // ofi is a per-symbol book fold since r13 (the r12 relational form
    // densified buckets × levels into ONE symbol-keyed window sort —
    // the BENCH_r12 timeout; "every exchange keyed on symbol" was
    // exactly the wrong gate, VERDICT r12 #6): one fold repartition,
    // no window anywhere, no grid join
    audit("ofi", graft.operators.BookFeatures.ofi(u), maxHash = 1)
    assert(!graft.operators.BookFeatures.ofi(u).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
      .contains("Window"),
      "ofi: the fold must carry the bucket series — no window node")
    // depthProfile shares ofi's fold budget: one repartition, no
    // window, no grid join
    audit("depthProfile",
      graft.operators.BookFeatures.depthProfile(u), maxHash = 1)
    assert(!graft.operators.BookFeatures.depthProfile(u).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
      .contains("Window"),
      "depthProfile: the fold must carry the bands — no window node")
    // the sampled cross-check surfaces add rank windows ON TOP of the
    // fold — every one must be symbol-keyed (an empty partitionBy
    // would funnel the whole fold output through one task)
    for ((label, df) <- Seq(
        ("ofiSampled", graft.operators.BookFeatures.ofiSampled(u)),
        ("depthProfileSampled",
          graft.operators.BookFeatures.depthProfileSampled(u)))) {
      def wins(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.window.WindowExec] =
        p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec =>
            Seq(w)
          case a: AdaptiveSparkPlanExec => wins(a.executedPlan)
        }.flatten
      val ws = wins(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$label: sampling rank windows missing")
      ws.foreach(w => assert(
        w.partitionSpec.exists(_.toString.contains("symbol")),
        s"$label: sampling window not symbol-keyed: $w"))
    }
  }

  test("salted prefix sum: no per-language md5-order window " +
      "(VERDICT r10 #1)") {
    // the >LangWindowMaxRows arm of unimaxApply: the only windows are
    // the (lang, _salt) local cumsum and the <=256-rows-per-lang salt
    // offset table; a window partitioned by lang alone must never order
    // by the md5 doc key (that is the funnel being retired)
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val base = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9, "en").otherwise("rest").as("lang"),
      (col("id") % 97 + 1).as("n_tokens"))
    val df = graft.ext.Pipeline.saltedCumTokens(base, "lang")
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[WindowExec] = p.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected window nodes in the salted-cumsum plan")
    ws.foreach { w =>
      val ordersDocKey = w.orderSpec.exists(o =>
        o.child.toString.contains("_m") ||
          o.child.toString.toLowerCase.contains("md5"))
      assert(!(w.partitionSpec.length == 1 && ordersDocKey),
        s"per-language md5-order funnel: partition=${w.partitionSpec} " +
          s"order=${w.orderSpec}")
    }
  }

  test("as-of join is one pass: a single symbol exchange, no point-lookup join") {
    // the naive as-of shape is a per-trade range join (quadratic); ours
    // must be one window pass — exactly one shuffle (hashpartitioning on
    // symbol) and zero join operators
    val p = plan("q_asof_quote")
    assert(!p.contains("Join"), s"as-of degenerated to a join:\n$p")
    // formatted mode: each Exchange node's spec is an "Arguments:" line.
    // exactly one hash shuffle (the symbol window); the only other
    // exchange is the output-order rangepartitioning from orderBy
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    val allEx = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash shuffle, found $hashEx:\n$p")
    assert(allEx <= 2, s"unexpected extra exchanges ($allEx):\n$p")
  }

  test("bm25 joins its bounded stats as broadcasts, no cartesian blowup") {
    // df table + corpus constants are LocalRelations -> every join against
    // them must broadcast; the 1-row constants cross join is a broadcast
    // nested loop, never a CartesianProduct
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bounded stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$p")
  }

  test("decontamination broadcasts the eval gram set over the train side") {
    // the eval slice is corpus/97 and deduped — the gram equi-join must
    // broadcast it, never shuffle the (much larger) train gram stream
    // against a shuffled eval side
    val p = plan("q_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in decontam:\n$p")
  }

  test("mixture sampling is pure map-side — no shuffle at all") {
    // copies come from a literal CASE + md5 threshold + explode: the plan
    // before the output orderBy must contain no aggregate and no hash
    // exchange (the only exchange is the orderBy's rangepartitioning)
    val p = plan("q_mixture")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"mixture sampling shuffled ($hashEx):\n$p")
  }

  test("sequence packing windows by shard — parallelism is the shard knob") {
    // the cumsum must partition by `shard`, not run as one global window
    // (an empty partitionBy would funnel the whole corpus into one task)
    val p = plan("q_pack_sequences")
    assert(p.contains("Window"), s"no window in packing plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packing window collapsed to a single partition:\n$p")
  }

  test("embedding quantization stays map-side over the scan") {
    // amax + per-element transform + integer summaries are all scalar
    // expressions: no aggregate, no join, no hash shuffle
    val p = plan("q_embed_quant")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"quantization not map-side:\n$p")
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"quantization shuffled ($hashEx):\n$p")
  }

  test("dup-span scoring joins on the gram key — no pair materialization") {
    val p = plan("q_dup_spans")
    assert(!p.contains("CartesianProduct"),
      s"dup-span join degenerated to a cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregation:\n$p")
  }

  test("unigram log-prob joins its 1-row corpus total as a broadcast") {
    // the LocalRelation constants cross-join must be a broadcast nested
    // loop (1 row), never a CartesianProduct over the word stream
    val p = plan("q_unigram_logprob")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"corpus constants not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in logprob:\n$p")
  }

  test("packing manifest keeps the per-shard window — no global funnel") {
    val p = plan("q_pack_manifest")
    assert(p.contains("Window"), s"no window in manifest plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"manifest window collapsed to a single partition:\n$p")
  }

  test("source cap / token budget window by source — key-bounded, no funnel") {
    for (q <- Seq("q_source_cap", "q_token_budget")) {
      val p = plan(q)
      assert(p.contains("Window"), s"no window in $q plan:\n$p")
      assert(!p.contains("SinglePartition"),
        s"$q window collapsed to a single partition:\n$p")
      assert(p.contains("hashpartitioning(source"),
        s"$q window not keyed on source:\n$p")
    }
  }

  test("PQ ADC search joins the lookup table as a broadcast") {
    // the query LUT (queries x centroids x subspaces) must broadcast onto
    // the corpus code stream — a shuffle join here would move the corpus
    // for the benefit of a kilobyte-scale table
    val p = plan("q_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"ADC LUT not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ADC:\n$p")
  }

  test("BPE doc-token join broadcasts the vocab-sized segmentation") {
    val p = plan("q_bpe_doc_tokens")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"segmentation table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in doc tokens:\n$p")
  }

  test("tfidf cosine joins on the term key — no pair materialization") {
    val p = plan("q_tfidf_cosine")
    assert(!p.contains("CartesianProduct"), s"cartesian in cosine:\n$p")
    assert(p.contains("hashpartitioning(term") ||
      p.contains("BroadcastHashJoin"),
      s"pair join not keyed on term:\n$p")
  }

  test("corpus stats aggregates with map-side partial combine") {
    val p = plan("q_corpus_stats")
    // two HashAggregates (partial + final) around one exchange on the
    // bounded (source, lang) key — the canonical scalable agg shape
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in corpus stats:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"stats not shuffled on the group key:\n$p")
  }

  test("semantic decontam broadcasts the eval suite; corpus max is partial") {
    val p = plan("q_sem_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"eval suite not broadcast:\n$p")
    assert(p.contains("partial_max"),
      s"per-vector max not map-side partial:\n$p")
  }

  test("hash embedding: one partial aggregation over the token stream") {
    val p = plan("q_hash_embed")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("unimax apply broadcasts the bounded allocation, windows by lang") {
    val p = plan("q_unimax_apply")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"allocation table not broadcast:\n$p")
    assert(p.contains("Window"), s"no per-lang selection window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("edit-distance near-dup blocks on band keys — no cartesian") {
    val p = plan("q_editdist_neardup")
    assert(!p.contains("CartesianProduct"),
      s"edit-distance verification degenerated to all-pairs:\n$p")
  }

  test("trade filter is applied at the scan, before aggregation") {
    // updates derives is_trade from event_id, so the predicate appears as
    // the derived `% 3` condition in the Filter directly above the scan —
    // what matters is that rows drop BEFORE the bar aggregation shuffles
    val p = plan("q_time_bars")
    val filterIdx = p.indexOf("% 3) = 0")
    val aggIdx = p.indexOf("Aggregate")
    assert(filterIdx >= 0, s"derived is_trade filter missing:\n$p")
    assert(aggIdx >= 0, s"no aggregate in bar plan:\n$p")
  }

  test("byte-wide PQ codes: broadcast codebook, hash-agg argmin, no window sort") {
    // the 256-centroid pair stream is n x 256 x 8 rows — an argmin
    // window would sort all of it through an exchange; the hash
    // aggregation combines map-side (the 21.8s -> 1.1s rework)
    val p = plan("q_pq_code256")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"codebook not broadcast:\n$p")
    assert(!p.contains("Window"), s"argmin went through a window sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in PQ codes:\n$p")
  }

  test("simhash near-dup joins on band-value keys — no cartesian, filter before distinct") {
    val p = plan("q_simhash_neardup")
    assert(!p.contains("CartesianProduct"),
      s"band blocking degraded to cartesian:\n$p")
    // the popcount radius filter must run BEFORE the pair-dedup
    // shuffle, so only survivors shuffle (formatted mode lists a
    // Filter on bit_count below the dedup HashAggregate)
    val filterIdx = p.indexOf("bit_count")
    assert(filterIdx >= 0, s"popcount filter missing:\n$p")
  }

  test("bigram log-prob joins model tables on keys — no pair materialization") {
    // gate the SCORER's own plan: the registry entry now serves the
    // shared per-(session, dir) checkpointed scored table (r17 LM memo),
    // so its final plan is checkpoint-rooted and the model-join shape
    // lives in the memo's build — which is exactly this builder call
    val p = graft.ext.TextOps.bigramLogProb(
        Tables.table(spark, sf("sf0.001"), "documents"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in bigram logprob:\n$p")
    // the 1-row corpus total enters as a broadcast, as unigram's does
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"corpus total not broadcast:\n$p")
  }

  test("pruned bigram model filters the count aggregate BEFORE the vocab joins") {
    import graft.ext.TextOps
    // serving-model prune (lmModelOf): the c12 >= minCount filter must
    // sit directly on the pair aggregate so the rare-bigram tail never
    // reaches the two unigram joins — at 100 TB that tail IS the table
    val df = TextOps.bigramModel(
      Tables.table(spark, sf(), "documents").select("doc_id", "text"),
      minCount = 5L)
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    // optimized plan: the Filter referencing c12 must sit DIRECTLY on the
    // pair aggregate (child chain of projections down to an Aggregate,
    // crossing no Join) — i.e. the tail is dropped before any join work
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
      Join, LogicalPlan, Project}
    val opt = df.queryExecution.optimizedPlan
    val c12Filters = opt.collect {
      case f: Filter if f.condition.references.exists(_.name == "c12") => f
    }
    assert(c12Filters.nonEmpty, s"minCount filter missing from plan:\n$opt")
    def onAggregate(n: LogicalPlan): Boolean = n match {
      case _: Aggregate => true
      case p: Project => onAggregate(p.child)
      case _: Join => false
      case other if other.children.size == 1 => onAggregate(other.children.head)
      case _ => false
    }
    assert(c12Filters.forall(f => onAggregate(f.child)),
      s"minCount filter not directly on the pair aggregate:\n$opt")

    // the in-plan budget variant: Catalyst fuses the threshold filter
    // into the 1-row-broadcast cross join's CONDITION, sitting directly
    // on the pair aggregate — below both vocab joins
    val dfB = TextOps.bigramModelBudget(
      Tables.table(spark, sf(), "documents").select("doc_id", "text"),
      targetRows = 100L)
    val optB = dfB.queryExecution.optimizedPlan
    val pruneJoins = optB.collect {
      case j: Join if j.condition.exists(
        _.references.exists(_.name == "c12")) => j
    }
    assert(pruneJoins.nonEmpty, s"budget prune condition missing:\n$optB")
    pruneJoins.foreach { j =>
      assert(j.collect { case jj: Join => jj }.size === 1,
        s"budget prune floated above a vocab join:\n$optB")
      assert(j.collect { case a: Aggregate => a }.nonEmpty,
        s"budget prune lost its aggregate:\n$optB")
    }
  }

  test("classifier scoring head is one shuffle-free codegen projection") {
    import graft.ext.TextOps
    val docs = Tables.table(spark, sf(), "documents")
    val p = TextOps.scoreQuality(docs, Array(0.1, 0.2, 0.3, 0.4, 0.5))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // serving must stay a stateless per-row map: no exchange, no
    // aggregation, no join — this is what makes the same plan legal
    // (and zero-shuffle) on a stream
    assert(!p.contains("Exchange"), s"scoring head shuffles:\n$p")
    assert(!p.contains("HashAggregate"), s"scoring head aggregates:\n$p")
    // formatted mode marks codegen'd operators with a leading '*'
    assert(p.contains("* Project"), s"not codegen'd:\n$p")
  }

  test("source drift joins on the word key, broadcasts the bounded " +
      "source totals and corpus constant — no cartesian blowup") {
    val p = plan("q_source_drift")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"bounded sides not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in drift:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"word counts not map-side partial:\n$p")
  }

  test("provenance: every stage joins on a key — no cartesian; the " +
      "bounded stage tables broadcast") {
    val p = plan("q_provenance")
    assert(!p.contains("CartesianProduct"), s"cartesian in ledger:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"stage joins not keyed:\n$p")
  }

  test("hybrid near-dup and bm25 index: keyed joins only, partial " +
      "aggregation, no cartesian") {
    // hybrid's aggregations sit behind the checkpointed blocking build
    // (the plan shows the materialized scan), so only the join shape is
    // assertable here; the index plan carries its own aggregates
    val h = plan("q_hybrid_neardup")
    assert(!h.contains("CartesianProduct"), s"hybrid cartesian:\n$h")
    val i = plan("q_bm25_index")
    assert(!i.contains("CartesianProduct") || i.contains("LocalTableScan"),
      s"index cartesian beyond the 1-row consts:\n$i")
    assert(i.contains("partial_"), s"index: no map-side combine:\n$i")
  }

  test("wave-3 audits: partial aggregation everywhere, zipf window " +
      "above the vocab aggregate, no cartesians") {
    for (q <- Seq("q_corpus_checksum", "q_embed_stats", "q_oov_rate")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
    }
    val z = plan("q_zipf_fit")
    assert(!z.contains("CartesianProduct"))
    // root-first text: the regression aggregates sit above the window,
    // and the window sits above the DEEPEST aggregate — the (lang,
    // term) vocab count — never over the raw token stream
    val winIdx = z.indexOf("Window")
    val vocabAggIdx = z.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && winIdx < vocabAggIdx,
      s"zipf window not above the vocab aggregate:\n$z")
  }

  test("mixture temperature: one bounded-key aggregation, windows over " +
      "the language table only") {
    val df = graft.ext.Pipeline.mixtureTemp(
      Tables.table(spark, sf(), "documents"))
    val p = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum"), s"token sum not partial:\n$p")
    // the only Window sits above the per-lang aggregate (a few rows),
    // never over the word stream — formatted mode prints root-first, so
    // the window must appear BEFORE the aggregate in the text
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"window not above the bounded aggregate:\n$p")
  }

  test("microstructure features: one partial aggregation, trade filter " +
      "at the scan") {
    for (name <- Seq("q_vwap_bars", "q_trade_imbalance",
        "q_bucket_spread", "q_realized_vol", "q_order_trade_ratio",
        "q_variance_ratio", "q_max_drawdown", "q_return_moments",
        "q_return_corr")) {
      val p = plan(name)
      // map-side combine: the (symbol, bucket) aggregation is partial
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$name: no aggregate in plan:\n$p")
      assert(p.contains("partial"), s"$name: aggregation not partial:\n$p")
      // the trade/level filter reaches the scan side, before the
      // shuffle (order/trade ratio deliberately reads both kinds)
      if (name != "q_order_trade_ratio")
        assert(p.contains("Filter"), s"$name: no filter:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
    }
  }

  test("return-dynamics wave: partial aggregation, symbol/user-keyed " +
      "windows only, no cartesian") {
    for (name <- Seq("q_bipower_var", "q_return_acf", "q_hurst",
        "q_corwin_schultz", "q_user_fano", "q_burstiness",
        "q_rogers_satchell", "q_yang_zhang", "q_tsrv",
        "q_realized_kernel", "q_cusum_change_point")) {
      val p = plan(name)
      assert(p.contains("partial"), s"$name: aggregation not partial:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
      // every window rides the family's parallelism key — never a
      // global (unpartitioned) sort funnel
      val blocks = p.split("\n\\(").toSeq
        .filter(_.takeWhile(_ != '\n').contains("Window"))
      blocks.foreach(b => assert(
        b.contains("symbol") || b.contains("user_id"),
        s"$name window not symbol/user-keyed:\n$b"))
    }
    // lengthPsi: the bounded bin/total tables broadcast; the only
    // data-scale shuffle is the (source, bin) aggregation
    val p = plan("q_length_psi")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"),
      s"psi dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"psi cartesian:\n$p")
    // hayashiYoshida: no cartesian, no pair materialization — the
    // only non-keyed join is the sanctioned 1-row bench-RV broadcast
    val hy = plan("q_hayashi_yoshida")
    assert(!hy.contains("CartesianProduct"), s"HY cartesian:\n$hy")
    assert(!hy.contains("SortMergeJoin"),
      s"HY shuffled join (pair materialization?):\n$hy")
  }

  test("clickstream family: user-keyed data-scale windows, keyed joins, " +
      "no cartesian beyond sanctioned 1-row broadcasts") {
    for (name <- Seq("q_sessionize", "q_funnel", "q_retention",
        "q_transitions", "q_session_paths", "q_bounce_rate",
        "q_dwell_percentiles", "q_rfm", "q_event_lift",
        "q_funnel_summary", "q_ab_test", "q_funnel_ttc",
        "q_nav_entropy")) {
      val p = plan(name)
      // the rfm/eventLift 1-row total joins broadcast (nested-loop over
      // one row), never a partitioned CartesianProduct
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
    }
    // every data-scale window partitions by user_id — the unbounded,
    // skew-free key (the opposite of the retired per-lang funnels);
    // later windows run over aggregated type/cohort-sized tables only
    for (name <- Seq("q_sessionize", "q_session_paths",
        "q_nav_entropy")) {
      // formatted mode: node arguments live in "(n) Window" detail
      // blocks, not the tree header — every Window block (these plans'
      // windows are all data-scale) must carry the user_id spec
      val blocks = plan(name).split("\n\\(").toSeq
        .filter(_.takeWhile(_ != '\n').contains("Window"))
      assert(blocks.nonEmpty, s"$name: no Window detail block")
      blocks.foreach(b => assert(b.contains("user_id"),
        s"$name window not user-keyed:\n$b"))
    }
    // eventLift's self-join keys on user_id (co-partitioned), with the
    // type-cardinality tables broadcast back
    val pl = plan("q_event_lift")
    assert(pl.contains("user_id"), pl)
    assert(pl.contains("BroadcastExchange") ||
      pl.contains("BroadcastHashJoin"), s"lift dims not broadcast:\n$pl")
  }

  test("principal axis: the moment matrix is a per-partition Gram " +
      "fold — no self-join anywhere, projection joins only broadcast " +
      "(VERDICT r13 #4)") {
    // axisState runs eagerly (treeAggregate); the projection plan is
    // the only relational stage left — its one join must be the
    // broadcast d-row axis, never a shuffled self-join of the
    // exploded base (the old n·d² moment build)
    val emb = Tables.table(spark, sf(), "embeddings")
    val p = graft.ext.Similarity.axisProjection(emb).queryExecution
      .explainString(org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"axisProjection: broadcast axis join missing:\n$p")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"axisProjection: shuffled join in the projection plan:\n$p")
  }

  test("tick store symbol+range scan: partition pruning at PLAN time, " +
      "ts bounds pushed to parquet (VERDICT r9 #3)") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.TickStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-planstore").toString + "/store"
    TickStore.write(Tables.updates(spark, sf()), root, SaveMode.Overwrite)
    val p = TickStore.scan(spark, root, "click",
        1704672000000L, 1704931199999L)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // both partition predicates are PLAN-time (directory pruning):
    // symbol equality and the derived day interval
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, s"no PartitionFilters in:\n$p")
    assert(pf.get.contains("symbol") && pf.get.contains("day"),
      s"symbol/day not pruned at plan time: ${pf.get}")
    // the exact ts bounds still reach the parquet footers of the
    // surviving files
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(ts") && p.contains("LessThanOrEqual(ts"),
      s"ts bounds not pushed:\n$p")
  }

  test("arm dispatch is statistics-based: constructing every " +
      "dispatch-bearing operator submits ZERO Spark jobs " +
      "(VERDICT r14 #4)") {
    // through r14 each of the ten maxWindowRows dispatch sites ran an
    // eager base.count() before the main plan — at 100 TB that is a
    // full extra pass over the input per query. The dispatch now reads
    // the optimizer's statistics (TickCarry.exceedsRows), so operator
    // CONSTRUCTION must be job-free.
    import graft.operators.Microstructure
    val u = Tables.updates(spark, sf())
    val (_, probeJobs) = jobsDuring(Seq[DataFrame](
      Microstructure.realizedVol(u), Microstructure.rollSpread(u),
      Microstructure.tickRuleFlow(u), Microstructure.effectiveSpread(u),
      Microstructure.leeReady(u), Microstructure.kyleLambda(u),
      Microstructure.flowAutocorr(u), Microstructure.quoteTradeLag(u),
      Microstructure.durationAcf(u), Microstructure.hayashiYoshida(u)))
    assert(probeJobs.isEmpty,
      s"operator construction submitted ${probeJobs.length} job(s) — " +
        "an eager pre-scan is back in the dispatch path")
  }

  test("arm dispatch calibration: the stats estimate never " +
      "under-counts the driver corpus, and the arm choice is pinned " +
      "at known thresholds (VERDICT r15 #1)") {
    import graft.operators.{Microstructure, TickCarry}
    val u = Tables.updates(spark, sf())
    val actual = u.count()
    // the sizeInBytes fallback reads the COMPRESSED parquet size;
    // the 2 B/row floor must put the estimate AT or ABOVE the true
    // row count (erring toward the segmented arm — the scale-safe
    // direction; ADVICE r15 flagged the old 8 B floor under-counting
    // tick-shaped data that compresses below 8 B/row)
    val st = u.queryExecution.optimizedPlan.stats
    val est = st.rowCount.map(BigInt(0).max(_))
      .getOrElse(st.sizeInBytes / TickCarry.FallbackBytesPerRow)
    assert(est >= BigInt(actual),
      s"stats estimate $est under-counts actual $actual rows — the " +
        "fallback floor is too coarse and the dispatch can pick the " +
        "single-window arm past maxWindowRows")
    // arm choice at known sizes: the driver corpus sits far below the
    // 10M default (window arm) and far above a 1k threshold
    // (segmented arm)
    assert(!TickCarry.exceedsRows(u, TickCarry.TickWindowMaxRows),
      s"estimate $est flipped the default dispatch to segmented on " +
        s"a $actual-row corpus — calibration regressed")
    assert(TickCarry.exceedsRows(u, 1000L),
      s"estimate $est is below a 1k threshold on a $actual-row " +
        "corpus — the dispatch would run a symbol-history window " +
        "on data that overflows it")
    // and the chosen arm is visible in the plan: the segmented fold
    // carries its _cseg segment key, the single window does not
    val planDefault = Microstructure.kyleLambda(u)
      .queryExecution.optimizedPlan.toString
    assert(!planDefault.contains("_cseg"),
      "default-threshold kyleLambda took the segmented arm below " +
        "TickWindowMaxRows")
    val planTiny = Microstructure.kyleLambda(u, maxWindowRows = 1000L)
      .queryExecution.optimizedPlan.toString
    assert(planTiny.contains("_cseg"),
      "kyleLambda with maxWindowRows=1000 stayed on the single " +
        "per-symbol window above the threshold")
  }
}
