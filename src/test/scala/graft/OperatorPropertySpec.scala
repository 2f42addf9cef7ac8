package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.Update
import graft.operators.{EventsOps, Orderbook}
import graft.ext.TextOps

/** Cross-cutting property checks: event classification against a scalar
  * reimplementation, orderbook relational-vs-fold equivalence on random
  * inputs (not just testdata), and text-op identities. Plain `Gen` +
  * fixed seeds, deterministic across runs. */
class OperatorPropertySpec extends SparkSpec {

  /** Sizes on a grid of halves: zeros exercise deletes. */
  private val halves: Gen[Double] = Gen.choose(0, 12).map(_ / 2.0)

  private def genUpdates(sizes: Gen[Double]): Gen[List[Update]] = for {
    n <- Gen.choose(1, 100)
    ups <- Gen.listOfN(n, for {
      sym <- Gen.oneOf("a", "b")
      ts <- Gen.choose(0L, 300L)
      seq <- Gen.choose(0L, 30L)
      isTrade <- Gen.prob(0.3)
      isBid <- Gen.prob(0.5)
      price <- Gen.choose(1, 20).map(_ / 4.0) // few levels: collisions likely
      size <- sizes
    } yield Update(sym, ts, seq, isTrade, isBid, price, size))
  } yield ups.distinctBy(u => (u.symbol, u.ts, u.seq))

  private def cases(n: Int, sizes: Gen[Double] = halves)
      : Seq[List[Update]] =
    (0 until n).flatMap(i =>
      genUpdates(sizes).apply(Gen.Parameters.default, Seed(i.toLong)))

  test("distributed percentile == scalar sorted-rank interpolation") {
    // BOTH percentile plans (the bucketed-rank rewrite AND the window-sort
    // small path percentilesBy dispatches between) must equal the naive
    // percentile_of_sorted (histogram.rs:370-390) bit-for-bit on random
    // inputs, including tie-heavy value distributions
    import graft.operators.HistogramOps
    import org.apache.spark.sql.functions.col
    def scalar(vs: Seq[Double], pct: Double): Double = {
      val s = vs.sorted
      val rank = pct / 100.0 * (s.length - 1)
      val lrank = math.floor(rank)
      val d = rank - lrank
      if (d == 0.0) s(lrank.toInt)
      else s(lrank.toInt) + (s(lrank.toInt + 1) - s(lrank.toInt)) * d
    }
    val pcts = Seq(25.0 -> "q1", 50.0 -> "med", 75.0 -> "q3")
    val plans: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "bucketed" -> (df => HistogramOps.bucketedPlan(df, col("price"), pcts)),
      "window" -> (df => HistogramOps.windowPlan(df, col("price"), pcts)),
      "adaptive" -> (df => HistogramOps.percentilesBy(df, col("price"), pcts)))
    cases(8).filter(_.nonEmpty).foreach { ups =>
      val bySym = ups.groupBy(_.symbol)
      plans.foreach { case (label, mk) =>
        val got = mk(updatesDf(ups))
          .collect()
          .map(r => r.getString(0) ->
            (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
          .toMap
        assert(got.keySet === bySym.keySet, s"plan $label")
        bySym.foreach { case (sym, rows) =>
          val vs = rows.map(_.price)
          val want = (scalar(vs, 25.0), scalar(vs, 50.0), scalar(vs, 75.0))
          assert(got(sym) === want, s"plan $label symbol $sym values $vs")
        }
      }
    }
  }

  test("stats: the sorted-array plan over parquet == the scan plan over " +
      "the same rows, bit for bit, nulls and NaN included") {
    import graft.operators.HistogramOps
    import spark.implicits._
    // doubles as their bits: -0.0 and 0.0 differ, every NaN is one value
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.head.toString)
    // c has one row (var has no divisor); d has a null price and e a NaN
    // next to ties; y's median and z's mean are zero (the percentages
    // have no divisor); the null symbol drops out of both plans
    val edge = Seq[(String, Option[Double])](
      "c" -> Some(2.5),
      "d" -> Some(1.0), "d" -> None, "d" -> Some(1.0), "d" -> Some(3.0),
      "e" -> Some(2.0), "e" -> Some(Double.NaN), "e" -> Some(2.0),
      "e" -> Some(0.5),
      "y" -> Some(0.0), "y" -> Some(0.0), "y" -> Some(0.0), "y" -> Some(1.0),
      "z" -> Some(0.0), "z" -> Some(0.0),
      (null, Some(4.0))).toDF("symbol", "price")
    val inputs = cases(8).filter(_.nonEmpty).map(updatesDf) :+ edge
    inputs.zipWithIndex.foreach { case (local, i) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-stats")
        .resolve("u").toString
      local.write.parquet(dir)
      val scanned = spark.read.parquet(dir)
      // the footer bound picks the sorted-array plan for the parquet
      // scan and cannot bound the local relation, which keeps the scan plan
      assert(Tables.parquetRowBound(scanned) === Some(local.count()))
      assert(Tables.parquetRowBound(local) === None)
      val got = bits(HistogramOps.stats(scanned))
      assert(got.nonEmpty && got === bits(HistogramOps.stats(local)),
        s"case $i")
    }
  }

  test("stats over a parquet-backed updates is built without a Spark job " +
      "and runs as one aggregation") {
    import graft.operators.HistogramOps
    import org.apache.spark.sql.catalyst.plans.logical.{Join,
      LocalRelation, Window}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val u = Tables.updates(spark, sf())
    val (df, jobs) = jobsDuring(HistogramOps.stats(u))
    assert(jobs.isEmpty, jobs.mkString(", "))
    val barriers = df.queryExecution.optimizedPlan.collect {
      case p @ (_: Join | _: Window | _: LocalRelation | _: InMemoryRelation)
        => p.nodeName
    }
    assert(barriers.isEmpty, barriers.mkString(", "))
  }

  test("event classification matches a scalar replay (event.rs:28-72)") {
    cases(10).foreach { ups =>
      val got = EventsOps.classify(updatesDf(ups))
        .select("symbol", "ts", "seq", "event_class")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getString(3))
        .toMap
      // scalar replay: prev size per (symbol, price), ordered by (ts, seq)
      val prev = scala.collection.mutable.Map.empty[(String, Double), Double]
      ups.sortBy(u => (u.symbol, u.ts, u.seq)).foreach { u =>
        val p = prev.getOrElse((u.symbol, u.price), 0.0)
        val want =
          if (u.is_trade) "trade"
          else if (u.size == 0.0 || u.size <= p) "cancel"
          else "create"
        assert(got((u.symbol, u.ts, u.seq)) === want,
          s"mismatch at $u (prev=$p)")
        prev((u.symbol, u.price)) = u.size
      }
    }
  }

  test("orderbook: relational snapshot == sequential fold on random input") {
    // tenths next to the halves: trades of 0.1 and 0.2 against a level of
    // 3.0 leave 2.7 only when they are summed exactly before one
    // subtraction, as the snapshot does; 40 cases hold such levels where
    // the first 10 do not
    val tenths = Gen.choose(1, 9).map(_ / 10.0)
    cases(40, Gen.oneOf(halves, tenths)).foreach { ups =>
      val rel = Orderbook.snapshot(updatesDf(ups))
        .orderBy("symbol", "is_bid", "level").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
          r.getDouble(3)))
      val fold = Orderbook.replayFold(updatesDf(ups))
        .orderBy("symbol", "is_bid", "level").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
          r.getDouble(3)))
      assert(rel.toSeq === fold.toSeq)
    }
  }

  test("as-of join matches a scalar replay (prevailing quote per trade)") {
    import graft.operators.AsofJoin
    cases(10).foreach { ups =>
      val got = AsofJoin.tradesWithQuote(updatesDf(ups))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toMap
      val lastQuote = scala.collection.mutable.Map.empty[String, Double]
      ups.sortBy(u => (u.symbol, u.ts, u.seq)).foreach { u =>
        if (u.is_trade) {
          val want = lastQuote.get(u.symbol)
          assert(got((u.symbol, u.ts, u.seq)) === want, s"at $u")
        } else lastQuote(u.symbol) = u.price
      }
      assert(got.size === ups.count(_.is_trade))
    }
  }

  test("bpeMerges matches a scalar BPE trainer on random corpora") {
    // scalar reference: word-freq map -> k rounds of (count adjacent
    // symbol pairs weighted by freq, argmax with (count desc, pair asc)
    // tiebreak, greedy non-overlapping left-to-right merge)
    def scalarBpe(words: Map[String, Long], k: Int)
        : Seq[(Int, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] =
        words.map { case (w, f) => w.map(_.toString).toVector -> f }
      (1 to k).flatMap { rank =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.length == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
          }
        }
        if (counts.isEmpty) Seq.empty
        else {
          val ((a, b), cnt) = counts.toSeq
            .minBy { case ((x, y), c) => (-c, x + " " + y) }
          def mergeWord(syms: Vector[String]): Vector[String] = {
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result()
          }
          vocab = vocab.groupMapReduce { case (s, _) => mergeWord(s) } {
            case (_, f) => f
          }(_ + _)
          Seq((rank, s"$a $b", a + b, cnt))
        }
      }
    }
    import spark.implicits._
    val genCorpus: Gen[List[String]] = for {
      n <- Gen.choose(3, 25)
      ws <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      } yield cs.mkString)
    } yield ws
    val corpora = (0 until 12).flatMap(i =>
      genCorpus.apply(Gen.Parameters.default, Seed(100L + i)))
    corpora.foreach { ws =>
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val freq = ws.groupMapReduce(identity)(_ => 1L)(_ + _)
      val want = scalarBpe(freq, 4)
      val k = want.length // corpus may exhaust before 4 merges
      if (k > 0) {
        val got = TextOps.bpeMerges(docs, k).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2),
            r.getLong(3))).toSeq.sortBy(_._1)
        assert(got === want.take(k), s"corpus: ${ws.mkString(" ")}")
      }
    }
  }

  test("scalar simhash64 == DataFrame simhash on random corpora") {
    // the streaming dedup path hashes map-side with the scalar twin; any
    // bit-mapping drift between the two silently breaks streamed ≡ batch.
    // Random words over a tiny alphabet force heavy tf collisions, plus
    // whitespace/case/empty edge shapes.
    import spark.implicits._
    val genDocs: Gen[List[String]] = for {
      n <- Gen.choose(1, 8)
      ds <- Gen.listOfN(n, for {
        w <- Gen.choose(0, 30)
        ws <- Gen.listOfN(w, for {
          len <- Gen.choose(1, 5)
          cs <- Gen.listOfN(len, Gen.oneOf("a", "B", "c", "Δ"))
        } yield cs.mkString)
        pad <- Gen.oneOf("", " ", "  \t ")
      } yield pad + ws.mkString(" ") + pad)
    } yield ds
    val corpora = (0 until 10).flatMap(i =>
      genDocs.apply(Gen.Parameters.default, Seed(500L + i)))
    corpora.foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val df = graft.ext.Dedup.simhash(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(df(i.toLong) === graft.ext.Dedup.simhash64(t),
          s"scalar/DataFrame drift on <$t>")
      }
    }
  }

  test("scalar cdcChunksOf == DataFrame cdcChunkDedup chunking on " +
      "random texts (the streaming twin's foundation)") {
    import spark.implicits._
    import graft.ext.Pipeline
    // small vocab so boundary hashes repeat; lengths straddle the
    // window size (short docs = single clipped chunk path); leading/
    // trailing non-space whitespace produces EMPTY first/last words
    // after trim+split — the separator-after-empty-word edge (ADVICE r9)
    val genText: Gen[String] = for {
      len <- Gen.choose(1, 60)
      ws <- Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
      pad <- Gen.oneOf("", " ", "\t", "  \t ")
    } yield pad + ws.mkString(" ") + pad
    val texts = (0 until 30).flatMap(i =>
      genText.apply(Gen.Parameters.default, Seed(1000L + i)))
    texts.zipWithIndex.foreach { case (t, id) =>
      val scalarChunks = Pipeline.cdcChunksOf(t)
      // single-doc corpus: chunk ids/count and the reassembly are
      // directly comparable (internal verbatim chunk repeats dedup on
      // BOTH sides identically, keep-first by cid)
      val row = Pipeline.cdcChunkDedup(
        Seq((id.toLong, t)).toDF("doc_id", "text")).collect()(0)
      assert(row.getLong(1) === scalarChunks.length.toLong,
        s"chunk count diverged for '$t'")
      val seen = scala.collection.mutable.Set[String]()
      val kept = scalarChunks.filter { case (_, c) => seen.add(c) }
      assert(row.getLong(2) === (scalarChunks.length - kept.length).toLong)
      assert(row.getString(3) === kept.map(_._2).mkString(" "),
        s"reassembly diverged for '$t'")
      // chunks partition the word stream exactly
      assert(scalarChunks.map(_._2).mkString(" ") ===
        TextOps.sqlWords(t).mkString(" "))
    }
  }

  test("dupSpansMerged == scalar gaps-and-islands coalescer on random " +
    "duplicated-gram sets (VERDICT r8 #7)") {
    import spark.implicits._
    val n = 3
    val minDocs = 2
    // tiny vocabulary + short docs → dense cross-doc gram collisions,
    // adjacent AND disjoint islands, single-gram spans, docs with none
    val genDocs: Gen[List[String]] = for {
      nd <- Gen.choose(2, 6)
      ds <- Gen.listOfN(nd, for {
        len <- Gen.choose(n, 14)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      } yield ws.mkString(" "))
    } yield ds

    def scalar(texts: Seq[String]): Set[(Long, Long, Long, Long, Long)] = {
      val grams = texts.zipWithIndex.flatMap { case (t, id) =>
        val ws = t.trim.toLowerCase.split("\\s+").toSeq
        (0 to ws.length - n).map(i =>
          (id.toLong, (i + 1).toLong, ws.slice(i, i + n).mkString(" ")))
      }
      val dup = grams.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= minDocs).keySet
      grams.filter(g => dup(g._3)).groupBy(_._1).flatMap {
        case (id, hs) =>
          val ps = hs.map(_._2).sorted
          // islands: consecutive start positions merge into one maximal run
          val runs = ps.foldLeft(List.empty[List[Long]]) {
            case (Nil, p) => List(List(p))
            case (cur :: done, p) =>
              if (p == cur.head + 1) (p :: cur) :: done
              else List(p) :: cur :: done
          }
          runs.map { run =>
            val start = run.min
            val end = run.max + (n - 1)
            (id, start, end, end - start + 1, run.size.toLong)
          }
      }.toSet
    }

    val corpora = (0 until 12).flatMap(i =>
      genDocs.apply(Gen.Parameters.default, Seed(900L + i)))
    corpora.foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ext.Pipeline.dupSpansMerged(docs, n, minDocs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got === scalar(texts), s"corpus drift on <$texts>")
    }
  }

  test("chunkDedup == scalar keep-first replay on random word soups") {
    import spark.implicits._
    val width = 3
    // tiny vocabulary → dense chunk collisions across AND within docs;
    // lengths below/above width exercise the partial-tail chunk
    val genDocs: Gen[List[String]] = for {
      nd <- Gen.choose(2, 6)
      ds <- Gen.listOfN(nd, for {
        len <- Gen.choose(1, 12)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      } yield ws.mkString(" "))
    } yield ds

    def scalar(texts: Seq[String]): Map[Long, (Long, Long, String)] = {
      val chunks = texts.zipWithIndex.flatMap { case (t, id) =>
        graft.ext.TextOps.sqlWords(t).grouped(width).zipWithIndex
          .map { case (c, i) => (id.toLong, i.toLong, c.mkString(" ")) }
      }
      val seen = scala.collection.mutable.Set[String]()
      val kept = chunks.sortBy(c => (c._1, c._2)).filter { c =>
        if (seen(c._3)) false else { seen += c._3; true }
      }.toSet
      texts.indices.map { id0 =>
        val id = id0.toLong
        val all = chunks.filter(_._1 == id)
        val k = all.filter(kept)
        id -> ((all.size.toLong, (all.size - k.size).toLong,
          k.sortBy(_._2).map(_._3).mkString(" ")))
      }.toMap
    }

    val corpora = (0 until 12).flatMap(i =>
      genDocs.apply(Gen.Parameters.default, Seed(1700L + i))) ++
      Seq(List("", "", "a b c"), List("  ", "a"))  // empty/space edge
    corpora.foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ext.Pipeline.chunkDedup(docs, width).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got === scalar(texts), s"corpus drift on <$texts>")
    }
  }

  test("ppl tercile boundary plans == scalar ntile replay (both " +
      "dispatch arms, tie-heavy scores)") {
    // the bucketed-rank boundary plan (the >PplWindowMaxRows arm) and
    // the ntile window plan must select identical boundary keys, and
    // compare-to-boundary assignment must replay the ntile cut exactly —
    // including ties on avg_logprob (broken by doc_id) and languages
    // with n < 3 (empty middle/tail terciles)
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 0 until 6) {
      val langs = Seq("en", "de", "fr", "solo").take(1 + rnd.nextInt(4))
      val n = 1 + rnd.nextInt(50)
      val rows = (0 until n).map { i =>
        val lp =
          if (rnd.nextBoolean()) -(1 + rnd.nextInt(4)).toDouble // ties
          else -rnd.nextDouble() * 5.0
        (i.toLong, langs(rnd.nextInt(langs.size)),
          1L + rnd.nextInt(9), lp)
      }
      val scored = rows.toDF("doc_id", "lang", "n_bigrams", "avg_logprob")
      // scalar ntile(3) replay: sort (avg desc, id asc), cut by the
      // exact ntile bucket sizes q+(rem>=1), q+(rem>=2), q
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (-r._4, r._1))
        val q = sorted.size / 3; val rem = sorted.size % 3
        val s1 = q + (if (rem >= 1) 1 else 0)
        val s2 = q + (if (rem >= 2) 1 else 0)
        sorted.zipWithIndex.map { case (r, idx) =>
          r._1 -> (if (idx < s1) "head"
            else if (idx < s1 + s2) "middle" else "tail")
        }
      }.toMap
      val asMap = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val wPlan = asMap(TextOps.pplBoundaryWindowPlan(scored))
      val bPlan = asMap(TextOps.pplBoundaryBucketedPlan(scored))
      assert(bPlan === wPlan, s"boundary keys diverge on $rows")
      val got = TextOps.assignPplBuckets(scored,
          TextOps.pplBoundaryBucketedPlan(scored))
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
      assert(got === want, s"bucket assignment diverges on $rows")
    }
  }

  test("ppl bucket assignment keeps NULL-lang docs — the ntile " +
      "partition semantics, not an equi-join drop") {
    // the boundary plans and assignment are equi-joins on lang; a NULL
    // key never equi-matches, so without the sentinel encoding every
    // NULL-lang doc would silently vanish where ntile(3) OVER
    // (PARTITION BY lang ...) treats NULL as its own partition
    import spark.implicits._
    val rows = Seq(
      (1L, "en", 3L, -1.0), (2L, "en", 3L, -2.0), (3L, "en", 3L, -3.0),
      (4L, null.asInstanceOf[String], 3L, -1.5),
      (5L, null.asInstanceOf[String], 3L, -2.5),
      (6L, null.asInstanceOf[String], 3L, -3.5))
    val scored = rows.toDF("doc_id", "lang", "n_bigrams", "avg_logprob")
    for (plan <- Seq(
        TextOps.pplBoundaryWindowPlan(scored),
        TextOps.pplBoundaryBucketedPlan(scored))) {
      val got = TextOps.assignPplBuckets(scored, plan)
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(1)), r.getString(4)))).toMap
      assert(got.keySet === rows.map(_._1).toSet,
        s"docs dropped: ${rows.map(_._1).toSet -- got.keySet}")
      assert(got(4L) === ((None, "head")) && got(5L) === ((None, "middle"))
        && got(6L) === ((None, "tail")), s"null-lang terciles wrong: $got")
      assert(got(1L)._2 === "head" && got(3L)._2 === "tail")
    }
  }

  test("salted two-stage prefix sum == single-window cumsum over the " +
      "md5 doc order") {
    // the >LangWindowMaxRows arm of unimaxApply: integer partial sums
    // compose associatively, so the (lang, md5-prefix salt) local cumsum
    // plus broadcast per-salt offsets must be bit-equal to one ordered
    // window per language — on random inputs including single-doc
    // languages and languages spanning many salt buckets
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(8144L)
    for (_ <- 0 until 4) {
      val langs = Seq("en", "de", "fr", "solo").take(1 + rnd.nextInt(4))
      val rows = (0 until (1 + rnd.nextInt(300))).map { i =>
        (i.toLong, langs(rnd.nextInt(langs.size)),
          rnd.nextInt(1000).toLong)
      }
      val base = rows.toDF("doc_id", "lang", "n_tokens")
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val want = base
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val got = graft.ext.Pipeline.saltedCumTokens(base, "lang")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
        .toMap
      assert(got === want, s"salted cumsum diverges on $rows")
    }
  }

  test("tick carry: segmented day fold == single-window carry for all " +
      "six consumers (random multi-day ticks + real sf data)") {
    // the >TickWindowMaxRows arm (VERDICT r11 #1): last-non-null carry
    // is associative and the stitch is pure selection, so forcing the
    // segmented plan (maxWindowRows = 0) must be BIT-equal to forcing
    // the single per-symbol window (maxWindowRows = Long.MaxValue) —
    // on random ticks spread across several day segments (segment
    // boundaries mid-symbol, symbols whose quotes/trades straddle
    // days) and on the real sf0.001 tick table
    import graft.operators.Microstructure
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val ops: Seq[(String, (DataFrame, Long) => DataFrame)] = Seq(
      "realizedVol" -> ((u, m) => Microstructure.realizedVol(u, 60, m)),
      "rollSpread" -> ((u, m) => Microstructure.rollSpread(u, 60, m)),
      "tickRuleFlow" -> ((u, m) => Microstructure.tickRuleFlow(u, 60, m)),
      "effectiveSpread" ->
        ((u, m) => Microstructure.effectiveSpread(u, 60, m)),
      "kyleLambda" -> ((u, m) => Microstructure.kyleLambda(u, 60, m)),
      "flowAutocorr" -> ((u, m) => Microstructure.flowAutocorr(u, 60, m)),
      "leeReady" -> ((u, m) => Microstructure.leeReady(u, 60, m)),
      "quoteTradeLag" ->
        ((u, m) => Microstructure.quoteTradeLag(u, 60, m)))
    def rows(df: DataFrame): Seq[String] = df.collect().map(r =>
      r.toSeq.map(v => if (v == null) "null" else v.toString)
        .mkString("|")).sorted.toSeq
    def check(label: String, u: DataFrame): Unit =
      ops.foreach { case (op, mk) =>
        assert(rows(mk(u, 0L)) === rows(mk(u, Long.MaxValue)),
          s"$op segmented != window on $label")
      }
    // ts scaled injectively onto a ~31-day span: ts collisions (seq
    // tiebreaks) survive, day boundaries land mid-history
    cases(5).filter(_.size > 5).foreach { ups =>
      val u = updatesDf(ups)
        .withColumn("ts", col("ts") * 9000000L)
      check(s"random(${ups.size})", u)
    }
    check("sf0.001", Tables.updates(spark, sf()))
  }

  test("returnCorr: per-bucket symbol cardinality guard raises loud at " +
      "the bound (VERDICT r11 #3)") {
    // the pair expansion is inherently S^2/2 per bucket; a degenerate
    // catalog must fail loud naming the bucket, never silently expand.
    // AT the bound the full pair stream still emits.
    import graft.operators.Microstructure
    def ups(n: Int): Seq[Update] =
      (0 until n).flatMap { s =>
        Seq(
          Update(f"s$s%04d", 0L, s * 2L, true, true, 1.0 + s, 1.0),
          Update(f"s$s%04d", 60000L, s * 2L + 1, true, true, 2.0 + s, 1.0))
      }
    val ok = Microstructure.returnCorr(updatesDf(ups(8)), 60,
      maxSymbols = 8).collect()
    assert(ok.length === 8 * 7 / 2, "pair stream wrong at the bound")
    val ex = intercept[Exception] {
      Microstructure.returnCorr(updatesDf(ups(9)), 60,
        maxSymbols = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("bucket symbol set exceeds 8")),
      s"wrong failure: ${messages(ex).mkString(" | ")}")
  }

  test("tokenCount == whitespace-split length on arbitrary text") {
    import spark.implicits._
    val texts = Seq("", "  ", "a", "a b  c", " lead", "trail ",
      "many   spaces   here", "tab\tsep", "x " * 50)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.tokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = t.trim.split("\\s+").length // matches split-on-trimmed
      assert(got(i.toLong) === want, s"text <$t>")
    }
  }
}
