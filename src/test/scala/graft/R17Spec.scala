package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

/** Round-17 pins: the watermark-buffered SCD2 contract (disordered
  * drains fold to the batch interval build bit-exactly, bounded
  * disorder keeps state bounded — eviction asserted from the engine's
  * own state stats), and the FromCounts histogram domain budget
  * (VERDICT r16 watch item — a deliberately-unquantized input fails
  * loud with the named contract instead of silently funneling a
  * distinct-value-sized window partition). */
class R17Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---------------- watermark-buffered SCD2 ----------------

  test("q382/q383 disordered drains ≡ q376 batch SCD2 (sf0.001)") {
    val batch = graft.queries.R16Q.queries("q376_scd2_intervals")(spark, sf)
      .collect().map(_.toSeq).toSeq
    Seq("q382_stream_scd2_ooo", "q383_stream_scd2_jitter").foreach { q =>
      val got = graft.queries.R17Q.queries(q)(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == batch, s"$q drain diverged from the batch build")
    }
  }

  test("bounded disorder evicts buffered SCD2 state MID-drain") {
    import graft.streaming.MicroBatch.{Arrival, replayRun}
    import graft.streaming.Stateful
    def drain(arrival: Arrival): Seq[Long] = {
      val t = replayRun(spark, sf, arrival, lit(true))(
        new Stateful.Scd2Buffered, "user_id", "event_type", "ts_us", "event_id")
      // per-commit emission counts: every micro-batch is one version
      val vs = t.versions.sorted
      val counts = vs.map(v => t.snapshot(v).count())
      counts.zip(0L +: counts.init).map { case (a, b) => a - b }
    }
    // full-range delay (q382 shape): the watermark never passes a real
    // row mid-drain, so EVERYTHING flushes at the sentinel-driven final
    // timer batch — the honest worst case of unbounded disorder
    val full = drain(Arrival.FullDisorder)
    assert(full.sum > 0 && full.takeWhile(_ == 0L).length == full.length - 1
      && full.last == full.sum,
      s"full-range drain should emit only at the final flush: $full")
    // bounded 6h jitter under a 7h delay (q383 shape): the watermark
    // genuinely advances mid-drain, so buffered rows flush (and state
    // evicts) incrementally across commits, not just at the sentinel
    val bounded = drain(Arrival.BoundedJitter)
    val midEmitting = bounded.dropRight(1).count(_ > 0L)
    assert(midEmitting >= 2,
      s"bounded-disorder drain must emit mid-drain (eviction), got $bounded")
    assert(bounded.last < bounded.sum,
      s"final flush should carry only the tail: $bounded")
  }

  // ---------------- FromCounts histogram domain budget ----------------

  private def unquantized(n: Int) =
    (1 to n).map(i => ("g", i.toLong, 1L)).toDF("g", "value", "c")

  test("FromCounts folds fail loud past the histogram domain budget") {
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "giniFromCounts" -> Stats.giniFromCounts(unquantized(200), "g",
        domainBudget = 100L),
      "decilesFromCounts" -> Stats.decilesFromCounts(unquantized(200), "g",
        domainBudget = 100L),
      "modeFromCounts" -> Stats.modeFromCounts(unquantized(200), "g",
        domainBudget = 100L)
    ).foreach { case (who, df) =>
      val e = intercept[Exception] { df.collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(
        s"$who: per-group distinct-value count exceeds the histogram " +
          "domain budget (100) for group g")),
        s"$who guard did not fire loudly: ${messages(e).mkString(" | ")}")
    }
  }

  // ---------------- r17 analytics differentials ----------------

  test("mannWhitneyU ≡ brute midrank replay (ties included)") {
    val rnd = new scala.util.Random(1701)
    val rows = (1 to 3000).map(i =>
      ("g" + (i % 2), if (rnd.nextBoolean()) 1L else 0L,
        rnd.nextInt(40).toLong * 5))
    val out = Stats.mannWhitneyU(rows.toDF("g", "s", "v"), "g",
        col("s"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val na = rs.count(_._2 == 1L).toLong
      val nb = rs.size - na
      val n = na + nb
      // doubled midranks via sort: block of ties at positions
      // [lo+1, lo+c] has doubled midrank 2lo + c + 1
      val byV = rs.groupBy(_._3).toSeq.sortBy(_._1)
      var lo = 0L
      var r2a = BigInt(0)
      var t = BigInt(0)
      byV.foreach { case (_, block) =>
        val c = block.size.toLong
        val ca = block.count(_._2 == 1L).toLong
        r2a += BigInt(ca) * (2 * lo + c + 1)
        t += BigInt(c) * (c - 1) * (c + 1)
        lo += c
      }
      val u2 = r2a - BigInt(na) * (na + 1)
      val nanb = BigInt(na) * nb
      val bterm = BigInt(n + 1) * n * (n - 1) - t
      val m12 = BigInt(12) * n * (n - 1)
      val zExp =
        if (na > 0 && nb > 0 && bterm > 0)
          Some((u2 - nanb).toDouble /
            (2.0 * math.sqrt(nanb.toDouble * bterm.toDouble / m12.toDouble)))
        else None
      val (gna, gnb, gu2, gz) = out(g)
      assert(gna == na && gnb == nb && BigInt(gu2) == u2)
      assert(gz == zExp, s"$g: z $gz vs $zExp")
    }
  }

  test("cliffsDelta ≡ brute cross-pair count") {
    val rnd = new scala.util.Random(1702)
    val rows = (1 to 400).map(i =>
      ("g", if (rnd.nextBoolean()) 1L else 0L, rnd.nextInt(15).toLong))
    val r = Stats.cliffsDelta(rows.toDF("g", "s", "v"), "g",
      col("s"), col("v")).collect().head
    val as = rows.filter(_._2 == 1L).map(_._3)
    val bs = rows.filter(_._2 == 0L).map(_._3)
    val gt = (for (a <- as; b <- bs) yield if (a > b) 1L else 0L).sum
    val ltc = (for (a <- as; b <- bs) yield if (a < b) 1L else 0L).sum
    assert(r.getLong(1) == as.size.toLong && r.getLong(2) == bs.size.toLong)
    assert(BigInt(r.getString(3)) == BigInt(gt - ltc))
    assert(r.getDouble(4) ==
      (BigInt(gt - ltc).toDouble / (BigInt(as.size) * bs.size).toDouble))
  }

  test("crossCorrelation ≡ local replay on seeded series") {
    val rnd = new scala.util.Random(1703)
    val as = (0 until 40).map(t => (t.toLong, (50 + rnd.nextInt(100)).toLong))
    // B trails A by 2 steps plus noise — the lead the CCF should see
    val bs = (2 until 40).map(t =>
      (t.toLong, as(t - 2)._2 + rnd.nextInt(5).toLong))
    val out = Stats.crossCorrelation(as.toDF("t", "x"), bs.toDF("t", "x"),
        maxLag = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def cxOf(xs: Seq[(Long, Long)]): Map[Long, BigInt] = {
      val n = BigInt(xs.size)
      val s = xs.map(x => BigInt(x._2)).sum
      xs.map { case (t, x) => t -> (n * x - s) }.toMap
    }
    val (ca, cb) = (cxOf(as), cxOf(bs))
    val da = ca.values.map(c => c * c).sum
    val db = cb.values.map(c => c * c).sum
    (-4 to 4).foreach { k =>
      val pairs = as.flatMap { case (t, _) =>
        cb.get(t + k).map(b => ca(t) * b)
      }
      val (np, r) = out(k.toLong)
      assert(np == pairs.size.toLong, s"lag $k pairs")
      assert(r == pairs.sum.toDouble /
        math.sqrt(da.toDouble * db.toDouble), s"lag $k")
    }
    // the planted 2-step lead dominates
    assert((-4 to 4).maxBy(k => out(k.toLong)._2) == 2)
  }

  test("sourceTvDistance ≡ brute distribution distance (incl. disjoint pair)") {
    // s4's vocabulary is DISJOINT from every other source — the
    // maximally-drifted pairs must emit tv = 1, not vanish from the
    // output (they share no value, so the co-occurrence join alone
    // would drop them)
    val docs = Seq(
      (1L, "s1", "a a b c d"), (2L, "s1", "a b b e"),
      (3L, "s2", "a c c f"), (4L, "s2", "b c g g g"),
      (5L, "s3", "a a a a"), (6L, "s4", "x y z x")).toDF(
      "doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.sourceTvDistance(docs, "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(4), r.getDouble(5))).toMap
    def dist(src: String): Map[String, Long] = Map(
      "s1" -> Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 1L, "e" -> 1L),
      "s2" -> Map("a" -> 1L, "b" -> 1L, "c" -> 3L, "f" -> 1L, "g" -> 3L),
      "s3" -> Map("a" -> 4L),
      "s4" -> Map("x" -> 2L, "y" -> 1L, "z" -> 1L))(src)
    val srcs = Seq("s1", "s2", "s3", "s4")
    assert(out.size == 6) // every pair present, disjoint ones included
    for (Seq(x, y) <- srcs.combinations(2)) {
      val (da, db) = (dist(x), dist(y))
      val (na, nb) = (da.values.sum, db.values.sum)
      val num = (da.keySet ++ db.keySet).toSeq.map(tok =>
        (BigInt(da.getOrElse(tok, 0L)) * nb -
          BigInt(db.getOrElse(tok, 0L)) * na).abs).sum
      val (gotNum, gotTv) = out((x, y))
      assert(BigInt(gotNum) == num, s"($x,$y) num")
      assert(gotTv == num.toDouble / (BigInt(2) * na * nb).toDouble,
        s"($x,$y) tv")
    }
    assert(out(("s1", "s4"))._2 == 1.0d && out(("s3", "s4"))._2 == 1.0d)
  }

  test("heapsCurve ≡ local first-occurrence replay") {
    val docs = (1 to 40).map(i =>
      (i.toLong, s"tok${i / 3} tok${i / 7} common")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.heapsCurve(docs)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val toks = (1 to 40).flatMap(i =>
      Seq(s"tok${i / 3}", s"tok${i / 7}", "common").map(_ -> i.toLong))
    val fo = toks.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    (1 to 10).foreach { b =>
      val nPrefix = (b * 40) / 10
      val vocab = fo.values.count(_ <= nPrefix).toLong // ids are 1..40 dense
      val row = out.find(_._1 == b.toLong).get
      assert(row._2 == nPrefix.toLong && row._4 == vocab,
        s"bucket $b: $row vs ($nPrefix, $vocab)")
    }
    assert(out.map(_._3).sum == out.last._4) // new_tokens sums to vocab
  }

  test("mannWhitneyFromCounts fragments fold ≡ one-shot (additivity)") {
    val rnd = new scala.util.Random(1704)
    val rows = (1 to 2000).map(i =>
      ("g" + (i % 3), if (rnd.nextBoolean()) 1L else 0L,
        rnd.nextInt(25).toLong))
    def hist(part: Seq[(String, Long, Long)]) =
      part.toDF("g", "s", "v")
        .groupBy(col("g"), col("v").as("value"))
        .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("ca"),
          sum(when(col("s") === 1, 0L).otherwise(1L)).as("cb"))
    val frags = rows.grouped(500).map(hist).reduce(_ unionByName _)
    val folded = Stats.mannWhitneyFromCounts(frags, "g")
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val oneShot = Stats.mannWhitneyU(rows.toDF("g", "s", "v"), "g",
        col("s"), col("v"))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(folded == oneShot)
  }

  test("benford/tv fragment folds ≡ one-shot (additivity)") {
    val rnd = new scala.util.Random(1705)
    val vals = (1 to 3000).map(_ => ("g" + rnd.nextInt(3),
      (1 + rnd.nextInt(9999)).toLong))
    // benford: (digit, c) fragments across 3 slices ≡ one-shot
    val bFrags = vals.grouped(1000).map(part =>
      part.map(_._2).toDF("v")
        .select(substring(col("v").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("c")))
      .reduce(_ unionByName _)
    val bFold = Stats.benfordFromCounts(bFrags)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val bOne = Stats.benfordFromCounts(
        vals.map(_._2).toDF("v")
          .select(substring(col("v").cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("c")))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(bFold.toSeq == bOne.toSeq)
    // tv: (group, value, c) fragments ≡ one-shot distance
    val tFrags = vals.grouped(1000).map(part =>
      part.toDF("g", "value").groupBy("g", "value")
        .agg(count(lit(1)).as("c")))
      .reduce(_ unionByName _)
    val tFold = graft.operators.TextAnalysis.tvFromCounts(tFrags, "g")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val tOne = graft.operators.TextAnalysis.tvFromCounts(
        vals.toDF("g", "value").groupBy("g", "value")
          .agg(count(lit(1)).as("c")), "g")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(tFold.toSeq == tOne.toSeq)
  }

  test("sequenceSupport ≡ brute replay") {
    val rnd = new scala.util.Random(1706)
    val types = Seq("a", "b", "c", "d")
    val evs = (1 to 2000).map(i => (rnd.nextInt(50).toLong,
      types(rnd.nextInt(4)), rnd.nextInt(300).toLong, i.toLong))
    val df = evs.toDF("user_id", "event_type", "ts_us", "event_id")
    val seq = graft.operators.EventAnalytics.sequenceSupport(df)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val firsts = evs.groupBy(e => (e._1, e._2))
      .map { case ((u, t), xs) => (u, t) -> xs.map(e => (e._3, e._4)).min }
    for (a <- types; b <- types if a != b) {
      val users = evs.map(_._1).distinct
        .filter(u => firsts.contains((u, a)) && firsts.contains((u, b)))
      val aFirst = users.count(u => {
        val (fa, fb) = (firsts((u, a)), firsts((u, b)))
        fa._1 < fb._1 || (fa._1 == fb._1 && fa._2 < fb._2)
      })
      assert(seq.get((a, b)).map(_._1) ==
        (if (users.nonEmpty) Some(users.size.toLong) else None))
      if (users.nonEmpty) assert(seq((a, b))._2 == aFirst.toLong, s"($a,$b)")
    }
  }

  test("q396/q398 streaming transition facts ≡ q235 batch lag window (sf0.001)") {
    val batch = graft.operators.EventAnalytics.transitionMatrix(
        graft.Tables.events(spark, sf))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    Seq("q396_stream_markov", "q398_stream_markov_ooo").foreach { q =>
      val streamed = graft.queries.R17Q.queries(q)(spark, sf)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        s"$q must carry batch-boundary transitions (strict) / " +
          "re-sorted disorder (buffered)")
    }
  }

  test("FromCounts folds unchanged inside the domain budget") {
    val frags = Seq(("g", 10L, 3L), ("g", 20L, 5L), ("g", 30L, 2L),
      ("h", 10L, 4L), ("h", 40L, 4L)).toDF("g", "value", "c")
    val mode = Stats.modeFromCounts(frags, "g").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mode("g") == ((20L, 5L)))
    assert(mode("h") == ((10L, 4L))) // tie 4/4 → smallest value
    val gini = Stats.giniFromCounts(frags, "g").collect()
    assert(gini.length == 2 && gini.forall(!_.isNullAt(3)))
    val dec = Stats.decilesFromCounts(frags, "g").collect()
    assert(dec.length == 18) // 9 deciles × 2 groups
  }
}
