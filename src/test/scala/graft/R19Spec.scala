package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 pins: the dynamic-session replay face and the jittered
  * funnel face fold to their batch builds bit-exactly on the engine
  * path (RocksDB + file source), the jittered funnel flushes its
  * Seq-typed replay state MID-drain (per-commit eviction, the R17Spec
  * discipline), and the sentinel-survival contract fails LOUD instead
  * of silently truncating when a pre-processor filter drops the
  * sentinel (VERDICT r18 wrong #2 — found by hand in r18, now a
  * guard). */
class R19Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("q408 disordered drain ≡ q190 batch dynamic sessions (sf0.001)") {
    val batch = graft.queries.ExtendedQ.queries("q190_dynamic_sessions")(
      spark, sf).collect().map(_.toSeq).toSeq
    val got = graft.queries.R19Q.queries("q408_stream_sessions_ooo")(
      spark, sf).collect().map(_.toSeq).toSeq
    assert(got == batch, "q408 drain diverged from the batch session build")
  }

  test("q409 jittered drain ≡ q204 batch windowed funnel (sf0.001)") {
    val batch = graft.queries.ExtendedQ.queries("q204_windowed_funnel")(
      spark, sf).collect().map(_.toSeq).toSeq
    val got = graft.queries.R19Q.queries("q409_stream_funnel_jitter")(
      spark, sf).collect().map(_.toSeq).toSeq
    assert(got == batch, "q409 drain diverged from the batch funnel build")
  }

  test("bounded jitter flushes buffered funnel state MID-drain " +
      "(per-commit eviction of the Seq-typed replay state)") {
    import graft.streaming.MicroBatch.{Arrival, replayRun}
    import graft.streaming.Stateful
    val t = replayRun(spark, sf, Arrival.BoundedJitter,
        col("event_type").isin("view", "click", "purchase"))(
      new Stateful.FunnelBuffered(Seq("view", "click", "purchase"),
        Seq(86400L * 1000000L, 86400L * 1000000L)),
      "user_id", "depth")
    // per-commit emission counts: every micro-batch is one version
    val vs = t.versions.sorted
    val counts = vs.map(v => t.snapshot(v).count())
    val deltas = counts.zip(0L +: counts.init).map { case (a, b) => a - b }
    val midEmitting = deltas.dropRight(1).count(_ > 0L)
    assert(midEmitting >= 2,
      s"jittered funnel drain must emit mid-drain (eviction), got $deltas")
    assert(deltas.last < deltas.sum,
      s"final flush should carry only the tail: $deltas")
  }

  test("dropping the sentinel from a buffered replay drain fails LOUD " +
      "(sentinel-survival guard)") {
    import graft.streaming.{MicroBatch, Stateful}
    val in = MicroBatch.stageArrival(spark, sf, MicroBatch.Arrival.FullDisorder)
    assert(MicroBatch.sentinelBoundaryUs(in).nonEmpty,
      "sentinel staging must register the real-max boundary")
    // the q399 shape with the sentinel FILTERED OUT of the
    // pre-processor — Catalyst pushes the filter below the watermark
    // node, the final watermark never advances past the real rows, and
    // before r19 the buffered tail silently vanished from the result.
    // Plain updateRun, not replayRun: replayRun keeps the sentinel by
    // construction, so only a hand-built chain can drop it.
    val e = intercept[IllegalArgumentException] {
      MicroBatch.updateRun(spark, sf, inDir = Some(in)) { stream =>
        import spark.implicits._
        Stateful.replay(
          graft.Tables.toEventTime(stream)
            .withWatermark("ts", "45 days")
            .filter(col("event_type").isin("view", "click", "purchase"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1),
          new Stateful.FunnelBuffered(Seq("view", "click", "purchase"),
            Seq(86400L * 1000000L, 86400L * 1000000L)))
          .toDF("user_id", "depth")
      }
    }
    assert(e.getMessage.contains("sentinel-survival violated"),
      s"guard did not name the contract: ${e.getMessage}")
  }

  test("q410 jittered drain ≡ q190 batch dynamic sessions (sf0.001)") {
    val batch = graft.queries.ExtendedQ.queries("q190_dynamic_sessions")(
      spark, sf).collect().map(_.toSeq).toSeq
    val got = graft.queries.R19Q.queries("q410_stream_sessions_jitter")(
      spark, sf).collect().map(_.toSeq).toSeq
    assert(got == batch, "q410 drain diverged from the batch session build")
  }

  test("q413/q414 jittered drains ≡ their full-disorder twins (sf0.001)") {
    Seq(("q413_stream_markov_jitter", "q398_stream_markov_ooo",
          (q: String) => graft.queries.R17Q.queries(q)),
        ("q414_stream_asof_jitter", "q404_stream_asof_ooo",
          (q: String) => graft.queries.R18Q.queries(q))).foreach {
      case (jit, full, twinOf) =>
        val a = graft.queries.R19Q.queries(jit)(spark, sf)
          .collect().map(_.toSeq).toSeq
        val b = twinOf(full)(spark, sf).collect().map(_.toSeq).toSeq
        assert(a == b, s"$jit diverged from $full")
    }
  }

  test("sourceCosine ≡ brute integer dot/norm replay (incl. disjoint pair)") {
    import spark.implicits._
    // s4 is token-DISJOINT from the others — must emit cosine 0.0,
    // not vanish (the q389/q406 spine rule)
    val docs = Seq(
      (1L, "s1", "a a b c d"), (2L, "s1", "a b b e"),
      (3L, "s2", "a c c f"), (4L, "s2", "b c g g g"),
      (5L, "s3", "a a a a"), (6L, "s4", "x y z x")).toDF(
      "doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.sourceCosine(docs, "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getString(3), r.getString(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    def dist(src: String): Map[String, Long] = Map(
      "s1" -> Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "d" -> 1L, "e" -> 1L),
      "s2" -> Map("a" -> 1L, "b" -> 1L, "c" -> 3L, "f" -> 1L, "g" -> 3L),
      "s3" -> Map("a" -> 4L),
      "s4" -> Map("x" -> 2L, "y" -> 1L, "z" -> 1L))(src)
    val srcs = Seq("s1", "s2", "s3", "s4")
    assert(out.size == 6)
    for (Seq(x, y) <- srcs.combinations(2)) {
      val (da, db) = (dist(x), dist(y))
      val dot = da.keySet.intersect(db.keySet).toSeq
        .map(t => BigInt(da(t)) * db(t)).sum
      val na2 = da.values.map(c => BigInt(c) * c).sum
      val nb2 = db.values.map(c => BigInt(c) * c).sum
      val (gDot, gNa2, gNb2, gCos) = out((x, y))
      assert(BigInt(gDot) == dot && BigInt(gNa2) == na2 &&
        BigInt(gNb2) == nb2, s"($x,$y) integers")
      assert(gCos == Some(dot.toDouble /
        (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble))), s"($x,$y)")
    }
    assert(out(("s1", "s4"))._4 == Some(0.0d) &&
      out(("s3", "s4"))._4 == Some(0.0d))
  }

  test("fanoFromCounts ≡ brute variance/mean replay, fragments fold, " +
      "width budget fails loud") {
    import spark.implicits._
    val rnd = new scala.util.Random(1901)
    val rows = (1 to 3000).map(i =>
      ("g" + (i % 3), rnd.nextInt(500).toLong * (1 + i % 2)))
    def hist(part: Seq[(String, Long)]) =
      part.toDF("g", "value").groupBy("g", "value")
        .agg(count(lit(1)).as("c"))
    val one = graft.operators.Stats.fanoFromCounts(hist(rows), "g")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val n = BigInt(rs.size)
      val sv = rs.map(r => BigInt(r._2)).sum
      val sv2 = rs.map(r => BigInt(r._2) * r._2).sum
      val num = n * sv2 - sv * sv
      val (gn, gnum, gvmr) = one(g)
      assert(gn == rs.size.toLong && BigInt(gnum) == num, s"$g integers")
      assert(gvmr == (if (n * sv > 0)
        Some(num.toDouble / (n * sv).toDouble) else None), s"$g vmr")
    }
    // additivity: split fragments fold to the same rows
    val folded = graft.operators.Stats.fanoFromCounts(
        rows.grouped(700).map(hist).reduce(_ unionByName _), "g")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Stats.fanoFromCounts(hist(rows), "g")
      .collect().map(_.toSeq).toSet
    assert(folded == oneShot)
    // width budget: |value| >= 10^7 fails with the named contract
    val e = intercept[Exception] {
      graft.operators.Stats.fanoFromCounts(
        Seq(("g", 10000000L, 1L)).toDF("g", "value", "c"), "g").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("10^7 width budget")))
  }

  test("SessionBuffered rejects non-positive gaps (the funnel " +
      "positivity contract, ADVICE r18)") {
    Seq(
      (Map.empty[String, Long], 0L),
      (Map("a" -> -1L), 3600000000L)
    ).foreach { case (byType, dflt) =>
      val e = intercept[IllegalArgumentException] {
        new graft.streaming.Stateful.SessionBuffered(byType, dflt)
      }
      assert(e.getMessage.contains("strictly positive"))
    }
    val e2 = intercept[IllegalArgumentException] {
      new graft.streaming.Stateful.FunnelBuffered(Seq("a", "b"), Seq(0L))
    }
    assert(e2.getMessage.contains("strictly positive"))
  }
}
