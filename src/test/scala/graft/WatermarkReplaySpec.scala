package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Stateful

/** Seeded random-disorder property for the [[Stateful.WatermarkOrderedReplay]]
  * skeleton (r17): events with BOUNDED per-event arrival jitter are
  * fed to a MemoryStream in ARRIVAL order across several
  * micro-batches — so event-time order is genuinely violated within
  * and across batches, bounded by the jitter — and both replay faces
  * (SCD2 change detection, transition emission) must reproduce the
  * in-memory batch replay EXACTLY once two staggered far-future
  * sentinel batches push the watermark past every real row. This
  * pins the skeleton's contract on arbitrary seeds, not just the
  * testdata distributions the oracle gate exercises. */
class WatermarkReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val hourUs = 3600L * 1000000L

  /** (key, attr, tsUs, id) events + the arrival-ordered batches. */
  private def scenario(seed: Int): (Seq[(Long, String, Long, Long)],
                                    Seq[Seq[(Long, String, Long, Long)]]) = {
    val rnd = new scala.util.Random(seed)
    val attrs = Seq("a", "b", "c")
    val events = (1 to 600).map { i =>
      (rnd.nextInt(25).toLong, attrs(rnd.nextInt(3)),
        rnd.nextLong(30L * 24L * hourUs), i.toLong)
    }
    val maxTs = events.map(_._3).max
    val jitter = 6L * hourUs // watermark delay 7h covers it
    val byArrival = events.sortBy { case (_, _, ts, id) =>
      (ts + (scala.util.hashing.MurmurHash3.stringHash(s"$seed|$id").toLong
        .abs % jitter), id)
    }
    // genuine disorder: arrival order must differ from event-time order
    assert(byArrival.map(_._3) != byArrival.map(_._3).sorted ||
      byArrival != events.sortBy(e => (e._3, e._4)))
    val batches = byArrival.grouped(150).toSeq ++ Seq(
      Seq((-1L, "s", maxTs + 8L * hourUs, -1L)),
      Seq((-1L, "s", maxTs + 16L * hourUs, -2L)))
    (events, batches)
  }

  private def drain(batches: Seq[Seq[(Long, String, Long, Long)]],
                    delay: String = "7 hours")(
      transform: org.apache.spark.sql.KeyValueGroupedDataset[
        Long, (Long, String, Long, Long)] =>
        org.apache.spark.sql.Dataset[_]): Seq[org.apache.spark.sql.Row] =
    Stateful.withRocksDBStateStore(spark) {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String, Long, Long)]
      val grouped = input.toDS()
        .select(col("_1").as("k"), col("_2").as("attr"),
          timestamp_micros(col("_3")).as("ts"), col("_4").as("id"))
        .withWatermark("ts", delay)
        .select(col("k"), col("attr"), unix_micros(col("ts")), col("id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
      val name = s"wmreplay_${System.nanoTime()}"
      val q = transform(grouped).toDF().writeStream.format("memory")
        .queryName(name).outputMode("update").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect().toSeq
      } finally q.stop()
    }

  test("re-arm survives a watermark landing exactly on the earliest " +
      "buffered row's millisecond (r18 review: stranded-timer collision)") {
    // The engine fires timers with ts <= watermark, keeps the FIRED
    // timer in the store during the callback, and registerTimer
    // SILENTLY SKIPS a same-expiry registration — so a flush whose
    // remainder floors to the fired ms must arm strictly later or the
    // buffered rows strand forever. Craft exactly that: a row at
    // 10_000_500µs (timer at 10_000ms), watermark pushed to exactly
    // 10_000ms (row not ready: 10_000_500 >= 10_000_000), then
    // advanced past it — the change row MUST still come out.
    Stateful.withRocksDBStateStore(spark) {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String, Long, Long)]
      val grouped = input.toDS()
        .select(col("_1").as("k"), col("_2").as("attr"),
          timestamp_micros(col("_3")).as("ts"), col("_4").as("id"))
        .withWatermark("ts", "2 seconds")
        .select(col("k"), col("attr"), unix_micros(col("ts")), col("id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
      val name = s"wmcollision_${System.nanoTime()}"
      val q = Stateful.replay(grouped, new Stateful.Scd2Buffered).toDF().writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try {
        // batch 1: the victim row + a max-ts row pushing wm to 10_000ms
        input.addData((1L, "a", 10000500L, 1L), (-2L, "x", 12000000L, 900L))
        q.processAllAvailable()
        // batch 2: no wm advance — the 10_000ms timer fires, row not
        // ready, the re-arm must dodge the fired expiry
        input.addData((-3L, "x", 12000000L, 901L))
        q.processAllAvailable()
        // batch 3: advance wm past the row — the dodged timer must fire
        input.addData((-4L, "x", 14000000L, 902L))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
          .filter(_._1 == 1L).toSeq
        assert(got == Seq((1L, "a", 10000500L, 1L)),
          s"buffered row stranded after same-ms timer collision: $got")
      } finally q.stop()
    }
  }

  test("many-flush drain: repeated prefix deletion + re-arm replays " +
      "exactly once (slow watermark, 24 batches)") {
    // The r18 MapState restructure deletes the READY PREFIX per flush
    // and re-arms; this drives that path ~20 times per key (the seeded
    // jitter properties flush only a few times): 24 tiny
    // arrival-ordered batches under a 30-minute disorder bound, so the
    // watermark advances a little every batch and every key flushes a
    // small prefix repeatedly — including re-arms whose remainder
    // floors near the fired expiry.
    val rnd = new scala.util.Random(1804)
    val events = (1 to 960).map { i =>
      (rnd.nextInt(8).toLong, Seq("a", "b", "c")(rnd.nextInt(3)),
        rnd.nextLong(24L * hourUs), i.toLong)
    }
    val jitter = hourUs / 2
    val byArrival = events.sortBy { case (_, _, ts, id) =>
      (ts + (scala.util.hashing.MurmurHash3.stringHash(s"mf|$id").toLong
        .abs % jitter), id)
    }
    val maxTs = events.map(_._3).max
    val batches = byArrival.grouped(40).toSeq ++ Seq(
      Seq((-1L, "s", maxTs + 2L * hourUs, -1L)),
      Seq((-1L, "s", maxTs + 4L * hourUs, -2L)))
    val got = drain(batches, delay = "35 minutes")(Stateful.replay(_, new Stateful.Scd2Buffered))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 >= 0).sorted
    val expect = events.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._4))
      sorted.zip(None +: sorted.map(Some(_))).collect {
        case (r, prev) if prev.forall(_._2 != r._2) => (k, r._2, r._3, r._4)
      }
    }.sorted
    assert(got == expect, s"many-flush: ${got.size} vs ${expect.size}")
  }

  for (seed <- Seq(171, 172, 173)) {
    test(s"scd2Buffered ≡ batch change replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val got = drain(batches)(Stateful.replay(_, new Stateful.Scd2Buffered))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 >= 0).sorted
      val expect = events.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._4))
        sorted.zip(None +: sorted.map(Some(_))).collect {
          case (r, prev) if prev.forall(_._2 != r._2) =>
            (k, r._2, r._3, r._4)
        }
      }.sorted
      assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size}")
    }

    test(s"funnelBuffered ≡ batch windowed-funnel replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val steps = Seq("a", "b", "c")
      val withinUs = Seq(48L * hourUs, 48L * hourUs)
      val got = drain(batches)(
          Stateful.replay(_, new Stateful.FunnelBuffered(steps, withinUs)))
        .map(r => (r.getLong(0), r.getInt(1)))
        .filter(_._1 >= 0)
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      // local forward replay in exact (ts, id) order — entry k is the
      // first steps(k) event strictly after entry k-1 within the bound
      val expect = events.groupBy(_._1).view.mapValues { rs =>
        rs.sortBy(r => (r._3, r._4)).foldLeft(Seq.empty[Long]) { (es, r) =>
          val d = es.size
          if (d < steps.size && r._2 == steps(d) &&
              (d == 0 || (r._3 > es.last && r._3 <= es.last + withinUs(d - 1))))
            es :+ r._3
          else es
        }.size
      }.filter(_._2 > 0).toMap
      assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size} keys")
    }

    test(s"asOfBuffered ≡ batch point-in-time replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val got = drain(batches)(Stateful.replay(_, new Stateful.AsOfBuffered("a", "b")))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 >= 0).sorted
      val expect = events.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._4))
        sorted.foldLeft((-1L, Seq.empty[(Long, Long, Long)])) {
          case ((dim, acc), r) =>
            if (r._2 == "a") (r._4, acc)
            else if (r._2 == "b") (dim, acc :+ ((k, r._4, dim)))
            else (dim, acc)
        }._2
      }.sorted
      assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size}")
    }

    test(s"sessionBuffered ≡ batch dynamic-gap session replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      // attr "a" cools off in 2h, everything else holds 5h — the
      // q190 two-gap shape on the property's alphabet
      val gaps = Map("a" -> 2L * hourUs)
      val dflt = 5L * hourUs
      val got = drain(batches)(Stateful.replay(_, new Stateful.SessionBuffered(gaps, dflt)))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 >= 0)
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).max)
        .toMap
      // local forward replay in exact (ts, id) order: session end is
      // the running max of ts+gap, a row at/past it opens a session
      val expect = events.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        rs.sortBy(r => (r._3, r._4))
          .foldLeft(Vector.empty[(Long, Long, Long)]) { (acc, r) =>
            val gap = gaps.getOrElse(r._2, dflt)
            acc.lastOption match {
              case Some((st, we, n)) if r._3 < we =>
                acc.init :+ ((st, math.max(we, r._3 + gap), n + 1))
              case _ => acc :+ ((r._3, r._3 + gap, 1L))
            }
          }.map(sess => (k, sess._1) -> sess._3)
      }.toMap
      assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size}")
    }

    test(s"gapBuffered ≡ batch lag-delta replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val got = drain(batches)(Stateful.replay(_, new Stateful.GapBuffered))
        .map(r => (r.getString(0), r.getLong(1)))
        .filterNot(_._1 == "s")
        .groupBy(identity).view.mapValues(_.size).toMap
      val expect = events.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._4))
        ordered.zip(ordered.tail).map { case (p, c) =>
          (c._2, (c._3 - p._3) / 1000000L)
        }
      }.groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expect, s"seed $seed")
    }

    test(s"rateBuffered ≡ batch sliding-window count replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val windowUs = 24L * hourUs
      val got = drain(batches)(Stateful.replay(_, new Stateful.RateBuffered(windowUs)))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._1 >= 0).sorted
      // local forward replay: each event counts the (ts, id)-ordered
      // predecessors (itself included) with ts strictly inside the
      // trailing window — the ring semantics, from first principles
      val expect = events.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._4))
        ordered.zipWithIndex.map { case (r, i) =>
          (k, r._4,
            ordered.take(i + 1).count(p => p._3 > r._3 - windowUs).toLong)
        }
      }.sorted
      assert(got == expect, s"seed $seed: ${got.size} vs ${expect.size}")
    }

    test(s"transitionBuffered ≡ batch pair replay under bounded disorder (seed $seed)") {
      val (events, batches) = scenario(seed)
      val got = drain(batches)(Stateful.replay(_, new Stateful.TransitionBuffered))
        .map(r => (r.getString(0), r.getString(1)))
        .filterNot(p => p._1 == "s" || p._2 == "s")
        .groupBy(identity).view.mapValues(_.size).toMap
      val expect = events.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._4)).map(_._2)
        ordered.zip(ordered.tail)
      }.groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expect, s"seed $seed")
    }
  }
}
