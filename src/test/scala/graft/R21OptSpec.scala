package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 OPTIMIZATION pins — operator internals that changed
  * without touching any query's result:
  *
  *  - `Stateful.RateBuffered` keeps its ring as a Vector with an
  *    indexed prefix scan (amortized O(1) per event; the r20 immutable
  *    Seq shape copied the whole ring per event) — a hot key with far
  *    more in-window events than any sf0.1 key must still count
  *    exactly and keep the ring bounded by the in-window count.
  *  - `LakeTable.optimizeClusterBy` computes per-dir blooms in ONE
  *    grouped pass (computeBloomPartitioned): the per-dir ndv cap
  *    must behave exactly like the old per-dir loop — an over-512-ndv
  *    directory records no bloom and stays unprunable (safe
  *    over-approximation, no false negatives).
  */
class R21OptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("RateBuffered: hot key with 5000 in-order events counts exactly " +
      "and the ring never exceeds the in-window event count") {
    val windowUs = 100L * 1000000L // 100 s
    val stepUs = 1000000L          // 1 event/s → 100 in-window at steady state
    val rb = new streaming.Stateful.RateBuffered(windowUs) {
      def stepPub(st: Option[Tuple1[Seq[Long]]], row: (String, Long, Long)) =
        step(7L, st, row)
    }
    var st: Option[Tuple1[Seq[Long]]] = None
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 5000).foreach { i =>
      val ts = i.toLong * stepUs
      all += ts
      val (ns, out) = rb.stepPub(st, ("e", ts, i.toLong))
      val expect = all.count(t => t > ts - windowUs).toLong
      val got = out.iterator.next()
      assert(got == ((7L, i.toLong, expect)), s"event $i: $got")
      assert(ns._1.length == expect, s"ring size at $i: ${ns._1.length}")
      st = Some(ns)
    }
    // steady state: the ring holds exactly the trailing window
    assert(st.get._1.length == 100)
  }

  test("RateBuffered: ring round-trips through a non-Vector Seq " +
      "(the state-store decode path) without changing counts") {
    val windowUs = 10L
    val rb = new streaming.Stateful.RateBuffered(windowUs) {
      def stepPub(st: Option[Tuple1[Seq[Long]]], row: (String, Long, Long)) =
        step(1L, st, row)
    }
    // simulate a decode: hand the step a List-backed Seq
    val decoded = Some(Tuple1(List(95L, 97L, 99L): Seq[Long]))
    val (ns, out) = rb.stepPub(decoded, ("e", 105L, 42L))
    // 95 ≤ 105−10 evicts; (97, 99, 105) remain
    assert(ns._1 == Vector(97L, 99L, 105L))
    assert(out.iterator.next() == ((1L, 42L, 3L)))
  }

  test("optimizeClusterBy: an over-512-ndv directory records no bloom " +
      "and stays unprunable — the grouped bloom pass keeps the per-dir cap") {
    val s = spark
    import s.implicits._
    // 1500 distinct terms over 2 buckets → ~750 ndv per dir, over the cap
    val df = (1 to 1500).map(i => (i.toLong, s"term$i")).toDF("id", "term")
    val t = graft.lake.LakeTable.createTemp(spark,
      df.repartition(3), "graft-r21cap")
    t.optimizeClusterBy("term", buckets = 2)
    val (kept, total) = t.prunedDirsEq("term", "term77")
    assert(total == 2 && kept.size == total,
      s"over-cap dirs must stay unprunable (kept ${kept.size}/$total)")
    // no false negatives: the unpruned read still finds the row
    val got = t.snapshot()
      .filter(col("term") === "term77").count()
    assert(got == 1L)
  }
}
