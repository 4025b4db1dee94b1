package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.MicroBatch.{Arrival, replayRun}

/** The two arrival contracts of the ordered-replay drains
  * ([[MicroBatch.Arrival]]): each watermark delay must stay below its
  * sentinel interval (else the final watermark never clears the last
  * real event), bounded jitter's delay must cover its jitter (else
  * rows arrive late and are dropped), and [[MicroBatch.prestage]]
  * stages a sentinel dir for every contract. [[MicroBatch.replayRun]]
  * keeps the sentinel whatever its `keep` filter says. */
class ArrivalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every arrival's watermark delay is strictly less than its sentinel interval") {
    assert(Arrival.values.toSet == Set(Arrival.FullDisorder, Arrival.BoundedJitter))
    Arrival.values.foreach { a =>
      assert(a.delay.compareTo(a.sentinelInterval) < 0,
        s"$a: delay ${a.delay} must be < sentinel interval ${a.sentinelInterval}")
    }
  }

  test("bounded jitter's watermark delay covers its max jitter") {
    val j = Arrival.BoundedJitter
    assert(!j.maxJitter.isNegative && !j.maxJitter.isZero)
    assert(j.delay.compareTo(j.maxJitter) >= 0,
      s"delay ${j.delay} must be >= max jitter ${j.maxJitter}")
  }

  test("prestage registers a sentinel boundary for every arrival's landing dir (sf0.001)") {
    MicroBatch.prestage(spark, sf)
    Arrival.values.foreach { a =>
      val in = MicroBatch.stageArrival(spark, sf, a)
      assert(MicroBatch.sentinelBoundaryUs(in).isDefined, s"$a: $in")
    }
  }

  test("replayRun keeps the sentinel when keep omits it: q404-shaped drain ≡ q404 (sf0.001)") {
    val got = replayRun(spark, sf, Arrival.FullDisorder,
        col("event_type").isin("click", "purchase"))(
      new Stateful.AsOfBuffered("click", "purchase"),
      "user_id", "purchase_id", "click_id").snapshot()
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    val q404 = graft.queries.R18Q.queries("q404_stream_asof_ooo")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == q404, "the drain lost its buffered tail")
  }
}
