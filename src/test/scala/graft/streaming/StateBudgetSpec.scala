package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming state-size observability (VERDICT r9 next #7): MicroBatch
  * exposes each run's peak state rows/bytes from the engine's own
  * StateOperatorProgress, and the budgets hold — keyed-operator state
  * tracks KEYS (sessions, users), join state tracks the WATERMARK
  * HORIZON; neither tracks total events processed. Each budget is
  * pinned by running the same query at 1× and 3× the event volume:
  * a state store that accumulated per-event rows would triple. */
class StateBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def totalRows(stats: Seq[MicroBatch.StateOpStats]): Long =
    stats.map(_.peakRows).sum

  test("session-window agg (q170 shape): state rows track sessions, not events") {
    def run(copies: Int): Long = {
      MicroBatch.aggRun(spark, sf, splitParts = Some(3), copies = copies) { stream =>
        graft.Tables.toEventTime(stream)
          .filter(col("user_id") < 50)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
      }.count() // force the drain's table materialization
      val stats = MicroBatch.lastRunStateStats
      assert(stats.nonEmpty, "no state operators reported for a session agg")
      assert(stats.head.batches >= 3, "drain did not split into micro-batches")
      // perfbench reads lastRunProgress by reflection for its stream.*
      // per-layer metrics: pin the entries and the durationMs keys it uses
      val progress = MicroBatch.lastRunProgress
      assert(progress.size >= 3, s"lastRunProgress holds ${progress.size} entries")
      assert(progress.forall(_.durationMs.containsKey("addBatch")),
        "a progress entry's durationMs lacks addBatch")
      totalRows(stats)
    }
    val at1 = run(1)
    val at3 = run(3)
    assert(at1 > 0)
    // identical copies land in identical sessions: same key set, so the
    // peak may wobble with batch interleaving but must not scale with
    // event volume
    assert(at3 <= at1 * 3 / 2,
      s"3x events grew session state $at1 -> $at3 (state is tracking events)")
  }

  test("timer sessions on RocksDB (q189 shape): state is open sessions + timers") {
    def run(copies: Int): Long = {
      import spark.implicits._
      MicroBatch.updateRun(spark, sf,
        conf = Stateful.rocksDBConf, copies = copies) { stream =>
        val grouped = graft.Tables.toEventTime(stream)
          .withWatermark("ts", "0 seconds")
          .filter(col("user_id") < 50)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .as[(Long, Long)]
          .groupByKey(_._1)
        Stateful.timerSessions(grouped, gapUs = 30L * 60L * 1000000L)
          .toDF("user_id", "n")
      }.count()
      val stats = MicroBatch.lastRunStateStats
      assert(stats.nonEmpty, "no state operators reported for transformWithState")
      totalRows(stats)
    }
    val at1 = run(1)
    val at3 = run(3)
    // open sessions and timers exist per KEY (< 50 users): absolute cap
    // and volume-invariance — ListState entries per open session stay
    // bounded by the key count, not the event count
    assert(at3 <= math.max(at1 * 3 / 2, 200),
      s"3x events grew timer-session state $at1 -> $at3")
  }

  test("stream-stream join (q193 shape): state tracks the watermark horizon") {
    // a CHRONOLOGICAL 10-batch drain: the watermark advances between
    // batches, so each batch's end-of-batch state holds roughly one
    // batch's time-slice (plus the 1h horizon tail) — not the stream
    def run(copies: Int): Long = {
      val in = MicroBatch.stageEventsByTime(spark, sf, parts = 10, copies = copies)
      MicroBatch.joinRun(spark, sf, copies = copies,
        maxFilesPerTrigger = Some(1), inDir = Some(in)) { (left, right) =>
        val a = graft.Tables.toEventTime(left)
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("ts"), col("event_type"))
        val b = right
          .withColumn("b_ts", graft.Tables.eventTimeCol(right))
          .withWatermark("b_ts", "1 hour")
          .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
        a.join(b,
          col("event_id") === col("b_id") &&
            col("b_ts").between(
              col("ts") - expr("INTERVAL 1 MINUTE"),
              col("ts") + expr("INTERVAL 1 MINUTE")))
      }.count()
      val stats = MicroBatch.lastRunStateStats
      assert(stats.nonEmpty, "no state operators reported for a stream-stream join")
      assert(stats.head.batches >= 10, "drain did not split into micro-batches")
      totalRows(stats)
    }
    val events = graft.Tables.events(spark, sf).count()
    val at1 = run(1)
    val at3 = run(3)
    assert(at1 > 0)
    // the peak (~1 batch slice x 2 sides, ~20% of the drained rows) must
    // stay a fraction of total volume: a join that never evicted would
    // retain 2x events at 1x. Density in the horizon may scale with
    // copies; stream LENGTH must not leak into state.
    assert(at1 < events / 2,
      s"join retained $at1 state rows of $events drained — horizon eviction failed")
    assert(at3 <= at1 * 4,
      s"3x events grew join state $at1 -> $at3, beyond the 3x horizon density")
  }
}
