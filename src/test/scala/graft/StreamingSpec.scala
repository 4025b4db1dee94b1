package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.MicroBatch

/** T1–T3 integration at sf0.001: the drained streaming pipeline must
  * equal the equivalent batch query (same engine, same session). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The last drain's state operators all ran on the default
    * HDFS-backed store: a RocksDB store reports `rocksdb*` custom
    * metrics, the HDFS one none. */
  private def assertHdfsStore(drain: String): Unit = {
    val names = MicroBatch.lastRunProgress.flatMap(_.stateOperators)
      .map(_.customMetrics.keySet.asScala.toSet)
    assert(names.nonEmpty, s"$drain reported no state operator")
    assert(names.forall(!_.exists(_.startsWith("rocksdb"))),
      s"$drain runs on RocksDB, but only transformWithState plans need it: $names")
  }

  test("foreachBatch append sink reproduces the batch projection") {
    val streamed = MicroBatch.appendRun(spark, sf)(
      _.selectExpr("CAST(event_id AS STRING) AS key", "CAST(props AS STRING) AS value"))
      .orderBy("key").collect()
    val batch = Tables.events(spark, sf)
      .selectExpr("CAST(event_id AS STRING) AS key", "CAST(props AS STRING) AS value")
      .orderBy("key").collect()
    assert(streamed.length > 0)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("windowed aggregation over the stream equals the batch group-by") {
    val streamed = MicroBatch.aggRun(spark, sf) { s =>
      Tables.toEventTime(s)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .count()
    }
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("count"))
      .orderBy("day", "event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .count()
      .orderBy("day", "event_type").collect()
    assert(streamed.length > 0)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream dedup collapses an at-least-once redelivery to the batch table") {
    // each trigger admits one whole sf0.01 events file (221 KB), which
    // drainPartitions spreads over both of local[2]'s partitions, so
    // the dedup state spans two stores and redelivery crosses them
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val streamed = MicroBatch.appendRun(spark, sf01, copies = 2,
      maxFilesPerTrigger = Some(1)) { s =>
      graft.Tables.toEventTime(s)
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"))
    }
    assert(MicroBatch.lastRunStateStats.map(_.partitions) === Seq(2))
    assertHdfsStore("the dedup drain")
    val n = Tables.events(spark, sf01).count()
    assert(streamed.count() === n) // one row per event despite 2 deliveries
    assert(streamed.distinct().count() === n)
  }

  test("txn-log sink is exactly-once under micro-batch replay") {
    // Simulate the foreachBatch retry contract: Structured Streaming
    // re-invokes the sink function with the SAME batchId after a failed
    // or torn commit. The lake sink's (appId, batchId) txn markers must
    // turn each replay into a no-op — exactly one copy of every batch
    // no matter how often it is redelivered.
    val sink = MicroBatch.lakeSink(spark)
    val write = MicroBatch.batchWriter(sink, "replay-test")
    val ev = Tables.events(spark, sf)
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    write(b0, 0L)
    write(b1, 1L)
    write(b0, 0L) // replay of a committed batch (e.g. driver restart)
    write(b1, 1L) // replay of the other
    val sunk = sink.snapshot()
    assert(sunk.count() === ev.count())
    assert(sunk.select("event_id").distinct().count() === ev.count())
    assert(sunk.schema.fieldNames.toSeq === ev.schema.fieldNames.toSeq)
    assert(sink.latestVersion === 3L) // create + 2 commits, replays committed nothing
  }

  test("restarting a drained query from its checkpoint commits nothing new") {
    // end-to-end recovery semantics: a second start() of the same
    // query (same checkpoint, same landing dir, same sink table) must
    // find no new files and leave the sink byte-identical — the
    // checkpoint + txn-log pair is what makes restarts safe in
    // production, not just the foreachBatch-level replay simulation.
    import org.apache.spark.sql.streaming.Trigger
    val in = MicroBatch.stageEvents(sf)
    val sink = MicroBatch.lakeSink(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt")
    def drainOnce(): Unit = {
      val q = MicroBatch.fileSource(spark, in)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .foreachBatch(MicroBatch.batchWriter(sink, ckpt.toString))
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce()
    val v1 = sink.latestVersion
    val n1 = sink.snapshot().count()
    drainOnce() // restart: same checkpoint, nothing new to process
    assert(sink.latestVersion === v1)
    assert(sink.snapshot().count() === n1)
    assert(n1 === Tables.events(spark, sf).count())
  }

  test("stream-stream LEFT OUTER join emits unmatched rows with nulls after watermark expiry") {
    // right side drops the first two event-time days, so those left
    // rows have no match and sit far below the final watermark — the
    // closing no-data batch must flush every one of them into the sink
    // with a NULL right column (q158's oracle pins the exact rows;
    // this pins the emission mechanics)
    val batch = Tables.events(spark, sf)
    val cutDate = batch.agg(date_add(min(to_date(col("ts"))), 2)).head().getDate(0)
    val expectedUnmatched = batch.filter(to_date(col("ts")) < lit(cutDate)).count()
    assert(expectedUnmatched > 0, "fixture must span more than two days")
    val joined = MicroBatch.joinRun(spark, sf) { (l, r) =>
      val a = graft.Tables.toEventTime(l)
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), col("event_type"))
      val b = r.withColumn("b_ts", graft.Tables.eventTimeCol(r))
        .withWatermark("b_ts", "1 hour")
        .filter(to_date(col("b_ts")) >= lit(cutDate))
        .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
      a.join(b, col("event_id") === col("b_id") &&
        col("b_ts").between(col("ts") - expr("INTERVAL 1 MINUTE"),
          col("ts") + expr("INTERVAL 1 MINUTE")), "left_outer")
        .select(col("event_id"), col("event_type"), col("value"))
    }
    assert(joined.count() === batch.count())
    assert(joined.filter(col("value").isNull).count() === expectedUnmatched)
    // both sides read the whole sf0.001 dir (2 × 27 KB): one partition,
    // and the join keeps four state stores in it
    assert(MicroBatch.lastRunStateStats.map(o => (o.partitions, o.storeInstances)) ===
      Seq((1, 4)))
    assertHdfsStore("the stream-stream join drain")
  }

  test("a flatMapGroupsWithState drain (q93) keeps the default HDFS state store") {
    val counted = graft.queries.StreamingQ.queries("q93_stateful_count")(spark, sf)
    assertHdfsStore("q93")
    assert(counted.count() === Tables.events(spark, sf).select("user_id").distinct().count())
  }

  test("q156's foreachBatch MERGE drain is recorded in lastRunProgress") {
    // two staged copies drained one file per trigger: two micro-batches,
    // each carrying the whole events table (numInputRows counts every
    // read of the batch inside the body, so it is at least the table)
    val merged = graft.queries.StreamingQ.queries("q156_stream_cdc_merge")(spark, sf)
    val progress = MicroBatch.lastRunProgress
    val n = Tables.events(spark, sf).count()
    assert(progress.map(_.batchId) === Seq(0L, 1L))
    assert(progress.forall(_.numInputRows >= n), progress.map(_.numInputRows))
    assert(merged.count() > 0)
  }

  test("stream-stream FULL OUTER join flushes unmatched rows from BOTH sides") {
    // left drops OLD id%3==0 rows, right drops OLD even rows (recent
    // rows pass both filters unconditionally so nothing unmatched is
    // left stranded inside the final watermark delay) — the drain must
    // emit left-only rows (null value), right-only rows (null
    // event_type) and the matched remainder (q168's oracle pins exact
    // rows; this pins that both state-store sides expire and emit)
    val batch = Tables.events(spark, sf)
    val cutDate = batch.agg(date_add(min(to_date(col("ts"))), 2)).head().getDate(0)
    val old = batch.filter(to_date(col("ts")) < lit(cutDate))
    val expectLeftOnly = old.filter(col("event_id") % 3 =!= 0 && col("event_id") % 2 === 0).count()
    val expectRightOnly = old.filter(col("event_id") % 3 === 0 && col("event_id") % 2 =!= 0).count()
    val expectDropped = old.filter(col("event_id") % 6 === 0).count()
    assert(expectLeftOnly > 0 && expectRightOnly > 0, "fixture must populate both outer sides")
    val joined = MicroBatch.joinRun(spark, sf) { (l, r) =>
      val a = graft.Tables.toEventTime(l)
        .withWatermark("ts", "1 hour")
        .filter(col("event_id") % 3 =!= 0 || to_date(col("ts")) >= lit(cutDate))
        .select(col("event_id"), col("ts"), col("event_type"))
      val b = r.withColumn("b_ts", graft.Tables.eventTimeCol(r))
        .withWatermark("b_ts", "1 hour")
        .filter(col("event_id") % 2 =!= 0 || to_date(col("b_ts")) >= lit(cutDate))
        .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
      a.join(b, col("event_id") === col("b_id") &&
        col("b_ts").between(col("ts") - expr("INTERVAL 1 MINUTE"),
          col("ts") + expr("INTERVAL 1 MINUTE")), "full_outer")
        .select(coalesce(col("event_id"), col("b_id")).as("event_id"),
          col("event_type"), col("value"))
    }
    assert(joined.count() === batch.count() - expectDropped)
    assert(joined.filter(col("value").isNull).count() === expectLeftOnly)
    assert(joined.filter(col("event_type").isNull).count() === expectRightOnly)
  }

  test("stream-stream time-bounded self join matches every event once") {
    val joined = MicroBatch.joinRun(spark, sf) { (l, r) =>
      val a = graft.Tables.toEventTime(l)
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), col("event_type"))
      val b = r.withColumn("b_ts", graft.Tables.eventTimeCol(r))
        .withWatermark("b_ts", "1 hour")
        .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
      a.join(b, col("event_id") === col("b_id") &&
        col("b_ts").between(col("ts") - expr("INTERVAL 1 MINUTE"),
          col("ts") + expr("INTERVAL 1 MINUTE")))
        .select(col("event_id"), col("event_type"), col("value"))
    }
    val batch = Tables.events(spark, sf).select("event_id", "event_type", "value")
    assert(joined.count() === batch.count())
    assert(joined.orderBy("event_id").collect().toSeq ===
      batch.orderBy("event_id").collect().toSeq)
  }
}
