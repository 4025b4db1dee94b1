package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MicroBatch, Stateful}

/** Streaming keyed as-of vs a CDC-updating dimension (r14): the
  * drained stream must converge to the batch point-in-time join under
  * ANY arrival order — q269 gates the chronological drain against the
  * DuckDB oracle; this spec drains HASH-INTERLEAVED (every batch
  * carries an arbitrary event-time mix, so dimension versions arrive
  * after observations they affect) and demands the same convergence
  * (the q208 seq + last-write rule). */
class R14StreamAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("hash-interleaved drain converges to the batch point-in-time join") {
    import spark.implicits._
    val sink = MicroBatch.updateRun(spark, sf,
      splitParts = Some(3)) { stream =>
      Stateful.keyedAsOf(
        Tables.toEventTime(stream)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id"),
            when(col("event_type") === "signup", 0)
              .otherwise(1).cast("int").as("role"),
            unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
          .as[(Long, Int, Long, Long, Double)].groupByKey(_._1))
        .toDF("user_id", "seq", "obs_id", "dim_id", "dim_value")
    }
    val streamed = sink.groupBy(col("user_id"), col("obs_id"))
      .agg(max_by(struct(col("dim_id"), col("dim_value")), col("seq")).as("m"))
      .select(col("user_id"), col("obs_id"),
        col("m.dim_id").as("dim_id"), col("m.dim_value").as("dim_value"))
      .collect().map(_.toSeq).toSet

    // batch truth: carry the latest signup forward, dim-first at ties
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"),
        when(col("event_type") === "signup", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val batch = ev
      .withColumn("dim_id", last(
        when(col("event_type") === "signup", col("event_id")),
        ignoreNulls = true).over(w))
      .withColumn("dim_value", last(
        when(col("event_type") === "signup", col("value")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("obs_id"),
        coalesce(col("dim_id"), lit(-1L)).as("dim_id"), col("dim_value"))
      .collect().map(_.toSeq).toSet

    assert(batch.nonEmpty && streamed === batch)
  }
}
