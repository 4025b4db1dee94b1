package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's staging failure path: when one family fails, the families
  * still building are cancelled and stopped before `stage` returns —
  * a staging job left running would be timed inside the first reps. */
class BenchStagingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failing family cancels a running Spark-job family before stage returns") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val errors = Bench.stage(spark, Seq(
      "slow" -> (() => sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(120000))),
      "broken" -> { () =>
        val deadline = System.nanoTime() + 30e9
        while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
          Thread.sleep(10)
        throw new IllegalStateException("injected staging failure")
      }), threads = 2).toMap
    assert(errors.get("broken").contains("injected staging failure"))
    assert(errors.contains("slow"), s"the cancelled family's error is not recorded: $errors")
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a staging job is still running")
    assert((System.nanoTime() - t0) / 1e9 < 60, "stage waited out the slow job")
  }

  test("a family still queued when another fails is reported, not run") {
    var ran = false
    val errors = Bench.stage(spark, Seq(
      "broken" -> (() => throw new IllegalStateException("injected staging failure")),
      "queued" -> (() => ran = true)), threads = 1).toMap
    assert(errors.get("broken").contains("injected staging failure"))
    assert(errors.get("queued").exists(_.startsWith("not started")))
    assert(!ran)
  }

  test("healthy families report no errors") {
    val built = new java.util.concurrent.atomic.AtomicInteger
    val errors = Bench.stage(spark,
      (1 to 3).map(i => s"f$i" -> (() => { spark.range(10).count(); built.incrementAndGet(); () })))
    assert(errors.isEmpty)
    assert(built.get == 3)
  }
}
