package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool — Spark's scheduler interleaves
  * the jobs, which roughly halves wall time for this many small
  * queries. Every query writes to its own directory and creates only
  * uniquely-named temp/catalog resources, so concurrency is safe. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: query-name prefixes to run (local debugging;
    // the driver always passes exactly two args → full run).
    val only: Option[Seq[String]] = if (args.length > 2) Some(args.drop(2).toSeq) else None
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    // The oracle gate ALWAYS runs the in-query proof legs (served≡scan
    // twins): a hash-green Verify run proves both that the served
    // relation matches DuckDB and that every maintained artifact still
    // equals its independent recompute. Bench turns the legs off for
    // timing (VERDICT r20 next #2) — this explicit set keeps the gate
    // immune to whatever a prior main in the same JVM did.
    queries.Qx.proofs = true
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def run(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Unit = {
      val df = fn(spark, sfDir)
      // Output-representation lint (VERDICT r15 #1): a DECIMAL(38,0)
      // final column defeats the driver's hash even on bit-identical
      // values — fail the query loudly here (→ a red row with an err,
      // not a silent hash mismatch) so the class can't ship again.
      val bad = SchemaLint.unhashable(df.schema)
      require(bad.isEmpty,
        s"$name emits driver-unhashable output columns (re-represent as " +
          s"canonical string or hi/lo BIGINTs): ${bad.mkString(", ")}")
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq.filter(q => selected(q._1)).map { case (name, fn) =>
      Future {
        try run(name, fn)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name); ()
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // One sequential retry for anything that failed under concurrency:
    // a query missing its parquet silently drops out of the round's
    // correctness gate (the r9 q188 lesson), so a transient failure
    // must never be the last word. Still-failing queries are loud.
    var permanent = false
    failed.forEach { name =>
      System.err.println(s"[verify] retrying $name sequentially")
      try run(name, SparkEntry.queries(name))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED PERMANENTLY: $e")
        permanent = true
      }
    }
    // Schema-drift guard (VERDICT r11 #7): a silent testdata regen
    // (e.g. events.ts nanos→timestamp[us]) once cost a full round. If
    // anything failed for good, dump every table's AS-READ schema so
    // the mismatch is diagnosable from the verify log in minutes.
    if (permanent) {
      System.err.println("[verify] table schemas as read (drift diagnostics):")
      Tables.names.foreach { t =>
        val line =
          try spark.read.parquet(s"$sfDir/$t.parquet").schema.toDDL
          catch { case e: Throwable => s"unreadable: $e" }
        System.err.println(s"[verify]   $t: $line")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
