package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}

/** The benchmark's own checks, run at a small scale factor in one
  * session (`python3 perfbench/run.py --selftest`):
  *  1. every name in the frozen class lists is a registered query, and
  *     the lists are disjoint;
  *  2. a failing staging task aborts set-up with no staging job still
  *     active when the first op would begin;
  *  3. each workload emits every metric BENCHMARK.json names, untraced
  *     and traced. */
object SelfTest {

  def run(a: Map[String, String]): Int = {
    val data = a("data")
    val cpus = a("cpus").toInt
    // "end_to_end <name>" / "per_layer <name>" lines
    val required = Files.readAllLines(Paths.get(a("metrics")), UTF_8).asScala.toSeq
      .map(_.split("\\s+")).collect { case Array(k, n) => k -> n }
      .groupMap(_._1)(_._2)
    var failures = List.empty[String]
    def check(ok: Boolean, what: => String): Unit =
      if (ok) System.err.println(s"[selftest] ok   $what")
      else { System.err.println(s"[selftest] FAIL $what"); failures ::= what }

    val lists = Main.Classes.map(c => c -> Main.loadList(Main.benchDir, c))
    val known = SparkEntry.queries.keySet
    lists.foreach { case (w, names) =>
      val unknown = names.filterNot(known.contains)
      check(unknown.isEmpty, s"$w: ${names.size} listed names are registered queries" +
        (if (unknown.isEmpty) "" else s" (unknown: ${unknown.mkString(",")})"))
    }
    val all = lists.flatMap(_._2)
    check(all.distinct.size == all.size, "class lists are disjoint")
    check(Main.StagingCalls.forall { case (f, _, _) =>
      Main.stagingTasks(Seq(f), null, data).nonEmpty }, "every staging entry point exists")

    val spark = GraftSession.local(cpus.toString)
    try {
      // (2) the injected task fails while a real family has a job running
      val injected = Main.StagingTask("injected_failure", () => {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
               System.nanoTime() < deadline) Thread.sleep(5)
        throw new IllegalStateException("injected staging failure")
      })
      val real = Main.stagingTasks(Main.StagingCalls.map(_._1), spark, data)
      val res = Main.stage(spark, real :+ injected, traced = false)
      val active = spark.sparkContext.statusTracker.getActiveJobIds().toSeq
      check(res.isLeft && res.left.toOption.get.getMessage == "injected staging failure",
        "a failing staging task fails set-up")
      check(active.isEmpty, s"no staging job active when the first op would begin " +
        s"(active: ${active.mkString(",")})")

      // (3) every workload emits every metric, at two ops per run
      for (w <- Main.Workloads; traced <- Seq(false, true)) {
        val names = Main.sample(w.classes.flatMap(lists.toMap), _ => 0.0, 2, w.band, 1L)
        Main.execute(w, names, traced, cpus, data, Map.empty,
          Span.nowUs(), Some(spark)) match {
          case Left(e) => check(ok = false, s"${w.name} trace=$traced runs: $e")
          case Right(o) =>
            val emitted = o.metrics.map(_._1).toSet
            val want = required.getOrElse(if (traced) "per_layer" else "end_to_end", Nil)
            val absent = want.filterNot(emitted.contains)
            check(absent.isEmpty, s"${w.name} trace=$traced emits all ${want.size} metrics" +
              (if (absent.isEmpty) "" else s" (missing: ${absent.mkString(",")})"))
            check(o.ops.forall(_.error.isEmpty), s"${w.name} trace=$traced ops succeed " +
              o.ops.flatMap(_.error).mkString("; "))
        }
      }
    } finally spark.stop()
    if (failures.isEmpty) 0 else 1
  }
}
