package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

/** Positive plan pins for the r16 batch — the shapes whose silent
  * loss would be a scale regression:
  *
  *  - q343/q345/q351/q352 rank through `Stats.rankInGroup` / bucketed
  *    scans: every window partitioned by fewer than two columns must
  *    read an AGGREGATE relation (the R15cSpec contract, extended);
  *  - containmentJoin: both the candidate and verify stages stay
  *    EQUI joins (losing the shingle key turns the pair space
  *    quadratic), and the prefix rank stays doc-partitioned;
  *  - q347 HITS: every step join stays hash-family. */
class R16PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def aggregateBelow(w: WindowExec): Boolean =
    w.child.collectFirst {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }.isDefined

  private def noLoopJoins(p: SparkPlan, name: String): Unit = {
    val loops = p.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(loops.isEmpty, s"$name: a join lost its equi key:\n$p")
  }

  test("q343/q345/q351: narrow-partition windows only over aggregates") {
    Seq("q343_gini_inequality", "q345_trimmed_mean",
      "q351_stratified_split").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name: expected the bucket-rank windows")
      wins.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name regressed to a GLOBAL window over raw rows:\n$plan")
        if (w.partitionSpec.size < 2)
          assert(aggregateBelow(w),
            s"$name: a window partitioned only by the group key reads " +
              s"raw rows — the corpus-sized-partition hazard:\n$plan")
      }
      noLoopJoins(plan, name)
    }
  }

  test("q352: rank windows bucket-scoped; cumulative window aggregate-fed") {
    val plan = SparkEntry.queries("q352_lift_deciles")(spark, sf)
      .queryExecution.sparkPlan
    plan.collect { case w: WindowExec => w }.foreach { w =>
      if (w.partitionSpec.size < 2)
        assert(aggregateBelow(w),
          s"q352: a narrow window reads raw rows:\n$plan")
    }
  }

  test("containmentJoin: equi joins only, doc-partitioned prefix rank") {
    val docs = graft.Tables.documents(spark, sf)
    // whole-operator plan: candidate + verify joins stay equi (the
    // prefix stage is checkpointed, so its window is pinned below on
    // the REAL extracted builder — the VERDICT r7 audit pattern)
    val p = graft.operators.Dedup.containmentJoin(docs)
      .queryExecution.sparkPlan
    noLoopJoins(p, "containmentJoin")
    import org.apache.spark.sql.functions._
    val sh = graft.operators.Dedup.shingles(docs, 3)
    val szs = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("__sz"))
    val pp = graft.operators.Dedup.shinglePositions(sh, szs)
      .queryExecution.sparkPlan
    noLoopJoins(pp, "shinglePositions")
    val wins = pp.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "the per-doc prefix rank must exist")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"containmentJoin: the prefix rank became a GLOBAL window:\n$pp"))
  }

  test("q347 HITS: hash-family joins only") {
    noLoopJoins(
      SparkEntry.queries("q347_hits_scores")(spark, sf)
        .queryExecution.sparkPlan, "q347")
  }
}
