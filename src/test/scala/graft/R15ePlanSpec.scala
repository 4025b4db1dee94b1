package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Positive plan pins for the round-15 batch-2+ additions — the
  * shapes whose silent loss would be a scale regression the negative
  * audit (no BNLJ/Cartesian) cannot see:
  *
  *  - q330/q333: the prefix candidate generation and verification
  *    stay EQUI joins (losing the shingle key turns the pair space
  *    quadratic), and no window runs unpartitioned over raw rows;
  *  - q327: every peel round's semi-joins stay hash-family;
  *  - q326: candidate generation is a TakeOrderedAndProject — the
  *    top-n never becomes a global sort;
  *  - q328/q339: the PPS prefix machinery's only narrow windows sit
  *    over AGGREGATE relations (bucket totals), never raw corpus
  *    rows — the rankInGroup contract of R15cSpec, extended to the
  *    samplers;
  *  - q342: the Merkle drill-down joins stay hash-family equi joins.
  */
class R15ePlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  private def noLoopJoins(p: SparkPlan, name: String): Unit = {
    val loops = p.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(loops.isEmpty, s"$name: a join lost its equi key:\n$p")
  }

  private def aggregateBelow(w: WindowExec): Boolean =
    w.child.collectFirst {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }.isDefined

  /** R15cSpec's strict pin extended to the samplers: a window
    * partitioned by fewer than two columns must read an AGGREGATE
    * relation. One named allowance (ADVICE r15): the samplers'
    * in-bucket running sum is partitioned by the single md5-prefix
    * `bucket` column over raw rows BY DESIGN — the bucket space is
    * 65536 values however few logical groups exist, so each partition
    * is ~2⁻¹⁶ of the corpus, never the q262 corpus-sized-partition
    * hazard. Anything else single-column over raw rows fails. */
  private def narrowWindowsOverAggregates(p: SparkPlan, name: String): Unit =
    p.collect { case w: WindowExec => w }.foreach { w =>
      val md5Bucket = w.partitionSpec.nonEmpty &&
        w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
          .forall(_ == "bucket")
      if (w.partitionSpec.size < 2 && !md5Bucket)
        assert(aggregateBelow(w),
          s"$name: a window partitioned by fewer than two columns reads " +
            s"raw rows (prefixOffsets' bounded global windows read " +
            s"bucket AGGREGATES; only the md5-bucket running sum may " +
            s"read raw rows):\n$p")
    }

  test("q330/q333: prefix joins stay equi; windows doc-partitioned") {
    // q330's operator plan; q333's registered query plan
    val plans = Seq(
      "q330" -> graft.operators.Dedup.setSimilarityJoin(
        graft.Tables.documents(spark, sf)).queryExecution.sparkPlan,
      "q333" -> plan("q333_setsim_incremental"))
    plans.foreach { case (name, p) =>
      noLoopJoins(p, name)
      val wins = p.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name: the per-doc prefix rank must exist")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name: the prefix rank became a GLOBAL window:\n$p"))
    }
  }

  test("q327: the peel round is hash-family only") {
    // the loop localCheckpoints per round; pin one round's plan shape
    // directly on the operator's first iteration inputs
    val edges = SparkEntry.queries("q327_kcore") // force registration
    assert(edges != null)
    val ev = graft.Tables.events(spark, sf)
    val e = ev.select(
      (org.apache.spark.sql.functions.col("event_id") % 211).as("src"),
      ((org.apache.spark.sql.functions.col("event_id") * 7919 +
        org.apache.spark.sql.functions.col("user_id"))
        % ((org.apache.spark.sql.functions.col("event_id") % 17 + 2) * 19))
        .as("dst"))
    val p = graft.operators.LinkAnalysis.kCore(e, k = 5, maxRounds = 12)
      .queryExecution.sparkPlan
    noLoopJoins(p, "q327")
  }

  test("q326: candidate top-n is a TakeOrdered, never a global sort") {
    val f = SparkEntry.queries("q326_mmr_rerank")(spark, sf)
    // mmrSelect collects inside the query body; pin the distributed
    // prescreen directly
    val emb = graft.Tables.embeddings(spark, sf)
    val q = graft.operators.Similarity.quantizeVec(emb)
    import org.apache.spark.sql.functions._
    val qv = q.filter(col("vec_id") === 0L).collect().head.getSeq[Long](1)
    val cand = q.filter(col("vec_id") =!= 0L)
      .withColumn("rel", aggregate(zip_with(col("qv"),
        array(qv.map(lit): _*), (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .orderBy(desc("rel"), col("vec_id")).limit(32)
    val s = cand.queryExecution.sparkPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"mmr candidate generation must be a TakeOrdered:\n$s")
    assert(f != null)
  }

  test("q328/q339: sampler windows are bucket-scoped or aggregate-fed") {
    Seq("q328_pps_sample", "q339_pps_stratified").foreach { name =>
      val p = plan(name)
      noLoopJoins(p, name)
      narrowWindowsOverAggregates(p, name)
      // the in-bucket running sum must exist and be partitioned
      val parts = p.collect { case w: WindowExec => w }
        .filter(_.partitionSpec.nonEmpty)
      assert(parts.nonEmpty, s"$name: the bucketed running sum vanished")
    }
  }

  test("q342: Merkle drill-down joins stay hash-family") {
    noLoopJoins(plan("q342_merkle_diff"), "q342")
  }
}
