package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

/** Differential pins for the r15 incremental-quantile path:
  * [[Stats.exactRankStatsWeighted]] over arbitrary count-fragment
  * partitions must reproduce [[Stats.exactRankStats]] over the raw
  * rows bit-for-bit — additivity is the whole correctness argument
  * for the q286 streaming maintenance, so it is pinned directly. */
class R15DifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(1515)
  // heavy ties, negatives, and a skewed tail — the rank-edge diet
  private val rows: Seq[(String, Long)] =
    (1 to 4000).map { _ =>
      val g = s"g${rnd.nextInt(5)}"
      val v = rnd.nextInt(12) match {
        case 0 => -(rnd.nextInt(1000).toLong)
        case 1 => 1000000L + rnd.nextInt(50)
        case _ => rnd.nextInt(40).toLong
      }
      (g, v)
    }

  test("weighted fragments (any split) ≡ batch exactRankStats") {
    val raw = rows.toDF("g", "v")
    val batch = Stats.exactRankStats(raw, "g", "v")
      .orderBy("g").collect().map(_.toSeq).toSeq
    // three different fragmentations: 1 fragment, 4 random fragments,
    // 16 fragments with one empty — all must merge to the same answer
    Seq(1, 4, 16).foreach { parts =>
      val tagged = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, rnd.nextInt(parts)) }
      val frags = tagged.toDF("g", "v", "part")
        .groupBy(col("part"), col("g"), col("v"))
        .agg(count(lit(1)).as("c"))
        .drop("part") // fragments stay separate rows: the merge is
                      // exactRankStatsWeighted's job, not the caller's
      val merged = Stats.exactRankStatsWeighted(frags, "g", "v", "c")
        .orderBy("g").collect().map(_.toSeq).toSeq
      assert(merged === batch, s"fragmentation into $parts parts drifted")
    }
  }

  test("incremental golden records ≡ full recompute, bridging included") {
    import org.apache.spark.sql.functions.{col, split, element_at}
    // names engineered so the BATCH bridges two pre-existing entities:
    // 'alpha red core' and 'alpho red casing' share no pair (dist 5 on
    // full strings? they share block 'red'... use disjoint blocks) —
    // build explicitly: existing has two clusters A={aa bb cc, aa bb cd}
    // and B={zz yy xx, zz yy xy}; the new record 'aa bb xx' blocks with
    // both (first token aa, last token xx) and sits within dist 2 of a
    // member of each — the full recompute merges A and B, and the
    // incremental contracted CC must do the same.
    val existing = Seq(
      (1L, "aa bb cc"), (2L, "aa bb cd"),
      (3L, "za bb xx"), (4L, "za bb xy"),
      (5L, "qq ww ee") // untouched singleton entity
    ).toDF("id", "name")
    // pre-batch, A={1,2} and B={3,4} share NO blocking key (first
    // tokens aa vs za, last tokens c* vs x*), so they stay separate
    val batch = Seq(
      (6L, "aa bb cx"),  // joins cluster A (aa-block, dist 1)
      (7L, "aa bb xx"),  // BRIDGES A (aa-block, dist 2 to cc) and
                         // B (xx-block, dist 1 to "za bb xx")
      (8L, "new one off") // brand-new singleton
    ).toDF("id", "name")
    val blocks = Seq(
      split(col("name"), " ").getItem(0),
      element_at(split(col("name"), " "), -1))
    val inc = graft.operators.TextAnalysis.goldenRecordsIncremental(
      existing, batch, "id", "name", maxDist = 3, blockExprs = blocks)
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    val full = graft.operators.TextAnalysis.goldenRecords(
      existing.unionByName(batch), "id", "name", maxDist = 3,
      blockExprs = blocks)
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    assert(inc === full)
    // and the bridge really merged: ids 1,2,3,4,6,7 are one entity
    assert(inc.exists(r => r.head == 1L && r(2) == 6L),
      s"expected a 6-record merged entity, got $inc")
    // empty batch degenerates to the prior clustering
    val inc0 = graft.operators.TextAnalysis.goldenRecordsIncremental(
      existing, batch.limit(0), "id", "name", maxDist = 3,
      blockExprs = blocks)
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    val full0 = graft.operators.TextAnalysis.goldenRecords(
      existing, "id", "name", maxDist = 3, blockExprs = blocks)
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    assert(inc0 === full0)
  }

  test("incremental golden records on q290's inputs (sf0.01) ≡ full " +
      "recompute") {
    val sf = TestSpark.sf001
    val blocks = Seq(
      split(col("p_name"), " ").getItem(0),
      element_at(split(col("p_name"), " "), -1))
    val inc = SparkEntry.queries("q290_incremental_entities")(spark, sf)
    val full = graft.operators.TextAnalysis.goldenRecords(
      graft.Tables.part(spark, sf), "p_partkey", "p_name", maxDist = 3,
      blockExprs = blocks)
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incremental fold must equal the full recompute bit-for-bit")
    assert(!full.isEmpty)
  }

  test("weighted handles multi-count fragments and duplicate keys") {
    // two fragments both carrying (g, 5) with different counts: the
    // read-side sum must see 5 occurrences total (rank arithmetic is
    // exercised because 5 is the p50 of the 9-value multiset)
    val frags = Seq(
      ("a", 1L, 2L), ("a", 5L, 2L), ("a", 9L, 1L),
      ("a", 5L, 3L), ("a", 2L, 1L)
    ).toDF("g", "v", "c")
    val got = Stats.exactRankStatsWeighted(frags, "g", "v", "c").collect()(0)
    // multiset: 1,1,2,5,5,5,5,5,9 (n=9) -> p25=rk2=1, p50=rk5=5,
    // p75=rk7=5, p90=rk9=9
    assert(got.getAs[Long]("n") === 9L)
    assert(got.getAs[Long]("min_v") === 1L)
    assert(got.getAs[Long]("p25") === 1L)
    assert(got.getAs[Long]("p50") === 5L)
    assert(got.getAs[Long]("p75") === 5L)
    assert(got.getAs[Long]("p90") === 9L)
    assert(got.getAs[Long]("max_v") === 9L)
  }
}
