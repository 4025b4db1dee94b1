package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.operators.{Dedup, Retrieval, TextAnalysis, TextMining}

/** Served ≡ twin identities of the maintained-artifact queries, on
  * the queries' own inputs at sf0.01: every served relation (a
  * maintained index, an as-of read, a postings-served score or match
  * relation) must equal its independent from-scratch or full-scan
  * twin exactly, by `except` (or `exceptAll` where the identity is a
  * multiset one) in both directions. Where the served relation IS the
  * registered query's result, the row runs the registered query.
  * The operator-level twins of the incremental queries (q290, q310,
  * q333, q355, q358, q360, q422, q423, q424) sit beside their
  * operators' own pins in R15DifferentialSpec, R15OpsSpec, R15dSpec,
  * R16Spec and R20Spec. */
class ServedTwinSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = graft.TestSpark.sf001

  private def query(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sf)
  private def docs: DataFrame = Tables.documents(spark, sf)

  /** One identity: `served` must equal `twin` as a set (`except`) or,
    * with `bag`, as a multiset (`exceptAll`). */
  private case class Twin(identity: String, served: () => DataFrame,
                          twin: () => DataFrame, bag: Boolean = false)

  private def q254Twin(): DataFrame = {
    // q254's table lifecycle (v1 load, v2 append, v3 delete-merge),
    // rolled up from its final snapshot
    val base = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val cents = col("value").cast(DecimalType(18, 2)) * lit(100)
    val t = graft.lake.LakeTable.createTemp(spark,
      base.filter(col("event_id") % 4 =!= 0), "graft-ivm-twin")
    t.append(base.filter(col("event_id") % 4 === 0))
    t.merge(base.limit(0), Seq("event_id"),
      Some(base.filter(col("event_id") % 10 === 7).select(col("event_id"))))
    t.snapshot().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).cast("long").as("cents"))
      .select(col("event_type"), col("n"),
        (col("cents").cast("double") / lit(100.0)).as("total"))
  }

  private def lastSignupPerUser(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "signup")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(desc("ts"), desc("event_id"))))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_id"), col("value"))

  /** q269's dimension stream: signups CDC-merged per chronological
    * micro-batch into a lake table through the idempotent
    * `mergeBatch`. */
  private def cdcMergedSignups(): DataFrame = {
    val dimT = graft.lake.LakeTable.createTemp(spark,
      lastSignupPerUser(Tables.events(spark, sf)).limit(0), "graft-cdcdim")
    graft.streaming.MicroBatch.eachBatchRun(spark,
        graft.streaming.MicroBatch.stageEventsByTime(spark, sf, 3)) {
      (batch, bid) =>
        dimT.mergeBatch(lastSignupPerUser(Tables.toEventTime(batch)),
          Seq("user_id"), "graft-cdcdim", bid)
    }
    dimT.snapshot().select("user_id", "event_id", "value")
  }

  private def bm25AsOfPrev(): DataFrame = {
    val idx = R17Q.bm25IndexArtifact(spark, sf)
    val vs = idx.versions.sorted
    idx.snapshot(vs(vs.length - 2)).groupBy(col("kind"), col("term"))
      .agg(sum(col("v")).cast("long").as("v"))
  }

  private val q405Terms = Seq("data", "join", "spark")

  private def q418Scores(scan: Boolean): DataFrame = {
    val stats = R17Q.bm25FoldedIndex(spark, sf)
    val terms = R20Q.proximityTerms
    if (scan)
      R20Q.proximityScores(Retrieval.bm25Scan(docs, stats, terms),
        (a, b) => Retrieval.minPairGapScan(docs, a, b))
    else {
      val positional = R19Q.posPostingsArtifact(spark, sf).snapshot()
      R20Q.proximityScores(
        Retrieval.bm25Served(R18Q.postingsArtifact(spark, sf).snapshot(),
          stats, terms),
        (a, b) => Retrieval.minPairGap(positional, a, b))
    }
  }

  private val twins = Seq(
    Twin("q254 maintained rollup ≡ full recompute of the final table",
      () => query("q254_incremental_rollup"), () => q254Twin(), bag = true),
    Twin("q269 chronological mergeBatch dimension table ≡ " +
        "last version per key",
      () => cdcMergedSignups(),
      () => lastSignupPerUser(Tables.events(spark, sf))),
    Twin("q384 maintained novelty index ≡ from-scratch shingle rebuild",
      () => R17Q.noveltyIndexArtifact(spark, sf).snapshot(),
      () => Dedup.shingles(docs, 3).select(col("shingle")).distinct()),
    Twin("q384 as-of index novelty scores ≡ from-scratch scores",
      () => query("q384_novelty_index_maintained"),
      () => TextAnalysis.noveltyScore(
        docs.filter(col("doc_id") % 4 === 3),
        docs.filter(col("doc_id") % 4 =!= 3))),
    Twin("q392 as-of BM25 index fold ≡ from-scratch per-term build " +
        "(whole vocabulary)",
      () => bm25AsOfPrev(),
      () => R17Q.bm25Fragment(docs.filter(col("doc_id") % 4 =!= 3))
        .select(col("kind"), col("term"), col("v"))),
    Twin("q405 postings-served BM25 scores ≡ full scan, before top-k",
      () => Retrieval.bm25Served(R18Q.postingsArtifact(spark, sf).snapshot(),
        R17Q.bm25FoldedIndex(spark, sf), q405Terms),
      () => Retrieval.bm25Scan(docs, R17Q.bm25FoldedIndex(spark, sf),
        q405Terms)),
    Twin("q416 postings-served phrase matches ≡ phraseScan",
      () => query("q416_phrase_match"),
      () => TextMining.phraseScan(docs, Seq("spark", "join"))),
    Twin("q417 postings-served trigram matches ≡ phraseScan",
      () => query("q417_phrase_trigram"),
      () => TextMining.phraseScan(docs, Seq("big", "order", "scan"))),
    Twin("q418 index-served proximity scores ≡ full scan, before top-k",
      () => q418Scores(scan = false), () => q418Scores(scan = true)),
    Twin("q419 compacted single-file phrase read ≡ phraseScan",
      () => query("q419_index_compaction"),
      () => TextMining.phraseScan(docs, Seq("order", "scan"))),
    Twin("q425 clustered bloom-pruned phrase read ≡ phraseScan",
      () => query("q425_clustered_postings"),
      () => TextMining.phraseScan(docs, Seq("spark", "join"))))

  twins.foreach { t =>
    test(t.identity) {
      val served = t.served().localCheckpoint(true)
      val twin = t.twin().localCheckpoint(true)
      def minus(a: DataFrame, b: DataFrame) =
        if (t.bag) a.exceptAll(b) else a.except(b)
      val extra = minus(served, twin).count()
      val missing = minus(twin, served).count()
      assert(extra == 0 && missing == 0,
        s"served has $extra rows the twin lacks and lacks $missing of its rows")
      assert(!twin.isEmpty, "vacuous identity: the twin is empty at sf0.01")
    }
  }
}
