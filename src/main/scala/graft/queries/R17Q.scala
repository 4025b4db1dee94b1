package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._

/** Round-17 additions — the production-contract faces of the r16
  * machinery: out-of-order-tolerant streaming SCD2 (watermark-
  * buffered change detection under genuinely disordered drains — the
  * contract a real Kafka CDC feed offers, where q381's chronological
  * requirement becomes the strict-mode option), and the maintained
  * incremental novelty index (the q362 corpus shingle relation as a
  * lake artifact appended per admitted batch, read as-of N−1 and
  * proven equal to the from-scratch rebuild in-query). All
  * oracle-gated. */
object R17Q {

  private val stagedIndex =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** The MAINTAINED corpus novelty index (r17 — VERDICT r16 #6): the
    * q362 distinct-shingle relation as a lake artifact built the way
    * a continuously-fed lake actually maintains it — bootstrap from
    * ingest batch 0, then ONE anti-join + txn-log append per admitted
    * batch (only never-seen shingles land, the q209/q360 incremental
    * shape), so version k+1 is exactly the index as-of batch k.
    * Memoized per (session, sf); the consumers time-travel it. */
  private def noveltyIndexArtifact(s: org.apache.spark.sql.SparkSession,
                                   d: String): graft.lake.LakeTable =
    stagedIndex.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      val docs = Tables.documents(s, d)
      def batchShingles(k: Int) =
        graft.operators.Dedup.shingles(docs.filter(col("doc_id") % 4 === k), 3)
          .select(col("shingle")).distinct()
      val idx = graft.lake.LakeTable.createTemp(s, batchShingles(0),
        "graft-novelty-idx")
      (1 to 3).foreach { k =>
        idx.append(batchShingles(k)
          .join(idx.snapshot(), Seq("shingle"), "left_anti"))
      }
      idx
    }

  /** One ingest batch's ADDITIVE BM25 index fragment over the FULL
    * VOCABULARY (r18 — VERDICT r17 wrong #1: the r17 build hardcoded
    * two enumerated terms, so the maintained index could not serve an
    * unanticipated query term without a rebuild): per-term
    * ("df", term, df) rows from ONE explode+distinct pass over the
    * batch (df = docs containing the term — additive across disjoint
    * batches because a doc lives in exactly one), plus the two
    * ("stats", ·, ·) corpus rows. Fragment size is vocabulary-bounded,
    * never corpus-bounded. */
  private def bm25Fragment(batch: DataFrame): DataFrame = {
    val stats = batch
      .select(size(split(col("text"), " ")).cast("long").as("len"))
      .agg(count(lit(1)).as("n"), sum(col("len")).cast("long").as("sl"))
      .select(inline(array(
        struct(lit("stats").as("kind"), lit("n_docs").as("term"),
          col("n").cast("long").as("v")),
        struct(lit("stats").as("kind"), lit("sum_len").as("term"),
          col("sl").as("v")))))
    val dfs = batch
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("v"))
      .select(lit("df").as("kind"), col("term"), col("v"))
    stats.unionByName(dfs)
  }

  private val stagedBm25 =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** The MAINTAINED BM25 index (r17; full-vocabulary r18): per-term
    * document frequencies and corpus length stats as ADDITIVE lake
    * fragments — one vocabulary-bounded fragment appended per
    * admitted batch (no anti-join needed; df and totals sum), so
    * version k+1 is the index as-of batch k, any as-of read is one
    * bounded fold, and ANY query term resolves from the stored
    * relation. Memoized per (session, sf). */
  private def bm25IndexArtifact(s: org.apache.spark.sql.SparkSession,
                                d: String): graft.lake.LakeTable =
    stagedBm25.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      val docs = Tables.documents(s, d)
      val idx = graft.lake.LakeTable.createTemp(s,
        bm25Fragment(docs.filter(col("doc_id") % 4 === 0)), "graft-bm25-idx")
      (1 to 3).foreach { k =>
        idx.append(bm25Fragment(docs.filter(col("doc_id") % 4 === k)))
      }
      idx
    }

  /** The FINAL-version folded (kind, term, v) view of the maintained
    * BM25 index — the full-corpus stats/df relation q405's postings
    * serving reads (r18). */
  private[queries] def bm25FoldedIndex(s: org.apache.spark.sql.SparkSession,
                                       d: String): DataFrame =
    bm25IndexArtifact(s, d).snapshot()
      .groupBy(col("kind"), col("term"))
      .agg(sum(col("v")).cast("long").as("v"))

  /** Shared drain of the buffered SCD2 faces (q382/q383): the
    * watermarked event stream through [[graft.streaming.Stateful.scd2Buffered]]
    * over a caller-staged sentinel landing dir. */
  private def bufferedScd2Changes(s: org.apache.spark.sql.SparkSession,
                                  d: String, in: java.nio.file.Path,
                                  delay: String): DataFrame =
    graft.streaming.MicroBatch.updateRun(s, d, inDir = Some(in),
      conf = graft.streaming.Stateful.rocksDBConf) { stream =>
      import s.implicits._
      graft.streaming.Stateful.scd2Buffered(
        graft.Tables.toEventTime(stream)
          .withWatermark("ts", delay)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")), col("event_id"))
          .as[(Long, String, Long, Long)].groupByKey(_._1))
        .toDF("user_id", "event_type", "ts_us", "event_id")
    }

  /** Shared read side of the streaming SCD2 faces (q381's shape):
    * version + valid_to windows over the CHANGE relation (already
    * collapsed — never raw events), sentinel key filtered. */
  private def scd2Intervals(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    changes.filter(col("user_id") >= 0)
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "version")
  }

  /** Shared read side of the streaming Markov faces (q396/q398): the
    * bounded |types|² cell rollup + row-normalized probabilities. */
  private[queries] def transitionRollup(trans: DataFrame): DataFrame = {
    val cells = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(col("from_type"))
      .agg(sum(col("c")).cast("long").as("total_from"))
    cells.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("c"),
        col("total_from"),
        (col("c").cast("double") / col("total_from").cast("double"))
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  val queries: Map[String, Q] = Map(

    // OUT-OF-ORDER STREAMING SCD2 (r17 — VERDICT r16 #2): q381's
    // change detection under the arrival contract a production CDC
    // feed actually has. The drain is HASH-interleaved (4 batches,
    // each spanning the full event-time range — genuine disorder) +
    // one far-future sentinel control record staged last; the
    // watermark delay (45 days) covers the full 30-day event range so
    // nothing is dropped, rows buffer in ListState until the
    // watermark passes them, and the sentinel advances the final
    // watermark past every real row so the buffer flushes
    // deterministically. Change rows re-sort inside the watermark, so
    // the multi-batch RocksDB drain must reproduce the BATCH interval
    // build BIT-EXACTLY — the oracle is q376's SQL, unchanged.
    // `Stateful.Scd2Buffered`.
    "q382_stream_scd2_ooo" -> ((s, d) =>
      scd2Intervals(bufferedScd2Changes(s, d,
        graft.streaming.MicroBatch.stageEventsSplitSentinel(
          s, d, parts = 4, sentinelInterval = "46 DAYS"),
        delay = "45 days"))),

    // BOUNDED-DISORDER STREAMING SCD2 (r17): the same buffered
    // detector under the steady-state production arrival pattern —
    // per-event jitter ≤ 6 h on a 30-day stream, 6 chronological-
    // by-ARRIVAL batches, watermark delay 7 h ≥ the jitter bound. The
    // watermark genuinely ADVANCES mid-drain here, so buffered state
    // flushes incrementally (peak state ≪ corpus — R17Spec asserts
    // the eviction via the engine's own state stats); the sentinel
    // flushes only the final tail. Same batch oracle, bit-exact.
    "q383_stream_scd2_jitter" -> ((s, d) =>
      scd2Intervals(bufferedScd2Changes(s, d,
        graft.streaming.MicroBatch.stageEventsJitteredSentinel(
          s, d, parts = 6, maxJitterSecs = 21600L,
          sentinelInterval = "8 HOURS"),
        delay = "7 hours"))),
    // MAINTAINED NOVELTY INDEX (r17 — VERDICT r16 #6): q362's
    // admission readout at STEADY-STATE cost — the corpus
    // distinct-shingle relation is a maintained lake artifact (one
    // anti-join + append per admitted batch, `noveltyIndexArtifact`),
    // and batch 3's novelty scores probe the index AS-OF batch 2
    // (time travel to the pre-admission version). The query PROVES
    // both legs in-query: the final index equals the from-scratch
    // distinct-shingle rebuild, and the as-of scores equal q362's
    // from-scratch computation against batches 0–2. Returns the
    // scored admission batch. `TextAnalysis.noveltyScoreAgainst`.
    "q384_novelty_index_maintained" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = noveltyIndexArtifact(s, d)
      val vs = idx.versions.sorted
      val asOfPrev = idx.snapshot(vs(vs.length - 2))
      val got = graft.operators.TextAnalysis.noveltyScoreAgainst(
        docs.filter(col("doc_id") % 4 === 3), asOfPrev)
        .transform(Qx.stageForProof)
      Qx.prove { // proof legs: Verify runs them, Bench times the served plan
        val fullIdx = graft.operators.Dedup.shingles(docs, 3)
          .select(col("shingle")).distinct()
        require(idx.snapshot().except(fullIdx).isEmpty &&
          fullIdx.except(idx.snapshot()).isEmpty,
          "maintained novelty index must equal the from-scratch rebuild")
        val scratch = graft.operators.TextAnalysis.noveltyScore(
          docs.filter(col("doc_id") % 4 === 3),
          docs.filter(col("doc_id") % 4 =!= 3))
        require(got.except(scratch).isEmpty && scratch.except(got).isEmpty,
          "as-of index scores must equal the from-scratch novelty scores")
      }
      got.orderBy("doc_id")
    }),

    // MANN–WHITNEY U (r17): do even- and odd-user cohorts draw spend
    // from the same distribution, per event type — the nonparametric
    // A/B readout for skewed values. Midrank algebra over the value
    // HISTOGRAM (never raw rows), exact integer U (doubled, so ties
    // never round), tie-corrected z as one mirrored IEEE tree.
    // `Stats.mannWhitneyU`.
    "q385_mann_whitney" -> ((s, d) =>
      graft.operators.Stats.mannWhitneyU(
        Tables.events(s, d), "event_type",
        when(col("user_id") % 2 === 0, 1L).otherwise(0L),
        floor(col("value") * lit(100.0)).cast("long"))
        .orderBy("event_type")),

    // STREAMING MANN–WHITNEY (r17): q385's statistic in-stream —
    // per-batch (type, cents, ca, cb) HISTOGRAM fragments (additive),
    // read-side fold through the same midrank algebra. A 4-batch
    // drain must reproduce the batch statistic BIT-EXACTLY. Oracle =
    // q385's batch SQL. `Stats.mannWhitneyFromCounts`.
    "q386_stream_mannwhitney" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("__s"),
            floor(col("value") * lit(100.0)).cast("long").as("value"))
          .groupBy(col("event_type"), col("value"))
          .agg(sum(when(col("__s") === 1, 1L).otherwise(0L)).as("ca"),
            sum(when(col("__s") === 1, 0L).otherwise(1L)).as("cb"))
      }
      graft.operators.Stats.mannWhitneyFromCounts(frags, "event_type")
        .orderBy("event_type")
    }),

    // CLIFF'S DELTA (r17): q385's effect size — P(a>b) − P(a<b)
    // over all cross pairs WITHOUT the pair space (histogram prefix
    // algebra, exact integer numerator, one mirrored division).
    // `Stats.cliffsDelta`.
    "q387_cliffs_delta" -> ((s, d) =>
      graft.operators.Stats.cliffsDelta(
        Tables.events(s, d), "event_type",
        when(col("user_id") % 2 === 0, 1L).otherwise(0L),
        floor(col("value") * lit(100.0)).cast("long"))
        .orderBy("event_type")),

    // BENFORD FIRST-DIGIT SHARES (r17): leading INTEGER-PART digits
    // of order totals vs the log-law expectation, through the
    // ADDITIVE (digit, c) count face — the observed/expected/excess
    // share table (q249 carries the χ²-term flavor on event cents;
    // this is the fragment-foldable face q393 streams). Digit from
    // the exact decimal string (no libm log); constants identical
    // IEEE literals both engines. `Stats.benfordFromCounts`.
    "q388_benford_digits" -> ((s, d) =>
      graft.operators.Stats.benfordFromCounts(
        Tables.orders(s, d)
          .select(floor(col("o_totalprice")).cast("long").as("__x"))
          .filter(col("__x") >= 1L)
          .select(substring(col("__x").cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("c")))
        .orderBy("digit")),

    // SOURCE TOTAL-VARIATION DRIFT (r17): pairwise TV distance
    // between source token distributions — the log-free slice-drift
    // number (KL/JS would hit libm divergence). Exact integer
    // numerator via denominator clearing; co-occurring tokens only
    // ever join (one vocabulary-bounded equi self-join), exclusive
    // mass handled algebraically. `TextAnalysis.sourceTvDistance`.
    "q389_source_tv_drift" -> ((s, d) =>
      graft.operators.TextAnalysis.sourceTvDistance(
        Tables.documents(s, d), "source")
        .orderBy("source_a", "source_b")),

    // VOCABULARY GROWTH (HEAPS) CURVE (r17): distinct tokens after
    // each tenth of the corpus in doc_id order — does more of the
    // same source still buy vocabulary. Thresholds through
    // rankInGroup's bucketed scan; tokens fold to first-occurrence
    // docs; the curve is a cumulative sum over a 10-row aggregate.
    // `TextAnalysis.heapsCurve`.
    "q390_heaps_curve" -> ((s, d) =>
      graft.operators.TextAnalysis.heapsCurve(Tables.documents(s, d))
        .orderBy("bucket")),

    // CROSS-CORRELATION (r17): does daily CLICK volume lead daily
    // PURCHASE volume, and by how many days — exact CCF at lags
    // −7..+7 over the day-grain count series (q270's acfDaily is the
    // single-series special case; this is the cross-series lead/lag
    // detector). Means cleared by per-series n-scaling so every sum
    // stays integer; one mirrored √-division per lag.
    // `Stats.crossCorrelation`.
    "q391_cross_correlation" -> ((s, d) => {
      def daily(t: String) = Tables.events(s, d)
        .filter(col("event_type") === t)
        .select((unix_micros(col("ts")) / lit(86400000000L))
          .cast("long").as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("x"))
      graft.operators.Stats.crossCorrelation(
        daily("click"), daily("purchase"), maxLag = 7)
        .orderBy("lag")
    }),

    // MAINTAINED BM25 INDEX (r17; FULL VOCABULARY r18 — VERDICT r17
    // wrong #1): q384's maintained-artifact shape applied to
    // retrieval — the (df per term, corpus stats) relation maintained
    // as ADDITIVE lake fragments (one vocabulary-bounded per-term
    // fragment appended per admitted batch), admission batch 3 scored
    // with the q102 BM25 chain against the index AS-OF batch 2. The
    // query terms are NOT enumerated at build time: scoring resolves
    // them from the stored per-term relation at query time (an
    // unanticipated term is one more lookup, df 0 if absent), and the
    // in-query proof covers the WHOLE vocabulary — the folded as-of
    // index must equal the from-scratch per-term aggregation over
    // batches 0–2. `bm25IndexArtifact`.
    "q392_bm25_index_maintained" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = bm25IndexArtifact(s, d)
      val vs = idx.versions.sorted
      val asOfPrev = idx.snapshot(vs(vs.length - 2))
      val folded = asOfPrev.groupBy(col("kind"), col("term"))
        .agg(sum(col("v")).cast("long").as("v"))
        .transform(Qx.stageForProof)
      Qx.prove { // proof leg: Verify runs it, Bench times the served plan
        val scratch = bm25Fragment(docs.filter(col("doc_id") % 4 =!= 3))
          .select(col("kind"), col("term"), col("v"))
        require(folded.except(scratch).isEmpty &&
          scratch.except(folded).isEmpty,
          "as-of BM25 index must equal the from-scratch per-term build")
      }
      // query-time term resolution from the as-of relation — the terms
      // appear HERE only, never in the index build
      def dfOf(term: String) = coalesce(
        max(when(col("kind") === "df" && col("term") === term, col("v"))),
        lit(0L))
      val st = folded.agg(
        max(when(col("kind") === "stats" && col("term") === "n_docs",
          col("v"))).as("n_docs"),
        max(when(col("kind") === "stats" && col("term") === "sum_len",
          col("v"))).as("sum_len"),
        dfOf("spark").as("df0"),
        dfOf("join").as("df1"))
      val base = docs.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("double").as("len"),
          size(filter(col("ws"), w => w === "spark")).cast("double").as("tf0"),
          size(filter(col("ws"), w => w === "join")).cast("double").as("tf1"))
      val avgLen = col("sum_len").cast("double") / col("n_docs").cast("double")
      def term(tf: Column, dfc: Column) =
        ((col("n_docs").cast("double") - dfc.cast("double") + lit(0.5)) /
          (dfc.cast("double") + lit(0.5))) *
          ((tf * lit(2.2)) /
            (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / avgLen)))
      base.crossJoin(broadcast(st))
        .withColumn("score", term(col("tf0"), col("df0")) +
          term(col("tf1"), col("df1")))
        .filter(col("score") > 0)
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("score"))
    }),

    // STREAMING BENFORD (r17): q388's audit on the event stream —
    // per-batch (digit, c) fragments (additive), read-side fold
    // through the same fixed expectation table.
    // `Stats.benfordFromCounts`.
    "q393_stream_benford" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(floor(col("value")).cast("long").as("__x"))
          .filter(col("__x") >= 1L)
          .select(substring(col("__x").cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.benfordFromCounts(frags).orderBy("digit")
    }),

    // STREAMING TV DRIFT (r17): total-variation distance between
    // event-type value distributions, maintained in-stream — per-
    // batch (type, cents, c) HISTOGRAM fragments (additive), folded
    // through q389's denominator-cleared exact algebra.
    // `TextAnalysis.tvFromCounts`.
    "q394_stream_tv" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            floor(col("value") * lit(100.0)).cast("long").as("value"))
          .groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.TextAnalysis.tvFromCounts(frags, "event_type")
        .orderBy("source_a", "source_b")
    }),

    // SEQUENCE SUPPORT (r17): for every ordered event-type pair, how
    // many users saw both and in how many a's FIRST occurrence
    // preceded b's — the PrefixSpan-style 2-step behavior readout.
    // Per-user rows are alphabet-bounded, so the pair join fans out
    // by a constant. `EventAnalytics.sequenceSupport`.
    "q395_sequence_support" -> ((s, d) =>
      graft.operators.EventAnalytics.sequenceSupport(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id")))
        .orderBy("type_a", "type_b")),

    // STREAMING MARKOV TRANSITIONS (r17): q235's batch transition
    // matrix maintained in-stream — O(1) state per user (the last
    // observed event, the q381 shape), every consecutive pair emitted
    // as a (from, to) fact INCLUDING batch-boundary pairs (what a
    // per-batch rollup loses), chronological drain fails loud on
    // disorder. The drained fact relation rolls up to the bounded
    // |types|² matrix and must hash-match the BATCH lag-window
    // oracle. `Stateful.TransitionEmit`.
    "q396_stream_markov" -> ((s, d) => {
      val trans = graft.streaming.MicroBatch.updateRun(s, d,
        splitParts = Some(4), chronological = true,
        conf = graft.streaming.Stateful.rocksDBConf) { stream =>
        import s.implicits._
        graft.streaming.Stateful.transitionEmit(
          graft.Tables.toEventTime(stream)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1))
          .toDF("from_type", "to_type")
      }
      transitionRollup(trans)
    }),

    // OUT-OF-ORDER STREAMING MARKOV (r17): q396's transition
    // maintenance under the q382 arrival contract — the
    // WatermarkOrderedReplay skeleton with the transition step, so
    // the strict/buffered duality holds for a SECOND replay family
    // (the fail-loud chronological face stays q396). Hash-interleaved
    // 4-batch drain + sentinel, full-range watermark delay; the
    // re-sorted replay must reproduce the batch lag-window matrix
    // BIT-EXACTLY. `Stateful.TransitionBuffered`.
    "q398_stream_markov_ooo" -> ((s, d) => {
      val in = graft.streaming.MicroBatch.stageEventsSplitSentinel(
        s, d, parts = 4, sentinelInterval = "46 DAYS")
      val trans = graft.streaming.MicroBatch.updateRun(s, d,
        inDir = Some(in),
        conf = graft.streaming.Stateful.rocksDBConf) { stream =>
        import s.implicits._
        graft.streaming.Stateful.transitionBuffered(
          graft.Tables.toEventTime(stream)
            .withWatermark("ts", "45 days")
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1))
          .toDF("from_type", "to_type")
      }
      transitionRollup(trans)
    }),

    // ASYMMETRIC NEAR-DUP AUDIT (r17): the containment pairs Jaccard
    // CANNOT see — ≥9/10 contained but Jaccard < 1/2 (quote
    // expansions, boilerplate supersets). The report that justifies
    // running the asymmetric join next to the symmetric family.
    // Integer-exact filter; both metrics emitted. Since r18 the pair
    // relation is the STAGED 9/10 artifact shared with q348 (VERDICT
    // r17 next #3 — the q363/q380 sharing pattern), so this query is
    // the filter+project it always semantically was.
    "q397_asymmetric_neardups" -> ((s, d) =>
      R16Q.containPairs910Artifact(s, d)
        .withColumn("union_sz",
          col("sz_a") + col("sz_b") - col("inter"))
        .filter(col("inter") * lit(2L) < col("union_sz"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
          col("sz_b"), col("containment"),
          (col("inter").cast("double") / col("union_sz").cast("double"))
            .as("jaccard"))
        .orderBy("doc_a", "doc_b"))
  )

  val oracles: Map[String, String] = Map(
    // q382/q383 drain to the same change rows q376 lag-detects
    // one-shot — disorder inside the watermark is re-sorted away
    "q382_stream_scd2_ooo" -> R16Q.scd2Sql,
    "q383_stream_scd2_jitter" -> R16Q.scd2Sql,

    // mirrors q384: batch 3 scored against the distinct shingles of
    // batches 0–2 (the index as-of the pre-admission version)
    "q384_novelty_index_maintained" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), corpus AS (
        |  SELECT DISTINCT s FROM sh WHERE doc_id % 4 <> 3
        |), i AS (
        |  SELECT doc_id, s FROM sh WHERE doc_id % 4 = 3
        |)
        |SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen,
        |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM i LEFT JOIN corpus c ON i.s = c.s
        |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin,

    // mirrors q385/q386: midrank histogram algebra, decimal widths
    // pre-cast so no multiply exceeds DuckDB's hard 38-digit cap;
    // z is one shared IEEE tree over exact totals
    "q385_mann_whitney" -> mwSql,
    "q386_stream_mannwhitney" -> mwSql,

    // mirrors q388: string-extracted leading digit, shared literal
    // expectation constants (identical IEEE doubles on both engines)
    "q388_benford_digits" -> benfordShareSql(
      """SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE floor(o_totalprice) >= 1""".stripMargin),

    // mirrors q389: denominator-cleared exact TV numerator; only
    // co-occurring tokens join, exclusive mass enters algebraically
    "q389_source_tv_drift" -> tvDriftSql(
      """SELECT source AS g, tok AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY g, v""".stripMargin),

    // mirrors q390: thresholds are order statistics of doc_id,
    // tokens fold to first-occurrence docs, cumulative over 10 rows
    "q390_heaps_curve" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |ids AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id)
        |    AS BIGINT) AS rk
        |  FROM documents
        |), th AS (
        |  SELECT CAST(b AS BIGINT) AS bucket,
        |    (CAST(b AS BIGINT) * n.n) // 10 AS rk_t, n.n AS n
        |  FROM UNNEST(generate_series(1, 10)) AS t(b), n
        |), thid AS (
        |  SELECT th.bucket, th.n, ids.doc_id AS th_id
        |  FROM th JOIN ids ON ids.rk = th.rk_t
        |), fo AS (
        |  SELECT tok, MIN(doc_id) AS fo
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok
        |), v AS (
        |  SELECT t.bucket, t.n, CAST(COUNT(fo.tok) AS BIGINT) AS vocab
        |  FROM thid t LEFT JOIN fo ON fo.fo <= t.th_id
        |  GROUP BY t.bucket, t.n
        |)
        |SELECT bucket, (bucket * n) // 10 AS n_docs,
        |  vocab - COALESCE(lag(vocab) OVER (ORDER BY bucket), 0)
        |    AS new_tokens,
        |  vocab
        |FROM v ORDER BY bucket""".stripMargin,

    // mirrors q391: per-series n-scaled centering keeps every sum
    // integer; per-lag equi join on t+lag; one √-division per lag
    "q391_cross_correlation" ->
      """WITH a AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
        |         CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY t
        |), b AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
        |         CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY t
        |), ta AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(8,0)) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DECIMAL(21,0)) AS sx
        |  FROM a
        |), tb AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(8,0)) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(20,0))) AS DECIMAL(21,0)) AS sx
        |  FROM b
        |), cca AS (
        |  SELECT t, CAST(CAST(n * CAST(x AS DECIMAL(14,0))
        |    AS DECIMAL(23,0)) - sx AS DECIMAL(19,0)) AS cx
        |  FROM a, ta
        |), ccb AS (
        |  SELECT t, CAST(CAST(n * CAST(x AS DECIMAL(14,0))
        |    AS DECIMAL(23,0)) - sx AS DECIMAL(19,0)) AS cx
        |  FROM b, tb
        |), da AS (
        |  SELECT CAST(SUM(CAST(cx * cx AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS da FROM cca
        |), db AS (
        |  SELECT CAST(SUM(CAST(cx * cx AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS db FROM ccb
        |), p AS (
        |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CAST(a2.cx * b2.cx AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS num
        |  FROM (SELECT CAST(g AS BIGINT) AS lag
        |        FROM UNNEST(generate_series(-7, 7)) AS t(g)) l
        |  CROSS JOIN cca a2 JOIN ccb b2 ON b2.t = a2.t + l.lag
        |  GROUP BY l.lag
        |)
        |SELECT p.lag, p.n_pairs,
        |  CASE WHEN da.da > 0 AND db.db > 0 THEN
        |    CAST(p.num AS DOUBLE) /
        |      sqrt(CAST(da.da AS DOUBLE) * CAST(db.db AS DOUBLE))
        |  END AS ccf
        |FROM p, da, db ORDER BY lag""".stripMargin,

    // mirrors q392: batch 3 scored with the q102 BM25 chain against
    // the index stats of batches 0-2 (the as-of version)
    "q392_bm25_index_maintained" ->
      """WITH idx AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_len,
        |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w = 'spark')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w = 'join')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
        |  FROM documents WHERE doc_id % 4 <> 3
        |), base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'join')) AS DOUBLE) AS tf1
        |  FROM documents WHERE doc_id % 4 = 3
        |), sc AS (
        |  SELECT doc_id,
        |    ((CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) /
        |      (CAST(df0 AS DOUBLE) + 0.5)) *
        |    ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * len /
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) +
        |    ((CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) /
        |      (CAST(df1 AS DOUBLE) + 0.5)) *
        |    ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * len /
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      AS score
        |  FROM base, idx
        |)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q393 drains to the same (digit, c) counts q388 aggregates —
    // additive fragments; the events flavor of the Benford audit
    "q393_stream_benford" -> benfordShareSql(
      """SELECT CAST(substr(CAST(CAST(floor(value) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM events WHERE floor(value) >= 1""".stripMargin),

    // q394 drains to the same (type, cents, c) histogram q389's
    // algebra folds — the metric-distribution drift flavor
    "q394_stream_tv" -> tvDriftSql(
      """SELECT event_type AS g, CAST(floor(value * 100.0) AS BIGINT)
        |    AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY g, v""".stripMargin),

    // mirrors q395: lexicographic (ts, id) first occurrences, pair
    // join over the alphabet-bounded per-user type relation
    "q395_sequence_support" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events
        |), f1 AS (
        |  SELECT user_id, event_type, MIN(ts_us) AS fts
        |  FROM e GROUP BY user_id, event_type
        |), f AS (
        |  SELECT e.user_id, e.event_type, f1.fts,
        |    CAST(MIN(e.event_id) AS BIGINT) AS fid
        |  FROM e JOIN f1 ON e.user_id = f1.user_id
        |    AND e.event_type = f1.event_type AND e.ts_us = f1.fts
        |  GROUP BY e.user_id, e.event_type, f1.fts
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_users_both,
        |  CAST(SUM(CASE WHEN a.fts < b.fts OR
        |    (a.fts = b.fts AND a.fid < b.fid) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a_first,
        |  CAST(SUM(CASE WHEN a.fts < b.fts OR
        |    (a.fts = b.fts AND a.fid < b.fid) THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS support_share
        |FROM f a JOIN f b ON a.user_id = b.user_id
        |  AND a.event_type <> b.event_type
        |GROUP BY a.event_type, b.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    // q396/q398 drain to the same transition facts q235's lag window
    // derives one-shot — per-user lag in exact (ts, id) order,
    // |types|² cell rollup, one division per cell
    "q396_stream_markov" -> markovSql,
    "q398_stream_markov_ooo" -> markovSql,

    // mirrors q397: the q348 pair definition + the Jaccard blind-spot
    // filter (integer-exact on both engines)
    "q397_asymmetric_neardups" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment,
        |  CAST(i.inter AS DOUBLE) /
        |    CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sz sa ON i.doc_a = sa.doc_id
        |JOIN sz sb ON i.doc_b = sb.doc_id
        |WHERE i.inter * 10 >= sa.sz * 9
        |  AND i.inter * 2 < sa.sz + sb.sz - i.inter
        |ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors q387: B-prefix histogram fold, exact numerator
    "q387_cliffs_delta" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s,
        |         CAST(floor(value * 100.0) AS BIGINT) AS v
        |  FROM events
        |), h AS (
        |  SELECT g, v,
        |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN s = 1 THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY g, v
        |), w AS (
        |  SELECT g, ca, cb,
        |    COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lob
        |  FROM h
        |), a AS (
        |  SELECT g, CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(CAST(CAST(ca AS DECIMAL(11,0)) *
        |      CAST(2*lob + cb AS DECIMAL(12,0)) AS DECIMAL(23,0)))
        |      AS DECIMAL(26,0)) AS gtgt
        |  FROM w GROUP BY g
        |), f AS (
        |  SELECT g, na, nb,
        |    gtgt - CAST(CAST(na AS DECIMAL(11,0)) *
        |      CAST(nb AS DECIMAL(11,0)) AS DECIMAL(22,0)) AS num,
        |    CAST(CAST(na AS DECIMAL(11,0)) *
        |      CAST(nb AS DECIMAL(11,0)) AS DECIMAL(22,0)) AS nanb
        |  FROM a
        |)
        |SELECT g AS event_type, na, nb, CAST(num AS VARCHAR) AS delta_num,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    CAST(num AS DOUBLE) / CAST(nanb AS DOUBLE)
        |  END AS delta
        |FROM f ORDER BY event_type""".stripMargin
  )

  /** q385/q386 share this batch SQL — (stratum, value, ca, cb)
    * histogram fragments are additive, so the streaming fold equals
    * the one-shot midrank statistic bit-exactly. */

  /** q388/q393 share this Benford share-table SQL over a caller
    * (digit) CTE — observed vs expected shares, constants as
    * identical IEEE double literals on both engines. */
  private def benfordShareSql(digitsCte: String): String = {
    val exp =
      """CASE g.digit
        |    WHEN 1 THEN 0.3010299956639812
        |    WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992
        |    WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482
        |    WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673
        |    WHEN 8 THEN 0.05115252244738129
        |    ELSE 0.04575749056067514 END""".stripMargin
    s"""WITH d AS (
       |  $digitsCte
       |), cts AS (
       |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY digit
       |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
       |g AS (SELECT CAST(b AS INTEGER) AS digit
       |      FROM UNNEST(generate_series(1, 9)) AS t(b))
       |SELECT g.digit, tot.n, COALESCE(cts.c, 0) AS c,
       |  CAST(COALESCE(cts.c, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)
       |    AS share,
       |  CAST($exp AS DOUBLE) AS expected_share,
       |  CAST(COALESCE(cts.c, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE) -
       |  CAST($exp AS DOUBLE) AS excess
       |FROM g CROSS JOIN tot LEFT JOIN cts ON g.digit = cts.digit
       |ORDER BY g.digit""".stripMargin
  }

  /** q389/q394 share this pairwise total-variation SQL over a caller
    * (g, v, c) count CTE — denominator-cleared exact numerator with
    * the exclusive mass entering algebraically, mirroring
    * `TextAnalysis.tvFromCounts`. */
  private def tvDriftSql(countsCte: String): String =
    s"""WITH c AS (
       |  $countsCte
       |), t AS (
       |  SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY g
       |), co AS (
       |  SELECT a.g AS source_a, b.g AS source_b,
       |    ta.n AS na, tb.n AS nb,
       |    CAST(SUM(a.c) AS BIGINT) AS coa,
       |    CAST(SUM(b.c) AS BIGINT) AS cob,
       |    CAST(SUM(ABS(
       |      CAST(CAST(a.c AS DECIMAL(14,0)) * CAST(tb.n AS DECIMAL(14,0))
       |        AS DECIMAL(29,0)) -
       |      CAST(CAST(b.c AS DECIMAL(14,0)) * CAST(ta.n AS DECIMAL(14,0))
       |        AS DECIMAL(29,0)))) AS DECIMAL(33,0)) AS sabs
       |  FROM c a JOIN c b ON a.v = b.v AND a.g < b.g
       |  JOIN t ta ON ta.g = a.g
       |  JOIN t tb ON tb.g = b.g
       |  GROUP BY a.g, b.g, ta.n, tb.n
       |), f AS (
       |  SELECT p.source_a, p.source_b, p.na, p.nb,
       |    CAST(COALESCE(co.sabs, 0) +
       |      CAST(CAST(p.na - COALESCE(co.coa, 0) AS DECIMAL(14,0)) *
       |        CAST(p.nb AS DECIMAL(14,0)) AS DECIMAL(29,0)) +
       |      CAST(CAST(p.nb - COALESCE(co.cob, 0) AS DECIMAL(14,0)) *
       |        CAST(p.na AS DECIMAL(14,0)) AS DECIMAL(29,0))
       |      AS DECIMAL(34,0)) AS num,
       |    CAST(CAST(2 AS DECIMAL(2,0)) *
       |      CAST(CAST(p.na AS DECIMAL(14,0)) * CAST(p.nb AS DECIMAL(14,0))
       |        AS DECIMAL(29,0)) AS DECIMAL(31,0)) AS den
       |  FROM (SELECT ta.g AS source_a, tb.g AS source_b,
       |          ta.n AS na, tb.n AS nb
       |        FROM t ta JOIN t tb ON ta.g < tb.g) p
       |  LEFT JOIN co ON co.source_a = p.source_a
       |    AND co.source_b = p.source_b
       |)
       |SELECT source_a, source_b, na, nb,
       |  CAST(num AS VARCHAR) AS tv_num,
       |  CASE WHEN na > 0 AND nb > 0 THEN
       |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |  END AS tv
       |FROM f ORDER BY source_a, source_b""".stripMargin

  /** q396/q398 share this batch SQL — both drains emit exactly the
    * consecutive transition facts the lag window derives one-shot
    * (q396 under the strict chronological contract, q398 re-ordered
    * by the watermark buffer). */
  private lazy val markovSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      |  FROM events
      |), tr AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS to_type
      |  FROM e
      |), c AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type
      |), t AS (
      |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS total_from
      |  FROM c GROUP BY from_type
      |)
      |SELECT c.from_type, c.to_type, c.c, t.total_from,
      |  CAST(c.c AS DOUBLE) / CAST(t.total_from AS DOUBLE) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  private lazy val mwSql: String =
    """WITH b AS (
      |  SELECT event_type AS g,
      |         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS s,
      |         CAST(floor(value * 100.0) AS BIGINT) AS v
      |  FROM events
      |), h AS (
      |  SELECT g, v,
      |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN s = 1 THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM b GROUP BY g, v
      |), w AS (
      |  SELECT g, v, ca, cb, ca + cb AS c,
      |    COALESCE(SUM(ca + cb) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
      |  FROM h
      |), a AS (
      |  SELECT g, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb,
      |    CAST(SUM(CAST(CAST(ca AS DECIMAL(11,0)) *
      |      CAST(2*lo + c + 1 AS DECIMAL(12,0)) AS DECIMAL(23,0)))
      |      AS DECIMAL(26,0)) AS r2a,
      |    CAST(SUM(CAST(CAST(CAST(c AS DECIMAL(11,0)) *
      |      CAST(c - 1 AS DECIMAL(11,0)) AS DECIMAL(22,0)) *
      |      CAST(c + 1 AS DECIMAL(11,0)) AS DECIMAL(33,0)))
      |      AS DECIMAL(36,0)) AS t
      |  FROM w GROUP BY g
      |), f AS (
      |  SELECT g, na, nb, na + nb AS n, r2a, t FROM a
      |), z AS (
      |  SELECT g, na, nb,
      |    r2a - CAST(CAST(na AS DECIMAL(11,0)) *
      |      CAST(na + 1 AS DECIMAL(12,0)) AS DECIMAL(23,0)) AS u2,
      |    CAST(CAST(na AS DECIMAL(11,0)) *
      |      CAST(nb AS DECIMAL(11,0)) AS DECIMAL(22,0)) AS nanb,
      |    CAST(CAST(CAST(CAST(n + 1 AS DECIMAL(11,0)) *
      |      CAST(n AS DECIMAL(11,0)) AS DECIMAL(22,0)) *
      |      CAST(n - 1 AS DECIMAL(12,0)) AS DECIMAL(34,0)) - t
      |      AS DECIMAL(37,0)) AS bterm,
      |    CAST(CAST(12 AS DECIMAL(2,0)) *
      |      CAST(CAST(n AS DECIMAL(11,0)) *
      |        CAST(n - 1 AS DECIMAL(12,0)) AS DECIMAL(23,0))
      |      AS DECIMAL(25,0)) AS m12
      |  FROM f
      |)
      |SELECT g AS event_type, na, nb, CAST(u2 AS VARCHAR) AS u2_a,
      |  CASE WHEN na > 0 AND nb > 0 AND bterm > 0 THEN
      |    CAST(u2 - nanb AS DOUBLE) /
      |      (2.0 * sqrt(CAST(nanb AS DOUBLE) * CAST(bterm AS DOUBLE) /
      |        CAST(m12 AS DOUBLE)))
      |  END AS z
      |FROM z ORDER BY event_type""".stripMargin
}
