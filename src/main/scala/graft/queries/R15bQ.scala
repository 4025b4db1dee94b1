package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._

/** Round-15 batches 2+ (q325–q342): Jaro-Winkler native expression,
  * MMR diversity reranking, k-core decomposition, systematic PPS
  * sampling (plain + stratified), observed-metrics gates, exact
  * set-similarity join (+ incremental face + clusters), journey
  * conformance (batch + streaming fold), Theil-Sen trend,
  * two-proportion z-test, binary frame sampling, zero-copy shallow
  * clone, delete-1 jackknife ratio SE, top-k+OTHER rollup, and the
  * Merkle two-level table diff.
  */
object R15bQ {

  /** The q327 graph: a skewed synthetic link graph from events whose
    * node set and density grow with the corpus (unlike the q136
    * graph, whose regular degrees make every k-core all-or-nothing).
    * The varying modulus spreads degrees heavy-tailed so the peel
    * actually removes strata round by round. */
  private def kcoreEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).select(
      (col("event_id") % 211).as("src"),
      ((col("event_id") * 7919 + col("user_id"))
        % ((col("event_id") % 17 + 2) * 19)).as("dst"))

  val queries: Map[String, Q] = Map(

    // JARO-WINKLER FUZZY MATCH (r15): q278's multi-pass blocked
    // entity resolution decided by the native codegen'd
    // `jaro_winkler_similarity` expression instead of levenshtein —
    // the human-name/short-title scorer (prefix-weighted, transposition
    // -tolerant). The expression mirrors DuckDB's rapidfuzz arithmetic
    // operation for operation, so raw DOUBLES hash-match the oracle —
    // the strongest cross-engine pin a float scorer can have.
    // `functions/expressions/JaroWinkler.scala`,
    // `TextAnalysis.fuzzyMatchNamesJw`.
    "q325_jaro_winkler" -> ((s, d) =>
      graft.operators.TextAnalysis.fuzzyMatchNamesJw(
        Tables.part(s, d), "p_name", minSim = 0.90,
        blockExprs = Seq(
          split(col("p_name"), " ").getItem(0),
          element_at(split(col("p_name"), " "), -1)))
        .orderBy("a_name", "b_name")),

    // MMR DIVERSITY RERANK (r15): top-32 candidates by exact integer
    // relevance to query vec 0 (distributed zip_with dot against the
    // broadcast query literal + TakeOrderedAndProject — no window, no
    // global sort), then the k=6 greedy maximal-marginal-relevance
    // selection over the bounded candidate set (the production
    // reranker contract). All comparisons are exact BIGINT dots over
    // the shared int8 quantization, so the oracle's 6 unrolled SQL
    // steps replay the selection bit-for-bit.
    // `Similarity.mmrSelect`.
    "q326_mmr_rerank" -> ((s, d) =>
      graft.operators.Similarity.mmrSelect(
        Tables.embeddings(s, d), queryId = 0L, n = 32, k = 6)
        .orderBy("round")),

    // K-CORE DECOMPOSITION (r15): the "dense interaction core" of the
    // link graph by simultaneous peeling — each round recomputes
    // degrees inside the surviving subgraph and drops every node
    // below k at once (deterministic: no peel order to disagree on).
    // The loop REQUIRES convergence within 12 rounds fail-loud; the
    // oracle unrolls exactly 12 (idempotent after the fixpoint, so
    // the converged loop and the fixed unroll agree).
    // `LinkAnalysis.kCore`.
    "q327_kcore" -> ((s, d) =>
      graft.operators.LinkAnalysis.kCore(kcoreEdges(s, d), k = 5,
          maxRounds = 12)
        .orderBy("node")),

    // SYSTEMATIC PPS SAMPLE (r15): probability-proportional-to-size
    // corpus sampling with NO RNG — md5 order stands in for the
    // random permutation, a k=25 grid over the exact running weight
    // sum picks documents, and the interval test is cross-multiplied
    // integer ceilings (no doubles anywhere). Prefix sums ride the
    // recursively-bounded two-level scan, never a global window.
    // `Corpus.ppsSample`.
    "q328_pps_sample" -> ((s, d) =>
      graft.operators.Corpus.ppsSample(
        Tables.documents(s, d), "n_chars", k = 25)
        .orderBy("doc_id")),

    // EXACT SET-SIMILARITY JOIN (r15): AllPairs/PPJoin prefix
    // filtering — every doc pair with trigram-shingle Jaccard ≥ 4/5,
    // recall 1.0 BY THEOREM (not probability, the MinHash
    // complement): pairs must share a rare-first prefix shingle, so
    // the candidate join is an equi-join on prefix shingles. Integer
    // ceilings and cross-multiplied thresholds; one IEEE division
    // reports the jaccard. `Dedup.setSimilarityJoin`.
    "q330_setsim_join" -> ((s, d) =>
      graft.operators.Dedup.setSimilarityJoin(
        Tables.documents(s, d), n = 3, minJacNum = 4, minJacDen = 5)
        .orderBy("doc_a", "doc_b")),

    // JOURNEY CONFORMANCE (r15): each user's first-12-event
    // type-initial string scored by edit distance against the
    // canonical onboarding script — the sequence generalization of
    // the step funnel (HOW unlike the expected path, not just
    // did-it-happen). Prefix cut is a user-partitioned rank; the DP
    // is prefixLen² per user. `EventAnalytics.journeyConformance`.
    "q331_journey_conformance" -> ((s, d) =>
      graft.operators.EventAnalytics.journeyConformance(
        Tables.events(s, d), canonical = "svcpvcsvcpvc",
        prefixLen = 12, maxDist = 6)
        .orderBy("user_id")),

    // STREAMING JOURNEY CONFORMANCE (r15): q331's sequence scoring as
    // a STATELESS streaming fold — each micro-batch commits its own
    // per-user first-12 candidates (a batch-local rank, the q281
    // read-side-fold idiom: first-k by (ts, id) is a mergeable
    // partial, since the global first-12 is contained in the union of
    // batch-local first-12s), and the read-side merge re-ranks the
    // bounded union and scores. No state store at all — the partials
    // ARE the state, replayable from the sink.
    "q332_stream_journey" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sink = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
          splitParts = Some(3)) { batch =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.Tables.toEventTime(batch)
          .select(col("user_id"),
            substring(col("event_type"), 1, 1).as("c"),
            col("ts"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 12)
          .drop("rn")
      }
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      sink.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 12)
        .groupBy(col("user_id"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, c)))," +
            " s -> s.c)"), "").as("journey"))
        .withColumn("dist",
          levenshtein(col("journey"), lit("svcpvcsvcpvc")).cast("long"))
        .withColumn("conforming", col("dist") <= 6L)
        .orderBy("user_id")
    }),

    // INCREMENTAL SET-SIMILARITY (r15): fold a new batch (doc_id % 7
    // = 0) into the standing corpus at DELTA cost — prefixes under
    // the CORPUS-frozen df order (the production PPJoin-index
    // contract), candidates = prefix(batch) ⋈ prefix(all).
    // Bit-identity to the full q330 recompute filtered to
    // batch-touching pairs (both exceptAll directions) is pinned by
    // R15dSpec; the oracle replays the full join filtered.
    // `Dedup.setSimilarityJoinAgainst`.
    "q333_setsim_incremental" -> ((s, d) => {
      val all = Tables.documents(s, d)
      val incoming = all.filter(col("doc_id") % 7 === 0)
      val corpus = all.filter(col("doc_id") % 7 =!= 0)
      graft.operators.Dedup.setSimilarityJoinAgainst(
          incoming, corpus, n = 3, minJacNum = 4, minJacDen = 5)
        .orderBy("doc_a", "doc_b")
    }),

    // EXACT-JACCARD DEDUP CLUSTERS (r15): q330's recall-1.0 pair
    // mining feeding the same pointer-jumping connected-components
    // machinery the MinHash path uses (q103) — entity groups with a
    // THEOREM-backed completeness guarantee instead of a
    // probabilistic one. `Dedup.setSimilarityJoin` + `dedupClusters`.
    "q334_setsim_clusters" -> ((s, d) => {
      val pairs = graft.operators.Dedup.setSimilarityJoin(
          Tables.documents(s, d), n = 3, minJacNum = 4, minJacDen = 5)
        .select(col("doc_a"), col("doc_b"))
      graft.operators.Dedup.dedupClusters(pairs, iterations = 8,
          pointerJumping = true)
        .orderBy("doc_id")
    }),

    // THEIL-SEN ROBUST TREND (r15): median-of-pairwise-slopes over
    // each event type's daily series — outlier-immune where OLS bends
    // to one bad day. Each slope is ONE exactly-rounded IEEE division
    // of exact integers, so the (slope, d1, d2) order — and the
    // lower-median pick — is engine-identical with no quantization.
    // Pairs live on the days²-bounded daily grid. `Stats.theilSenDaily`.
    "q335_theil_sen" -> ((s, d) =>
      graft.operators.Stats.theilSenDaily(Tables.events(s, d))
        .orderBy("event_type")),

    // TWO-PROPORTION Z-TEST (r15): the A/B significance gate — do
    // odd-id users become HEAVY purchasers (>= 14 purchase events) at
    // a different rate than even-id users? Distinct-user counts per
    // cohort, pooled z = (p1-p0)/sqrt(p(1-p)(1/n0+1/n1)) as a short
    // fixed chain of exactly-rounded IEEE ops mirrored
    // token-for-token, so the z-score itself hash-matches; degenerate
    // splits NULL out rather than 0/0. `Stats.twoProportionZ`.
    "q336_ab_ztest" -> ((s, d) =>
      graft.operators.Stats.twoProportionZ(
        Tables.events(s, d), cohortCol = col("user_id") % 2,
        minConvEvents = 14L)),

    // FRAME SAMPLING over binary columns (r15): every 4th 32-byte
    // frame of each clip as its own row with an md5 fingerprint —
    // pure byte arithmetic (binary substring + hash, codegen'd, no
    // UDF, no decode). Clips here are the documents' UTF-8 bytes, so
    // the oracle can fingerprint the same slices through DuckDB's
    // string md5 (ASCII: byte == char). `Multimodal.frameSample`.
    "q337_frame_sample" -> ((s, d) =>
      graft.operators.Multimodal.frameSample(
        Tables.documents(s, d).withColumn("clip",
          encode(col("text"), "UTF-8")),
        "doc_id", "clip", frameBytes = 32, every = 4)
        .drop("frame")
        .orderBy("doc_id", "frame_idx")),

    // DELETE-1 JACKKNIFE SE (r15): uncertainty on a RATIO metric —
    // per event type, the share of value carried by low-k events,
    // with the jackknife standard error (the right SE for Σa/Σb
    // numbers; binomial SE is wrong when both sums are random). Each
    // replicate is one exactly-rounded IEEE division; moments of the
    // 1e-6-quantized replicates accumulate in exact decimals; one
    // mirrored chain emits the SE. `Stats.jackknifeRatio`.
    "q340_jackknife_ratio" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * lit(100.0)).cast("long"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      graft.operators.Stats.jackknifeRatio(ev, "event_type",
        when(col("k") < 50, col("cents")).otherwise(lit(0L)), col("cents"))
        .orderBy("event_type")
    }),

    // TOP-K + OTHER ROLLUP (r15): the cardinality-capped dashboard
    // tile — top 8 props-k segments by count with the exact-decimal
    // tail folded into one OTHER row (totals stay decimal until the
    // single output cast, so OTHER is order-independent). TakeOrdered
    // top-k, never a global sort. `Stats.topKOther`.
    "q341_topk_other" -> ((s, d) =>
      graft.operators.Stats.topKOther(
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k")),
        col("k"), col("value"), k = 8)
        .orderBy("key_label")),

    // MERKLE TWO-LEVEL TABLE DIFF (r15): reconcile two replicas by
    // comparing per-bucket order-free XOR checksums first and reading
    // row detail ONLY in the buckets that disagree — the 100 TB
    // anti-entropy shape. Replica b mutates / drops / adds
    // deterministic row sets; the query REQUIRES level-1 pruning to
    // have excluded buckets, then emits (key, changed|only_a|only_b).
    // The oracle diffs by key directly — same result, proving the
    // Merkle path lost nothing. `Integrity.merkleDiff`.
    "q342_merkle_diff" -> ((s, d) => {
      val a = Tables.events(s, d)
      val cols = Seq("event_id", "user_id", "event_type", "props")
      // replica b: a bad backfill touched one bucket's rows (edits
      // cluster, as real replication damage does), plus a couple of
      // scattered deletions/additions
      val bkt = graft.operators.Integrity.bucketExpr("event_id", 64)
      val b = a.filter(col("event_id") % 49999 =!= 3) // deletions
        .withColumn("props", when(bkt === 3,
          concat(col("props"), lit(" "))).otherwise(col("props"))) // edits
        .unionByName(a.filter(col("event_id") % 49999 === 5) // additions
          .withColumn("event_id", col("event_id") + 100000000L))
      val dirty = graft.operators.Integrity.dirtyBuckets(
        a, b, "event_id", cols, buckets = 64).count()
      require(dirty < 16, s"level-1 pruning excluded too little: $dirty/64")
      graft.operators.Integrity.merkleDiff(a, b, "event_id", cols,
          buckets = 64)
        .orderBy("event_id")
    }),

    // SHALLOW CLONE (r15): the zero-copy table copy — the clone's
    // first manifest references the source's live directories
    // (metadata only; the query PROVES no data file exists under the
    // clone before its first append), then evolves independently: an
    // append to the clone lands under the clone's root and the source
    // snapshot is bit-identical to pre-clone. `LakeTable.shallowClone`.
    "q338_shallow_clone" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val src = graft.lake.LakeTable.createTemp(s, ev, "graft-clone-src")
      val cloneRoot = Qx.tempDir("graft-clone-dst").resolve("t")
      val cl = src.shallowClone(cloneRoot)
      // metadata-only: the clone owns no parquet yet
      val ownFiles = java.nio.file.Files.walk(cloneRoot).iterator()
      val owned = Iterator.continually(ownFiles)
        .takeWhile(_.hasNext).map(_.next())
        .count(p => p.toString.endsWith(".parquet"))
      require(owned == 0, s"shallow clone copied $owned data files")
      val nSrc = src.snapshot().count()
      cl.append(ev.filter(col("event_id") % 10 === 0))
      require(src.snapshot().count() == nSrc,
        "clone append leaked into the source table")
      cl.snapshot()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // STRATIFIED SYSTEMATIC PPS (r15): an independent k=10 PPS grid
    // per source — "k docs per stratum, weighted by length", the
    // mixing pipeline's sampling design. Same integer-exact ceilings;
    // every relation keyed by the stratum. `Corpus.ppsSampleStratified`.
    "q339_pps_stratified" -> ((s, d) =>
      graft.operators.Corpus.ppsSampleStratified(
        Tables.documents(s, d), "n_chars", kPerGroup = 10,
        groupCol = "source")
        .orderBy("source", "doc_id")),

    // OBSERVED-METRICS GATE (r15): `Dataset.observe` (Catalyst
    // CollectMetrics) — data-quality counters collected AS A SIDE
    // EFFECT of the pipeline's own single pass, the scale-correct way
    // to health-check a 100 TB run (a separate metrics scan would
    // double the read). The observed map is surfaced as a one-row
    // relation; the oracle recomputes every counter independently,
    // pinning that the listener-collected values equal a real scan's.
    "q329_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val observed = Tables.documents(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("lang") === "en", lit(1))).as("n_en"))
      val kept = observed.filter(col("n_chars") >= 200).count()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("total_chars").asInstanceOf[Long],
        m("n_en").asInstanceOf[Long], kept))
        .toDF("n_rows", "total_chars", "n_en", "n_kept")
    })
  )

  /** The q326 oracle: candidate generation + 6 unrolled greedy MMR
    * steps as chained CTEs over the shared int8 quantization — every
    * argmax an exact BIGINT comparison, ties to the smaller vec_id. */
  private def mmrSql(n: Int, k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |           x -> CAST(greatest(-127.0, least(127.0,
         |                  floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
         |  FROM embeddings
         |), idx AS (
         |  SELECT unnest(generate_series(1, 64)) AS i
         |), qe AS (
         |  SELECT qv FROM q WHERE vec_id = 0
         |), rel AS (
         |  SELECT q.vec_id, CAST(SUM(q.qv[i.i] * qe.qv[i.i]) AS BIGINT) AS rel
         |  FROM q CROSS JOIN qe CROSS JOIN idx i
         |  WHERE q.vec_id <> 0 GROUP BY q.vec_id
         |), cand AS (
         |  SELECT c.vec_id, c.rel, q.qv
         |  FROM (SELECT vec_id, rel FROM rel
         |        ORDER BY rel DESC, vec_id LIMIT $n) c
         |  JOIN q USING (vec_id)
         |), s1 AS (
         |  SELECT CAST(1 AS BIGINT) AS round, vec_id, rel,
         |         rel AS mmr_gain, qv
         |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
         |), sel1 AS (SELECT * FROM s1)""".stripMargin
    for (t <- 2 to k) {
      sb ++=
        s""", g$t AS (
           |  SELECT c.vec_id, c.rel, c.qv, c.rel - MAX(d.sim) AS mmr_gain
           |  FROM cand c JOIN (
           |    SELECT c2.vec_id AS cv,
           |           CAST(SUM(c2.qv[i.i] * s.qv[i.i]) AS BIGINT) AS sim
           |    FROM cand c2 CROSS JOIN sel${t - 1} s CROSS JOIN idx i
           |    GROUP BY c2.vec_id, s.vec_id
           |  ) d ON d.cv = c.vec_id
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
           |  GROUP BY c.vec_id, c.rel, c.qv
           |), s$t AS (
           |  SELECT CAST($t AS BIGINT) AS round, vec_id, rel, mmr_gain, qv
           |  FROM g$t ORDER BY mmr_gain DESC, vec_id LIMIT 1
           |), sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }
    sb ++= s"\nSELECT round, vec_id, rel, mmr_gain FROM sel$k ORDER BY round"
    sb.toString
  }

  /** The q327 oracle: the same symmetric edge set, `rounds` unrolled
    * simultaneous-peel rounds (the loop converges earlier and the
    * peel is idempotent past the fixpoint), final degrees computed
    * inside the surviving core. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED: without it DuckDB inlines `und` into every one of
    // the rounds' IN-subqueries and re-opens the parquet per copy —
    // the unrolled plan then dies on the process fd limit
    sb ++=
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT (event_id % 211) AS src,
        |         ((event_id * 7919 + user_id) % ((event_id % 17 + 2) * 19)) AS dst
        |  FROM events
        |), und AS MATERIALIZED (
        |  SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
        |  UNION
        |  SELECT dst, src FROM e0 WHERE src <> dst
        |), n0 AS (SELECT DISTINCT a AS node FROM und)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++=
        s""", n$i AS MATERIALIZED (
           |  SELECT a AS node FROM und
           |  WHERE a IN (SELECT node FROM n${i - 1})
           |    AND b IN (SELECT node FROM n${i - 1})
           |  GROUP BY a HAVING COUNT(*) >= $k
           |)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und
         |WHERE a IN (SELECT node FROM n$rounds)
         |  AND b IN (SELECT node FROM n$rounds)
         |GROUP BY a ORDER BY node""".stripMargin
    sb.toString
  }

  /** Shared q330/q333/q334 oracle chain: trigram shingle sets →
    * (df asc, shingle) per-doc prefixes → prefix candidate join →
    * exact intersection/union counts → the cross-multiplied Jaccard
    * threshold. `res` = (doc_a, doc_b, inter, un). */
  private val setsimPairsSql: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE len(ws) >= 3
      |), dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
      |szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |pre AS (
      |  SELECT sh.doc_id, sh.s,
      |         row_number() OVER (PARTITION BY sh.doc_id
      |                            ORDER BY d.df, sh.s) AS pos,
      |         z.sz
      |  FROM sh JOIN dfreq d ON d.s = sh.s
      |          JOIN szs z ON z.doc_id = sh.doc_id
      |), pref AS (
      |  SELECT doc_id, s FROM pre
      |  WHERE pos <= sz - (4 * sz + 4) // 5 + 1
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
      |), i AS MATERIALIZED (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
      |              JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      |  GROUP BY 1, 2
      |), res AS MATERIALIZED (
      |  SELECT i.doc_a, i.doc_b, i.inter,
      |         za.sz + zb.sz - i.inter AS un
      |  FROM i JOIN szs za ON za.doc_id = i.doc_a
      |         JOIN szs zb ON zb.doc_id = i.doc_b
      |  WHERE i.inter * 5 >= (za.sz + zb.sz - i.inter) * 4
      |)""".stripMargin

  val oracles: Map[String, String] = Map(

    // mirrors q325: q278's blocked candidates, DuckDB's own
    // jaro_winkler_similarity (same rapidfuzz arithmetic) as scorer
    "q325_jaro_winkler" ->
      """WITH p AS (
        |  SELECT DISTINCT p_name,
        |         split_part(p_name, ' ', 1) AS blk1,
        |         split_part(p_name, ' ', -1) AS blk2
        |  FROM part
        |), cand AS (
        |  SELECT a.p_name AS a_name, b.p_name AS b_name
        |  FROM p a JOIN p b ON b.blk1 = a.blk1 AND a.p_name < b.p_name
        |  UNION
        |  SELECT a.p_name, b.p_name
        |  FROM p a JOIN p b ON b.blk2 = a.blk2 AND a.p_name < b.p_name
        |)
        |SELECT a_name, b_name, jaro_winkler_similarity(a_name, b_name) AS jw
        |FROM cand
        |WHERE jaro_winkler_similarity(a_name, b_name) >= 0.90
        |ORDER BY a_name, b_name""".stripMargin,

    "q326_mmr_rerank" -> mmrSql(n = 32, k = 6),

    "q327_kcore" -> kcoreSql(k = 5, rounds = 12),

    // mirrors q328: inclusive running weight sum in md5 order, grid
    // membership by the same cross-multiplied integer ceilings
    "q328_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), tot AS (SELECT SUM(w) AS tw FROM w),
        |c AS (
        |  SELECT doc_id, w,
        |         SUM(w) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM w
        |)
        |SELECT doc_id, w,
        |       CAST((cum * 25 + tw - 1) // tw
        |            - ((cum - w) * 25 + tw - 1) // tw AS BIGINT) AS n_picks
        |FROM c, tot
        |WHERE (cum * 25 + tw - 1) // tw
        |      - ((cum - w) * 25 + tw - 1) // tw > 0
        |ORDER BY doc_id""".stripMargin,

    // mirrors q330: same shingle split (single space, the Dedup
    // contract), same (df asc, shingle) prefix order, same integer
    // ceiling (4·sz+4)//5 — never CEIL(0.8·sz), whose binary 0.8
    // rounds UP at sz multiples of 5
    "q330_setsim_join" ->
      s"""WITH $setsimPairsSql
         |SELECT doc_a, doc_b, inter, un,
         |       CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
         |FROM res ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors q333: the full-recompute replay filtered to pairs that
    // touch the incoming batch — R15dSpec pins the incremental path
    // equal to it, so the oracle needs no frozen-order replica
    "q333_setsim_incremental" ->
      s"""WITH $setsimPairsSql
         |SELECT doc_a, doc_b, inter, un,
         |       CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
         |FROM res
         |WHERE doc_a % 7 = 0 OR doc_b % 7 = 0
         |ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors q334: the q330 pair chain + the q103 recursive
    // min-label closure
    "q334_setsim_clusters" ->
      s"""WITH RECURSIVE $setsimPairsSql,
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM res
         |  UNION ALL SELECT doc_b, doc_a FROM res
         |),
         |reach AS (
         |  SELECT u AS id, u AS lbl FROM edges
         |  UNION
         |  SELECT e.u AS id, r.lbl AS lbl FROM edges e JOIN reach r ON e.v = r.id
         |),
         |labels AS (
         |  SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id
         |)
         |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin,

    // mirrors q332: the streaming fold's read-side merge equals the
    // batch q331 exactly (first-k partials are mergeable), so the
    // oracle IS q331's
    "q332_stream_journey" ->
      """WITH seq AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), ''
        |           ORDER BY ts, event_id) AS journey
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |               row_number() OVER (PARTITION BY user_id
        |                                  ORDER BY ts, event_id) AS rn
        |        FROM events) t
        |  WHERE rn <= 12
        |  GROUP BY user_id
        |)
        |SELECT user_id, journey,
        |       CAST(levenshtein(journey, 'svcpvcsvcpvc') AS BIGINT) AS dist,
        |       levenshtein(journey, 'svcpvcsvcpvc') <= 6 AS conforming
        |FROM seq ORDER BY user_id""".stripMargin,

    // mirrors q331: ordered string_agg of the rank-capped prefix,
    // the same DP edit distance
    "q331_journey_conformance" ->
      """WITH seq AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), ''
        |           ORDER BY ts, event_id) AS journey
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |               row_number() OVER (PARTITION BY user_id
        |                                  ORDER BY ts, event_id) AS rn
        |        FROM events) t
        |  WHERE rn <= 12
        |  GROUP BY user_id
        |)
        |SELECT user_id, journey,
        |       CAST(levenshtein(journey, 'svcpvcsvcpvc') AS BIGINT) AS dist,
        |       levenshtein(journey, 'svcpvcsvcpvc') <= 6 AS conforming
        |FROM seq ORDER BY user_id""".stripMargin,

    // mirrors q335: the q277 daily grid, pairwise slopes as single
    // IEEE divisions, lower medians by rank
    "q335_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type AS g,
        |         CAST(date_diff('day', DATE '2020-01-01',
        |                        CAST(ts AS DATE)) AS BIGINT) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT g, unnest(generate_series(MIN(day), MAX(day))) AS day
        |  FROM daily GROUP BY g
        |), filled AS (
        |  SELECT s.g, s.day, COALESCE(d.n, 0) AS x
        |  FROM spine s LEFT JOIN daily d ON s.g = d.g AND s.day = d.day
        |), pairs AS (
        |  SELECT a.g, a.day AS d1, b.day AS d2,
        |         CAST(b.x - a.x AS DOUBLE)
        |           / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM filled a JOIN filled b ON a.g = b.g AND a.day < b.day
        |), np AS (SELECT g, COUNT(*) AS n_pairs FROM pairs GROUP BY g),
        |meds AS (
        |  SELECT g, n_pairs, slope FROM (
        |    SELECT p.g, p.slope, np.n_pairs,
        |           row_number() OVER (PARTITION BY p.g
        |                              ORDER BY p.slope, p.d1, p.d2) AS rk
        |    FROM pairs p JOIN np USING (g))
        |  WHERE rk = (n_pairs + 1) // 2
        |), nd AS (SELECT g, COUNT(*) AS n_days FROM filled GROUP BY g)
        |SELECT g AS event_type, n_pairs, n_days, slope, intercept FROM (
        |  SELECT f.g, m.n_pairs, nd.n_days, m.slope,
        |         CAST(f.x AS DOUBLE) - m.slope * CAST(f.day AS DOUBLE)
        |           AS intercept,
        |         row_number() OVER (PARTITION BY f.g
        |           ORDER BY CAST(f.x AS DOUBLE)
        |                    - m.slope * CAST(f.day AS DOUBLE), f.day) AS rk
        |  FROM filled f JOIN meds m USING (g) JOIN nd USING (g))
        |WHERE rk = (n_days + 1) // 2
        |ORDER BY event_type""".stripMargin,

    // mirrors q336: the identical IEEE chain over the same distinct
    // counts
    "q336_ab_ztest" ->
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u, user_id % 2 AS c FROM events
        |), conv AS (
        |  SELECT user_id AS u FROM events
        |  WHERE event_type = 'purchase'
        |  GROUP BY user_id HAVING COUNT(*) >= 14
        |), agg AS (
        |  SELECT us.c, COUNT(*) AS n,
        |         COUNT(cv.u) AS x
        |  FROM users us LEFT JOIN conv cv ON us.u = cv.u
        |  GROUP BY us.c
        |), r AS (
        |  SELECT MAX(CASE WHEN c = 0 THEN n END) AS n0,
        |         MAX(CASE WHEN c = 0 THEN x END) AS x0,
        |         MAX(CASE WHEN c = 1 THEN n END) AS n1,
        |         MAX(CASE WHEN c = 1 THEN x END) AS x1
        |  FROM agg
        |)
        |SELECT n0, x0, n1, x1,
        |       CASE WHEN se > 0.0 THEN
        |         (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / se END AS z,
        |       CASE WHEN se > 0.0 THEN
        |         abs((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |              - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / se)
        |           > 1.96 END AS significant
        |FROM (
        |  SELECT n0, x0, n1, x1,
        |         sqrt((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
        |               * (1.0 - CAST(x0 + x1 AS DOUBLE)
        |                        / CAST(n0 + n1 AS DOUBLE)))
        |              * (1.0 / CAST(n0 AS DOUBLE)
        |                 + 1.0 / CAST(n1 AS DOUBLE))) AS se
        |  FROM r)""".stripMargin,

    // mirrors q337 through the ASCII byte==char bridge: same slices,
    // same md5 of the same bytes
    "q337_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(length(text) AS BIGINT) // 32 AS n_frames
        |  FROM documents
        |), ix AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, n_frames - 1)) AS frame_idx
        |  FROM f WHERE n_frames >= 1
        |)
        |SELECT doc_id, frame_idx,
        |       md5(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32))
        |         AS frame_md5,
        |       CAST(32 AS BIGINT) AS frame_len
        |FROM ix WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // mirrors q340: identical quantization, identical decimal widths
    // (19-digit squares, 28x10 product — inside both engines' 38 cap),
    // identical IEEE chain
    "q340_jackknife_ratio" ->
      """WITH base AS (
        |  SELECT event_type AS g,
        |         CASE WHEN CAST(props->>'$.k' AS BIGINT) < 50
        |              THEN CAST(floor(value * 100.0) AS BIGINT)
        |              ELSE 0 END AS a,
        |         CAST(floor(value * 100.0) AS BIGINT) AS b
        |  FROM events
        |), sums AS (
        |  SELECT g, COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb
        |  FROM base GROUP BY g
        |), r AS (
        |  SELECT base.g, sums.n, sums.sa, sums.sb,
        |         CASE WHEN sums.sb - base.b > 0 THEN
        |           CAST(sums.sa - base.a AS DOUBLE)
        |             / CAST(sums.sb - base.b AS DOUBLE) END AS rep
        |  FROM base JOIN sums USING (g)
        |), qd AS (
        |  SELECT g, n, sa, sb,
        |         CAST(floor(rep * 1000000.0) AS DECIMAL(19,0)) AS rq
        |  FROM r
        |), m AS (
        |  SELECT g, MAX(n) AS n, MAX(sa) AS sa, MAX(sb) AS sb,
        |         COUNT(rq) AS n_eff, SUM(rq) AS s1,
        |         SUM(CAST(rq*rq AS DECIMAL(38,0))) AS s2
        |  FROM qd GROUP BY g
        |)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |       CAST(n_eff AS BIGINT) AS n_eff,
        |       CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE) AS ratio,
        |       CASE WHEN n_eff > 1 THEN
        |         sqrt((CAST(CAST(s2 AS DECIMAL(28,0))
        |                      * CAST(n_eff AS DECIMAL(10,0))
        |                    - CAST(s1 AS DECIMAL(19,0))
        |                      * CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)
        |               / (CAST(n_eff AS DOUBLE) * CAST(n_eff AS DOUBLE)))
        |              * ((CAST(n_eff AS DOUBLE) - 1.0)
        |                 / CAST(n_eff AS DOUBLE))) / 1000000.0
        |       END AS jack_se
        |FROM m ORDER BY event_type""".stripMargin,

    // mirrors q341: rank over the bounded per-key relation, exact
    // decimal tail fold
    "q341_topk_other" ->
      """WITH counts AS (
        |  SELECT CAST(props->>'$.k' AS BIGINT) AS key,
        |         COUNT(*) AS n,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS tot
        |  FROM events GROUP BY 1
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY n DESC, key) AS rk
        |  FROM counts
        |)
        |SELECT 'k=' || CASE WHEN length(CAST(key AS VARCHAR)) < 2
        |                    THEN lpad(CAST(key AS VARCHAR), 2, '0')
        |                    ELSE CAST(key AS VARCHAR) END AS key_label,
        |       CAST(n AS BIGINT) AS n, CAST(tot AS DOUBLE) AS total
        |FROM ranked WHERE rk <= 8
        |UNION ALL
        |SELECT 'other', CAST(SUM(n) AS BIGINT), CAST(SUM(tot) AS DOUBLE)
        |FROM ranked WHERE rk > 8
        |HAVING COUNT(*) > 0
        |ORDER BY key_label""".stripMargin,

    // mirrors q342: direct by-key diff of the same deterministic
    // replica — equal to the two-level Merkle result, proving the
    // bucket pruning lost nothing
    "q342_merkle_diff" ->
      """WITH bb AS (
        |  SELECT event_id, user_id, event_type,
        |         CASE WHEN CAST(('0x' ||
        |                substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |                AS BIGINT) % 64 = 3
        |              THEN props || ' ' ELSE props END AS props
        |  FROM events WHERE event_id % 49999 <> 3
        |  UNION ALL
        |  SELECT event_id + 100000000, user_id, event_type, props
        |  FROM events WHERE event_id % 49999 = 5
        |), ha AS (
        |  SELECT event_id, md5(concat_ws('|',
        |    COALESCE(CAST(event_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(user_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(event_type AS VARCHAR), '∅'),
        |    COALESCE(CAST(props AS VARCHAR), '∅'))) AS h
        |  FROM events
        |), hb AS (
        |  SELECT event_id, md5(concat_ws('|',
        |    COALESCE(CAST(event_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(user_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(event_type AS VARCHAR), '∅'),
        |    COALESCE(CAST(props AS VARCHAR), '∅'))) AS h
        |  FROM bb
        |)
        |SELECT COALESCE(ha.event_id, hb.event_id) AS event_id,
        |       CASE WHEN ha.h IS NULL THEN 'only_b'
        |            WHEN hb.h IS NULL THEN 'only_a'
        |            ELSE 'changed' END AS status
        |FROM ha FULL OUTER JOIN hb ON ha.event_id = hb.event_id
        |WHERE ha.h IS NULL OR hb.h IS NULL OR ha.h <> hb.h
        |ORDER BY event_id""".stripMargin,

    // mirrors q338: after the clone's append, its snapshot = events
    // plus the re-appended tenth
    "q338_shallow_clone" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT * FROM events
        |      UNION ALL SELECT * FROM events WHERE event_id % 10 = 0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors q339: per-source inclusive running sums in md5 order,
    // per-source grid of 10, the same integer ceilings
    "q339_pps_stratified" ->
      """WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), tot AS (SELECT source, SUM(w) AS tw FROM w GROUP BY source),
        |c AS (
        |  SELECT source, doc_id, w,
        |         SUM(w) OVER (PARTITION BY source ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM w
        |)
        |SELECT c.source, c.doc_id, c.w,
        |       CAST((cum * 10 + tw - 1) // tw
        |            - ((cum - w) * 10 + tw - 1) // tw AS BIGINT) AS n_picks
        |FROM c JOIN tot ON tot.source = c.source
        |WHERE (cum * 10 + tw - 1) // tw
        |      - ((cum - w) * 10 + tw - 1) // tw > 0
        |ORDER BY c.source, doc_id""".stripMargin,

    // mirrors q329: every observed counter recomputed by an
    // independent scan
    "q329_observe_metrics" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
        |       CAST(COUNT(CASE WHEN n_chars >= 200 THEN 1 END) AS BIGINT) AS n_kept
        |FROM documents""".stripMargin
  )
}
