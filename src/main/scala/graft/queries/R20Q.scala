package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._
import graft.streaming.MicroBatch.{Arrival, replayRun}
import graft.streaming.Stateful

/** Round-20 additions — the retrieval composition wave (arbitrary-arity
  * phrase matching through the extracted operator, proximity-aware BM25
  * over BOTH maintained indexes, a compaction story for maintained
  * index artifacts that serves identical reads) and the replay
  * skeleton's SIXTH face (sliding-window rate — the first whose replay
  * state is a time-keyed bounded collection with eviction inside the
  * state value). All oracle-gated. */
object R20Q {

  /** q418's query terms (term-sorted, so the BM25 fold order is the
    * term order). */
  private[queries] val proximityTerms = Seq("data", "join", "spark")

  /** q418's composition: a BM25 score relation plus, per consecutive
    * query-term pair in fixed pair order, 1/(1 + min |Δpos|) from
    * `gapOf` (exactly +0.0 when the pair is absent). The served plan
    * and its full-scan twin both go through here. */
  private[queries] def proximityScores(
      bm: DataFrame, gapOf: (String, String) => DataFrame): DataFrame = {
    val pairs = proximityTerms.zip(proximityTerms.tail)
    val joined = pairs.zipWithIndex.foldLeft(bm) {
      case (acc, ((a, b), k)) =>
        acc.join(gapOf(a, b)
          .select(col("doc_id"), col("gap").as(s"__g$k")),
          Seq("doc_id"), "left")
    }
    joined.select(col("doc_id"),
      pairs.indices.foldLeft(col("score")) { (acc, k) =>
        acc + graft.operators.Retrieval.proximityTerm(col(s"__g$k"))
      }.as("score"))
  }

  val queries: Map[String, Q] = Map(

    // ARBITRARY-ARITY POSITIONAL PHRASE RETRIEVAL (r20 — VERDICT r19
    // next #1): q416's phrase face generalized past its hardcoded
    // 2-term join — a THREE-term phrase served through the extracted
    // `TextMining.phraseMatch` (n−1 position-arithmetic equi-joins
    // over the maintained (term, doc, pos) postings artifact, anchors
    // shrinking monotonically), with occurrence multiplicity;
    // ServedTwinSpec pins served ≡ `TextMining.phraseScan`.
    // Reference anchor: the keyword-containment retrieval shape at
    // dags/get_data/kpis_search.py:48-50 — phrase is its
    // exact-adjacency strengthening.
    "q417_phrase_trigram" -> ((s, d) =>
      graft.operators.TextMining.phraseMatch(
        R19Q.posPostingsArtifact(s, d).snapshot(), Seq("big", "order", "scan"))
        .orderBy("doc_id")),

    // PROXIMITY-AWARE BM25 TOP-K (r20 — VERDICT r19 next #2): the
    // composition both maintained indexes exist FOR — the q405 BM25
    // fold (postings + stats indexes, term-sorted deterministic
    // aggregate() chain) PLUS a positional proximity term per
    // consecutive query-term pair from the (term, doc, pos) index:
    // 1/(1 + min |Δpos|), exactly +0.0 when a pair is absent (the
    // bit-exact identity the chain discipline rests on), added in
    // fixed pair order. Every served read is term-pruned; the pair
    // space is per-doc tf·tf, occurrence-bounded. ServedTwinSpec pins
    // the fully-composed served relation ≡ the full-scan computation
    // (bm25Scan + minPairGapScan) EXACTLY, pre-top-k; the oracle
    // mirrors the whole addition chain token-for-token.
    "q418_proximity_topk" -> ((s, d) => {
      import graft.operators.Retrieval
      val positional = R19Q.posPostingsArtifact(s, d).snapshot()
      proximityScores(
        Retrieval.bm25Served(R18Q.postingsArtifact(s, d).snapshot(),
          R17Q.bm25FoldedIndex(s, d), proximityTerms),
        (a, b) => Retrieval.minPairGap(positional, a, b))
        .orderBy(desc("score"), asc("doc_id")).limit(20)
    }),

    // MAINTAINED-INDEX COMPACTION (r20 — VERDICT r19 next #3): the
    // maintenance story for the maintained index artifacts — a
    // production feed accrues one small-file commit per ingest batch,
    // and the q227 OPTIMIZE machinery must run OVER the index without
    // disturbing a single served read. A fresh positional postings
    // index (4 ingest commits × 4-way writes = 16 small files) exports
    // its full history to the Delta log, is bin-packed to ONE file,
    // vacuums the 16 tombstoned originals, and serves the phrase read
    // from the compacted single file (ServedTwinSpec pins it ≡ the
    // full-scan adjacency truth). File count collapsed 16 → 1 and the
    // 16-file vacuum are asserted, not assumed.
    "q419_index_compaction" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // fresh (non-memoized) index — this query rewrites its layout
      def frag(k: Int) = R19Q.positionalFragment(
        docs.filter(col("doc_id") % 4 === k)).repartition(4)
      val idx = graft.lake.LakeTable.createTemp(s, frag(0), "graft-pcq")
      (1 to 3).foreach(k => idx.append(frag(k)))
      val dest = Qx.tempDir("graft-pc-q").resolve("t")
      val nCommits = graft.lake.DeltaInterop.exportHistory(idx, dest)
      require(nCommits == 4, s"expected 4 exported commits, got $nCommits")
      val res = graft.lake.DeltaInterop.optimize(s, dest)
      require(res.compactedFiles == 16 && res.newFiles == 1 &&
        res.carriedFiles == 0,
        s"expected the index's 16 ingest files packed into 1, got $res")
      val vacuumed = graft.lake.DeltaInterop.vacuumDelta(s, dest)
      require(vacuumed == 16,
        s"vacuum must reclaim exactly the 16 tombstoned ingest files, " +
          s"got $vacuumed")
      graft.operators.TextMining.phraseMatch(
        graft.lake.DeltaInterop.readDelta(s, dest), Seq("order", "scan"))
        .orderBy("doc_id")
    }),

    // MIN COVERING SPAN (r20): the classical positional-proximity
    // measure over the maintained (term, doc, pos) index — per doc
    // containing ALL THREE query terms, the smallest token window
    // covering one occurrence of each (min over occurrence
    // combinations of max − min + 1; 3 = the trigram-tight case).
    // Arbitrary-arity `Retrieval.minSpan`: n−1 doc-equi-joins over
    // term-pruned reads, combination space per-doc Π tf — never
    // corpus-bounded. All-integer output (no IEEE anywhere). R20Spec
    // pins served ≡ the posexplode raw-text twin on this query's
    // inputs (no ingest batch dropped/doubled); the
    // independent-computation check is the mirrored oracle itself.
    "q422_min_span" -> ((s, d) =>
      graft.operators.Retrieval.minSpan(
        R19Q.posPostingsArtifact(s, d).snapshot(), Seq("data", "join", "spark"))
        .orderBy("doc_id")),

    // SLOPPY PHRASE (ordered within-k) RETRIEVAL (r20): the proximity
    // member between exact adjacency (q417, k = 1) and unordered
    // min-span (q422) — the three query terms must appear IN ORDER,
    // each within 5 positions of the previous match, chains counted
    // with combinatorial multiplicity (`TextMining.orderedWithin`:
    // n−1 doc-equi-joins with band residuals, chain space per doc
    // window-bounded at Π min(tf, k)). All-integer. R20Spec pins
    // served ≡ the posexplode raw-text twin on this query's inputs;
    // the independent scan is the mirrored BETWEEN-join oracle.
    "q424_sloppy_phrase" -> ((s, d) =>
      graft.operators.TextMining.orderedWithin(
        R19Q.posPostingsArtifact(s, d).snapshot(), Seq("data", "join", "spark"),
        k = 5L)
        .orderBy("doc_id")),

    // STREAM-MAINTAINED POSITIONAL POSTINGS INDEX (r20): the q416
    // index family maintained BY THE STREAM itself — each micro-batch
    // maps its events to corpus documents (the q138 idiom), anti-joins
    // the candidates against what the index ALREADY holds (the q384
    // novelty-append shape, now inside foreachBatch via
    // `appendRunPerBatchAgainstSink`), and appends positional
    // fragments for the genuinely-new docs only: a doc referenced by
    // events in many batches is indexed EXACTLY ONCE by algebra
    // (anti-join), not by dedup bookkeeping, and batch redelivery is a
    // no-op under the (appId, batchId) txn contract. The served phrase
    // read over the final index equals the full-scan adjacency truth
    // over exactly the mapped doc subset (served≡scan, pinned by
    // R20Spec), and the mirrored oracle recomputes the subset from raw
    // events.
    "q423_stream_postings_maintained" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val index = graft.streaming.MicroBatch.appendRunPerBatchAgainstSink(
        s, d, maxFilesPerTrigger = Some(1), splitParts = Some(4)) {
        (batch, sink) =>
          val cand = batch.select((col("event_id") % 500).as("doc_id"))
            .distinct()
            .join(docs, "doc_id")
          val snap = sink.snapshot()
          val newDocs =
            if (snap.columns.contains("doc_id"))
              cand.join(snap.select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_anti")
            else cand // the pre-first-commit empty sink has no schema
          R19Q.positionalFragment(newDocs)
      }
      graft.operators.TextMining.phraseMatch(index, Seq("spark", "join"))
        .orderBy("doc_id")
    }),

    // TERM-CLUSTERED POSTINGS with BLOOM-PRUNED serving (r20): the
    // layout half of the term-pruned-point-read claim, now REAL
    // locally — the retrieval probe showed the flat-layout residual
    // (the term filter scans the whole index, row-group pruning
    // only). `LakeTable.optimizeClusterBy("term", 16)` rewrites the
    // maintained positional index into hash(term) buckets, each
    // directory carrying a bloom on term, and the served phrase read
    // is `phraseMatch` over the snapshot: each term's filter prunes its
    // own scan to ≤ 1/4 of the directories (LakeScanSpec pins it by
    // files read). Layout moves bytes, never rows: ServedTwinSpec pins
    // the pruned read ≡ the full-scan adjacency truth.
    "q425_clustered_postings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // fresh index — this query rewrites its layout
      def frag(k: Int) = R19Q.positionalFragment(
        docs.filter(col("doc_id") % 4 === k))
      val idx = graft.lake.LakeTable.createTemp(s, frag(0), "graft-clq")
      (1 to 3).foreach(k => idx.append(frag(k)))
      idx.optimizeClusterBy("term", buckets = 16)
      graft.operators.TextMining.phraseMatch(idx.snapshot(), Seq("spark", "join"))
        .orderBy("doc_id")
    }),

    // OUT-OF-ORDER STREAMING SLIDING-WINDOW RATE (r20 — VERDICT r19
    // next #4, the SIXTH replay face): for every event, the count of
    // the user's events in the trailing 24 h — the per-key rate
    // primitive under burst/anomaly detection, and the first face
    // whose replay state is a TIME-KEYED BOUNDED COLLECTION (the ring
    // of in-window timestamps, evicted INSIDE the state value as the
    // window slides). Under arrival disorder the batch twin (a
    // (ts, id) row_number minus a RANGE-framed prefix count) is not
    // incrementally maintainable — a late row retro-inflates every
    // window it lands in; under watermark-ordered replay eviction is
    // a dropWhile over an ascending ring. The per-event (user, event,
    // n) emissions fold to the per-user PEAK rate (+ the smallest
    // event id achieving it) and must hash-match the batch two-window
    // oracle.
    // `Stateful.RateBuffered`.
    "q420_stream_rate_ooo" -> ((s, d) => rateDrain(s, d, Arrival.FullDisorder)),

    // BOUNDED-JITTER STREAMING SLIDING-WINDOW RATE (r20): q420's
    // processor under the steady-state arrival contract (the q383/q409
    // treatment), completing the full-disorder/bounded-jitter DUALITY
    // for the sixth face on arrival. The 24 h ring spans flush
    // boundaries (median inter-event gap ≈7 h), so ring state grows,
    // partially evicts, and re-arms across REPEATED mid-drain partial
    // flushes. Same batch two-window oracle, bit-exact.
    "q421_stream_rate_jitter" -> ((s, d) => rateDrain(s, d, Arrival.BoundedJitter))
  )

  /** The sliding-rate faces (q420/q421): the trailing-24 h count per
    * event, drained under `arrival`. Each event's in-window count is
    * emitted exactly once under ordered replay, so the sink IS the
    * per-event rate relation; the readout is the per-user peak + the
    * smallest event id achieving it (ties on the peak are resolved by
    * min id — deterministic without an IEEE fold). Both faces run
    * through this one body so the arrival contracts cannot drift. */
  private def rateDrain(s: org.apache.spark.sql.SparkSession, d: String,
                        arrival: Arrival): DataFrame = {
    val per = replayRun(s, d, arrival, lit(true))(
        new Stateful.RateBuffered(86400L * 1000000L), "user_id", "event_id", "n")
      .snapshot().filter(col("user_id") >= 0)
    val peak = per.groupBy(col("user_id"))
      .agg(max(col("n")).as("peak_rate"))
    per.join(peak, "user_id")
      .filter(col("n") === col("peak_rate"))
      .groupBy(col("user_id"), col("peak_rate"))
      .agg(min(col("event_id")).cast("long").as("peak_event"))
      .select(col("user_id"), col("peak_rate").cast("long").as("peak_rate"),
        col("peak_event"))
      .orderBy("user_id")
  }

  /** q420/q421 share this SQL — the batch sliding-window rate: the
    * in-window count quantifies over (ts', id') lexicographically ≤
    * (ts, id) with ts' > ts − 24 h, i.e. a (ts, id) row_number minus
    * the RANGE-framed count of rows at or before ts − 24 h (those form
    * a prefix of the (ts, id) order, so the subtraction is exact). */
  private lazy val slidingRateSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |), w AS (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |    - COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
      |        RANGE BETWEEN UNBOUNDED PRECEDING
      |        AND 86400000000 PRECEDING) AS nw
      |  FROM e
      |), p AS (
      |  SELECT user_id, MAX(nw) AS peak_rate FROM w GROUP BY user_id
      |)
      |SELECT w.user_id, CAST(p.peak_rate AS BIGINT) AS peak_rate,
      |  CAST(MIN(w.event_id) AS BIGINT) AS peak_event
      |FROM w JOIN p ON w.user_id = p.user_id AND w.nw = p.peak_rate
      |GROUP BY w.user_id, p.peak_rate
      |ORDER BY w.user_id""".stripMargin

  /** Positional-adjacency phrase SQL over `documents` for an n-term
    * phrase — the q416 oracle shape generalized: n−1 self-joins on
    * (doc, pos + k), occurrence multiplicity per doc. */
  private def phraseSql(terms: Seq[String]): String = {
    val joins = terms.indices.drop(1).map(k =>
      s"JOIN t t$k ON t0.doc_id = t$k.doc_id AND t$k.pos = t0.pos + $k")
      .mkString("\n", "\n", "")
    val preds = terms.zipWithIndex.map { case (t, k) =>
      s"t$k.tok = '$t'" }.mkString(" AND ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents
       |)
       |SELECT t0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
       |FROM t t0$joins
       |WHERE $preds
       |GROUP BY t0.doc_id ORDER BY t0.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q417_phrase_trigram" -> phraseSql(Seq("big", "order", "scan")),

    // q425: layout moves bytes, never rows — the clustered pruned
    // read equals the raw adjacency truth (q416's phrase)
    "q425_clustered_postings" -> phraseSql(Seq("spark", "join")),

    // q419: compaction moves bytes, never rows — the served phrase
    // relation equals the raw adjacency truth
    "q419_index_compaction" -> phraseSql(Seq("order", "scan")),

    // mirrors q418: the q405 BM25 chain (term-sorted addition from
    // 0.0) extended by one proximity CASE per consecutive query-term
    // pair, in pair order — min |Δpos| is an exact integer, the
    // division and additions mirror Spark's token-for-token
    "q418_proximity_topk" ->
      """WITH idx AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_len,
        |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w = 'data')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w = 'join')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w = 'spark')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM documents
        |), base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'data')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'spark')) AS DOUBLE) AS tf2
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), g0 AS (
        |  SELECT a.doc_id, MIN(ABS(b.pos - a.pos)) AS d
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id
        |  WHERE a.tok = 'data' AND b.tok = 'join' GROUP BY a.doc_id
        |), g1 AS (
        |  SELECT a.doc_id, MIN(ABS(b.pos - a.pos)) AS d
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id
        |  WHERE a.tok = 'join' AND b.tok = 'spark' GROUP BY a.doc_id
        |), sc AS (
        |  SELECT base.doc_id,
        |    0.0 +
        |    ((CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) /
        |      (CAST(df0 AS DOUBLE) + 0.5)) *
        |    ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * len /
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) +
        |    ((CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) /
        |      (CAST(df1 AS DOUBLE) + 0.5)) *
        |    ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * len /
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) +
        |    ((CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) /
        |      (CAST(df2 AS DOUBLE) + 0.5)) *
        |    ((tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * len /
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) +
        |    CASE WHEN g0.d IS NULL THEN 0.0
        |      ELSE 1.0 / (1.0 + CAST(g0.d AS DOUBLE)) END +
        |    CASE WHEN g1.d IS NULL THEN 0.0
        |      ELSE 1.0 / (1.0 + CAST(g1.d AS DOUBLE)) END AS score
        |  FROM base CROSS JOIN idx
        |  LEFT JOIN g0 ON g0.doc_id = base.doc_id
        |  LEFT JOIN g1 ON g1.doc_id = base.doc_id
        |)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors q422: the same all-integer min-over-combinations span,
    // three-way positional self-join per doc
    "q422_min_span" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |)
        |SELECT a.doc_id,
        |  CAST(MIN(GREATEST(a.pos, b.pos, c.pos) -
        |    LEAST(a.pos, b.pos, c.pos) + 1) AS BIGINT) AS span
        |FROM t a JOIN t b ON a.doc_id = b.doc_id
        |         JOIN t c ON a.doc_id = c.doc_id
        |WHERE a.tok = 'data' AND b.tok = 'join' AND c.tok = 'spark'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // mirrors q424: the same in-order BETWEEN-window join chain,
    // chain multiplicity per doc
    "q424_sloppy_phrase" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chains
        |FROM t a
        |JOIN t b ON a.doc_id = b.doc_id
        |  AND b.pos BETWEEN a.pos + 1 AND a.pos + 5
        |JOIN t c ON a.doc_id = c.doc_id
        |  AND c.pos BETWEEN b.pos + 1 AND b.pos + 5
        |WHERE a.tok = 'data' AND b.tok = 'join' AND c.tok = 'spark'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // mirrors q423: the mapped-doc subset recomputed from raw events,
    // then the q416 adjacency chain over it
    "q423_stream_postings_maintained" ->
      """WITH md AS (
        |  SELECT DISTINCT event_id % 500 AS doc_id FROM events
        |), t AS (
        |  SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS tok,
        |    generate_subscripts(string_split(d.text, ' '), 1) AS pos
        |  FROM documents d JOIN md ON d.doc_id = md.doc_id
        |)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'spark' AND b.tok = 'join'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    "q420_stream_rate_ooo" -> slidingRateSql,
    "q421_stream_rate_jitter" -> slidingRateSql
  )
}
