package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._
import graft.streaming.MicroBatch.{Arrival, replayRun}
import graft.streaming.Stateful

/** Round-19 additions — the replay skeleton's FIFTH face (dynamic-gap
  * sessionization under disorder, the first whose batch semantics are
  * not append-monotone in arrival order), and the bounded-jitter
  * treatment for the funnel face (VERDICT r18 next #4/#6). All
  * oracle-gated against the BATCH queries' SQL, unchanged. */
object R19Q {

  private val stagedPosPostings =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** One ingest batch's POSITIONAL postings fragment — (term, doc_id,
    * pos) with pos the raw split index (empty tokens keep their slot,
    * so adjacency is position arithmetic, exactly the oracle's
    * generate_subscripts convention). Disjoint batches → each
    * occurrence lands exactly once. */
  private[graft] def positionalFragment(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** The MAINTAINED POSITIONAL postings index (r19) — the q405 family
    * extended with token positions, the index shape PHRASE queries
    * need: per-batch (term, doc_id, pos) fragments appended to a lake
    * table; a phrase query reads ONLY its terms' postings and joins on
    * (doc, pos+1) — term-pruned at cluster layout, never a corpus
    * scan. Memoized per (session, sf). */
  private[queries] def posPostingsArtifact(s: org.apache.spark.sql.SparkSession,
                                  d: String): graft.lake.LakeTable =
    stagedPosPostings.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      val docs = Tables.documents(s, d)
      def frag(k: Int) =
        positionalFragment(docs.filter(col("doc_id") % 4 === k))
      val idx = graft.lake.LakeTable.createTemp(s, frag(0), "graft-pospost")
      (1 to 3).foreach(k => idx.append(frag(k)))
      idx
    }

  /** Shared read side of the streaming funnel faces (q399/q409):
    * depth is monotone under ordered replay, so max(depth) per user is
    * the final funnel depth; each step row is a scalar count so
    * zero-converted steps still emit (the q200/q204 shape rule).
    * private[graft]: q399 (R18Q) folds through the SAME body so the
    * full-disorder and jittered faces cannot drift (review finding
    * r19); R20Spec drives the empty-sink shape directly. */
  private[graft] def funnelRollup(sink: DataFrame,
                                    steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelRollup: steps must be non-empty")
    val depths = sink.filter(col("user_id") >= 0)
      .groupBy(col("user_id")).agg(max(col("depth")).as("depth"))
    // ONE conditional aggregate + unpivot (r20 — VERDICT r19 wrong
    // #2): the per-step converted counts are |steps| conditional
    // count() columns of a single global aggregate (count, not sum —
    // a zero-user sink must still emit 0 per step, the q200/q204
    // shape rule), exploded back to (step, n_users) rows. One job
    // instead of |steps| job rounds over the sink.
    val agged = depths.agg(
      count(when(col("depth") >= 1, lit(1))).as("__n0"),
      steps.indices.drop(1).map(i =>
        count(when(col("depth") >= i + 1, lit(1))).as(s"__n$i")): _*)
    agged.select(explode(array(steps.zipWithIndex.map { case (name, i) =>
        struct(lit(s"${i + 1}_$name").as("step"),
          col(s"__n$i").cast("long").as("n_users"))
      }: _*)).as("kv"))
      .select(col("kv.step").as("step"), col("kv.n_users").as("n_users"))
      .orderBy("step")
  }

  /** The windowed-funnel replay faces (q399/q409): view → click →
    * purchase, each step within a day of the last, drained under
    * `arrival` and rolled up by [[funnelRollup]]. */
  private[queries] def funnelDrain(s: org.apache.spark.sql.SparkSession, d: String,
                                   arrival: Arrival): DataFrame = {
    val steps = Seq("view", "click", "purchase")
    funnelRollup(replayRun(s, d, arrival, col("event_type").isin(steps: _*))(
      new Stateful.FunnelBuffered(steps, Seq(86400L * 1000000L, 86400L * 1000000L)),
      "user_id", "depth").snapshot(), steps)
  }

  /** The dynamic-gap session replay faces (q408/q410): clicks/views
    * cool off in 10 minutes, everything else holds the session an
    * hour; users below 30, drained under `arrival`, folded by max(n)
    * per (user, session start). */
  private def sessionsDrain(s: org.apache.spark.sql.SparkSession, d: String,
                            arrival: Arrival): DataFrame =
    replayRun(s, d, arrival, col("user_id") < 30)(
      new Stateful.SessionBuffered(
        Map("click" -> 600L * 1000000L, "view" -> 600L * 1000000L),
        3600L * 1000000L),
      "user_id", "start_us", "n").snapshot()
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"), col("start_us"))
      .agg(max(col("n")).as("n"))
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n"))
      .orderBy("user_id", "session_start")

  val queries: Map[String, Q] = Map(

    // OUT-OF-ORDER STREAMING DYNAMIC SESSIONS (r19 — VERDICT r18 next
    // #6, the FIFTH replay face): q190's dynamic-gap session windows
    // (`sessionsDrain`) under the q382 arrival contract. This is the
    // face the skeleton exists to make possible: in ARRIVAL order a
    // late row can MERGE two sessions an incremental builder already
    // closed — non-monotone state no append-only fold can express —
    // but under watermark-ordered replay rows reach the step in exact
    // (ts, id) event order, the merge case is structurally impossible,
    // and per-key state is O(1): (session start, running max ts+gap,
    // count). The replayed
    // (user, session_start, n) emissions fold by max(n) — a session's
    // start is immutable and its count monotone under ordered replay —
    // and must hash-match the BATCH dynamic session_window oracle
    // (q190's SQL, unchanged). `Stateful.SessionBuffered`.
    "q408_stream_sessions_ooo" -> ((s, d) => sessionsDrain(s, d, Arrival.FullDisorder)),

    // BOUNDED-JITTER STREAMING WINDOWED FUNNEL (r19 — VERDICT r18 next
    // #4): q399's processor under the steady-state production arrival
    // pattern, `Arrival.BoundedJitter` (the q383 treatment). The
    // watermark genuinely ADVANCES mid-drain, so the
    // Seq-typed replay state (the entry timestamps reached so far)
    // survives REPEATED PARTIAL flushes with per-flush prefix deletion
    // and re-arms — the one engine-level combination the full-disorder
    // q399 never exercises (everything there buffers to the sentinel;
    // the many-flush unit property covers it only on MemoryStream).
    // R19Spec asserts the mid-drain emissions from per-commit sink
    // versions. Same batch oracle as q204, bit-exact.
    "q409_stream_funnel_jitter" -> ((s, d) => funnelDrain(s, d, Arrival.BoundedJitter)),

    // BOUNDED-JITTER STREAMING DYNAMIC SESSIONS (r19): q408's
    // processor under the q383/q409 arrival contract. Completes the
    // full-disorder/bounded-jitter duality for the session face the
    // round introduced: the watermark advances mid-drain, so session
    // state opens, grows, and is superseded across REPEATED partial
    // flushes (gap windows here are minutes-to-an-hour ≪ the 6 h
    // jitter, so most sessions span flush boundaries). Same q190
    // batch oracle, bit-exact.
    "q410_stream_sessions_jitter" -> ((s, d) => sessionsDrain(s, d, Arrival.BoundedJitter)),

    // BOUNDED-JITTER STREAMING MARKOV (r19): q398's transition
    // emission under the jittered arrival contract — with this and
    // q414 every one of the five replay faces carries BOTH arrival
    // contracts (full-disorder hash split AND bounded jitter with
    // mid-drain flushes): scd2 q382/q383, Markov q398/q413, funnel
    // q399/q409, as-of q404/q414, sessions q408/q410. The jittered
    // drains are the steady-state production path; the full-disorder
    // twins price the honest worst case. Same q235-family batch
    // oracle, bit-exact.
    "q413_stream_markov_jitter" -> ((s, d) =>
      R17Q.transitionRollup(replayRun(s, d, Arrival.BoundedJitter, lit(true))(
        new Stateful.TransitionBuffered, "from_type", "to_type").snapshot())),

    // BOUNDED-JITTER STREAMING KEYED AS-OF (r19): q404's O(1)-state
    // ordered replay under the jittered contract — the last-click
    // dimension state survives repeated partial flushes. Same batch
    // point-in-time oracle, bit-exact.
    "q414_stream_asof_jitter" -> ((s, d) => R18Q.asOfDrain(s, d, Arrival.BoundedJitter)),

    // SOURCE COSINE SIMILARITY (r19): the L2 member of the
    // slice-similarity family — beside TV (L1 shape, q389), Ruzicka
    // (weighted Jaccard, volume-sensitive, q406), and min-overlap
    // (q323). Cosine is shape-only like TV but co-magnitude-weighted:
    // two sources dominated by the same head tokens score high even
    // when their tails diverge, where TV charges every displaced
    // token equally — a mix report wants both readouts. One
    // co-occurrence equi-join for the dot product, per-source squared
    // norms, dimension spine keeps disjoint pairs at 0; exact
    // integers as digit strings, one mirrored sqrt/division.
    // `TextAnalysis.sourceCosine`.
    "q411_source_cosine" -> ((s, d) =>
      graft.operators.TextAnalysis.sourceCosine(
        Tables.documents(s, d), "source")
        .orderBy("source_a", "source_b")),

    // STREAMING GAP BURSTINESS (r19): q412's cadence dispersion
    // maintained in-stream — the `Stateful.GapBuffered` replay face
    // (the TransitionBuffered shape carrying the time delta instead
    // of the type pair, O(1) last-ts state) emits exact (type, gap)
    // facts under hash-interleaved disorder, and the read side folds
    // them through the same additive `fanoFromCounts` the batch query
    // uses — the paths cannot drift. The sentinel key (-1) has one
    // row, so it emits no gap and needs no filter. Must hash-match
    // q412's batch oracle bit-exactly.
    "q415_stream_gap_burstiness" -> ((s, d) => {
      val facts = replayRun(s, d, Arrival.FullDisorder, lit(true))(
        new Stateful.GapBuffered, "event_type", "value").snapshot()
      graft.operators.Stats.fanoFromCounts(
        facts.groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c")),
        "event_type")
        .orderBy("event_type")
    }),

    // POSITIONAL PHRASE RETRIEVAL (r19): the phrase-query face of the
    // maintained-index family — q405's postings extended with token
    // POSITIONS (`posPostingsArtifact`), so "spark join" resolves as
    // one equi-join between the two terms' postings on (doc,
    // pos+1 = pos): term-pruned reads, position arithmetic, never a
    // corpus scan or a LIKE over text. Emits (doc_id, n_occ) with
    // occurrence multiplicity. ServedTwinSpec pins the postings-served
    // relation ≡ the full-scan zip_with adjacency count over
    // `documents` EXACTLY.
    "q416_phrase_match" -> ((s, d) =>
      // since r20 served through the extracted arbitrary-arity
      // operator (VERDICT r19 wrong #1) — same phrase, same relation
      graft.operators.TextMining
        .phraseMatch(posPostingsArtifact(s, d).snapshot(), Seq("spark", "join"))
        .orderBy("doc_id")),

    // INTER-EVENT GAP BURSTINESS (r19): the dispersion scalar over
    // the same per-user gap relation q407 reads at the deciles — the
    // Fano factor (variance-to-mean) of the seconds between a user's
    // consecutive events, per event type: ≈1 reads Poisson cadence,
    // ≫1 reads clumped/sessionful arrivals (the q368 token readout,
    // moved to the time axis). One user-partitioned lag window into
    // the additive `Stats.fanoFromCounts` histogram fold — exact
    // integer numerator as digits, one mirrored IEEE division, width
    // budget enforced loud.
    "q412_gap_burstiness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val gaps = ev.withColumn("__prev", lag(col("ts_us"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"),
          expr("(ts_us - __prev) div 1000000").as("value"))
      graft.operators.Stats.fanoFromCounts(
        gaps.groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c")),
        "event_type")
        .orderBy("event_type")
    })
  )

  /** q412/q415 share this SQL — the gap facts are exact and the fold
    * additive, so the streamed fragments reproduce the batch readout
    * bit-exactly. Mirrors `Stats.fanoFromCounts`' widths (n D12, sv
    * D19, sv2 D26 — n·sv2 and sv² both land exactly at the
    * DECIMAL(38,0) cap). */
  private lazy val gapBurstinessSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      |  FROM events
      |), g AS (
      |  SELECT event_type,
      |    (ts_us - lag(ts_us) OVER (PARTITION BY user_id
      |       ORDER BY ts_us, event_id)) // 1000000 AS v
      |  FROM e
      |), h AS (
      |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g WHERE v IS NOT NULL GROUP BY event_type, v
      |), a AS (
      |  SELECT event_type,
      |    CAST(SUM(c) AS DECIMAL(12,0)) AS n,
      |    CAST(SUM(CAST(CAST(v AS DECIMAL(7,0)) *
      |      CAST(c AS DECIMAL(12,0)) AS DECIMAL(19,0)))
      |      AS DECIMAL(19,0)) AS sv,
      |    CAST(SUM(CAST(CAST(CAST(v AS DECIMAL(7,0)) *
      |        CAST(v AS DECIMAL(7,0)) AS DECIMAL(14,0)) *
      |      CAST(c AS DECIMAL(12,0)) AS DECIMAL(26,0)))
      |      AS DECIMAL(26,0)) AS sv2
      |  FROM h GROUP BY event_type
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CAST(CAST(n * sv2 AS DECIMAL(38,0)) -
      |    CAST(sv * sv AS DECIMAL(38,0)) AS VARCHAR) AS vmr_num,
      |  CASE WHEN CAST(n * sv AS DECIMAL(31,0)) > 0 THEN
      |    CAST(CAST(n * sv2 AS DECIMAL(38,0)) -
      |      CAST(sv * sv AS DECIMAL(38,0)) AS DOUBLE) /
      |    CAST(CAST(n * sv AS DECIMAL(31,0)) AS DOUBLE)
      |  END AS vmr
      |FROM a ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    // q415 min-folds to exactly the batch cadence readout
    "q415_stream_gap_burstiness" -> gapBurstinessSql,
    "q412_gap_burstiness" -> gapBurstinessSql,
    // q408 drains to exactly the sessions q190's batch dynamic
    // session_window derives — disorder inside the watermark is
    // re-sorted away before the step ever sees a row
    "q408_stream_sessions_ooo" -> ExtendedQ.oracles("q190_dynamic_sessions"),

    // q409: bounded jitter changes WHEN state flushes, never WHAT
    // replays — same batch windowed-funnel oracle as q204/q399
    "q409_stream_funnel_jitter" -> ExtendedQ.oracles("q204_windowed_funnel"),

    // q410: same contract — jitter moves flush timing only
    "q410_stream_sessions_jitter" -> ExtendedQ.oracles("q190_dynamic_sessions"),

    // q413/q414: jitter moves flush timing only — the batch oracles
    // of the full-disorder twins, unchanged
    "q413_stream_markov_jitter" -> R17Q.oracles("q398_stream_markov_ooo"),
    "q414_stream_asof_jitter" -> R18Q.oracles("q404_stream_asof_ooo"),

    // mirrors q416: raw split positions via generate_subscripts (same
    // 0-vs-1-base offset cancels in the +1 adjacency), occurrence
    // multiplicity per doc
    "q416_phrase_match" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'spark' AND b.tok = 'join'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // mirrors q411: co-occurring dot mass + per-source squared norms,
    // spine keeps disjoint pairs (the q389/q406 rule), exact digit
    // strings, the same sqrt/division chain
    "q411_source_cosine" ->
      """WITH c AS (
        |  SELECT source AS g, tok AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY g, v
        |), n2 AS (
        |  SELECT g,
        |    CAST(SUM(CAST(CAST(c AS DECIMAL(14,0)) *
        |      CAST(c AS DECIMAL(14,0)) AS DECIMAL(28,0)))
        |      AS DECIMAL(28,0)) AS n2
        |  FROM c GROUP BY g
        |), co AS (
        |  SELECT a.g AS source_a, b.g AS source_b,
        |    CAST(SUM(CAST(CAST(a.c AS DECIMAL(14,0)) *
        |      CAST(b.c AS DECIMAL(14,0)) AS DECIMAL(28,0)))
        |      AS DECIMAL(28,0)) AS dot
        |  FROM c a JOIN c b ON a.v = b.v AND a.g < b.g
        |  GROUP BY a.g, b.g
        |)
        |SELECT p.source_a, p.source_b,
        |  CAST(COALESCE(co.dot, 0) AS VARCHAR) AS dot_num,
        |  CAST(p.na2 AS VARCHAR) AS na2_num,
        |  CAST(p.nb2 AS VARCHAR) AS nb2_num,
        |  CASE WHEN p.na2 > 0 AND p.nb2 > 0 THEN
        |    CAST(COALESCE(co.dot, 0) AS DOUBLE) /
        |      (sqrt(CAST(p.na2 AS DOUBLE)) * sqrt(CAST(p.nb2 AS DOUBLE)))
        |  END AS cosine
        |FROM (SELECT a.g AS source_a, b.g AS source_b,
        |        a.n2 AS na2, b.n2 AS nb2
        |      FROM n2 a JOIN n2 b ON a.g < b.g) p
        |LEFT JOIN co ON co.source_a = p.source_a
        |  AND co.source_b = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin,

  )
}
