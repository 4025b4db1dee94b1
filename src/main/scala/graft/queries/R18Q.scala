package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._

/** Round-18 additions — the third ordered-replay family (the windowed
  * FUNNEL under genuine disorder, closing the strict/buffered duality
  * for a processor whose replay state is richer than last-row
  * lookback), plus the next analytics wave. All oracle-gated. */
object R18Q {

  private val stagedPostings =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** One ingest batch's (term, doc_id, len, tf) POSTINGS fragment —
    * disjoint ingest batches mean every (term, doc) posting lands
    * exactly once, no merge needed. */
  private def postingsFragment(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"), col("len"))
      .agg(count(lit(1)).cast("long").as("tf"))

  /** The MAINTAINED POSTINGS index (r18) — the serving half of the
    * q392 retrieval story: per-batch (term, doc_id, tf, len) posting
    * fragments appended to a lake table ([[postingsFragment]]), so a
    * query reads ONLY its terms' postings — on a term-partitioned
    * cluster layout that is a partition-pruned point read, never a
    * corpus scan. Memoized per (session, sf). */
  private[queries] def postingsArtifact(s: org.apache.spark.sql.SparkSession,
                               d: String): graft.lake.LakeTable =
    stagedPostings.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      val docs = Tables.documents(s, d)
      def frag(k: Int) = postingsFragment(docs.filter(col("doc_id") % 4 === k))
      val idx = graft.lake.LakeTable.createTemp(s, frag(0), "graft-postings")
      (1 to 3).foreach(k => idx.append(frag(k)))
      idx
    }

  val queries: Map[String, Q] = Map(

    // POSTINGS-SERVED BM25 TOP-K (r18; ARBITRARY-ARITY r19 — VERDICT
    // r18 wrong #1/next #1): the retrieval query the maintained index
    // family exists FOR — the q392 corpus-stats index provides
    // (n_docs, sum_len, per-term df), the maintained POSTINGS index
    // provides (term, doc, tf, len), and serving a query is one
    // broadcast df-join + one posting filter + one per-doc fold: the
    // plan touches ONLY the query terms' postings, never the corpus
    // (at cluster scale: a term-pruned point read). The r18 version
    // folded per-doc contributions with sum(), deterministic only for
    // the 2-term demo (2-element IEEE addition commutes); now the
    // per-doc contributions fold in DETERMINISTIC TERM ORDER —
    // sort_array(collect_list(struct(term, c))) + an aggregate() HOF,
    // left-associated from 0.0 — so ANY query arity scores
    // bit-identically under any partitioning, and the oracle mirrors
    // the same term-sorted addition chain. A doc missing a query term
    // contributes exactly +0.0 in the scan chain (tf=0 ⇒ the tf factor
    // is +0.0, and x + 0.0 == x bit-exact for the nonnegative
    // contributions), so skipping absent terms in the served fold
    // preserves the chain. In-query proof (the q384 discipline): the
    // postings-served score relation must equal the full-scan
    // computation over `documents` EXACTLY, pre-top-k — on a ≥3-term
    // query the proof now also pins the fold-order discipline.
    "q405_postings_topk" -> ((s, d) => {
      // since r20 served through graft.operators.Retrieval (the
      // scoring chains extracted verbatim — same fold, same proof)
      val docs = Tables.documents(s, d)
      val postings = postingsArtifact(s, d).snapshot()
      val stats = graft.queries.R17Q.bm25FoldedIndex(s, d)
      val qterms = Seq("data", "join", "spark") // already term-sorted
      val served = graft.operators.Retrieval
        .bm25Served(postings, stats, qterms)
        .transform(Qx.stageForProof)
      Qx.prove { // proof leg: Verify runs it, Bench times the served plan
        // proof: postings-served ≡ full scan (q392's chain over ALL
        // docs, summed in the same term-sorted order from the same seed)
        val scan = graft.operators.Retrieval.bm25Scan(docs, stats, qterms)
        require(served.except(scan).isEmpty && scan.except(served).isEmpty,
          "postings-served scores must equal the full-scan computation")
      }
      served.orderBy(desc("score"), asc("doc_id")).limit(20)
        .select(col("doc_id"), col("score"))
    }),

    // OUT-OF-ORDER STREAMING WINDOWED FUNNEL (r18 — VERDICT r17 next
    // #5): q204's conversion-window funnel under the q382 arrival
    // contract. The batch funnel is NOT arrival-order monotone (a
    // late earlier view can disqualify a converted click), which is
    // why q208 re-derives per-user depth from FULL history each
    // update; watermark-ordered replay makes it monotone again — in
    // exact (ts, id) order the per-user state is just the entry
    // timestamps reached so far, O(|steps|) per key. Hash-interleaved
    // 4-batch drain + sentinel, full-range watermark delay; the
    // replayed depths roll up to the per-step converted counts and
    // must hash-match the BATCH windowed-funnel oracle (q204's SQL,
    // unchanged). `Stateful.FunnelBuffered`.
    "q399_stream_funnel_ooo" -> ((s, d) => {
      val in = graft.streaming.MicroBatch.stageEventsSplitSentinel(
        s, d, parts = 4, sentinelInterval = "46 DAYS")
      val sink = graft.streaming.MicroBatch.updateRun(s, d, inDir = Some(in),
        conf = graft.streaming.Stateful.rocksDBConf) { stream =>
        import s.implicits._
        graft.streaming.Stateful.funnelBuffered(
          graft.Tables.toEventTime(stream)
            .withWatermark("ts", "45 days")
            // the pre-processor filter MUST keep the sentinel type:
            // Catalyst pushes this filter BELOW the watermark node, so
            // a filtered-out sentinel would never advance the final
            // watermark and the buffered tail would never flush (found
            // r18 — the funnel face is the first replay consumer that
            // filters its stream; since r19 updateRun's
            // sentinel-survival guard fails loud on exactly this)
            .filter(col("event_type").isin(
              "view", "click", "purchase", "__sentinel__"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1),
          steps = Seq("view", "click", "purchase"),
          withinUs = Seq(86400L * 1000000L, 86400L * 1000000L))
          .toDF("user_id", "depth")
      }
      // shared read side with the jittered face (R19Q.funnelRollup):
      // max(depth) per user, per-step scalar counts
      R19Q.funnelRollup(sink, Seq("view", "click", "purchase"))
    }),

    // STREAMING SEQUENCE SUPPORT (r18): q395's 2-step behavior
    // readout maintained in-stream — per-batch (user, type,
    // first-(ts, id)) fragments, additive under MIN (the first
    // IDEMPOTENT-fold streaming face in the registry: every prior
    // fragment family folds by SUM; first-occurrence state folds by
    // lexicographic min, which also makes redelivery harmless by
    // algebra instead of by dedup). Read side min-folds the fragments
    // and feeds the per-(user, type) firsts through the same
    // alphabet-bounded pair join. Oracle = q395's batch SQL,
    // bit-exact. `EventAnalytics.sequenceSupport`.
    "q400_stream_seqsupport" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        graft.Tables.toEventTime(ev)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(struct(col("ts_us").as("ts"), col("event_id").as("id")))
            .as("m"))
          .select(col("user_id"), col("event_type"),
            col("m.ts").as("fts"), col("m.id").as("fid"))
      }
      val firsts = frags.groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("fts").as("ts"), col("fid").as("id"))).as("m"))
        .select(col("user_id"), col("event_type"),
          col("m.ts").as("ts_us"), col("m.id").as("event_id"))
      graft.operators.EventAnalytics.sequenceSupport(firsts)
        .orderBy("type_a", "type_b")
    }),

    // CONTINGENCY ADJUSTED RESIDUALS (r18): which (event type, user
    // cohort) cells drive the dependence between the two dimensions —
    // the post-hoc readout that LOCATES a χ² effect, per cell (the
    // global χ² sum is deliberately absent: it would fold per-cell
    // IEEE divisions in nondeterministic order, while the per-cell
    // residual is one mirrored IEEE tree over exact integer margins).
    // All r×c cells emit, including never-observed ones.
    // `Stats.contingencyResiduals`.
    "q401_contingency_residuals" -> ((s, d) =>
      graft.operators.Stats.contingencyResiduals(
        Tables.events(s, d), col("event_type"),
        (col("user_id") % 3).cast("string"))
        .orderBy("row_key", "col_key")),

    // STREAMING CONTINGENCY (r18): q401's residual table maintained
    // in-stream — per-batch (row, col, c) cell fragments (additive),
    // read-side fold through the same mirrored chain.
    // `Stats.contingencyFromCounts`.
    "q402_stream_contingency" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type").as("row_key"),
            (col("user_id") % 3).cast("string").as("col_key"))
          .groupBy(col("row_key"), col("col_key"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.contingencyFromCounts(frags)
        .orderBy("row_key", "col_key")
    }),

    // DAY-OVER-DAY ACTIVE-SET JACCARD (r18): population stability —
    // the set-overlap drift of the daily active-user sets, one
    // distinct pass + one (user, day+1) equi self-join, with the
    // consecutive-day spine keeping zero-overlap pairs in the output.
    // `EventAnalytics.activeSetJaccard`.
    "q403_active_set_jaccard" -> ((s, d) =>
      graft.operators.EventAnalytics.activeSetJaccard(
        Tables.events(s, d),
        // integer `div`, structurally exact like the oracle's `//` —
        // the old IEEE `/`+cast was provably exact below 2^53 µs but
        // rested on a rounding argument (ADVICE r18)
        expr("unix_micros(ts) div 86400000000"),
        col("user_id"))
        .orderBy("day_a")),

    // SOURCE RUZICKA SIMILARITY (r18): the weighted-Jaccard complement
    // of q389's TV drift — raw token-count vectors, Σmin/Σmax, so two
    // sources with identical SHAPE but 10× different VOLUME score low
    // here and 0 on TV (a mix report needs both). One co-occurrence
    // equi-join for the min mass, Σmax algebraically, dimension spine
    // keeps disjoint pairs. `TextAnalysis.sourceRuzicka`.
    "q406_source_ruzicka" -> ((s, d) =>
      graft.operators.TextAnalysis.sourceRuzicka(
        Tables.documents(s, d), "source")
        .orderBy("source_a", "source_b")),

    // INTER-EVENT GAP DECILES (r18): the cadence profile per event
    // type — the distribution of seconds between a user's consecutive
    // events, read at the nine deciles. The gap derivation is one
    // user-partitioned lag window (scale-safe: partitions by user,
    // never by type); the deciles ride the guarded FromCounts
    // histogram machinery over the seconds-quantized gap domain.
    // `Stats.decilesFromCounts`.
    "q407_gap_deciles" -> ((s, d) => {
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
      graft.operators.Stats.decilesFromCounts(
        gaps.groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c")),
        "event_type")
        .orderBy("event_type", "decile")
    }),

    // OUT-OF-ORDER STREAMING KEYED AS-OF (r18 — the second family
    // VERDICT r17 next #5 named): every purchase joined to the user's
    // latest STRICTLY-PRECEDING click in exact (ts, id) order, under
    // the q382 arrival contract. q269's KeyedAsOf converges under any
    // order by keeping FULL per-key history and re-deriving; the
    // ordered replay keeps O(1) state (the last click id) and emits
    // each match exactly once, final by construction — no seq +
    // last-write reader on the read side. Hash-interleaved 4-batch
    // drain + sentinel; must hash-match the batch point-in-time
    // window oracle. `Stateful.AsOfBuffered`.
    "q404_stream_asof_ooo" -> ((s, d) => {
      val in = graft.streaming.MicroBatch.stageEventsSplitSentinel(
        s, d, parts = 4, sentinelInterval = "46 DAYS")
      graft.streaming.MicroBatch.updateRun(s, d, inDir = Some(in),
        conf = graft.streaming.Stateful.rocksDBConf) { stream =>
        import s.implicits._
        graft.streaming.Stateful.asOfBuffered(
          graft.Tables.toEventTime(stream)
            .withWatermark("ts", "45 days")
            // keep the sentinel: this filter pushes BELOW the
            // watermark node (the q399 lesson; guard-enforced r19)
            .filter(col("event_type").isin(
              "click", "purchase", "__sentinel__"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1),
          dimType = "click", obsType = "purchase")
          .toDF("user_id", "purchase_id", "click_id")
      }
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "purchase_id")
    })
  )

  /** q401/q402 share this contingency-residual SQL — cell fragments
    * are additive, so the streaming fold equals the one-shot residual
    * table bit-exactly. Mirrors `Stats.contingencyFromCounts`
    * token-for-token in the IEEE chain. */
  private lazy val contingencySql: String =
    """WITH b AS (
      |  SELECT event_type AS row_key, CAST(user_id % 3 AS VARCHAR) AS col_key
      |  FROM events
      |), cells AS (
      |  SELECT row_key, col_key, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b GROUP BY row_key, col_key
      |), r AS (
      |  SELECT row_key, CAST(SUM(n) AS BIGINT) AS r_tot FROM cells GROUP BY row_key
      |), c AS (
      |  SELECT col_key, CAST(SUM(n) AS BIGINT) AS c_tot FROM cells GROUP BY col_key
      |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
      |g AS (
      |  SELECT r.row_key, c.col_key, COALESCE(cells.n, 0) AS n,
      |         r.r_tot, c.c_tot, t.nn,
      |    CAST(CAST(CAST(COALESCE(cells.n, 0) AS DECIMAL(14,0)) *
      |        CAST(t.nn AS DECIMAL(14,0)) AS DECIMAL(28,0)) -
      |      CAST(CAST(r.r_tot AS DECIMAL(14,0)) *
      |        CAST(c.c_tot AS DECIMAL(14,0)) AS DECIMAL(28,0))
      |      AS DECIMAL(29,0)) AS dev
      |  FROM r CROSS JOIN c CROSS JOIN t
      |  LEFT JOIN cells ON cells.row_key = r.row_key
      |    AND cells.col_key = c.col_key
      |)
      |SELECT row_key, col_key, n, r_tot, c_tot,
      |  CAST(dev AS VARCHAR) AS dev_num,
      |  CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(nn AS DOUBLE)
      |    AS expected,
      |  CASE WHEN r_tot > 0 AND c_tot > 0 AND r_tot < nn AND c_tot < nn
      |  THEN
      |    (CAST(dev AS DOUBLE) / CAST(nn AS DOUBLE)) /
      |    sqrt(CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) /
      |           CAST(nn AS DOUBLE) *
      |         (1.0 - CAST(r_tot AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |         (1.0 - CAST(c_tot AS DOUBLE) / CAST(nn AS DOUBLE)))
      |  END AS residual
      |FROM g ORDER BY row_key, col_key""".stripMargin

  val oracles: Map[String, String] = Map(
    // q399 drains to the same per-step converted counts q204 derives
    // one-shot — disorder inside the watermark is re-sorted away
    "q399_stream_funnel_ooo" -> ExtendedQ.oracles("q204_windowed_funnel"),

    // q400 min-folds to exactly the firsts q395's batch SQL derives
    "q400_stream_seqsupport" -> R17Q.oracles("q395_sequence_support"),

    "q401_contingency_residuals" -> contingencySql,
    "q402_stream_contingency" -> contingencySql,

    // mirrors q405 (3-term, r19): the q102/q392 BM25 chain over the
    // FULL corpus, contributions added in the SAME term-sorted order
    // from the same 0.0 seed (data, join, spark — SQL `+` is
    // left-associative, so this is the served fold's exact chain; a
    // doc missing a term adds exactly +0.0, preserving the bits)
    "q405_postings_topk" ->
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
        |), sc AS (
        |  SELECT doc_id,
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
        |      (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      AS score
        |  FROM base, idx
        |)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors q406: co-occurring min mass + algebraic max, spine
    // keeps disjoint pairs (q389's rule), exact integers
    "q406_source_ruzicka" ->
      """WITH c AS (
        |  SELECT source AS g, tok AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY g, v
        |), t AS (
        |  SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY g
        |), co AS (
        |  SELECT a.g AS source_a, b.g AS source_b,
        |    CAST(SUM(least(a.c, b.c)) AS BIGINT) AS smin
        |  FROM c a JOIN c b ON a.v = b.v AND a.g < b.g
        |  GROUP BY a.g, b.g
        |)
        |SELECT p.source_a, p.source_b, p.na, p.nb,
        |  COALESCE(co.smin, 0) AS smin,
        |  CASE WHEN p.na + p.nb > 0 THEN
        |    CAST(COALESCE(co.smin, 0) AS DOUBLE) /
        |      CAST(p.na + p.nb - COALESCE(co.smin, 0) AS DOUBLE)
        |  END AS ruzicka
        |FROM (SELECT ta.g AS source_a, tb.g AS source_b,
        |        ta.n AS na, tb.n AS nb
        |      FROM t ta JOIN t tb ON ta.g < tb.g) p
        |LEFT JOIN co ON co.source_a = p.source_a
        |  AND co.source_b = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin,

    // mirrors q407: user-partitioned lag gaps in whole seconds, value
    // at rank greatest(1, (d(n+1)) div 10) per type (an order
    // statistic depends only on the value multiset, so the tiebreak
    // inside row_number is immaterial)
    "q407_gap_deciles" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events
        |), g AS (
        |  SELECT event_type,
        |    (ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |       ORDER BY ts_us, event_id)) // 1000000 AS v
        |  FROM e
        |), gg AS (SELECT event_type, v FROM g WHERE v IS NOT NULL),
        |r AS (
        |  SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v)
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM gg
        |), d AS (
        |  SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS decile
        |)
        |SELECT r.event_type, d.decile, r.v AS q
        |FROM r JOIN d ON r.r = greatest(1, (d.decile * (r.n + 1)) // 10)
        |ORDER BY event_type, decile""".stripMargin,

    // mirrors q403: distinct (day, user) relation, one (user, day+1)
    // equi self-join, consecutive-day spine keeps zero-overlap pairs
    "q403_active_set_jaccard" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |    AS d, user_id AS u
        |  FROM events
        |), sz AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY d
        |), i AS (
        |  SELECT a.d AS day_a, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM du a JOIN du b ON a.u = b.u AND b.d = a.d + 1
        |  GROUP BY a.d
        |)
        |SELECT sa.d AS day_a, sa.d + 1 AS day_b, sa.n AS na, sb.n AS nb,
        |  COALESCE(i.inter, 0) AS inter,
        |  CAST(COALESCE(i.inter, 0) AS DOUBLE) /
        |    CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard
        |FROM sz sa JOIN sz sb ON sb.d = sa.d + 1
        |LEFT JOIN i ON i.day_a = sa.d
        |ORDER BY day_a""".stripMargin,

    // mirrors q404: the point-in-time window build — each purchase's
    // latest strictly-preceding click in exact (ts_us, event_id)
    // order, -1 when the user has no prior click
    "q404_stream_asof_ooo" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), w AS (
        |  SELECT user_id, event_type, event_id,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click
        |  FROM e
        |)
        |SELECT user_id, event_id AS purchase_id,
        |  CAST(COALESCE(last_click, -1) AS BIGINT) AS click_id
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin
  )
}
