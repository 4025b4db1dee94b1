package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.MicroBatch
import Qx._

/** Oracle-checked streaming queries: AvailableNow drains the staged
  * events table, so the sink's final contents must hash-match the
  * equivalent batch SQL in DuckDB. */
object StreamingQ {

  val queries: Map[String, Q] = Map(
    // T1/T2/P1 — the reference pipeline shape: CAST projection →
    // foreachBatch append sink (spark_stream.py:206-226)
    "q42_stream_append" -> ((s, d) =>
      MicroBatch.appendRun(s, d)(
        _.selectExpr("CAST(event_id AS STRING) AS key", "CAST(props AS STRING) AS value"))
        .orderBy("key")),

    // T3/P2 — from_json with a declared schema + struct flatten
    // (spark_stream.py:159-171) running inside the stream
    "q43_stream_json_flatten" -> ((s, d) =>
      MicroBatch.appendRun(s, d)(
        _.select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .as("data"))
          .select(col("event_id"), col("data.k").as("k")))
        .orderBy("event_id")),

    // Engine extension — event-time tumbling window + watermark over
    // the stream (complete mode, so the final table equals the batch
    // group-by and stays oracle-checkable)
    "q44_stream_window" -> ((s, d) =>
      MicroBatch.aggRun(s, d) { stream =>
        graft.Tables.toEventTime(stream)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .count()
      }
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("count").as("n"))
        .orderBy("day", "event_type")),

    // Streaming dedup under an at-least-once source: the landing dir
    // holds TWO copies of every record, maxFilesPerTrigger=1 forces the
    // redelivery into a LATER micro-batch, and
    // dropDuplicatesWithinWatermark's cross-batch state (plus the
    // watermark's late-row drop) must reduce the sink to exactly one
    // row per event_id — the oracle is the plain batch table.
    "q80_stream_dedup" -> ((s, d) =>
      MicroBatch.appendRun(s, d, copies = 2, maxFilesPerTrigger = Some(1)) { stream =>
        graft.Tables.toEventTime(stream)
          .withWatermark("ts", "2 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"), col("value"))
      }
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")),

    // Arbitrary stateful streaming as a gated query: per-user running
    // count via flatMapGroupsWithState (custom state, not a windowed
    // agg). The single-batch drain emits each key's final count once,
    // so the sink equals the batch group-by.
    "q93_stateful_count" -> ((s, d) =>
      MicroBatch.updateRun(s, d) { stream =>
        import s.implicits._
        graft.streaming.Stateful
          .runningCount(stream.select(col("user_id")).as[Long].groupByKey(identity))
          .toDF("user_id", "n")
      }
        .orderBy("user_id")),

    // Stream-stream inner join: two unbounded sources, both
    // watermarked, equi-join on event_id with an event-time range
    // bound (the state-retention contract) — every event matches
    // exactly its own redelivery-free counterpart.
    "q81_stream_stream_join" -> ((s, d) =>
      MicroBatch.joinRun(s, d) { (left, right) =>
        val a = graft.Tables.toEventTime(left)
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("ts"), col("event_type"))
        val b = right
          .withColumn("b_ts", graft.Tables.eventTimeCol(right))
          .withWatermark("b_ts", "1 hour")
          .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
        a.join(b,
          col("event_id") === col("b_id") &&
            col("b_ts").between(
              col("ts") - expr("INTERVAL 1 MINUTE"),
              col("ts") + expr("INTERVAL 1 MINUTE")))
          .select(col("event_id"), col("event_type"), col("value"))
      }
        .orderBy("event_id")),

    // Streaming commits are VERSIONED: two staged copies drained one
    // file per micro-batch land as lake versions 2 and 3; time travel
    // to the mid-stream version returns exactly the first batch (one
    // copy of events), the final snapshot both. The composition of the
    // lake's txn log with the streaming sink, oracle-gated.
    // Corpus hygiene IN the stream: documents arriving continuously
    // are PII-scrubbed and token-counted in-flight (every stage is a
    // projection — `TextAnalysis.piiScrub` applies unchanged to a
    // streaming frame — so the pipeline is append-mode streamable with
    // no state store at all) and land in the lake sink exactly-once.
    // The "release gate as a streaming job" composition a training-data
    // pipeline actually runs.
    "q127_stream_scrub" -> ((s, d) =>
      MicroBatch.appendRun(s, d) { ev =>
        val scrubbed = graft.operators.TextAnalysis.piiScrub(TextAnalysisQ.piiCorpusFrom(ev))
        scrubbed.select(col("doc_id"), col("clean"), col("n_emails"), col("n_phones"),
          size(split(col("clean"), " ")).cast("long").as("ws_tokens"))
      }.orderBy("doc_id")),

    // In-stream benchmark decontamination: each micro-batch maps its
    // events to corpus documents, runs the bloom-prefiltered
    // decontamination against the STATIC benchmark slice (full batch
    // API inside foreachBatch — the production per-batch hygiene
    // idiom), and commits only the clean documents. The final sink
    // must equal the batch answer: corpus minus contaminated
    "q138_stream_decontaminate" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") < 20)
      MicroBatch.appendRunPerBatch(s, d) { ev =>
        val corpus = ev.select((col("event_id") % 500).as("doc_id")).distinct()
          .join(docs, "doc_id")
          .filter(col("doc_id") >= 100 && col("doc_id") < 400)
        val contaminated = graft.operators.Corpus
          .bloomDecontaminate(corpus, bench, n = 4)
          .select(col("doc_id"))
        corpus.join(contaminated, Seq("doc_id"), "left_anti").select(col("doc_id"))
      }.distinct().orderBy("doc_id")
    }),

    // STREAM-STATIC join in the streaming planner (not foreachBatch):
    // the unbounded event stream inner-joins a static dimension — the
    // enrichment shape every production stream runs; the static side
    // re-resolves per micro-batch, AQE/broadcast as in batch
    "q155_stream_static_join" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      MicroBatch.appendRun(s, d) { ev =>
        ev.join(dim, ev("user_id") === dim("c_custkey"))
          .select(col("event_id"), col("event_type"), col("value"),
            col("c_mktsegment"))
      }
        .groupBy(col("event_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type", "c_mktsegment")
    }),

    // TEMPORAL STREAM ENRICH (r13): the SCD2 warehouse lookup applied
    // in-stream — each event joins the dimension row VALID AT ITS
    // EVENT TIME (broadcast dim + validity-interval residual), the
    // join that makes streamed features point-in-time correct when a
    // dimension has history. Dim: two closed-form eras per type
    // splitting at Jan 16.
    "q265_stream_temporal_enrich" -> ((s, d) => {
      import s.implicits._
      val tdf = Seq("click", "error", "purchase", "signup", "view").toDF("t")
      def era(f: String, u: String, tier: String) =
        tdf.select(col("t"), to_timestamp(lit(f)).as("from_ts"),
          to_timestamp(lit(u)).as("to_ts"), lit(tier).as("tier"))
      val dim = era("1970-01-01 00:00:00", "2024-01-16 00:00:00", "early")
        .unionByName(era("2024-01-16 00:00:00", "2100-01-01 00:00:00", "late"))
      MicroBatch.appendRun(s, d) { ev0 =>
        val ev = graft.Tables.toEventTime(ev0)
        ev.join(dim, ev("event_type") === dim("t") &&
            ev("ts") >= dim("from_ts") && ev("ts") < dim("to_ts"))
          .select(col("event_id"), col("event_type"), col("value"),
            col("tier"))
      }
        .groupBy(col("event_type"), col("tier"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type", "tier")
    }),

    // streaming CDC MERGE — per micro-batch upserts + deletes applied
    // through the lake's idempotent mergeBatch (the Delta streaming
    // MERGE INTO shape, exactly-once via (appId, batchId) txn markers;
    // replay safety is pinned in LakeTableSpec). Two identical drained
    // copies make the second batch a pure re-apply, so the final
    // snapshot equals one application of the change set
    "q156_stream_cdc_merge" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-smerge")
      MicroBatch.eachBatchRun(s, MicroBatch.stageEvents(d, copies = 2)) { (batch, bid) =>
        val ups = batch.filter(col("event_id") % 10 === 3)
          .select(col("event_id"), lit("patched").as("event_type"),
            (col("value") * 2).as("value"))
        val dels = batch.filter(col("event_id") % 10 === 7)
          .select(col("event_id"))
        t.mergeBatch(ups, Seq("event_id"), "graft-cdc-stream", bid, Some(dels))
      }
      t.snapshot()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // INCREMENTAL sketch maintenance (the streaming face of q147's
    // mergeability): each micro-batch commits its own fixed-splitter
    // quantile sketch to the lake — kilobytes per batch however large
    // the batch — and the read side merges the accumulated fragments
    // by per-bucket addition. Because the merge is exactly lossless,
    // the streamed-and-merged quantiles equal a global batch compute,
    // which is what the oracle replays (two drained copies of events)
    "q149_stream_quantile" -> ((s, d) => {
      val width = 2000L // $20.00 splitters, in cents
      val sketches = MicroBatch.appendRunPerBatch(s, d, copies = 2,
        maxFilesPerTrigger = Some(1)) { ev =>
        graft.operators.Quantiles.sketch(
          ev.select(col("event_type"), col("value")),
          Seq("event_type"), "value", width)
      }
      graft.operators.Quantiles.quantileEdges(
        graft.operators.Quantiles.mergeAll(sketches, Nil),
        Seq("event_type"), Seq(50, 95), width)
        .orderBy("event_type")
    }),

    // Stream-stream LEFT OUTER join (VERDICT r8 next #5): q81's shape
    // with leftOuter — unmatched left rows emit with null right columns
    // once the watermark proves no match can still arrive. The right
    // stream drops the first two event-time days, so every unmatched
    // row sits far below the final watermark (max event time − 1 h) and
    // the AvailableNow drain's closing no-data batch deterministically
    // flushes all of them; the oracle is the plain batch LEFT JOIN.
    // The cut is fixture metadata (min event date + 2 days) computed
    // once from the static table — the stream filter is a literal.
    "q158_stream_outer_join" -> ((s, d) => {
      val cutDate = Tables.events(s, d)
        .agg(date_add(min(to_date(col("ts"))), 2)).head().getDate(0)
      MicroBatch.joinRun(s, d) { (left, right) =>
        val a = graft.Tables.toEventTime(left)
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("ts"), col("event_type"))
        val b = right
          .withColumn("b_ts", graft.Tables.eventTimeCol(right))
          .withWatermark("b_ts", "1 hour")
          .filter(to_date(col("b_ts")) >= lit(cutDate))
          .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
        a.join(b,
          col("event_id") === col("b_id") &&
            col("b_ts").between(
              col("ts") - expr("INTERVAL 1 MINUTE"),
              col("ts") + expr("INTERVAL 1 MINUTE")),
          "left_outer")
          .select(col("event_id"), col("event_type"), col("value"))
      }
        .orderBy("event_id")
    }),

    // FULL-outer watermarked stream-stream join (q158's left-outer
    // completed to both sides): old rows are parity-filtered on each
    // side (left drops old id%3==0 rows, right drops old even rows),
    // so the drain must emit matched rows, left-only rows (null value)
    // AND right-only rows (null event_type) — the state store has to
    // hold and expire BOTH sides on watermark. Unmatched rows exist
    // only in OLD event time (before cutDate) by construction, because
    // an outer row can only emit once the watermark passes its join
    // window — an unmatched row within the final watermark delay of
    // the stream's end would stay in state forever (the q158 rule).
    // Oracle: the same FULL JOIN stated in batch SQL
    "q168_stream_full_outer_join" -> ((s, d) => {
      val cutDate = Tables.events(s, d)
        .agg(date_add(min(to_date(col("ts"))), 2)).head().getDate(0)
      MicroBatch.joinRun(s, d) { (left, right) =>
        val a = graft.Tables.toEventTime(left)
          .withWatermark("ts", "1 hour")
          .filter(col("event_id") % 3 =!= 0 || to_date(col("ts")) >= lit(cutDate))
          .select(col("event_id"), col("ts"), col("event_type"))
        val b = right
          .withColumn("b_ts", graft.Tables.eventTimeCol(right))
          .withWatermark("b_ts", "1 hour")
          .filter(col("event_id") % 2 =!= 0 || to_date(col("b_ts")) >= lit(cutDate))
          .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
        a.join(b,
          col("event_id") === col("b_id") &&
            col("b_ts").between(
              col("ts") - expr("INTERVAL 1 MINUTE"),
              col("ts") + expr("INTERVAL 1 MINUTE")),
          "full_outer")
          .select(coalesce(col("event_id"), col("b_id")).as("event_id"),
            col("event_type"), col("value"))
      }
        .orderBy("event_id")
    }),

    // IN-STREAM sessionization (q64 runs the same semantics in batch):
    // session_window through the streaming session-state operator, with
    // the drain split into 3 micro-batches hash-interleaved on event_id
    // so sessions OPEN, CLOSE AND RE-MERGE across batches — batch 2
    // routinely lands a row in the time gap between two sessions batch
    // 1 already emitted, and the state store must merge them back into
    // one. Complete mode (like q44) keeps every session revisable, so
    // the final table equals batch sessionization and stays
    // hash-checkable against the gaps-and-islands oracle
    "q170_stream_sessions" -> ((s, d) =>
      MicroBatch.aggRun(s, d, splitParts = Some(3)) { stream =>
        graft.Tables.toEventTime(stream)
          .filter(col("user_id") < 50)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      }
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"), col("total"))
        .orderBy("user_id", "session_start")),

    // Spark 4 state-V2: per-user running (count, sum) through
    // transformWithState's named ValueState on a RocksDB store, with
    // the drain split into 3 hash-interleaved micro-batches so every
    // later batch REOPENS state the earlier ones wrote. Each batch
    // emits a key's updated totals; both are monotone, so max() over
    // the update-mode sink is the final state — which must equal the
    // plain batch group-by (the oracle) iff cross-batch state held
    "q188_stateful_v2" -> ((s, d) =>
      MicroBatch.updateRun(s, d, splitParts = Some(3)) { stream =>
        import s.implicits._
        graft.streaming.Stateful.runningTotals(
          stream.select(col("user_id"), col("event_id"))
            .as[(Long, Long)].groupByKey(_._1))
          .toDF("user_id", "n", "sum_id")
      }
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max(col("sum_id")).as("sum_id"))
        .orderBy("user_id")),

    // State-V2 timer sessionization (q170's semantics, re-built on
    // ListState + event-time TIMERS instead of session_window): open
    // sessions are per-key state merged in exact microseconds, ONE
    // timer per key at the earliest close deadline, and a session
    // emits exactly once — when the watermark crosses last+gap (the
    // engine ends the state's life, not the drain). The final no-data
    // batch closes everything except sessions still inside the gap of
    // the stream's maximum event time; the oracle applies the same
    // watermark cut (floor-ms of max ts) to the gaps-and-islands
    // rewrite, so the hash gate pins timer firing, state clearing AND
    // the open-tail exclusion
    "q189_stream_timer_sessions" -> ((s, d) =>
      MicroBatch.updateRun(s, d) { stream =>
        import s.implicits._
        graft.streaming.Stateful.timerSessions(
          graft.Tables.toEventTime(stream)
            .withWatermark("ts", "0 seconds")
            .filter(col("user_id") < 50)
            .select(col("user_id"), unix_micros(col("ts")).as("us"))
            .as[(Long, Long)].groupByKey(_._1),
          gapUs = 30L * 60L * 1000000L)
          .toDF("user_id", "n")
      }
        .orderBy("user_id", "n")),

    // CHAINED stateful operators in ONE streaming query (stream-stream
    // join -> tumbling-window aggregation, both through the state
    // store): the join's range condition delays the watermark the
    // downstream agg sees, so only day windows closed under the
    // DELAYED watermark emit; the oracle applies the identical cut
    "q193_stream_join_window" -> ((s, d) =>
      MicroBatch.joinRun(s, d) { (left, right) =>
        val a = graft.Tables.toEventTime(left)
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("ts"), col("event_type"))
        val b = right
          .withColumn("b_ts", graft.Tables.eventTimeCol(right))
          .withWatermark("b_ts", "1 hour")
          .select(col("event_id").as("b_id"), col("b_ts"), col("value"))
        a.join(b,
          col("event_id") === col("b_id") &&
            col("b_ts").between(
              col("ts") - expr("INTERVAL 1 MINUTE"),
              col("ts") + expr("INTERVAL 1 MINUTE")))
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      }
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total"))
        .orderBy("day", "event_type")),

    // STREAMING WINDOWED FUNNEL (r13 — q204's semantics on an
    // unbounded source): per-user state-V2 recomputation over the
    // accumulated per-step event sets, because the conversion-window
    // chain is NOT arrival-order monotone (a late earlier view can
    // disqualify a previously converted click). The drain is split
    // into 3 hash-interleaved micro-batches so exactly that reordering
    // happens; each update carries a strictly increasing per-user
    // sequence and the sink reduces with max_by(depth, seq) — the
    // final per-user depth then rolls up to q204's per-step converted
    // counts and must hash-match the BATCH windowed-funnel oracle.
    "q208_stream_funnel" -> ((s, d) => {
      val sink = MicroBatch.updateRun(s, d, splitParts = Some(3)) { stream =>
        import s.implicits._
        graft.streaming.Stateful.streamingFunnel(
          graft.Tables.toEventTime(stream)
            .filter(col("event_type").isin("view", "click", "purchase"))
            .select(col("user_id"),
              when(col("event_type") === "view", 0)
                .when(col("event_type") === "click", 1)
                .otherwise(2).cast("int").as("step"),
              unix_micros(col("ts")).as("us"))
            .as[(Long, Int, Long)].groupByKey(_._1),
          withinUs = 86400L * 1000000L)
          .toDF("user_id", "seq", "depth")
      }
      val depths = sink.groupBy(col("user_id"))
        .agg(max_by(col("depth"), col("seq")).as("depth"))
      Seq("view", "click", "purchase").zipWithIndex.map { case (name, i) =>
        depths.filter(col("depth") >= i + 1)
          .agg(count(lit(1)).as("n_users"))
          .select(lit(s"${i + 1}_$name").as("step"), col("n_users"))
      }.reduce(_ unionByName _).orderBy("step")
    }),

    // Streaming CEP (r13, q257's in-stream twin): per-user role
    // streams accumulate in transformWithState; each micro-batch
    // re-derives the match count from the merged (ts,id)-ordered
    // history, so the drained stream converges to exactly the batch
    // matchPattern answer (seq + last-write reader, the q208 rule).
    "q260_stream_pattern" -> ((s, d) => {
      val sink = MicroBatch.updateRun(s, d, splitParts = Some(3)) { stream =>
        import s.implicits._
        graft.streaming.Stateful.streamingPattern(
          graft.Tables.toEventTime(stream)
            .filter(col("event_type").isin("view", "purchase", "error"))
            .select(col("user_id"),
              when(col("event_type") === "view", 0)
                .when(col("event_type") === "purchase", 1)
                .otherwise(2).cast("int").as("role"),
              unix_micros(col("ts")).as("us"), col("event_id"))
            .as[(Long, Int, Long, Long)].groupByKey(_._1),
          withinUs = 7200000000L)
          .toDF("user_id", "seq", "n_matches")
      }
      sink.groupBy(col("user_id"))
        .agg(max_by(col("n_matches"), col("seq")).as("n_matches"))
        .filter(col("n_matches") > 0)
        .orderBy("user_id")
    }),

    "q112_stream_time_travel" -> ((s, d) => {
      val t = MicroBatch.appendRunTable(s, d, copies = 2,
        maxFilesPerTrigger = Some(1))(
        _.select(col("event_id"), col("event_type"), col("value")))
      def agg(df: org.apache.spark.sql.DataFrame, v: Long) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .withColumn("version", lit(v))
      agg(t.snapshot(2L), 2L).unionByName(agg(t.snapshot(3L), 3L))
        .select(col("version"), col("event_type"), col("n"), col("total"))
        .orderBy("version", "event_type")
    }),

    // Streaming rate-anomaly (r13, the monitoring pattern paired with
    // batch q226): each micro-batch commits its (type, day) PARTIAL
    // counts to the lake sink — kilobytes per batch, never raw events
    // — and the alarm read merges partials and z-scores each day
    // against its trailing week. Two full-corpus batches stand in for
    // ingestion epochs, so every day's count is assembled from 2
    // partial rows; the oracle doubles the corpus identically.
    "q230_stream_rate_anomaly" -> ((s, d) => {
      val partials = MicroBatch.appendRunPerBatch(s, d, copies = 2,
        maxFilesPerTrigger = Some(1)) { batch =>
        graft.Tables.toEventTime(batch)
          .select(col("event_type"),
            datediff(to_date(col("ts")), lit("2020-01-01")).cast("long").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n_partial"))
      }
      val merged = partials.groupBy(col("event_type"), col("day"))
        .agg(sum(col("n_partial")).as("n_events"))
      graft.operators.Stats.rateAnomalyFromDaily(merged, "event_type")
        .orderBy("event_type", "day")
    })
  )

  val oracles: Map[String, String] = Map(
    // closed form of the q265 validity intervals
    "q265_stream_temporal_enrich" ->
      s"""SELECT event_type,
         |  CASE WHEN CAST(ts AS TIMESTAMP) <
         |            TIMESTAMP '2024-01-16 00:00:00'
         |       THEN 'early' ELSE 'late' END AS tier,
         |  COUNT(*) AS n, ${Qx.sqlDsum("value")} AS total
         |FROM events GROUP BY 1, 2
         |ORDER BY event_type, tier""".stripMargin,

    // stream ≡ batch: per-user match counts of the q257 CEP rule
    "q260_stream_pattern" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
        |), x AS (
        |  SELECT user_id, event_type, ts_us, event_id,
        |    first_value(CASE WHEN event_type = 'purchase' THEN ts_us END
        |                IGNORE NULLS) OVER w AS nb_ts,
        |    first_value(CASE WHEN event_type = 'error' THEN ts_us END
        |                IGNORE NULLS) OVER w AS nc_ts
        |  FROM e WHERE event_type IN ('view', 'purchase', 'error')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        |FROM x
        |WHERE event_type = 'view' AND nb_ts IS NOT NULL
        |  AND nb_ts - ts_us <= 7200000000
        |  AND (nc_ts IS NULL OR nc_ts >= nb_ts)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // stream ≡ batch: the streaming windowed funnel must converge to
    // exactly the batch windowed funnel's oracle
    "q208_stream_funnel" -> ExtendedQ.oracles("q204_windowed_funnel"),

    "q42_stream_append" ->
      "SELECT CAST(event_id AS VARCHAR) AS key, CAST(props AS VARCHAR) AS value FROM events ORDER BY key",
    "q43_stream_json_flatten" ->
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events ORDER BY event_id",
    "q44_stream_window" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |       count(*) AS n
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q80_stream_dedup" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q81_stream_stream_join" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id",
    "q93_stateful_count" ->
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id",
    "q138_stream_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
        |  FROM (
        |    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |    WHERE len(ws) >= 4
        |  )
        |),
        |t AS (SELECT * FROM sh WHERE doc_id >= 100 AND doc_id < 400),
        |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
        |contaminated AS (SELECT DISTINCT t.doc_id FROM t JOIN b ON t.shingle = b.shingle)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 100 AND doc_id < 400
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    "q127_stream_scrub" ->
      """WITH corpus AS (
        |  SELECT event_id AS doc_id,
        |    'contact user' || CAST(user_id AS VARCHAR) ||
        |    '@mail' || CAST(event_id % 7 AS VARCHAR) ||
        |    '.com tel 0' ||
        |    lpad(CAST((event_id * 37) % 1000000000 AS VARCHAR), 9, '0') ||
        |    ' ref ' || CAST(event_id AS VARCHAR) || ' fin' AS text
        |  FROM events WHERE event_id < 2000
        |),
        |redacted AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g')
        |           AS no_email
        |  FROM corpus
        |)
        |SELECT doc_id,
        |       regexp_replace(no_email, '0[0-9]{9}', '<PHONE>', 'g') AS clean,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT)
        |         AS n_emails,
        |       CAST(len(regexp_extract_all(no_email, '0[0-9]{9}')) AS BIGINT) AS n_phones,
        |       CAST(len(string_split(regexp_replace(no_email, '0[0-9]{9}', '<PHONE>', 'g'), ' '))
        |         AS BIGINT) AS ws_tokens
        |FROM redacted ORDER BY doc_id""".stripMargin,

    "q155_stream_static_join" ->
      s"""SELECT event_type, c_mktsegment, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY event_type, c_mktsegment
         |ORDER BY event_type, c_mktsegment""".stripMargin,

    // one application of the change set: deletes drop, upserts replace
    "q156_stream_cdc_merge" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM (
         |  SELECT event_type, value FROM events WHERE event_id % 10 NOT IN (3, 7)
         |  UNION ALL
         |  SELECT 'patched' AS event_type, value * 2 AS value
         |  FROM events WHERE event_id % 10 = 3
         |) GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the global compute over the doubled drain — equal to the
    // streamed per-batch sketches merged, because merging is lossless
    "q149_stream_quantile" ->
      """WITH ev2 AS (
        |  SELECT event_type, value FROM events
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |),
        |cents AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM ev2
        |),
        |sk AS (
        |  SELECT event_type, c // 2000 AS bucket, COUNT(*) AS cnt
        |  FROM cents GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT event_type, bucket, cnt,
        |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |         SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM sk
        |)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       CAST((MIN(CASE WHEN cum >= (n*50+99)//100 THEN bucket END)+1) * 2000 AS DOUBLE)/100 AS q50_est,
        |       CAST((MIN(CASE WHEN cum >= (n*95+99)//100 THEN bucket END)+1) * 2000 AS DOUBLE)/100 AS q95_est
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the batch LEFT JOIN the drained sink must equal: right side =
    // events from day 3 on (the streamed filter), left side = all
    "q158_stream_outer_join" ->
      """SELECT e.event_id, e.event_type, r.value
        |FROM events e LEFT JOIN (
        |  SELECT event_id, value FROM events
        |  WHERE CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) + 2 FROM events)
        |) r ON e.event_id = r.event_id
        |ORDER BY e.event_id""".stripMargin,

    "q168_stream_full_outer_join" ->
      """SELECT COALESCE(l.event_id, r.event_id) AS event_id,
        |       l.event_type, r.value
        |FROM (SELECT event_id, event_type FROM events
        |      WHERE event_id % 3 <> 0
        |         OR CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) + 2 FROM events)) l
        |FULL JOIN (SELECT event_id, value FROM events
        |      WHERE event_id % 2 <> 0
        |         OR CAST(ts AS DATE) >= (SELECT MIN(CAST(ts AS DATE)) + 2 FROM events)) r
        |ON l.event_id = r.event_id
        |ORDER BY event_id""".stripMargin,

    "q170_stream_sessions" ->
s"""WITH m AS (
         |  SELECT user_id, ts, value,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
         |  FROM events WHERE user_id < 50
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |),
         |i AS (
         |  SELECT user_id, ts, value,
         |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m
         |)
         |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |       count(*) AS n, ${sqlDsum("value")} AS total
         |FROM i GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q188_stateful_v2" ->
      """SELECT user_id, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q189_stream_timer_sessions" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 50
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), i AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |), sess AS (
        |  SELECT user_id, COUNT(*) AS n, MAX(ts) AS last_ts
        |  FROM i GROUP BY user_id, sid
        |)
        |SELECT user_id, n FROM sess
        |WHERE epoch_us(CAST(last_ts AS TIMESTAMP)) + 1800000000
        |      <= (epoch_us(CAST((SELECT MAX(ts) FROM events) AS TIMESTAMP)) // 1000) * 1000
        |ORDER BY user_id, n""".stripMargin,

    // emitted windows = those whose END clears the join-DELAYED
    // watermark (global watermark minus the 1-minute join range);
    // at day granularity that is exactly the 61-minute cut below for
    // any stream whose max event time sits > 61 min past a midnight
    "q193_stream_join_window" ->
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |       event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events
         |WHERE date_trunc('day', ts) + INTERVAL 1 DAY
         |      <= (SELECT MAX(ts) FROM events) - INTERVAL 61 MINUTE
         |GROUP BY 1, event_type
         |ORDER BY day, event_type""".stripMargin,

    "q112_stream_time_travel" ->
s"""SELECT version, event_type, n, total FROM (
         |  SELECT CAST(2 AS BIGINT) AS version, event_type, COUNT(*) AS n,
         |         ${sqlDsum("value")} AS total
         |  FROM events GROUP BY event_type
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT) AS version, event_type, COUNT(*) AS n,
         |         ${sqlDsum("value")} AS total
         |  FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
         |  GROUP BY event_type
         |) ORDER BY version, event_type""".stripMargin,

    // the doubled-corpus twin of q226: two ingestion epochs => 2x day
    // counts, identical trailing-window z-score semantics
    "q230_stream_rate_anomaly" ->
      """WITH ev2 AS (
        |  SELECT event_type, ts FROM events
        |  UNION ALL SELECT event_type, ts FROM events
        |), daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         COUNT(*) AS n_events
        |  FROM ev2 GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, day, n_events,
        |         COUNT(*) OVER f AS n_prior,
        |         CAST(SUM(n_events) OVER f AS BIGINT) AS s1,
        |         CAST(SUM(n_events * n_events) OVER f AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day
        |               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, day, n_events, n_prior,
        |       CASE WHEN n_prior >= 3
        |            THEN CAST(s1 AS DOUBLE) / CAST(n_prior AS DOUBLE) END
        |         AS baseline_mean,
        |       CASE WHEN n_prior >= 3 AND
        |                 CAST(n_prior AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |                 CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0.0
        |            THEN (CAST(n_events AS DOUBLE) -
        |                  CAST(s1 AS DOUBLE) / CAST(n_prior AS DOUBLE)) /
        |                 sqrt((CAST(n_prior AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |                       CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        |                      (CAST(n_prior AS DOUBLE) * CAST(n_prior AS DOUBLE)))
        |       END AS z_score
        |FROM w ORDER BY event_type, day""".stripMargin
  )
}
