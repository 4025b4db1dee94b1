package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.lake.LakeTable

/** Structured Streaming slice (SURVEY.md §2.9 T1–T3), mirroring the
  * reference's only Spark program — the Kafka → CAST → foreachBatch →
  * append micro-batch pipeline
  * (/root/reference/spark_stream/spark_stream.py:206-226, sink
  * :173-178, parse stage :159-171) — with the lake's file source in
  * place of Kafka and a parquet append in place of Cassandra. The
  * lifecycle is identical: unbounded source → lazy transform →
  * `writeStream.foreachBatch(...).outputMode("append").start()` →
  * `awaitTermination()`.
  *
  * `Trigger.AvailableNow` drains everything currently in the landing
  * directory and stops — which makes the pipeline oracle-testable: the
  * sink's final contents must equal the equivalent batch query. On a
  * real cluster the same code runs with a continuous trigger and a
  * Kafka source; only the builder line changes.
  */
object MicroBatch {

  private val runId = new AtomicInteger(0)

  /** Peak state-store footprint of one stateful operator across a
    * run's micro-batches, from the engine's own progress reports
    * (StateOperatorProgress). The numbers a capacity plan needs: state
    * ROWS track keys/windows/buffered-horizon rows — never total
    * events processed — and memory follows rows. */
  final case class StateOpStats(operator: String, peakRows: Long,
                                peakMemBytes: Long, batches: Int)

  // Runs start and drain on the CALLING thread (start + awaitTermination),
  // and Verify executes queries concurrently — a thread-local keeps one
  // run's stats from clobbering another's (the q188 isolation lesson).
  private val lastStats = new ThreadLocal[Seq[StateOpStats]]

  /** State-operator stats of the most recent run helper invocation on
    * THIS thread (empty for stateless runs). Specs use this to pin
    * state budgets: re-running with 3× the events must not 3× the
    * keyed-state rows. */
  def lastRunStateStats: Seq[StateOpStats] = Option(lastStats.get).getOrElse(Nil)

  // Raw progress entries of the most recent run on THIS thread: its
  // durationMs decomposes each micro-batch into addBatch /
  // queryPlanning / walCommit / commitOffsets / latestOffset, which is
  // what separates plan cost from checkpoint-lifecycle cost in the
  // drain family. perfbench reads it by reflection for its stream.*
  // per-layer metrics (StateBudgetSpec pins the contract). Same
  // thread-local discipline as lastStats.
  private val lastProg =
    new ThreadLocal[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]

  /** Per-micro-batch progress of the most recent run helper invocation
    * on THIS thread (empty before any run). */
  def lastRunProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    Option(lastProg.get).getOrElse(Nil)

  private def recordStats(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    // peaks are only trustworthy if NO progress entry was evicted:
    // recentProgress is a ring of numRecentProgressUpdates entries,
    // and a clipped run would silently under-report early batches
    require(ps.size < ProgressRetention,
      s"recentProgress holds ${ps.size} >= retention $ProgressRetention " +
        "entries — peak state stats would silently exclude evicted " +
        "batches; raise ProgressRetention")
    lastProg.set(ps)
    lastStats.set(
      ps
        .flatMap(p => p.stateOperators.toSeq)
        .groupBy(_.operatorName)
        .map { case (name, ps) =>
          StateOpStats(name,
            ps.map(_.numRowsTotal).max,
            ps.map(_.memoryUsedBytes).max,
            ps.size)
        }
        .toSeq.sortBy(_.operator))
  }

  /** The wire schema a Kafka source presents (key/value are BINARY
    * plus topic/partition/offset metadata — what
    * `spark.readStream.format("kafka")` returns, and what the
    * reference consumes at spark_stream.py:206-218). The S1 file
    * source stands in for the connector in this container; any stream
    * shaped like this goes through [[parseKafkaValues]] /
    * [[parseKafkaOrders]] unchanged when the one builder line swaps. */
  val kafkaRecordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType)))

  /** The reference's first parse stage (spark_stream.py:214 →
    * messages_df): binary key/value cast to UTF-8 strings. */
  def parseKafkaValues(records: DataFrame): DataFrame =
    records.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** The order-payload schema of the reference's topic
    * (spark_stream.py:160-166 — all fields kept as strings; typed
    * casts happen downstream, q01-style). */
  val orderJsonSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("order_date", StringType),
    StructField("product_name", StringType),
    StructField("quantity", StringType)))

  /** The reference's full selection stage
    * (create_selection_df_from_kafka, spark_stream.py:159-171): value
    * bytes → string → from_json → flatten to columns. Malformed JSON
    * yields null fields (from_json's PERMISSIVE default — the
    * reference inherits exactly this behavior), so a poison message
    * can never kill the stream. */
  def parseKafkaOrders(records: DataFrame): DataFrame =
    parseKafkaValues(records)
      .select(from_json(col("value"), orderJsonSchema).as("data"))
      .select(col("data.*"))

  /** Staged landing dirs, MEMOIZED per (kind, sf, parts, copies) —
    * staging models "messages already in the topic", a harness cost,
    * not operator cost, and r15's per-query re-staging surfaced as a
    * +15–30% min drift across the whole streaming family on a quiet
    * box (VERDICT r15 #5; adjudicated r16). A landing dir is
    * READ-ONLY once staged (drains only read it; checkpoints and
    * sinks live elsewhere), so reuse across queries and bench reps is
    * safe — the same per-session memoization the dedup/PQ/k-means
    * lake artifacts use. The memo's atomic compute keeps Verify's
    * concurrent run building each dir exactly once. */
  private val stagedDirs = new graft.lake.Stamps.StampedMemo[Path]()
  /** Every memo entry carries a CONTENT STAMP (the source parquet's
    * mtime — the shared [[graft.lake.Stamps.tableStamp]]
    * implementation, r18) alongside the (kind, sf, parts, copies)
    * identity key, so a regenerated testdata file REBUILDS the dir
    * instead of silently feeding every later drain stale rows (ADVICE
    * r16), and the superseded entry is evicted rather than stranded
    * for the session's life (ADVICE r17). */
  private def contentStamp(sfDir: String): Long =
    graft.lake.Stamps.tableStamp(sfDir, "events")
  private def memoizedDir(key: String, stamp: Long)(build: => Path): Path =
    stagedDirs.getOrBuild(key, stamp) {
      // stderr breadcrumb so a bench run can attribute which TIMED
      // query paid each one-time landing-dir build (guide §1.5)
      val t0 = System.nanoTime()
      val p = build
      System.err.println(
        f"[stage] landing dir $key built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      p
    }

  /** Stage `copies` copies of the events table into a fresh landing
    * directory — the file source's analog of "messages currently in the
    * topic". copies > 1 models an at-least-once upstream that
    * redelivers the same records. READ-ONLY CONTRACT: the returned
    * dir is shared by every later drain in the session (memoized) —
    * callers must never write into or mutate it; a mutating scenario
    * (late-arrival simulation) must stage its own fresh dir. */
  def stageEvents(sfDir: String, copies: Int = 1): Path =
    memoizedDir(s"copy|$sfDir|$copies", contentStamp(sfDir)) {
      val in = graft.lake.TempDirs.create("graft-stream-in")
      (1 to copies).foreach { i =>
        Files.copy(Paths.get(s"$sfDir/events.parquet"), in.resolve(s"events_$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      in
    }

  /** Stage the events table as `parts` parquet files hash-split on
    * event_id, so `maxFilesPerTrigger=1` turns the drain into `parts`
    * micro-batches whose rows interleave in event time — the
    * adversarial arrival order for cross-batch aggregation state
    * (every batch reopens sessions the previous batch thought closed).
    * READ-ONLY CONTRACT: memoized and shared — see [[stageEvents]]. */
  def stageEventsSplit(spark: SparkSession, sfDir: String, parts: Int,
                       copies: Int = 1): Path =
    memoizedDir(s"split|$sfDir|$parts|$copies", contentStamp(sfDir)) {
      val in = graft.lake.TempDirs.create("graft-stream-in")
      val one = spark.read.parquet(s"$sfDir/events.parquet")
      (1 to copies).map(_ => one).reduce(_ union _)
        .repartition(parts, org.apache.spark.sql.functions.col("event_id"))
        .write.mode("overwrite").parquet(in.toString)
      in
    }

  /** Stage events as `parts` CHRONOLOGICAL files (file k holds the
    * k-th event-time range), written sequentially with ordered names so
    * `maxFilesPerTrigger=1` drains them in event-time order — the
    * arrival pattern under which watermark-driven state EVICTION is
    * observable mid-drain (a hash-split drain pushes the watermark to
    * ~max in batch 1 and everything later arrives late). */
  def stageEventsByTime(spark: SparkSession, sfDir: String, parts: Int,
                        copies: Int = 1): Path =
    memoizedDir(s"bytime|$sfDir|$parts|$copies", contentStamp(sfDir)) {
      stageEventsByTimeFresh(spark, sfDir, parts, copies)
    }

  /** The un-memoized staging body — direct harness/test entry when a
    * FRESH dir is required (mtime-stamping assertions). */
  private[graft] def stageEventsByTimeFresh(spark: SparkSession,
                                            sfDir: String, parts: Int,
                                            copies: Int = 1): Path = {
    val in = graft.lake.TempDirs.create("graft-stream-in")
    val one = spark.read.parquet(s"$sfDir/events.parquet")
    val all = (1 to copies).map(_ => one).reduce(_ union _)
    // Range-partition on ts (sampled boundaries, non-overlapping
    // ranges, ties co-located) instead of the old global ntile window
    // — the ntile forced the WHOLE staged table through one partition
    // and was the bench tail's WindowExec warning (r14 verdict #4).
    // One distributed write; file k = k-th event-time range because
    // Spark names range-partitioned outputs part-00000.. in partition
    // order, so the lexicographic rename preserves chronology.
    val tmp = graft.lake.TempDirs.create("graft-stream-bt")
    all.repartitionByRange(parts, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tmp.toString)
    val ranges = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    require(ranges.nonEmpty, "no parquet written by range staging")
    // FileStreamSource drains in MODIFICATION-TIME order, not name
    // order: the parallel range write finishes its tasks in arbitrary
    // order, so stamp strictly increasing mtimes (the sequential
    // per-bucket writes of the old ntile staging got this for free).
    val base = java.nio.file.Files.getLastModifiedTime(ranges.last)
      .toMillis
    ranges.zipWithIndex.foreach { case (p, i) =>
      val dst = in.resolve(f"part_${i + 1}%03d.parquet")
      Files.move(p, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + (i + 1) * 1000L))
    }
    in
  }

  /** One far-future SENTINEL row (key −1) with the staged events
    * schema, `interval` past the real max ts — the file-source analog
    * of a CDC feed's control/heartbeat record: it advances the final
    * watermark past every real row so watermark-buffered state
    * flushes deterministically at drain end. Consumers filter
    * `user_id >= 0` read-side. Returns the sentinel frame AND the max
    * REAL event-time in µs — the [[updateRunTable]] sentinel-survival
    * guard needs the boundary the final watermark must clear. */
  private def sentinelEvents(spark: SparkSession, sfDir: String,
                             interval: String): (DataFrame, Long) = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val mx = ev.agg(max(col("ts")).as("__mx"))
    // boundary in the WATERMARK's µs space: the drains watermark on
    // Tables.eventTimeCol(ts), so convert through the same adapter
    // (the raw physical type varies: INT64 nanos / NTZ / TZ)
    val mxUs = graft.Tables
      .toEventTime(mx.select(col("__mx").as("ts")), "ts")
      .select(unix_micros(col("ts"))).head().getLong(0)
    (mx.select(ev.columns.toSeq.map {
      case "ts"         => (col("__mx") + expr(s"INTERVAL $interval")).as("ts")
      case "event_id"   => lit(-1L).as("event_id")
      case "user_id"    => lit(-1L).as("user_id")
      case "event_type" => lit("__sentinel__").as("event_type")
      case "value"      => lit(0.0d).as("value")
      case "props"      => lit("{}").as("props")
      case other        => lit(null).cast(ev.schema(other).dataType).as(other)
    }: _*), mxUs)
  }

  /** Sentinel landing dirs → max REAL (non-sentinel) event-time µs.
    * Registered at staging so [[updateRunTable]] can enforce the
    * SENTINEL-SURVIVAL contract with zero call-site changes (VERDICT
    * r18 wrong #2): a replay consumer whose pre-processor filter drops
    * `__sentinel__` — Catalyst pushes that filter BELOW the watermark
    * node — would silently strand its buffered tail; the guard turns
    * that into a loud named failure. Session-lifetime map, bounded by
    * the number of staged dirs. */
  private val sentinelRealMaxUs =
    new java.util.concurrent.ConcurrentHashMap[Path, java.lang.Long]()

  /** Test-only: stage-registered real-max boundary for a landing dir. */
  private[graft] def sentinelBoundaryUs(in: Path): Option[Long] =
    Option(sentinelRealMaxUs.get(in)).map(_.longValue)

  /** Move `files` into `in` as part_001.. with strictly increasing
    * mtimes (FileStreamSource drains in MODIFICATION-TIME order), then
    * write the sentinel as the chronologically-LAST file. */
  private def placeWithSentinel(in: Path, files: Seq[Path],
                                sentinel: DataFrame): Unit = {
    val tmpS = graft.lake.TempDirs.create("graft-stream-sent")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmpS.toString)
    val sFile = Files.list(tmpS).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("sentinel write produced no parquet"))
    val all = files :+ sFile
    val base = System.currentTimeMillis()
    all.zipWithIndex.foreach { case (p, i) =>
      val dst = in.resolve(f"part_${i + 1}%03d.parquet")
      Files.move(p, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + (i + 1) * 1000L))
    }
  }

  /** Stage a HASH-SPLIT drain (the adversarial full-disorder arrival
    * order — every batch spans the whole event-time range) PLUS the
    * [[sentinelEvents]] control record as the last file. Paired with
    * a watermark delay covering the real event-time range: nothing is
    * ever late mid-drain (so no row is dropped), and the sentinel
    * advances the final watermark past every real row. COUPLING
    * CONTRACT (ADVICE r19): the final watermark is realMax +
    * sentinelInterval − delay, so the consumer's watermark DELAY must
    * be strictly less than `sentinelInterval` — a delay ≥ the interval
    * leaves the final watermark at or behind the last real event and
    * [[assertSentinelSurvived]] fails loud (correctly: the tail never
    * flushed), but the failure is a STAGING mismatch, not a dropped
    * sentinel; widen the interval, not the delay. READ-ONLY
    * CONTRACT: memoized and shared — see [[stageEvents]]. */
  def stageEventsSplitSentinel(spark: SparkSession, sfDir: String,
                               parts: Int, sentinelInterval: String): Path =
    memoizedDir(
      s"splitsent|$sfDir|$parts|$sentinelInterval", contentStamp(sfDir)) {
      val in = graft.lake.TempDirs.create("graft-stream-in")
      val tmp = graft.lake.TempDirs.create("graft-stream-ss")
      spark.read.parquet(s"$sfDir/events.parquet")
        .repartition(parts, col("event_id"))
        .write.mode("overwrite").parquet(tmp.toString)
      val files = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      val (sentinel, mxUs) = sentinelEvents(spark, sfDir, sentinelInterval)
      placeWithSentinel(in, files, sentinel)
      sentinelRealMaxUs.put(in, mxUs)
      in
    }

  /** Stage a BOUNDED-DISORDER drain — the arrival pattern a real
    * Kafka CDC feed has: each row's ARRIVAL time is its event ts plus
    * a deterministic per-event jitter in [0, maxJitterSecs), files are
    * chronological in ARRIVAL order (range-partitioned, mtime-stamped)
    * so event-time disorder crosses batch boundaries but never exceeds
    * the jitter bound, and the [[sentinelEvents]] control record lands
    * last. Paired with a watermark delay ≥ the jitter bound: no row is
    * late, the watermark genuinely ADVANCES mid-drain (buffered state
    * flushes incrementally — the eviction a full-range delay never
    * exercises), and the sentinel flushes the tail. Same COUPLING
    * CONTRACT as [[stageEventsSplitSentinel]]: the watermark delay
    * must be strictly less than `sentinelInterval` (final wm =
    * realMax + interval − delay), so pick delay in
    * [maxJitterSecs, sentinelInterval). READ-ONLY
    * CONTRACT: memoized and shared — see [[stageEvents]]. */
  def stageEventsJitteredSentinel(spark: SparkSession, sfDir: String,
                                  parts: Int, maxJitterSecs: Long,
                                  sentinelInterval: String): Path = {
    // 0 would make the md5-jitter `% 0` evaluate to NULL arrival times
    // and a garbage-partitioned drain that only surfaces later as
    // frontier-violation errors inside the stateful processor (ADVICE
    // r17) — the crossCorrelation/heapsCurve parameter-guard pattern
    require(maxJitterSecs > 0,
      s"stageEventsJitteredSentinel: maxJitterSecs must be > 0 " +
        s"(got $maxJitterSecs); a zero-jitter drain is stageEventsByTime")
    memoizedDir(s"jitsent|$sfDir|$parts|$maxJitterSecs|$sentinelInterval",
      contentStamp(sfDir)) {
      val in = graft.lake.TempDirs.create("graft-stream-in")
      val tmp = graft.lake.TempDirs.create("graft-stream-js")
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      // md5-derived jitter: deterministic, uniform-ish, RNG-free (the
      // repo's sampling convention)
      val jitterSecs = (conv(substring(md5(col("event_id").cast("string")),
        1, 8), 16, 10).cast("long") % maxJitterSecs).cast("double")
      val arrival = col("ts") +
        make_dt_interval(lit(0), lit(0), lit(0), jitterSecs)
      ev.withColumn("__arrival", arrival)
        .repartitionByRange(parts, col("__arrival"))
        .sortWithinPartitions(col("__arrival"))
        .drop("__arrival")
        .write.mode("overwrite").parquet(tmp.toString)
      val files = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      val (sentinel, mxUs) = sentinelEvents(spark, sfDir, sentinelInterval)
      placeWithSentinel(in, files, sentinel)
      sentinelRealMaxUs.put(in, mxUs)
      in
    }
  }

  /** Pre-build every landing-dir the CURRENT query surface drains
    * from (r22). Staging models "messages already in the topic" — a
    * harness cost the bench reports under its `staging` metric, not an
    * operator cost — but before r22 each distinct dir was lazily built
    * by whichever TIMED drain touched it first (~0.4–6 s landing
    * inside that query's single lifecycle rep). The combos below
    * mirror the registrations' call sites; a drift is harmless — an
    * unlisted combo is simply built lazily by its first drain, exactly
    * as before (the [stage] stderr breadcrumb makes any such gap
    * visible in the bench log). Builds run on the caller's thread;
    * callers parallelize across a pool (guide §2.6 — independent jobs
    * backfill each other's stragglers). */
  def prestage(spark: SparkSession, sfDir: String): Unit = {
    stageEvents(sfDir, 1); stageEvents(sfDir, 2)
    stageEventsSplit(spark, sfDir, 3); stageEventsSplit(spark, sfDir, 4)
    stageEventsByTime(spark, sfDir, 3); stageEventsByTime(spark, sfDir, 4)
    stageEventsSplitSentinel(spark, sfDir, 4, "46 DAYS")
    stageEventsJitteredSentinel(spark, sfDir, 6, 21600L, "8 HOURS")
    ()
  }

  /** Unbounded read over the landing dir (T1 source stage).
    * maxFilesPerTrigger splits the drain into multiple micro-batches —
    * needed to genuinely exercise cross-batch state. */
  def fileSource(spark: SparkSession, inDir: Path,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // A streaming file source needs an explicit schema; derive it from
    // the files actually staged (footer-only batch read) so `ts` tracks
    // whatever physical encoding the driver generated — a hard-coded
    // LongType here silently fed raw micros into the ns->us division
    // when the testdata switched to timestamp[us] (VERDICT r11).
    val r = spark.readStream.schema(spark.read.parquet(inDir.toString).schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.parquet(inDir.toString)
  }

  /** Per-run ISOLATED session: same SparkContext/SharedState, fresh
    * SQLConf (builder-time configs — nanosAsLong, UTC, AQE — carry over
    * via initialSessionOptions). Streaming runs need per-query conf
    * (state partition count = state-store instances per batch, which
    * should track state size not cores; a state-store provider class),
    * and Verify executes queries CONCURRENTLY on one shared session —
    * a set/restore toggle on shared conf races across threads. That
    * race is exactly how q188 dropped out of CORRECTNESS_r09: another
    * run's `finally` restore landed between q188's provider set and
    * its stream start, and `transformWithState` refused the HDFS
    * provider. An isolated session makes the race impossible. */
  /** Progress entries retained per query. The engine keeps only this
    * many recentProgress entries; [[recordStats]] computes PEAKS over
    * them, so a drain with more micro-batches than the retention would
    * silently under-report early batches (ADVICE r10). Raised far
    * above any drain in this suite and asserted in recordStats. */
  private val ProgressRetention = 10000

  private def isolated(spark: SparkSession, statePartitions: Option[Int],
                       conf: Map[String, String]): SparkSession = {
    val s = spark.newSession()
    statePartitions.foreach(p => s.conf.set("spark.sql.shuffle.partitions", p.toString))
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      ProgressRetention.toString)
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Idempotent exactly-once foreachBatch writer over a [[LakeTable]]
    * (VERDICT r4 #1b: one idempotency mechanism — the txn log, not a
    * parallel directory scheme). Structured Streaming guarantees a
    * replayed micro-batch reuses its original batchId (that is the
    * checkpoint contract); `commitBatch` records an (appId, batchId)
    * marker in the commit log and turns a replay — after a sink crash,
    * an executor loss mid-write, or a duplicate foreachBatch
    * invocation — into a no-op, literally `DeltaSink`'s mechanism.
    * Reference seam: spark_stream/spark_stream.py:173-178 (Cassandra
    * append, where exactly-once comes from primary-key upsert
    * instead). foreachBatch runs driver-side, so capturing the table
    * handle is safe (never serialized to executors). */
  def batchWriter(table: LakeTable, appId: String): (Dataset[Row], Long) => Unit =
    (batch, batchId) => { table.commitBatch(batch.toDF(), appId, batchId); () }

  /** Fresh lake-table sink under a temp root (version 1 is empty; each
    * micro-batch is one streaming-append commit). */
  def lakeSink(spark: SparkSession): LakeTable =
    LakeTable.createEmpty(spark,
      graft.lake.TempDirs.create("graft-stream-out").resolve("sink"))

  /** T1+T2: run `transform` over the staged events stream, commit each
    * micro-batch to a fresh lake-table sink via foreachBatch, drain
    * with AvailableNow, and return the sink table — every micro-batch
    * is one versioned commit, so callers can time-travel the stream's
    * history. Pass statePartitions when the transform is stateful
    * (dedup, join). */
  def appendRunTable(spark: SparkSession, sfDir: String, copies: Int = 1,
                     maxFilesPerTrigger: Option[Int] = None,
                     statePartitions: Option[Int] = None)(
      transform: DataFrame => DataFrame): LakeTable = {
    val in = stageEvents(sfDir, copies)
    val sink = lakeSink(spark)
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val writeBatch = batchWriter(sink, ckpt.toString)
    val sess = isolated(spark, statePartitions, Map.empty)
    val q = transform(fileSource(sess, in, maxFilesPerTrigger)).writeStream
      .foreachBatch(writeBatch)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    sink
  }

  /** [[appendRunTable]]'s final sink contents. */
  def appendRun(spark: SparkSession, sfDir: String, copies: Int = 1,
                maxFilesPerTrigger: Option[Int] = None,
                statePartitions: Option[Int] = None)(
      transform: DataFrame => DataFrame): DataFrame =
    appendRunTable(spark, sfDir, copies, maxFilesPerTrigger, statePartitions)(transform)
      .snapshot()

  /** Per-micro-batch BATCH transform (the foreachBatch idiom every
    * production stream uses for work the streaming planner can't
    * express in append mode — unwatermarked distinct, corpus joins,
    * decontamination): `transform` runs INSIDE foreachBatch with the
    * full batch API against each micro-batch, and the result commits
    * through the lake txn log with the same exactly-once (appId,
    * batchId) replay contract as [[batchWriter]]. */
  def appendRunPerBatch(spark: SparkSession, sfDir: String, copies: Int = 1,
                        maxFilesPerTrigger: Option[Int] = None,
                        splitParts: Option[Int] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    val in = splitParts.fold(stageEvents(sfDir, copies))(
      stageEventsSplit(spark, sfDir, _, copies))
    val sink = lakeSink(spark)
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val appId = s"graft-perbatch-${runId.incrementAndGet()}"
    val sess = isolated(spark, None, Map.empty)
    val q = fileSource(sess, in, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink.commitBatch(transform(batch.toDF()), appId, batchId); ()
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    sink.snapshot()
  }

  /** [[appendRunPerBatch]] with the SINK TABLE exposed to the
    * transform (r20) — the incremental-index maintenance idiom: each
    * micro-batch can anti-join its candidates against what the index
    * already holds (the q384 novelty-append shape, inside the
    * stream), so re-occurrence across batches dedups BY ALGEBRA while
    * redelivery of a whole batch stays a no-op under the
    * (appId, batchId) txn contract. The transform runs driver-side in
    * foreachBatch with the full batch API; reading `sink.snapshot()`
    * there observes exactly the commits of prior batches. */
  def appendRunPerBatchAgainstSink(spark: SparkSession, sfDir: String,
                                   maxFilesPerTrigger: Option[Int] = None,
                                   splitParts: Option[Int] = None)(
      transform: (DataFrame, LakeTable) => DataFrame): DataFrame = {
    val in = splitParts.fold(stageEvents(sfDir, 1))(
      stageEventsSplit(spark, sfDir, _, 1))
    val sink = lakeSink(spark)
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val appId = s"graft-perbatch-${runId.incrementAndGet()}"
    val sess = isolated(spark, None, Map.empty)
    val q = fileSource(sess, in, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink.commitBatch(transform(batch.toDF(), sink), appId, batchId); ()
      }
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    sink.snapshot()
  }

  /** [[updateRun]] returning the versioned SINK TABLE instead of its
    * final contents — every micro-batch is one commit, so specs can
    * read per-batch emission timing straight from the table history
    * (the r17 eviction pin: bounded-disorder drains must emit
    * MID-drain, not everything at the final flush). */
  def updateRunTable(spark: SparkSession, sfDir: String,
                     statePartitions: Option[Int] = Some(8),
                     splitParts: Option[Int] = None,
                     conf: Map[String, String] = Map.empty,
                     copies: Int = 1,
                     chronological: Boolean = false,
                     inDir: Option[Path] = None)(
      transform: DataFrame => DataFrame): LakeTable = {
    // chronological: file k = the k-th event-time range, drained one
    // file per trigger — the arrival order a production CDC feed has.
    // inDir: caller-staged landing dir (sentinel drains) — always
    // drained one file per trigger.
    val in = inDir.getOrElse(
      if (chronological) stageEventsByTime(spark, sfDir,
        splitParts.getOrElse(3), copies)
      else splitParts.fold(stageEvents(sfDir, copies))(
        stageEventsSplit(spark, sfDir, _, copies)))
    val sink = lakeSink(spark)
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val writeBatch = batchWriter(sink, ckpt.toString)
    val sess = isolated(spark, statePartitions, conf)
    val maxFiles =
      if (chronological || inDir.isDefined) Some(1)
      else splitParts.map(_ => 1)
    val q = transform(fileSource(sess, in, maxFiles)).writeStream
      .foreachBatch(writeBatch)
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    assertSentinelSurvived(in, q)
    sink
  }

  /** SENTINEL-SURVIVAL guard (r19 — VERDICT r18 wrong #2, previously a
    * comment at the q399/q404 call sites): for a sentinel-staged
    * landing dir, the drain's final watermark must have advanced PAST
    * the last real event — otherwise the consumer's pre-processor
    * pipeline dropped the `__sentinel__` control row (Catalyst pushes
    * a pre-processor filter BELOW the watermark node, so the sentinel
    * never advances the watermark) or never watermarked the stream,
    * and watermark-buffered replay state silently retained its tail: a
    * truncated result on AvailableNow, a hang on a continuous trigger.
    * Enforced on every [[updateRunTable]] drain over a dir staged by
    * [[stageEventsSplitSentinel]]/[[stageEventsJitteredSentinel]] —
    * zero call-site opt-in, so every FUTURE replay consumer inherits
    * the loud failure. */
  private def assertSentinelSurvived(in: Path,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    Option(sentinelRealMaxUs.get(in)).foreach { mx =>
      val wmUs = q.recentProgress.toSeq
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map { w =>
          val i = java.time.Instant.parse(w)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
      require(wmUs.nonEmpty && wmUs.max > mx.longValue,
        "sentinel-survival violated: the final watermark (" +
          s"${if (wmUs.isEmpty) "none" else s"${wmUs.max}µs"}) never " +
          s"advanced past the last real event (${mx}µs) on a " +
          "sentinel-staged drain — the transform dropped the " +
          "__sentinel__ control row (a pre-processor filter pushes " +
          "below the watermark node), never watermarked the stream, or " +
          "drained with a watermark delay >= the staging sentinelInterval " +
          "(final wm = realMax + interval - delay, so the interval must " +
          "exceed the delay — widen the STAGING interval in that case, " +
          "never the delay); keep the sentinel type in every " +
          "pre-processor filter so buffered replay state flushes " +
          "instead of stranding")
    }

  /** Update-mode drain for arbitrary-stateful transforms
    * (`flatMapGroupsWithState`/`transformWithState` emit updated rows,
    * not appends): every micro-batch's emissions land in the sink via
    * foreachBatch; returns the final sink contents. */
  def updateRun(spark: SparkSession, sfDir: String,
                statePartitions: Option[Int] = Some(8),
                splitParts: Option[Int] = None,
                conf: Map[String, String] = Map.empty,
                copies: Int = 1,
                chronological: Boolean = false,
                inDir: Option[Path] = None)(
      transform: DataFrame => DataFrame): DataFrame =
    updateRunTable(spark, sfDir, statePartitions, splitParts, conf,
      copies, chronological, inDir)(transform).snapshot()

  /** Stream-stream inner join (engine extension per SURVEY §2.9): two
    * independent unbounded sources over the same landing dir, each
    * watermarked by the caller, joined with an equi + event-time-range
    * condition, drained through a foreachBatch append sink. */
  def joinRun(spark: SparkSession, sfDir: String,
              statePartitions: Option[Int] = Some(4),
              copies: Int = 1,
              maxFilesPerTrigger: Option[Int] = None,
              inDir: Option[Path] = None)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val in = inDir.getOrElse(stageEvents(sfDir, copies))
    val sink = lakeSink(spark)
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val writeBatch = batchWriter(sink, ckpt.toString)
    val sess = isolated(spark, statePartitions, Map.empty)
    val q = join(fileSource(sess, in, maxFilesPerTrigger),
      fileSource(sess, in, maxFilesPerTrigger)).writeStream
      .foreachBatch(writeBatch)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    sink.snapshot()
  }

  /** Stateful streaming aggregation (engine extension per SURVEY §2.9):
    * run `agg` (typically watermark + window groupBy) over the staged
    * stream into a complete-mode memory sink and return the final
    * table. */
  def aggRun(spark: SparkSession, sfDir: String,
             statePartitions: Int = 8,
             splitParts: Option[Int] = None,
             copies: Int = 1)(
      agg: DataFrame => DataFrame): DataFrame = {
    val in = splitParts.fold(stageEvents(sfDir, copies))(
      stageEventsSplit(spark, sfDir, _, copies))
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt")
    val name = s"graft_stream_agg_${runId.incrementAndGet()}"
    val sess = isolated(spark, Some(statePartitions), Map.empty)
    val q = agg(fileSource(sess, in, splitParts.map(_ => 1))).writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    sess.table(name)
  }
}
