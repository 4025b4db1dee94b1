package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
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
  * `awaitTermination()`, run for every helper by one private core,
  * [[drain]].
  *
  * `Trigger.AvailableNow` drains everything currently in the landing
  * directory and stops — which makes the pipeline oracle-testable: the
  * sink's final contents must equal the equivalent batch query. On a
  * real cluster the same code runs with a continuous trigger and a
  * Kafka source; only the builder line changes.
  */
object MicroBatch {

  /** Peak state-store footprint of one stateful operator across a
    * run's micro-batches, from the engine's own progress reports
    * (StateOperatorProgress). The numbers a capacity plan needs: state
    * ROWS track keys/windows/buffered-horizon rows — never total
    * events processed — and memory follows rows. `partitions` is the
    * operator's shuffle-partition count ([[drainPartitions]]' pick, or
    * the count a resumed checkpoint restored) and `storeInstances` the
    * state stores it opens per batch (partitions × stores per
    * partition — 4 for a stream-stream join). */
  final case class StateOpStats(operator: String, peakRows: Long,
                                peakMemBytes: Long, batches: Int,
                                partitions: Int, storeInstances: Int)

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
            ps.size,
            ps.map(_.numShufflePartitions).max.toInt,
            ps.map(_.numStateStoreInstances).max.toInt)
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
      val in = graft.lake.TempDirs.create("graft-stream-in")
      val one = spark.read.parquet(s"$sfDir/events.parquet")
      // Range-partition on ts (sampled boundaries, non-overlapping
      // ranges, ties co-located) instead of the old global ntile window
      // — the ntile forced the WHOLE staged table through one partition
      // and was the bench tail's WindowExec warning (r14 verdict #4).
      // One distributed write; file k = k-th event-time range because
      // Spark names range-partitioned outputs part-00000.. in partition
      // order.
      placeChronological(in, writeParts((1 to copies).map(_ => one).reduce(_ union _)
        .repartitionByRange(parts, col("ts"))
        .sortWithinPartitions(col("ts"))))
      in
    }

  /** The parquet files one write of `df` produces, in name order (=
    * partition order), in a fresh temp dir. */
  private def writeParts(df: DataFrame): Seq[Path] = {
    val tmp = graft.lake.TempDirs.create("graft-stream-parts")
    df.write.mode("overwrite").parquet(tmp.toString)
    val files = scala.util.Using.resource(Files.list(tmp))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString))
    require(files.nonEmpty, s"no parquet written to $tmp")
    files
  }

  /** Move `files` into `in` as part_001.. with strictly increasing
    * mtimes. FileStreamSource drains in MODIFICATION-TIME order, not
    * name order, and a parallel write finishes its tasks in arbitrary
    * order, so the stamps are what makes the drain chronological. */
  private def placeChronological(in: Path, files: Seq[Path]): Unit = {
    val base = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (p, i) =>
      val dst = in.resolve(f"part_${i + 1}%03d.parquet")
      Files.move(p, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + (i + 1) * 1000L))
    }
  }

  /** The sentinel control record's event_type. */
  private val SentinelType = "__sentinel__"

  /** One far-future SENTINEL row (key −1) with the staged events
    * schema, `interval` past the real max ts — the file-source analog
    * of a CDC feed's control/heartbeat record: it advances the final
    * watermark past every real row so watermark-buffered state
    * flushes deterministically at drain end. Consumers filter
    * `user_id >= 0` read-side. Returns the sentinel frame AND the max
    * REAL event-time in µs — the [[assertSentinelSurvived]] guard
    * needs the boundary the final watermark must clear. */
  private def sentinelEvents(spark: SparkSession, sfDir: String,
                             interval: Duration): (DataFrame, Long) = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val mx = ev.agg(max(col("ts")).as("__mx"))
    // boundary in the WATERMARK's µs space: the drains watermark on
    // Tables.eventTimeCol(ts), so convert through the same adapter
    // (the raw physical type varies: INT64 nanos / NTZ / TZ)
    val mxUs = graft.Tables
      .toEventTime(mx.select(col("__mx").as("ts")), "ts")
      .select(unix_micros(col("ts"))).head().getLong(0)
    (mx.select(ev.columns.toSeq.map {
      case "ts"         => (col("__mx") + lit(interval)).as("ts")
      case "event_id"   => lit(-1L).as("event_id")
      case "user_id"    => lit(-1L).as("user_id")
      case "event_type" => lit(SentinelType).as("event_type")
      case "value"      => lit(0.0d).as("value")
      case "props"      => lit("{}").as("props")
      case other        => lit(null).cast(ev.schema(other).dataType).as(other)
    }: _*), mxUs)
  }

  /** Sentinel landing dirs → max REAL (non-sentinel) event-time µs.
    * Registered at staging so every drain can enforce the
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

  /** How events reach a watermark-ordered replay drain — the two
    * arrival contracts every replay query runs under. A value fixes the
    * landing order of the real events, the watermark delay its drains
    * use, and how far past the last real event its sentinel control
    * record lands; [[stageArrival]] builds its memoized landing dir.
    *
    * COUPLING: the final watermark is realMax + sentinelInterval −
    * delay, so `delay` must be strictly less than `sentinelInterval`.
    * A delay at or past the interval leaves the final watermark at or
    * behind the last real event and [[assertSentinelSurvived]] fails
    * loud — correctly, the tail never flushed, but the failure is a
    * staging mismatch, not a dropped sentinel: widen the interval, not
    * the delay. ArrivalSpec pins this for every value. */
  sealed abstract class Arrival(val delay: Duration, val sentinelInterval: Duration) {
    /** The real events in landing order, one file per partition. */
    private[streaming] def arrivals(events: DataFrame): DataFrame
  }

  object Arrival {

    /** FULL DISORDER: 4 files hash-split on event_id, so every batch
      * spans the whole event-time range — the adversarial order. The
      * 45-day delay covers the real 30-day event range: nothing is ever
      * late mid-drain (no row is dropped), state buffers until the
      * sentinel, 46 days past the last real event, flushes it. */
    case object FullDisorder extends Arrival(Duration.ofDays(45), Duration.ofDays(46)) {
      private[streaming] def arrivals(events: DataFrame): DataFrame =
        events.repartition(4, col("event_id"))
    }

    /** BOUNDED JITTER — the arrival pattern a real Kafka CDC feed has:
      * each row ARRIVES at its event ts plus a deterministic per-event
      * jitter in [0, maxJitter), and the 6 files are chronological in
      * ARRIVAL order (range-partitioned, mtime-stamped), so event-time
      * disorder crosses batch boundaries but never exceeds the jitter.
      * With delay ≥ maxJitter no row is late, the watermark genuinely
      * ADVANCES mid-drain (buffered state flushes incrementally — the
      * eviction a full-range delay never exercises), and the sentinel,
      * 8 hours past the last real event, flushes the tail. */
    case object BoundedJitter extends Arrival(Duration.ofHours(7), Duration.ofHours(8)) {
      val maxJitter: Duration = Duration.ofHours(6)
      private[streaming] def arrivals(events: DataFrame): DataFrame = {
        // md5-derived jitter: deterministic, uniform-ish, RNG-free (the
        // repo's sampling convention)
        val jitterSecs = (conv(substring(md5(col("event_id").cast("string")),
          1, 8), 16, 10).cast("long") % maxJitter.getSeconds).cast("double")
        events.withColumn("__arrival",
            col("ts") + make_dt_interval(lit(0), lit(0), lit(0), jitterSecs))
          .repartitionByRange(6, col("__arrival"))
          .sortWithinPartitions(col("__arrival"))
          .drop("__arrival")
      }
    }

    val values: Seq[Arrival] = Seq(FullDisorder, BoundedJitter)
  }

  /** Stage the events table under `arrival`: its real events as
    * chronological part files, then the [[sentinelEvents]] control
    * record as the LAST file, with the dir's real-max boundary
    * registered for [[assertSentinelSurvived]]. READ-ONLY CONTRACT:
    * memoized and shared — see [[stageEvents]]. */
  def stageArrival(spark: SparkSession, sfDir: String, arrival: Arrival): Path =
    memoizedDir(s"arrival|$arrival|$sfDir", contentStamp(sfDir)) {
      val in = graft.lake.TempDirs.create("graft-stream-in")
      val files = writeParts(arrival.arrivals(spark.read.parquet(s"$sfDir/events.parquet")))
      val (sentinel, mxUs) = sentinelEvents(spark, sfDir, arrival.sentinelInterval)
      placeChronological(in, files ++ writeParts(sentinel.coalesce(1)))
      sentinelRealMaxUs.put(in, mxUs)
      in
    }

  /** Pre-build every landing-dir the CURRENT query surface drains
    * from (r22). Staging models "messages already in the topic" — a
    * harness cost the bench reports under its `staging` metric, not an
    * operator cost — but before r22 each distinct dir was lazily built
    * by whichever TIMED drain touched it first (~0.4–6 s landing
    * inside that query's single lifecycle rep). Every [[Arrival]] is
    * staged, so the replay drains' dirs cannot drift from the queries;
    * the copy/split/by-time combos mirror the registrations' call
    * sites, and a drift there is harmless — an unlisted combo is simply
    * built lazily by its first drain, exactly as before (the [stage]
    * stderr breadcrumb makes any such gap visible in the bench log).
    * Builds run on the caller's thread; callers parallelize across a
    * pool (guide §2.6 — independent jobs backfill each other's
    * stragglers). */
  def prestage(spark: SparkSession, sfDir: String): Unit = {
    stageEvents(sfDir, 1); stageEvents(sfDir, 2)
    stageEventsSplit(spark, sfDir, 3); stageEventsSplit(spark, sfDir, 4)
    stageEventsByTime(spark, sfDir, 3); stageEventsByTime(spark, sfDir, 4)
    Arrival.values.foreach(stageArrival(spark, sfDir, _))
  }

  /** Unbounded read over the landing dir (T1 source stage).
    * maxFilesPerTrigger splits the drain into multiple micro-batches —
    * needed to genuinely exercise cross-batch state. */
  def fileSource(spark: SparkSession, inDir: Path,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame =
    sources(spark, inDir, maxFilesPerTrigger)()

  /** [[fileSource]]'s reader: each call of the returned function opens
    * one more independent source over `inDir` (a self-join reads it
    * twice), and the schema is read once for all of them. A streaming
    * file source needs an explicit schema; it is derived from the files
    * actually staged (footer-only batch read) so `ts` tracks whatever
    * physical encoding the testdata generator wrote — a hard-coded LongType
    * here silently fed raw micros into the ns->us division when the
    * testdata switched to timestamp[us] (VERDICT r11). */
  private def sources(spark: SparkSession, inDir: Path,
                      maxFilesPerTrigger: Option[Int]): () => DataFrame = {
    val r = spark.readStream.schema(spark.read.parquet(inDir.toString).schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    () => r.parquet(inDir.toString)
  }

  /** Progress entries retained per query. The engine keeps only this
    * many recentProgress entries; [[recordStats]] computes PEAKS over
    * them, so a drain with more micro-batches than the retention would
    * silently under-report early batches (ADVICE r10). Raised far
    * above any drain in this suite and asserted in recordStats. */
  private val ProgressRetention = 10000

  /** Landing bytes one drain partition carries per micro-batch. The
    * events parquet holds ~22 bytes per event, so this is ~6,000 events
    * of per-batch stateful work per partition. Measured on both sides
    * of the choice: every multi-file sf0.01 drain admits ≤ 68 KB per
    * trigger and runs fastest on one partition (`stream_drain`), while
    * the sf0.1 headline drains admit 320–450 KB and run faster split
    * 3–4 ways than on one. Spark's 64 MiB batch advisory size would
    * give every drain here one partition. Both sides were measured while
    * every store commit still forked `chmod`/`readlink` processes (see
    * [[drainPartitions]]), so the divisor is due a re-measurement. */
  private[streaming] val DrainBytesPerPartition: Long = 128L * 1024

  /** Shuffle/state partition count for a drain over landing dir `in`,
    * sized to what one micro-batch can carry rather than to the
    * machine (Presto at Scale, ICDE 2022): the on-disk bytes one
    * trigger admits — the `maxFilesPerTrigger` largest files, or the
    * whole dir without a limit — times the number of `sources` reading
    * `in` (2 for a self-join), divided by [[DrainBytesPerPartition]],
    * rounded up and clamped to [1, defaultParallelism]. Every stateful
    * operator opens one state store per partition per batch (four for
    * a stream-stream join), and each commits — a delta or changelog
    * file written, checksummed and renamed into the checkpoint — even
    * when it holds a handful of keys: spreading a KB-sized micro-batch
    * over many stores pays one commit per store for one store's worth
    * of state. Most of that per-store cost used to be forked
    * `chmod`/`readlink` processes that `graft.lake.NoForkLocalFs`
    * now avoids: over the traced `stream_drain` run's 20 batches
    * (seed 1, 4-cpu VM) the summed store commit fell from 4.7 s to
    * 0.71 s. */
  def drainPartitions(spark: SparkSession, in: Path,
                      maxFilesPerTrigger: Option[Int], sources: Int): Int = {
    // the file source skips hidden names (_SUCCESS, .crc) the same way
    val sizes = scala.util.Using.resource(Files.list(in))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(Files.size).toSeq).sorted(Ordering[Long].reverse)
    val admitted = maxFilesPerTrigger.fold(sizes)(sizes.take).sum * sources
    val wanted = (admitted + DrainBytesPerPartition - 1) / DrainBytesPerPartition
    math.max(1L, math.min(wanted, spark.sparkContext.defaultParallelism.toLong)).toInt
  }

  /** The one drain lifecycle every helper runs — the reference's
    * readStream → transform → sink → start → awaitTermination:
    *
    *  - `plan` builds the streaming frame from a source factory; each
    *    call opens one more source over `in` (a self-join calls it
    *    twice), all sharing one schema read;
    *  - the run gets an ISOLATED session (same SparkContext/SharedState,
    *    fresh SQLConf — builder-time configs like nanosAsLong, UTC and
    *    AQE carry over via initialSessionOptions), so per-run conf never
    *    touches the shared one. Verify executes queries CONCURRENTLY on
    *    one shared session, and a set/restore toggle on shared conf
    *    races across threads: that is exactly how q188 dropped out of
    *    CORRECTNESS_r09 (another run's `finally` restore landed between
    *    q188's provider set and its stream start, and
    *    `transformWithState` refused the HDFS provider);
    *  - with `sized`, the plan's shuffle/state partitions are
    *    [[drainPartitions]] over `in` times the sources opened. Spark
    *    restores `spark.sql.shuffle.partitions` from a checkpoint's
    *    offset log, so a resumed drain keeps the count it started with;
    *    the per-batch drains are unsized (they open no state store, and
    *    the batch transforms inside their foreachBatch keep the shared
    *    session's core count, [[graft.GraftSession]]);
    *  - the state store is picked from the plan:
    *    [[Stateful.stateStoreConf]] (RocksDB + changelog checkpointing
    *    exactly when the plan holds a `transformWithState`);
    *  - `sink` attaches the foreachBatch body or the memory sink, given
    *    the run's checkpoint path — also the appId of its exactly-once
    *    (appId, batchId) sink commits;
    *  - after termination the run's progress lands in
    *    [[lastRunProgress]]/[[lastRunStateStats]] and a sentinel-staged
    *    `in` is held to [[assertSentinelSurvived]].
    *
    * Returns the run's session (the memory sink's table lives there). */
  private def drain(spark: SparkSession, in: Path, maxFiles: Option[Int],
                    mode: String = "append", sized: Boolean = true)(
      plan: (() => DataFrame) => DataFrame)(
      sink: (DataStreamWriter[Row], String) => DataStreamWriter[Row]): SparkSession = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      ProgressRetention.toString)
    val source = sources(sess, in, maxFiles)
    var opened = 0
    val df = plan { () => opened += 1; source() }
    if (sized) sess.conf.set("spark.sql.shuffle.partitions",
      drainPartitions(spark, in, maxFiles, opened).toString)
    Stateful.stateStoreConf(df).foreach { case (k, v) => sess.conf.set(k, v) }
    val ckpt = graft.lake.TempDirs.create("graft-stream-ckpt").toString
    val q = sink(df.writeStream, ckpt)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordStats(q)
    assertSentinelSurvived(in, q)
    sess
  }

  /** Landing dir of an events drain: `parts` chronological files, else
    * `parts` hash-split files, else the whole events table — `copies`
    * times over in each case. */
  private def landing(spark: SparkSession, sfDir: String, copies: Int,
                      splitParts: Option[Int],
                      chronological: Boolean = false): Path =
    if (chronological) stageEventsByTime(spark, sfDir, splitParts.getOrElse(3), copies)
    else splitParts.fold(stageEvents(sfDir, copies))(stageEventsSplit(spark, sfDir, _, copies))

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
    * history. */
  def appendRunTable(spark: SparkSession, sfDir: String, copies: Int = 1,
                     maxFilesPerTrigger: Option[Int] = None)(
      transform: DataFrame => DataFrame): LakeTable = {
    val sink = lakeSink(spark)
    drain(spark, stageEvents(sfDir, copies), maxFilesPerTrigger)(src =>
      transform(src()))((w, appId) => w.foreachBatch(batchWriter(sink, appId)))
    sink
  }

  /** [[appendRunTable]]'s final sink contents. */
  def appendRun(spark: SparkSession, sfDir: String, copies: Int = 1,
                maxFilesPerTrigger: Option[Int] = None)(
      transform: DataFrame => DataFrame): DataFrame =
    appendRunTable(spark, sfDir, copies, maxFilesPerTrigger)(transform)
      .snapshot()

  /** Drain landing dir `in` one file per trigger, handing each
    * micro-batch and its batchId to `body` inside foreachBatch — the
    * reference's sink shape for a body that owns its writes (e.g. an
    * idempotent [[LakeTable.mergeBatch]] keyed by the batchId). */
  def eachBatchRun(spark: SparkSession, in: Path)(
      body: (DataFrame, Long) => Unit): Unit =
    drain(spark, in, Some(1), sized = false)(_())((w, _) =>
      w.foreachBatch((batch: Dataset[Row], batchId: Long) => body(batch.toDF(), batchId)))

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
      transform: DataFrame => DataFrame): DataFrame =
    perBatchRun(spark, landing(spark, sfDir, copies, splitParts),
      maxFilesPerTrigger)((batch, _) => transform(batch))

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
      transform: (DataFrame, LakeTable) => DataFrame): DataFrame =
    perBatchRun(spark, landing(spark, sfDir, 1, splitParts),
      maxFilesPerTrigger)(transform)

  private def perBatchRun(spark: SparkSession, in: Path, maxFiles: Option[Int])(
      transform: (DataFrame, LakeTable) => DataFrame): DataFrame = {
    val sink = lakeSink(spark)
    drain(spark, in, maxFiles, sized = false)(_())((w, appId) =>
      w.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink.commitBatch(transform(batch.toDF(), sink), appId, batchId); ()
      })
    sink.snapshot()
  }

  /** [[updateRun]] returning the versioned SINK TABLE instead of its
    * final contents — every micro-batch is one commit, so specs can
    * read per-batch emission timing straight from the table history
    * (the r17 eviction pin: bounded-disorder drains must emit
    * MID-drain, not everything at the final flush). */
  def updateRunTable(spark: SparkSession, sfDir: String,
                     splitParts: Option[Int] = None,
                     copies: Int = 1,
                     chronological: Boolean = false,
                     inDir: Option[Path] = None)(
      transform: DataFrame => DataFrame): LakeTable = {
    // chronological: file k = the k-th event-time range, drained one
    // file per trigger — the arrival order a production CDC feed has.
    // inDir: caller-staged landing dir (sentinel drains) — always
    // drained one file per trigger.
    val in = inDir.getOrElse(landing(spark, sfDir, copies, splitParts, chronological))
    val maxFiles =
      if (chronological || inDir.isDefined) Some(1)
      else splitParts.map(_ => 1)
    val sink = lakeSink(spark)
    drain(spark, in, maxFiles, "update")(src => transform(src()))((w, appId) =>
      w.foreachBatch(batchWriter(sink, appId)))
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
    * Enforced on every drain over a dir staged by [[stageArrival]] —
    * zero call-site opt-in, so a consumer that bypasses [[replayRun]]
    * (which keeps the sentinel by construction) inherits the loud
    * failure. */
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

  /** The ordered-replay drain: events staged under `arrival`, one file
    * per trigger, replayed per user through `processor`
    * ([[Stateful.replay]]). The chain every replay query shares:
    * event time, watermark `arrival.delay`, rows kept where `keep`
    * holds OR the row is the sentinel — Catalyst pushes this filter
    * BELOW the watermark node, so a sentinel filtered out here would
    * never advance the final watermark and the buffered tail would
    * never flush — then the `(user_id, event_type, ts µs, event_id)`
    * replay row keyed by user. Emissions land in the returned sink
    * table under the names `cols`; every micro-batch is one commit.
    * The sentinel's own emissions carry user −1 (read sides filter
    * `user_id >= 0` where the face emits per-user rows). */
  def replayRun[O](spark: SparkSession, sfDir: String, arrival: Arrival, keep: Column)(
      processor: Stateful.WatermarkOrderedReplay[_, O], cols: String*): LakeTable =
    updateRunTable(spark, sfDir, inDir = Some(stageArrival(spark, sfDir, arrival))) { stream =>
      import spark.implicits._
      Stateful.replay(graft.Tables.toEventTime(stream)
          .withWatermark("ts", s"${arrival.delay.getSeconds} seconds")
          .filter(keep || (col("event_type") === SentinelType))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")), col("event_id"))
          .as[(Long, String, Long, Long)].groupByKey(_._1), processor)
        .toDF(cols: _*)
    }

  /** Update-mode drain for arbitrary-stateful transforms
    * (`flatMapGroupsWithState`/`transformWithState` emit updated rows,
    * not appends): every micro-batch's emissions land in the sink via
    * foreachBatch; returns the final sink contents. */
  def updateRun(spark: SparkSession, sfDir: String,
                splitParts: Option[Int] = None,
                copies: Int = 1,
                chronological: Boolean = false,
                inDir: Option[Path] = None)(
      transform: DataFrame => DataFrame): DataFrame =
    updateRunTable(spark, sfDir, splitParts, copies, chronological, inDir)(transform)
      .snapshot()

  /** Stream-stream inner join (engine extension per SURVEY §2.9): two
    * independent unbounded sources over the same landing dir, each
    * watermarked by the caller, joined with an equi + event-time-range
    * condition, drained through a foreachBatch append sink. */
  def joinRun(spark: SparkSession, sfDir: String,
              copies: Int = 1,
              maxFilesPerTrigger: Option[Int] = None,
              inDir: Option[Path] = None)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sink = lakeSink(spark)
    drain(spark, inDir.getOrElse(stageEvents(sfDir, copies)), maxFilesPerTrigger)(src =>
      join(src(), src()))((w, appId) => w.foreachBatch(batchWriter(sink, appId)))
    sink.snapshot()
  }

  /** Stateful streaming aggregation (engine extension per SURVEY §2.9):
    * run `agg` (typically watermark + window groupBy) over the staged
    * stream into a complete-mode memory sink and return the final
    * table. The sink's table is a temp view of the run's own session,
    * so one name serves every run. */
  def aggRun(spark: SparkSession, sfDir: String,
             splitParts: Option[Int] = None,
             copies: Int = 1)(
      agg: DataFrame => DataFrame): DataFrame = {
    val name = "graft_stream_agg"
    drain(spark, landing(spark, sfDir, copies, splitParts), splitParts.map(_ => 1),
      "complete")(src => agg(src()))((w, _) => w.format("memory").queryName(name))
      .table(name)
  }
}
