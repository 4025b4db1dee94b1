package perfbench

import java.lang.reflect.InvocationTargetException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, Future, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}

/** One benchmark run, in a JVM of its own launched by `perfbench/run.py`
  * (see perfbench/README.md for the workloads and metrics).
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 --cpus C
  *            --data DIR --launch-us T --out FILE
  *   record   --data DIR --cpus C --out FILE
  *   selftest --data DIR --cpus C --metrics FILE
  *
  * A run is one closed-loop client: set up the session and the
  * workload's staged artifacts, then run the seed's op list back to
  * back. Every layer is timed from outside, around its public entry
  * point; nothing in the engine is changed or configured for the
  * benchmark. */
object Main {

  /** @param classes the frozen class lists (lists/<class>.tsv) it draws from
    * @param staging the staging families built before the first op
    * @param warmup  the untimed warm-up query, one of the workload's kind
    * @param opS     mean op latency in benchmark runs on a 4-cpu box: a
    *                run holds round(seconds / opS) ops, so it measures
    *                about `seconds` there
    * @param band    queries a seed may draw from each stratum */
  final case class Workload(name: String, classes: Seq[String],
                            staging: Seq[String], warmup: String, opS: Double,
                            band: Int)

  val Workloads: Seq[Workload] = Seq(
    Workload("batch", Seq("batch_small", "batch_heavy"), Nil, "q01_cast_project",
      opS = 2.2, band = 3),
    // Drains that share a reference latency differ by up to 1.6x in a
    // run, and a run holds only a handful of them: a seeded draw of 5
    // moved the median op by a quarter between seeds. Every seed runs
    // the middle drain of each stratum.
    Workload("stream_drain", Seq("stream_drain"), Seq("landing_dirs"),
      "q42_stream_append", opS = 4.2, band = 1))

  val Classes: Seq[String] = Workloads.flatMap(_.classes)

  /** Staging entry points, looked up by name so a tree that drops one
    * still builds the benchmark: the work then shows in the ops. */
  val StagingCalls: Seq[(String, String, String)] = Seq(
    ("landing_dirs", "graft.streaming.MicroBatch", "prestage"))

  val Modules: Seq[String] = Seq("Relational", "TextMiningQ", "DedupQ",
    "SimilarityQ", "TextAnalysisQ", "StreamingQ", "GridQ", "ParityQ",
    "ExtendedQ", "SurfaceQ", "CorpusQ", "R14Q", "R15Q", "R15bQ", "R16Q",
    "R17Q", "R18Q", "R19Q", "R20Q")

  final case class Ref(rows: Long, hash: BigDecimal, refS: Double)

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code = mode match {
      case "run" => run(a)
      case "record" => record(a)
      case "selftest" => SelfTest.run(a)
      case _ => System.err.println(s"usage: perfbench.Main run|record|selftest ..."); 2
    }
    System.exit(code)
  }

  // ------------------------------------------------------------------ inputs

  def loadList(benchDir: Path, cls: String): Seq[String] =
    Files.readAllLines(benchDir.resolve(s"lists/$cls.tsv"), UTF_8).asScala
      .map(_.split("\t")(0)).filter(_.nonEmpty).toSeq

  def loadRefs(file: Path): Map[String, Ref] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      f(0) -> Ref(f(1).toLong, BigDecimal(f(2)), f(3).toDouble)
    }.toMap

  /** The seed's op list: sort the classes by reference latency, cut
    * them into `k` equal strata, and draw one query from the `band` at
    * the middle of each stratum. Every seed's draw then holds near-equal
    * latencies, so the end-to-end figures compare across seeds, while
    * different seeds still run different queries. Ops run cheapest
    * stratum first: a fresh JVM speeds up for minutes, and a fixed
    * order puts that drift on the same strata every run. */
  def sample(cls: Seq[String], refS: String => Double, k: Int, band: Int,
             seed: Long): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    val sorted = cls.sortBy(n => (refS(n), n)).toIndexedSeq
    val n = math.min(k, sorted.size)
    (0 until n).map { i =>
      val (lo, hi) = (i * sorted.size / n, (i + 1) * sorted.size / n)
      val b = math.min(band, hi - lo)
      sorted(lo + (hi - lo - b) / 2 + rnd.nextInt(b))
    }
  }

  // ------------------------------------------------------------ the op steps

  /** The execute step: row count plus an order-independent sum of a
    * 64-bit hash over every output column, so no column can be pruned
    * away. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = r.columns.toSeq.map(col)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = r.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).collect()(0)
    (row.getLong(0),
      if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
  }

  private def staticCall(cls: String, method: String, types: Class[_]*)
      : Option[Seq[AnyRef] => AnyRef] =
    try {
      val m = Class.forName(cls).getMethod(method, types: _*)
      Some(args => try m.invoke(null, args: _*) catch {
        case e: InvocationTargetException => throw e.getCause
      })
    } catch { case _: ReflectiveOperationException => None }

  /** query name -> its `graft.queries` module, looked up by name like the
    * staging entry points. */
  def moduleOf(): Map[String, String] = Modules.flatMap { m =>
    try {
      val obj = Class.forName(s"graft.queries.$m$$").getField("MODULE$").get(null)
      obj.getClass.getMethod("queries").invoke(obj)
        .asInstanceOf[scala.collection.Map[String, _]].keys.map(_ -> m)
    } catch { case _: ReflectiveOperationException => Nil }
  }.toMap

  /** Progress of the calling thread's most recent drain, if the tree
    * exposes it. */
  val lastRunProgress: () => Seq[StreamingQueryProgress] =
    staticCall("graft.streaming.MicroBatch", "lastRunProgress")
      .map(f => () => f(Nil).asInstanceOf[Seq[StreamingQueryProgress]])
      .getOrElse(() => Nil)

  // ------------------------------------------------------------------ set-up

  final case class StagingTask(name: String, body: () => Unit)

  /** The workload's staging families; one whose entry point the tree no
    * longer has is left out (and named on stderr). */
  def stagingTasks(families: Seq[String], spark: SparkSession, data: String)
      : Seq[StagingTask] = families.flatMap { f =>
    val (_, cls, method) = StagingCalls.find(_._1 == f).get
    val call = staticCall(cls, method, classOf[SparkSession], classOf[String])
    if (call.isEmpty) System.err.println(s"[perfbench] no staging entry point $cls.$method")
    call.map(c => StagingTask(f, () => { c(Seq(spark, data)); () }))
  }

  final case class Staged(name: String, startUs: Long, endUs: Long) {
    def seconds: Double = (endUs - startUs) / 1e6
  }

  /** Builds the staging families concurrently (the engine's own bench
    * runs them on a 4-thread pool). If one fails, every other family is
    * cancelled and awaited before this returns: its Spark jobs are
    * cancelled by job group, the pool is interrupted and drained, and
    * the call waits until Spark reports no active job, so nothing left
    * over from set-up runs beside the first timed op. */
  def stage(spark: SparkSession, tasks: Seq[StagingTask], traced: Boolean)
      : Either[Throwable, Seq[Staged]] = {
    if (tasks.isEmpty) return Right(Nil)
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(math.min(4, tasks.size))
    val ecs = new ExecutorCompletionService[Staged](pool)
    val futures: Seq[Future[Staged]] = tasks.map { t =>
      ecs.submit(new Callable[Staged] {
        def call(): Staged = {
          sc.setJobGroup(s"perfbench-setup-${t.name}", t.name, interruptOnCancel = true)
          if (traced) sc.setLocalProperty(Tracer.SpanKey, s"setup/${t.name}")
          val s = Span.nowUs()
          try { t.body(); Staged(t.name, s, Span.nowUs()) }
          finally { sc.clearJobGroup(); sc.setLocalProperty(Tracer.SpanKey, null) }
        }
      })
    }
    pool.shutdown()
    val done = mutable.ArrayBuffer[Staged]()
    var failure: Option[Throwable] = None
    while (failure.isEmpty && done.size < tasks.size) {
      try done += ecs.take().get()
      catch { case e: ExecutionException => failure = Some(e.getCause) }
    }
    failure match {
      case None => Right(done.toSeq.sortBy(_.startUs))
      case Some(e) =>
        tasks.foreach(t => sc.cancelJobGroup(s"perfbench-setup-${t.name}"))
        pool.shutdownNow()
        pool.awaitTermination(120, TimeUnit.SECONDS)
        futures.foreach { f =>
          if (!f.isDone) f.cancel(true)
          else try f.get() catch { case NonFatal(_) => () }
        }
        awaitNoActiveJobs(spark)
        Left(e)
    }
  }

  def awaitNoActiveJobs(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 60e9.toLong
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  // ---------------------------------------------------------------- the loop

  final case class Op(index: Int, name: String, startUs: Long,
                      buildS: Double, execS: Double, error: Option[String],
                      ioRead: Long = 0L, ioWrite: Long = 0L,
                      progress: Seq[StreamingQueryProgress] = Nil) {
    def latency: Double = buildS + execS
  }

  def procIo(): (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
  }

  /** (busy, steal) jiffies of the whole box from /proc/stat: steal is
    * time the hypervisor gave this VM's cpus to someone else. */
  def boxJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** CPU seconds this process has used (utime + stime, 100 Hz ticks). */
  def processCpuS(): Double = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Runs one op: build (`SparkEntry.queries(name)(spark, data)`), then
    * execute (the fingerprint), then the correctness check. */
  def runOp(spark: SparkSession, query: (SparkSession, String) => DataFrame,
            data: String, ref: Option[Ref], traced: Boolean,
            index: Int, name: String): Op = {
    val sc = spark.sparkContext
    val startUs = Span.nowUs()
    val t0 = System.nanoTime()
    var t1 = 0L
    var error: Option[String] = None
    try {
      if (traced) sc.setLocalProperty(Tracer.SpanKey, s"op/$index/build")
      val df = query(spark, data)
      t1 = System.nanoTime()
      if (traced) sc.setLocalProperty(Tracer.SpanKey, s"op/$index/execute")
      val (rows, hash) = fingerprint(df)
      ref.filter(r => r.rows != rows || r.hash != hash).foreach { r =>
        error = Some(s"fingerprint ($rows, $hash) != expected (${r.rows}, ${r.hash})")
      }
    } catch {
      case NonFatal(e) =>
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    } finally sc.setLocalProperty(Tracer.SpanKey, null)
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    Op(index, name, startUs, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  final case class Outcome(metrics: Seq[(String, Double)], ops: Seq[Op],
                           header: Seq[(String, Any)], spans: Seq[Span])

  /** Everything after JVM launch: session, warm-up, staging, then the
    * ops in `names` back to back. Returns the staging failure instead
    * if set-up failed. */
  def execute(w: Workload, names: Seq[String], traced: Boolean,
              cpus: Int, data: String, refs: Map[String, Ref], launchUs: Long,
              session: Option[SparkSession] = None): Either[Throwable, Outcome] = {
    val tracer = if (traced) Some(new Tracer) else None
    val sessionStartUs = Span.nowUs()
    val spark = session.getOrElse(GraftSession.local(cpus.toString))
    tracer.foreach(spark.sparkContext.addSparkListener)
    try {
      val sessionEndUs = Span.nowUs()
      val queries = SparkEntry.queries
      if (traced) spark.sparkContext.setLocalProperty(Tracer.SpanKey, "warmup")
      fingerprint(queries(w.warmup)(spark, data))
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
      val warmEndUs = Span.nowUs()
      val staged = stage(spark, stagingTasks(w.staging, spark, data), traced) match {
        case Left(e) => return Left(e)
        case Right(s) => s
      }

      val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = mx.map(_.getCollectionTime).sum

      // drain helpers keep their last run per thread: an op that ran no
      // drain would otherwise report the previous op's batches
      var lastProgress: Seq[StreamingQueryProgress] = Nil
      val (cpu0, box0) = (processCpuS(), boxJiffies())
      val ops = names.zipWithIndex.map { case (n, i) =>
        val io0 = if (traced) procIo() else (0L, 0L)
        val op = runOp(spark, queries(n), data, refs.get(n), traced, i, n)
        if (!traced) op
        else {
          val io1 = procIo()
          val p = lastRunProgress()
          val fresh = if (p eq lastProgress) Nil else p
          lastProgress = p
          op.copy(ioRead = io1._1 - io0._1, ioWrite = io1._2 - io0._2, progress = fresh)
        }
      }
      val endUs = Span.nowUs()
      val (cpu1, box1) = (processCpuS(), boxJiffies())

      val lat = ops.map(_.latency)
      val wallS = (endUs - ops.head.startUs) / 1e6
      val e2e = Seq(
        "setup_s" -> (ops.head.startUs - launchUs) / 1e6,
        "wall_s" -> wallS,
        "op_p50_s" -> median(lat))
      // the highest percentile with at least ten samples beyond it
      val tail = if (lat.size <= 10) Nil else {
        val pct = 100 * (lat.size - 10) / lat.size
        Seq("op_tail_percentile" -> pct, "op_tail_s" -> percentile(lat, pct))
      }
      val header = Seq[(String, Any)](
        "sample" -> names,
        "op_samples" -> lat.size,
        "ops_cpu_s" -> (cpu1 - cpu0),
        "ops_steal_frac" -> (box1._2 - box0._2).toDouble /
          math.max(1L, box1._1 - box0._1 + box1._2 - box0._2),
        "peak_rss_mb" -> vmHwmMb()) ++ tail ++ Seq(
        "staging_s" -> staged.map(s => s.name -> s.seconds).toMap)
      val (layers, spans) = tracer match {
        case None => (Nil, Nil)
        case Some(tr) =>
          org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
          val log = new SpanLog
          val m = perLayer(w, tr, log, ops, staged, cpus,
            launchUs, sessionStartUs, sessionEndUs, warmEndUs, endUs,
            (mx.map(_.getCollectionTime).sum - gc0) / 1e3,
            heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, wallS)
          (m, log.spans)
      }
      Right(Outcome(e2e ++ layers, ops, header, spans))
    } finally {
      tracer.foreach(spark.sparkContext.removeSparkListener)
      if (session.isEmpty) spark.stop()
    }
  }


  /** The traced run's per-layer metrics: sums over the run's ops,
    * set-up figures, and peaks and percentiles over the run. */
  def perLayer(w: Workload, tr: Tracer, spans: SpanLog, ops: Seq[Op],
               staged: Seq[Staged], cpus: Int,
               launchUs: Long, sessionStartUs: Long, sessionEndUs: Long,
               warmEndUs: Long, endUs: Long, gcS: Double, peakHeapMb: Double,
               wallS: Double): Seq[(String, Double)] = {
    // ---- span tree: run > setup > (session, warmup, staging > jobs);
    //      run > measure > op > (build > (microbatch > jobs, jobs), execute > jobs)
    val runId = spans.add(0, "run", w.name, launchUs, endUs)
    val setupId = spans.add(runId, "setup", w.name, launchUs, ops.head.startUs)
    spans.add(setupId, "session", "GraftSession.local", sessionStartUs, sessionEndUs)
    val warmId = spans.add(setupId, "warmup", w.warmup, sessionEndUs, warmEndUs)
    tr.jobSpans("warmup").foreach { case (id, s, e) => spans.add(warmId, "job", s"job $id", s, e) }
    staged.foreach { st =>
      val sid = spans.add(setupId, "staging", st.name, st.startUs, st.endUs)
      tr.jobSpans(s"setup/${st.name}").foreach { case (id, s, e) =>
        spans.add(sid, "job", s"job $id", s, e) }
    }
    val measureId = spans.add(runId, "measure", w.name, ops.head.startUs, endUs)
    ops.foreach { op =>
      val opEnd = op.startUs + ((op.buildS + op.execS) * 1e6).toLong
      val buildEnd = op.startUs + (op.buildS * 1e6).toLong
      val opId = spans.add(measureId, "op", op.name, op.startUs, opEnd)
      val bId = spans.add(opId, "build", op.name, op.startUs, buildEnd)
      val eId = spans.add(opId, "execute", op.name, buildEnd, opEnd)
      val batches = op.progress.map { p =>
        val s = java.time.Instant.parse(p.timestamp)
        val sUs = s.getEpochSecond * 1000000L + s.getNano / 1000
        (sUs, sUs + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000L)
      }.map { case (s, e) => (spans.add(bId, "microbatch", op.name, s, e), s, e) }
      tr.jobSpans(s"op/${op.index}/build").foreach { case (id, s, e) =>
        val parent = batches.find { case (_, bs, be) => s >= bs && s < be }
          .map(_._1).getOrElse(bId)
        spans.add(parent, "job", s"job $id", s, e)
      }
      tr.jobSpans(s"op/${op.index}/execute").foreach { case (id, s, e) =>
        spans.add(eId, "job", s"job $id", s, e) }
    }
    val self = Tracer.selfTimes(spans.spans)
    def selfS(kind: String) = s"self.${kind}_s" -> self.getOrElse(kind, 0.0)

    // ---- counters
    val b = tr.phaseCounters("build")
    val x = tr.phaseCounters("execute")
    def both(f: PhaseCounters => Long): Double = (f(b) + f(x)).toDouble
    val execS = ops.map(_.execS).sum
    val byModule = moduleOf()
    val moduleS = ops.groupBy(o => byModule.getOrElse(o.name, "")).map {
      case (m, os) => m -> os.map(_.latency).sum
    }
    val progress = ops.flatMap(_.progress)
    val drains = ops.filter(_.progress.nonEmpty)
    def dur(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    val stateOps = progress.flatMap(_.stateOperators.toSeq)
    def rocks(key: String): Double =
      stateOps.map(s => s.customMetrics.getOrDefault(key, 0L).toDouble).sum
    val inputRows = progress.map(_.numInputRows.toDouble).sum
    val stagedS = staged.map(s => s.name -> s.seconds).toMap

    Seq[(String, Double)](
      "session.start_s" -> (sessionEndUs - sessionStartUs) / 1e6,
      "session.warmup_s" -> (warmEndUs - sessionEndUs) / 1e6) ++
    StagingCalls.map { case (f, _, _) => s"staging.${f}_s" -> stagedS.getOrElse(f, 0.0) } ++
    Seq(
      "queries.build_s" -> ops.map(_.buildS).sum,
      "queries.build_jobs" -> b.jobs.toDouble) ++
    Modules.map(m => s"queries.${m}_s" -> moduleS.getOrElse(m, 0.0)) ++
    Seq(
      "exec.s" -> execS,
      "exec.jobs" -> x.jobs.toDouble,
      "exec.stages" -> x.stages.toDouble,
      "exec.tasks" -> x.tasks.toDouble,
      "exec.sched_delay_s" -> x.schedDelayMs / 1e3,
      "exec.task_run_s" -> x.taskRunMs / 1e3,
      "exec.task_cpu_s" -> x.taskCpuNs / 1e9,
      "exec.failed_tasks" -> both(_.failedTasks),
      "exec.core_busy_frac" ->
        (if (execS > 0) x.taskRunMs / 1e3 / (execS * cpus) else 0.0),
      "shuffle.write_bytes" -> both(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> both(_.shuffleReadBytes),
      "shuffle.fetch_wait_s" -> both(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> both(_.spillBytes),
      "scan.input_bytes" -> both(_.inputBytes),
      "scan.input_rows" -> both(_.inputRows),
      "stream.batches" -> progress.size.toDouble,
      "stream.empty_batches" -> progress.count(_.numInputRows == 0).toDouble,
      "stream.batch_p50_ms" -> median(progress.map(dur(_, "triggerExecution"))),
      "stream.batch_max_ms" ->
        (if (progress.isEmpty) 0.0 else progress.map(dur(_, "triggerExecution")).max),
      "stream.addBatch_ms" -> progress.map(dur(_, "addBatch")).sum,
      "stream.queryPlanning_ms" -> progress.map(dur(_, "queryPlanning")).sum,
      "stream.walCommit_ms" -> progress.map(dur(_, "walCommit")).sum,
      "stream.commitOffsets_ms" -> progress.map(dur(_, "commitOffsets")).sum,
      "stream.latestOffset_ms" -> progress.map(dur(_, "latestOffset")).sum,
      "stream.state_commit_ms" -> stateOps.map(_.commitTimeMs.toDouble).sum,
      "stream.state_rows_peak" ->
        (if (stateOps.isEmpty) 0.0 else stateOps.map(_.numRowsTotal.toDouble).max),
      "stream.state_mem_peak_bytes" ->
        (if (stateOps.isEmpty) 0.0 else stateOps.map(_.memoryUsedBytes.toDouble).max),
      "stream.input_rows" -> inputRows,
      "stream.events_per_s" -> {
        val drainS = drains.map(_.buildS).sum
        if (drainS > 0) inputRows / drainS else 0.0
      },
      "stream.rocksdb.commit_checkpoint_ms" -> rocks("rocksdbCommitCheckpointLatency"),
      "stream.rocksdb.commit_compact_ms" -> rocks("rocksdbCommitCompactLatency"),
      "stream.rocksdb.commit_flush_ms" -> rocks("rocksdbCommitFlushLatency"),
      "stream.rocksdb.commit_file_sync_ms" -> rocks("rocksdbCommitFileSyncLatencyMs"),
      "stream.rocksdb.changelog_commit_ms" -> rocks("rocksdbChangeLogWriterCommitLatencyMs"),
      "stream.rocksdb.save_zip_ms" -> rocks("rocksdbSaveZipFilesLatencyMs"),
      "stream.rocksdb.load_ms" -> rocks("rocksdbLoadLatencyMs"),
      "stream.rocksdb.bytes_copied" -> rocks("rocksdbBytesCopied"),
      "stream.rocksdb.bytes_written" -> rocks("rocksdbTotalBytesWritten"),
      "io.read_bytes" -> ops.map(_.ioRead.toDouble).sum,
      "io.write_bytes" -> ops.map(_.ioWrite.toDouble).sum,
      "jvm.gc_s" -> gcS,
      "jvm.peak_heap_mb" -> peakHeapMb,
      "jvm.peak_rss_mb" -> vmHwmMb(),
      selfS("setup"),
      selfS("staging"),
      selfS("warmup"),
      selfS("measure"),
      selfS("op"),
      selfS("build"),
      selfS("execute"),
      selfS("microbatch"),
      selfS("job"),
      "trace.wall_s" -> wallS)
  }

  // -------------------------------------------------------------------- modes

  def benchDir: Path = Paths.get(sys.props.getOrElse("perfbench.dir", "perfbench"))

  def run(a: Map[String, String]): Int = {
    val w = Workloads.find(_.name == a("workload"))
      .getOrElse { System.err.println(s"unknown workload ${a("workload")}"); return 2 }
    val refs = loadRefs(Paths.get(a("refs")))
    val cls = w.classes.flatMap(loadList(benchDir, _))
    val missing = cls.filterNot(refs.contains)
    if (missing.nonEmpty) {
      System.err.println(s"no reference fingerprint for ${missing.mkString(",")}")
      return 2
    }
    val k = math.max(1, math.round(a("seconds").toDouble / w.opS).toInt)
    val names = sample(cls, n => refs(n).refS, k, w.band, a("seed").toLong)
    execute(w, names, a("trace") == "1", a("cpus").toInt,
      a("data"), refs, a("launch-us").toLong) match {
      case Left(e) =>
        System.err.println(s"[perfbench] staging failed; run aborted before the first op: $e")
        3
      case Right(o) =>
        import Json.Obj
        val failures = o.ops.filter(_.error.nonEmpty)
        Files.writeString(Paths.get(a("out")), Json(Obj(Seq(
          "attempted" -> o.ops.size,
          "failed" -> failures.size,
          "metrics" -> Obj(o.metrics),
          "header" -> Obj(o.header),
          "failures" -> failures.map(op => Obj(Seq("name" -> op.name, "error" -> op.error.get))),
          "ops" -> o.ops.map(op => Obj(Seq("name" -> op.name,
            "build_s" -> op.buildS, "execute_s" -> op.execS, "ok" -> op.error.isEmpty))),
          "spans" -> o.spans.map(sp => Obj(Seq("id" -> sp.id, "parent" -> sp.parent,
            "kind" -> sp.kind, "name" -> sp.name, "start_us" -> sp.startUs,
            "end_us" -> sp.endUs)))))) + "\n")
        0
    }
  }

  /** Records every listed query's reference fingerprint and cold
    * latency (one op each, list order) — run once from a tree whose
    * outputs passed the oracle check. */
  def record(a: Map[String, String]): Int = {
    val data = a("data")
    val spark = GraftSession.local(a("cpus"))
    val queries = SparkEntry.queries
    val lines = Workloads.flatMap { w =>
      fingerprint(queries(w.warmup)(spark, data))
      stage(spark, stagingTasks(w.staging, spark, data), traced = false)
        .fold(e => throw e, identity)
      w.classes.flatMap(loadList(benchDir, _)).map { n =>
        val t = System.nanoTime()
        val (rows, hash) = fingerprint(queries(n)(spark, data))
        f"$n\t$rows\t$hash\t${(System.nanoTime() - t) / 1e9}%.4f"
      }
    }.sorted
    Files.writeString(Paths.get(a("out")), lines.mkString("", "\n", "\n"))
    spark.stop()
    0
  }
}

/** Just enough JSON for the run's output files. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case Obj(kv) => kv.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}
