package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Arbitrary stateful streaming (engine extension, SURVEY §2.9 note):
  * `flatMapGroupsWithState` wrappers for custom per-key state beyond
  * what windowed aggregation expresses. State lives in the streaming
  * state store (checkpointed, partitioned by key) — per-key size is
  * O(1) here, so the operator scales with distinct keys, not events. */
object Stateful {

  private implicit val longEncoder: Encoder[Long] = Encoders.scalaLong

  // Per-key state budgets: a key past its budget fails loud (the
  // processors' `require`s) instead of growing without bound.
  /** Rows of one key in one micro-batch ([[Scd2Changes]], [[TransitionEmit]]). */
  private val MaxPerKeyBatch = 1 << 20
  /** Events per funnel step ([[StreamingFunnel]]). */
  private val MaxPerStep = 4096
  /** Rows per role ([[StreamingPattern]], [[KeyedAsOf]]). */
  private val MaxPerRole = 4096
  /** Pattern-relevant events per key ([[StreamingSteps]]). */
  private val MaxEvents = 16384

  /** Running event count per key, emitted on every update. */
  def runningCount[K: Encoder](grouped: KeyValueGroupedDataset[K, _])(
      implicit e: Encoder[(K, Long)]): Dataset[(K, Long)] =
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, values: Iterator[_], state: GroupState[Long]) =>
        val n = state.getOption.getOrElse(0L) + values.size
        state.update(n)
        Iterator((key, n))
    }

  /** Spark 4 state-V2 (`transformWithState`) per-key running totals —
    * the modern replacement for `flatMapGroupsWithState`
    * ([[runningCount]]): NAMED typed state slots ([[ValueState]] here;
    * ListState/MapState/TTL/timers in the same handle API) resolved in
    * `init`, RocksDB-backed at scale (changelog-checkpointed — state
    * restore cost tracks the delta, not the store size). Accumulates
    * (count, sum) per key and emits the key's updated totals once per
    * micro-batch that touches it — both monotone, so a multi-batch
    * drain reduces to the final value with `max`. */
  class RunningTotals extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState("totals",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  /** [[RunningTotals]] applied to a keyed `(key, measure)` stream. */
  def runningTotals(grouped: KeyValueGroupedDataset[Long, (Long, Long)])
      : Dataset[(Long, Long, Long)] =
    grouped.transformWithState(new RunningTotals, TimeMode.None(),
      OutputMode.Update())(Encoders.product[(Long, Long, Long)])

  /** State-V2 event-time TIMERS: close a key's session when the
    * watermark passes its last event + `gapMs`. Each input batch
    * re-registers the key's single close timer (delete + register —
    * the handle keeps every registered timer otherwise); when the
    * watermark crosses it, `handleExpiredTimer` emits the final
    * (key, count) and CLEARS the state, so a later event genuinely
    * reopens the key from zero. This is the piece q188's totals don't
    * exercise: state whose lifecycle the ENGINE ends, not the drain.
    *
    * NOTE this is an idle-TIMEOUT demo, not a gap sessionizer: a
    * batch's rows for a key all land in the OPEN session regardless of
    * intra-batch gaps (only the watermark closes), so output depends
    * on batching. [[EventTimeSessions]] is the batching-independent
    * sessionizer — it splits on event-time gaps inside the batch too
    * and is the one the oracle gates (q189). */
  class IdleSessionCloser(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var sess: ValueState[(Long, Long)] = _ // (count, lastTs)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState("sess",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      var (n, last) = if (sess.exists()) sess.get() else (0L, Long.MinValue)
      rows.foreach { r => n += 1; last = math.max(last, r._2) }
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      sess.update((n, last))
      Iterator.empty // emission happens only at session close
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long)] = {
      val out = if (sess.exists()) Iterator.single((key, sess.get()._1)) else Iterator.empty
      sess.clear()
      out
    }
  }

  /** [[IdleSessionCloser]] over a watermarked `(key, eventTimeMs)`
    * stream (event-time mode — the input must carry a watermark). */
  def idleSessions(grouped: KeyValueGroupedDataset[Long, (Long, Long)],
                   gapMs: Long): Dataset[(Long, Long)] =
    grouped.transformWithState(new IdleSessionCloser(gapMs), TimeMode.EventTime(),
      OutputMode.Update())(Encoders.product[(Long, Long)])

  /** True event-time sessionization on the raw state API — q170's
    * `session_window` semantics re-built from [[ListState]] + TIMERS,
    * with the session arithmetic in EXACT MICROSECONDS (the oracle's
    * precision; the millisecond timer clock is only a wake-up, never a
    * rounding of the decision). Open sessions per key live as
    * (n, firstUs, lastUs) triples; each batch merges its points in
    * (delta < gap joins, `session_window`'s convention), keeps ONE
    * timer at the earliest close deadline, and emits nothing. When the
    * watermark crosses a deadline, `handleExpiredTimer` emits (key, n)
    * for every session with lastUs + gapUs <= floor_ms(watermark)·1000
    * and re-arms for the remainder — so sessions still open at drain
    * end are never emitted, the same cut an oracle can state. */
  class EventTimeSessions(gapUs: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var open: ListState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState("open",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    private def rearm(sessions: Seq[(Long, Long, Long)]): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      // FLOOR of the earliest deadline, not floor+1: a deadline exactly
      // on a ms boundary must fire in the batch whose watermark equals
      // it (the oracle's <= cut), and an early fire is harmless — the
      // µs closure re-check keeps the session and re-arms
      if (sessions.nonEmpty)
        getHandle.registerTimer((sessions.map(_._3).min + gapUs) / 1000L)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val points = rows.map(r => (1L, r._2, r._2)).toSeq
      val prev = if (open.exists()) open.get().toSeq else Seq.empty
      val merged = (prev ++ points).sortBy(_._2)
        .foldLeft(List.empty[(Long, Long, Long)]) {
          case ((n, f, l) :: tail, (n2, f2, l2)) if f2 < l + gapUs =>
            (n + n2, f, math.max(l, l2)) :: tail
          case (acc, s) => s :: acc
        }.reverse
      open.put(merged.toArray)
      rearm(merged)
      Iterator.empty // sessions emit only when the engine closes them
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val sessions = if (open.exists()) open.get().toSeq else Seq.empty
      val (closed, still) = sessions.partition(s => s._3 + gapUs <= wmUs)
      if (still.isEmpty) open.clear() else open.put(still.toArray)
      rearm(still)
      closed.iterator.map(s => (key, s._1))
    }
  }

  /** [[EventTimeSessions]] over a watermarked `(key, eventTimeUs)`
    * stream (event-time mode). */
  def timerSessions(grouped: KeyValueGroupedDataset[Long, (Long, Long)],
                    gapUs: Long): Dataset[(Long, Long)] =
    grouped.transformWithState(new EventTimeSessions(gapUs), TimeMode.EventTime(),
      OutputMode.Update())(Encoders.product[(Long, Long)])

  /** The RocksDB state store with changelog checkpointing — the store
    * `transformWithState` requires. Drains never name it:
    * [[stateStoreConf]] picks it from the plan, and
    * [[withRocksDBStateStore]] applies the same settings for specs that
    * drive their own streams. */
  private val rocksDBConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // changelogCheckpointing: per-batch checkpoint = the state DELTA
    // (a small changelog append) instead of a full snapshot zip+copy;
    // snapshots move to background maintenance. r21 measured 6 drains
    // once each and called it a wash; the r22 re-adjudication measured
    // the store's own metrics first (q383's summed store-commit time
    // 19.7 s → 4.7 s, q188 6.1 s → 2.7 s — the snapshot upload WAS the
    // commit cost) and then a 21-drain × 3-rep same-box A/B: subset
    // total 72.2 → 67.0 s med / 69.0 → 63.7 s min (−7.5%), every
    // multi-batch face improving, 2–3-batch drains a wash
    // (bench_r22_ab_changelog_{on,off}.json). It is also the
    // production-recommended default for RocksDB stores — restore cost
    // tracks the delta, not the store size.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** State-store settings a drain of `plan` runs with: [[rocksDBConf]]
    * exactly when the plan holds a `transformWithState` node (the
    * operator refuses any other store), none otherwise — every other
    * stateful operator (flatMapGroupsWithState, dedup, stream-stream
    * joins, window aggregations) stays on Spark's default HDFS-backed
    * store. `MicroBatch`'s drain core applies it to the run's isolated
    * session. */
  private[streaming] def stateStoreConf(plan: DataFrame): Map[String, String] =
    if (plan.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState]))
      rocksDBConf
    else Map.empty

  /** Set/restore [[rocksDBConf]] on a session's conf — ONLY safe when
    * the caller owns the session and runs sequentially (unit specs that
    * start their own streams). Query drains never need it: the drain
    * core picks the store per run on an isolated session (the r9
    * lesson: q188 vanished from the correctness gate when this toggle
    * on the shared session raced Verify's concurrent query threads). */
  def withRocksDBStateStore[T](spark: SparkSession)(body: => T): T = {
    val prev = rocksDBConf.keys.map(k => k -> spark.conf.getOption(k))
    rocksDBConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** STREAMING WINDOWED FUNNEL state (state-V2): per user, one
    * ValueState holding the per-step event-time lists (microseconds),
    * because a conversion-window funnel is NOT incrementally monotone
    * — a late-arriving earlier view shifts step 1's entry time and
    * can disqualify a click that previously converted, so the chain
    * must be recomputed from the accumulated per-step sets, never
    * folded left-to-right in arrival order. State per user is bounded
    * by that user's funnel-type events (capped fail-loud at
    * `MaxPerStep`; a production cap would evict by window distance).
    * Each touched user emits (user, updateSeq, depth) with a strictly
    * increasing per-user sequence, so the non-monotone depth reduces
    * deterministically to the LAST update (`max_by(depth, seq)`) —
    * the q188 max() trick generalized to a non-monotone measure. */
  class StreamingFunnel(withinUs: Long)
      extends StatefulProcessor[Long, (Long, Int, Long), (Long, Long, Long)] {
    @transient private var ev:
      ValueState[(Seq[Long], Seq[Long], Seq[Long], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ev = getHandle.getValueState("ev",
        Encoders.product[(Seq[Long], Seq[Long], Seq[Long], Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Int, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (v, c, p, seq) =
        if (ev.exists()) ev.get()
        else (Seq.empty[Long], Seq.empty[Long], Seq.empty[Long], 0L)
      rows.foreach { r =>
        r._2 match {
          case 0 => v :+= r._3
          case 1 => c :+= r._3
          case _ => p :+= r._3
        }
      }
      require(v.size <= MaxPerStep && c.size <= MaxPerStep && p.size <= MaxPerStep,
        s"user $key exceeds $MaxPerStep funnel events in one step")
      seq += 1
      ev.update((v, c, p, seq))
      val t1 = v.minOption
      val t2 = t1.flatMap(t =>
        c.filter(x => x > t && x <= t + withinUs).minOption)
      val t3 = t2.flatMap(t =>
        p.filter(x => x > t && x <= t + withinUs).minOption)
      val depth = Seq(t1, t2, t3).takeWhile(_.isDefined).size.toLong
      Iterator.single((key, seq, depth))
    }
  }

  /** [[StreamingFunnel]] over a keyed `(user, stepIdx, eventUs)`
    * stream. */
  def streamingFunnel(grouped: KeyValueGroupedDataset[Long, (Long, Int, Long)],
                      withinUs: Long): Dataset[(Long, Long, Long)] =
    grouped.transformWithState(new StreamingFunnel(withinUs), TimeMode.None(),
      OutputMode.Update())(Encoders.product[(Long, Long, Long)])

  /** STREAMING CEP — the in-stream twin of
    * `EventAnalytics.matchPattern` ("A then B within T, no C
    * between"): per user the state carries the (ts, id) stream of
    * each role (bounded by `MaxPerRole`, fail-loud like
    * [[StreamingFunnel]]), and every micro-batch re-derives the match
    * COUNT from the merged (ts, id)-ordered history — the same
    * first-B / first-C / exclusive-guard rule as the batch operator,
    * so the drained stream converges to exactly the batch answer
    * (the q208 convergence discipline: outputs carry a seq and the
    * reader keeps the last). Roles: 0 = A, 1 = B, 2 = C. */
  class StreamingPattern(withinUs: Long)
      extends StatefulProcessor[Long, (Long, Int, Long, Long), (Long, Long, Long)] {
    @transient private var ev:
      ValueState[(Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ev = getHandle.getValueState("ev",
        Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)],
          Seq[(Long, Long)], Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Int, Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (as, bs, cs, seq) =
        if (ev.exists()) ev.get()
        else (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
          Seq.empty[(Long, Long)], 0L)
      rows.foreach { r =>
        r._2 match {
          case 0 => as :+= ((r._3, r._4))
          case 1 => bs :+= ((r._3, r._4))
          case _ => cs :+= ((r._3, r._4))
        }
      }
      require(as.size <= MaxPerRole && bs.size <= MaxPerRole &&
        cs.size <= MaxPerRole,
        s"user $key exceeds $MaxPerRole pattern events per role")
      seq += 1
      ev.update((as, bs, cs, seq))
      val ord = Ordering.Tuple2[Long, Long]
      val bSorted = bs.sorted(ord)
      val cSorted = cs.sorted(ord)
      val n = as.count { a =>
        bSorted.find(b => ord.gt(b, a)) match {
          case Some(b) if b._1 - a._1 <= withinUs =>
            cSorted.find(c => ord.gt(c, a)).forall(c => c._1 >= b._1)
          case _ => false
        }
      }
      Iterator.single((key, seq, n.toLong))
    }
  }

  /** [[StreamingPattern]] over a keyed `(user, role, eventUs, id)`
    * stream. */
  def streamingPattern(grouped: KeyValueGroupedDataset[Long, (Long, Int, Long, Long)],
                       withinUs: Long): Dataset[(Long, Long, Long)] =
    grouped.transformWithState(new StreamingPattern(withinUs), TimeMode.None(),
      OutputMode.Update())(Encoders.product[(Long, Long, Long)])

  /** STREAMING KEYED AS-OF against a CDC-UPDATING dimension (r14,
    * VERDICT r13 next #3) — q265 broadcasts a STATIC dim; here the
    * dimension itself is a stream. Per key, state holds the full
    * interleaved history: dimension VERSIONS (role 0: eff-ts, id,
    * value) and OBSERVATIONS (role 1: ts, id), both bounded by a
    * fail-loud cap like every processor in this file. Each update
    * re-derives every observation's backward as-of match — the
    * latest (ts, id) dimension version with ts ≤ the observation's
    * (the q238 pointInTimeJoin rule; same-ts versions count, max id
    * wins) — so the drained stream converges to exactly the batch
    * point-in-time join under ANY arrival order: chronological,
    * hash-interleaved, or late (seq + last-write reader, the q208
    * rule). Emits (key, seq, obs_id, dim_id | -1, dim_value | null)
    * per observation per update. */
  class KeyedAsOf
      extends StatefulProcessor[Long, (Long, Int, Long, Long, Double),
        (Long, Long, Long, Long, Option[Double])] {
    @transient private var st:
      ValueState[(Seq[(Long, Long, Double)], Seq[(Long, Long)], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("asof",
        Encoders.product[(Seq[(Long, Long, Double)], Seq[(Long, Long)], Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Int, Long, Long, Double)],
                                 timers: TimerValues):
        Iterator[(Long, Long, Long, Long, Option[Double])] = {
      var (dims, obs, seq) =
        if (st.exists()) st.get()
        else (Seq.empty[(Long, Long, Double)], Seq.empty[(Long, Long)], 0L)
      rows.foreach { r =>
        if (r._2 == 0) dims :+= ((r._3, r._4, r._5))
        else obs :+= ((r._3, r._4))
      }
      require(dims.size <= MaxPerRole && obs.size <= MaxPerRole,
        s"key $key exceeds $MaxPerRole as-of rows per role")
      seq += 1
      st.update((dims, obs, seq))
      val sorted = dims.sortBy(t => (t._1, t._2))
      obs.iterator.map { case (ots, oid) =>
        val m = sorted.takeWhile(_._1 <= ots).lastOption
        (key, seq, oid, m.map(_._2).getOrElse(-1L), m.map(_._3))
      }
    }
  }

  /** [[KeyedAsOf]] over a keyed `(key, role, ts, id, value)` stream
    * (role 0 = dimension version, role 1 = observation). */
  def keyedAsOf(grouped: KeyValueGroupedDataset[Long, (Long, Int, Long, Long, Double)])
      : Dataset[(Long, Long, Long, Long, Option[Double])] =
    grouped.transformWithState(new KeyedAsOf(), TimeMode.None(),
      OutputMode.Update())(
      Encoders.product[(Long, Long, Long, Long, Option[Double])])

  /** STREAMING GENERALIZED CEP (r15) — the in-stream twin of
    * [[graft.operators.EventAnalytics.matchStepsAlt]]: arbitrary step
    * lists with one|plus|opt|star quantifiers, per-step type SETS,
    * and transition guards, over an unbounded keyed event stream.
    * [[StreamingPattern]] (q260) hard-codes the two-step view→purchase
    * shape; this processor takes the full pattern language. Per key,
    * state holds the alphabet-filtered (type, ts, id) history (capped
    * fail-loud like every processor in this file); each micro-batch
    * re-derives ALL matches from the merged history with
    * [[graft.operators.EventAnalytics.matchStepsLocal]] — the same
    * greedy-backtracking semantics the distributed operator encodes in
    * its priority bits — so the drained stream converges to exactly
    * the batch answer under ANY arrival order (seq + last-write
    * reader, the q208 rule). Emits (key, seq, a_id, b_id, gap_sec)
    * per match per update. */
  class StreamingSteps(steps: Seq[(Seq[String], String)],
                       guards: Map[Int, Seq[String]],
                       withinUs: Long,
                       contiguous: Boolean = false)
      extends StatefulProcessor[Long, (Long, String, Long, Long),
        (Long, Long, Long, Long, Long)] {
    private val alphabet =
      (steps.flatMap(_._1) ++ guards.values.flatten).distinct.toSet
    @transient private var st:
      ValueState[(Seq[(String, Long, Long)], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("cepsteps",
        Encoders.product[(Seq[(String, Long, Long)], Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String, Long, Long)],
                                 timers: TimerValues):
        Iterator[(Long, Long, Long, Long, Long)] = {
      var (evs, seq) =
        if (st.exists()) st.get()
        else (Seq.empty[(String, Long, Long)], 0L)
      rows.foreach { r =>
        if (alphabet.contains(r._2)) evs :+= ((r._2, r._3, r._4))
      }
      require(evs.size <= MaxEvents,
        s"key $key exceeds $MaxEvents pattern-relevant events")
      seq += 1
      st.update((evs, seq))
      graft.operators.EventAnalytics
        .matchStepsLocal(evs, steps, guards, withinUs, contiguous)
        .iterator.map { case (aId, bId, gap) => (key, seq, aId, bId, gap) }
    }
  }

  /** [[StreamingSteps]] over a keyed `(key, type, ts, id)` stream. */
  def streamingSteps(grouped: KeyValueGroupedDataset[Long, (Long, String, Long, Long)],
                     steps: Seq[(Seq[String], String)],
                     guards: Map[Int, Seq[String]] = Map.empty,
                     withinUs: Long = Long.MaxValue / 2,
                     contiguous: Boolean = false)
      : Dataset[(Long, Long, Long, Long, Long)] =
    grouped.transformWithState(new StreamingSteps(steps, guards, withinUs,
      contiguous), TimeMode.None(), OutputMode.Update())(
      Encoders.product[(Long, Long, Long, Long, Long)])

  /** Running max of a per-event Long measure, emitted on change only —
    * the "new high-water mark" pattern. */
  def highWaterMark[K: Encoder](grouped: KeyValueGroupedDataset[K, Long])(
      implicit e: Encoder[(K, Long)]): Dataset[(K, Long)] =
    grouped.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: K, values: Iterator[Long], state: GroupState[Long]) =>
        val incoming = values.foldLeft(Long.MinValue)(math.max)
        val prev = state.getOption.getOrElse(Long.MinValue)
        if (incoming > prev) {
          state.update(incoming)
          Iterator((key, incoming))
        } else Iterator.empty
    }

  /** STREAMING SCD2 CHANGE DETECTION (r16) — per-key dimension change
    * points maintained in-stream: state is ONE tuple per key (the
    * last observed (attr, ts, id)), each micro-batch's rows are
    * sorted in exact (ts, id) event order and compared against it, and
    * only CHANGE rows are emitted (first-ever observation counts as a
    * change, the SCD2 convention). The processor REQUIRES
    * chronological arrival ACROSS batches (the stageEventsByTime
    * drain order — a production CDC feed's contract) and fails loud
    * on a violation rather than emitting a wrong history; within a
    * batch any order is fine (sorted here). Emitted changes are
    * append-only facts, so the drained sink IS the change relation —
    * the read side derives versions/valid_to from it (a change-sized
    * window, never the corpus) and must equal the batch q376 build
    * BIT-EXACTLY. State per key is O(1) — the smallest state shape in
    * this file. */
  class Scd2Changes
      extends StatefulProcessor[Long, (Long, String, Long, Long),
        (Long, String, Long, Long)] {
    @transient private var last: ValueState[(String, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState("last",
        Encoders.product[(String, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String, Long, Long)],
                                 timers: TimerValues):
        Iterator[(Long, String, Long, Long)] = {
      val buf = rows.toArray
      require(buf.length <= MaxPerKeyBatch,
        s"key $key exceeds $MaxPerKeyBatch rows in one batch")
      val sorted = buf.sortBy(r => (r._3, r._4))
      var st = if (last.exists()) Some(last.get()) else None
      val out = Seq.newBuilder[(Long, String, Long, Long)]
      sorted.foreach { r =>
        st match {
          case Some((t, ts, id)) =>
            require(ts < r._3 || (ts == r._3 && id <= r._4),
              s"key $key: out-of-order arrival across batches " +
                s"(state ($ts,$id) vs row (${r._3},${r._4})) — SCD2 " +
                "change detection needs the chronological drain")
            if (t != r._2) out += ((key, r._2, r._3, r._4))
          case None => out += ((key, r._2, r._3, r._4))
        }
        st = Some((r._2, r._3, r._4))
      }
      st.foreach(last.update)
      out.result().iterator
    }
  }

  /** [[Scd2Changes]] over a keyed `(key, attr, ts, id)` stream. */
  def scd2Changes(grouped: KeyValueGroupedDataset[Long, (Long, String, Long, Long)])
      : Dataset[(Long, String, Long, Long)] =
    grouped.transformWithState(new Scd2Changes(), TimeMode.None(),
      OutputMode.Update())(Encoders.product[(Long, String, Long, Long)])

  /** WATERMARK-ORDERED REPLAY SKELETON (r17 — VERDICT r16 #2;
    * restructured r18 — VERDICT r17 next #1/#4): the
    * chronological-drain requirement of the strict per-key replay
    * processors ([[Scd2Changes]], [[TransitionEmit]]) lifted to the
    * production contract a Kafka CDC feed actually offers — per-key
    * DISORDER bounded by the WATERMARK delay. Rows buffer in a
    * (ts, id)-KEYED [[MapState]] until the event-time watermark
    * passes them; one timer per key at the earliest buffered ms wakes
    * the key, the ready prefix (ts strictly below the watermark —
    * rows AT the watermark stay buffered, because the engine only
    * guarantees dropping rows strictly older) is sorted in exact
    * (ts, id) event order and replayed through the subclass's `step`,
    * and the remainder re-arms. State per key is O(rows inside the
    * disorder window), the honest minimum for out-of-order ordered
    * replay. The strict face survives: a row arriving at or behind
    * the PROCESSED frontier — which the watermark contract says
    * cannot happen — fails loud rather than emitting a wrong history.
    *
    * The r18 restructure fixes the two scale hazards the r17 ListState
    * shape carried:
    *  - a flush now RANGE-DELETES the ready prefix (one point-delete
    *    per REPLAYED row) instead of rewriting the whole remainder —
    *    under a slowly-advancing watermark the old `buf.put(rest)`
    *    rewrote every still-buffered row once per flush, O(window²)
    *    state I/O amortized (VERDICT r17 what's-wrong #3); and a
    *    redelivered duplicate (same (ts, id)) now fails loud at the
    *    INSERT, whatever its position in the window;
    *  - exactly ONE timer is armed per key (tracked in `minTs`) and
    *    only that timer is deleted on re-arm — the old
    *    listTimers()-and-delete-all sweep emitted a steady
    *    `TimerStateImpl: Failed to delete timer` WARN stream in every
    *    buffered drain (VERDICT r17 what's-wrong #4).
    * The replay state is now subclass-DEFINED (type S), so richer
    * forward-replay semantics (funnel progress, as-of dimension
    * state) ride the same skeleton instead of being limited to
    * last-row lookback. */
  abstract class WatermarkOrderedReplay[S, O](sEnc: Encoder[S],
                                              val outputEncoder: Encoder[O])
      extends StatefulProcessor[Long, (Long, String, Long, Long), O] {
    import WatermarkOrderedReplay.MaxBufferedPerKey
    /** The per-row replay step: (updated state, emissions) for `row`
      * given the replay state so far (None at key birth). The
      * skeleton guarantees rows arrive here in exact (ts, id) order,
      * exactly once, and only once the watermark has passed them. */
    protected def step(key: Long, st: Option[S],
                       row: (String, Long, Long)): (S, IterableOnce[O])
    @transient private var buf: MapState[(Long, Long), String] = _
    @transient private var frontier: ValueState[(Long, Long)] = _
    @transient private var rst: ValueState[S] = _
    @transient private var armedMs: ValueState[Long] = _
    @transient private var bufN: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getMapState("buf", Encoders.product[(Long, Long)],
        Encoders.STRING, TTLConfig.NONE)
      frontier = getHandle.getValueState("frontier",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      rst = getHandle.getValueState("rst", sEnc, TTLConfig.NONE)
      armedMs = getHandle.getValueState[Long]("armedMs",
        Encoders.scalaLong, TTLConfig.NONE)
      bufN = getHandle.getValueState[Long]("bufN",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String, Long, Long)],
                                 timers: TimerValues): Iterator[O] = {
      val f: Option[(Long, Long)] =
        if (frontier.exists()) Some(frontier.get()) else None
      val prevArmed = if (armedMs.exists()) armedMs.get() else Long.MaxValue
      var incomingMin = Long.MaxValue
      var n = if (bufN.exists()) bufN.get() else 0L
      rows.foreach { r =>
        f.foreach { case (fts, fid) =>
          require(fts < r._3 || (fts == r._3 && fid < r._4),
            s"key $key: arrival at or behind the processed frontier " +
              s"(($fts,$fid) vs row (${r._3},${r._4})) — a watermark " +
              "contract violation; widen the watermark delay to cover " +
              "the feed's real disorder")
        }
        // a redelivered duplicate inside the disorder window would
        // silently replay twice (the post-flush copy trips the
        // frontier check above — the keyed buffer makes the pre-flush
        // copy equally loud, at any position in the window)
        require(!buf.containsKey((r._3, r._4)),
          s"key $key: duplicate buffered row (${r._3},${r._4}) — " +
            "at-least-once redelivery inside the disorder window; " +
            "dedup upstream before the ordered replay")
        buf.updateValue((r._3, r._4), r._2)
        n += 1
        if (r._3 < incomingMin) incomingMin = r._3
      }
      // the budget bounds the ACCUMULATED buffer, not just one batch —
      // with a slow watermark the buffer grows across batches, and the
      // flush materializes it all, so the cap must track the total
      require(n <= MaxBufferedPerKey,
        s"key $key: $n buffered rows exceed the per-key budget " +
          s"$MaxBufferedPerKey — the watermark is not advancing past " +
          "the disorder window")
      bufN.update(n)
      // FLOOR of the earliest buffered µs deadline (the
      // EventTimeSessions convention): an early ms fire is harmless —
      // the µs re-check keeps unready rows buffered and re-arms.
      // Exactly one timer per key, tracked in `armedMs` at MS grain:
      // a strictly-earlier ms retires the old timer and arms the new
      // one; an equal ms leaves the armed timer alone (the engine's
      // registerTimer SILENTLY SKIPS a same-expiry registration with
      // a WARN, so re-registering would be a no-op plus log noise —
      // r18 review finding).
      val incomingMinMs = incomingMin / 1000L
      if (incomingMin != Long.MaxValue && incomingMinMs < prevArmed) {
        if (prevArmed != Long.MaxValue) getHandle.deleteTimer(prevArmed)
        armedMs.update(incomingMinMs)
        getHandle.registerTimer(incomingMinMs)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[O] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val ready = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var restMin = Long.MaxValue
      var restN = 0L
      buf.iterator().foreach { case ((ts, id), attr) =>
        if (ts < wmUs) ready += ((attr, ts, id))
        else { restN += 1; if (ts < restMin) restMin = ts }
      }
      val out = Seq.newBuilder[O]
      if (ready.nonEmpty) {
        val sorted = ready.sortInPlaceBy(r => (r._2, r._3))
        var st = if (rst.exists()) Some(rst.get()) else None
        sorted.foreach { r =>
          val (ns, os) = step(key, st, r)
          out ++= os
          st = Some(ns)
        }
        st.foreach(rst.update)
        val lastR = sorted.last
        frontier.update((lastR._2, lastR._3))
        // prefix deletion: the un-ready remainder is NEVER rewritten
        if (restN == 0L) buf.clear()
        else sorted.foreach(r => buf.removeKey((r._2, r._3)))
      }
      if (restN == 0L) { bufN.clear(); armedMs.clear() }
      else {
        bufN.update(restN)
        // CRITICAL (r18 review, confirmed against the engine's
        // bytecode): during this callback the FIRED timer still
        // exists in the store (the engine deletes it only after the
        // callback returns), and registerTimer SILENTLY SKIPS a
        // same-expiry registration — so re-arming at restMin/1000
        // when that floor equals the fired expiry would be dropped
        // and then the fired timer deleted, stranding the buffered
        // rows forever (rows AT the watermark ms hit this exactly).
        // Arm strictly AFTER the fired expiry: an up-to-1-ms-late
        // timer is harmless (those rows only become ready once the
        // watermark passes their ms anyway).
        val targetMs = math.max(restMin / 1000L, expired.getExpiryTimeInMs() + 1L)
        armedMs.update(targetMs)
        getHandle.registerTimer(targetMs)
      }
      out.result().iterator
    }
  }

  object WatermarkOrderedReplay {
    /** Rows one key may hold buffered ahead of the watermark. */
    val MaxBufferedPerKey: Int = 1 << 22
  }

  /** OUT-OF-ORDER-TOLERANT STREAMING SCD2 — the
    * [[WatermarkOrderedReplay]] skeleton with [[Scd2Changes]]'s
    * change-detection step (first-ever observation counts as a
    * change, the SCD2 convention); replay state = the last observed
    * attr. */
  class Scd2Buffered
      extends WatermarkOrderedReplay[String, (Long, String, Long, Long)](
        Encoders.STRING, Encoders.product[(Long, String, Long, Long)]) {
    protected def step(key: Long, st: Option[String],
                       row: (String, Long, Long)):
        (String, IterableOnce[(Long, String, Long, Long)]) =
      (row._1,
        if (st.contains(row._1)) Nil
        else Seq((key, row._1, row._2, row._3)))
  }

  /** [[TransitionEmit]]'s OUT-OF-ORDER-tolerant face — the
    * [[WatermarkOrderedReplay]] skeleton with the transition step:
    * every consecutive (from, to) pair, emitted once the watermark
    * has fixed the order; replay state = the last observed attr. */
  class TransitionBuffered
      extends WatermarkOrderedReplay[String, (String, String)](
        Encoders.STRING, Encoders.product[(String, String)]) {
    protected def step(key: Long, st: Option[String],
                       row: (String, Long, Long)):
        (String, IterableOnce[(String, String)]) =
      (row._1, st.map(p => (p, row._1)))
  }

  /** WINDOWED-FUNNEL ordered replay (r18 — VERDICT r17 next #5): the
    * THIRD face of the [[WatermarkOrderedReplay]] skeleton, and the
    * one that needs its richer replay state. The batch windowed
    * funnel ([[graft.operators.EventAnalytics.funnelSteps]], q204) is
    * NOT arrival-order monotone — a late-arriving EARLIER first-step
    * event can disqualify a previously-converted later step — which
    * is why the q208 processor re-derives per-user depth from the
    * FULL accumulated history every update. Under watermark-ordered
    * replay the non-monotonicity vanishes: in exact (ts, id) event
    * order, step 0's entry is the first `steps(0)` row, and step k's
    * entry is the first `steps(k)` row strictly after entry k−1 (and
    * within `withinUs(k−1)` of it), so the replay state is just the
    * entry timestamps reached so far — O(|steps|) per key, not
    * O(history). Emits (key, depth) on every depth increase (depth is
    * monotone under ordered replay); the read side folds max(depth)
    * per key and rolls up to the per-step converted counts, which
    * must equal the batch funnel BIT-EXACTLY. */
  class FunnelBuffered(steps: Seq[String], withinUs: Seq[Long])
      extends WatermarkOrderedReplay[Tuple1[Seq[Long]], (Long, Int)](
        // a bare Seq encoder does not resolve inside the state store;
        // the product wrapper does (the KeyedAsOf nested-Seq pattern)
        Encoders.product[Tuple1[Seq[Long]]],
        Encoders.product[(Long, Int)]) {
    require(steps.nonEmpty, "funnel needs at least one step " +
      "(the batch funnelSteps contract — an empty list would silently " +
      "emit nothing)")
    require(withinUs.isEmpty || withinUs.size == steps.size - 1,
      s"withinUs needs one bound per transition (${steps.size - 1}), " +
        s"got ${withinUs.size}")
    require(withinUs.forall(_ > 0),
      s"withinUs must be strictly positive (got $withinUs) — the batch " +
        "funnelSteps contract; a zero/negative window would silently " +
        "cap every key at depth 1 instead of matching the oracle")
    protected def step(key: Long, st: Option[Tuple1[Seq[Long]]],
                       row: (String, Long, Long)):
        (Tuple1[Seq[Long]], IterableOnce[(Long, Int)]) = {
      val entries = st.fold(Seq.empty[Long])(_._1)
      val depth = entries.size
      val qualifies = depth < steps.size && row._1 == steps(depth) &&
        (depth == 0 ||
          (row._2 > entries.last &&
            (withinUs.isEmpty || row._2 <= entries.last + withinUs(depth - 1))))
      if (qualifies) (Tuple1(entries :+ row._2), Seq((key, depth + 1)))
      else (Tuple1(entries), Nil)
    }
  }

  /** KEYED AS-OF ordered replay (r18 — the FOURTH face of the
    * [[WatermarkOrderedReplay]] skeleton, the other family VERDICT
    * r17 next #5 named): each OBSERVATION row joins the latest
    * DIMENSION row strictly before it in exact (ts, id) order, under
    * genuine arrival disorder. [[KeyedAsOf]] (q269) achieves
    * any-order convergence by keeping the FULL per-key history and
    * re-deriving every match each update — O(history) state forever;
    * the ordered replay keeps O(1): the last dimension id seen. Emits
    * (key, obs_id, dim_id | -1) per observation, exactly once, final
    * by construction (no seq/last-write reader needed — under the
    * watermark contract a processed match can never be invalidated).
    * Dimension and observation rows are distinguished by their type
    * string. */
  class AsOfBuffered(dimType: String, obsType: String)
      extends WatermarkOrderedReplay[Long, (Long, Long, Long)](
        Encoders.scalaLong, Encoders.product[(Long, Long, Long)]) {
    protected def step(key: Long, st: Option[Long],
                       row: (String, Long, Long)):
        (Long, IterableOnce[(Long, Long, Long)]) = {
      val lastDim = st.getOrElse(-1L)
      if (row._1 == dimType) (row._3, Nil)
      else if (row._1 == obsType) (lastDim, Seq((key, row._3, lastDim)))
      else (lastDim, Nil)
    }
  }

  /** DYNAMIC-GAP SESSIONIZATION ordered replay (r19 — VERDICT r18 next
    * #6, the FIFTH face of [[WatermarkOrderedReplay]]): q190's
    * per-row-gap session windows under genuine arrival disorder. This
    * is the first face whose BATCH semantics are not append-monotone
    * in arrival order — a late-arriving row can MERGE two sessions an
    * arrival-order builder already closed (its window bridges the
    * gap), which is why streaming sessionizers either re-derive from
    * full history or carry merge machinery. Under watermark-ordered
    * replay the merge case is impossible by construction: rows reach
    * `step` in exact (ts, id) event order, so a session's end is just
    * the RUNNING MAX of ts+gap(row) and a row at or past that end
    * opens a new session — the oracle's definition, verbatim. Replay
    * state is O(1): (session start, running window end, row count).
    *
    * Emits (key, session_start_us, n) on EVERY replayed row — the
    * session's start is immutable once opened (rows arrive in ts
    * order) and n grows monotonically, so the read side folds
    * max(n) per (key, session_start), the [[FunnelBuffered]] max-depth
    * discipline. Distinct sessions of a key can never share a start ts
    * (with equal ts the second row always lands inside the first row's
    * window, since win_end > ts). The final open session per key needs
    * no close event — its last emission already carries its full
    * count. */
  class SessionBuffered(gapUsByType: Map[String, Long], defaultGapUs: Long)
      extends WatermarkOrderedReplay[(Long, Long, Long), (Long, Long, Long)](
        Encoders.product[(Long, Long, Long)], Encoders.product[(Long, Long, Long)]) {
    require(defaultGapUs > 0 && gapUsByType.values.forall(_ > 0),
      s"session gaps must be strictly positive (got default=$defaultGapUs, " +
        s"byType=$gapUsByType) — a non-positive gap makes every row its " +
        "own session instead of matching the dynamic session_window oracle")
    protected def step(key: Long, st: Option[(Long, Long, Long)],
                       row: (String, Long, Long)):
        ((Long, Long, Long), IterableOnce[(Long, Long, Long)]) = {
      val gap = gapUsByType.getOrElse(row._1, defaultGapUs)
      val ns = st match {
        // same session: strictly inside the running window end
        case Some((start, winEnd, n)) if row._2 < winEnd =>
          (start, math.max(winEnd, row._2 + gap), n + 1)
        // key birth, or ts >= running max(ts+gap) → new session
        case _ => (row._2, row._2 + gap, 1L)
      }
      (ns, Seq((key, ns._1, ns._3)))
    }
  }

  /** SLIDING-WINDOW RATE under ordered replay (r20 — VERDICT r19 next
    * #4, the SIXTH face of [[WatermarkOrderedReplay]], and the first
    * whose replay state is a BOUNDED COLLECTION KEYED BY TIME): for
    * each replayed row, the count of the key's events with ts in
    * (row.ts − windowUs, row.ts] — the per-key sliding event rate, the
    * primitive under burst/anomaly detection. The batch twin is two
    * window functions (a (ts, id) row_number minus a RANGE-framed
    * prefix count); under arrival disorder neither is incrementally
    * maintainable (a late row retro-inflates every window it lands
    * in), but under watermark-ordered replay the state is just the
    * ring of in-window timestamps: evict the expired prefix (rows
    * arrive in (ts, id) order, so the ring stays ascending and
    * eviction is a dropWhile), append, emit the ring size. Unlike the
    * five earlier faces (O(1)-to-O(steps) scalars), eviction here
    * happens INSIDE the state value — the ring grows with the key's
    * in-window burst and shrinks as the window slides, bounded by the
    * key's max in-window count at any corpus size.
    *
    * WINDOW-TIE SEMANTICS: the count quantifies over (ts', id')
    * lexicographically ≤ (ts, id) with ts' > ts − windowUs — rows at
    * the SAME ts count predecessors by id order, matching the batch
    * `row_number − prefix-count` formulation exactly (a RANGE frame
    * on both ends would count equal-ts successors too and diverge
    * from any per-row incremental semantics). Emits (key, event id,
    * in-window count), exactly once, final by construction. */
  class RateBuffered(windowUs: Long)
      extends WatermarkOrderedReplay[Tuple1[Seq[Long]], (Long, Long, Long)](
        // bare Seq encoders don't resolve in the state store; the
        // product wrapper does (the FunnelBuffered pattern)
        Encoders.product[Tuple1[Seq[Long]]],
        Encoders.product[(Long, Long, Long)]) {
    require(windowUs > 0,
      s"sliding-rate window must be strictly positive (got $windowUs) — " +
        "a non-positive window would make every count 1 instead of " +
        "matching the batch windowed-count oracle")
    protected def step(key: Long, st: Option[Tuple1[Seq[Long]]],
                       row: (String, Long, Long)):
        (Tuple1[Seq[Long]], IterableOnce[(Long, Long, Long)]) = {
      // The ring lives as a Vector BETWEEN steps (the skeleton holds
      // the state in memory across a flush and writes it to the store
      // once): Vector append is effectively O(1) and the prefix drop
      // is O(evicted + log n), so a hot key's flush costs amortized
      // O(1) per event — the r20 shape (immutable Seq dropWhile +
      // `:+`) copied the whole ring per event, O(window-rate²) per
      // hot key (VERDICT r20 wrong #4 / next #5). `.toVector` is free
      // when the value is already a Vector (same flush) and O(n) once
      // per flush when it was decoded from the store. Contents and
      // emissions are unchanged — same timestamps, same counts.
      val ring = st.fold(Vector.empty[Long])(_._1.toVector)
      // evict ts' ≤ ts − window (keep the half-open (ts−w, ts] span);
      // the ring is ascending, so the expired rows are a prefix
      val cut = row._2 - windowUs
      var drop = 0
      while (drop < ring.length && ring(drop) <= cut) drop += 1
      val kept = (if (drop == 0) ring else ring.drop(drop)) :+ row._2
      (Tuple1(kept), Seq((key, row._3, kept.size.toLong)))
    }
  }

  /** INTER-EVENT GAP EMISSION under ordered replay (r19) — the
    * [[TransitionBuffered]] shape carrying the TIME DELTA instead of
    * the type pair: for each replayed row with a predecessor, emits
    * (row's type, whole seconds since the key's previous event).
    * State is O(1) (the last event's µs). The emitted facts feed the
    * additive [[graft.operators.Stats.fanoFromCounts]] /
    * decilesFromCounts histogram folds, so any pairwise-sequential
    * dispersion statistic streams through the same skeleton — the
    * q412/q407 readouts at steady-state cost. Exactly-once and final
    * by construction (a processed gap can never be invalidated under
    * the watermark contract). */
  class GapBuffered
      extends WatermarkOrderedReplay[Long, (String, Long)](
        Encoders.scalaLong, Encoders.product[(String, Long)]) {
    protected def step(key: Long, st: Option[Long],
                       row: (String, Long, Long)):
        (Long, IterableOnce[(String, Long)]) =
      (row._2, st.map(prev => (row._1, (row._2 - prev) / 1000000L)))
  }

  /** Run a [[WatermarkOrderedReplay]] face over a keyed WATERMARKED
    * `(key, type, ts µs, id)` stream: event-time mode (the caller's
    * watermark delay is the disorder bound), update output, the
    * processor's own output encoder. [[MicroBatch.replayRun]] builds
    * that stream for the staged arrival contracts. */
  def replay[O](grouped: KeyValueGroupedDataset[Long, (Long, String, Long, Long)],
                p: WatermarkOrderedReplay[_, O]): Dataset[O] =
    grouped.transformWithState(p, TimeMode.EventTime(), OutputMode.Update())(
      p.outputEncoder)

  /** STREAMING TRANSITION EMIT (r17) — the batch transition matrix
    * (`EventAnalytics.transitionMatrix`, q235) maintained in-stream:
    * state is ONE tuple per key (the last observed (type, ts, id) —
    * O(1), the [[Scd2Changes]] shape), each micro-batch's rows sort
    * in exact (ts, id) event order, and every CONSECUTIVE pair emits
    * a (from, to) fact — including the pair that straddles a batch
    * boundary, which is exactly what a per-batch batch-mode rollup
    * loses. Chronological arrival across batches is the contract
    * (fails loud, the Scd2Changes discipline); the drained sink is
    * the transition fact relation and the read side rolls it up to
    * the bounded |types|² matrix. */
  class TransitionEmit
      extends StatefulProcessor[Long, (Long, String, Long, Long),
        (String, String)] {
    @transient private var last: ValueState[(String, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState("last",
        Encoders.product[(String, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String, Long, Long)],
                                 timers: TimerValues):
        Iterator[(String, String)] = {
      val buf = rows.toArray
      require(buf.length <= MaxPerKeyBatch,
        s"key $key exceeds $MaxPerKeyBatch rows in one batch")
      val sorted = buf.sortBy(r => (r._3, r._4))
      var st = if (last.exists()) Some(last.get()) else None
      val out = Seq.newBuilder[(String, String)]
      sorted.foreach { r =>
        st.foreach { case (t, ts, id) =>
          // STRICT (unlike Scd2Changes' <=): a redelivered duplicate
          // is harmless to change detection but would fabricate an
          // (X -> X) transition here — fail loud instead
          require(ts < r._3 || (ts == r._3 && id < r._4),
            s"key $key: duplicate or out-of-order arrival across " +
              s"batches (state ($ts,$id) vs row (${r._3},${r._4})) — " +
              "transition emission needs the chronological " +
              "exactly-once drain")
          out += ((t, r._2))
        }
        st = Some((r._2, r._3, r._4))
      }
      st.foreach(last.update)
      out.result().iterator
    }
  }

  /** [[TransitionEmit]] over a keyed `(key, type, ts, id)` stream. */
  def transitionEmit(grouped: KeyValueGroupedDataset[Long, (Long, String, Long, Long)])
      : Dataset[(String, String)] =
    grouped.transformWithState(new TransitionEmit(), TimeMode.None(),
      OutputMode.Update())(Encoders.product[(String, String)])
}
