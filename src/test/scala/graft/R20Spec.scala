package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 pins: arbitrary-arity phrase matching (operator ≡ scan on
  * seeded corpora, overlap multiplicity, short-doc guard), the
  * proximity primitives, the single-pass funnel rollup's empty-sink
  * shape, the sliding-rate face's engine-path differential, and the
  * loud width-budget gates added to the FromCounts folds (ADVICE
  * r19). */
class R20Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def docsDf(texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def postingsOf(texts: Seq[String]) =
    graft.queries.R19Q.positionalFragment(docsDf(texts))

  test("phraseMatch: single-term phrase = per-doc occurrence counts " +
      "(arity-1 degenerate case)") {
    val texts = Seq("a b a", "b b", "c")
    val got = graft.operators.TextMining
      .phraseMatch(postingsOf(texts), Seq("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((0L, 1L), (1L, 2L)))
  }

  test("phraseMatch: repeated-term phrase counts OVERLAPPING anchors " +
      "(occurrence multiplicity, not containment)") {
    // "a a a" matches "a a" at anchors 0 and 1
    val texts = Seq("a a a", "a b a")
    val got = graft.operators.TextMining
      .phraseMatch(postingsOf(texts), Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((0L, 2L)))
  }

  test("phraseMatch/phraseScan: docs shorter than the phrase never match " +
      "(the sequence() descending-range guard)") {
    val texts = Seq("a", "", "a b c")
    val phrase = Seq("a", "b")
    val served = graft.operators.TextMining
      .phraseMatch(postingsOf(texts), phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val scanned = graft.operators.TextMining
      .phraseScan(docsDf(texts), phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(served == Seq((2L, 1L)) && scanned == served)
  }

  test("phraseMatch rejects empty phrases and empty terms loud") {
    val post = postingsOf(Seq("a b"))
    intercept[IllegalArgumentException] {
      graft.operators.TextMining.phraseMatch(post, Nil)
    }
    intercept[IllegalArgumentException] {
      graft.operators.TextMining.phraseMatch(post, Seq("a", ""))
    }
  }

  test("phraseMatch ≡ phraseScan on seeded random corpora (arity 1-4)") {
    val rnd = new scala.util.Random(2001)
    val alphabet = Vector("a", "b", "c", "d")
    (1 to 4).foreach { arity =>
      val texts = (1 to 80).map(_ =>
        (1 to (1 + rnd.nextInt(12)))
          .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
      val phrase = (1 to arity).map(_ => alphabet(rnd.nextInt(alphabet.size)))
      val served = graft.operators.TextMining
        .phraseMatch(postingsOf(texts), phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val scanned = graft.operators.TextMining
        .phraseScan(docsDf(texts), phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // reference count from first principles
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ", -1).toSeq
        val n = (0 to ws.size - phrase.size)
          .count(p => phrase.indices.forall(k => ws(p + k) == phrase(k)))
        if (n > 0) Some((i.toLong, n.toLong)) else None
      }.sorted
      assert(served == expect && scanned == expect,
        s"arity $arity phrase $phrase: served=$served scanned=$scanned " +
          s"expect=$expect")
    }
  }

  test("minPairGap ≡ minPairGapScan ≡ first principles on a seeded corpus") {
    val rnd = new scala.util.Random(2002)
    val alphabet = Vector("a", "b", "c")
    val texts = (1 to 80).map(_ =>
      (1 to (1 + rnd.nextInt(10)))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    val served = graft.operators.Retrieval
      .minPairGap(postingsOf(texts), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val scanned = graft.operators.Retrieval
      .minPairGapScan(docsDf(texts), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = texts.zipWithIndex.flatMap { case (t, i) =>
      val ws = t.split(" ", -1).toSeq
      val pa = ws.indices.filter(ws(_) == "a")
      val pb = ws.indices.filter(ws(_) == "b")
      val ds = for (x <- pa; y <- pb) yield math.abs(y - x).toLong
      if (ds.nonEmpty) Some((i.toLong, ds.min)) else None
    }.sorted
    assert(served == expect && scanned == expect)
  }

  test("minSpan ≡ minSpanScan ≡ first principles on a seeded corpus " +
      "(arity 1-3)") {
    val rnd = new scala.util.Random(2003)
    val alphabet = Vector("a", "b", "c", "d")
    val texts = (1 to 80).map(_ =>
      (1 to (1 + rnd.nextInt(12)))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    (1 to 3).foreach { arity =>
      val terms = alphabet.take(arity)
      val served = graft.operators.Retrieval
        .minSpan(postingsOf(texts), terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val scanned = graft.operators.Retrieval
        .minSpanScan(docsDf(texts), terms)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ", -1).toSeq
        val poss = terms.map(tm => ws.indices.filter(ws(_) == tm))
        if (poss.exists(_.isEmpty)) None
        else {
          val combos = poss.foldLeft(Seq(Seq.empty[Int])) { (acc, ps) =>
            for (c <- acc; p <- ps) yield c :+ p
          }
          Some((i.toLong, combos.map(c => c.max - c.min + 1L).min))
        }
      }.sorted
      assert(served == expect && scanned == expect,
        s"arity $arity: served=$served expect=$expect")
    }
  }

  test("orderedWithin ≡ scan twin ≡ first principles; k = 1 is exactly " +
      "phraseMatch (seeded corpus)") {
    val rnd = new scala.util.Random(2004)
    val alphabet = Vector("a", "b", "c", "d")
    val texts = (1 to 80).map(_ =>
      (1 to (1 + rnd.nextInt(12)))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    val terms = Seq("a", "b", "c")
    for (k <- Seq(1L, 3L)) {
      val served = graft.operators.TextMining
        .orderedWithin(postingsOf(texts), terms, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val scanned = graft.operators.TextMining
        .orderedWithinScan(docsDf(texts), terms, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ", -1).toSeq
        def chains(last: Int, rest: Seq[String]): Long = rest match {
          case Nil => 1L
          case tm +: more =>
            (last + 1 to math.min(last + k.toInt, ws.size - 1))
              .filter(p => ws(p) == tm).map(p => chains(p, more)).sum
        }
        val n = ws.indices.filter(ws(_) == terms.head)
          .map(p => chains(p, terms.tail)).sum
        if (n > 0) Some((i.toLong, n)) else None
      }.sorted
      assert(served == expect && scanned == expect, s"k=$k: $served vs $expect")
    }
    // k = 1 degenerates to the exact phrase
    val viaWithin = graft.operators.TextMining
      .orderedWithin(postingsOf(texts), terms, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaPhrase = graft.operators.TextMining
      .phraseMatch(postingsOf(texts), terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaWithin == viaPhrase)
  }

  test("minSpan on q422's inputs (sf0.01): index-served ≡ minSpanScan") {
    val sf01 = TestSpark.sf001
    val served = SparkEntry.queries("q422_min_span")(spark, sf01)
    val scan = graft.operators.Retrieval.minSpanScan(
      graft.Tables.documents(spark, sf01), Seq("data", "join", "spark"))
    assert(served.except(scan).isEmpty && scan.except(served).isEmpty,
      "index-served min spans must equal the raw-text derivation")
    assert(!scan.isEmpty)
  }

  test("orderedWithin on q424's inputs (sf0.01): index-served ≡ " +
      "orderedWithinScan") {
    val sf01 = TestSpark.sf001
    val served = SparkEntry.queries("q424_sloppy_phrase")(spark, sf01)
    val scan = graft.operators.TextMining.orderedWithinScan(
      graft.Tables.documents(spark, sf01), Seq("data", "join", "spark"),
      k = 5L)
    assert(served.except(scan).isEmpty && scan.except(served).isEmpty,
      "index-served sloppy-phrase chains must equal the raw-text derivation")
    assert(!scan.isEmpty)
  }

  test("minSpan rejects repeated terms loud (one occurrence must not " +
      "cover two phrase slots)") {
    intercept[IllegalArgumentException] {
      graft.operators.Retrieval.minSpan(postingsOf(Seq("a b")), Seq("a", "a"))
    }
  }

  test("funnelRollup emits one ZERO row per step on an empty sink " +
      "(the q200/q204 shape rule survives the single-pass rewrite)") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Int)].toDF("user_id", "depth")
    val got = graft.queries.R19Q
      .funnelRollup(empty, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("1_view", 0L), ("2_click", 0L), ("3_purchase", 0L)))
  }

  test("q420 disordered drain ≡ batch two-window sliding rate (sf0.001)") {
    import org.apache.spark.sql.expressions.Window
    val winUs = 86400L * 1000000L
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val w1 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, -winUs)
    val per = ev.withColumn("nw",
      row_number().over(w1).cast("long") - count(lit(1)).over(w2))
    val peak = per.groupBy(col("user_id")).agg(max(col("nw")).as("peak_rate"))
    val batch = per.join(peak, "user_id")
      .filter(col("nw") === col("peak_rate"))
      .groupBy(col("user_id"), col("peak_rate"))
      .agg(min(col("event_id")).cast("long").as("peak_event"))
      .select(col("user_id"), col("peak_rate").cast("long").as("peak_rate"),
        col("peak_event"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val got = graft.queries.R20Q.queries("q420_stream_rate_ooo")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == batch, "q420 drain diverged from the batch rate build")
  }

  test("stream-maintained postings index holds each mapped doc EXACTLY " +
      "once (anti-join dedup by algebra across overlapping batches)") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val index = graft.streaming.MicroBatch.appendRunPerBatchAgainstSink(
      spark, sf, maxFilesPerTrigger = Some(1), splitParts = Some(4)) {
      (batch, sink) =>
        val cand = batch.select((col("event_id") % 500).as("doc_id"))
          .distinct().join(docs, "doc_id")
        val snap = sink.snapshot()
        val newDocs =
          if (snap.columns.contains("doc_id"))
            cand.join(snap.select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
          else cand
        graft.queries.R19Q.positionalFragment(newDocs)
    }
    // exactly-once at (term, doc, pos) grain: any doc re-indexed by a
    // later batch would double every one of its postings
    assert(index.count() ==
      index.select(col("term"), col("doc_id"), col("pos"))
        .distinct().count(),
      "duplicate postings — a doc was indexed twice")
    // and the indexed doc set is exactly the mapped subset
    val mapped = graft.Tables.events(spark, sf)
      .select((col("event_id") % 500).as("doc_id")).distinct()
      .join(docs, "doc_id").select(col("doc_id"))
    val indexed = index.select(col("doc_id")).distinct()
    assert(indexed.except(mapped).isEmpty && mapped.except(indexed).isEmpty,
      "indexed doc set diverged from the mapped subset")
  }

  test("q423 on its own inputs (sf0.01): the stream-maintained index " +
      "serves exactly the mapped subset's phrase matches (≡ phraseScan)") {
    val sf01 = TestSpark.sf001
    val served = SparkEntry.queries("q423_stream_postings_maintained")(
      spark, sf01)
    val mapped = graft.Tables.events(spark, sf01)
      .select((col("event_id") % 500).as("doc_id")).distinct()
    val scan = graft.operators.TextMining.phraseScan(
      graft.Tables.documents(spark, sf01).select(col("doc_id"), col("text"))
        .join(mapped, "doc_id"), Seq("spark", "join"))
    assert(served.except(scan).isEmpty && scan.except(served).isEmpty,
      "stream-maintained postings must serve exactly the mapped " +
        "subset's adjacency truth")
    assert(!scan.isEmpty)
  }

  test("RateBuffered rejects a non-positive window loud") {
    intercept[IllegalArgumentException] {
      new graft.streaming.Stateful.RateBuffered(0L)
    }
  }

  test("optimizeClusterBy: reads identical pre/post, point probes keep " +
      "a strict dir subset, prior versions still time-travel") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"t${i % 23}"))
      .toDF("id", "term")
    val t = graft.lake.LakeTable.createTemp(spark,
      df.repartition(4), "graft-clspec")
    t.append(df.withColumn("id", col("id") + 1000).repartition(4))
    val preV = t.latestVersion
    val before = t.snapshot().localCheckpoint(true)
    t.optimizeClusterBy("term", buckets = 8)
    val after = t.snapshot()
    assert(after.except(before).isEmpty && before.except(after).isEmpty,
      "cluster rewrite changed the data")
    val (kept, total) = t.prunedDirsEq("term", "t5")
    assert(kept.nonEmpty && kept.size < total,
      s"no pruning: kept ${kept.size}/$total")
    val pruned = after.filter(col("term") === "t5").count()
    val full = before.filter(col("term") === "t5").count()
    assert(pruned == full && pruned > 0,
      s"pruned read dropped rows: $pruned vs $full")
    // a value the table never held prunes to zero dirs (bloom has no
    // false negatives, and every dir carries one)
    assert(t.prunedDirsEq("term", "never-seen")._1.isEmpty)
    assert(t.snapshot(preV).count() == 1000,
      "pre-cluster version lost to the layout commit")
  }

  test("fanoFromCounts names the width-budget error even for " +
      "Long.MinValue (abs() would overflow past the gate — ADVICE r19)") {
    val s = spark
    import s.implicits._
    val frags = Seq(("g", Long.MinValue, 1L)).toDF("event_type", "value", "c")
    val e = intercept[Exception] {
      graft.operators.Stats.fanoFromCounts(frags, "event_type").collect()
    }
    assert(e.getMessage.contains("10^7 width budget"),
      s"wrong error: ${e.getMessage}")
  }

  test("cosineFromCounts fails LOUD past the 10^14 per-cell width budget " +
      "(silent decimal-NULL divergence class — ADVICE r19)") {
    val s = spark
    import s.implicits._
    val frags = Seq(("g1", "tok", 100000000000000L))
      .toDF("source", "value", "c")
    val e = intercept[Exception] {
      graft.operators.TextAnalysis.cosineFromCounts(frags, "source").collect()
    }
    assert(e.getMessage.contains("10^14 width budget"),
      s"wrong error: ${e.getMessage}")
  }
}
