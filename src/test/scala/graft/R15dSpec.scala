package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, EventAnalytics, Integrity, Multimodal, Stats}

/** Differential pins for the r15 batch-3 operators.
  *
  *  - setSimilarityJoin vs a BRUTE-FORCE all-pairs Jaccard sweep: the
  *    prefix filter's recall-1.0 theorem is checked empirically on
  *    random corpora with planted near-duplicates — output pair sets
  *    (and inter/union counts) must be IDENTICAL, both directions
  *    (no missed pair, no extra pair).
  *  - journeyConformance: directed fixture with hand-computed
  *    journeys and edit distances, plus the prefix-cap contract. */
class R15dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until 60).map { i =>
      (i.toLong,
        (0 until (15 + rnd.nextInt(25)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // planted near-dups: append/drop a word — Jaccard stays high
    val dups = (0 until 12).map { j =>
      val (_, t) = base(j * 3)
      val toks = t.split(" ")
      val mut =
        if (j % 2 == 0) (toks :+ vocab(j % vocab.size)).mkString(" ")
        else toks.drop(1).mkString(" ")
      ((100 + j).toLong, mut)
    }
    base ++ dups
  }

  private def bruteJaccard(docs: Seq[(Long, String)], n: Int,
                           num: Int, den: Int): Set[(Long, Long, Long, Long)] = {
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      un = (sa | sb).size.toLong
      if inter * den >= un * num
    } yield (a, b, inter, un)).toSet
  }

  test("setSimilarityJoin ≡ brute-force all-pairs Jaccard (two seeds)") {
    Seq(421, 977).foreach { seed =>
      val docs = corpus(seed).toDF("doc_id", "text")
      val got = Dedup.setSimilarityJoin(docs, n = 3, minJacNum = 4,
          minJacDen = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = bruteJaccard(corpus(seed), 3, 4, 5)
      assert(got == want,
        s"seed $seed: missed=${want -- got} extra=${got -- want}")
      assert(want.nonEmpty, s"seed $seed: fixture planted no near-dups")
    }
  }

  test("setSimilarityJoin at a lower threshold still exact") {
    val docs = corpus(31).toDF("doc_id", "text")
    val got = Dedup.setSimilarityJoin(docs, n = 2, minJacNum = 3,
        minJacDen = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == bruteJaccard(corpus(31), 2, 3, 5))
  }

  test("setSimilarityJoinAgainst ≡ full join filtered to incoming pairs") {
    val all = corpus(77)
    val inc = all.filter(_._1 % 3 == 0)
    val cor = all.filter(_._1 % 3 != 0)
    val got = Dedup.setSimilarityJoinAgainst(
        inc.toDF("doc_id", "text"), cor.toDF("doc_id", "text"),
        n = 3, minJacNum = 4, minJacDen = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = bruteJaccard(all, 3, 4, 5)
      .filter(p => p._1 % 3 == 0 || p._2 % 3 == 0)
    assert(got == want,
      s"missed=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "fixture planted no incoming-touching pairs")
    assert(want.exists(p => p._1 % 3 == 0 && p._2 % 3 == 0) ||
      want.exists(p => p._1 % 3 != 0 || p._2 % 3 != 0),
      "fixture covers batch-internal or batch-corpus pairs")
  }

  test("setSimilarityJoinAgainst on q333's inputs (sf0.01) ≡ the full " +
      "join filtered to batch-touching pairs") {
    val sf = TestSpark.sf001
    val inc = SparkEntry.queries("q333_setsim_incremental")(spark, sf)
    val full = Dedup.setSimilarityJoin(graft.Tables.documents(spark, sf),
        n = 3, minJacNum = 4, minJacDen = 5)
      .filter(col("doc_a") % 7 === 0 || col("doc_b") % 7 === 0)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "incremental set-similarity diverged from the full recompute")
    assert(!full.isEmpty)
  }

  test("setSimilarityJoinAgainst rejects overlapping doc-id spaces") {
    val d = corpus(5).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.setSimilarityJoinAgainst(d, d, n = 3)
    }
  }

  test("theilSenDaily: outlier-immune slope ≡ brute-force median of pair slopes") {
    // 21 days of exactly day+5 events, one 300-event outlier day
    val rows = (0 to 20).flatMap { day =>
      val n = if (day == 10) 300 else day + 5
      (1 to n).map(i =>
        (s"t", java.sql.Timestamp.valueOf(f"2020-01-${day + 1}%02d 12:00:00"),
          day.toLong * 1000 + i))
    }
    val ev = rows.toDF("event_type", "ts", "event_id")
    val out = Stats.theilSenDaily(ev).collect().head
    // brute force over the daily grid
    val counts = (0 to 20).map(d => (d.toLong, if (d == 10) 300L else d + 5L))
    val slopes = for {
      (d1, x1) <- counts; (d2, x2) <- counts if d1 < d2
    } yield ((x2 - x1).toDouble / (d2 - d1).toDouble, d1, d2)
    val sorted = slopes.sortBy(s => (s._1, s._2, s._3))
    val medSlope = sorted((sorted.size + 1) / 2 - 1)._1
    assert(out.getLong(1) == slopes.size)
    assert(out.getDouble(3) == medSlope)
    // the outlier day cannot drag the median off the planted trend
    assert(math.abs(out.getDouble(3) - 1.0) < 0.2,
      s"outlier moved the Theil-Sen slope: ${out.getDouble(3)}")
    val bs = counts.map { case (d, x) => (x.toDouble - medSlope * d.toDouble, d) }
      .sortBy(identity)
    assert(out.getDouble(4) == bs((bs.size + 1) / 2 - 1)._1)
  }

  test("twoProportionZ: exact chain on a directed fixture; degenerate NULLs") {
    val ev = (
      (1 to 40).map(u => (u.toLong, "view", u.toLong)) ++
      (1 to 40).filter(u => u % 2 == 0 && u <= 24).map(u => (u.toLong, "purchase", 1000L + u)) ++
      (1 to 40).filter(u => u % 2 == 1 && u <= 9).map(u => (u.toLong, "purchase", 2000L + u))
    ).toDF("user_id", "event_type", "event_id")
    val out = Stats.twoProportionZ(ev, col("user_id") % 2).collect().head
    val (n0, x0, n1, x1) = (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    assert((n0, n1) == (20L, 20L))
    assert((x0, x1) == (12L, 5L)) // even users <= 24 convert; odd <= 9
    val p0 = x0.toDouble / n0; val p1 = x1.toDouble / n1
    val p = (x0 + x1).toDouble / (n0 + n1)
    val se = math.sqrt((p * (1.0 - p)) * (1.0 / n0 + 1.0 / n1))
    assert(out.getDouble(4) == (p1 - p0) / se)
    assert(out.getBoolean(5) == (math.abs((p1 - p0) / se) > 1.96))
    // all users convert -> se = 0 -> NULL z, never 0/0
    val deg = (1 to 10).flatMap(u => Seq((u.toLong, "view", u.toLong),
      (u.toLong, "purchase", 100L + u))).toDF("user_id", "event_type", "event_id")
    val d = Stats.twoProportionZ(deg, col("user_id") % 2).collect().head
    assert(d.isNullAt(4) && d.isNullAt(5))
  }

  test("frameSample: byte-exact frames, stride, partial-frame drop") {
    val clips = Seq(
      (1L, "abcdefghij"), // 2 full 4-byte frames + partial "ij"
      (2L, "xyz"),        // shorter than one frame: vanishes
      (3L, "0123456789abcdef") // 4 full frames, stride keeps 0 and 2
    ).toDF("doc_id", "text")
      .withColumn("clip", encode(col("text"), "UTF-8"))
    val out = Multimodal.frameSample(clips, "doc_id", "clip",
        frameBytes = 4, every = 2)
      .orderBy("doc_id", "frame_idx").collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1),
      new String(r.getAs[Array[Byte]](2), "UTF-8"), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 0L, "abcd", 4L),
      (3L, 0L, "0123", 4L), (3L, 2L, "89ab", 4L)))
    val md5s = out.map(_.getString(3))
    assert(md5s.forall(_.length == 32))
  }

  test("shallowClone: zero-copy, bidirectional isolation after divergence") {
    val src = graft.lake.LakeTable.createTemp(spark,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "r15d-src")
    val cloneRoot = graft.lake.TempDirs.create("r15d-dst").resolve("t")
    val cl = src.shallowClone(cloneRoot)
    // identical snapshots, no data files owned by the clone
    assert(cl.snapshot().exceptAll(src.snapshot()).isEmpty)
    assert(src.snapshot().exceptAll(cl.snapshot()).isEmpty)
    def ownedParquet(): Int = {
      val w = java.nio.file.Files.walk(cloneRoot)
      try {
        var n = 0
        val it = w.iterator()
        while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
        n
      } finally w.close()
    }
    assert(ownedParquet() == 0, "shallow clone copied data files")
    // divergence: clone append invisible to source, source append
    // invisible to clone
    cl.append((100 to 104).map(i => (i.toLong, s"c$i")).toDF("id", "v"))
    src.append((200 to 209).map(i => (i.toLong, s"s$i")).toDF("id", "v"))
    assert(cl.snapshot().count() == 55)
    assert(src.snapshot().count() == 60)
    assert(cl.snapshot().filter(col("id") >= 200).isEmpty)
    assert(src.snapshot().filter(col("id").between(100, 104)).isEmpty)
  }

  test("ppsSampleStratified: k picks per stratum, repartition-proof") {
    val rnd = new scala.util.Random(912)
    val docs = (1 to 400).map(i =>
      (i.toLong, s"s${i % 4}", 20L + rnd.nextInt(500)))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.ppsSampleStratified(docs, "n_chars", 15, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    out.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.map(_._3).sum == 15, s"stratum $g grid did not sum to k")
    }
    assert(out.map(_._1).distinct.length == 4)
    val re = Corpus.ppsSampleStratified(docs.repartition(7), "n_chars",
        15, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(re.sortBy(r => (r._1, r._2)).toSeq ==
      out.sortBy(r => (r._1, r._2)).toSeq)
    val zero = docs.withColumn("n_chars",
      when(col("source") === "s0", lit(0L)).otherwise(col("n_chars")))
    intercept[IllegalArgumentException] {
      Corpus.ppsSampleStratified(zero, "n_chars", 5, "source")
    }
  }

  test("merkleDiff ≡ direct by-key diff; level-1 touches only dirty buckets") {
    val rnd = new scala.util.Random(1242)
    val base = (1L to 800L).map(i => (i, s"p${rnd.nextInt(1000)}"))
    val aRows = base
    val bRows = base.filter(_._1 % 101 != 7) // deletions
      .map { case (k, v) => if (k % 97 == 3) (k, v + "!") else (k, v) } // edits
      .++((9001L to 9005L).map(i => (i, s"new$i"))) // additions
    val a = aRows.toDF("k", "v")
    val b = bRows.toDF("k", "v")
    val got = Integrity.merkleDiff(a, b, "k", Seq("k", "v"), buckets = 32)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val am = aRows.toMap; val bm = bRows.toMap
    val want = ((am.keySet ++ bm.keySet).flatMap { k =>
      (am.get(k), bm.get(k)) match {
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case (Some(_), None) => Some(k -> "only_a")
        case (None, Some(_)) => Some(k -> "only_b")
        case _ => None
      }
    }).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // the dirty-bucket set covers exactly the differing keys' buckets
    val dirty = Integrity.dirtyBuckets(a, b, "k", Seq("k", "v"), 32)
      .collect().map(_.getLong(0)).toSet
    val wantBuckets = a.sparkSession.createDataFrame(
        want.keys.toSeq.map(Tuple1(_))).toDF("k")
      .select(Integrity.bucketExpr("k", 32).as("b"))
      .collect().map(_.getLong(0)).toSet
    assert(wantBuckets.subsetOf(dirty), "a differing key's bucket was pruned")
    assert(dirty.size < 32, "no pruning happened on a mostly-equal table")
  }

  test("jackknifeRatio ≡ an independent Scala replay of the exact chain") {
    val rnd = new scala.util.Random(740)
    val rows = (1 to 500).map { i =>
      val b = 1L + rnd.nextInt(200)
      val a = if (rnd.nextBoolean()) b else 0L
      (s"g${i % 2}", a, b)
    }
    val out = Stats.jackknifeRatio(rows.toDF("g", "a", "b"), "g",
        col("a"), col("b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.size.toLong
      val sa = rs.map(_._2).sum; val sb = rs.map(_._3).sum
      val reps = rs.map { case (_, a, b) =>
        (sa - a).toDouble / (sb - b).toDouble }
      val rq = reps.map(r => math.floor(r * 1e6).toLong)
      val s1 = rq.map(BigInt(_)).sum
      val s2 = rq.map(x => BigInt(x) * BigInt(x)).sum
      val nD = n.toDouble
      val num = (s2 * n - s1 * s1).toDouble
      val se = math.sqrt((num / (nD * nD)) * ((nD - 1.0) / nD)) / 1e6
      val (gn, gneff, gratio, gse) = out(g)
      assert((gn, gneff) == (n, n))
      assert(gratio == sa.toDouble / sb.toDouble)
      assert(gse == se, s"group $g jackknife SE")
    }
  }

  test("topKOther: exact tail fold, stable labels") {
    val rows = (1 to 1000).map(i => (i.toLong % 13, (i % 7) + 0.25))
    val out = Stats.topKOther(rows.toDF("key", "value"),
        col("key"), col("value"), k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.count(_._1 != "other") == 4)
    assert(out.map(_._2).sum == 1000L)
    val totAll = rows.map(r => BigDecimal(r._2).setScale(2)).sum
    assert(out.map(r => BigDecimal(r._3).setScale(2)).sum == totAll)
  }

  test("topKOther: long and negative keys keep distinct labels (no lpad truncation)") {
    // lpad(s, 2, "0") TRUNCATES strings longer than 2 — keys 123, 124
    // and -15, -16 used to collapse to "k=12" / "k=-1" (ADVICE r15)
    val rows = Seq(123L, 124L, -15L, -16L, 7L).flatMap(k =>
      (1 to 3).map(_ => (k, 1.0)))
    val out = Stats.topKOther(rows.toDF("key", "value"),
        col("key"), col("value"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val labels = out.map(_._1).toSet
    assert(labels == Set("k=123", "k=124", "k=-15", "k=-16", "k=07"),
      labels.toString)
    assert(out.map(_._2).sum == 15L)
  }

  test("journeyConformance: directed journeys, distances, prefix cap") {
    val ev = Seq(
      // user 1 follows the canonical "svc" exactly, then noise beyond
      // the prefix cap that must NOT affect the journey
      (1L, "signup", 1L, 1L), (1L, "view", 2L, 2L), (1L, "click", 3L, 3L),
      (1L, "error", 4L, 4L),
      // user 2: one substitution (view -> error)
      (2L, "signup", 1L, 5L), (2L, "error", 2L, 6L), (2L, "click", 3L, 7L),
      // user 3: ts tie broken by event_id
      (3L, "view", 1L, 9L), (3L, "signup", 1L, 8L), (3L, "click", 2L, 10L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = EventAnalytics.journeyConformance(ev, canonical = "svc",
        prefixLen = 3, maxDist = 1, tsCol = "ts")
      .orderBy("user_id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("svc", "sec", "svc"))
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 1L, 0L))
    assert(out.map(_.getBoolean(3)).toSeq == Seq(true, true, true))
    val strict = EventAnalytics.journeyConformance(ev, canonical = "svc",
        prefixLen = 3, maxDist = 0, tsCol = "ts")
      .orderBy("user_id").collect()
    assert(strict.map(_.getBoolean(3)).toSeq == Seq(true, false, true))
  }
}
