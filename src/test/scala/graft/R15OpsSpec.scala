package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, LinkAnalysis, Stats, TextAnalysis}

/** Directed + differential pins for the r15 second-wave operators:
  * repeated-substring spans, bounded-hop SSSP, deterministic negative
  * sampling, and the drift monitor's fragment additivity. */
class R15OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------- dupSpans ----------------

  private def uniq(doc: Int, n: Int): Seq[String] =
    (0 until n).map(i => s"u${doc}_$i")

  test("dupSpans: maximal spans, offsets, island merge — directed") {
    val run = (1 to 10).map(i => s"t$i") // the shared 10-token run
    val tail4 = Seq("s1", "s2", "s3", "s4") // a second shared 4-run
    val docs = Seq(
      // run at 0-based offset 5 in d1, offset 0 in d2
      (1L, (uniq(1, 5) ++ run ++ uniq(1, 6)).mkString(" ")),
      (2L, (run ++ uniq(2, 7)).mkString(" ")),
      (3L, uniq(3, 20).mkString(" ")), // nothing shared
      (4L, (uniq(4, 3) ++ tail4 ++ uniq(4, 9)).mkString(" ")),
      (5L, (uniq(5, 8) ++ tail4).mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpans(docs, w = 4, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // a 10-token duplicated run with w=4 has 7 duplicated shingle
    // starts that must merge into ONE maximal island of 10 tokens
    assert(got === Seq(
      (1L, 5L, 10L, 7L), (2L, 0L, 10L, 7L),
      (4L, 3L, 4L, 1L), (5L, 8L, 4L, 1L)))
  }

  test("dupSpans: below minDocs finds nothing") {
    val docs = Seq(
      (1L, ((1 to 10).map(i => s"t$i") ++ uniq(1, 5)).mkString(" ")),
      (2L, uniq(2, 15).mkString(" "))
    ).toDF("doc_id", "text")
    assert(TextAnalysis.dupSpans(docs, w = 4, minDocs = 2).isEmpty)
  }

  test("dupSpans: xxhash64-keyed scale path ≡ string-keyed oracle path") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(hashKey: Boolean) =
      TextAnalysis.dupSpans(docs, w = 8, minDocs = 2, hashKey = hashKey)
        .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    val byString = rows(hashKey = false)
    assert(byString.nonEmpty, "fixture corpus should contain dup spans")
    assert(rows(hashKey = true) === byString)
  }

  // ---------------- ssspBounded ----------------

  test("ssspBounded ≡ hop-bounded DP reference on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
        (rnd.nextInt(9) + 1).toLong)
    }.distinct
    val hops = 4
    // reference: dist_k(v) = min cost over walks of <= k edges
    var ref = Map(0L -> 0L)
    for (_ <- 1 to hops) {
      val relaxed = edges.flatMap { case (s, d, w) =>
        ref.get(s).map(ds => d -> (ds + w)) }
      ref = (ref.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val got = LinkAnalysis.ssspBounded(
        edges.toDF("src", "dst", "w"), source = 0L, hops = hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref)
  }

  test("ssspBounded: more hops never increases a distance") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 80).map { _ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong,
        (rnd.nextInt(5) + 1).toLong)
    }.distinct.toDF("src", "dst", "w")
    val d2 = LinkAnalysis.ssspBounded(edges, 0L, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d5 = LinkAnalysis.ssspBounded(edges, 0L, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d2.foreach { case (node, dist) =>
      assert(d5.contains(node) && d5(node) <= dist,
        s"node $node regressed from $dist to ${d5.get(node)}")
    }
  }

  // ---------------- negativeSample ----------------

  test("negativeSample: deterministic, positive-free, slot-exact") {
    val positives = Seq((10L, 3L), (10L, 7L), (11L, 3L), (12L, 0L))
      .toDF("u", "it")
    val nCat = 10L
    val catalog = (0L until nCat).map(i => (i, i * 100)).toDF("idx", "item")
    def run() = Corpus.negativeSample(positives, "u", "it",
        catalog, "idx", "item", k = 3, nCatalog = nCat)
      .orderBy("anchor", "pos_item", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    val a = run()
    assert(a === run(), "sampling must be deterministic across runs")
    // slot arithmetic replayed in Scala, positives removed by hand
    val pos = Set((10L, 3L), (10L, 7L), (11L, 3L), (12L, 0L))
    // the anti-join compares CATALOG item ids (slot*100) against the
    // anchor's positive item ids — only (12, slot 0 → item 0) collides
    val expect = for {
      (u, it) <- pos.toSeq.sortBy(identity)
      j <- 1L to 3L
      slot = (u * 1000003L + it * 7919L + j * 104729L) % nCat
      if !pos.contains((u, slot * 100))
    } yield (u, it, j, slot * 100)
    assert(a.toSet === expect.toSet)
    // and no emitted negative may be a positive of the same anchor
    a.foreach { case (u, _, _, neg) =>
      assert(!pos.contains((u, neg)), s"positive leaked: $u $neg")
    }
  }

  // ---------------- featureDrift ----------------

  test("featureDrift: fragment commits ≡ one-shot, algebra exact") {
    val rnd = new scala.util.Random(99)
    val ref = (1 to 3000).map(_ => rnd.nextInt(200).toLong)
    val cur = (1 to 2000).map(_ => (rnd.nextInt(200) + 30).toLong)
    val oneShot = Stats.featureDrift(
        ref.toDF("v"), cur.toDF("v"), "v", binWidth = 25L)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    // replay the algebra in Scala
    def hist(xs: Seq[Long]) = xs.groupBy(_ / 25L).view.mapValues(_.size.toLong)
    val (hr, hc) = (hist(ref).toMap, hist(cur).toMap)
    val (tr, tc) = (ref.size.toLong, cur.size.toLong)
    val bins = (hr.keySet ++ hc.keySet).toSeq.sorted
    val expect = bins.map { b =>
      val (r, c) = (hr.getOrElse(b, 0L), hc.getOrElse(b, 0L))
      Seq(b, r, c, tr, tc, BigDecimal(math.abs(r * tc - c * tr)))
    }
    assert(oneShot.map(s => s.init :+ BigDecimal(s.last.toString)) === expect)
    // fragment the SAME data into 5 arbitrary (side, bin) count
    // commits — the merge must be invisible
    val frags = (ref.map(v => ("ref", v / 25L)) ++ cur.map(v => ("cur", v / 25L)))
      .zipWithIndex
      .map { case ((s, b), i) => (s, b, i % 5) }
      .toDF("side", "bin", "part")
      .groupBy(col("part"), col("side"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    val merged = Stats.featureDriftFromCounts(frags)
      .orderBy("bin").collect().map(_.toSeq).toSeq
    assert(merged === oneShot, "fragmented commits drifted from one-shot")
  }

  // ---------------- recursive prefix scan ----------------

  test("prefixOffsets: deep recursion ≡ plain cumsum; windows bounded") {
    val rnd = new scala.util.Random(3)
    // sparse keys across a range forcing 4+ levels at fanout 4
    val totals = (1 to 500).map(_ => rnd.nextLong(4000))
      .distinct.map(k => (k, rnd.nextInt(100).toLong + 1))
    val df = totals.toDF("bucket", "v")
    val got = Corpus.prefixOffsets(df, "bucket", "v", fanout = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sorted = totals.sortBy(_._1)
    val expect = sorted.map(_._1)
      .zip(sorted.map(_._2).scanLeft(0L)(_ + _).init).toMap
    assert(got === expect)
  }

  test("shardPack: recursive scan path ≡ the global-cumsum semantics") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 300L).map { id =>
      (id * 7, (1 to rnd.nextInt(20) + 1).map(i => s"w$i").mkString(" "))
    }.toDF("doc_id", "text")
    def shards(fanout: Long) =
      Corpus.shardPack(docs, budget = 64, bucketSize = 3L,
          scanFanout = fanout)
        .select("doc_id", "start_off", "shard_id")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // fanout large enough for a single level vs forced 4-level
    // recursion (700 buckets / fanout 5): identical packing
    assert(shards(1 << 20) === shards(5L))
  }

  // ---------------- skyline2D ----------------

  test("skyline2D ≡ quadratic dominance on tie-heavy random data") {
    val rnd = new scala.util.Random(21)
    // small value ranges force x-ties, y-ties, and exact duplicates
    val pts = (0L until 400L).map(id =>
      (id, rnd.nextInt(40).toLong * 5, rnd.nextInt(25).toLong))
    def dominated(p: (Long, Long, Long)) = pts.exists { q =>
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3)
    }
    val expect = pts.filterNot(dominated).map(_._1).toSet
    // several bucket widths, including one bucket per point and one
    // bucket for everything — the decomposition must be invariant
    Seq(1L, 7L, 50L, 1000L).foreach { w =>
      val got = Stats.skyline2D(pts.toDF("id", "x", "y"), "x", "y", w)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === expect, s"bucketWidth=$w drifted")
    }
  }

  // ---------------- power iteration ----------------

  test("powerIterationTop: Rayleigh residual ≈ 0, aligned with exact v2") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (v, lambda) = Stats.powerIterationTop(emb, "embedding", d = 64)
    assert(lambda > 0.0)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    // residual ||Gv - lambda v|| must be tiny relative to lambda
    val tri = Stats.gramMatrix(emb, "embedding", 64)
      .select(col("i"), col("j"), col("gram")).collect()
    val g = Array.ofDim[Double](64, 64)
    tri.foreach { r =>
      g(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2)
      g(r.getLong(1).toInt)(r.getLong(0).toInt) = r.getDouble(2)
    }
    val gv = Array.tabulate(64)(i => (0 until 64).map(j => g(i)(j) * v(j)).sum)
    val resid = math.sqrt(
      gv.zip(v).map { case (a, b) => (a - lambda * b) * (a - lambda * b) }.sum)
    assert(resid < 1e-6 * lambda, s"residual $resid vs lambda $lambda")
    // the exact steps are an EARLY Krylov estimate, not the converged
    // vector (the corpus' eigengap is small) — the true invariant is
    // that each power step monotonically raises the Rayleigh quotient
    // toward lambda on a PSD matrix
    val rows = Stats.powerIterationExact(emb, "embedding", d = 64)
      .orderBy("i").collect()
    val v1 = rows.map(_.getLong(1).toDouble)
    // v2 is the canonical digit string of the exact decimal (the r16
    // DECIMAL(38,0)-output gate rule)
    val v2 = rows.map(r => BigDecimal(r.getString(2)).toDouble)
    def rq(x: Array[Double]): Double = {
      val gx = Array.tabulate(64)(i => (0 until 64).map(j => g(i)(j) * x(j)).sum)
      x.zip(gx).map { case (a, b) => a * b }.sum / x.map(s => s * s).sum
    }
    val s0 = (0 until 64).maxBy(i => (g(i)(i), -i))
    val rq0 = g(s0)(s0)
    assert(rq0 <= rq(v1) * (1 + 1e-12) && rq(v1) <= rq(v2) * (1 + 1e-12) &&
      rq(v2) <= lambda * (1 + 1e-9),
      s"Rayleigh chain not monotone: $rq0, ${rq(v1)}, ${rq(v2)}, $lambda")
  }

  // ---------------- skyline merge law ----------------

  test("skyline merge law: skyline(∪ skyline(batch_i)) ≡ skyline(∪)") {
    val rnd = new scala.util.Random(77)
    val pts = (0L until 600L).map(id =>
      (id, rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val all = pts.toDF("id", "x", "y")
    val oneShot = Stats.skyline2D(all, "x", "y", 10L)
      .orderBy("id").collect().map(_.toSeq).toSeq
    // arbitrary 5-way batch split: per-batch frontiers, re-merged
    val frags = (0 until 5).map(b =>
      Stats.skyline2D(
        pts.filter(_._1 % 5 == b).toDF("id", "x", "y"), "x", "y", 10L))
      .reduce(_ unionAll _)
    val merged = Stats.skyline2D(frags, "x", "y", 10L)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(merged === oneShot, "per-batch frontier merge drifted")
  }

  // ---------------- cusumDaily ----------------

  test("cusumDaily ≡ sequential Scala fold; alarms fire on a shift") {
    // a controlled series: flat 10/day for 30 days, then 25/day —
    // built as events (one row per unit) so the operator's own
    // resample path runs
    val rows = (0 until 60).flatMap { day =>
      val n = if (day < 30) 10 else 12
      (0 until n).map(i =>
        ("g1", java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(day)
            .atStartOfDay().plusMinutes(i))))
    }
    val df = rows.toDF("event_type", "ts")
    val got = graft.operators.EventAnalytics.cusumDaily(df)
      .orderBy("day").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq
    // reference fold in Scala (exact integers, same parameters)
    val xs = (0 until 60).map(d => if (d < 30) 10L else 12L)
    val mu = xs.sum * 1000000L / xs.size
    val slack = mu / 20
    val h = slack * 5
    var (sp, sn) = (0L, 0L)
    val ref = xs.zipWithIndex.map { case (x, d) =>
      sp = math.max(0L, sp + (x * 1000000L - mu - slack))
      sn = math.max(0L, sn + (mu - x * 1000000L - slack))
      (d.toLong, x, sp, sn, sp > h || sn > h)
    }
    assert(got === ref)
    // the drift must alarm eventually, but not on day one
    assert(got.exists(_._5), "no alarm on a 20% level shift")
    assert(!got.head._5, "alarmed immediately at series start")
  }

  // ---------------- incremental dup spans ----------------

  test("dupSpansIncremental: corpus-bridged duplication — directed") {
    // the batch doc's run is UNIQUE within the batch; only the
    // corpus copy pushes its shingles over minDocs — the exact case
    // a batch-only rescan would miss
    val run = (1 to 6).map(i => s"t$i")
    val existing = Seq(
      (1L, (uniq(1, 4) ++ run ++ uniq(1, 3)).mkString(" ")),
      (2L, uniq(2, 12).mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (100L, (uniq(100, 2) ++ run ++ uniq(100, 5)).mkString(" ")),
      (101L, uniq(101, 10).mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpansIncremental(existing, batch,
        w = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq((100L, 2L, 6L)),
      s"expected the bridged span only, got $got")
    // and the batch alone must NOT find it
    assert(TextAnalysis.dupSpans(batch, w = 4, minDocs = 2).isEmpty)
  }

  test("dupSpansIncremental on q310's inputs (sf0.01) ≡ the full union " +
      "recompute restricted to batch docs") {
    val sf = TestSpark.sf001
    val inc = SparkEntry.queries("q310_incremental_dupspans")(spark, sf)
    val full = TextAnalysis.dupSpans(graft.Tables.documents(spark, sf),
      w = 8, minDocs = 2).filter(col("doc_id") % 5 === 0)
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incremental dup spans must equal the full recompute")
    assert(!full.isEmpty)
  }

  // ---------------- cusum fragments ----------------

  test("cusumFromDaily: fragmented day counts ≡ the batch fold") {
    val rnd = new scala.util.Random(31)
    val daily = for (g <- Seq("a", "b"); day <- 0L until 40L
                     if rnd.nextInt(10) > 0) // leave real gaps
      yield (g, day, rnd.nextInt(30).toLong + 1)
    val batch = graft.operators.EventAnalytics.cusumFromDaily(
        daily.toDF("g", "day", "n"))
      .orderBy("g", "day").collect().map(_.toSeq).toSeq
    // 4-way fragmentation of each day's count
    val frags = daily.flatMap { case (g, day, n) =>
      (0 until 4).map(i => (g, day, n / 4 + (if (i < n % 4) 1 else 0)))
    }.filter(_._3 > 0)
    val merged = graft.operators.EventAnalytics.cusumFromDaily(
        frags.toDF("g", "day", "n"))
      .orderBy("g", "day").collect().map(_.toSeq).toSeq
    assert(merged === batch, "fragment merge drifted from batch fold")
  }

  // ---------------- personalized PageRank ----------------

  test("pageRankPersonalizedInt ≡ integer reference replay") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    val src = 3L
    val scale = 1000000000000L
    val base = 150000000000L
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var ref = nodes.map(n => n -> (if (n == src) scale else 0L)).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => ref(e._1) / od(e._1)).sum
      }
      ref = nodes.map(n =>
        n -> ((if (n == src) base else 0L) +
          85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = graft.operators.LinkAnalysis.pageRankPersonalizedInt(
        edges.toDF("src", "dst"), src, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref)
  }

  // ---------------- ROC AUC ----------------

  test("rocAuc ≡ brute-force pair enumeration, ties included") {
    val rnd = new scala.util.Random(17)
    val rows = for (g <- Seq("a", "b"); i <- 1 to 200) yield
      // scores from a SMALL domain so ties are dense
      (g, rnd.nextInt(12).toLong, if (rnd.nextInt(3) == 0) 1L else 0L)
    val got = Stats.rocAuc(rows.toDF("g", "s", "y"), "g",
        col("y"), col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for (g <- Seq("a", "b")) {
      val ps = rows.filter(r => r._1 == g && r._3 == 1L).map(_._2)
      val ns = rows.filter(r => r._1 == g && r._3 == 0L).map(_._2)
      val num2 = (for (p <- ps; n <- ns) yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      val want = num2.toDouble / 2.0 / ps.size.toDouble / ns.size.toDouble
      assert(got(g) === ((ps.size.toLong, ns.size.toLong, want)),
        s"group $g drifted from the pair enumeration")
    }
  }

  // ---------------- ranking eval ----------------

  test("rankingEval: AP@k and MRR@k — directed + brute force") {
    // query A: relevant at ranks 2 and 5 of 6, R=2
    //   ap = (1/2 + 2/5) / 2 = 0.45, rr = 1/2
    val a = Seq((9L, 0L), (8L, 1L), (7L, 0L), (6L, 0L), (5L, 1L), (4L, 0L))
    // query B: no relevant anywhere → NULL metrics
    val b = Seq((9L, 0L), (8L, 0L))
    // query C: 15 items, rel every 3rd — exercises the k cut AND
    //   r_total (4) > relevant-in-top-k (3)
    val c = (0 until 15).map(i => ((100 - i).toLong,
      if (i % 3 == 2) 1L else 0L))
    val df = (a.map(("A", _)) ++ b.map(("B", _)) ++ c.map(("C", _)))
      .zipWithIndex
      .map { case ((q, (sc, rel)), i) => (q, sc, i.toLong, rel) }
      .toDF("q", "sc", "tie", "rel")
    val got = Stats.rankingEval(df, "q", col("sc"), col("tie"),
        col("rel"), k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("A") === ((2L, Some(0.45d), Some(0.5d))))
    assert(got("B") === ((0L, None, None)))
    // C: 5 relevant total (i = 2,5,8,11,14), ranks 3/6/9 inside the
    // k=10 cut with hits 1/2/3; denominator min(R, k) = 5 — the
    // exact integer form, replayed as the operator computes it
    val lcm = Stats.RANK_LCM
    val apC = (1L * (lcm / 3) + 2L * (lcm / 6) + 3L * (lcm / 9)).toDouble /
      (lcm * 5L).toDouble
    assert(got("C") === ((5L, Some(apC), Some(1.0d / 3))))
  }

  // ---------------- KS test ----------------

  test("ksTest ≡ brute-force ECDF max over both populations") {
    val rnd = new scala.util.Random(11)
    val rows = for (g <- Seq("a", "b"); _ <- 1 to 300) yield
      (g, rnd.nextInt(25).toLong + (if (rnd.nextBoolean()) 5 else 0),
        rnd.nextInt(2).toLong)
    val got = Stats.ksTest(rows.toDF("g", "v", "side"), "g",
        col("v"), col("side"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for (g <- Seq("a", "b")) {
      val as = rows.filter(r => r._1 == g && r._3 == 0L).map(_._2)
      val bs = rows.filter(r => r._1 == g && r._3 == 1L).map(_._2)
      val vs = (as ++ bs).distinct.sorted
      val dnum = vs.map(v =>
        math.abs(as.count(_ <= v).toLong * bs.size -
          bs.count(_ <= v).toLong * as.size)).max
      val want = dnum.toDouble / (as.size.toLong * bs.size).toDouble
      assert(got(g) === ((as.size.toLong, bs.size.toLong, want)),
        s"group $g drifted from the ECDF replay")
    }
  }

  // ---------------- KS fragments ----------------

  test("ksFromCounts: fragmented side counts ≡ the batch statistic") {
    val rnd = new scala.util.Random(29)
    val rows = for (g <- Seq("a", "b"); _ <- 1 to 250) yield
      (g, rnd.nextInt(30).toLong, rnd.nextInt(2).toLong)
    val batch = Stats.ksTest(rows.toDF("g", "v", "side"), "g",
        col("v"), col("side"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    // 3-way fragmentation of each (g, v) count pair
    val frags = rows.groupBy(r => (r._1, r._2)).toSeq.flatMap {
      case ((g, v), rs) =>
        val (ca, cb) = (rs.count(_._3 == 0L).toLong,
          rs.count(_._3 == 1L).toLong)
        (0 until 3).map(i => (g, v,
          ca / 3 + (if (i < ca % 3) 1L else 0L),
          cb / 3 + (if (i < cb % 3) 1L else 0L)))
    }.filter(r => r._3 > 0 || r._4 > 0)
    val merged = Stats.ksFromCounts(frags.toDF("g", "v", "ca", "cb"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    assert(merged === batch, "fragment merge drifted from batch KS")
  }

  // ---------------- source similarity ----------------

  test("sourceSimilarity ≡ weighted-Jaccard replay") {
    val docs = Seq(
      ("sA", "x x x y z"), ("sA", "x y"),
      ("sB", "x y y z z z"), ("sC", "w w")
    ).toDF("source", "text")
    val got = graft.operators.TextAnalysis.sourceSimilarity(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def counts(s: String*) = s.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (ca, cb) = (counts("x x x y z", "x y"), counts("x y y z z z"))
    val smin = (ca.keySet & cb.keySet).toSeq
      .map(t => math.min(ca(t), cb(t))).sum
    val j = smin.toDouble /
      (ca.values.sum + cb.values.sum - smin).toDouble
    assert(got(("sA", "sB")) === ((smin, j)))
    // sC shares no token with anyone → no pair rows for it
    assert(!got.keySet.exists(p => p._1 == "sC" || p._2 == "sC"))
  }

  // ---------------- centroid drift ----------------

  test("centroidDrift: identical sides → 1.0; integer replay exact") {
    val mk = (id: Long, l: Int, v: Seq[Double]) =>
      (id, v.map(_.toFloat).toArray, l)
    val vecs = Seq(
      mk(0L, 1, Seq(0.5, 0.25, -0.125)), mk(1L, 1, Seq(0.5, 0.25, -0.125)),
      mk(2L, 2, Seq(1.0, 0.0, 0.5)), mk(3L, 2, Seq(0.0, 1.0, 0.25)),
      mk(4L, 2, Seq(0.5, 0.5, 0.125)), mk(5L, 2, Seq(0.25, -0.5, 2.0)))
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.centroidDrift(
        vecs.filter(col("vec_id") % 2 === 0),
        vecs.filter(col("vec_id") % 2 === 1))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(1) === 1.0d, "identical centroids must give exactly 1.0")
    // label 2 replayed in exact integer space (dyadic values: the
    // 2^30 quantization is exact)
    val q = 1073741824L
    def qv(v: Seq[Double]) = v.map(x => math.floor(x * q).toLong)
    val r2 = Seq(qv(Seq(1.0, 0.0, 0.5)), qv(Seq(0.5, 0.5, 0.125)))
      .transpose.map(_.sum)
    val c2 = Seq(qv(Seq(0.0, 1.0, 0.25)), qv(Seq(0.25, -0.5, 2.0)))
      .transpose.map(_.sum)
    val dot = r2.zip(c2).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    val n2r = r2.map(a => BigInt(a) * BigInt(a)).sum
    val n2c = c2.map(a => BigInt(a) * BigInt(a)).sum
    val want = dot.toDouble / (math.sqrt(n2r.toDouble) * math.sqrt(n2c.toDouble))
    assert(got(2) === want)
  }

  // ---------------- repetition ratio ----------------

  test("repetitionRatio: directed bigram counts") {
    val docs = Seq(
      (1L, "a b a b a"),   // bigrams: ab ba ab ba → 4 grams, 2 distinct
      (2L, "x y z"),       // 2 grams, 2 distinct → ratio 0
      (3L, "w")            // shorter than n → dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRatio(docs, n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((1L, 4L, 2L, 0.5d), (2L, 2L, 2L, 0.0d)))
  }

  // ---------------- heavy hitters ----------------

  test("heavyHitters: exact output under adversarial partitionings") {
    val rnd = new scala.util.Random(7)
    // zipf-ish: token z0 everywhere, z1 half, then a long tail
    val toks = Seq.fill(300)("z0") ++ Seq.fill(150)("z1") ++
      Seq.fill(60)("z2") ++ (1 to 400).map(i => s"tail${i % 97}")
    val docs = rnd.shuffle(toks).grouped(10).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val n = toks.size.toLong
    val k = 5
    val want = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * (k + 1) > n }
      .toMap
    for (parts <- Seq(1, 3, 13)) {
      val got = graft.operators.TextAnalysis
        .heavyHitters(docs.repartition(parts), k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want, s"heavy hitters drifted at $parts partitions")
    }
  }

  // ---------------- item cosine ----------------

  test("itemCosine ≡ brute-force replay; cap keeps first items") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 400).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(12).toLong))
    val df = rows.toDF("u", "i")
    val ui = rows.distinct
    val deg = ui.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = ui.groupBy(_._1).values.toSeq
      .flatMap { items =>
        val is = items.map(_._2).sorted
        for (a <- is; b <- is if a < b) yield (a, b)
      }
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2L)
      .map { case ((a, b), co) =>
        (a, b) -> (co, co.toDouble / math.sqrt(
          deg(a).toDouble * deg(b).toDouble))
      }.toMap
    val got = graft.operators.EventAnalytics
      .itemCosine(df, "u", "i", minCo = 2, maxItemsPerUser = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(got === want)
    // cap = 2: user 1 touches items 5,3,9 → only (3,5) survives
    val capped = graft.operators.EventAnalytics.itemCosine(
        Seq((1L, 5L), (1L, 3L), (1L, 9L), (2L, 3L), (2L, 5L))
          .toDF("u", "i"),
        "u", "i", minCo = 2, maxItemsPerUser = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped === Seq((3L, 5L)))
  }

  // ---------------- k-anonymity ----------------

  test("kAnonymity: flags exactly the sub-k combos") {
    val df = (Seq.fill(6)(("a", 1L)) ++ Seq.fill(2)(("a", 2L)) ++
      Seq.fill(1)(("b", 1L)) ++ Seq.fill(5)(("b", 2L)))
      .toDF("qa", "qb")
    val got = graft.operators.Profile.kAnonymity(df, Seq("qa", "qb"), 5)
      .orderBy("qa", "qb")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq(("a", 2L, 2L), ("b", 1L, 1L)))
  }

  // ---------------- calibration bins ----------------

  test("calibrationBins: exact bin stats — directed") {
    val rows = Seq(
      (50L, 0L), (50L, 1L),          // bin 0: mean .05, rate .5
      (540L, 1L), (560L, 0L), (555L, 1L), // bin 5
      (990L, 1L))                    // bin 9
    val got = Stats.calibrationBins(rows.toDF("p", "y"),
        col("p"), col("y"), bins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(6))).toSeq
    val b0brier = ((50.0 * 50 + 950.0 * 950) / 2) / 1e6
    val b5mean = (540.0 + 560 + 555) / 3000
    val b5brier = ((460.0 * 460) + (560.0 * 560) + (445.0 * 445)) / 3 / 1e6
    assert(got === Seq(
      (0L, 2L, 1L, 0.05d, 0.5d, b0brier),
      (5L, 3L, 2L, b5mean, 2.0d / 3, b5brier),
      (9L, 1L, 1L, 0.99d, 1.0d, (10.0 * 10) / 1e6)))
  }
}
