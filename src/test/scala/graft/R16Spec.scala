package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, Integrity, LinkAnalysis, Stats, TextAnalysis}

/** Differential pins for the r16 operator batch — every operator
  * replayed against an independent Scala implementation on seeded
  * random data (the R13/R14/R15 differential discipline), plus the
  * fragment-additivity and recall-1.0 contracts the streaming and
  * containment faces rely on. */
class R16Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._


  // ---------------- giniExact ----------------

  test("giniExact ≡ rank-sum replay; all-zero group yields NULL gini") {
    val rnd = new scala.util.Random(1601)
    val rows = (1 to 2000).map(i =>
      (s"g${i % 3}", rnd.nextInt(50).toLong * 25, i.toLong)) ++
      (1 to 40).map(i => ("gz", 0L, 10000L + i)) // all-zero group
    val out = Stats.giniExact(rows.toDF("g", "x", "tie"), "g",
        col("x"), col("tie"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
      val n = sorted.size.toLong
      val sx = sorted.map(BigInt(_)).sum
      val srx = sorted.zipWithIndex
        .map { case (x, i) => BigInt(i + 1) * 2 * x }.sum
      val expect =
        if (sx == 0) None
        else Some((srx - BigInt(n + 1) * sx).toDouble /
          (BigInt(n) * sx).toDouble)
      val (gn, gsx, gg) = out(g)
      assert(gn == n && BigInt(gsx) == sx)
      assert(gg == expect, s"group $g gini")
    }
  }

  // ---------------- chao1 ----------------

  test("chao1 ≡ abundance replay") {
    val rnd = new scala.util.Random(77)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g", "hh",
      "iii", "jj", "kk", "lm", "nop", "qr", "st")
    val docs = (1 to 80).map { i =>
      (i.toLong, (1 to rnd.nextInt(12) + 1)
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"lang${i % 2}")
    }.toDF("doc_id", "text", "lang")
    val out = TextAnalysis.chao1(docs, "lang").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    docs.collect().map(r => (r.getString(2), r.getString(1)))
      .groupBy(_._1).foreach { case (lang, ds) =>
        val counts = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val d = counts.size.toLong
        val f1 = counts.values.count(_ == 1L).toLong
        val f2 = counts.values.count(_ == 2L).toLong
        val expect = d.toDouble +
          f1.toDouble * (f1 - 1L).toDouble / (2.0 * (f2 + 1L).toDouble)
        assert(out(lang) == ((d, f1, f2, expect)), s"lang $lang")
      }
  }

  // ---------------- trimmedMean ----------------

  test("trimmedMean ≡ sorted-drop replay across trim fractions") {
    val rnd = new scala.util.Random(1603)
    val rows = (1 to 1500).map(i =>
      (s"g${i % 4}", rnd.nextInt(1000).toLong - 200, i.toLong))
    Seq((1, 10), (1, 4), (0, 5)).foreach { case (tn, td) =>
      val out = Stats.trimmedMean(rows.toDF("g", "x", "tie"), "g",
          col("x"), col("tie"), trimNum = tn, trimDen = td,
          bucketWidth = 97.0)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
        val k = (sorted.size * tn) / td
        val kept = sorted.slice(k, sorted.size - k)
        val expect = kept.map(BigInt(_)).sum.toDouble / kept.size.toDouble
        assert(out(g) == ((kept.size.toLong, expect)),
          s"group $g trim $tn/$td")
      }
    }
  }

  // ---------------- modeBy ----------------

  test("modeBy: highest count wins, ties to the smallest value") {
    val rows = Seq(
      ("a", 5L), ("a", 5L), ("a", 3L), ("a", 3L), ("a", 9L), // tie 5 vs 3
      ("b", 7L), ("b", 1L), ("b", 7L),
      ("c", -2L), ("c", -2L), ("c", -9L), ("c", -9L)) // tie → -9
    val out = Stats.modeBy(rows.toDF("g", "v"), "g", col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map("a" -> (3L, 2L), "b" -> (7L, 2L), "c" -> (-9L, 2L)))
  }

  // ---------------- wilsonInterval ----------------

  test("wilsonInterval ≡ scalar chain replay; fragments fold bit-exactly") {
    val rnd = new scala.util.Random(1605)
    val rows = (1 to 900).map(i =>
      (s"g${i % 3}", if (rnd.nextInt(7) == 0) 1L else 0L))
    val df = rows.toDF("g", "s")
    val out = Stats.wilsonInterval(df, "g", col("s")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.size.toDouble
      val x = rs.map(_._2).sum.toDouble
      val p = x / n
      val z2 = 1.96 * 1.96
      val center = p + z2 / (2.0 * n)
      val half = 1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
      val denom = 1.0 + z2 / n
      val (gn, gx, gp, glo, ghi) = out(g)
      assert((gn, gx) == ((rs.size.toLong, rs.map(_._2).sum)))
      assert(gp == p && glo == (center - half) / denom &&
        ghi == (center + half) / denom, s"group $g")
    }
    // additivity: arbitrary 5-way fragmenting of (n, x) totals
    val frags = rows.zipWithIndex
      .map { case ((g, s), i) => (g, s, i % 5) }
      .toDF("g", "s", "part")
      .groupBy(col("part"), col("g"))
      .agg(count(lit(1)).as("n"), sum(col("s")).cast("long").as("x"))
      .drop("part")
    val folded = Stats.wilsonFromTotals(frags, "g")
      .collect().map(_.toSeq).toSet
    val oneShot = Stats.wilsonInterval(df, "g", col("s"))
      .collect().map(_.toSeq).toSet
    assert(folded == oneShot, "fragmented totals drifted from one-shot")
  }

  // ---------------- diversityIndex ----------------

  test("diversityIndex ≡ rational replay; count fragments fold bit-exactly") {
    val rnd = new scala.util.Random(1606)
    val rows = (1 to 1200).map(i =>
      (s"g${i % 3}", s"c${rnd.nextInt(6)}"))
    val df = rows.toDF("g", "cat")
    val out = Stats.diversityIndex(df, "g", col("cat")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val cnts = rs.groupBy(_._2).view.mapValues(_.size.toLong).values.toSeq
      val n = cnts.sum
      val s2 = cnts.map(c => BigInt(c) * BigInt(c)).sum
      val expect = (BigInt(n) * BigInt(n) - s2).toDouble /
        (BigInt(n) * BigInt(n)).toDouble
      assert(out(g) == ((cnts.size.toLong, n, expect)), s"group $g")
    }
    val frags = rows.zipWithIndex
      .map { case ((g, c), i) => (g, c, i % 4) }
      .toDF("g", "cat", "part")
      .groupBy(col("part"), col("g"), col("cat"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    val folded = Stats.diversityFromCounts(frags, "g")
      .collect().map(_.toSeq).toSet
    assert(folded == Stats.diversityIndex(df, "g", col("cat"))
      .collect().map(_.toSeq).toSet)
  }

  // ---------------- cumulativeGains ----------------

  test("cumulativeGains ≡ sorted-decile replay, tie-heavy scores") {
    val rnd = new scala.util.Random(1607)
    val rows = (1 to 1000).map(i =>
      (rnd.nextInt(40).toLong * 5, // heavy score ties
        if (rnd.nextInt(4) == 0) 1L else 0L, i.toLong))
    val out = Stats.cumulativeGains(rows.toDF("score", "y", "tie"),
        col("score"), col("y"), col("tie"), k = 10, bucketWidth = 13.0)
      .orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    val sorted = rows.sortBy(r => (-r._1, r._3))
    val n = sorted.size
    val totPos = sorted.map(_._2).sum
    val byDec = sorted.zipWithIndex
      .groupBy { case (_, i) => (i.toLong * 10) / n + 1 }
    val expect = byDec.toSeq.sortBy(_._1).scanLeft(
      (0L, 0L, 0L, 0L, 0L, 0.0, 0.0, 0.0)) {
      case ((_, _, _, cr0, cp0, _, _, _), (d, rs)) =>
        val nr = rs.size.toLong
        val np = rs.map(_._1._2).sum
        val (cr, cp) = (cr0 + nr, cp0 + np)
        (d, nr, np, cr, cp,
          cp.toDouble / cr.toDouble,
          cp.toDouble / totPos.toDouble,
          (cp.toDouble * n.toDouble) / (cr.toDouble * totPos.toDouble))
    }.tail
    assert(out.toSeq == expect)
  }

  // ---------------- hitsExact ----------------

  test("hitsExact ≡ adjacency replay on a seeded random digraph") {
    val rnd = new scala.util.Random(1608)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)).distinct
    val out = LinkAnalysis.hitsExact(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), BigInt(r.getString(2)), BigInt(r.getString(3))))
      .toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val a1 = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val h1 = edges.groupBy(_._1).view
      .mapValues(_.map(e => BigInt(a1(e._2))).sum).toMap
    val a2 = edges.groupBy(_._2).view
      .mapValues(_.map(e => h1.getOrElse(e._1, BigInt(0))).sum).toMap
    nodes.foreach { v =>
      assert(out(v) == ((a1.getOrElse(v, 0L),
        h1.getOrElse(v, BigInt(0)), a2.getOrElse(v, BigInt(0)))),
        s"node $v")
    }
    assert(out.keySet == nodes.toSet)
  }

  // ---------------- containmentJoin ----------------

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")

  test("containmentJoin ≡ brute-force all-pairs, planted supersets") {
    val rnd = new scala.util.Random(1609)
    val base = (0 until 50).map { i =>
      (i.toLong, (0 until (8 + rnd.nextInt(15)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // planted: doc 100+i = doc i's text embedded in a longer doc
    // (high containment of i in 100+i, low the other way)
    val planted = (0 until 12).map { i =>
      val pad = (0 until 10).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      (100L + i, base(i)._2 + " " + pad)
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = (base ++ planted).map { case (id, t) => id -> shingleSet(t) }
      .filter(_._2.nonEmpty).toMap
    Seq((9, 10), (3, 5)).foreach { case (num, den) =>
      val brute = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b
        inter = (sa intersect sb).size.toLong
        if inter > 0 && inter * den >= sa.size.toLong * num
      } yield (a, b) -> (inter, sa.size.toLong, sb.size.toLong)).toMap
      val got = Dedup.containmentJoin(docs, n = 3, minConNum = num,
          minConDen = den)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == brute,
        s"threshold $num/$den: missed ${brute.keySet -- got.keySet}, " +
          s"extra ${got.keySet -- brute.keySet}")
    }
  }

  // ---------------- stratifiedSplit ----------------

  test("stratifiedSplit: exact per-stratum proportions, repartition-proof") {
    val docs = (1 to 500).map(i => (i.toLong, s"s${i % 4}"))
      .toDF("doc_id", "lang")
    val out = Corpus.stratifiedSplit(docs, "lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    out.groupBy(_._1).foreach { case (g, rows) =>
      val n = rows.size
      val byS = rows.groupBy(_._3).view.mapValues(_.size).toMap
      assert(byS("train") == n * 8 / 10, s"$g train")
      assert(byS.getOrElse("val", 0) == n * 9 / 10 - n * 8 / 10, s"$g val")
      assert(byS.getOrElse("test", 0) == n - n * 9 / 10, s"$g test")
    }
    val re = Corpus.stratifiedSplit(docs.repartition(7), "lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    assert(re.sortBy(r => (r._1, r._2)).toSeq ==
      out.sortBy(r => (r._1, r._2)).toSeq,
      "split assignment changed under repartition")
  }

  // ---------------- trendTest ----------------

  test("trendTest ≡ scalar Cochran–Armitage replay; degenerate → NULL") {
    val rnd = new scala.util.Random(1612)
    // planted trend: success rate rises with dose
    val rows = (1 to 2000).map { _ =>
      val w = rnd.nextInt(4).toLong
      (w, if (rnd.nextInt(10) < 2 + w * 2) 1L else 0L)
    }
    val out = Stats.trendTest(rows.toDF("w", "s"), col("w"), col("s"))
      .collect().head
    val per = rows.groupBy(_._1).view
      .mapValues(rs => (rs.size.toLong, rs.map(_._2).sum)).toMap
    val n = per.values.map(_._1).sum
    val x = per.values.map(_._2).sum
    val swx = per.map { case (w, (_, xi)) => BigInt(w) * xi }.sum
    val swn = per.map { case (w, (ni, _)) => BigInt(w) * ni }.sum
    val sw2n = per.map { case (w, (ni, _)) => BigInt(w) * w * ni }.sum
    val t = BigInt(n) * swx - BigInt(x) * swn
    val b = BigInt(x) * (n - x)
    val c = BigInt(n) * sw2n - swn * swn
    val z = t.toDouble / math.sqrt((b.toDouble * c.toDouble) / n.toDouble)
    assert(out.getLong(0) == n && out.getLong(1) == x)
    assert(BigInt(out.getString(2)) == t)
    assert(out.getDouble(3) == z)
    assert(z > 3.0, "the planted trend should be strongly significant")
    // degenerate: single dose → zero variance → NULL z
    val deg = Stats.trendTest(
      (1 to 50).map(i => (2L, (i % 2).toLong)).toDF("w", "s"),
      col("w"), col("s")).collect().head
    assert(deg.isNullAt(3), "zero dose variance must yield NULL z")
  }

  // ---------------- hashSplit ----------------

  test("hashSplit: growth-stable, pure function of the id") {
    val docs = (1 to 400).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val full = Corpus.hashSplit(docs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // any subset assigns identically — stability under growth/shrink
    val sub = Corpus.hashSplit(docs.filter(col("doc_id") % 3 === 0))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sub.foreach { case (id, s) => assert(full(id) == s, s"doc $id moved") }
    // all three splits occur and thresholds are respected
    assert(full.values.toSet == Set("train", "val", "test"))
  }

  test("hashSplit on q358's corpus (sf0.01): the registered split is " +
      "stable under dropping the doc_id % 5 = 0 batch") {
    val sf01 = TestSpark.sf001
    val full = SparkEntry.queries("q358_stable_split")(spark, sf01)
    val pre = Corpus.hashSplit(
        graft.Tables.documents(spark, sf01).filter(col("doc_id") % 5 =!= 0))
      .select(col("doc_id"), col("bucket").as("b0"), col("split").as("split0"))
    val joined = full.join(pre, "doc_id")
    assert(joined.filter(col("split") =!= col("split0") ||
      col("bucket") =!= col("b0")).isEmpty,
      "hash split must be stable under corpus growth")
    assert(!joined.isEmpty)
  }

  // ---------------- modeFromCounts ----------------

  test("modeFromCounts: arbitrary fragmenting folds to the one-shot mode") {
    val rnd = new scala.util.Random(1613)
    val rows = (1 to 900).map(i => (s"g${i % 3}", rnd.nextInt(8).toLong))
    val df = rows.toDF("g", "v")
    val oneShot = Stats.modeBy(df, "g", col("v"))
      .collect().map(_.toSeq).toSet
    val frags = rows.zipWithIndex
      .map { case ((g, v), i) => (g, v, i % 6) }
      .toDF("g", "value", "part")
      .groupBy(col("part"), col("g"), col("value"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    assert(Stats.modeFromCounts(frags, "g")
      .collect().map(_.toSeq).toSet == oneShot)
  }

  // ---------------- containmentJoinAgainst ----------------

  test("containmentJoinAgainst ≡ full recompute restricted to incoming") {
    val rnd = new scala.util.Random(1614)
    val base = (0 until 70).map { i =>
      (i.toLong, (0 until (10 + rnd.nextInt(12)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // planted: batch docs = near-full prefixes of corpus docs' text
    // (high containment of the plant in its source)
    val plants = (0 until 8).map { i =>
      val t = base(i * 3)._2.split(" ")
      (300L + i, t.take(math.max(3, t.length - 2)).mkString(" "))
    }
    val all = (base ++ plants).toDF("doc_id", "text")
    val inc = all.filter(col("doc_id") >= 300 || col("doc_id") % 7 === 0)
    val corpus = all.filter(col("doc_id") < 300 && col("doc_id") % 7 =!= 0)
    val got = Dedup.containmentJoinAgainst(inc, corpus, n = 3,
        minConNum = 3, minConDen = 5)
      .collect().map(_.toSeq).toSet
    val incIds = inc.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.containmentJoin(all, n = 3, minConNum = 3,
        minConDen = 5)
      .collect().map(_.toSeq).filter(s => incIds(s.head.asInstanceOf[Long]))
      .toSet
    assert(got == full,
      s"missed ${full -- got}, extra ${got -- full}")
    assert(got.nonEmpty, "the planted prefixes should produce containments")
  }

  test("containmentJoinAgainst on q360's inputs (sf0.01) ≡ the full " +
      "recompute restricted to incoming contained-sides") {
    val sf01 = TestSpark.sf001
    val got = SparkEntry.queries("q360_containment_incremental")(spark, sf01)
    val full = Dedup.containmentJoin(graft.Tables.documents(spark, sf01))
      .filter(col("doc_a") % 5 === 0)
    assert(got.except(full).isEmpty && full.except(got).isEmpty,
      "incremental containment must equal the full recompute")
    assert(!full.isEmpty)
  }

  // ---------------- giniFromCounts ----------------

  test("giniFromCounts: histogram fragments fold to giniExact bit-exactly") {
    val rnd = new scala.util.Random(1615)
    // heavy ties so the tied-block closed form actually exercises
    val rows = (1 to 2500).map(i =>
      (s"g${i % 3}", rnd.nextInt(30).toLong * 100, i.toLong))
    val oneShot = Stats.giniExact(rows.toDF("g", "x", "tie"), "g",
        col("x"), col("tie"))
      .collect().map(_.toSeq).toSet
    val frags = rows.zipWithIndex
      .map { case ((g, v, _), i) => (g, v, i % 5) }
      .toDF("g", "value", "part")
      .groupBy(col("part"), col("g"), col("value"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    val folded = Stats.giniFromCounts(frags, "g")
      .collect().map(_.toSeq).toSet
    assert(folded == oneShot,
      "histogram-fragment gini drifted from the rank-sum gini")
  }

  // ---------------- trendTestFromCounts ----------------

  test("trendTestFromCounts: dose fragments fold to the one-shot statistic") {
    val rnd = new scala.util.Random(1616)
    val rows = (1 to 1200).map(_ =>
      (rnd.nextInt(4).toLong, rnd.nextInt(2).toLong))
    val oneShot = Stats.trendTest(rows.toDF("w", "s"), col("w"), col("s"))
      .collect().map(_.toSeq).toSet
    val frags = rows.zipWithIndex
      .map { case ((w, s), i) => (w, s, i % 4) }
      .toDF("w", "s", "part")
      .groupBy(col("part"), col("w"))
      .agg(count(lit(1)).as("n"), sum(col("s")).cast("long").as("x"))
      .drop("part")
    assert(Stats.trendTestFromCounts(frags)
      .collect().map(_.toSeq).toSet == oneShot)
  }

  // ---------------- noveltyScore ----------------

  test("noveltyScore ≡ set-arithmetic replay; planted extremes score 0 and 1") {
    val rnd = new scala.util.Random(1617)
    val corpus = (0 until 40).map { i =>
      (i.toLong, (0 until (8 + rnd.nextInt(10)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val batch = Seq(
      (100L, corpus(3)._2), // exact copy → novelty 0
      (101L, "zz1 zz2 zz3 zz4 zz5"), // disjoint vocab → novelty 1
      (102L, corpus(5)._2 + " zz9 zz8 zz7 zz6 zz5")) // mixed
    val out = TextAnalysis.noveltyScore(
        batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val seen = corpus.flatMap(c => sh(c._2)).toSet
    batch.foreach { case (id, t) =>
      val mine = sh(t)
      val unseen = (mine -- seen).size.toLong
      assert(out(id) == ((mine.size.toLong, unseen,
        unseen.toDouble / mine.size.toDouble)), s"doc $id")
    }
    assert(out(100L)._3 == 0.0 && out(101L)._3 == 1.0)
  }

  // ---------------- phiAssociation ----------------

  test("phiAssociation ≡ 2×2 replay; zero margin → NULL") {
    val rnd = new scala.util.Random(1618)
    val rows = (1 to 2000).map { _ =>
      val a = rnd.nextInt(2).toLong
      // correlated b
      val b = if (rnd.nextInt(4) == 0) a else rnd.nextInt(2).toLong
      (a, b)
    }
    val out = Stats.phiAssociation(rows.toDF("a", "b"),
      col("a"), col("b")).collect().head
    val n11 = rows.count(r => r._1 == 1 && r._2 == 1).toLong
    val n10 = rows.count(r => r._1 == 1 && r._2 == 0).toLong
    val n01 = rows.count(r => r._1 == 0 && r._2 == 1).toLong
    val n00 = rows.count(r => r._1 == 0 && r._2 == 0).toLong
    val num = BigInt(n11) * n00 - BigInt(n10) * n01
    val phi = num.toDouble / math.sqrt(
      (n11 + n10).toDouble * (n01 + n00).toDouble *
        (n11 + n01).toDouble * (n10 + n00).toDouble)
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) == ((n11, n10, n01, n00)))
    assert(BigInt(out.getString(4)) == num && out.getDouble(5) == phi)
    // degenerate: constant a → zero margin → NULL phi
    val deg = Stats.phiAssociation(
      (1 to 40).map(i => (1L, (i % 2).toLong)).toDF("a", "b"),
      col("a"), col("b")).collect().head
    assert(deg.isNullAt(5))
  }

  // ---------------- lorenzPoints ----------------

  test("lorenzPoints ≡ sorted cumulative-share replay") {
    val rnd = new scala.util.Random(1619)
    val rows = (1 to 1100).map(i =>
      (s"g${i % 2}", rnd.nextInt(500).toLong, i.toLong))
    val out = Stats.lorenzPoints(rows.toDF("g", "x", "tie"), "g",
        col("x"), col("tie"), k = 10, bucketWidth = 50.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), BigInt(r.getString(3)), r.getDouble(4))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
      val n = sorted.size
      val tot = sorted.map(BigInt(_)).sum
      val byBand = sorted.zipWithIndex
        .groupBy { case (_, i) => (i.toLong * 10) / n + 1 }
      var cum = BigInt(0)
      byBand.toSeq.sortBy(_._1).foreach { case (band, xs) =>
        cum += xs.map(x => BigInt(x._1)).sum
        assert(out((g, band)) == ((xs.size.toLong, cum,
          cum.toDouble / tot.toDouble)), s"($g, $band)")
      }
    }
  }

  // ---------------- rareTailMass ----------------

  test("rareTailMass ≡ count replay across maxC") {
    val rnd = new scala.util.Random(1620)
    val vb = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1 to 60).map(i =>
      (i.toLong, (1 to rnd.nextInt(10) + 1)
        .map(_ => vb(rnd.nextInt(vb.size))).mkString(" "), s"l${i % 2}"))
      .toDF("doc_id", "text", "lang")
    Seq(1L, 2L, 5L).foreach { maxC =>
      val out = TextAnalysis.rareTailMass(docs, "lang", maxC)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      docs.collect().map(r => (r.getString(2), r.getString(1)))
        .groupBy(_._1).foreach { case (lang, ds) =>
          val counts = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
            .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
          val n = counts.sum
          val tail = counts.filter(_ <= maxC).sum
          assert(out(lang) == ((n, tail, tail.toDouble / n.toDouble)),
            s"lang $lang maxC $maxC")
        }
    }
  }

  // ---------------- tokenBurstiness ----------------

  test("tokenBurstiness ≡ Fano replay with zero-docs counted") {
    // directed fixture: 'burst' clusters in one doc, 'even' spreads
    val docs = Seq(
      (1L, "burst burst burst burst even"),
      (2L, "even filler1"),
      (3L, "even filler2"),
      (4L, "even filler3")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenBurstiness(docs, k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), BigInt(r.getString(2)), r.getDouble(3))).toMap
    def vmr(xs: Seq[Long]): (Long, BigInt, Double) = {
      val n = 4L // ALL docs, zeros included
      val sx = xs.sum
      val sx2 = xs.map(x => BigInt(x) * x).sum
      val num = BigInt(n) * sx2 - BigInt(sx) * sx
      (sx, num, num.toDouble / (BigInt(n) * sx).toDouble)
    }
    assert(out("burst") == vmr(Seq(4L)))
    assert(out("even") == vmr(Seq(1L, 1L, 1L, 1L)))
    // the burst token must read far more bursty than the even one
    assert(out("burst")._3 > out("even")._3 && out("even")._3 == 0.0)
    // top-k by (count desc, token asc): burst(4), even(4), filler1
    assert(out.keySet == Set("burst", "even", "filler1"))
  }

  // ---------------- phiFromCounts ----------------

  test("phiFromCounts: cell fragments fold to the one-shot coefficient") {
    val rnd = new scala.util.Random(1621)
    val rows = (1 to 800).map(_ =>
      (rnd.nextInt(2).toLong, rnd.nextInt(2).toLong))
    val oneShot = Stats.phiAssociation(rows.toDF("a", "b"),
      col("a"), col("b")).collect().map(_.toSeq).toSet
    val frags = rows.zipWithIndex
      .map { case ((a, b), i) => (a, b, i % 3) }
      .toDF("a", "b", "part")
      .groupBy(col("part"), col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    assert(Stats.phiFromCounts(frags).collect().map(_.toSeq).toSet
      == oneShot)
  }

  // ---------------- q371's decile order statistics ----------------

  test("QQ decile thresholds ≡ sorted order-statistic replay") {
    val rnd = new scala.util.Random(1622)
    val rows = (1 to 700).map(i =>
      (s"s${i % 2}", rnd.nextInt(400).toLong, i.toLong))
    val ev = rows.toDF("slice", "cents", "event_id")
    val ranked = Stats.rankInGroup(ev, "slice", col("cents"),
      col("event_id"), "r", 50.0)
    val counts = ev.groupBy(col("slice")).agg(count(lit(1)).as("n"))
    val targets = counts
      .withColumn("decile", explode(array((1 to 9).map(i => lit(i.toLong)): _*)))
      .withColumn("rk", expr("greatest(1L, (decile * (n + 1)) div 10)"))
      .select(col("slice").as("tslice"), col("decile"), col("rk"))
    val th = ranked.join(targets,
        col("slice") === col("tslice") && col("r") === col("rk"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("decile")) ->
        r.getAs[Long]("cents")).toMap
    rows.groupBy(_._1).foreach { case (sl, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
      val n = sorted.size.toLong
      (1 to 9).foreach { d =>
        val rk = math.max(1L, (d * (n + 1)) / 10).toInt
        assert(th((sl, d.toLong)) == sorted(rk - 1), s"($sl, $d)")
      }
    }
  }

  // ---------------- decilesFromCounts ----------------

  test("decilesFromCounts: histogram fragments ≡ raw-row rank thresholds") {
    val rnd = new scala.util.Random(1623)
    val rows = (1 to 900).map(i =>
      (s"s${i % 2}", rnd.nextInt(60).toLong * 10, i.toLong)) // tie-heavy
    val frags = rows.zipWithIndex
      .map { case ((g, v, _), i) => (g, v, i % 5) }
      .toDF("g", "value", "part")
      .groupBy(col("part"), col("g"), col("value"))
      .agg(count(lit(1)).as("c"))
      .drop("part")
    val got = Stats.decilesFromCounts(frags, "g")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val n = sorted.size.toLong
      (1 to 9).foreach { d =>
        val rk = math.max(1L, (d * (n + 1)) / 10).toInt
        assert(got((g, d.toLong)) == sorted(rk - 1), s"($g, $d)")
      }
    }
    assert(got.size == 18)
  }

  // ---------------- MAD ----------------

  test("MAD outlier screen ≡ two-pass median replay (q373's chain)") {
    val rnd = new scala.util.Random(1624)
    val rows = (1 to 800).map(i =>
      (s"g${i % 2}", rnd.nextInt(200).toLong +
        (if (i % 97 == 0) 100000L else 0L))) // planted outliers
    val ev = rows.toDF("event_type", "cents")
    val med = Stats.exactRankStats(ev, "event_type", "cents")
      .select(col("event_type"), col("p50").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("absdev", abs(col("cents") - col("med")))
    val mad = Stats.exactRankStats(dev, "event_type", "absdev")
      .select(col("event_type"), col("p50").as("mad"))
    val out = dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("absdev") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .cast("long").as("n_outliers"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val xs = rs.map(_._2).sorted
      def medAt(s: Seq[Long]) = s(math.max(1, (s.size + 1) / 2) - 1)
      val m = medAt(xs)
      val devs = rs.map(r => math.abs(r._2 - m)).sorted
      val md = medAt(devs)
      val outliers = rs.count(r => math.abs(r._2 - m) > 3 * md).toLong
      assert(out(g) == ((m, md, outliers)), s"group $g")
      assert(outliers > 0, s"group $g should contain the planted outliers")
    }
  }

  // ---------------- SCD2 intervals ----------------

  test("SCD2 intervals ≡ sequential fold (q376's window chain)") {
    val ev = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L), (1L, "b", 30L, 3L),
      (1L, "b", 40L, 4L), (1L, "a", 50L, 5L),
      (2L, "x", 10L, 6L), // single-state user: one open interval
      (3L, "p", 10L, 8L), (3L, "q", 10L, 7L) // ts tie → event_id order
    ).toDF("user_id", "event_type", "ts_us", "event_id")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val changes = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(changes.toSeq == Seq(
      (1L, 1L, "a", 10L, Some(30L)), (1L, 2L, "b", 30L, Some(50L)),
      (1L, 3L, "a", 50L, None),
      (2L, 1L, "x", 10L, None),
      (3L, 1L, "q", 10L, Some(10L)), (3L, 2L, "p", 10L, None)))
  }

  // ---------------- assortativity ----------------

  test("assortativity ≡ edge-level Pearson replay; sign on planted shapes") {
    val rnd = new scala.util.Random(1625)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    val out = LinkAnalysis.assortativity(edges.toDF("src", "dst"))
      .collect().head
    val outd = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ind = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val jk = edges.map(e => (outd(e._1), ind(e._2)))
    val m = jk.size.toDouble
    val (sj, sk) = (jk.map(_._1).sum.toDouble, jk.map(_._2).sum.toDouble)
    val sjk = jk.map(p => BigInt(p._1) * p._2).sum
    val sj2 = jk.map(p => BigInt(p._1) * p._1).sum
    val sk2 = jk.map(p => BigInt(p._2) * p._2).sum
    val num = m * sjk.toDouble - sj * sk
    val r = num / math.sqrt((m * sj2.toDouble - sj * sj) *
      (m * sk2.toDouble - sk * sk))
    assert(out.getLong(0) == jk.size && BigInt(out.getString(3)) == sjk)
    assert(out.getDouble(4) == r)
    // a pure hub-and-spoke star must read strongly disassortative
    val star = ((1 to 20).map(i => (0L, i.toLong)) ++
      (21 to 40).map(i => (i.toLong, 0L))).toDF("src", "dst")
    val rs = LinkAnalysis.assortativity(star).collect().head.getDouble(4)
    assert(rs < 0.0, s"star graph must be disassortative, got $rs")
  }

  // ---------------- topk overlap (q378's shape) ----------------

  test("top-k overlap ≡ set replay with deterministic tie cuts") {
    val rnd = new scala.util.Random(1626)
    val rows = (1 to 500).map(i =>
      (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("event_id", "s1", "s2")
    val a = df.orderBy(desc("s1"), col("event_id")).limit(100)
      .select(col("event_id")).withColumn("__a", lit(1L))
    val b = df.orderBy(desc("s2"), col("event_id")).limit(100)
      .select(col("event_id")).withColumn("__b", lit(1L))
    val got = a.join(b, Seq("event_id"), "full_outer")
      .agg(sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L)
        .otherwise(0L)).cast("long").as("nb"), count(lit(1)).as("nu"))
      .collect().head
    def top(sel: ((Long, Long, Long)) => Long): Set[Long] =
      rows.sortBy(r => (-sel(r), r._1)).take(100).map(_._1).toSet
    val (sa, sb) = (top(_._2), top(_._3))
    assert(got.getLong(0) == (sa intersect sb).size.toLong)
    assert(got.getLong(1) == (sa union sb).size.toLong)
  }

  // ---------------- directed edge cases ----------------

  test("containmentJoin at threshold 1/1 emits exactly full-subset pairs") {
    val rnd = new scala.util.Random(1627)
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until (6 + rnd.nextInt(8)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val subs = (0 until 6).map { i => // exact shingle-subset plants
      val t = base(i * 5)._2.split(" ")
      (500L + i, t.take(math.max(3, t.length - 3)).mkString(" "))
    }
    val docs = (base ++ subs).toDF("doc_id", "text")
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = (base ++ subs).map { case (id, t) => id -> sh(t) }
      .filter(_._2.nonEmpty).toMap
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && sa.subsetOf(sb)
    } yield (a, b)).toSet
    val got = Dedup.containmentJoin(docs, n = 3, minConNum = 1,
        minConDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"missed ${expect -- got}, extra ${got -- expect}")
    assert(got.nonEmpty)
  }

  test("trimmedMean with trim 0 ≡ the exact mean; gini extremes 0 and →1") {
    val rows = (1 to 300).map(i => ("g", (i % 37).toLong * 3, i.toLong))
    val tm = Stats.trimmedMean(rows.toDF("g", "x", "tie"), "g",
        col("x"), col("tie"), trimNum = 0, trimDen = 10)
      .collect().head
    val xs = rows.map(_._2)
    assert(tm.getLong(1) == xs.size.toLong)
    assert(tm.getDouble(2) == xs.map(BigInt(_)).sum.toDouble / xs.size)
    // constant values → perfectly equal → gini exactly 0
    val g0 = Stats.giniExact(
      (1 to 50).map(i => ("c", 7L, i.toLong)).toDF("g", "x", "tie"),
      "g", col("x"), col("tie")).collect().head
    assert(g0.getDouble(3) == 0.0)
    // one holder of everything → gini = (n-1)/n
    val n = 40
    val g1 = Stats.giniExact(
      ((1 until n).map(i => ("m", 0L, i.toLong)) :+ (("m", 1000L, n.toLong)))
        .toDF("g", "x", "tie"),
      "g", col("x"), col("tie")).collect().head
    assert(g1.getDouble(3) == (n - 1).toDouble / n.toDouble)
  }

  // ---------------- Scd2Changes ----------------

  test("Scd2Changes: a non-chronological drain fails loud, never a wrong history") {
    // hash-split staging interleaves event time across batches — the
    // exact violation of the CDC contract the processor guards; it
    // must throw (wrapped in the streaming query's failure), not emit
    // a change history computed from out-of-order state
    val sf = "/root/testdata/sf0.001"
    val thrown = intercept[Throwable] {
      graft.streaming.MicroBatch.updateRun(spark, sf,
        splitParts = Some(3), chronological = false) { stream =>
        graft.streaming.Stateful.scd2Changes(
          graft.Tables.toEventTime(stream)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1))
          .toDF("user_id", "event_type", "ts_us", "event_id")
      }.count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(thrown).exists(_.contains("out-of-order arrival")),
      s"expected the chronological-contract failure, got: $thrown")
  }

  // ---------------- repairPlan ----------------

  test("repairPlan: applying the plan reconciles b to a on random damage") {
    val rnd = new scala.util.Random(1611)
    val a = (1L to 600L).map(k => (k, s"v${rnd.nextInt(100)}"))
    val b = a.filter(_._1 % 53 != 5) // deletions from b = only_a → insert
      .map { case (k, v) => if (k % 41 == 7) (k, v + "!") else (k, v) }
      .++((9001L to 9004L).map(k => (k, "extra"))) // only_b → delete
    val adf = a.toDF("k", "v").localCheckpoint(true)
    val bdf = b.toDF("k", "v").localCheckpoint(true)
    val plan = Integrity.repairPlan(adf, bdf, "k", Seq("k", "v"),
      buckets = 16).localCheckpoint(true)
    val acts = plan.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // expected actions from the direct diff
    val am = a.toMap; val bm = b.toMap
    val expect =
      (am.keySet -- bm.keySet).map(_ -> "insert") ++
        (bm.keySet -- am.keySet).map(_ -> "delete") ++
        (am.keySet intersect bm.keySet)
          .filter(k => am(k) != bm(k)).map(_ -> "upsert")
    assert(acts == expect.toMap)
    // applying it yields a exactly
    val drop = plan.filter(col("action").isin("delete", "upsert"))
      .select(col("k"))
    val take = plan.filter(col("action").isin("upsert", "insert"))
      .select(col("k"))
    val repaired = bdf.join(drop, Seq("k"), "left_anti")
      .unionByName(adf.join(take, Seq("k"), "left_semi"))
    assert(repaired.exceptAll(adf).isEmpty && adf.exceptAll(repaired).isEmpty)
  }

  test("repairPlan on q355's inputs (sf0.01): applying the registered " +
      "plan reconciles b to a exactly") {
    val sf01 = TestSpark.sf001
    // q355's replicas: b drops one event, pads the props of hash
    // bucket 3 and adds one re-keyed copy
    val cols = Seq("event_id", "user_id", "event_type", "props")
    val a = graft.Tables.events(spark, sf01).select(cols.map(col): _*)
    val bkt = Integrity.bucketExpr("event_id", 64)
    val b = a.filter(col("event_id") % 49999 =!= 3)
      .withColumn("props", when(bkt === 3,
        concat(col("props"), lit(" "))).otherwise(col("props")))
      .unionByName(a.filter(col("event_id") % 49999 === 5)
        .withColumn("event_id", col("event_id") + 100000000L))
    val plan = SparkEntry.queries("q355_merkle_repair")(spark, sf01)
      .localCheckpoint(true)
    val drop = plan.filter(col("action").isin("delete", "upsert"))
      .select(col("event_id"))
    val take = plan.filter(col("action").isin("upsert", "insert"))
      .select(col("event_id"))
    val repaired = b.join(drop, Seq("event_id"), "left_anti")
      .unionByName(a.join(take, Seq("event_id"), "left_semi"))
    assert(repaired.exceptAll(a).isEmpty && a.exceptAll(repaired).isEmpty,
      "merkle repair must reconcile b to a exactly")
    assert(!plan.isEmpty)
  }
}
