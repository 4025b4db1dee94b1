package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The manifest-aware file index behind every `LakeTable` read: a
  * plain `snapshot().filter(p)` must open EXACTLY the files under the
  * directories the dir-selection helpers (`prunedDirs` /
  * `prunedDirsEq`) keep, measured on the executed scan — its selected
  * files and its "number of files read" metric — and return exactly
  * the rows of an unskipped read. The last tests pin the five lake
  * queries' pruning bounds (q131, q178, q179, q284, q425) by the files
  * their scans read at sf0.01. */
class LakeScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  /** One executed lake scan: its index, the files it opened (URI
    * paths) and its "number of files read" metric. */
  private case class Scan(index: LakeFileIndex, files: Set[String], numFiles: Long) {
    def total: Int = index.skipping.dirs.size
    /** The manifest directories the opened files belong to. */
    def dirs: Set[String] = files.map(dirOf(index, _))
  }

  private def dirOf(index: LakeFileIndex, file: String): String =
    Iterator.iterate(new Path(file))(_.getParent).takeWhile(_ != null)
      .flatMap(p => index.dirAt.get(p.toUri.getPath)).next()

  /** Run `df` and return every lake scan of its executed plan. */
  private def lakeScans(df: DataFrame): Seq[Scan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[LakeFileIndex] =>
        val files = s.selectedPartitions.filePartitionIterator
          .flatMap(_.files.map(_.getPath.toUri.getPath)).toSet
        Scan(s.relation.location.asInstanceOf[LakeFileIndex], files,
          s.metrics("numFiles").value)
    }
  }

  private def onlyScan(df: DataFrame): Scan = {
    val scans = lakeScans(df)
    assert(scans.size == 1, s"expected one lake scan, got ${scans.size}")
    scans.head
  }

  /** `t.snapshot(version).filter(p)` opens exactly the files of `kept`
    * (read from the unfiltered snapshot's listing) and returns the
    * rows of `truth.filter(p)`. */
  private def assertOpens(t: LakeTable, p: Column, kept: Seq[String], truth: DataFrame,
                          version: Long = -1L): Scan = {
    val filtered = t.snapshot(version).filter(p)
    val scan = onlyScan(filtered)
    val expected = t.snapshot(version).inputFiles.map(f => new java.net.URI(f).getPath)
      .filter(f => kept.contains(dirOf(scan.index, f))).toSet
    assert(scan.files === expected, s"opened ${scan.dirs} for kept $kept")
    assert(scan.numFiles === expected.size.toLong)
    val got = filtered.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val want = truth.filter(p).collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got === want)
    scan
  }

  /** Five appends over disjoint event_id slices, min/max stats on
    * event_id and d, a bloom on event_id. */
  private lazy val sliced: (LakeTable, DataFrame) = {
    val base = events.select(col("event_id"), col("event_type"), col("value"),
      to_date(concat(lit("2024-0"), (col("event_id") / 100 + 1).cast("int").cast("string"),
        lit("-15"))).as("d"))
      .filter(col("event_id") < 500)
    def slice(i: Int) = base.filter(col("event_id") >= i * 100 && col("event_id") < (i + 1) * 100)
    val stats = Seq("event_id", "d")
    val t = LakeTable.createTemp(spark, slice(0), "graft-scan", statsCols = stats,
      bloomCols = Seq("event_id"))
    (1 to 4).foreach(i => t.append(slice(i), statsCols = stats, bloomCols = Seq("event_id")))
    (t, base)
  }

  test("numeric, date and one-sided ranges open exactly the dirs prunedDirs keeps") {
    val (t, base) = sliced
    val (kept, total) = t.prunedDirs("event_id", 250, 260)
    assert(total === 5 && kept.size === 1)
    assertOpens(t, col("event_id").between(250, 260), kept, base)
    // `<` treated as `<=`: 199 < 200 keeps dirs 0-1, the literal on the
    // left flips the comparison
    val (below, _) = t.prunedDirs("event_id", Long.MinValue, 199)
    assert(below.size === 2)
    assertOpens(t, col("event_id") < 199, below, base)
    assertOpens(t, lit(199) > col("event_id"), below, base)
    val (above, _) = t.prunedDirs("event_id", 301, Long.MaxValue)
    assertOpens(t, col("event_id") >= 301, above, base)
    val (dates, _) = t.prunedDirs("d", "2024-02-01", "2024-03-31")
    assert(dates.size === 2)
    assertOpens(t, col("d").between("2024-02-01", "2024-03-31"), dates, base)
  }

  test("string ranges compare lexicographically against the literal's string form") {
    val byType = events.filter(col("event_type") < "m")
    val rest = events.filter(col("event_type") >= "m")
    val t = LakeTable.createTemp(spark, byType, "graft-scan-s", statsCols = Seq("event_type"))
    t.append(rest, statsCols = Seq("event_type"))
    val (kept, total) = t.prunedDirs("event_type", "c", "f")
    assert(total === 2 && kept.size === 1)
    assertOpens(t, col("event_type").between("c", "f"), kept, byType.unionByName(rest))
  }

  test("string bounds order as Spark does, by UTF-8 bytes, beyond the BMP too") {
    val s = spark
    import s.implicits._
    // UTF-16 puts U+1F600 (a surrogate pair) below U+FFFF; Spark's byte
    // order puts it above U+FF21 and U+FFFF, so it is this dir's max and
    // inside the range
    val high = Seq("\uFF21", "\uD83D\uDE00").toDF("s")
    val low = Seq("a", "b").toDF("s")
    val t = LakeTable.createTemp(spark, high, "graft-scan-u", statsCols = Seq("s"))
    t.append(low, statsCols = Seq("s"))
    val (kept, total) = t.prunedDirs("s", "\uFFFF", "\uD83D\uDE00")
    assert(total === 2 && kept.size === 1)
    assertOpens(t, col("s").between("\uFFFF", "\uD83D\uDE00"), kept, high.unionByName(low))
  }

  test("a zero probe matches both signs of zero, as Spark's = does") {
    val s = spark
    import s.implicits._
    val zeros = Seq(-0.0, 1.0).toDF("x")
    val others = Seq(2.0, 3.0).toDF("x")
    val t = LakeTable.createTemp(spark, zeros, "graft-scan-z", bloomCols = Seq("x"))
    t.append(others, bloomCols = Seq("x"))
    val (kept, total) = t.prunedDirsEq("x", 0.0)
    assert(total === 2 && kept.size === 1)
    assertOpens(t, col("x") === 0.0, kept, zeros.unionByName(others))
    assert(t.snapshot().filter(col("x") === 0.0).count() === 1)
  }

  test("bloom equality: an Int literal against a long column prunes like prunedDirsEq") {
    val (t, base) = sliced
    val (bloom, _) = t.prunedDirsEq("event_id", 250L)
    val (range, _) = t.prunedDirs("event_id", 250, 250)
    val kept = bloom.intersect(range)
    assert(kept.size === 1)
    assertOpens(t, col("event_id") === 250, kept, base)
    // blooms alone (no min/max on k): the bloom decides
    val keyed = spark.range(0, 500).select(col("id").as("k"), (col("id") * 7).as("payload"))
    val b = LakeTable.createTemp(spark, keyed.filter(col("k") < 100), "graft-scan-b",
      bloomCols = Seq("k"))
    (1 to 4).foreach(i => b.append(keyed.filter(col("k") >= i * 100 && col("k") < i * 100 + 100),
      bloomCols = Seq("k")))
    val (kb, total) = b.prunedDirsEq("k", 237L)
    assert(kb.size < total)
    assertOpens(b, col("k") === 237, kb, keyed)
  }

  test("a conjunction opens the intersection of its conjuncts' dirs") {
    val (t, base) = sliced
    val p = col("event_id").between(150, 450) && col("d") <= "2024-03-31"
    val kept = t.prunedDirs("event_id", 150, 450)._1
      .intersect(t.prunedDirs("d", "0000-01-01", "2024-03-31")._1)
    assert(kept.size === 2)
    assertOpens(t, p, kept, base)
  }

  test("an untranslatable predicate reads every dir and returns the same rows") {
    val (t, base) = sliced
    val all = t.prunedDirs("event_type", "", "~")._1 // no stats: every dir
    assert(all.size === 5)
    Seq(col("event_id") + 1 === 251, col("event_id").isin(250, 251),
      col("event_id") === 250 || col("event_id") === 450,
      col("event_id").cast("string") === "250").foreach { p =>
      assertOpens(t, p, all, base)
    }
  }

  test("snapshot(v) prunes against v's own manifest") {
    val (_, base) = sliced
    val t = LakeTable.createTemp(spark, base.filter(col("event_id") < 250), "graft-scan-tt",
      statsCols = Seq("event_id"))
    t.append(base.filter(col("event_id") >= 250), statsCols = Seq("event_id"))
    val v2 = t.latestVersion
    t.overwrite(base, statsCols = Seq("event_id")) // one dir: nothing left to skip
    val p = col("event_id").between(300, 310)
    val (kept, total) = t.prunedDirs("event_id", 300, 310, v2)
    assert(total === 2 && kept.size === 1)
    assertOpens(t, p, kept, base, version = v2)
    val (latest, one) = t.prunedDirs("event_id", 300, 310)
    assert(one === 1 && latest.size === 1 && !latest.contains(kept.head))
    assertOpens(t, p, latest, base)
  }

  test("an evolved-schema table reads as before: pre-evolution dirs surface null") {
    val old = events.filter(col("event_id") < 100).select(col("event_id"), col("value"))
    val evolved = events.filter(col("event_id").between(100, 199))
      .select(col("event_id"), col("value"), col("event_type"))
    val t = LakeTable.createTemp(spark, old, "graft-scan-ev", statsCols = Seq("event_id"))
    t.append(evolved, statsCols = Seq("event_id", "event_type"))
    val truth = old.withColumn("event_type", lit(null).cast("string")).unionByName(evolved)
    assertOpens(t, col("event_id").between(150, 160), t.prunedDirs("event_id", 150, 160)._1, truth)
    // the old dir has no stat on the evolved column: it is read, and
    // its nulls never match
    val (kept, total) = t.prunedDirs("event_type", "", "zzz")
    assert(total === 2 && kept.size === 2)
    assertOpens(t, col("event_type") <= "zzz", kept, truth)
  }

  test("a shallowClone (absolute dirs, no stats) reads every dir") {
    val (t, base) = sliced
    val c = t.shallowClone(TempDirs.create("graft-scan-clone").resolve("t"))
    val (all, total) = c.prunedDirs("event_id", 250, 260)
    assert(total === 5 && all.size === 5)
    assertOpens(c, col("event_id").between(250, 260), all, base)
  }

  test("empty and schema-less tables read as before") {
    val typed = LakeTable.createEmpty(spark,
      TempDirs.create("graft-scan-e").resolve("t"), Some(events.schema))
    val e = typed.snapshot().filter(col("event_id") > 5)
    assert(e.count() === 0 && e.columns.contains("event_id") && lakeScans(e).isEmpty)
    val bare = LakeTable.createEmpty(spark,
      TempDirs.create("graft-scan-n").resolve("t"))
    assert(bare.snapshot().columns.isEmpty && bare.snapshot().count() === 0)
  }

  test("diff and changeFeed are unchanged, filtered or not") {
    val (t, base) = sliced // v1..v5: one appended slice each
    def slice(i: Int) = base.filter(col("event_id") >= i * 100 && col("event_id") < (i + 1) * 100)
    val d = t.diff(2L, 4L)
    assert(d.filter(col("change") =!= "added").isEmpty)
    val added = d.drop("change")
    val want = slice(2).unionByName(slice(3))
    assert(added.exceptAll(want).isEmpty && want.exceptAll(added).isEmpty)
    assert(d.filter(col("event_id").between(250, 260)).count() ===
      base.filter(col("event_id").between(250, 260)).count())
    assert(t.diff(4L, 2L).filter(col("change") === "removed").count() === want.count())
    val feed = t.changeFeed(1L, 5L).groupBy("version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feed === (2 to 5).map(v => v.toLong -> slice(v - 1).count()).toMap)
  }

  // ---- the five lake queries' pruning bounds, by files read (sf0.01) ----

  private def queryScans(name: String): Seq[Scan] = {
    val scans = lakeScans(graft.SparkEntry.queries(name)(spark, TestSpark.sf001))
    assert(scans.nonEmpty, s"$name has no lake scan")
    scans.foreach(s => assert(s.numFiles === s.files.size.toLong && s.files.nonEmpty))
    scans
  }

  /** The dirs each single-column range keeps, by the scan's own index. */
  private def rangeKept(s: Scan, cols: Seq[String], lo: Int, hi: Int): Seq[Seq[String]] =
    cols.map(c => s.index.skipping.range(c, Some(lo.toString), Some(hi.toString)))

  test("q131: the eid_mod range reads the files of 1 of 5 dirs") {
    val Seq(s) = queryScans("q131_stats_skip")
    assert(s.total === 5 && s.dirs.size === 1)
  }

  test("q178: each z-order dimension prunes; the scan reads their intersection") {
    val Seq(s) = queryScans("q178_zorder_optimize")
    val kept = rangeKept(s, Seq("a", "b"), 100, 199)
    kept.foreach(k => assert(k.size < s.total, s"kept ${k.size}/${s.total}"))
    assert(s.dirs === kept.reduce(_ intersect _).toSet)
  }

  test("q284: each of the three z-order dimensions prunes; the scan reads their intersection") {
    val Seq(s) = queryScans("q284_zorder3d")
    val kept = rangeKept(s, Seq("a", "b", "c"), 100, 349)
    kept.foreach(k => assert(k.size < s.total, s"kept ${k.size}/${s.total}"))
    assert(s.dirs === kept.reduce(_ intersect _).toSet)
  }

  test("q179: the bloom point filter reads fewer dirs than the table holds") {
    val Seq(s) = queryScans("q179_bloom_point_lookup")
    assert(s.dirs.size < s.total, s"read ${s.dirs.size}/${s.total}")
  }

  test("q425: each phrase term's scan reads a non-empty quarter of the clustered index at most") {
    val scans = queryScans("q425_clustered_postings")
    assert(scans.size === 2)
    scans.foreach(s => assert(s.dirs.nonEmpty && s.dirs.size * 4 <= s.total,
      s"read ${s.dirs.size}/${s.total}"))
  }
}
