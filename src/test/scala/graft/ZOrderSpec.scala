package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ZOrder
import graft.lake.LakeTable

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("column interleave matches the reference bit-twiddle, edges included") {
    val samples = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (1L, 2L), (21845L, 43690L), (12345L, 54321L), (256L, 255L))
    val out = samples.toDF("x", "y")
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) =>
      assert(z === ZOrder.interleaveRef(x, y), s"($x, $y)")
    }
    // full coverage of the 32-bit output space at the corners
    assert(ZOrder.interleaveRef(65535L, 65535L) === 0xFFFFFFFFL)
    assert(ZOrder.interleaveRef(65535L, 0L) === 0x55555555L)
  }

  test("interleave is a bijection on the 256x256 grid") {
    val zs = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
      .select(ZOrder.interleave(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(zs.distinct.length === 65536)
    assert(zs.min === 0L && zs.max === 65535L) // 8-bit inputs fill 16 bits exactly
  }

  test("3-D interleave matches the reference and fills the cube bijectively") {
    // legacy 2-D equivalence: the generic chain must reproduce the
    // fixed 16-bit (8,4,2,1) chain bit-for-bit
    assert(ZOrder.interleaveRefN(Seq(65535L, 65535L)) === 0xFFFFFFFFL)
    assert(ZOrder.interleaveRefN(Seq(65535L, 0L)) === 0x55555555L)
    // 3-D corners: each lane's 16 bits land at stride 3
    val ones3 = (0 until 16).map(i => 1L << (3 * i)).reduce(_ | _)
    assert(ZOrder.interleaveRefN(Seq(65535L, 0L, 0L)) === ones3)
    assert(ZOrder.interleaveRefN(Seq(0L, 65535L, 0L)) === (ones3 << 1))
    assert(ZOrder.interleaveRefN(Seq(0L, 0L, 65535L)) === (ones3 << 2))
    assert(ZOrder.interleaveRefN(Seq(65535L, 65535L, 65535L)) ===
      (1L << 48) - 1)
    // column expression ≡ JVM reference on scattered samples
    val out = spark.range(1000)
      .select((col("id") * 40503 % 65536).as("x"),
        (col("id") * 48271 % 65536).as("y"),
        (col("id") * 69621 % 65536).as("w"))
      .withColumn("z", ZOrder.interleaveN(Seq(col("x"), col("y"), col("w"))))
      .collect()
    out.foreach { r =>
      assert(r.getLong(3) === ZOrder.interleaveRefN(
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    // bijection on the 32^3 cube (5-bit inputs fill 15 bits exactly)
    val zs = spark.range(32768)
      .select((col("id") % 32).as("x"),
        ((col("id") / 32) % 32).cast("long").as("y"),
        (col("id") / 1024).cast("long").as("w"))
      .select(ZOrder.interleaveN(Seq(col("x"), col("y"), col("w"))).as("z"))
      .collect().map(_.getLong(0))
    assert(zs.distinct.length === 32768)
    assert(zs.min === 0L && zs.max === 32767L)
    // 4-D lanes narrow to 15 bits so the code stays under the sign bit
    assert(ZOrder.laneBits(4) === 15)
    assert(ZOrder.interleaveRefN(Seq(32767L, 32767L, 32767L, 32767L)) ===
      (1L << 60) - 1)
  }

  test("sqlInterleaveN (DuckDB twin) ≡ interleaveN via Spark SQL") {
    // the SQL fragment uses only `<<`, `&`, `|` — valid in Spark SQL
    // too, so gate the string path against the Column path directly
    val frag = ZOrder.sqlInterleaveN(Seq("x", "y", "w"))
    val rows = spark.range(500)
      .select((col("id") * 31 % 65536).as("x"),
        (col("id") * 37 % 65536).as("y"),
        (col("id") * 41 % 65536).as("w"))
    val diff = rows
      .withColumn("z1", ZOrder.interleaveN(Seq(col("x"), col("y"), col("w"))))
      .withColumn("z2", expr(frag))
      .filter(col("z1") =!= col("z2"))
    assert(diff.count() === 0)
  }

  test("optimizeZOrder on THREE columns: every dimension prunes") {
    // 32x32x32 cube in one unclustered directory -> 64 grid cells
    // (4 strips per dimension); a quarter-range predicate on ANY of
    // the three columns must keep exactly 4^2 = 16 of 64 dirs
    val rows = spark.range(32768)
      .select((col("id") % 32).as("x"),
        ((col("id") / 32) % 32).cast("long").as("y"),
        (col("id") / 1024).cast("long").as("w"),
        col("id").as("payload"))
    val t = LakeTable.createTemp(spark, rows, "graft-zo3d")
    val before = rows.collect().map(_.toSeq).sortBy(_.toString)
    t.optimizeZOrder(Seq("x", "y", "w"), buckets = 64)
    assert(t.snapshot().collect().map(_.toSeq).sortBy(_.toString) === before)
    val (keptX, total) = t.prunedDirs("x", 0, 7)
    val (keptY, _) = t.prunedDirs("y", 8, 15)
    val (keptW, _) = t.prunedDirs("w", 24, 31)
    assert(total === 64, s"expected the 4x4x4 grid, got $total dirs")
    assert(keptX.size === 16, s"x pruning: ${keptX.size}/$total")
    assert(keptY.size === 16, s"y pruning: ${keptY.size}/$total")
    assert(keptW.size === 16, s"w pruning: ${keptW.size}/$total")
    // the 3-D predicate intersects all three strip sets: ONE cell
    assert(keptX.toSet.intersect(keptY.toSet).intersect(keptW.toSet).size === 1)
    // and the pruned read is exact on each dimension
    assert(t.snapshot().filter(col("w").between(24, 31)).count() === 8192L)
  }

  test("z-sorted lake layout prunes range predicates on BOTH dimensions") {
    // 256x256 grid, z-sorted, cut into 16 contiguous curve segments:
    // each segment is a 64x64 tile, so every file has a narrow min/max
    // on x AND y — a single-column sort only achieves that for its
    // leading column.
    val grid = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
    val slices = (0 until 16).map(i =>
      grid.filter(col("z") >= i * 4096 && col("z") < (i + 1) * 4096))
    val t = LakeTable.createTemp(spark, slices.head, "graft-zorder",
      statsCols = Seq("x", "y"))
    slices.tail.foreach(s => t.append(s, statsCols = Seq("x", "y")))
    // a 64-wide predicate on either dimension opens 4 of 16 files
    val (keptX, totalX) = t.prunedDirs("x", 0, 63)
    val (keptY, totalY) = t.prunedDirs("y", 192, 255)
    assert(totalX === 16 && keptX.size === 4, s"x pruning: ${keptX.size}/16")
    assert(totalY === 16 && keptY.size === 4, s"y pruning: ${keptY.size}/16")
    // and the pruned read is exact
    val pruned = t.snapshot().filter(col("x").between(0, 63)).count()
    assert(pruned === 64L * 256L) // every x<=63 row lives in the 4 kept tiles
  }

  test("optimizeZOrder: layout-only rewrite, 2-D pruning from the public API, time travel intact") {
    // start from ONE unclustered directory (row-major order: x varies
    // fastest, so a plain single-dir table prunes nothing); the
    // maintenance call must produce the 4x4 grid decomposition with
    // stats, leave the row multiset bit-identical, and keep the
    // pre-optimize version readable
    val rows = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"),
        col("id").as("payload"))
    val t = LakeTable.createTemp(spark, rows, "graft-zopt")
    val vBefore = t.latestVersion
    val before = rows.collect().map(_.toSeq).sortBy(_.toString)
    t.optimizeZOrder(Seq("x", "y"), buckets = 16)
    assert(t.snapshot().collect().map(_.toSeq).sortBy(_.toString) === before)
    assert(t.snapshot().schema === rows.schema.copy(fields =
      rows.schema.fields.map(_.copy(nullable = true))))
    // x in [0,63] and y in [192,255] each normalize inside ONE 16-bit
    // quarter-strip, so exactly 4 of the 16 grid cells survive each
    val (keptX, total) = t.prunedDirs("x", 0, 63)
    val (keptY, _) = t.prunedDirs("y", 192, 255)
    assert(total === 16 && keptX.size === 4, s"x pruning: ${keptX.size}/$total")
    assert(keptY.size === 4, s"y pruning: ${keptY.size}/$total")
    assert(t.snapshot().filter(col("x").between(0, 63)).count() === 64L * 256L)
    // the 2-D predicate intersects both strip sets: ONE grid cell of
    // 16 survives, and the read is still exact
    val rect = t.snapshot()
      .filter(col("x").between(0, 63) && col("y").between(192, 255))
    assert(rect.count() === 64L * 64L)
    assert(keptX.toSet.intersect(keptY.toSet).size === 1)
    // the pre-optimize layout is still time-travelable
    assert(t.snapshot(vBefore).count() === 65536L)
  }

  test("optimizeZOrder carries non-zorder stats and blooms across the rewrite") {
    // the pre-optimize manifest records min/max on `c` and a bloom on
    // `k`; the optimized layout must keep BOTH capabilities — stats
    // recomputed per new directory, not silently dropped so that
    // point/range pruning on other columns degrades to full reads
    // (ADVICE r9)
    val rows = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"),
        (col("id") / 16384).cast("long").as("c"), (col("id") % 7).as("k"))
    val t = LakeTable.createTemp(spark, rows, "graft-zcarry",
      statsCols = Seq("c"), bloomCols = Seq("k"))
    t.optimizeZOrder(Seq("x", "y"), buckets = 16)
    // c correlates with y (c = y/64), so the z-grid prunes on c too
    val (keptC, totalC) = t.prunedDirs("c", 0L, 0L)
    assert(totalC === 16 && keptC.size < totalC,
      s"c stats lost in optimize: ${keptC.size}/$totalC")
    assert(t.snapshot().filter(col("c") === 0).count() === 16384L)
    // the bloom on k survives with no false negative (k is dense in
    // every cell, so no pruning is expected — only correctness)
    (0L to 6L).foreach { k =>
      assert(t.snapshot().filter(col("k") === k).count() ===
        rows.filter(col("k") === k).count(), s"k=$k lost after optimize")
    }
    // z-order keys themselves still prune (the original guarantee)
    val (keptX, _) = t.prunedDirs("x", 0, 63)
    assert(keptX.size === 4)
  }

  test("optimizeZOrder on an empty table commits an empty typed snapshot") {
    val schemaSrc = spark.range(1)
      .select(col("id").as("x"), col("id").as("y"))
    val t = LakeTable.createTemp(spark, schemaSrc.limit(0), "graft-zempty")
    t.optimizeZOrder(Seq("x", "y"), buckets = 4)
    assert(t.snapshot().count() === 0L)
    assert(t.snapshot().columns.toSeq === Seq("x", "y")) // still typed
  }

  test("optimizeZOrder fails loud on non-numeric and missing z-order columns") {
    // a string key would cast to null -> every row in bucket 0: a
    // "successful" optimize that clusters nothing. Refuse instead.
    val rows = spark.range(16)
      .select(col("id").as("x"), concat(lit("k"), col("id")).as("label"))
    val t = LakeTable.createTemp(spark, rows, "graft-zbad")
    val e1 = intercept[IllegalArgumentException](
      t.optimizeZOrder(Seq("x", "label")))
    assert(e1.getMessage.contains("non-numeric"))
    val e2 = intercept[IllegalArgumentException](
      t.optimizeZOrder(Seq("x", "nope")))
    assert(e2.getMessage.contains("not in table schema"))
    assert(t.latestVersion === 1L) // no partial commit either way
  }
}
