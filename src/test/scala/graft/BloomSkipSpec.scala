package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** Bloom-filter directory stats: equality-predicate skipping
  * ([[LakeTable.prunedDirsEq]], and the filtered `snapshot()` that
  * skips by it) — the point lookup complement to the min/max range
  * index. */
class BloomSkipSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mk(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("key"), (col("id") * 7).as("payload"))

  test("bloom stats prune point lookups with no false negatives") {
    // 5 appended directories with DISJOINT key ranges, each recording
    // a bloom on `key`: a point probe must keep the one true directory
    // (plus possible false positives, never more than a couple at
    // these densities) and NEVER lose a key
    val t = LakeTable.createTemp(spark, mk(0, 100), "graft-bloom",
      bloomCols = Seq("key"))
    (1 to 4).foreach(i => t.append(mk(i * 100L, i * 100L + 100L),
      bloomCols = Seq("key")))
    val (kept, total) = t.prunedDirsEq("key", 250L)
    assert(total === 5 && kept.nonEmpty && kept.size <= 2,
      s"pruning: ${kept.size}/$total")
    // exact result through the pruned read
    assert(t.snapshot().filter(col("key") === 250).count() === 1)
    // no false negative anywhere (sample across all directories)
    Seq(0L, 99L, 100L, 250L, 404L, 499L).foreach { k =>
      assert(t.snapshot().filter(col("key") === k).count() === 1,
        s"key $k lost")
    }
    // an absent key reads as empty whatever the filter keeps
    assert(t.snapshot().filter(col("key") === 99999).count() === 0)
  }

  test("typed probes hash through the Spark cast: timestamp lookup has no false negative") {
    // java.sql.Timestamp.toString appends '.0' where Spark's
    // cast-to-string doesn't — probing via the JVM string would miss
    // every recorded value; the probe must go through lit(value)
    val rows = spark.range(0, 50).select(col("id").as("key"),
      expr("timestamp_micros(1700000000000000 + id * 60000000)").as("ts"))
    val t = LakeTable.createTemp(spark, rows, "graft-bloom-ts",
      bloomCols = Seq("ts"))
    val probe = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 10 * 60))
    val (kept, total) = t.prunedDirsEq("ts", probe)
    assert(total === 1 && kept.size === 1, "timestamp probe lost the directory")
    assert(t.snapshot().filter(col("ts") === lit(probe) && col("key") === 10).count() === 1)
  }

  test("probe casts to the DECLARED column type: Int probe on a double column") {
    // the bloom hashed cast(d AS STRING) → "5.0"; a raw Int probe
    // would hash "5" and silently drop the matching directory
    // (ADVICE r9) — the probe must first cast to the declared type
    val rows = spark.range(0, 50).select(col("id").as("key"),
      col("id").cast("double").as("d"))
    val t = LakeTable.createTemp(spark, rows, "graft-bloom-int",
      bloomCols = Seq("d"))
    val (kept, total) = t.prunedDirsEq("d", 5)
    assert(total === 1 && kept.size === 1, "int-vs-double probe lost the directory")
    assert(t.snapshot().filter(col("d") === 5 && col("key") === 5).count() === 1)
  }

  test("a probe that cannot cast to the column type fails loud") {
    // ANSI mode raises CAST_INVALID_INPUT from the typed cast itself —
    // a loud, named failure instead of a silent false negative
    val t = LakeTable.createTemp(spark, mk(0, 10), "graft-bloom-bad",
      bloomCols = Seq("key"))
    val e = intercept[Exception](t.prunedDirsEq("key", "not-a-number"))
    assert(e.getMessage.contains("cannot be cast") ||
      e.getMessage.contains("declared type"))
  }

  test("null point lookup is refused, not NPE'd") {
    val t = LakeTable.createTemp(spark, mk(0, 10), "graft-bloom-null",
      bloomCols = Seq("key"))
    val e = intercept[IllegalArgumentException](t.prunedDirsEq("key", null))
    assert(e.getMessage.contains("non-null"))
  }

  test("over-saturated directories record no bloom and stay readable") {
    // ndv 1000 > 512: the honest move is NO filter (unprunable, safe)
    // rather than a saturated one that prunes nothing but costs bytes
    val t = LakeTable.createTemp(spark, mk(0, 1000), "graft-bloom2",
      bloomCols = Seq("key"))
    val (kept, total) = t.prunedDirsEq("key", 5L)
    assert(total === 1 && kept.size === 1)
    assert(t.snapshot().filter(col("key") === 5).count() === 1)
  }

  test("bloom stats carry forward across later commits and vacuum") {
    val t = LakeTable.createTemp(spark, mk(0, 100), "graft-bloom3",
      bloomCols = Seq("key"))
    t.append(mk(100, 200), bloomCols = Seq("key"))
    t.append(mk(200, 300)) // no bloom on this one — must stay unprunable
    val (kept, total) = t.prunedDirsEq("key", 50L)
    assert(total === 3 && kept.size === 2) // dir 1 (true) + no-bloom dir 3
    assert(t.snapshot().filter(col("key") === 250).count() === 1)
    // dropping history must not drop the surviving dirs' bloom lines
    t.vacuum(retainVersions = 1)
    val (keptV, totalV) = t.prunedDirsEq("key", 50L)
    assert(totalV === 3 && keptV.size === 2, s"bloom lost in vacuum: ${keptV.size}/$totalV")
    assert(t.snapshot().filter(col("key") === 150).count() === 1)
  }
}
