package graft.lake

import java.nio.file.Paths

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Partition values that Spark's hive layout has to escape in directory
  * names (`/ = % : #`), that URL codecs treat specially (space, `+`),
  * non-ASCII text and null must come back unchanged through every
  * export that decodes `name=value` directories. */
class HivePartitionValuesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val values: Seq[String] =
    Seq("a/b", "k=v", "50%", "12:30", "#tag", "two words", "a+b", "café", null, "plain")

  private def table(): LakeTable = {
    import spark.implicits._
    val df = values.zipWithIndex.flatMap { case (p, i) =>
      (0 until 3).map(j => (i * 10L + j, Option(p), j * 1.5)) }
      .toDF("id", "p", "v")
    LakeTable.createTemp(spark, df.repartition(2), "graft-hive-esc")
  }

  private def assertSameRows(back: DataFrame, want: DataFrame): Unit = {
    assert(back.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq)
    assert(back.exceptAll(want).count() === 0, "rows read back that the snapshot lacks")
    assert(want.exceptAll(back).count() === 0, "snapshot rows missing after the round trip")
  }

  test("Delta exportSnapshot(partitionBy) round-trips escaped, non-ASCII and null values") {
    val t = table()
    val dest = TempDirs.create("graft-hive-esc-delta").resolve("t")
    DeltaInterop.exportSnapshot(t, dest, partitionBy = Seq("p"))
    val back = DeltaInterop.readDelta(spark, dest)
    assertSameRows(back.select("id", "p", "v"), t.snapshot())
    assert(back.select("p").distinct().count() === values.size)
  }

  test("Delta exportSnapshotDV(partitionBy) round-trips them with deletion vectors applied") {
    val t = table()
    val dest = TempDirs.create("graft-hive-esc-dv").resolve("t")
    val (_, deleted) = DeltaInterop.exportSnapshotDV(t, dest, col("id") % 10 === 1,
      partitionBy = Seq("p"))
    assert(deleted === values.size.toLong)
    assertSameRows(DeltaInterop.readDelta(spark, dest).select("id", "p", "v"),
      t.snapshot().filter(col("id") % 10 =!= 1))
  }

  test("Iceberg exportSnapshot(identityPartitionBy) round-trips them, manifests included") {
    val t = table()
    val dest = TempDirs.create("graft-hive-esc-ice").resolve("t")
    IcebergInterop.exportSnapshot(t, dest, identityPartitionBy = Seq("p"))
    assertSameRows(IcebergInterop.readIceberg(spark, dest), t.snapshot())
    // each manifest entry's partition record holds exactly the value
    // its data file stores
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(dest.resolve("metadata").resolve("v1.metadata.json")))
    val list = IcebergInterop.readAvro(Paths.get(meta.get("snapshots").get(0)
      .get("manifest-list").asText().stripPrefix("file://")))
    val entries = IcebergInterop.readAvro(Paths.get(
      list.head.get("manifest_path").toString.stripPrefix("file://")))
    val recorded = entries.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val file = df.get("file_path").toString.stripPrefix("file://")
      val stored = spark.read.parquet(file).select("p").distinct().collect()
        .map(r => Option(r.getString(0))).toSeq
      assert(stored.size === 1, s"$file holds more than one partition value")
      val pv = Option(df.get("partition").asInstanceOf[GenericRecord].get("p")).map(_.toString)
      assert(pv === stored.head, s"manifest partition value for $file")
      pv
    }
    assert(recorded.toSet === values.map(Option(_)).toSet)
    values.filter(_ != null).foreach { v =>
      val pruned = IcebergInterop.readIcebergPruned(spark, dest, "p", v, v)
      assert(pruned.filter(col("p") === v).count() === 3, s"pruned read of '$v'")
    }
  }
}
