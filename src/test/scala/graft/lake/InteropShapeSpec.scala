package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import org.apache.avro.file.{DataFileReader, SeekableFileInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden shapes of every Iceberg and Delta export and maintenance
  * entry point. Each case runs one entry point on a small fixed
  * fixture and renders what it wrote — metadata JSON, Delta log
  * actions and checkpoint rows, manifest and manifest-list records
  * with their Avro schemas, and the file listing — with UUIDs,
  * timestamps, snapshot ids, absolute paths and byte sizes replaced by
  * placeholders. Keys and their order, value types, record counts,
  * statuses, sequence numbers, spec ids and field ids stay, so a spec
  * field that drifts in any writer changes the rendering.
  *
  * The goldens live under `src/test/resources/interop-shapes/`.
  * Re-record them deliberately (after a wanted format change) with
  * `sbt "Test/runMain graft.lake.InteropShapeRecord"` and review the
  * diff. */
class InteropShapeSpec extends AnyFunSuite {
  InteropShapes.cases.foreach { case (name, run) =>
    test(s"$name matches its golden shape") {
      val golden = Option(getClass.getResourceAsStream(s"/interop-shapes/$name.json"))
        .map(in => Using.resource(in)(s => new String(s.readAllBytes(), "UTF-8")))
        .getOrElse(fail(s"no golden interop-shapes/$name.json; record it with " +
          "InteropShapeRecord"))
      val got = run(TestSpark.spark)
      if (got != golden) {
        val (g, w) = (got.split('\n'), golden.split('\n'))
        val i = g.indices.find(i => i >= w.length || g(i) != w(i)).getOrElse(g.length)
        fail(s"$name drifted from its golden at line ${i + 1}:\n" +
          s"  golden: ${w.lift(i).getOrElse("<end>")}\n" +
          s"  now:    ${g.lift(i).getOrElse("<end>")}")
      }
    }
  }
}

/** Writes every case's rendering to `src/test/resources/interop-shapes/`
  * (run from the repository root). */
object InteropShapeRecord {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get("src/test/resources/interop-shapes")
    Files.createDirectories(dir)
    InteropShapes.cases.foreach { case (name, run) =>
      Files.writeString(dir.resolve(s"$name.json"), run(TestSpark.spark))
      println(s"recorded $name")
    }
    TestSpark.spark.stop()
  }
}

object InteropShapes {

  private val mapper = new ObjectMapper()

  // ---- fixtures ----------------------------------------------------------

  /** 12 rows over 3 categories and 3 days, in 2 files. */
  private def rows(spark: SparkSession, ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, Seq("a", "b", "c")(i % 3),
        f"2024-01-${1 + i % 3}%02d 10:00:00", i * 1.5))
      .toDF("id", "cat", "ts_s", "v")
      .select(col("id"), col("cat"), col("ts_s").cast("timestamp").as("ts"), col("v"))
      .repartition(2)
  }

  private def table(spark: SparkSession): LakeTable =
    LakeTable.createTemp(spark, rows(spark, 1 to 12), "graft-shape")

  /** Three versions: the base rows, a narrow append that evolves the
    * schema by a `tag` column, and one large single-file append (the
    * file the compaction cases carry). */
  private def history(spark: SparkSession): LakeTable = {
    val t = LakeTable.createTemp(spark, rows(spark, 1 to 6), "graft-shape")
    t.append(rows(spark, 7 to 12).withColumn("tag", lit("x")))
    t.append(rows(spark, 13 to 612).withColumn("tag", concat(lit("t"), col("id")))
      .coalesce(1))
    t
  }

  private def dest(): Path = TempDirs.create("graft-shape-out").resolve("t")

  /** Compaction target that packs every data file but the largest. */
  private def allButLargest(root: Path): Long = {
    val sizes = Using.resource(Files.walk(root.resolve("data"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).toSeq
    }
    sizes.sum - sizes.max
  }

  private def iceberg(f: (SparkSession, Path) => Unit): SparkSession => String = spark => {
    val d = dest(); f(spark, d); render(Iceberg(spark, d))
  }

  private def delta(f: (SparkSession, Path) => Unit): SparkSession => String = spark => {
    val d = dest(); f(spark, d); render(Delta(spark, d))
  }

  val cases: Seq[(String, SparkSession => String)] = Seq(
    "iceberg-export" -> iceberg { (s, d) =>
      IcebergInterop.exportSnapshot(table(s), d) },
    "iceberg-export-identity" -> iceberg { (s, d) =>
      IcebergInterop.exportSnapshot(table(s), d, identityPartitionBy = Seq("cat")) },
    "iceberg-export-transforms" -> iceberg { (s, d) =>
      IcebergInterop.exportSnapshot(table(s), d, transformPartitionBy =
        Seq("ts" -> "days", "id" -> "bucket[4]", "cat" -> "truncate[1]")) },
    "iceberg-export-evolved" -> iceberg { (s, d) =>
      IcebergInterop.exportSnapshotEvolved(table(s), d,
        oldSpec = Seq("cat" -> "identity"), newSpec = Seq("ts" -> "day"),
        oldWhere = col("id") <= 6) },
    "iceberg-export-v2-position-deletes" -> iceberg { (s, d) =>
      IcebergInterop.exportSnapshotV2(table(s), d, col("id") % 3 === 0) },
    "iceberg-export-v2-cdc" -> iceberg { (s, d) =>
      val t = table(s)
      IcebergInterop.exportSnapshotV2CDC(t, d, Seq("id"), col("id") <= 2,
        t.snapshot().filter(col("id").isin(3, 4)).withColumn("v", col("v") + 100),
        posDeleteWhere = Some(col("id") === 7)) },
    "iceberg-export-history" -> iceberg { (s, d) =>
      IcebergInterop.exportHistory(history(s), d) },
    "iceberg-expire" -> iceberg { (s, d) =>
      IcebergInterop.exportHistory(history(s), d)
      IcebergInterop.expireSnapshots(d, retainLast = 1) },
    "iceberg-refs" -> iceberg { (s, d) =>
      IcebergInterop.exportHistory(history(s), d)
      IcebergInterop.setRef(d, "v1", 1L)
      IcebergInterop.setRef(d, "dev", 2L, refType = "branch")
      IcebergInterop.dropRef(d, "dev")
      IcebergInterop.expireSnapshots(d, retainLast = 1) },
    "iceberg-wap" -> iceberg { (s, d) =>
      val t = table(s)
      IcebergInterop.exportSnapshot(t, d)
      IcebergInterop.stageAppend(s, d, rows(s, 100 to 103), "audit")
      IcebergInterop.publishBranch(d, "audit") },
    "iceberg-rewrite-manifests" -> iceberg { (s, d) =>
      IcebergInterop.exportHistory(history(s), d)
      IcebergInterop.rewriteManifests(d) },
    "iceberg-rewrite-data-files" -> iceberg { (s, d) =>
      IcebergInterop.exportHistory(history(s), d)
      IcebergInterop.rewriteDataFiles(s, d, allButLargest(d)) },
    "delta-export" -> delta { (s, d) =>
      val t = table(s)
      t.addCheck("positive_v", "v > 0")
      DeltaInterop.exportSnapshot(t, d) },
    "delta-export-partitioned" -> delta { (s, d) =>
      DeltaInterop.exportSnapshot(table(s), d, partitionBy = Seq("cat")) },
    "delta-export-mapped-name" -> delta { (s, d) =>
      DeltaInterop.exportSnapshotMapped(table(s), d) },
    "delta-export-mapped-id-partitioned" -> delta { (s, d) =>
      DeltaInterop.exportSnapshotMapped(table(s), d, mode = "id", partitionBy = Seq("cat")) },
    "delta-export-dv" -> delta { (s, d) =>
      DeltaInterop.exportSnapshotDV(table(s), d, col("id") % 4 === 0) },
    "delta-export-dv-partitioned" -> delta { (s, d) =>
      DeltaInterop.exportSnapshotDV(table(s), d, col("id") % 4 === 0,
        partitionBy = Seq("cat")) },
    "delta-export-history" -> delta { (s, d) =>
      DeltaInterop.exportHistory(history(s), d) },
    "delta-optimize" -> delta { (s, d) =>
      DeltaInterop.exportHistory(history(s), d)
      DeltaInterop.optimize(s, d, allButLargest(d)) },
    "delta-optimize-vacuum" -> delta { (s, d) =>
      DeltaInterop.exportHistory(history(s), d)
      DeltaInterop.optimize(s, d, allButLargest(d))
      DeltaInterop.vacuumDelta(s, d) },
    "delta-restore" -> delta { (s, d) =>
      DeltaInterop.exportHistory(history(s), d)
      DeltaInterop.optimize(s, d, allButLargest(d))
      DeltaInterop.restore(s, d, 0L) },
    "delta-checkpoint-cleanup" -> delta { (s, d) =>
      DeltaInterop.exportHistory(history(s), d)
      DeltaInterop.writeCheckpoint(s, d)
      DeltaInterop.cleanupLog(d, retainCommits = 0) }
  )

  // ---- rendering ---------------------------------------------------------

  private def render(n: JsonNode): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n) + "\n"

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  /** The 8-hex suffix of a lake data directory (`data/c2-1a2b3c4d/`). */
  private val ShortId = "(?<=-)[0-9a-f]{8}(?=/)".r
  /** Snapshot ids inside manifest-list and staged-data names. */
  private val SnapName = "(snap|wap)-(\\d+)-".r

  private val TimeKeys = Set("last-updated-ms", "timestamp-ms", "createdTime",
    "modificationTime", "deletionTimestamp")
  private val ByteKeys = Set("file_size_in_bytes", "manifest_length", "size",
    "sizeInBytes", "offset")
  private val SnapKeys = Set("snapshot-id", "current-snapshot-id",
    "parent-snapshot-id", "snapshot_id", "added_snapshot_id")

  /** Placeholder assignment for one case: each distinct UUID, lake
    * directory id and snapshot id gets an ordinal in order of first
    * appearance, so references between files stay visible. */
  private abstract class Case(root: Path) {
    private val uuids = mutable.LinkedHashMap.empty[String, Int]
    private val shortIds = mutable.LinkedHashMap.empty[String, Int]
    private val snaps = mutable.LinkedHashMap.empty[Long, Int]
    protected val out: ObjectNode = mapper.createObjectNode()
    def result: JsonNode = out

    private def snap(id: Long) = s"<snap#${snaps.getOrElseUpdate(id, snaps.size)}>"

    protected def str(s: String): String = {
      val rooted = s.replace(root.toAbsolutePath.toString, "<root>")
      val u = Uuid.replaceAllIn(rooted, m => Regex.quoteReplacement(
        s"<uuid#${uuids.getOrElseUpdate(m.matched, uuids.size)}>"))
      val sh = ShortId.replaceAllIn(u, m => Regex.quoteReplacement(
        s"<id#${shortIds.getOrElseUpdate(m.matched, shortIds.size)}>"))
      SnapName.replaceAllIn(sh, m => Regex.quoteReplacement(
        s"${m.group(1)}-${snap(m.group(2).toLong)}-"))
    }

    private def kind(v: JsonNode): String =
      if (v.isNumber) v.numberType().toString.toLowerCase
      else v.getNodeType.toString.toLowerCase

    private def hole(what: String, v: JsonNode) =
      JsonNodeFactory.instance.textNode(s"<$what:${kind(v)}>")

    protected def json(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val r = mapper.createObjectNode()
        o.properties().asScala.foreach(e => r.set[JsonNode](str(e.getKey), field(e.getKey, e.getValue)))
        r
      case a: ArrayNode =>
        val r = mapper.createArrayNode()
        a.elements().asScala.foreach(e => r.add(json(e)))
        r
      case t if t.isTextual => JsonNodeFactory.instance.textNode(str(t.asText()))
      case other => other
    }

    private def field(k: String, v: JsonNode): JsonNode =
      if (v.isNull) v
      else if (TimeKeys(k)) hole("ts", v)
      else if (ByteKeys(k)) hole("bytes", v)
      else if (SnapKeys(k) && v.isNumber)
        JsonNodeFactory.instance.textNode(s"${snap(v.asLong())}:${kind(v)}")
      else if (k == "pathOrInlineDv") hole("dv", v)
      else if (k == "stats" && v.isTextual)
        JsonNodeFactory.instance.textNode(mapper.writeValueAsString(json(mapper.readTree(v.asText()))))
      else json(v)

    /** Every file under the root, UUIDs and ids as bare placeholders. */
    protected def listing(): Unit = {
      val arr = out.putArray("files")
      Using.resource(Files.walk(root)) { s =>
        s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          val rel = root.relativize(p).toString
          SnapName.replaceAllIn(ShortId.replaceAllIn(Uuid.replaceAllIn(rel, "<uuid>"), "<id>"),
            m => s"${m.group(1)}-<snap>-")
        }.toSeq.sorted.foreach(arr.add)
      }
    }

    protected def avroFile(p: Path): JsonNode = {
      val n = mapper.createObjectNode()
      if (!Files.exists(p)) n.put("deleted", true)
      else Using.resource(new DataFileReader[GenericRecord](
          new SeekableFileInput(p.toFile), new GenericDatumReader[GenericRecord]())) { r =>
        val meta = n.putObject("meta")
        r.getMetaKeys.asScala.toSeq.sorted.filterNot(_ == "avro.schema")
          .foreach(k => meta.put(k, r.getMetaString(k)))
        n.set[JsonNode]("schema", mapper.readTree(r.getSchema.toString))
        val recs = n.putArray("records")
        r.iterator().asScala.foreach(rec => recs.add(json(avro(rec))))
      }
      n
    }

    private def avro(v: Any): JsonNode = {
      val f = JsonNodeFactory.instance
      v match {
        case null => f.nullNode()
        case r: GenericRecord =>
          val o = mapper.createObjectNode()
          r.getSchema.getFields.asScala.foreach(fl => o.set[JsonNode](fl.name(), avro(r.get(fl.name()))))
          o
        case l: java.util.List[_] =>
          val a = mapper.createArrayNode(); l.asScala.foreach(x => a.add(avro(x))); a
        case s: CharSequence => f.textNode(s.toString)
        case i: java.lang.Integer => f.numberNode(i)
        case l: java.lang.Long => f.numberNode(l)
        case d: java.lang.Double => f.numberNode(d)
        case x: java.lang.Float => f.numberNode(x)
        case b: java.lang.Boolean => f.booleanNode(b)
        case other => f.textNode(s"<${other.getClass.getSimpleName}>")
      }
    }
  }

  /** Metadata versions in order, then the manifest lists and manifests
    * they reach, each in order of first reference. */
  private object Iceberg {
    def apply(spark: SparkSession, root: Path): JsonNode = new Case(root) {
      listing()
      private val metaDir = root.resolve("metadata")
      private val versions = Using.resource(Files.list(metaDir)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("v\\d+\\.metadata\\.json"))
          .toSeq.sortBy(_.stripPrefix("v").stripSuffix(".metadata.json").toLong)
      }
      private val lists = mutable.LinkedHashSet.empty[String]
      versions.foreach { v =>
        val meta = mapper.readTree(Files.readString(metaDir.resolve(v)))
        meta.get("snapshots").elements().asScala.foreach(s => lists += s.get("manifest-list").asText())
        out.set[JsonNode](v, json(meta))
      }
      out.put("version-hint.text", Files.readString(metaDir.resolve("version-hint.text")))
      private val manifests = mutable.LinkedHashSet.empty[String]
      lists.foreach { l =>
        val p = Paths.get(l.stripPrefix("file://"))
        if (Files.exists(p)) IcebergInterop.readAvro(p)
          .foreach(r => manifests += r.get("manifest_path").toString)
        out.set[JsonNode](str(l), avroFile(p))
      }
      manifests.foreach(mf => out.set[JsonNode](str(mf), avroFile(Paths.get(mf.stripPrefix("file://")))))
    }.result
  }

  /** Log commits in version order (one array of actions each), then
    * `_last_checkpoint` and checkpoint rows. */
  private object Delta {
    def apply(spark: SparkSession, root: Path): JsonNode = new Case(root) {
      listing()
      private val logDir = root.resolve("_delta_log")
      Using.resource(Files.list(logDir)) { s =>
        s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      }.foreach {
        case n if n.endsWith(".json") =>
          val arr = out.putArray(n)
          Files.readAllLines(logDir.resolve(n)).asScala.filter(_.trim.nonEmpty)
            .foreach(l => arr.add(json(mapper.readTree(l))))
        case n if n.endsWith(".checkpoint.parquet") =>
          val arr = out.putArray(n)
          spark.read.parquet(logDir.resolve(n).toString).toJSON.collect()
            .foreach(l => arr.add(json(mapper.readTree(l))))
        case n if n == "_last_checkpoint" =>
          out.set[JsonNode](n, mapper.readTree(Files.readString(logDir.resolve(n))))
        case _ =>
      }
    }.result
  }
}
