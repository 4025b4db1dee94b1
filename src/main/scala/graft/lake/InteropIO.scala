package graft.lake

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.regexp_replace
import org.apache.spark.sql.types.StructType

/** The file-level helpers [[DeltaInterop]] and [[IcebergInterop]] share:
  * one JSON mapper, one path canonicalization for `_metadata.file_path`
  * joins, one parquet listing, one hive-layout walk and one bin
  * rewrite for compaction. */
private[lake] object InteropIO {

  val mapper = new ObjectMapper()

  /** Canonical form for data-file path equality: any `file:` URI or
    * plain path → one absolute `/…` path. Position deletes and deletion
    * vectors reference data files by EXACT path string, so both the
    * writers and the readers' anti-joins normalize through this. */
  def normPathCol(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  /** The build-side twin of [[normPathCol]]: the absolute path of a
    * local file in the percent-encoded form Spark's
    * `_metadata.file_path` reports (minus the `file:` scheme) — Hadoop's
    * URI quoting, which escapes `%`, space and the like but keeps
    * non-ASCII characters as they are. A hive-partition directory may
    * legally contain such characters (`o_col=NOT SPECIFIED` probes as
    * `NOT%20SPECIFIED`), so keying either side of a path match on the
    * LITERAL filesystem path silently orphans that file's deletes —
    * rows resurrect. Both sides must live in this encoded space. */
  def uriRawPath(p: Path): String =
    new URI(null, null, p.toAbsolutePath.toString, null).getRawPath

  /** The `.parquet` files directly under `dir`, in name order. */
  def parquetFiles(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    }

  /** Walk a freshly written hive-layout parquet tree: every data file in
    * path order with the value of each `column=value` directory segment,
    * decoded by the inverse of Spark's own path escaping (`None` is
    * Spark's null-partition directory). */
  def walkHive(root: Path, partCols: Seq[String]): Seq[(Path, Seq[Option[String]])] =
    Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val rel = root.relativize(p).toString
          val segs = rel.split('/')
          require(segs.length == partCols.length + 1,
            s"unexpected layout depth for $rel (expected ${partCols.length} " +
              "partition directories)")
          p -> segs.dropRight(1).toSeq.zip(partCols).map { case (seg, c) =>
            val eq = seg.indexOf('=')
            require(eq > 0 && seg.substring(0, eq) == c,
              s"unexpected partition directory $seg for column $c")
            val v = seg.substring(eq + 1)
            if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
            else Some(ExternalCatalogUtils.unescapePathName(v))
          }
        }
        .toSeq.sortBy(_._1.toString)
    }

  /** Exact row count from the parquet FOOTER — no Spark job, no data
    * read. Iceberg's `record_count` must be accurate (real readers
    * answer metadata-only COUNT(*) from it), and compaction asserts row
    * preservation with it. */
  def parquetRowCount(f: Path): Long =
    Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri),
        new org.apache.hadoop.conf.Configuration())))(_.getRecordCount)

  /** Compaction's one bin rewrite: read `files` with the table's
    * declared `schema` (never footer inference — a bin may mix pre- and
    * post-evolution files), coalesce to a single part file and move it
    * into `dir` as `compacted-<uuid>.parquet`. */
  def rewriteBin(spark: SparkSession, schema: StructType, files: Seq[Path],
                 dir: Path): Path = {
    val tmp = TempDirs.create("graft-compact")
    spark.read.schema(schema).parquet(files.map(_.toString): _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = parquetFiles(tmp) match {
      case Seq(one) => one
      case other => throw new IllegalStateException(
        s"expected one coalesced part file, found ${other.size}")
    }
    val out = dir.resolve(s"compacted-${UUID.randomUUID()}.parquet")
    Files.move(part, out)
    out
  }
}
