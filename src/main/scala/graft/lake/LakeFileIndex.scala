package graft.lake

import java.math.BigInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The data-skipping state of ONE manifest version: its directories
  * and the stat lines it records for them — min/max
  * `dir|col|dtype|min|max` and bloom `dir|bloom:col|bloom<m>|hex|hex`
  * ([[LakeTable]] writes both). Every selection is an
  * over-approximation: a directory survives unless its stats PROVE it
  * holds no matching row, and a directory with no stat for the column
  * always survives. `timeZone` renders timestamp values in the string
  * form the stats were built from. */
private[lake] final case class DirSkipping(dirs: Seq[String], stats: Seq[String],
                                           timeZone: String) extends PredicateHelper {
  private lazy val fields = stats.map(_.split("\\|", -1))

  /** Directories whose recorded `colName` range can meet [lo, hi] (a
    * missing bound is open). An empty recorded range (all-null column)
    * prunes: a range predicate cannot match null. Numeric columns
    * compare as doubles (exact for the integral range lakes index);
    * every other type compares against the bound's string form — the
    * form the stats were built from, and a correct order for
    * fixed-width ISO dates — by UTF-8 bytes, the order Spark's min/max
    * and comparisons use (UTF-16 order differs beyond the BMP). */
  def range(colName: String, lo: Option[String], hi: Option[String]): Seq[String] = {
    val byDir = fields.collect { case Array(d, `colName`, t, mn, mx) => d -> ((t, mn, mx)) }.toMap
    dirs.filter { d =>
      byDir.get(d) match {
        case None => true
        case Some((_, "", _)) | Some((_, _, "")) => false
        case Some((t, mn, mx)) if DirSkipping.isNumericTypeName(t) =>
          !lo.exists(mx.toDouble < _.toDouble) && !hi.exists(mn.toDouble > _.toDouble)
        case Some((_, mn, mx)) =>
          def cmp(a: String, b: String) =
            UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
          !lo.exists(cmp(mx, _) < 0) && !hi.exists(cmp(mn, _) > 0)
      }
    }
  }

  /** Directories whose bloom on `colName` may hold the value of
    * `probe` (a foldable expression at the column's type). The probe's
    * bit positions are evaluated here on the driver, through the same
    * expressions the build ran over the data. A null value matches no
    * row; a zero probes both signs, which Spark's `=` equates but
    * whose string forms hash apart. */
  def equal(colName: String, probe: Expression): Seq[String] = {
    val values = probe.eval() match {
      case null => return Nil
      case d: Double if d == 0.0d => Seq(0.0d, -0.0d)
      case f: Float if f == 0.0f => Seq(0.0f, -0.0f)
      case v => Seq(v)
    }
    val blooms = fields.collect {
      case Array(d, c, t, hx, _) if c == s"bloom:$colName" && t.startsWith("bloom") =>
        d -> ((t.stripPrefix("bloom").toInt, new BigInteger(hx, 16)))
    }.toMap
    val widths = blooms.values.map(_._1).toSet
    val positions = values.map { v =>
      widths.map { w =>
        w -> DirSkipping.bloomPositions(Literal(v, probe.dataType), Literal(w.toLong), timeZone)
          .map(_.eval().asInstanceOf[Long].toInt)
      }.toMap
    }
    dirs.filter(d => blooms.get(d).forall { case (w, bits) =>
      positions.exists(_(w).forall(bits.testBit))
    })
  }

  /** Directories that can hold a row satisfying every conjunct of
    * `filters`. Only a bare column compared with a non-null literal
    * prunes (`=` by range and bloom; `<`/`<=` and `>`/`>=` as the
    * inclusive one-sided range); any other conjunct keeps every
    * directory. */
  def select(filters: Seq[Expression]): Seq[String] =
    filters.flatMap(splitConjunctivePredicates).flatMap(conjunct)
      .foldLeft(dirs)((kept, keep) => kept.filter(keep.toSet))

  private def conjunct(e: Expression): Option[Seq[String]] = {
    val (c, name, l, atLeft) = e match {
      case c @ BinaryComparison(a: AttributeReference, l: Literal) if l.value != null =>
        (c, a.name, l, true)
      case c @ BinaryComparison(l: Literal, a: AttributeReference) if l.value != null =>
        (c, a.name, l, false)
      case _ => return None
    }
    val s = Some(Cast(l, StringType, Some(timeZone)).eval().toString)
    (c, atLeft) match {
      case (_: EqualTo, _) => Some(equal(name, l).intersect(range(name, s, s)))
      case (_: LessThan | _: LessThanOrEqual, true) |
           (_: GreaterThan | _: GreaterThanOrEqual, false) => Some(range(name, None, s))
      case (_: GreaterThan | _: GreaterThanOrEqual, true) |
           (_: LessThan | _: LessThanOrEqual, false) => Some(range(name, s, None))
      case _ => None
    }
  }
}

private[lake] object DirSkipping {

  /** Type names the skipping index compares NUMERICALLY. "date" is
    * deliberately NOT numeric: stats store dates as Spark's string
    * cast ("yyyy-MM-dd"), whose fixed-width ISO form compares
    * correctly lexicographically — parsing it as a double would throw
    * NumberFormatException. */
  private val numericTypeNames = Set("byte", "short", "integer", "long", "float", "double")

  def isNumericTypeName(t: String): Boolean =
    numericTypeNames.contains(t) || t.startsWith("decimal")

  /** The four bit positions of `value` in an `m`-bit bloom, as the
    * expressions `pmod(xxhash64(cast(value AS STRING), i), m)` for
    * i in 0..3 — exactly what the build's `bloomPositionCols` columns
    * analyze to (xxhash64's default seed 42), here evaluated on the
    * driver so a probe starts no Spark job. Equality is on the value's
    * STRING form, so build and probe never disagree on type widening. */
  def bloomPositions(value: Expression, m: Expression, timeZone: String): Seq[Expression] =
    (0 until 4).map(i =>
      Pmod(new XxHash64(Seq(Cast(value, StringType, Some(timeZone)), Literal(i))), m))
}

/** The file index behind every [[LakeTable]] read: Spark's own
  * listing of the version's directories (`inner`), with ONE change —
  * [[listFiles]] drops the files of every directory `skipping` proves
  * cannot match the scan's data filters. Root paths, input files, size
  * and partition schema are delegated unchanged, so the listing cost
  * and the join-strategy statistics are the plain relation's. Spark
  * still applies the filter above the scan. `dirAt` maps a directory's
  * absolute path to its manifest entry. */
private[lake] final case class LakeFileIndex(inner: FileIndex, skipping: DirSkipping,
                                             dirAt: Map[String, String]) extends FileIndex {
  override def rootPaths: Seq[Path] = inner.rootPaths
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def partitionSchema: StructType = inner.partitionSchema

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = inner.listFiles(partitionFilters, dataFilters)
    val kept = skipping.select(dataFilters).toSet
    if (kept.size == skipping.dirs.size) listed
    else {
      def keep(p: Path): Boolean = Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
        .flatMap(q => dirAt.get(q.toUri.getPath)).nextOption().forall(kept)
      listed.map(pd => pd.copy(files = pd.files.filter(f => keep(f.getPath))))
    }
  }
}
