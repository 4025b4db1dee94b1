package graft.lake

import java.io.File
import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.avro.{Schema => AvroSchema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableFileInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Apache-Iceberg wire-format interop for [[LakeTable]] — the second
  * half of BASELINE.json:7's "Delta/Iceberg" sink mapping
  * (VERDICT r8 missing #3; [[DeltaInterop]] shipped the Delta half in
  * r8). Iceberg's table format is public: a JSON *table metadata* file
  * (schema, partition spec, snapshots), an Avro *manifest list* per
  * snapshot (one row per manifest), and Avro *manifest* files (one row
  * per data file). The container carries avro-1.12 (a Spark runtime
  * dependency), so both directions need no connector jar:
  *
  *  - EXPORT writes a spec-shaped v1 table: parquet data files, one
  *    manifest with `field-id`-annotated Avro schemas (real readers
  *    resolve columns by field id), one manifest list, one
  *    `vN.metadata.json` + `version-hint.text`. The schema converts
  *    field-by-field to Iceberg's JSON type names.
  *  - ONE WRITER PER ARTIFACT, shared by every export and maintenance
  *    action: each Avro file goes through `writeAvro`, fed by one
  *    manifest-entry builder (`addedEntry` for a new file,
  *    `existingEntry` for a carried one) and one manifest-list row
  *    builder (`manifestListRow`); every export's metadata JSON comes
  *    from `tableMetadata`; and every metadata version — an export's
  *    `v1` and each maintenance roll-forward — is committed by
  *    `commitMetadata`. `graft.lake.InteropShapeSpec` pins what they
  *    write field by field.
  *  - READ replays the metadata the way an Iceberg reader does:
  *    version-hint → metadata JSON → current snapshot → manifest list
  *    → manifests → live data files (manifest-entry status 2 =
  *    DELETED drops out), then one `spark.read` with the schema the
  *    METADATA declares — never footer inference, the same
  *    schema-from-log rule as [[LakeTable.snapshot]] / [[DeltaInterop]].
  *
  * Partitioned tables: Iceberg's hidden partitioning means data files
  * carry the partition SOURCE COLUMNS physically (the partition spec
  * serves pruning, not storage), so a partitioned table reads
  * correctly as a flat scan with the declared schema — verified
  * against a real file footer, because hive-MIGRATED (`add_files`)
  * data may physically lack those columns and would otherwise read as
  * silent nulls. Export supports identity specs (per-tuple data dirs,
  * typed partition records in the manifest).
  *
  * v2 row-level deletes, BOTH flavors, on both sides:
  *
  *  - POSITION deletes (content = 1): [[exportSnapshotV2]] writes
  *    spec-shaped position-delete files (file_path + pos with the
  *    spec's reserved column ids) under a delete manifest, and the
  *    read path subtracts them with a distributed anti-join on
  *    (normalized path, `_metadata.row_index`). Position deletes name
  *    exact immutable data-file paths, so path+pos equality is
  *    complete without sequence-number ordering.
  *  - EQUALITY deletes (content = 2, the Flink CDC output shape):
  *    [[exportSnapshotV2CDC]] writes the upsert commit shape (one
  *    commit carrying an equality-delete file AND the replacement
  *    rows), and the read path applies each delete to data files whose
  *    data sequence number is STRICTLY LOWER — one flat scan joined to
  *    a broadcast (file → sequence) dimension plus an anti-join per
  *    equality-ids group, not a scan per sequence.
  *
  * Fail-loud boundaries (the r8 Delta discipline — refuse rather than
  * misread): format-version must be 1 or 2, delete content beyond
  * {1, 2} and equality deletes with no declared equality_ids refuse
  * rather than resurrect rows, partition source-ids must resolve in
  * the current schema, migrated files missing partition columns
  * refuse, and only primitive column types convert.
  */
object IcebergInterop {

  import InteropIO.{mapper, normPathCol, parquetFiles, parquetRowCount, rewriteBin,
    uriRawPath, walkHive}

  // ---- schema conversion -------------------------------------------------

  private[lake] def toIcebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"cannot export type $other to Iceberg (primitive columns only)")
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private[lake] def fromIcebergType(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case "binary" => BinaryType
    case "uuid" => StringType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg column type: $other (primitive columns only)")
  }

  /** Iceberg schema JSON → Spark StructType (primitive fields only;
    * nested/list/map fail loud in [[fromIcebergType]]). */
  private[lake] def parseSchema(schema: JsonNode): StructType =
    StructType(schema.get("fields").elements().asScala.map { f =>
      val t = f.get("type")
      require(t.isTextual,
        s"unsupported Iceberg nested type on column ${f.get("name").asText()}")
      StructField(f.get("name").asText(), fromIcebergType(t.asText()),
        nullable = !f.get("required").asBoolean(false))
    }.toSeq)

  // ---- Avro schemas (v1 manifest list + manifest) ------------------------
  // Field ids ride as the "field-id" property — that is how real
  // Iceberg readers bind columns (names are a fallback). The numbers
  // are the spec's fixed ids.

  private def fid(f: AvroSchema.Field, id: Int): AvroSchema.Field = {
    f.addProp("field-id", id: Integer); f
  }

  private def field(name: String, schema: AvroSchema, id: Int): AvroSchema.Field =
    fid(new AvroSchema.Field(name, schema, null, null), id)

  private def optional(s: AvroSchema): AvroSchema =
    AvroSchema.createUnion(p(S.NULL), s)

  private def p(t: AvroSchema.Type) = AvroSchema.create(t)
  private val S = new {
    val STRING = AvroSchema.Type.STRING
    val LONG = AvroSchema.Type.LONG
    val INT = AvroSchema.Type.INT
    val NULL = AvroSchema.Type.NULL
  }

  private[lake] val manifestListSchema: AvroSchema = AvroSchema.createRecord(
    "manifest_file", null, "org.apache.iceberg", false, Seq(
      field("manifest_path", p(S.STRING), 500),
      field("manifest_length", p(S.LONG), 501),
      field("partition_spec_id", p(S.INT), 502),
      field("added_snapshot_id", p(S.LONG), 503),
      field("added_data_files_count", p(S.INT), 504),
      field("existing_data_files_count", p(S.INT), 505),
      field("deleted_data_files_count", p(S.INT), 506)
    ).asJava)

  /** v2 manifest_file: adds `content` (0 = data, 1 = deletes; spec
    * field-id 517) and the sequence-number pair (515/516). The Avro
    * field NAMES keep the v1 spellings (`added_data_files_count` …) —
    * that is what the reference Java implementation writes; readers
    * bind by field-id. */
  private[lake] val manifestListSchemaV2: AvroSchema = AvroSchema.createRecord(
    "manifest_file", null, "org.apache.iceberg", false, Seq(
      field("manifest_path", p(S.STRING), 500),
      field("manifest_length", p(S.LONG), 501),
      field("partition_spec_id", p(S.INT), 502),
      field("content", p(S.INT), 517),
      field("sequence_number", p(S.LONG), 515),
      field("min_sequence_number", p(S.LONG), 516),
      field("added_snapshot_id", p(S.LONG), 503),
      field("added_data_files_count", p(S.INT), 504),
      field("existing_data_files_count", p(S.INT), 505),
      field("deleted_data_files_count", p(S.INT), 506)
    ).asJava)

  private[lake] def manifestEntrySchemaWith(partition: AvroSchema): AvroSchema = {
    val dataFile = AvroSchema.createRecord(
      "r2", null, "org.apache.iceberg", false, Seq(
        field("file_path", p(S.STRING), 100),
        field("file_format", p(S.STRING), 101),
        field("partition", partition, 102),
        field("record_count", p(S.LONG), 103),
        field("file_size_in_bytes", p(S.LONG), 104),
        field("block_size_in_bytes", p(S.LONG), 105) // required in the v1 schema
      ).asJava)
    AvroSchema.createRecord(
      "manifest_entry", null, "org.apache.iceberg", false, Seq(
        field("status", p(S.INT), 0),
        field("snapshot_id", optional(p(S.LONG)), 1),
        field("data_file", dataFile, 2)
      ).asJava)
  }

  private[lake] val manifestEntrySchema: AvroSchema =
    manifestEntrySchemaWith(AvroSchema.createRecord(
      "r102", null, "org.apache.iceberg", false, Seq.empty[AvroSchema.Field].asJava))

  /** v2 manifest_entry: data_file gains `content` (spec field-id 134;
    * 0 = data, 1 = position deletes, 2 = equality deletes) plus
    * `equality_ids` (field-id 135, element-id 136 — the schema field
    * ids an equality delete matches on), and the entry gains optional
    * sequence numbers (inherited when null). */
  private[lake] val manifestEntrySchemaV2: AvroSchema = {
    val eqIds = AvroSchema.createArray(p(S.INT))
    eqIds.addProp("element-id", 136: Integer)
    val dataFile = AvroSchema.createRecord(
      "r2", null, "org.apache.iceberg", false, Seq(
        field("content", p(S.INT), 134),
        field("file_path", p(S.STRING), 100),
        field("file_format", p(S.STRING), 101),
        field("partition", AvroSchema.createRecord(
          "r102", null, "org.apache.iceberg", false,
          Seq.empty[AvroSchema.Field].asJava), 102),
        field("record_count", p(S.LONG), 103),
        field("file_size_in_bytes", p(S.LONG), 104),
        field("equality_ids", optional(eqIds), 135)
      ).asJava)
    AvroSchema.createRecord(
      "manifest_entry", null, "org.apache.iceberg", false, Seq(
        field("status", p(S.INT), 0),
        field("snapshot_id", optional(p(S.LONG)), 1),
        field("sequence_number", optional(p(S.LONG)), 3),
        field("file_sequence_number", optional(p(S.LONG)), 4),
        field("data_file", dataFile, 2)
      ).asJava)
  }

  // ---- partition transforms ----------------------------------------------
  // The spec's non-identity transforms (day, bucket[N], truncate[W]):
  // column expressions for the export write path, driver-side literal
  // evaluation for manifest pruning, and result types for the
  // partition record. Iceberg's hidden partitioning keeps the SOURCE
  // column physically in the data files, so reading a
  // transform-partitioned table is a flat scan — the transforms only
  // matter for writing partition metadata and for file-level pruning.

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r

  /** murmur3_x86_32, seed 0 — the public hash the Iceberg spec fixes
    * for `bucket[N]` (Appendix B). Ints/longs hash their 8-byte
    * little-endian form; strings their UTF-8 bytes. Pinned against the
    * spec's own vectors in the test suite. */
  private[lake] def murmur3(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0; var i = 0
    val n4 = (data.length / 4) * 4
    while (i < n4) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    var j = data.length - 1
    while (j >= n4) { k = (k << 8) | (data(j) & 0xff); j -= 1 }
    if (data.length != n4) {
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  private def longLE(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  /** `bucket[n]` of a raw value (int/long promote to long; string uses
    * UTF-8), per the spec: `(murmur3(v) & Int.MaxValue) % n`. */
  private[lake] def icebergBucket(v: Any, n: Int): Int = {
    val h = v match {
      case i: Int => murmur3(longLE(i.toLong))
      case l: Long => murmur3(longLE(l))
      case s: String => murmur3(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case other => throw new IllegalArgumentException(
        s"bucket transform unsupported for value class ${other.getClass.getName}")
    }
    (h & Int.MaxValue) % n
  }

  /** Canonical spec spelling ("day"; the legacy "days" alias parses). */
  private[lake] def canonicalTransform(t: String): String =
    if (t == "days") "day" else t

  /** Result type of a transform applied to `src` (the partition
    * record's column type). */
  private[lake] def transformResultType(t: String, src: DataType): DataType =
    canonicalTransform(t) match {
      case "identity" => src
      case "day" =>
        require(src == DateType || src == TimestampType || src == TimestampNTZType,
          s"day transform needs a date/timestamp source, got $src")
        IntegerType // days from epoch (displayed as a date by readers)
      case BucketRe(_) =>
        require(src == IntegerType || src == LongType || src == StringType,
          s"bucket transform supports int/long/string sources, got $src")
        IntegerType
      case TruncateRe(_) =>
        require(src == IntegerType || src == LongType || src == StringType,
          s"truncate transform supports int/long/string sources, got $src")
        src
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other")
    }

  /** The transform as a Column over the source column — the export
    * write path (sessions run UTC, so date arithmetic is the spec's
    * UTC day). Bucket needs the spec's exact murmur3, which no
    * built-in computes — a UDF is acceptable here because this runs
    * once per EXPORT, never on a query path. */
  private[lake] def transformColumn(t: String, c: org.apache.spark.sql.Column,
                                    src: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{datediff, lit, pmod, substring, to_date, udf}
    canonicalTransform(t) match {
      case "identity" => c
      case "day" => datediff(to_date(c), lit("1970-01-01"))
      case BucketRe(n) =>
        val nb = n.toInt
        src match {
          case IntegerType => udf((v: Integer) =>
            if (v == null) null else Int.box(icebergBucket(v.intValue, nb))).apply(c)
          case LongType => udf((v: java.lang.Long) =>
            if (v == null) null else Int.box(icebergBucket(v.longValue, nb))).apply(c)
          case StringType => udf((v: String) =>
            if (v == null) null else Int.box(icebergBucket(v, nb))).apply(c)
          case other => throw new IllegalArgumentException(s"bucket on $other")
        }
      case TruncateRe(w) => src match {
        case StringType => substring(c, 1, w.toInt)
        case _ => (c - pmod(c, lit(w.toLong))).cast(src)
      }
    }
  }

  /** Driver-side transform of a pruning literal. Day accepts
    * LocalDate / java.sql.Date / Instant / java.sql.Timestamp /
    * ISO-8601 strings. */
  private[lake] def transformLiteral(t: String, v: Any): Any =
    canonicalTransform(t) match {
      case "identity" => v
      case "day" => v match {
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case i: java.time.Instant => Math.floorDiv(i.getEpochSecond, 86400L).toInt
        case ts: java.sql.Timestamp =>
          Math.floorDiv(ts.toInstant.getEpochSecond, 86400L).toInt
        case s: String => java.time.LocalDate.parse(s).toEpochDay.toInt
        case other => throw new IllegalArgumentException(
          s"cannot interpret $other as a date for the day transform")
      }
      case BucketRe(n) => icebergBucket(v, n.toInt)
      case TruncateRe(w) => v match {
        case s: String => s.substring(0, math.min(w.toInt, s.length))
        case i: Int => Math.floorDiv(i, w.toInt) * w.toInt
        case l: Long => Math.floorDiv(l, w.toLong) * w.toLong
        case other => throw new IllegalArgumentException(s"truncate on $other")
      }
    }

  /** Order-preserving transforms admit range pruning; bucket admits
    * only equality. */
  private[lake] def transformOrderPreserving(t: String): Boolean =
    canonicalTransform(t) match {
      case "identity" | "day" => true
      case TruncateRe(_) => true
      case BucketRe(_) => false
      case _ => false
    }

  /** Partition-field name convention for non-identity transforms
    * (matches the reference Java writer: `ts_day`, `id_bucket`,
    * `s_trunc`). */
  private[lake] def partitionFieldName(src: String, t: String): String =
    canonicalTransform(t) match {
      case "identity" => src
      case "day" => s"${src}_day"
      case BucketRe(_) => s"${src}_bucket"
      case TruncateRe(_) => s"${src}_trunc"
    }

  // ---- writers -----------------------------------------------------------

  /** An Avro record of `schema` from (field → value) pairs. Fields the
    * schema's format version lacks are skipped — v1 has no `content` or
    * sequence numbers, v2 dropped `block_size_in_bytes` — and fields
    * not given stay null. */
  private def record(schema: AvroSchema, values: (String, Any)*): GenericRecord = {
    val r = new GenericData.Record(schema)
    values.foreach { case (k, v) => if (schema.getField(k) != null) r.put(k, v) }
    r
  }

  /** The one Avro writer: `records` under `schema` at `path`. */
  private def writeAvro(path: Path, schema: AvroSchema, records: Seq[GenericRecord]): Path = {
    Using.resource(new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))) { w =>
      w.create(schema, path.toFile)
      records.foreach(w.append)
    }
    path
  }

  private def writeManifest(metaDir: Path, schema: AvroSchema,
                            entries: Seq[GenericRecord]): Path =
    writeAvro(metaDir.resolve(s"manifest-${UUID.randomUUID()}.avro"), schema, entries)

  private def writeManifestList(metaDir: Path, snapshotId: Long, schema: AvroSchema,
                                rows: Seq[GenericRecord]): Path =
    writeAvro(metaDir.resolve(s"snap-$snapshotId-${UUID.randomUUID()}.avro"), schema, rows)

  /** The manifest-entry builder, for a data file entering a manifest:
    * status ADDED under `snapshotId`, an absolute `file:` URI (Iceberg
    * stores fully-qualified paths), the footer's row count and the
    * on-disk size. `partition` fills the typed partition record; v2
    * entries also take `content`, explicit sequence numbers (real
    * writers may leave them null and inherit — the reader supports
    * both) and, for equality deletes, `equalityIds`. */
  private def addedEntry(schema: AvroSchema, file: Path, snapshotId: Long,
                         partition: Seq[(String, Any)] = Nil, content: Int = 0,
                         seq: Long = 0L, equalityIds: Seq[Int] = Nil): GenericRecord = {
    val dataFile = schema.getField("data_file").schema()
    record(schema, "status" -> 1, "snapshot_id" -> snapshotId,
      "sequence_number" -> seq, "file_sequence_number" -> seq,
      "data_file" -> record(dataFile,
        "content" -> content,
        "file_path" -> s"file://${file.toAbsolutePath}",
        "file_format" -> "PARQUET",
        "partition" -> record(dataFile.getField("partition").schema(), partition: _*),
        "record_count" -> parquetRowCount(file),
        "file_size_in_bytes" -> Files.size(file),
        "block_size_in_bytes" -> 64L * 1024 * 1024,
        "equality_ids" -> (if (equalityIds.isEmpty) null else equalityIds.map(Int.box).asJava)))
  }

  /** The manifest-entry builder, for an entry of an earlier manifest
    * carried into a new one: status EXISTING under its ORIGINAL commit
    * snapshot id with its file fields verbatim (the spec's lineage
    * rule). Unpartitioned v1 entries — the maintenance rewrites' scope. */
  private def existingEntry(schema: AvroSchema, entry: GenericRecord): GenericRecord = {
    val dataFile = schema.getField("data_file").schema()
    val src = entry.get("data_file").asInstanceOf[GenericRecord]
    record(schema, "status" -> 0, "snapshot_id" -> entry.get("snapshot_id"),
      "data_file" -> record(dataFile, dataFile.getFields.asScala.toSeq.map { f =>
        f.name -> (if (f.name == "partition") record(f.schema()) else src.get(f.name))
      }: _*))
  }

  /** The one manifest-list row builder: the manifest's path and length,
    * its partition spec, the snapshot that added it and its file
    * counts; v2 rows add `content` (0 = data, 1 = deletes) and the
    * sequence-number pair. */
  private def manifestListRow(schema: AvroSchema, manifest: Path, snapshotId: Long,
                              added: Int, existing: Int = 0, specId: Int = 0,
                              content: Int = 0, seq: Long = 0L): GenericRecord =
    record(schema,
      "manifest_path" -> s"file://${manifest.toAbsolutePath}",
      "manifest_length" -> Files.size(manifest),
      "partition_spec_id" -> specId,
      "content" -> content,
      "sequence_number" -> seq,
      "min_sequence_number" -> seq,
      "added_snapshot_id" -> snapshotId,
      "added_data_files_count" -> added,
      "existing_data_files_count" -> existing,
      "deleted_data_files_count" -> 0)

  /** One `snapshots` entry; `sequence` marks a v2 snapshot. */
  private case class SnapshotEntry(id: Long, timestampMs: Long, operation: String,
                                   manifestList: Path, parent: Option[Long] = None,
                                   sequence: Option[Long] = None,
                                   schemaId: Option[Int] = None)

  private def putSnapshot(snapshots: ArrayNode, s: SnapshotEntry): Unit = {
    val n = snapshots.addObject()
    n.put("snapshot-id", s.id)
    s.parent.foreach(p => n.put("parent-snapshot-id", p))
    s.sequence.foreach(q => n.put("sequence-number", q))
    n.put("timestamp-ms", s.timestampMs)
    // a v2 snapshot names its schema ahead of the summary, a v1 one last
    if (s.sequence.nonEmpty) s.schemaId.foreach(i => n.put("schema-id", i))
    n.putObject("summary").put("operation", s.operation)
    n.put("manifest-list", s"file://${s.manifestList.toAbsolutePath}")
    if (s.sequence.isEmpty) s.schemaId.foreach(i => n.put("schema-id", i))
  }

  private def logSnapshot(log: ArrayNode, id: Long, timestampMs: Long): Unit = {
    val e = log.addObject()
    e.put("timestamp-ms", timestampMs)
    e.put("snapshot-id", id)
  }

  private def schemaNode(schema: StructType, id: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", "struct")
    n.put("schema-id", id)
    val fields = n.putArray("fields")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1)
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.put("type", toIcebergType(f.dataType))
    }
    n
  }

  /** The one table-metadata builder (`vN.metadata.json`, v1 or v2).
    * `schemas` are indexed by schema-id: v1 writes the current one as
    * the top-level `schema`, plus the `schemas` list when `schemaList`;
    * v2 always writes the list. `specs` are (source column, transform)
    * lists indexed by spec-id — partition field ids are table-unique
    * across the spec history (1000, 1001, …) — and v1 repeats the
    * default spec as the legacy `partition-spec`. The last snapshot is
    * current; `logged` fills `snapshot-log` from the snapshots. */
  private def tableMetadata(location: Path, formatVersion: Int, nowMs: Long,
                            schemas: Seq[StructType], currentSchemaId: Int,
                            specs: Seq[Seq[(String, String)]], defaultSpecId: Int,
                            lastPartitionId: Int, snapshots: Seq[SnapshotEntry],
                            schemaList: Boolean = false,
                            logged: Boolean = false): ObjectNode = {
    val v2 = formatVersion == 2
    val current = schemas(currentSchemaId)
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    root.put("table-uuid", UUID.randomUUID().toString)
    root.put("location", s"file://${location.toAbsolutePath}")
    if (v2) root.put("last-sequence-number", snapshots.flatMap(_.sequence).max)
    root.put("last-updated-ms", nowMs)
    root.put("last-column-id", current.fields.length)
    if (!v2) root.set[ObjectNode]("schema", schemaNode(current, currentSchemaId))
    if (v2 || schemaList) {
      root.put("current-schema-id", currentSchemaId)
      val arr = root.putArray("schemas")
      schemas.zipWithIndex.foreach { case (s, i) => arr.add(schemaNode(s, i)) }
    }
    val colId = current.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val firstFieldId = specs.scanLeft(1000)(_ + _.size)
    def putFields(arr: ArrayNode, specId: Int): Unit =
      specs(specId).zipWithIndex.foreach { case ((c, t), i) =>
        val fn = arr.addObject()
        fn.put("name", partitionFieldName(c, t))
        fn.put("transform", t)
        fn.put("source-id", colId(c))
        fn.put("field-id", firstFieldId(specId) + i)
      }
    if (!v2) putFields(root.putArray("partition-spec"), defaultSpecId)
    val specsArr = root.putArray("partition-specs")
    specs.indices.foreach { si =>
      val sp = specsArr.addObject()
      sp.put("spec-id", si)
      putFields(sp.putArray("fields"), si)
    }
    root.put("default-spec-id", defaultSpecId)
    root.put("last-partition-id", lastPartitionId)
    root.put("default-sort-order-id", 0)
    val order0 = root.putArray("sort-orders").addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    root.putObject("properties")
    root.put("current-snapshot-id", snapshots.last.id)
    val snapsArr = root.putArray("snapshots")
    snapshots.foreach(putSnapshot(snapsArr, _))
    val log = root.putArray("snapshot-log")
    if (logged) snapshots.foreach(s => logSnapshot(log, s.id, s.timestampMs))
    root.putArray("metadata-log")
    root
  }

  /** The one metadata commit: write `v<version>.metadata.json`, then
    * point `version-hint.text` at it. */
  private def commitMetadata(metaDir: Path, version: Long, meta: JsonNode): Unit = {
    Files.writeString(metaDir.resolve(s"v$version.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))
    Files.writeString(metaDir.resolve("version-hint.text"), version.toString)
  }

  /** The table's current metadata, parsed for editing, with the
    * directory and version a maintenance commit rolls forward from. */
  private case class TableState(dir: Path, version: Long, meta: ObjectNode) {
    def commitNext(): Unit = commitMetadata(dir, version + 1, meta)
  }

  private def load(root: Path): TableState = {
    val p = currentMetadata(root)
    TableState(p.getParent,
      p.getFileName.toString.stripPrefix("v").stripSuffix(".metadata.json").toLong,
      mapper.readTree(Files.readString(p)).asInstanceOf[ObjectNode])
  }

  private def newSnapshotId(): Long =
    math.abs(UUID.randomUUID().getLeastSignificantBits) | 1L

  private def nextSnapshotId(meta: JsonNode): Long =
    meta.get("snapshots").elements().asScala.map(_.get("snapshot-id").asLong()).max + 1

  private def schemaIdOf(snapshot: JsonNode): Option[Int] =
    if (snapshot.has("schema-id")) Some(snapshot.get("schema-id").asInt()) else None

  private def putRef(meta: ObjectNode, name: String, snapshotId: Long,
                     refType: String): Unit = {
    val refs =
      if (meta.has("refs") && meta.get("refs").isObject)
        meta.get("refs").asInstanceOf[ObjectNode]
      else meta.putObject("refs")
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId)
    r.put("type", refType)
  }

  private def schemaById(meta: JsonNode, root: Path, id: Int): JsonNode =
    meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == id)
      .getOrElse(throw new IllegalArgumentException(
        s"schema-id $id not in schemas list at $root"))

  /** The current schema: the top-level `schema`, else the `schemas`
    * entry named by `current-schema-id`. */
  private def currentSchema(meta: JsonNode, root: Path): JsonNode =
    if (meta.has("schema")) meta.get("schema")
    else schemaById(meta, root, meta.get("current-schema-id").asInt())

  // ---- export ------------------------------------------------------------

  /** Typed value of a decoded hive partition directory segment. */
  private def hiveValue(v: String, rt: DataType): Any = rt match {
    case IntegerType => Int.box(v.toInt)
    case LongType => Long.box(v.toLong)
    case DoubleType => Double.box(v.toDouble)
    case FloatType => Float.box(v.toFloat)
    case BooleanType => Boolean.box(v.toBoolean)
    case StringType => v
    case other => throw new IllegalArgumentException(
      s"cannot parse hive partition value for type $other")
  }

  /** Avro type for an identity-partition field in the manifest's
    * partition record (always nullable per the spec). */
  private def partitionAvroType(dt: DataType): AvroSchema = dt match {
    case IntegerType | ShortType | ByteType => p(AvroSchema.Type.INT)
    case LongType => p(AvroSchema.Type.LONG)
    case StringType => p(AvroSchema.Type.STRING)
    case DoubleType => p(AvroSchema.Type.DOUBLE)
    case FloatType => p(AvroSchema.Type.FLOAT)
    case BooleanType => p(AvroSchema.Type.BOOLEAN)
    case other => throw new IllegalArgumentException(
      s"unsupported identity-partition column type for Iceberg export: $other")
  }

  private def writeParquet(df: DataFrame, dir: Path): Seq[Path] = {
    df.write.mode("error").parquet(dir.toString)
    parquetFiles(dir)
  }

  /** Write `df` under `dataDir` with one directory per distinct
    * TRANSFORMED tuple of `spec` (collected driver-side — partition
    * tuples are bounded by design, the same assumption every
    * table-format writer makes), then its manifest: one ADDED entry per
    * data file with a typed partition record, field ids from
    * `firstFieldId`. The transformed values ride in tagged helper
    * columns and ONE distributed hive-layout write partitions on them —
    * partitionBy strips the helpers from the files, so the files keep
    * exactly the source columns (hidden partitioning) while the
    * directory names carry the transformed values. (A per-tuple slice
    * loop would re-scan the table once per distinct tuple: 30 scans for
    * a 30-day export.) Returns (manifest, data file count). */
  private def writeSpecData(df: DataFrame, dataDir: Path, metaDir: Path,
                            spec: Seq[(String, String)], firstFieldId: Int,
                            snapshotId: Long): (Path, Int) = {
    import org.apache.spark.sql.functions.col
    val tnames = spec.indices.map(i => s"__gf_pt_$i")
    df.select(df.columns.map(col) ++ spec.zip(tnames).map { case ((c, t), n) =>
        transformColumn(t, col(c), df.schema(c).dataType).as(n) }: _*)
      .write.mode("error").partitionBy(tnames: _*).parquet(dataDir.toString)
    val types = spec.map { case (c, t) => transformResultType(t, df.schema(c).dataType) }
    val names = spec.map { case (c, t) => partitionFieldName(c, t) }
    val entrySchema = manifestEntrySchemaWith(AvroSchema.createRecord(
      "r102", null, "org.apache.iceberg", false,
      names.zip(types).zipWithIndex.map { case ((n, rt), i) =>
        field(n, optional(partitionAvroType(rt)), firstFieldId + i)
      }.asJava))
    val files = walkHive(dataDir, tnames)
    val manifest = writeManifest(metaDir, entrySchema, files.map { case (f, values) =>
      addedEntry(entrySchema, f, snapshotId, partition = names.zip(
        values.zip(types).map { case (v, rt) => v.map(hiveValue(_, rt)).orNull }))
    })
    (manifest, files.size)
  }

  /** Export `table`'s snapshot at `version` (default: latest) as a
    * standalone Iceberg v1 table at `destRoot`
    * (parquet files under `data/`, then manifest + manifest list +
    * v1.metadata.json + version-hint.text under `metadata/`). Returns the number of
    * data files. Same re-materialization rule as
    * [[DeltaInterop.exportSnapshot]]: rows pass through the DECLARED
    * schema so exported files carry evolved columns physically.
    *
    * Pass `identityPartitionBy` to export an IDENTITY-partitioned
    * table, or `transformPartitionBy` as (sourceCol → transform) pairs
    * — "identity", "day"/"days", "bucket[N]", "truncate[W]" — for the
    * spec's hidden-partitioning transforms: one data directory per
    * distinct TRANSFORMED tuple, a typed partition record on every
    * manifest entry, and the transform spec in the metadata. Unlike
    * Delta/hive, the data files keep the partition SOURCE COLUMNS
    * physically (partition metadata serves pruning, not storage),
    * which is exactly what lets [[readIceberg]] scan them flat and
    * [[readIcebergPruned]] skip whole files from the manifests. */
  def exportSnapshot(table: LakeTable, destRoot: Path, version: Long = -1L,
                     identityPartitionBy: Seq[String] = Nil,
                     transformPartitionBy: Seq[(String, String)] = Nil): Int = {
    val df = table.snapshot(version)
    df.schema.fields.foreach(f => toIcebergType(f.dataType)) // fail loud up front
    require(identityPartitionBy.isEmpty || transformPartitionBy.isEmpty,
      "pass identityPartitionBy or transformPartitionBy, not both")
    // (sourceCol, transform) — identity partitioning is the transform
    // special case, one code path
    val pfields: Seq[(String, String)] =
      identityPartitionBy.map(_ -> "identity") ++
        transformPartitionBy.map { case (c, t) => c -> canonicalTransform(t) }
    require(pfields.forall { case (c, _) => df.columns.contains(c) },
      s"partition columns ${pfields.map(_._1).mkString(",")} not all in " +
        df.columns.mkString(","))
    pfields.foreach { case (c, t) =>
      transformResultType(t, df.schema(c).dataType) } // fail loud up front
    val metaDir = destRoot.resolve("metadata")
    Files.createDirectories(metaDir)
    val snapshotId = newSnapshotId()
    val (manifest, nFiles) =
      writeSpecData(df, destRoot.resolve("data"), metaDir, pfields, 1000, snapshotId)
    val listPath = writeManifestList(metaDir, snapshotId, manifestListSchema,
      Seq(manifestListRow(manifestListSchema, manifest, snapshotId, nFiles)))
    val nowMs = Files.getLastModifiedTime(destRoot).toMillis
    commitMetadata(metaDir, 1L, tableMetadata(destRoot, 1, nowMs, Seq(df.schema), 0,
      Seq(pfields), 0, 999 + math.max(pfields.size, 1),
      Seq(SnapshotEntry(snapshotId, nowMs, "append", listPath))))
    nFiles
  }

  /** PARTITION-SPEC EVOLUTION export (v1): snapshot 1 holds the rows
    * matching `oldWhere` partitioned under `oldSpec` (spec-id 0);
    * the spec then evolves and snapshot 2 — the current one — appends
    * the remaining rows under `newSpec` (spec-id 1). Snapshot 2's
    * manifest list carries BOTH manifests, each tagged with its own
    * partition_spec_id, and the metadata's partition-specs list keeps
    * the full spec history with `default-spec-id` = 1 — exactly the
    * layout a real table has after `ALTER TABLE … REPLACE PARTITION
    * FIELD`. Old data is NEVER rewritten on evolution (the spec's core
    * promise); a reader prunes each manifest by the spec it was
    * written under and keeps manifests whose spec cannot prove
    * exclusion. Returns (old-spec file count, new-spec file count). */
  def exportSnapshotEvolved(table: LakeTable, destRoot: Path,
                            oldSpec: Seq[(String, String)],
                            newSpec: Seq[(String, String)],
                            oldWhere: org.apache.spark.sql.Column,
                            version: Long = -1L): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val df = table.snapshot(version)
    df.schema.fields.foreach(f => toIcebergType(f.dataType)) // fail loud up front
    // a NULL-valued predicate must not lose the row: filter(p) and
    // filter(not(p)) BOTH drop NULL rows (ADVICE r12) — pin NULL to
    // the new-spec era so every input row lands in exactly one slice
    val oldPred = coalesce(oldWhere, lit(false))
    val specs: Seq[Seq[(String, String)]] =
      Seq(oldSpec, newSpec).map(_.map { case (c, t) => c -> canonicalTransform(t) })
    specs.flatten.foreach { case (c, t) =>
      require(df.columns.contains(c), s"partition column $c not in ${df.columns.mkString(",")}")
      transformResultType(t, df.schema(c).dataType) // fail loud up front
    }
    val metaDir = destRoot.resolve("metadata")
    Files.createDirectories(metaDir)
    val snapIds = Seq.fill(2)(newSnapshotId())
    // field-ids are table-unique ACROSS the spec history (1000, 1001, …)
    val firstFieldIds = Seq(1000, 1000 + oldSpec.size)
    val rows = specs.zipWithIndex.map { case (spec, si) =>
      val slice = if (si == 0) df.filter(oldPred) else df.filter(not(oldPred))
      val (manifest, n) = writeSpecData(slice, destRoot.resolve("data").resolve(s"s$si"),
        metaDir, spec, firstFieldIds(si), snapIds(si))
      (manifestListRow(manifestListSchema, manifest, snapIds(si), n, specId = si), n)
    }
    // snapshot 1 sees only the old-spec manifest; snapshot 2 (current)
    // sees both, each row tagged with the spec it was written under
    val lists = Seq(rows.take(1), rows).zip(snapIds).map { case (rs, id) =>
      writeManifestList(metaDir, id, manifestListSchema, rs.map(_._1)) }
    val nowMs = Files.getLastModifiedTime(destRoot).toMillis
    commitMetadata(metaDir, 1L, tableMetadata(destRoot, 1, nowMs, Seq(df.schema), 0,
      specs, 1, 999 + math.max(specs.map(_.size).sum, 1),
      snapIds.zip(lists).map { case (id, lp) => SnapshotEntry(id, nowMs, "append", lp) }))
    (rows(0)._2, rows(1)._2)
  }

  /** Spec column ids for position-delete files (Iceberg spec §Position
    * Delete Files): 2147483546 = file_path, 2147483545 = pos. Spark
    * writes them into the parquet footer via the `parquet.field.id`
    * field metadata (fieldId.write is on by default), so real readers
    * can bind the columns by id. */
  private val DeleteFileIdFilePath = 2147483546L
  private val DeleteFileIdPos = 2147483545L

  /** One sorted position-delete file under `dir` for the rows of `scan`,
    * a filtered scan of data files: positions come from
    * `_metadata.file_path`/`_metadata.row_index` on the distributed
    * scan (no driver-side row handling) — row_index IS the Iceberg
    * position, the 0-based ordinal within the data file. */
  private def writePositionDeletes(scan: DataFrame, dir: Path): Seq[Path] = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val fpMeta = new MetadataBuilder().putLong("parquet.field.id", DeleteFileIdFilePath).build()
    val posMeta = new MetadataBuilder().putLong("parquet.field.id", DeleteFileIdPos).build()
    writeParquet(scan
      .select(
        concat(lit("file://"), normPathCol(col("_metadata.file_path")))
          .as("file_path", fpMeta),
        col("_metadata.row_index").as("pos", posMeta))
      .repartition(1) // deletes are a small fraction of a snapshot; one sorted file
      .sortWithinPartitions("file_path", "pos"), dir)
  }

  /** Export `table`'s snapshot as an Iceberg **v2** table with
    * row-level POSITION DELETES: all snapshot rows are written as data
    * files, and the rows matching `deleteWhere` are then marked
    * deleted via a position-delete file (`file_path` + `pos` per the
    * spec, spec column-ids in the parquet footer) referenced from a
    * delete manifest (`content` = 1 in the manifest list). A v2 reader
    * — including [[readIceberg]] — must subtract those positions; a
    * reader that ignores delete manifests would resurrect the rows,
    * which is exactly why [[readIceberg]] refuses manifests it cannot
    * apply.
    *
    * The scale path on both sides is Spark's parquet metadata columns:
    * positions come from `_metadata.file_path`/`_metadata.row_index`
    * on a distributed scan (no driver-side row handling), and the
    * reader applies deletes as a distributed anti-join on the same
    * pair. Position deletes name exact immutable file paths, so
    * path+pos equality is sufficient regardless of sequence numbers —
    * those are still written spec-correct (everything at sequence 1).
    *
    * Returns (dataFiles, deletedRows). */
  def exportSnapshotV2(table: LakeTable, destRoot: Path,
                       deleteWhere: org.apache.spark.sql.Column,
                       version: Long = -1L): (Int, Long) = {
    val df = table.snapshot(version)
    df.schema.fields.foreach(f => toIcebergType(f.dataType)) // fail loud up front
    val spark = df.sparkSession
    val dataDir = destRoot.resolve("data")
    val metaDir = destRoot.resolve("metadata")
    Files.createDirectories(metaDir)
    val parts = writeParquet(df, dataDir)
    val deletesDir = destRoot.resolve("deletes")
    val deleteParts =
      writePositionDeletes(spark.read.parquet(dataDir.toString).filter(deleteWhere), deletesDir)
    val nDeleted = spark.read.parquet(deletesDir.toString).count()

    val snapshotId = newSnapshotId()
    val es = manifestEntrySchemaV2
    val dataManifest = writeManifest(metaDir, es,
      parts.map(addedEntry(es, _, snapshotId, seq = 1L)))
    val deleteManifest = writeManifest(metaDir, es,
      deleteParts.map(addedEntry(es, _, snapshotId, content = 1, seq = 1L)))
    // v2 manifest list: the delete manifest rides with content = 1
    val ls = manifestListSchemaV2
    val listPath = writeManifestList(metaDir, snapshotId, ls, Seq(
      manifestListRow(ls, dataManifest, snapshotId, parts.size, seq = 1L),
      manifestListRow(ls, deleteManifest, snapshotId, deleteParts.size, content = 1, seq = 1L)))
    val nowMs = Files.getLastModifiedTime(destRoot).toMillis
    commitMetadata(metaDir, 1L, tableMetadata(destRoot, 2, nowMs, Seq(df.schema), 0,
      Seq(Nil), 0, 999, Seq(SnapshotEntry(snapshotId, nowMs, "overwrite", listPath,
        sequence = Some(1L), schemaId = Some(0)))))
    (parts.size, nDeleted)
  }

  /** Export a CDC/upsert-shaped Iceberg v2 table with EQUALITY DELETES
    * (`content` = 2) — the output shape of Flink CDC writers, and the
    * delete flavor [[readIceberg]] refused until now:
    *
    *  - snapshot 1 (sequence 1): the table snapshot's rows as data files;
    *  - snapshot 2 (sequence 2): ONE commit carrying both an
    *    equality-delete file (the distinct `keyCols` tuples of rows
    *    matching `deleteWhere`, plus every upsert row's key — CDC
    *    upsert = delete + insert) and the `upserts` rows as new data
    *    files.
    *
    * The spec's application rule makes this shape work: an equality
    * delete applies only to data files whose data sequence number is
    * STRICTLY LOWER than the delete's, so the seq-2 upsert rows survive
    * the seq-2 delete that kills their seq-1 predecessors. A reader
    * using `<=` would annihilate every upsert; one ignoring sequence
    * numbers entirely would either do that or resurrect the old rows.
    *
    * The equality-delete parquet carries the key columns under their
    * schema field ids (parquet footer metadata), and the manifest
    * entry declares them via `equality_ids` (spec field-id 135).
    *
    * Pass `posDeleteWhere` to ALSO write a position-delete file against
    * the sequence-1 data files in the same commit — a table carrying
    * both delete flavors at once, the mixed shape compaction-lagged CDC
    * tables have in production.
    *
    * Returns (dataFiles, deleteKeyRows). */
  def exportSnapshotV2CDC(table: LakeTable, destRoot: Path,
                          keyCols: Seq[String],
                          deleteWhere: org.apache.spark.sql.Column,
                          upserts: DataFrame,
                          posDeleteWhere: Option[org.apache.spark.sql.Column] = None,
                          version: Long = -1L): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val df = table.snapshot(version)
    df.schema.fields.foreach(f => toIcebergType(f.dataType)) // fail loud up front
    require(keyCols.nonEmpty && keyCols.forall(df.columns.contains),
      s"keyCols ${keyCols.mkString(",")} not all in ${df.columns.mkString(",")}")
    require(upserts.schema.fieldNames.sameElements(df.schema.fieldNames),
      s"upserts schema ${upserts.columns.mkString(",")} must match table " +
        s"schema ${df.columns.mkString(",")}")
    val spark = df.sparkSession
    val metaDir = destRoot.resolve("metadata")
    Files.createDirectories(metaDir)
    val baseDir = destRoot.resolve("data").resolve("s1")
    val baseParts = writeParquet(df, baseDir)
    val upsertParts = writeParquet(upserts.select(df.columns.map(col): _*),
      destRoot.resolve("data").resolve("s2"))
    // the equality-delete file: key tuples to kill at sequence 2, with
    // the schema field ids in the parquet footer (spec binding)
    val colId = df.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val keyed = df.filter(deleteWhere).select(keyCols.map(col): _*)
      .union(upserts.select(keyCols.map(col): _*))
      .distinct()
    val idMeta = keyCols.map(c =>
      new MetadataBuilder().putLong("parquet.field.id", colId(c).toLong).build())
    val delDf = keyed.select(keyCols.zip(idMeta).map { case (c, md) =>
      col(c).as(c, md)
    }: _*).repartition(1).sortWithinPartitions(keyCols.map(col): _*)
    val eqParts = writeParquet(delDf, destRoot.resolve("deletes"))
    val nDeleteKeys = spark.read.parquet(destRoot.resolve("deletes").toString).count()
    // optional position-delete file against the seq-1 data files, same
    // commit — the mixed-flavor shape
    val posParts: Seq[Path] = posDeleteWhere.toSeq.flatMap(w => writePositionDeletes(
      spark.read.parquet(baseDir.toString).filter(w), destRoot.resolve("posdeletes")))

    val snap1 = newSnapshotId()
    val snap2 = snap1 + 1
    val es = manifestEntrySchemaV2
    val m1 = writeManifest(metaDir, es, baseParts.map(addedEntry(es, _, snap1, seq = 1L)))
    val m2 = writeManifest(metaDir, es, upsertParts.map(addedEntry(es, _, snap2, seq = 2L)))
    val m3 = writeManifest(metaDir, es, eqParts.map(addedEntry(es, _, snap2,
      content = 2, seq = 2L, equalityIds = keyCols.map(colId))))
    val mPos = posDeleteWhere.map(_ => writeManifest(metaDir, es,
      posParts.map(addedEntry(es, _, snap2, content = 1, seq = 2L))))
    val ls = manifestListSchemaV2
    val base = manifestListRow(ls, m1, snap1, baseParts.size, seq = 1L)
    val list1 = writeManifestList(metaDir, snap1, ls, Seq(base))
    val list2 = writeManifestList(metaDir, snap2, ls, Seq(base,
      manifestListRow(ls, m2, snap2, upsertParts.size, seq = 2L),
      manifestListRow(ls, m3, snap2, eqParts.size, content = 1, seq = 2L)) ++
      mPos.map(manifestListRow(ls, _, snap2, posParts.size, content = 1, seq = 2L)))
    val nowMs = Files.getLastModifiedTime(destRoot).toMillis
    commitMetadata(metaDir, 1L, tableMetadata(destRoot, 2, nowMs, Seq(df.schema), 0,
      Seq(Nil), 0, 999, Seq(
        SnapshotEntry(snap1, nowMs, "append", list1, sequence = Some(1L), schemaId = Some(0)),
        SnapshotEntry(snap2, nowMs, "overwrite", list2, parent = Some(snap1),
          sequence = Some(2L), schemaId = Some(0)))))
    (baseParts.size + upsertParts.size, nDeleteKeys)
  }

  /** Export the table's FULL HISTORY as one Iceberg table: lake version
    * v becomes snapshot-id v, so Iceberg snapshot time travel ≡
    * `table.snapshot(v)`. The layout exploits the lake's immutability
    * exactly like [[DeltaInterop.exportHistory]]:
    *
    *  - data files are HARD-LINKED per lake data directory
    *    (metadata-speed regardless of table size);
    *  - ONE MANIFEST PER DATA DIRECTORY, written once when the dir
    *    first appears — a snapshot's manifest list then simply
    *    references the manifests of its live dirs, which is Iceberg's
    *    own manifest-reuse design (an overwrite drops whole manifests
    *    from the list, no rewrite);
    *  - schema evolution exports as the `schemas` list with a
    *    per-snapshot `schema-id` (the metadata's top-level `schema`
    *    stays the latest, for readers that only look there), so time
    *    travel to a pre-evolution snapshot sees the narrow schema,
    *    matching [[LakeTable.snapshot]].
    *
    * Returns the number of snapshots written. */
  def exportHistory(table: LakeTable, destRoot: Path): Int = {
    val versions = table.versions
    val metaDir = destRoot.resolve("metadata")
    Files.createDirectories(metaDir)
    // distinct declared schemas in version order → schema-ids
    val schemaJsonByVersion: Map[Long, Option[String]] =
      versions.map(v => v -> table.versionState(v)._2.map(_.json)).toMap
    require(schemaJsonByVersion(versions.head).nonEmpty,
      s"cannot export history of $table: first surviving version has no " +
        "declared schema — commit data (or create with a schema) first")
    val distinctSchemas: Seq[String] =
      versions.flatMap(v => schemaJsonByVersion(v)).distinct
    val schemaId: Map[String, Int] = distinctSchemas.zipWithIndex.toMap
    // one manifest per data dir, created on first appearance: (manifest,
    // file count, adding snapshot)
    val manifestByDir = scala.collection.mutable.LinkedHashMap.empty[String, (Path, Int, Long)]
    def writeManifestFor(dir: String, snapshotId: Long): (Path, Int, Long) = {
      // hard-link (copy across filesystems) the immutable data files
      val destDir = destRoot.resolve("data").resolve(dir.stripPrefix("data/"))
      Files.createDirectories(destDir)
      val linked = parquetFiles(table.root.resolve(dir)).map { f =>
        val d = destDir.resolve(f.getFileName)
        if (!Files.exists(d)) {
          try Files.createLink(d, f)
          catch { case _: java.nio.file.FileSystemException => Files.copy(f, d) }
        }
        d
      }
      (writeManifest(metaDir, manifestEntrySchema,
        linked.map(addedEntry(manifestEntrySchema, _, snapshotId))), linked.size, snapshotId)
    }
    // per version: ensure manifests exist for its dirs, write its
    // manifest list over exactly the live set
    val listByVersion = versions.map { v =>
      val (dirs, _) = table.versionState(v)
      dirs.foreach { d =>
        if (!manifestByDir.contains(d)) manifestByDir(d) = writeManifestFor(d, v)
      }
      writeManifestList(metaDir, v, manifestListSchema, dirs.map { d =>
        val (mp, nFiles, added) = manifestByDir(d)
        manifestListRow(manifestListSchema, mp, added, nFiles)
      })
    }
    // snapshots get DISTINCT, strictly increasing timestamps (one
    // minute apart, ending at nowMs) — timestamp-resolved time travel
    // ([[readIcebergAsOf]]) needs an order, and a history whose
    // commits all share one timestamp cannot express one
    val nowMs = Files.getLastModifiedTime(destRoot).toMillis
    // schema at each snapshot: the last one declared at or before it
    val schemaAt = versions.map(schemaJsonByVersion).scanLeft(Option.empty[String])(
      (last, sj) => sj.orElse(last)).tail
    val snapshots = versions.zip(listByVersion).zip(schemaAt).map { case ((v, lp), sj) =>
      SnapshotEntry(v, nowMs - (versions.last - v) * 60000L, "append", lp,
        parent = if (v != versions.head) Some(v - 1) else None,
        schemaId = sj.map(schemaId))
    }
    val latestJson = versions.reverse.flatMap(v => schemaJsonByVersion(v)).head
    commitMetadata(metaDir, 1L, tableMetadata(destRoot, 1, nowMs,
      distinctSchemas.map(j => StructType(DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(_.copy(nullable = true)))),
      schemaId(latestJson), Seq(Nil), 0, 999, snapshots, schemaList = true, logged = true))
    versions.size
  }

  // ---- maintenance ---------------------------------------------------------

  case class ExpireResult(expired: Seq[Long], deletedManifestLists: Int,
                          deletedManifests: Int, deletedDataFiles: Int)

  /** SNAPSHOT EXPIRY (the Iceberg twin of [[LakeTable.vacuum]] /
    * Delta's log cleanup, VERDICT r12 next #5): drop all but the last
    * `retainLast` snapshots and physically remove everything only
    * they could reach. The invariant that matters — and the reason
    * expiry is manifest-REUSE-aware rather than per-snapshot — is
    * that [[exportHistory]]-shaped tables share manifests across
    * snapshots (a data dir's manifest is written once and referenced
    * by every later manifest list), so reachability is computed from
    * the KEPT side first: a manifest list, manifest, or data file is
    * deleted only when no retained snapshot references it, at any
    * status or content kind (conservative — a file a live manifest
    * merely mentions is never touched). Metadata rolls forward to a
    * new `v(N+1).metadata.json` with the expired entries gone from
    * `snapshots` and `snapshot-log`, so time travel to an expired id
    * fails loudly at snapshot resolution while every retained
    * snapshot keeps reading bit-identically.
    *
    * Retention follows the MAIN LINEAGE (r14): the kept set is the
    * last `retainLast` ancestors of the current snapshot (walking
    * `parent-snapshot-id`) plus every ref-protected snapshot — the
    * real expireSnapshots rule. On a linear history this is exactly
    * the old list-tail behavior; with [[stageAppend]] branches it
    * additionally expires a REJECTED staged snapshot (its ref
    * dropped, off the main line) no matter how new it is, which is
    * the WAP failure leg's cleanup. */
  def expireSnapshots(root: Path, retainLast: Int): ExpireResult = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val st = load(root)
    val meta = st.meta
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    // ref-referenced snapshots survive regardless of age — the spec's
    // branch/tag retention rule: expiring a tagged snapshot would turn
    // the ref into a dangling pointer ([[setRef]])
    val refIds: Set[Long] =
      if (meta.has("refs") && meta.get("refs").isObject)
        meta.get("refs").properties().asScala
          .map(_.getValue.get("snapshot-id").asLong()).toSet
      else Set.empty
    val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
    val currentId = meta.get("current-snapshot-id").asLong()
    val lineage = scala.collection.mutable.Set.empty[Long]
    var cur = Option(currentId)
    while (cur.exists(byId.contains) && lineage.size < retainLast) {
      val s = byId(cur.get)
      lineage += cur.get
      cur = if (s.has("parent-snapshot-id"))
        Some(s.get("parent-snapshot-id").asLong()) else None
    }
    val (kept, dropped) = snaps.partition(s =>
      lineage(s.get("snapshot-id").asLong()) ||
        refIds(s.get("snapshot-id").asLong()))
    if (dropped.isEmpty) return ExpireResult(Nil, 0, 0, 0)
    assert(kept.exists(_.get("snapshot-id").asLong() == currentId),
      s"invariant: the current snapshot $currentId is its own first ancestor")
    def listPath(s: JsonNode): Path = resolveLoc(root, s.get("manifest-list").asText())
    def manifestsOf(lp: Path): Seq[Path] =
      readAvro(lp).map(r => resolveLoc(root, r.get("manifest_path").toString))
    def filesOf(mp: Path): Seq[Path] =
      readAvro(mp).map(e => resolveLoc(root,
        e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
    val keptLists = kept.map(listPath).distinct
    val liveManifests = keptLists.flatMap(manifestsOf).toSet
    val liveFiles = liveManifests.toSeq.flatMap(filesOf).toSet
    val droppedLists = dropped.map(listPath).distinct.filterNot(keptLists.toSet)
    val orphanManifests = droppedLists.flatMap(manifestsOf).distinct
      .filterNot(liveManifests)
    var nFiles = 0
    orphanManifests.foreach { mp =>
      filesOf(mp).distinct.filterNot(liveFiles).foreach { f =>
        if (Files.deleteIfExists(f)) nFiles += 1
      }
      Files.delete(mp)
    }
    droppedLists.foreach(Files.delete(_))
    val keptIds = kept.map(_.get("snapshot-id").asLong()).toSet
    val sArr = mapper.createArrayNode()
    kept.foreach(sArr.add)
    meta.set[JsonNode]("snapshots", sArr)
    if (meta.has("snapshot-log")) {
      val lArr = mapper.createArrayNode()
      meta.get("snapshot-log").elements().asScala
        .filter(e => keptIds(e.get("snapshot-id").asLong())).foreach(lArr.add)
      meta.set[JsonNode]("snapshot-log", lArr)
    }
    st.commitNext()
    ExpireResult(dropped.map(_.get("snapshot-id").asLong()),
      droppedLists.size, orphanManifests.size, nFiles)
  }

  /** NAMED REFS — the spec's `refs` map of branches and tags over
    * snapshot ids: a TAG pins a release ("the corpus we trained v3
    * on") and a BRANCH names a movable line of development; both make
    * time travel addressable by NAME instead of a raw snapshot id,
    * and [[expireSnapshots]] protects every ref-referenced snapshot
    * from expiry (the retention rule that makes tags durable).
    * Setting a ref rolls metadata forward to `v(N+1).metadata.json` —
    * a metadata-only commit, no snapshot is created. Naming a
    * snapshot the table does not have fails loudly. */
  def setRef(root: Path, name: String, snapshotId: Long,
             refType: String = "tag"): Unit = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    require(name.nonEmpty && name != "main",
      "ref name must be non-empty and not 'main' (main is implicit: " +
        "the current snapshot)")
    val st = load(root)
    val ids = st.meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    require(ids(snapshotId),
      s"cannot ref unknown snapshot $snapshotId at $root (live: " +
        s"${ids.toSeq.sorted.mkString(", ")})")
    putRef(st.meta, name, snapshotId, refType)
    st.commitNext()
  }

  /** Remove a named ref (metadata-only, like [[setRef]]); the
    * snapshot itself stays until expiry decides its fate. */
  def dropRef(root: Path, name: String): Unit = {
    val st = load(root)
    require(st.meta.has("refs") && st.meta.get("refs").has(name),
      s"no ref '$name' at $root")
    st.meta.get("refs").asInstanceOf[ObjectNode].remove(name)
    st.commitNext()
  }

  /** Resolve a ref name to its snapshot id ("main" → the current
    * snapshot, as in the real catalog). */
  def refSnapshotId(root: Path, name: String): Long = {
    val meta = load(root).meta
    if (name == "main") meta.get("current-snapshot-id").asLong()
    else {
      require(meta.has("refs") && meta.get("refs").has(name),
        s"no ref '$name' at $root")
      meta.get("refs").get(name).get("snapshot-id").asLong()
    }
  }

  /** [[readIceberg]] addressed by ref name (`VERSION AS OF 'tag'`). */
  def readIcebergRef(spark: SparkSession, root: Path, name: String): DataFrame =
    readIcebergImpl(spark, root, refSnapshotId(root, name), None)

  /** WRITE-AUDIT-PUBLISH staging (r14) — Iceberg's WAP pattern on the
    * branch machinery: append `df` as a NEW snapshot whose parent is
    * the branch tip (or main when the branch is new) and point ONLY
    * the branch ref at it — `current-snapshot-id` does not move, so
    * every main reader is untouched while audit queries run against
    * [[readIcebergRef]](branch). [[publishBranch]] then fast-forwards
    * main in a metadata-only commit; an audit failure simply drops
    * the ref and lets [[expireSnapshots]] reclaim the staged files.
    * The snapshot carries the parent's manifests as-is plus one new
    * ADDED manifest — the real append shape, commit cost O(new data).
    * v1 / unpartitioned / spec-0 scope, like [[rewriteDataFiles]]. */
  def stageAppend(spark: SparkSession, root: Path, df: DataFrame,
                  branch: String): Long = {
    require(branch.nonEmpty && branch != "main",
      "stage on a named branch, not main — main moving IS publishing")
    val st = load(root)
    val meta = st.meta
    require(meta.get("format-version").asInt() == 1,
      "stageAppend supports v1 exports")
    val snaps = meta.get("snapshots").asInstanceOf[ArrayNode]
    val parentId =
      if (meta.has("refs") && meta.get("refs").has(branch))
        meta.get("refs").get(branch).get("snapshot-id").asLong()
      else meta.get("current-snapshot-id").asLong()
    val parent = snaps.elements().asScala
      .find(_.get("snapshot-id").asLong() == parentId)
      .getOrElse(throw new IllegalArgumentException(
        s"parent snapshot $parentId not at $root"))
    val parentList = readAvro(resolveLoc(root, parent.get("manifest-list").asText()))
    require(parentList.forall(
      _.get("partition_spec_id").asInstanceOf[Integer] == 0),
      "stageAppend handles only spec-0 manifest sets")
    // the staged batch must match the table's declared schema —
    // a drifted batch would stage fine and then read as NULLs (or die
    // at scan on a type change) AFTER publish, the worst time to learn
    val declared = parseSchema(currentSchema(meta, root))
    val declaredShape = declared.fields.map(f => (f.name, f.dataType)).toSeq
    val batchShape = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(batchShape == declaredShape,
      s"stageAppend batch schema ${batchShape.mkString(",")} does not match " +
        s"the table's declared schema ${declaredShape.mkString(",")} at $root " +
        "— evolve the table first, don't stage drift")

    // new data files + their ADDED manifest
    val newId = nextSnapshotId(meta)
    val files = writeParquet(df, root.resolve("data")
      .resolve(s"wap-$newId-${UUID.randomUUID().toString.take(8)}"))
    val mp = writeManifest(st.dir, manifestEntrySchema,
      files.map(addedEntry(manifestEntrySchema, _, newId)))
    // manifest list: the parent's entries carried verbatim + the new one
    val lp = writeManifestList(st.dir, newId, manifestListSchema,
      parentList.map(pr => record(manifestListSchema,
        manifestListSchema.getFields.asScala.toSeq.map(f => f.name -> pr.get(f.name)): _*)) :+
        manifestListRow(manifestListSchema, mp, newId, files.size))
    // fs-derived timestamp, strictly after the parent's
    putSnapshot(snaps, SnapshotEntry(newId, math.max(
      Files.getLastModifiedTime(st.dir).toMillis,
      parent.get("timestamp-ms").asLong() + 1L), "append", lp,
      parent = Some(parentId), schemaId = schemaIdOf(parent)))
    putRef(meta, branch, newId, "branch")
    st.commitNext()
    newId
  }

  /** Fast-forward main to a branch tip (WAP's PUBLISH leg): a
    * metadata-only commit that sets `current-snapshot-id` to the
    * branch's snapshot. The branch ref stays (it keeps protecting its
    * snapshot from expiry until explicitly dropped). */
  def publishBranch(root: Path, branch: String): Long = {
    val id = refSnapshotId(root, branch)
    require(branch != "main", "main cannot publish onto itself")
    val st = load(root)
    st.meta.put("current-snapshot-id", id)
    st.commitNext()
    id
  }

  /** The current snapshot of a v1 table and its manifest-list rows —
    * the input of both maintenance rewrites. */
  private def currentV1(root: Path, action: String)
      : (TableState, JsonNode, Seq[GenericRecord]) = {
    val st = load(root)
    val fv = st.meta.get("format-version").asInt()
    require(fv == 1, s"$action supports v1 exports, got format-version $fv")
    val currentId = st.meta.get("current-snapshot-id").asLong()
    val cur = st.meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == currentId)
      .getOrElse(throw new IllegalArgumentException(
        s"current snapshot $currentId not in snapshots list at $root"))
    (st, cur, readAvro(resolveLoc(root, cur.get("manifest-list").asText())))
  }

  /** The live (non-DELETED) entries behind manifest-list `rows`,
    * refusing anything but spec-0 unpartitioned manifests (rather than
    * guessing partition-record schemas). */
  private def liveUnpartitioned(root: Path, rows: Seq[GenericRecord],
                                action: String): Seq[GenericRecord] = {
    require(rows.forall(_.get("partition_spec_id").asInstanceOf[Integer] == 0),
      s"$action handles only spec-0 manifest sets")
    val entries = rows
      .flatMap(r => readAvro(resolveLoc(root, r.get("manifest_path").toString)))
      .filter(_.get("status").asInstanceOf[Integer] != 2) // drop DELETED
    require(entries.forall(e => e.get("data_file").asInstanceOf[GenericRecord]
        .getSchema.getField("partition").schema().getFields.isEmpty),
      s"$action handles only unpartitioned manifest entries")
    entries
  }

  /** Commit a `replace` snapshot over the single `manifest`, child of
    * the current snapshot `cur` — both maintenance rewrites' tail. */
  private def commitReplace(st: TableState, cur: JsonNode, snapId: Long,
                            manifest: Path, added: Int, existing: Int): Unit = {
    val lp = writeManifestList(st.dir, snapId, manifestListSchema,
      Seq(manifestListRow(manifestListSchema, manifest, snapId, added, existing)))
    val nowMs = Files.getLastModifiedTime(lp).toMillis
    putSnapshot(st.meta.get("snapshots").asInstanceOf[ArrayNode],
      SnapshotEntry(snapId, nowMs, "replace", lp,
        parent = Some(cur.get("snapshot-id").asLong()), schemaId = schemaIdOf(cur)))
    st.meta.put("current-snapshot-id", snapId)
    if (st.meta.has("snapshot-log"))
      logSnapshot(st.meta.get("snapshot-log").asInstanceOf[ArrayNode], snapId, nowMs)
    st.commitNext()
  }

  /** MANIFEST COMPACTION (Iceberg's `rewrite_manifests` maintenance
    * action): merge the CURRENT snapshot's manifests into ONE and
    * commit the result as a new `replace` snapshot — a metadata-only
    * operation, no data file moves. Every entry is carried as status
    * EXISTING with its ORIGINAL commit snapshot id (the spec's
    * lineage rule), the previous snapshot and its manifests stay
    * untouched so time travel keeps working, and a later
    * [[expireSnapshots]] removes the pre-compaction manifests but —
    * because expiry reachability is file-level — not one shared data
    * file. Scope matches the fail-loud discipline: only spec-0
    * unpartitioned v1 manifest sets (the [[exportHistory]] shape;
    * anything else refuses rather than guessing partition-record
    * schemas). Returns the number of manifests merged (≤1 = no-op,
    * nothing written). */
  def rewriteManifests(root: Path): Int = {
    val (st, cur, rows) = currentV1(root, "manifest rewrite")
    if (rows.size <= 1) return rows.size
    val entries = liveUnpartitioned(root, rows, "manifest rewrite")
    val mp = writeManifest(st.dir, manifestEntrySchema,
      entries.map(existingEntry(manifestEntrySchema, _)))
    commitReplace(st, cur, nextSnapshotId(st.meta), mp, added = 0, existing = entries.size)
    rows.size
  }

  case class RewriteDataResult(compactedFiles: Int, newFiles: Int,
                               carriedFiles: Int)

  /** DATA-FILE COMPACTION (Iceberg's `rewrite_data_files` bin-pack
    * maintenance action — the physical twin of [[rewriteManifests]]):
    * merge the current snapshot's small data files into
    * ~`targetFileBytes` outputs and commit a new `replace` snapshot.
    * Files are bin-packed in path order; a bin that ends up holding a
    * single file is CARRIED as status EXISTING under its ORIGINAL
    * commit snapshot (lineage untouched, zero I/O), while every
    * multi-file bin is rewritten through one Spark read→write into a
    * single parquet file entered as ADDED under the new snapshot.
    * Row preservation is asserted per bin from parquet footer counts
    * — a lost row fails the commit, it can never ship silently.
    *
    * Pre-compaction snapshots keep reading bit-identically (their
    * manifests and files are untouched); a later [[expireSnapshots]]
    * then physically drops the rewritten-away small files — but,
    * because expiry reachability is file-level, never a carried file
    * the new manifest still references. Same fail-loud scope as
    * manifest compaction: spec-0 unpartitioned v1 exports only.
    *
    * At 100 TB this is the compaction shape that matters: the
    * planner's work scales with FILE COUNT (manifest entries, scan
    * tasks, footer reads), so a streaming ingest's thousands of
    * KB-files per day must fold into target-size files off the hot
    * path; each bin rewrites independently (parallel across bins on
    * a real cluster) and touched bytes = compacted bytes, never the
    * whole table. */
  def rewriteDataFiles(spark: SparkSession, root: Path,
                       targetFileBytes: Long = 128L * 1024 * 1024): RewriteDataResult = {
    require(targetFileBytes > 0, "target file size must be positive")
    val (st, cur, listRows) = currentV1(root, "data-file rewrite")
    val entries = liveUnpartitioned(root, listRows, "data-file rewrite")
    case class Live(entry: GenericRecord, path: Path, bytes: Long, rows: Long)
    val live = entries.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      Live(e, resolveLoc(root, df.get("file_path").toString),
        df.get("file_size_in_bytes").asInstanceOf[Long],
        df.get("record_count").asInstanceOf[Long])
    }.sortBy(_.path.toString)
    // first-fit bin-pack in path order: a bin closes when adding the
    // next file would cross the target (a file larger than the target
    // sits alone in its bin and is carried untouched)
    val bins = live.foldLeft(List.empty[List[Live]]) {
      case (Nil, f) => List(List(f))
      case (bin :: done, f) =>
        if (bin.map(_.bytes).sum + f.bytes <= targetFileBytes) (f :: bin) :: done
        else List(f) :: bin :: done
    }.map(_.reverse).reverse
    val (toMerge, toCarry) = bins.partition(_.size > 1)
    if (toMerge.isEmpty) return RewriteDataResult(0, 0, live.size)
    val dataDir = root.resolve("data")
    Files.createDirectories(dataDir)
    // Bins are read with the table's CURRENT declared schema, never
    // footer inference: a history with evolution can put pre-/post-
    // evolution files in one bin, and a bare read would adopt whichever
    // footer Spark samples — silently nulling the evolved column for
    // rows that carry it while the row-count assertion still passes.
    // Schema-enforced reads give old files NULLs for new columns, the
    // same rule readIcebergImpl applies. (Delta optimize is the twin.)
    val binSchema = StructType(
      parseSchema(currentSchema(st.meta, root)).fields.map(_.copy(nullable = true)))
    val merged: Seq[Path] = toMerge.map { bin =>
      val out = rewriteBin(spark, binSchema, bin.map(_.path), dataDir)
      val rows = parquetRowCount(out)
      val expect = bin.map(_.rows).sum
      require(rows == expect,
        s"compaction lost rows: bin of ${bin.size} files had $expect, " +
          s"rewrite holds $rows")
      out
    }
    // one manifest: ADDED compacted outputs + EXISTING carried files
    val newSnapId = nextSnapshotId(st.meta)
    val carried = toCarry.flatten
    val mp = writeManifest(st.dir, manifestEntrySchema,
      merged.map(addedEntry(manifestEntrySchema, _, newSnapId)) ++
        carried.map(f => existingEntry(manifestEntrySchema, f.entry)))
    commitReplace(st, cur, newSnapId, mp, added = merged.size, existing = carried.size)
    RewriteDataResult(toMerge.map(_.size).sum, merged.size, carried.size)
  }

  // ---- read --------------------------------------------------------------

  private[lake] def readAvro(path: Path): Seq[GenericRecord] =
    Using.resource(new DataFileReader[GenericRecord](
      new SeekableFileInput(new File(path.toString)),
      new GenericDatumReader[GenericRecord]())) { r =>
      r.iterator().asScala.toSeq
    }

  /** Resolve an Iceberg-stored location (absolute `file:` URI or plain
    * path; relative paths resolve against the table root). */
  private def resolveLoc(root: Path, loc: String): Path = {
    val stripped =
      if (loc.startsWith("file://")) loc.stripPrefix("file://")
      else if (loc.startsWith("file:")) loc.stripPrefix("file:")
      else loc
    val p = java.nio.file.Paths.get(stripped)
    if (p.isAbsolute) p else root.resolve(stripped)
  }

  /** Locate the current metadata JSON: version-hint.text if present,
    * else the highest `v*.metadata.json` in `metadata/`. */
  private def currentMetadata(root: Path): Path = {
    val metaDir = root.resolve("metadata")
    require(Files.isDirectory(metaDir), s"not an Iceberg table: $root")
    val hint = metaDir.resolve("version-hint.text")
    if (Files.exists(hint)) {
      val v = Files.readString(hint).trim
      val p = metaDir.resolve(s"v$v.metadata.json")
      require(Files.exists(p), s"version-hint names missing metadata v$v at $root")
      p
    } else {
      Using.resource(Files.list(metaDir)) { s =>
        s.iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
          .toSeq
          .sortBy(p => p.getFileName.toString.stripPrefix("v")
            .stripSuffix(".metadata.json").toLong)
          .lastOption
          .getOrElse(throw new IllegalArgumentException(
            s"no metadata json found at $metaDir"))
      }
    }
  }

  /** Open an Iceberg table (ours or foreign) as a DataFrame: metadata
    * JSON → snapshot → manifest list → manifests → live parquet files,
    * read with the schema the metadata declares. Pass `snapshotId` to
    * time-travel: the scan resolves that snapshot's manifest list and
    * its `schema-id` when the metadata carries one (so a pre-evolution
    * snapshot reads with its own narrower schema — the
    * [[LakeTable.snapshot]] rule); an unknown id throws. */
  def readIceberg(spark: SparkSession, root: Path,
                  snapshotId: Long = -1L): DataFrame =
    readIcebergImpl(spark, root, snapshotId, None)

  /** (snapshot-id, timestamp-ms) pairs of the table's LIVE snapshots,
    * in commit order — the public surface a caller needs to pick
    * time-travel points without parsing metadata JSON themselves. */
  def snapshotLog(root: Path): Seq[(Long, Long)] =
    load(root).meta
      .get("snapshots").elements().asScala
      .map(s => (s.get("snapshot-id").asLong(), s.get("timestamp-ms").asLong()))
      .toSeq.sortBy(_._2)

  /** TIMESTAMP-resolved time travel (`FOR SYSTEM_TIME AS OF`): read
    * the latest snapshot whose commit timestamp is ≤ `tsMs`,
    * resolving against the LIVE snapshots list — so expiry
    * ([[expireSnapshots]]) naturally narrows what as-of can reach,
    * exactly as the spec's history table does. A timestamp before the
    * first live snapshot refuses loudly rather than silently serving
    * the oldest state. */
  def readIcebergAsOf(spark: SparkSession, root: Path, tsMs: Long): DataFrame = {
    val log = snapshotLog(root)
    val at = log.filter(_._2 <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or before $tsMs at $root (earliest is " +
          s"${log.headOption.map(_._2).getOrElse(-1L)})"))
    readIcebergImpl(spark, root, at._1, None)
  }

  /** [[readIceberg]] with MANIFEST-LEVEL FILE PRUNING on one partition
    * source column: only data files whose partition value can contain
    * `sourceCol` ∈ [lo, hi] are scanned — the spec's reason partition
    * metadata exists. The transform is evaluated on the BOUNDS, not
    * per row: order-preserving transforms (identity, day, truncate)
    * keep files with partition value in [t(lo), t(hi)]; bucket admits
    * only equality (pass lo == hi) and keeps files with value
    * t(lo). Delete files are never pruned — a delete row that could
    * match a surviving data row necessarily shares its partition
    * value, so extra delete files cannot over-delete. Rows with a NULL
    * source value live in null partitions and are pruned out (a
    * non-null range cannot match them). The caller still applies its
    * own row filter; pruning only bounds the file set. Pruning on a
    * column the spec does not partition by throws rather than
    * silently scanning everything. */
  def readIcebergPruned(spark: SparkSession, root: Path, sourceCol: String,
                        lo: Any, hi: Any, snapshotId: Long = -1L): DataFrame =
    readIcebergImpl(spark, root, snapshotId, Some((sourceCol, lo, hi)))

  /** Partition-value ordering for pruning comparisons (transform
    * result types: int/long or string). */
  private def cmpPV(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => java.lang.Long.compare(x.longValue, y.longValue)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private def readIcebergImpl(spark: SparkSession, root: Path,
                              snapshotId: Long,
                              prune: Option[(String, Any, Any)]): DataFrame = {
    val meta = load(root).meta
    val fv = meta.get("format-version").asInt()
    require(fv == 1 || fv == 2, s"unsupported Iceberg format-version $fv at $root")
    val requestedSnap: Option[JsonNode] =
      if (snapshotId == -1L) None
      else Some(meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == snapshotId)
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot $snapshotId at $root")))
    // schema precedence: the requested snapshot's schema-id → the
    // schemas list; else the current schema
    val schemaNode =
      requestedSnap.filter(s => s.has("schema-id") && meta.has("schemas"))
        .map(s => schemaById(meta, root, s.get("schema-id").asInt()))
        .getOrElse(currentSchema(meta, root))
    val sparkSchema = parseSchema(schemaNode)
    val nullable = StructType(sparkSchema.fields.map(_.copy(nullable = true)))
    // Partition specs: unlike Delta/hive, Iceberg data files carry the
    // partition SOURCE COLUMNS physically (hidden partitioning — the
    // spec's partition metadata serves pruning, not storage), so a
    // partitioned table reads correctly as a flat scan with the full
    // schema. Two guards keep that honest: only transforms whose
    // source columns provably exist (any transform of a schema column
    // qualifies — we verify against a real data file footer below,
    // because hive-MIGRATED tables may have files that physically lack
    // the partition columns and would silently read as null), and the
    // source-id must resolve in the current schema.
    // Partition-spec EVOLUTION: pruning evaluates the fields of EVERY
    // spec the table has ever had, not just the default — a manifest
    // written under an older spec carries THAT spec's partition
    // record, and the per-entry check below keeps any entry whose
    // record lacks a field (absence cannot prove exclusion). Looking
    // only at the default spec would refuse to prune on a column an
    // older spec partitioned by, and skip old manifests' checks for an
    // evolved-in column. Fields dedupe by partition-field name; a name
    // reused across specs with a different transform or source would
    // make the per-name record lookup ambiguous — refuse loudly.
    val specFields: Seq[JsonNode] =
      if (meta.has("partition-specs")) {
        val all = meta.get("partition-specs").elements().asScala
          .flatMap(_.get("fields").elements().asScala).toSeq
        all.groupBy(_.get("name").asText()).foreach { case (n, fs) =>
          require(fs.map(f => (f.get("transform").asText(),
              f.get("source-id").asInt())).distinct.size == 1,
            s"partition field $n appears across specs with different " +
              s"transform/source at $root — per-name pruning would be ambiguous")
        }
        all.distinctBy(_.get("name").asText())
      } else if (meta.has("partition-spec"))
        meta.get("partition-spec").elements().asScala.toSeq
      else Nil
    val fieldIdToName: Map[Int, String] =
      schemaNode.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val partitionSourceCols: Seq[String] = specFields.map { sf =>
      val srcId = sf.get("source-id").asInt()
      fieldIdToName.getOrElse(srcId, throw new IllegalArgumentException(
        s"partition spec field ${sf.get("name").asText()} references unknown " +
          s"source-id $srcId at $root"))
    }
    // manifest pruning: compile [lo, hi] into a predicate over each
    // entry's partition record, one check per spec field derived from
    // the requested source column
    val pruneEval: Option[GenericRecord => Boolean] =
      prune.map { case (srcCol, lo, hi) =>
        val nameToId = schemaNode.get("fields").elements().asScala
          .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
        val srcId = nameToId.getOrElse(srcCol, throw new IllegalArgumentException(
          s"prune column $srcCol not in the schema at $root"))
        val pf = specFields.filter(_.get("source-id").asInt() == srcId)
        require(pf.nonEmpty,
          s"cannot prune on $srcCol: no partition spec field derives from it " +
            s"at $root (a silent full scan would defeat the point)")
        val checks: Seq[GenericRecord => Boolean] = pf.map { f =>
          val t = f.get("transform").asText()
          val name = f.get("name").asText()
          if (!transformOrderPreserving(t)) require(lo == hi,
            s"transform $t is not order-preserving: only equality pruning " +
              "(lo == hi) is sound")
          val tlo = transformLiteral(t, lo)
          val thi = transformLiteral(t, hi)
          require(cmpPV(tlo, thi) <= 0, s"empty prune range [$lo, $hi]")
          (pr: GenericRecord) =>
            if (pr.getSchema.getField(name) == null) true // older spec: keep
            else pr.get(name) match {
              case null => false // null partition — a non-null range can't match
              case u: org.apache.avro.util.Utf8 =>
                cmpPV(tlo, u.toString) <= 0 && cmpPV(u.toString, thi) <= 0
              case v => cmpPV(tlo, v) <= 0 && cmpPV(v, thi) <= 0
            }
        }
        (pr: GenericRecord) => checks.forall(_(pr))
      }
    val curSnap = if (meta.has("current-snapshot-id")) meta.get("current-snapshot-id").asLong() else -1L
    if (requestedSnap.isEmpty && curSnap == -1L)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), nullable)
    val snap = requestedSnap.getOrElse(
      meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == curSnap)
        .getOrElse(throw new IllegalArgumentException(
          s"current-snapshot-id $curSnap not in snapshots list at $root")))
    require(snap.has("manifest-list"),
      s"snapshot $curSnap carries no manifest-list at $root (v1 'manifests' " +
        "inline lists are not supported)")
    val manifests = readAvro(resolveLoc(root, snap.get("manifest-list").asText()))
    // v2 manifest lists carry content: 0 = data manifests, 1 = DELETE
    // manifests (row-level deletes). (GenericRecord.get THROWS on
    // absent fields — probe the writer schema first; v1 files have no
    // content field at all.)
    def listContent(mf: GenericRecord): Int =
      if (mf.getSchema.getField("content") == null) 0
      else Option(mf.get("content")).map(_.toString.toInt).getOrElse(0)
    manifests.foreach { mf =>
      val c = listContent(mf)
      require(c == 0 || c == 1,
        s"unknown manifest content=$c in manifest list at $root — refusing")
    }
    def liveEntries(mf: GenericRecord): Seq[GenericRecord] =
      readAvro(resolveLoc(root, mf.get("manifest_path").toString))
        .filter(_.get("status").toString.toInt != 2) // 2 = DELETED entry
    def fileContent(dataFile: GenericRecord): Int =
      if (dataFile.getSchema.getField("content") == null) 0
      else Option(dataFile.get("content")).map(_.toString.toInt).getOrElse(0)
    def pathOf(dataFile: GenericRecord, kind: String): Path = {
      val fmt = dataFile.get("file_format").toString
      require(fmt.equalsIgnoreCase("PARQUET"),
        s"unsupported Iceberg $kind file format $fmt at $root")
      resolveLoc(root, dataFile.get("file_path").toString)
    }
    val (deleteMfs, dataMfs) = manifests.partition(listContent(_) == 1)
    // v2 sequence numbers: an entry carries its own, or INHERITS the
    // manifest's (real writers leave added entries null); v1 has
    // neither field and everything reads as sequence 0.
    def listSeq(mf: GenericRecord): Long =
      if (mf.getSchema.getField("sequence_number") == null) 0L
      else Option(mf.get("sequence_number")).map(_.toString.toLong).getOrElse(0L)
    def entrySeq(mf: GenericRecord)(entry: GenericRecord): Long =
      if (entry.getSchema.getField("sequence_number") == null) listSeq(mf)
      else Option(entry.get("sequence_number")).map(_.toString.toLong)
        .getOrElse(listSeq(mf))
    def equalityIdsOf(dataFile: GenericRecord): Seq[Int] =
      if (dataFile.getSchema.getField("equality_ids") == null) Nil
      else Option(dataFile.get("equality_ids"))
        .map(_.asInstanceOf[java.util.List[_]].asScala.map(_.toString.toInt).toSeq)
        .getOrElse(Nil)
    val filesWithSeq: Seq[(Path, Long)] = dataMfs.flatMap { mf =>
      liveEntries(mf).flatMap { entry =>
        val dataFile = entry.get("data_file").asInstanceOf[GenericRecord]
        require(fileContent(dataFile) == 0,
          s"delete file inside a DATA manifest at $root — refusing")
        val keep = pruneEval.forall(p =>
          p(dataFile.get("partition").asInstanceOf[GenericRecord]))
        if (keep) Some((pathOf(dataFile, "data"), entrySeq(mf)(entry))) else None
      }
    }
    val files = filesWithSeq.map(_._1)
    // Row-level delete files. POSITION deletes (content = 1, columns
    // file_path + pos) subtract exact (data-file path, row ordinal)
    // pairs — paths are exact immutable file names, so path+pos
    // equality is complete independent of sequence numbers. EQUALITY
    // deletes (content = 2, the Flink CDC output shape) kill every row
    // matching the delete row on the declared equality_ids columns in
    // data files whose data sequence number is STRICTLY LOWER than the
    // delete's — the ordering is what lets one CDC commit delete a
    // key's old row and insert its replacement at the same sequence.
    val deleteRefs: Seq[(Path, Long, Int, Seq[Int])] = deleteMfs.flatMap { mf =>
      liveEntries(mf).map { entry =>
        val dataFile = entry.get("data_file").asInstanceOf[GenericRecord]
        val c = fileContent(dataFile)
        require(c == 1 || c == 2,
          s"unsupported Iceberg delete content=$c at $root — refusing " +
            "rather than resurrecting rows")
        val ids = equalityIdsOf(dataFile)
        if (c == 2) require(ids.nonEmpty,
          s"equality delete file declares no equality_ids at $root — refusing")
        (pathOf(dataFile, "delete"), entrySeq(mf)(entry), c, ids)
      }
    }
    val posFiles = deleteRefs.filter(_._3 == 1).map(_._1)
    val eqDeletes = deleteRefs.filter(_._3 == 2)
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), nullable)
    else {
      if (partitionSourceCols.nonEmpty) {
        // hive-migration guard: one footer read proves the partition
        // source columns physically exist in the data (an Iceberg-native
        // writer always stores them; `add_files`-migrated hive data does
        // not, and a flat scan would silently null those columns)
        val sample = spark.read.parquet(files.head.toString).schema.fieldNames.toSet
        val missing = partitionSourceCols.filterNot(sample.contains)
        require(missing.isEmpty,
          s"partitioned Iceberg table at $root has data files physically " +
            s"missing partition source columns ${missing.mkString(",")} " +
            "(hive-migrated layout) — refusing rather than reading nulls")
      }
      import org.apache.spark.sql.functions.{broadcast, col, concat, lit, raise_error, when}
      // collision-proof helper names: a table may legitimately carry
      // a column named __gf_path/__gf_pos, and withColumn would
      // silently overwrite then drop it (ADVICE r9) — suffix with a
      // per-call UUID so no user column can collide
      val tag = UUID.randomUUID().toString.replace("-", "").take(12)
      val (pathCol, posCol, seqCol) =
        (s"__gf_path_$tag", s"__gf_pos_$tag", s"__gf_seq_$tag")
      val base = spark.read.schema(nullable).parquet(files.map(_.toString).sorted: _*)
      // the _metadata pseudo-column resolves only directly on the scan
      // relation — capture both helpers BEFORE any join touches the plan
      val addMeta: DataFrame => DataFrame = d => d
        .withColumn(pathCol, normPathCol(col("_metadata.file_path")))
        .withColumn(posCol, col("_metadata.row_index"))
      val applyPos: DataFrame => DataFrame = d =>
        if (posFiles.isEmpty) d
        else {
          // distributed anti-join on the normalized (path, row ordinal)
          // pair — row_index is Iceberg's position by definition. The
          // delete side is small relative to the data (AQE broadcasts
          // it at runtime).
          val dels = spark.read
            .parquet(posFiles.map(_.toString).sorted: _*)
            .select(normPathCol(col("file_path")).as(pathCol),
              col("pos").cast("long").as(posCol))
          d.join(dels, Seq(pathCol, posCol), "left_anti")
        }
      if (eqDeletes.isEmpty) {
        if (posFiles.isEmpty) base
        else applyPos(addMeta(base)).drop(pathCol, posCol)
      } else {
        // ONE flat scan regardless of how many sequence numbers are
        // live (a long-lived CDC table has one per commit — a
        // scan-per-sequence union would be O(commits) plan branches):
        // each row learns its file's data sequence number from a
        // broadcast (path → seq) dimension built from the manifests the
        // driver already holds, and every equality-delete group applies
        // as a single anti-join whose condition is null-safe equality
        // on the declared columns PLUS the strict `dataSeq < deleteSeq`
        // residual. The dimension keys live in URI-encoded path space
        // to match `_metadata.file_path` (the Delta DV lesson: a
        // partition dir with a space probes as %20).
        val dim = spark.createDataFrame(
            filesWithSeq.map { case (p, s) => (uriRawPath(p), s) })
          .toDF(pathCol, seqCol)
        // LEFT join + fail-loud on a missed lookup (ADVICE r10): an
        // inner join would silently drop every row of a data file
        // whose normalized _metadata.file_path fails to match the
        // manifest path byte-for-byte — a path-encoding bug must
        // surface as an error, not as quiet row loss
        val withSeq = applyPos(
          addMeta(base).join(broadcast(dim), Seq(pathCol), "left")
            .withColumn(seqCol,
              when(col(seqCol).isNull, raise_error(concat(
                lit("equality-delete sequence lookup missed data file "),
                col(pathCol),
                lit(s" at $root — path normalization mismatch would " +
                  "silently drop rows"))).cast("long"))
                .otherwise(col(seqCol))))
        val subtracted = eqDeletes.groupBy(_._4).toSeq
          .sortBy(_._1.mkString(","))
          .foldLeft(withSeq) { case (d, (ids, dels)) =>
            val names = ids.map(id => fieldIdToName.getOrElse(id,
              throw new IllegalArgumentException(
                s"equality_ids references unknown field id $id at $root")))
            val dtag = UUID.randomUUID().toString.replace("-", "").take(12)
            val delSeqCol = s"__gf_dseq_$dtag"
            val delCols = names.map(n => s"__gf_eq_${dtag}_$n")
            // per-sequence reads unioned (delete files are few relative
            // to data); rows carry their delete sequence as a literal
            val delDf = dels.groupBy(_._2).toSeq.sortBy(_._1).map { case (s, fs) =>
              spark.read.parquet(fs.map(_._1.toString).sorted.distinct: _*)
                .select(names.map(col): _*).toDF(delCols: _*)
                .withColumn(delSeqCol, lit(s))
            }.reduce(_.unionByName(_))
            val cond = names.zip(delCols)
              .map { case (n, dn) => d(n) <=> delDf(dn) }
              .reduce(_ && _) && (d(seqCol) < delDf(delSeqCol))
            d.join(delDf, cond, "left_anti")
          }
        subtracted.drop(pathCol, posCol, seqCol)
      }
    }
  }

  /** Import an Iceberg table as a fresh [[LakeTable]] at `lakeRoot`. */
  def importIceberg(spark: SparkSession, icebergRoot: Path, lakeRoot: Path,
                    statsCols: Seq[String] = Nil): LakeTable =
    LakeTable.create(spark, lakeRoot, readIceberg(spark, icebergRoot), statsCols)
}
