package graft.lake

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Thrown when two writers race to the same table version; the loser
  * must re-read the log and retry (optimistic concurrency, the Delta
  * protocol's conflict rule). */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** A commit brought rows that evaluate a table CHECK constraint to
  * FALSE; the commit was refused and the table state is unchanged. */
class CheckViolationException(msg: String) extends RuntimeException(msg)

/** A minimal transactional table format — the "Delta/Iceberg" layer
  * BASELINE.json names for the reference's sink seam
  * (spark_stream/spark_stream.py:173-178), built from nothing but
  * parquet + a manifest commit log, since no Delta/Iceberg jar exists
  * in this container. The design is the Delta protocol reduced to its
  * load-bearing parts:
  *
  *  - `root/_log/<version>.manifest` — one manifest per committed
  *    version, monotonically numbered. A manifest lists the COMPLETE
  *    set of data directories that make up that snapshot (full listing,
  *    not a delta — O(commits) per manifest is fine at this layer's
  *    granularity; Iceberg's manifest-list indirection is the same idea
  *    one level deeper).
  *  - data files are immutable: every commit writes a fresh
  *    `data/c<version>-<uuid>` directory; overwrite/merge commits
  *    simply stop listing old directories (time travel keeps them
  *    readable — vacuum is the separate GC decision, as in Delta).
  *  - commit = write the manifest under a temp name, then publish it
  *    at `<version>.manifest` with a primitive that ATOMICALLY FAILS
  *    if the target exists. That primitive is `Files.createLink`
  *    (link(2)), NOT rename: on Linux, rename(2) — which is what
  *    `Files.move(ATOMIC_MOVE)` maps to — silently REPLACES an
  *    existing target, so racing writers would clobber each other's
  *    manifest and lose commits. link(2) returns EEXIST instead, so
  *    two writers racing to the same version produce exactly one
  *    winner; the loser gets [[ConcurrentCommitException]] and must
  *    retry from a fresh read of the log. On a real lake store this
  *    primitive is the LogStore contract (HDFS rename-without-replace,
  *    S3 putIfAbsent).
  *  - streaming txns: a commit may carry an (appId, batchId) marker;
  *    [[commitBatch]] consults the log and turns a replayed batchId
  *    into a no-op — exactly-once via the txn log, literally the
  *    mechanism `DeltaSink` uses.
  *
  * Reads scale: a snapshot read is Spark's own parquet relation over
  * the version's dirs — pushdown and vectorized scan all apply — whose
  * file index ([[LakeFileIndex]]) also drops every directory the
  * manifest's min/max and bloom stats prove cannot match the query's
  * filter, so a plain `snapshot().filter(p)` skips data and the scan's
  * "number of files read" shows it. The log itself is O(versions) tiny
  * text files read driver-side, never a Spark job.
  *
  * WIRE-FORMAT INTEROP (documented limitation): this is a faithful
  * protocol REDUCTION of Delta/Iceberg, not their wire format — no
  * Delta/Iceberg jar exists in this container, so nothing external
  * can open these tables directly. Export is trivial by construction:
  * every snapshot is plain parquet, so
  * `snapshot(v).write.format("delta"|"iceberg").save(...)` on a
  * cluster with the connector jars migrates any version (history
  * replays version-by-version the same way); import is the reverse
  * (`create(spark, root, deltaDf)`). The txn-marker replay contract
  * maps 1:1 onto Delta's `txnAppId`/`txnVersion` options.
  */
final class LakeTable private (val spark: SparkSession, val root: Path) {

  private def logDir: Path = root.resolve("_log")

  private def manifestPath(v: Long): Path = logDir.resolve(f"$v%020d.manifest")

  /** Committed versions in ascending order. */
  def versions: Seq[Long] =
    Using.resource(Files.list(logDir)) { s =>
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".manifest"))
        .map(_.stripSuffix(".manifest").toLong)
        .toSeq
    }.sorted

  def latestVersion: Long = {
    val vs = versions
    require(vs.nonEmpty, s"empty table at $root")
    vs.last
  }

  private case class Manifest(version: Long, action: String, dirs: Seq[String],
                              txnAppId: Option[String], txnBatchId: Option[Long],
                              carryTxns: Seq[(String, Long)], schemaJson: Option[String],
                              stats: Seq[String],
                              checks: Seq[(String, String)] = Nil) {
    /** Every (appId, batchId) marker this manifest vouches for: its own
      * commit marker plus any markers carried forward by a vacuum. */
    def allTxns: Seq[(String, Long)] = carryTxns ++ txnAppId.zip(txnBatchId).toList

    /** Stats payloads for dirs still listed in THIS manifest (an
      * overwrite stops listing old dirs; their stats expire with them). */
    def liveStats: Seq[String] = {
      val live = dirs.toSet
      stats.filter(s => live.contains(s.takeWhile(_ != '|')))
    }
  }

  /** Line-based manifest format (key=value), closed under this module:
    * version/action/txn/schema headers, then one `dir=` line per data
    * dir, one `carry=<appId>:<batchId>` line per inherited txn marker
    * (batchId after the LAST colon — appIds may contain them), and one
    * `stat=<dir>|<col>|<dtype>|<min>|<max>` line per recorded
    * per-directory column range (the Delta add-file stats idea at this
    * layer's commit granularity). */
  private def readManifest(v: Long): Manifest = {
    val kvs = Files.readAllLines(manifestPath(v)).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
      }.toSeq
    def one(k: String): Option[String] = kvs.collectFirst { case (`k`, x) => x }
    Manifest(one("version").map(_.toLong).getOrElse(v),
      one("action").getOrElse("unknown"),
      kvs.collect { case ("dir", d) => d },
      one("txnAppId"), one("txnBatchId").map(_.toLong),
      kvs.collect { case ("carry", c) =>
        val i = c.lastIndexOf(':'); (c.substring(0, i), c.substring(i + 1).toLong)
      },
      one("schema"),
      kvs.collect { case ("stat", s) => s },
      kvs.collect { case ("check", c) =>
        val i = c.indexOf('|'); (c.substring(0, i), c.substring(i + 1))
      })
  }

  /** Publish the next manifest with the atomic create-if-absent commit
    * protocol (see class doc). `expected` is the version this commit
    * believes it is creating; if another writer got there first the
    * hard link fails with EEXIST and the caller must retry from a
    * fresh read of the log. Exposed to the `lake` package so the spec
    * can force a deterministic two-writers-same-version race. */
  private[lake] def commitManifest(expected: Long, action: String, dirs: Seq[String],
                                   txn: Option[(String, Long)],
                                   schemaJson: Option[String] = None,
                                   carry: Seq[(String, Long)] = Nil,
                                   stats: Seq[String] = Nil,
                                   checks: Seq[(String, String)] = Nil): Long = {
    val lines = Seq(s"version=$expected", s"action=$action") ++
      txn.toSeq.flatMap { case (a, b) => Seq(s"txnAppId=$a", s"txnBatchId=$b") } ++
      schemaJson.map(j => s"schema=$j").toSeq ++
      carry.sorted.map { case (a, b) => s"carry=$a:$b" } ++
      stats.map(s => s"stat=$s") ++
      checks.map { case (n, e) => s"check=$n|$e" } ++
      dirs.map(d => s"dir=$d")
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, lines.asJava)
    try Files.createLink(manifestPath(expected), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"version $expected at $root was committed by another writer")
    } finally Files.deleteIfExists(tmp)
    expected
  }

  /** Materialize `df` as a fresh immutable data directory. */
  private def writeData(df: DataFrame, version: Long): String = {
    val rel = s"data/c$version-${UUID.randomUUID().toString.take(8)}"
    df.write.mode("overwrite").parquet(root.resolve(rel).toString)
    rel
  }

  /** Per-directory min/max column ranges for the data-skipping index,
    * computed by aggregating the FRESHLY WRITTEN parquet `rel` in ONE
    * job (one bounded scan of the new files only — on a real lake
    * store the same numbers come for free from the parquet footers).
    * With `part`, `rel` is a hive-partitioned layout and the job groups
    * by the partition column, one stat line per `rel/<part>=<value>`
    * directory: a per-dir loop costs O(dirs) driver round-trips of
    * tiny jobs (the r15 bench measured q284's 64-dir optimize at
    * 7.7 s vs 16-dir q178's 2.7 s — pure job-launch overhead). Null
    * min/max (all-null column) is recorded as the empty field — a
    * range predicate can never match it, so such a dir prunes. The
    * empty field is RESERVED for that all-null sentinel: a column
    * whose true min/max IS the empty string is simply not recorded
    * (the dir stays unprunable on that column — safe
    * over-approximation), otherwise pruning would silently drop its
    * rows. Columns or values containing the `|` field delimiter or a
    * line break (which would split the line-based manifest and inject
    * phantom dir=/version= entries) are likewise not recorded. */
  private def computeStats(rel: String, statsCols: Seq[String],
                           part: Option[String] = None): Seq[String] = {
    def unsafe(s: String): Boolean = s.contains("|") || s.contains("\n") || s.contains("\r")
    val safe = statsCols.filterNot(unsafe)
    if (safe.isEmpty) return Nil
    val df = spark.read.parquet(root.resolve(rel).toString)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val aggs = safe.flatMap(c => Seq(
      min(col(c)).cast("string"), max(col(c)).cast("string")))
    val rows = df.groupBy(part.map(col).toSeq: _*).agg(aggs.head, aggs.tail: _*).collect()
    val k = part.size
    rows.toSeq.flatMap { r =>
      val dd = part.fold(rel)(p => s"$rel/$p=${r.get(0)}")
      safe.zipWithIndex.flatMap { case (c, i) =>
        (Option(r.getString(k + 2 * i)), Option(r.getString(k + 2 * i + 1))) match {
          case (None, None) => Some(s"$dd|$c|${types(c)}||") // all-null sentinel
          case (Some(mn), Some(mx)) if mn.isEmpty || mx.isEmpty || unsafe(mn) || unsafe(mx) => None
          case (Some(mn), Some(mx)) => Some(s"$dd|$c|${types(c)}|$mn|$mx")
          case _ => None // min null iff max null; never reached
        }
      }
    }
  }

  /** Schema evolution at commit time (the Delta mergeSchema shape,
    * automatic for appends): the declared table schema is the previous
    * declared schema plus any NEW columns the batch brings; a column
    * present in both must keep its type (fail loud — silent type
    * coercion corrupts a lake). Reads resolve against the DECLARED
    * schema, so rows written before a column existed surface it as
    * null. */
  private def mergeSchemas(prev: Option[StructType], next: StructType): StructType =
    prev match {
      case None => next
      case Some(p) =>
        val byName = p.fields.map(f => f.name -> f).toMap
        next.fields.foreach { f =>
          byName.get(f.name).foreach { pf =>
            require(pf.dataType == f.dataType,
              s"incompatible schema evolution on '${f.name}': ${pf.dataType} vs ${f.dataType}")
          }
        }
        StructType(p.fields ++ next.fields.filterNot(f => byName.contains(f.name)))
    }

  /** Declared schema in force at `v`: the version's own schema header,
    * or the newest one before it. */
  private def declaredSchema(v: Long): Option[StructType] =
    (readManifest(v).schemaJson.iterator ++
      versions.filter(_ < v).sorted.reverse.iterator
        .flatMap(readManifest(_).schemaJson))
      .nextOption()
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** CHECK constraints declared on this table at its latest version
    * (name → SQL boolean expression over the table's columns). */
  def checks: Map[String, String] = checksAt(-1L)

  /** The constraint set as of `version` (-1 = latest) — each manifest
    * carries the full set, so this is one manifest read. */
  def checksAt(version: Long): Map[String, String] =
    readManifest(if (version == -1L) latestVersion else version).checks.toMap

  /** Declare a CHECK constraint (the write-side data-quality gate —
    * Delta's `ALTER TABLE ADD CONSTRAINT` semantics): the expression
    * must not evaluate to FALSE on any row (NULL passes, as in SQL
    * CHECK). The CURRENT snapshot is validated first — a constraint
    * the existing data already violates refuses to attach — then a
    * metadata-only commit records it and every later data commit
    * enforces it, refusing loud via [[CheckViolationException]] with
    * the table state unchanged (the orphaned data dir is vacuum
    * garbage, never referenced). Constraints ride the manifest as
    * `check=<name>|<expr>` lines carried forward by every commit, and
    * export to Delta as `delta.constraints.<name>` configuration. */
  def addCheck(name: String, exprSql: String): Long = {
    // the manifest is line-oriented (`check=<name>|<expr>` per line):
    // '|' in the name breaks the split, and a newline in EITHER field
    // would corrupt every later manifest read of the table
    require(name.nonEmpty && !name.contains("|") &&
      !name.exists(c => c == '\n' || c == '\r'),
      s"bad constraint name (must be non-empty, '|'-free, newline-free): " +
        name.replace("\n", "\\n").replace("\r", "\\r"))
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      s"constraint expression must be newline-free: " +
        exprSql.replace("\n", "\\n").replace("\r", "\\r"))
    val prev = readManifest(latestVersion)
    require(!prev.checks.exists(_._1 == name),
      s"constraint $name already declared at $root")
    val existing = snapshot()
    val bad = existing.filter(!coalesce(expr(exprSql).cast("boolean"), lit(true))).count()
    if (bad > 0) throw new CheckViolationException(
      s"cannot add CHECK $name ($exprSql) at $root: " +
        s"$bad existing rows violate it")
    commitManifest(latestVersion + 1, "add-check", prev.dirs, None,
      prev.schemaJson, stats = prev.liveStats,
      checks = prev.checks :+ (name -> exprSql))
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropCheck(name: String): Long = {
    val prev = readManifest(latestVersion)
    require(prev.checks.exists(_._1 == name),
      s"no CHECK constraint $name at $root")
    commitManifest(latestVersion + 1, "drop-check", prev.dirs, None,
      prev.schemaJson, stats = prev.liveStats,
      checks = prev.checks.filterNot(_._1 == name))
  }

  /** Enforce the declared CHECKs on a freshly written data directory:
    * ONE scan of the new data computes every constraint's violation
    * count map-side (at 100 TB the cost is reading back what was just
    * written, per commit — the price of a write-side gate); the first
    * violated constraint refuses the commit. Runs BEFORE the manifest
    * publish, so a refusal leaves the table state untouched. */
  private def enforceChecks(rel: String, checks: Seq[(String, String)]): Unit = {
    if (checks.isEmpty) return
    val df = spark.read.parquet(root.resolve(rel).toString)
    val counts = df.agg(
      count(lit(1)).as("__n"),
      checks.map { case (n, e) =>
        count(when(!coalesce(expr(e).cast("boolean"), lit(true)), 1)).as(n)
      }: _*).collect()(0)
    checks.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = counts.getLong(i + 1)
      if (bad > 0) throw new CheckViolationException(
        s"commit refused at $root: $bad rows violate CHECK $n ($e)")
    }
  }

  /** Append commit: snapshot = previous dirs + the new one. Pass
    * `statsCols` to record the new directory's min/max ranges for
    * those columns in the manifest (see [[LakeFileIndex]]); earlier
    * directories keep whatever stats their own commits recorded.
    * The declared schema auto-evolves by column addition
    * ([[mergeSchemas]]). */
  def append(df: DataFrame, statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Long = {
    val v = latestVersion + 1
    val prev = readManifest(latestVersion)
    val dir = writeData(df, v)
    enforceChecks(dir, prev.checks)
    val evolved = mergeSchemas(declaredSchema(latestVersion), df.schema)
    commitManifest(v, "append", prev.dirs :+ dir,
      None, Some(evolved.json),
      stats = prev.liveStats ++ computeStats(dir, statsCols) ++ computeBloom(dir, bloomCols),
      checks = prev.checks)
  }

  /** Overwrite commit: snapshot = just the new directory. */
  def overwrite(df: DataFrame, statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil): Long = {
    val v = latestVersion + 1
    val prev = readManifest(latestVersion)
    val dir = writeData(df, v)
    enforceChecks(dir, prev.checks)
    commitManifest(v, "overwrite", Seq(dir),
      None, Some(df.schema.json),
      stats = computeStats(dir, statsCols) ++ computeBloom(dir, bloomCols),
      checks = prev.checks)
  }

  /** OPTIMIZE ZORDER — the public Delta Lake layout-maintenance idea
    * on this lake's manifest: rewrite the live snapshot CLUSTERED by
    * the Morton code of the k `zorderBy` columns (k in [2, 4]:
    * [[graft.functions.ZOrder.interleaveN]] over each column min-max
    * normalized to its lane width), cutting the output into `buckets`
    * directories on the z-value's HIGH BITS — a deterministic grid
    * decomposition (buckets^(1/k) strips per dimension), no range
    * sampling. Each directory then covers one small hyper-rectangle
    * of the key space, so the committed per-directory min/max stats
    * let a filtered [[snapshot]] skip most directories for a
    * range predicate on ANY of the k columns — the property a
    * single-column sort only gives its leading column. Layout-only:
    * the committed row multiset and declared schema are exactly the
    * pre-optimize snapshot's (spec-pinned), and time travel to
    * earlier versions is untouched (immutable dirs; the old layout
    * ages out via vacuum).
    *
    * Scale shape: ONE range-free shuffle-less job — the z/bucket
    * columns are projections, and `partitionBy` splits at write time;
    * at 100 TB the same call runs per partition region so the rewrite
    * granularity stays bounded. Null z-order keys normalize to bucket
    * 0 (coalesce) rather than a hive default-partition dir. */
  def optimizeZOrder(zorderBy: Seq[String], buckets: Int = 16): Long = {
    require(zorderBy.size >= 2 && zorderBy.size <= 4,
      s"optimizeZOrder interleaves 2-4 columns, got ${zorderBy.size}")
    val k = zorderBy.size
    val width = graft.functions.ZOrder.laneBits(k)
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0 && buckets <= 65536,
      s"buckets must be a power of two in [2, 65536], got $buckets")
    require(java.lang.Integer.numberOfTrailingZeros(buckets) <= k * width,
      s"$buckets buckets exceed the ${k * width}-bit z space")
    val df = snapshot()
    // fail loud on non-numeric keys: casting e.g. a string column to
    // double yields null, which would silently send EVERY row to
    // bucket 0 — a "successful" optimize that clusters nothing
    zorderBy.foreach { c =>
      val f = df.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"z-order column $c not in table schema"))
      require(DirSkipping.isNumericTypeName(f.dataType.typeName),
        s"z-order column $c has non-numeric type ${f.dataType.typeName}; " +
          s"only numeric columns normalize to the $width-bit Morton lanes")
    }
    val bounds = df.agg(
      zorderBy.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).head,
      zorderBy.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))).tail: _*)
      .head()
    val maxLane = ((1L << width) - 1).toDouble
    def norm(c: String, loIdx: Int): Column =
      if (bounds.isNullAt(loIdx) || bounds.getDouble(loIdx) == bounds.getDouble(loIdx + 1))
        lit(0L) // empty table or constant column: one-point dimension
      else {
        val (lo, hi) = (bounds.getDouble(loIdx), bounds.getDouble(loIdx + 1))
        coalesce(((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(maxLane))
          .cast("long"), lit(0L))
      }
    val z = graft.functions.ZOrder.interleaveN(
      zorderBy.zipWithIndex.map { case (c, d) => norm(c, 2 * d) })
    val shift = k * width - java.lang.Integer.numberOfTrailingZeros(buckets)
    commitLayout(df, "z", shiftright(z, shift), statsLead = zorderBy, bloomLead = Nil)
  }

  /** HASH-CLUSTER compaction (r20) — [[optimizeZOrder]]'s
    * single-column sibling for POINT-LOOKUP columns of any type
    * (z-order interleaves 2–4 NUMERIC range dimensions; a string key
    * like an inverted index's `term` wants equality pruning instead):
    * rewrite the current snapshot into `buckets` directories by
    * `pmod(hash(col), buckets)` under one layout commit, each
    * directory carrying a bloom on the cluster column, so a
    * `snapshot().filter(col === v)` reads ~1/buckets of the table for
    * any point probe. Prior min/max stats columns are carried
    * (recomputed per new directory — the optimizeZOrder rule); prior
    * bloom columns too. Data files are untouched semantically: reads identical
    * before/after, earlier versions still time-travel, the old layout
    * ages out via vacuum. Null cluster keys land in the hash-of-null
    * bucket (Spark's hash(null) is the seed 42, so pmod(42, buckets))
    * and are invisible to equality probes — which can never match
    * null anyway. */
  def optimizeClusterBy(clusterCol: String, buckets: Int = 16): Long = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val df = snapshot()
    require(df.schema.fieldNames.contains(clusterCol),
      s"cluster column $clusterCol not in table schema")
    commitLayout(df, "c", pmod(hash(col(clusterCol)), lit(buckets)),
      statsLead = Nil, bloomLead = Seq(clusterCol))
  }

  /** The shared tail of the two layout rewrites: write `df` split by
    * `bucket` into `data/<tag><v>-<uuid>/__<tag>b=<b>` directories and
    * publish them as one `optimize` commit. The commit CARRIES the
    * table's pruning capability: every column with a min/max or bloom
    * stat in the pre-rewrite manifest keeps one, after the `statsLead`
    * / `bloomLead` columns — recomputed per new directory, since the
    * old per-dir values don't transfer; dropping them would silently
    * degrade point/range pruning on every other column to full reads
    * (ADVICE r9). Each stat family is ONE grouped pass over the new
    * layout ([[computeStats]] / [[computeBloom]] by the partition
    * column). A layout rewrite of already-validated rows carries the
    * checks with no re-scan. */
  private def commitLayout(df: DataFrame, tag: String, bucket: Column,
                           statsLead: Seq[String], bloomLead: Seq[String]): Long = {
    val v = latestVersion + 1
    val prev = readManifest(v - 1)
    val rel = s"data/$tag$v-${UUID.randomUUID().toString.take(8)}"
    val part = s"__${tag}b"
    df.withColumn(part, bucket).write.partitionBy(part).mode("overwrite")
      .parquet(root.resolve(rel).toString)
    val dirs = Using.resource(Files.list(root.resolve(rel))) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"$part=")).map(p => s"$rel/$p").toSeq.sorted
    }
    val prior = prev.stats.map(_.split("\\|", -1))
    val statsCols = (statsLead ++ prior.collect {
      case Array(_, c, _, _, _) if !c.startsWith("bloom:") => c
    }).distinct
    val bloomCols = (bloomLead ++ prior.collect {
      case Array(_, c, dt, _, _) if c.startsWith("bloom:") && dt.startsWith("bloom") =>
        c.stripPrefix("bloom:")
    }).distinct
    commitManifest(v, "optimize", dirs, None, Some(df.schema.json),
      stats = (if (dirs.isEmpty) Nil // empty table: no dirs, nothing to read
               else computeStats(rel, statsCols, Some(part)) ++
                 computeBloom(rel, bloomCols, Some(part))),
      checks = prev.checks)
  }

  /** MERGE upsert (the Delta `MERGE INTO` shape, SURVEY §2.9 / q96):
    * rows in `deletes` vanish, rows in `upserts` replace same-key rows
    * or insert. One anti-join + union, written as a full rewrite commit
    * — at scale the rewrite is partition-scoped (only files containing
    * touched keys are rewritten; the manifest keeps untouched dirs),
    * which this layer reproduces faithfully when callers pre-partition
    * commits. */
  def merge(upserts: DataFrame, keyCols: Seq[String],
            deletes: Option[DataFrame] = None,
            statsCols: Seq[String] = Nil): Long = {
    val base = snapshot()
    val upKeys = upserts.select(keyCols.map(col): _*)
    val changed = deletes
      .map(d => upKeys.unionByName(d.select(keyCols.map(col): _*)))
      .getOrElse(upKeys)
    val applied = base.join(changed.distinct(), keyCols, "left_anti")
      .unionByName(upserts.select(base.columns.map(col): _*))
    val v = latestVersion + 1
    val prev = readManifest(latestVersion)
    val dir = writeData(applied, v)
    enforceChecks(dir, prev.checks)
    commitManifest(v, "merge", Seq(dir), None, Some(applied.schema.json),
      stats = computeStats(dir, statsCols), checks = prev.checks)
  }

  /** Per-appId HIGHEST committed batchId scanned from the log, plus the
    * highest version that scan covered. [[txnCommitted]] folds in only
    * manifests NEWER than the watermark — ours or another writer's —
    * so a long-running stream does O(new manifests) log reads per
    * micro-batch, not O(all manifests) (Delta's setTransaction
    * snapshot approach). A fresh handle starts cold and pays one full
    * scan on its first commit, which is the recovery-after-restart
    * path doing exactly the read it must.
    *
    * The cache is a Map(appId -> max batchId), NOT a set of every
    * (appId, batchId) pair ever seen: micro-batch ids are monotonic
    * within an appId, so "batchId <= max committed" IS the replay
    * test (the check `DeltaSink` makes), and the cache stays O(apps)
    * over an unbounded stream instead of O(commits). */
  private val seenTxns = mutable.Map.empty[String, Long]
  private var scannedThrough = 0L

  /** Scan the log up to its current head; returns (is (appId, batchId)
    * already committed, head version the answer is valid THROUGH). A
    * commit based on this answer must target exactly head + 1: if any
    * other commit lands in between, head + 1 exists and the atomic
    * publish fails — which is what makes check-then-commit race-free. */
  private def txnScan(appId: String, batchId: Long): (Boolean, Long) = synchronized {
    versions.iterator.filter(_ > scannedThrough).foreach { v =>
      val m = readManifest(v)
      m.allTxns.foreach { case (a, b) =>
        if (seenTxns.getOrElse(a, Long.MinValue) < b) seenTxns(a) = b
      }
      if (v > scannedThrough) scannedThrough = v
    }
    (seenTxns.get(appId).exists(_ >= batchId), scannedThrough)
  }

  /** Idempotent streaming commit: if (appId, batchId) already appears
    * in the log this is a no-op (the micro-batch was replayed after its
    * commit landed), otherwise an append carrying the txn marker.
    *
    * Losing a version race does NOT fail the stream: the loser
    * re-reads the log (the winner may even have been a replayed twin
    * of this very batch, which the fresh [[txnCommitted]] check then
    * catches) and retries against the new head, up to `maxRetries`
    * before propagating [[ConcurrentCommitException]]. The data
    * directory is written once and reused across retries — a retry
    * only re-publishes the manifest. */
  def commitBatch(df: DataFrame, appId: String, batchId: Long,
                  maxRetries: Int = 10, statsCols: Seq[String] = Nil): Long = {
    var dataDir: Option[String] = None
    var dirStats: Seq[String] = Nil
    var attempt = 0
    while (attempt < maxRetries) {
      val (committed, head) = txnScan(appId, batchId)
      if (committed) return head
      val dir = dataDir.getOrElse {
        val d = writeData(df, head + 1); dataDir = Some(d)
        dirStats = computeStats(d, statsCols); d
      }
      try {
        val prev = readManifest(head) // may vanish under concurrent vacuum, caught below
        // checks may have changed between retries (a concurrent
        // add-check wins a race): enforce against the head we commit on
        enforceChecks(dir, prev.checks)
        val evolved = mergeSchemas(declaredSchema(head), df.schema)
        return commitManifest(head + 1, "streaming-append",
          prev.dirs :+ dir, Some((appId, batchId)), Some(evolved.json),
          stats = prev.liveStats ++ dirStats, checks = prev.checks)
      }
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt >= maxRetries) throw e
        // loop: rescan from the new head — the winner may even have
        // been a replayed twin of this very batch
        case e: java.nio.file.NoSuchFileException =>
          // A concurrent vacuum(retainVersions=1) can commit its carry
          // manifest AND drop `head`'s manifest between our txnScan and
          // the readManifest here. The table is fine — vacuum's head
          // carries every dir and txn marker — so treat it exactly like
          // a lost commit race: rescan from the new head and retry.
          attempt += 1
          if (attempt >= maxRetries)
            throw new ConcurrentCommitException(
              s"manifest for version vanished under a concurrent vacuum: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Idempotent streaming MERGE — the CDC-apply sink (the Delta
    * streaming `MERGE INTO` shape): per micro-batch, rows in `deletes`
    * vanish and rows in `upserts` replace same-key rows or insert,
    * committed with the same (appId, batchId) replay contract as
    * [[commitBatch]]. A replayed batch is a NO-OP even after later
    * commits changed the keys it touched — the txn log, not content
    * idempotence, is what guarantees exactly-once.
    *
    * Unlike [[commitBatch]], a retry after a lost race RECOMPUTES the
    * applied frame against the new head: a merge's output depends on
    * the base snapshot, so reusing the previously written directory
    * would resurrect rows the winning commit changed. The loser's
    * orphaned data directory is unreferenced garbage, exactly what an
    * interrupted vacuum leaves — harmless, collected by any later
    * cleanup. */
  def mergeBatch(upserts: DataFrame, keyCols: Seq[String],
                 appId: String, batchId: Long,
                 deletes: Option[DataFrame] = None,
                 maxRetries: Int = 10): Long = {
    var attempt = 0
    var lastRace: Throwable = null
    while (attempt < maxRetries) {
      val (committed, head) = txnScan(appId, batchId)
      if (committed) return head
      try {
        val base = snapshot(head)
        val upKeys = upserts.select(keyCols.map(col): _*)
        val changed = deletes
          .map(d => upKeys.unionByName(d.select(keyCols.map(col): _*)))
          .getOrElse(upKeys)
        val applied = base.join(changed.distinct(), keyCols, "left_anti")
          .unionByName(upserts.select(base.columns.map(col): _*))
        val v = head + 1
        val prev = readManifest(head)
        val dir = writeData(applied, v)
        enforceChecks(dir, prev.checks)
        return commitManifest(v, "streaming-merge", Seq(dir),
          Some((appId, batchId)), Some(applied.schema.json),
          checks = prev.checks)
      } catch {
        case e @ (_: ConcurrentCommitException | _: java.nio.file.NoSuchFileException) =>
          lastRace = e
          attempt += 1 // rescan; the winner may be this batch's replayed twin
        case e: IllegalArgumentException if e.getMessage != null &&
            e.getMessage.startsWith("no version") =>
          // snapshot(head)'s manifest-existence require fires when a
          // concurrent vacuum(retainVersions=1) dropped head between
          // txnScan and the read — the same lost race commitBatch sees
          // as NoSuchFileException; rescan rather than fail the stream
          lastRace = e
          attempt += 1
        case e: org.apache.spark.SparkException if e.getMessage != null &&
            e.getMessage.contains("FAILED_READ_FILE") =>
          // the scan-side face of the same races: the head snapshot's
          // file listing went stale mid-merge (concurrent vacuum per
          // the RETENTION CONTRACT, or a stale shared FileStatusCache
          // entry). Everything is re-derived from the fresh head on
          // retry, so rescanning is safe; a persistent read failure
          // still surfaces below once retries exhaust.
          lastRace = e
          attempt += 1
      }
    }
    throw new ConcurrentCommitException(
      s"mergeBatch lost $maxRetries races for ($appId, $batchId) at $root" +
        Option(lastRace).map(e => s" (last: ${e.getMessage})").getOrElse(""))
  }

  /** GC — Delta's VACUUM reduced to version-count retention: drop
    * every manifest older than the newest `retainVersions`, then
    * delete every data directory no retained manifest references.
    * Time travel to vacuumed versions becomes impossible. Crash
    * ordering is manifests-first: an interrupted vacuum can leave
    * orphan data directories (harmless garbage, never referenced by
    * any readable manifest) but never a readable manifest pointing at
    * deleted data.
    *
    * Exactly-once survives vacuum: if a to-be-dropped manifest holds
    * the HIGHEST batchId for some appId (i.e. its (appId, batchId)
    * replay marker would expire with it), vacuum first commits a fresh
    * `vacuum` manifest — same data dirs as the current snapshot, plus
    * `carry=` lines recording every appId's max batchId across the
    * whole log — and then drops relative to that new head. A stream
    * that restarts with a cold handle after vacuum still sees every
    * marker it needs, so a replayed batch stays a no-op
    * ([[LakeTableSpec]] pins this). Vacuum participates in the normal
    * optimistic-commit protocol: losing a race to a concurrent writer
    * throws [[ConcurrentCommitException]]; re-run the vacuum.
    *
    * CROSS-TABLE SAFETY: vacuum never deletes a directory outside the
    * table root. Borrowed absolute dirs ([[shallowClone]] manifests
    * reference the source's data in place) drop out of the manifest
    * log but their bytes stay — the source table owns them (Delta's
    * contract: clone-side VACUUM never touches source files).
    *
    * RETENTION CONTRACT for readers: vacuum deletes data files that
    * only dropped versions reference. A reader holding a DataFrame
    * from `snapshot(v)` for a dropped `v` is NOT protected — its scan
    * fails with missing-file errors once vacuum deletes the
    * directories (Spark reads are lazy; the manifest read at plan
    * time does not pin files on disk). Size `retainVersions` to cover
    * the longest-running reader, exactly as Delta sizes its retention
    * interval. Returns (manifests dropped, data dirs deleted). */
  def vacuum(retainVersions: Int = 1): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the current version")
    val vs0 = versions
    val manifests0 = vs0.map(readManifest)
    def maxTxns(ms: Seq[Manifest]): Map[String, Long] =
      ms.flatMap(_.allTxns).groupMapReduce(_._1)(_._2)(math.max)
    val dropCount0 = math.max(vs0.size - retainVersions, 0)
    val (dropM, keepM) = manifests0.splitAt(dropCount0)
    val expiring = maxTxns(dropM).exists { case (a, b) =>
      maxTxns(keepM).getOrElse(a, Long.MinValue) < b
    }
    val vs = if (!expiring) vs0 else {
      val head = manifests0.last
      val v = vs0.last + 1
      commitManifest(v, "vacuum", head.dirs, None, head.schemaJson,
        maxTxns(manifests0).toSeq, stats = head.liveStats,
        checks = head.checks)
      vs0 :+ v
    }
    val (drop, keep) = vs.splitAt(math.max(vs.size - retainVersions, 0))
    val keepDirs = keep.flatMap(v => readManifest(v).dirs).toSet
    val dropDirs = drop.flatMap(v => readManifest(v).dirs).toSet -- keepDirs
    drop.foreach(v => Files.deleteIfExists(manifestPath(v)))
    // BORROWED directories are never this table's to reclaim: a
    // shallowClone manifest lists the SOURCE table's data dirs as
    // absolute paths, and `root.resolve` passes absolutes through — an
    // unguarded delete here would let a clone-side vacuum (after the
    // clone overwrites/optimizes away the borrowed dirs) destroy the
    // source table's data. Delta's shallow-clone contract is the same:
    // VACUUM on a clone never touches source files. Only paths that
    // normalize to somewhere under this table's root are deleted;
    // borrowed dirs simply age out of the clone's manifests.
    val rootAbs = root.toAbsolutePath.normalize
    val owned = dropDirs.filter(d =>
      root.resolve(d).toAbsolutePath.normalize.startsWith(rootAbs))
    owned.foreach { d =>
      val p = root.resolve(d)
      if (Files.exists(p)) {
        Using.resource(Files.walk(p)) { s =>
          s.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
        }
      }
    }
    (drop.size, owned.size)
  }

  /** Row-level diff between two committed versions: what a reader of
    * `v1` must apply to arrive at `v2` — rows tagged `added` (in v2,
    * not v1) and `removed` (in v1, not v2), multiset semantics via
    * exceptAll so duplicate rows diff by count.
    *
    * The manifest makes this INCREMENTAL: data directories are
    * immutable, so any dir listed by both versions contributes the
    * same multiset to each side and cancels exactly — only the
    * symmetric difference of the dir sets is ever read. An append's
    * diff scans just the appended directory (CDC-read for free);
    * only rewrite commits (overwrite/merge) pay a full compare. Both
    * versions must share a schema (diff across an incompatible
    * schema change is not meaningful row-wise). */
  def diff(v1: Long, v2: Long): DataFrame = {
    val m1 = readManifest(v1)
    val m2 = readManifest(v2)
    val shared = m1.dirs.toSet intersect m2.dirs.toSet
    // Both sides resolve against the MERGED declared schema so a diff
    // across a schema evolution is well-formed: pre-evolution rows
    // surface the evolved columns as null, exactly as snapshot() reads
    // them (a raw footer read would make exceptAll fail on arity). The
    // empty side takes it too — v2's declared schema alone would
    // arity-mismatch the other side when diffing backward across an
    // evolution (v1 wider than v2).
    val merged = declaredSchema(v2).map(b => mergeSchemas(declaredSchema(v1), b))
      .orElse(declaredSchema(v1))
    val only1 = read(m1, m1.dirs.filterNot(shared), merged)
    val only2 = read(m2, m2.dirs.filterNot(shared), merged)
    only2.exceptAll(only1).withColumn("change", lit("added"))
      .unionByName(only1.exceptAll(only2).withColumn("change", lit("removed")))
  }

  /** Change feed — the CDC read across a version RANGE: every row
    * change in (vFrom, vTo], tagged with the version that introduced
    * it (`version`, `change` ∈ added/removed). A union of per-step
    * [[diff]]s, so it inherits diff's incrementality: immutable shared
    * dirs cancel unread, an append step costs one directory scan, and
    * only rewrite commits (overwrite/merge) pay a compare — the shape
    * that lets a downstream consumer tail a 100 TB table by reading
    * just what each commit touched (Delta's CDF without the extra
    * `_change_data` files: our commits are coarse enough to re-derive
    * changes from the data itself). */
  def changeFeed(vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom < vTo, s"need vFrom < vTo, got $vFrom >= $vTo")
    (vFrom until vTo)
      .map(v => diff(v, v + 1).withColumn("version", lit(v + 1)))
      // steps that straddle a schema evolution differ in width; the
      // union null-fills pre-evolution steps, same as snapshot reads
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def skipping(m: Manifest): DirSkipping =
    DirSkipping(m.dirs, m.stats, spark.sessionState.conf.sessionLocalTimeZone)

  /** The range half of the data-skipping decision, as a dir-selection
    * helper: which of `version`'s directories can hold a row with
    * `colName` in [lo, hi] ([[DirSkipping.range]] — the selection a
    * filtered [[snapshot]] applies to the same conjuncts). Returns
    * (surviving dirs, total dirs). */
  private[graft] def prunedDirs(colName: String, lo: Any, hi: Any,
                                version: Long = -1L): (Seq[String], Int) = {
    val s = skipping(readManifest(if (version < 0) latestVersion else version))
    (s.range(colName, Some(lo.toString), Some(hi.toString)), s.dirs.size)
  }

  // ---- Bloom-filter directory stats (equality-predicate skipping) ----
  //
  // The complement to the min/max range index: a point lookup on a
  // high-cardinality column (doc_id in a 100 TB corpus) gains nothing
  // from ranges when every directory spans the whole key space, but a
  // per-directory Bloom filter answers "is this exact value possibly
  // here?" in O(k) bit probes — the public Delta Lake bloom-filter
  // index idea, carried on this lake's manifest stat lines. Encoding:
  // `dir|bloom:<col>|bloom<m>|<hex>|<hex>` — the pseudo-column prefix
  // keeps bloom lines invisible to the range-pruning lookup, m is the
  // bit width, and the hex bitset repeats in both value fields so no
  // line ever carries the all-null empty-field sentinel. Equality is
  // on the value's STRING form (build and probe hash
  // xxhash64(cast(v AS STRING), seed) through the same expressions,
  // [[DirSkipping.bloomPositions]], so they can never disagree on type
  // widening). Directories whose per-directory distinct count exceeds
  // 512 record NO bloom — an over-saturated filter prunes nothing but
  // costs bytes, so the honest move is staying unprunable (safe
  // over-approximation), exactly like an unrecorded min/max.

  /** The build side of [[DirSkipping.bloomPositions]]: the same four
    * expressions, resolved by the analyzer over the data. */
  private def bloomPositionCols(value: Column, m: Column): Seq[Column] =
    (0 until 4).map(i => pmod(xxhash64(value.cast("string"), lit(i)), m))

  /** Per-directory blooms for the freshly written `rel` — one dir, or
    * with `part` one per `rel/<part>=<value>` directory — in TWO jobs
    * per column whatever the directory count (ADVICE r20: a per-dir
    * loop launched ~3 tiny driver-round-trip jobs per bucket and
    * dominated `optimizeClusterBy` even at 16 buckets). Job 1 counts
    * per-dir distinct values; job 2 hashes the distinct values of
    * every still-eligible dir (0 < ndv ≤ 512) at that dir's own width. */
  private def computeBloom(rel: String, bloomCols: Seq[String],
                           part: Option[String] = None): Seq[String] = {
    if (bloomCols.isEmpty) return Nil
    val df = spark.read.parquet(root.resolve(rel).toString)
    val present = df.schema.fieldNames.toSet
    bloomCols.flatMap { c =>
      if (!present.contains(c) || c.contains("|") || c.contains("\n") ||
        c.contains("\r")) Nil
      else {
        val vals = df.select(part.fold(lit(0))(col).as("__pc"),
          col(c).cast("string").as("v")).na.drop(Seq("v")).distinct()
        val ndv = vals.groupBy(col("__pc")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.get(0) -> r.getLong(1)).toMap
        val widths: Map[Any, Int] = ndv.collect {
          case (p, n) if n > 0 && n <= 512 =>
            p -> math.max(64, Integer.highestOneBit((8 * n.toInt) - 1) << 1)
        }
        if (widths.isEmpty) Nil
        else {
          // one pass hashes every eligible dir's values at that dir's
          // width: ≤ 4·512 distinct positions per dir reach the driver
          val widthExpr = widths.foldLeft(lit(null).cast("long")) {
            case (acc, (p, m)) =>
              when(col("__pc") === lit(p), lit(m.toLong)).otherwise(acc)
          }
          val positions = vals.withColumn("__m", widthExpr)
            .filter(col("__m").isNotNull)
            .select(col("__pc"),
              explode(array(bloomPositionCols(col("v"), col("__m")): _*))
                .as("p"))
            .distinct().collect()
          widths.toSeq.map { case (p, m) =>
            val bits = positions.iterator.filter(_.get(0) == p)
              .foldLeft(new java.math.BigInteger("0"))(
                (b, r) => b.setBit(r.getLong(1).toInt))
            val hex = bits.toString(16)
            s"${part.fold(rel)(q => s"$rel/$q=$p")}|bloom:$c|bloom$m|$hex|$hex"
          }.sorted
        }
      }
    }
  }

  /** The bloom half of the data-skipping decision, as a dir-selection
    * helper: which of `version`'s directories can contain a row whose
    * `colName` equals `value` (string-form equality,
    * [[DirSkipping.equal]])? Directories without a bloom stat for the
    * column always survive. Never a false negative: the bloom records
    * every distinct value the directory holds. */
  private[graft] def prunedDirsEq(colName: String, value: Any,
                                  version: Long = -1L): (Seq[String], Int) = {
    // SQL equality with NULL is never true, and blooms only ever
    // record non-null values — a null probe is a caller bug, not a
    // lookup; fail loud instead of NPE-ing
    require(value != null, "bloom point lookup requires a non-null value")
    val v = if (version < 0) latestVersion else version
    val s = skipping(readManifest(v))
    // the build hashed cast(col AS STRING) with col at its DECLARED
    // type, so the probe first casts to that type, then to string.
    // Without the intermediate cast a probe whose JVM type renders
    // differently (Int 5 against a DoubleType column: "5" vs "5.0";
    // Timestamp.toString's '.0' suffix) hashes to different positions —
    // a silent false negative that drops matching rows (ADVICE r9). A
    // probe that cannot cast fails loud under ANSI and matches nothing
    // otherwise.
    val probe = declaredSchema(v).flatMap(_.fields.find(_.name == colName))
      .fold[Expression](Literal(value))(f => Cast(Literal(value), f.dataType, Some(s.timeZone),
        EvalMode.fromSQLConf(spark.sessionState.conf)))
    (s.equal(colName, probe), s.dirs.size)
  }

  /** The complete data-directory listing of `version` (relative paths)
    * and its declared schema — the inputs a wire-format exporter needs
    * to replay history ([[DeltaInterop.exportHistory]]). */
  private[lake] def versionState(v: Long): (Seq[String], Option[StructType]) =
    (readManifest(v).dirs, declaredSchema(v))

  /** SHALLOW CLONE (r15) — the zero-copy table copy (Delta `CLONE
    * SHALLOW`, Iceberg snapshot-ref semantics): the clone's first
    * manifest lists the source's CURRENT live data directories as
    * absolute paths (the manifest resolver passes absolutes through
    * untouched), so creation moves METADATA ONLY — no byte of data is
    * read or written, however large the table. The clone then
    * evolves independently: its appends/merges land under its own
    * root; the source never sees them (q338 proves both directions
    * in-query).
    *
    * The documented production caveat applies here exactly as in
    * Delta: a VACUUM on the SOURCE can reclaim files the clone still
    * references — retention policy must outlive clones (the clone
    * tracks no cross-table lease; Delta's shallow clones have the
    * same contract). The REVERSE direction is guarded: a clone-side
    * [[vacuum]] never deletes outside the clone's root, so the
    * borrowed source dirs survive clone rewrites + GC
    * (LakeCloneVacuumSpec pins it). Skipping stats are not carried
    * (dirs stay unprunable on the clone — the safe
    * over-approximation). */
  def shallowClone(to: Path): LakeTable = {
    val v = latestVersion
    val (dirs, schema) = versionState(v)
    val abs = dirs.map(d => root.resolve(d).toString)
    require(abs.forall(d => !d.contains("|") && !d.contains("\n")),
      s"shallowClone: a source path would corrupt the manifest: $abs")
    val t = new LakeTable(spark, to)
    Files.createDirectories(to.resolve("_log"))
    t.commitManifest(1L, "create", abs, None, schema.map(_.json))
    t
  }

  /** Snapshot read — current table, or time travel to `version`.
    * Reading an old version after later commits returns exactly the
    * old rows: data directories are immutable and never rewritten, and
    * a filter over the result skips against `version`'s own stats.
    *
    * A snapshot with no data (a drained stream that never saw input,
    * or a table created empty) is still TYPED: every data commit
    * persists its schema in the manifest, and `createEmpty` accepts
    * one up front — so downstream column references resolve against an
    * empty result instead of failing on a zero-column DataFrame. Only
    * a schema-less empty table (created empty with no declared schema,
    * never written) degrades to `spark.emptyDataFrame`. */
  def snapshot(version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion else version
    require(Files.exists(manifestPath(v)), s"no version $v at $root")
    val m = readManifest(v)
    read(m, m.dirs, declaredSchema(v))
  }

  /** The one dirs → DataFrame reader ([[snapshot]], [[diff]]): `dirs`
    * of manifest `m` at the declared `schema`, made nullable — files
    * written before a column evolved in simply lack it and surface
    * null, the Delta/Iceberg schema-from-log rule; it also skips
    * footer-based schema inference, which at 100 TB is its own job.
    * The relation is Spark's own parquet relation with its file index
    * wrapped in a [[LakeFileIndex]] bound to `m`'s stats, so a filter
    * over the result opens only the directories that can match. */
  private def read(m: Manifest, dirs: Seq[String], schema: Option[StructType]): DataFrame = {
    val declared = schema.map(s => StructType(s.fields.map(_.copy(nullable = true))))
    if (dirs.isEmpty)
      declared.fold(spark.emptyDataFrame)(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), _))
    else {
      val paths = dirs.map(d => root.resolve(d).toString)
      val rel = declared.fold(spark.read)(s => spark.read.schema(s)).parquet(paths: _*)
        .queryExecution.analyzed.asInstanceOf[LogicalRelation].relation
        .asInstanceOf[HadoopFsRelation]
      val dirAt = dirs.map(d => root.resolve(d).toAbsolutePath.normalize.toString -> d).toMap
      spark.baseRelationToDataFrame(
        rel.copy(location = LakeFileIndex(rel.location, skipping(m), dirAt))(rel.sparkSession))
    }
  }
}

object LakeTable {

  /** Create a new table at `root` with `df` as version 1. */
  def create(spark: SparkSession, root: Path, df: DataFrame,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): LakeTable = {
    val t = new LakeTable(spark, root)
    Files.createDirectories(root.resolve("_log"))
    val dir = t.writeData(df, 1L)
    t.commitManifest(1L, "create", Seq(dir), None, Some(df.schema.json),
      stats = t.computeStats(dir, statsCols) ++ t.computeBloom(dir, bloomCols))
    t
  }

  /** Create a new empty table at `root` (version 1 lists no data — the
    * streaming-sink starting point). Pass `schema` so a read of the
    * still-empty table returns a TYPED empty DataFrame; without it the
    * schema arrives with the first data commit, and reads before that
    * degrade to a zero-column result. */
  def createEmpty(spark: SparkSession, root: Path,
                  schema: Option[StructType] = None): LakeTable = {
    val t = new LakeTable(spark, root)
    Files.createDirectories(root.resolve("_log"))
    t.commitManifest(1L, "create", Nil, None, schema.map(_.json))
    t
  }

  /** Open an existing table. */
  def open(spark: SparkSession, root: Path): LakeTable = {
    val t = new LakeTable(spark, root)
    require(Files.isDirectory(root.resolve("_log")), s"not a lake table: $root")
    t
  }

  /** Fresh table under a temp root (test/query fixture helper). */
  def createTemp(spark: SparkSession, df: DataFrame, prefix: String = "graft-lake",
                 statsCols: Seq[String] = Nil,
                 bloomCols: Seq[String] = Nil): LakeTable =
    create(spark, TempDirs.create(prefix).resolve("t"), df, statsCols, bloomCols)
}
