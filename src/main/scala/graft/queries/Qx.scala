package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for oracle-exact query results.
  *
  * The driver hash-compares our parquet dumps against DuckDB running the
  * `oracleSql` on the same tables, so every emitted value must be
  * bit-identical across both engines:
  *
  *  - Floating-point SUM is order-dependent; Spark's partial aggregation
  *    order differs from DuckDB's. We sum through an exact decimal
  *    representation (the testdata money/value columns are 2-decimal
  *    doubles, so `DECIMAL(18,2)` is lossless) and cast the exact total
  *    back to double — deterministic in both engines.
  *  - Derived integers are cast to BIGINT on both sides (Spark `year()`
  *    is INT, DuckDB's is BIGINT; the driver checks schema).
  */
object Qx {
  type Q = (SparkSession, String) => DataFrame

  /** Exact money sum: double --(lossless)--> decimal(18,2) --sum--> double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum for derived products (e.g. price*(1-disc)): round the
    * double to 6 decimals in decimal space first, then sum exactly. */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** Exact average built from the exact sum (one IEEE division at the end). */
  def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast("double") / count(lit(1)))

  // SQL-side twins (DuckDB dialect is close enough to ANSI here).
  def sqlDsum(e: String): String  = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
  def sqlDsum6(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(28,6))) AS DOUBLE)"
  def sqlDavg(e: String): String  = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"

  /** Temp directory for query-side fixtures (lake exports, file-format
    * round trips), registered for recursive deletion at JVM exit —
    * every Verify run and Bench rep creates fresh fixture dirs, and
    * without the hook repeated runs accumulate unbounded /tmp usage
    * (ADVICE r12 on q203; the same shape exists across the lake and
    * file-format queries). */
  def tempDir(prefix: String): java.nio.file.Path =
    graft.lake.TempDirs.create(prefix)

  private val sessionKeys = new java.util.WeakHashMap[SparkSession, String]()

  /** Stable unique key for a live session, for memoizing staged lake
    * artifacts per (session, sf dir). Identity-keyed through a weak
    * map rather than `System.identityHashCode` (ADVICE r12: identity
    * hashes can collide across distinct sessions, serving a stale
    * artifact, and hash keys are never evicted) — two live sessions
    * are always distinct map keys, and an entry dies with its
    * session. */
  def sessionKey(s: SparkSession): String = sessionKeys.synchronized {
    sessionKeys.computeIfAbsent(
      s, _ => java.util.UUID.randomUUID().toString)
  }

  /** Content stamp for staged artifacts derived from a testdata table
    * — one shared implementation ([[graft.lake.Stamps.tableStamp]];
    * r18, ADVICE r17 unified this with MicroBatch's former duplicate).
    * Memo holders pair it with [[graft.lake.Stamps.StampedMemo]] so a
    * regenerated table REPLACES the superseded entry instead of
    * stranding it. */
  def tableStamp(d: String, table: String): Long =
    graft.lake.Stamps.tableStamp(d, table)
}
