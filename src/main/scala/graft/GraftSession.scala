package graft

import org.apache.spark.sql.SparkSession

import graft.lake.{NoForkLocalFileSystem, NoForkLocalFs}

/** One place for session config so Verify/Bench/tests agree.
  *
  * - `nanosAsLong`: kept so a TIMESTAMP(NANOS) encoding of `events.ts`
  *   (one of the physical types the driver has generated) reads as raw
  *   nanos instead of erroring; `Tables.eventTimeCol` adapts per READ
  *   schema (raw-nanos long vs timestamp[us]/NTZ — VERDICT r11), so
  *   the config is inert when the testdata carries µs timestamps.
  * - AQE on: runtime coalescing + skew-join handling — the behaviors we
  *   rely on at real cluster scale.
  * - shuffle.partitions = local core count (not 200) for batch queries
  *   and per-batch drain transforms. Drains whose plan can hold state
  *   run on isolated per-run sessions whose count
  *   `MicroBatch.drainPartitions` sizes to the micro-batch volume.
  * - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: every `file:`
  *   path, through both Hadoop APIs (parquet writers use `FileSystem`,
  *   streaming checkpoints and state stores `FileContext`), goes
  *   through `graft.lake.NoForkLocalFs`, which sets permissions and
  *   reads link status in-process. Hadoop's stock local FS forks a
  *   `chmod`/`readlink` per checkpoint, state-store and sink file when
  *   libhadoop is absent: one `stream_drain` run (seed 1, 4-cpu VM)
  *   started 716 `chmod` and 1,328 `readlink` processes, and none
  *   through these classes.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Measured and REJECTED r22 (3-rep same-box A/Bs on a 15-query
      // shuffle-heavy batch subset, bench_r22 cfg logs):
      //  - spark.sql.adaptive.coalescePartitions.parallelismFirst=false
      //    (+ preferSortMergeJoin=false): subset 32.2 -> 43.1 s med —
      //    coalescing tiny exchanges to advisory-size partitions
      //    single-threads the compute-bound stages that follow them
      //    (q295 2.35->5.37, q301 2.21->4.00);
      //  - spark.sql.join.preferSortMergeJoin=false alone: 32.2 ->
      //    36.8 s med (q334 +0.84 s min) — at this per-partition size
      //    the SHJ hash-table build loses to sort-merge on
      //    already-small sorted runs.
      // Both remain worth re-measuring on a real cluster at real data
      // sizes (guide §9 suggests them as starting points); the engine
      // keeps Spark defaults here because the local measurements are
      // the only ones this repo can stand behind.
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)

  /** Local parallelism of [[local]]'s default session: SPARK_GRAFT_CPUS,
    * else 4. Bench reports this number, so it must be the one used. */
  val cpus: Int = positiveIntEnv("SPARK_GRAFT_CPUS", 4)

  /** A positive-int setting from the environment: `default` when
    * `name` is unset, else its trimmed value — failing loudly on a
    * non-integer or a value below 1 rather than silently running with
    * the default. */
  private[graft] def positiveIntEnv(name: String, default: Int,
                                    env: String => Option[String] = sys.env.get): Int =
    env(name).fold(default) { raw =>
      val n = raw.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$name='$raw' is not an integer"))
      require(n >= 1, s"$name=$n must be at least 1")
      n
    }

  def local(cpus: String = GraftSession.cpus.toString): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
