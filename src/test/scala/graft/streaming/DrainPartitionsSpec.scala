package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[MicroBatch.drainPartitions]]: a drain's state/shuffle partition
  * count is the bytes one trigger admits (× sources), divided by
  * [[MicroBatch.DrainBytesPerPartition]], rounded up, clamped to
  * [1, defaultParallelism] — defaultParallelism is 2 under TestSpark's
  * local[2]. */
class DrainPartitionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf01 = "/root/testdata/sf0.01"
  private val B = MicroBatch.DrainBytesPerPartition

  private def parts(in: Path, maxFiles: Option[Int], sources: Int = 1): Int =
    MicroBatch.drainPartitions(spark, in, maxFiles, sources)

  /** A landing dir holding one file per entry of `sizes`, plus the
    * hidden marker files a parquet write leaves, which the file source
    * never reads. */
  private def dir(sizes: Long*): Path = {
    val d = graft.lake.TempDirs.create("graft-drainparts")
    sizes.zipWithIndex.foreach { case (n, i) =>
      Files.write(d.resolve(f"part_${i + 1}%03d.parquet"), new Array[Byte](n.toInt))
    }
    Files.write(d.resolve("_SUCCESS"), new Array[Byte](2 * B.toInt))
    Files.write(d.resolve(".part_001.parquet.crc"), new Array[Byte](2 * B.toInt))
    d
  }

  test("sf0.01: one file per trigger gets one partition, the whole events file two") {
    assert(Paths.get(sf01).toFile.isDirectory)
    for (in <- Seq(MicroBatch.stageEventsSplit(spark, sf01, 4),
                   MicroBatch.stageEventsByTime(spark, sf01, 3),
                   MicroBatch.stageArrival(spark, sf01, MicroBatch.Arrival.BoundedJitter)))
      assert(parts(in, Some(1)) === 1, in)
    assert(parts(MicroBatch.stageEvents(sf01, 1), None) === 2) // 221 KB
  }

  test("admitted bytes divide by the byte target, rounded up") {
    assert(parts(dir(1), None) === 1)
    assert(parts(dir(B), None) === 1)
    assert(parts(dir(B + 1), None) === 2)
    assert(parts(dir(B / 2, B / 2), None) === 1)
    assert(parts(dir(B / 2, B / 2 + 1), None) === 2)
    assert(parts(dir(), None) === 1) // never 0
  }

  test("the count is clamped at defaultParallelism") {
    assert(spark.sparkContext.defaultParallelism === 2)
    assert(parts(dir(2 * B + 1), None) === 2)
    assert(parts(dir(10 * B), None) === 2)
  }

  test("maxFilesPerTrigger admits the largest files; None admits the whole dir") {
    val in = dir(B / 4, B * 3 / 4 + 1, B / 8)
    assert(parts(in, Some(1)) === 1)
    assert(parts(in, Some(2)) === 2)
    assert(parts(in, None) === 2)
    assert(parts(in, Some(5)) === 2)
  }

  test("sources = 2 doubles the admitted bytes") {
    assert(parts(dir(B * 3 / 4), None, sources = 1) === 1)
    assert(parts(dir(B * 3 / 4), None, sources = 2) === 2)
    assert(parts(dir(B / 2), None, sources = 2) === 1)
  }
}
