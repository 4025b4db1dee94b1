package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve arithmetic — the multi-dimensional data
  * layout used by Delta OPTIMIZE ZORDER BY / Iceberg sort orders:
  * interleaving the bits of k columns makes points close in ANY
  * dimension close on the curve, so sorting by the z-value and cutting
  * the table into contiguous files gives every file a narrow min/max
  * range on ALL k columns at once — which is exactly what the lake
  * stats-skipping file index ([[graft.lake.LakeFileIndex]]) needs to
  * prune range predicates on any dimension. A single-column sort
  * only ever achieves that for its leading column.
  *
  * Everything here is plain shift/mask integer arithmetic — the
  * classic doubling spread chain, generalized from the fixed 2-D
  * 16-bit version to any stride k in [2, 4] (r15): to spread `bits`
  * bits at stride k, fold shift sizes s = 2^j descending with
  * `x = (x | (x << s·(k−1))) & M(s)` where mask `M(s)` keeps the bit
  * positions with `pos mod (s·k) < s`. For k = 2 / bits = 16 this
  * reproduces the textbook (8, 0x00FF00FF)(4, 0x0F0F0F0F)… chain
  * bit-for-bit. Codegen-friendly on the Spark side and
  * bit-reproducible in any engine with `<<` and `&` — the DuckDB
  * oracle runs [[sqlInterleave]] / [[sqlInterleaveN]].
  */
object ZOrder {

  /** Per-dimension lane width: 16 bits through 3 dims (z ≤ 48 bits),
    * narrowing so k·bits stays under the sign bit. */
  def laneBits(k: Int): Int = {
    require(k >= 2 && k <= 4, s"z-order interleaves 2-4 dimensions, got $k")
    math.min(16, 62 / k)
  }

  /** Mask keeping bit positions with `pos mod (s·k) < s` (the
    * post-step group layout: s-bit groups every s·k positions). */
  private def maskFor(s: Int, k: Int): Long =
    (0 until 63).foldLeft(0L) { (m, pos) =>
      if (pos % (s * k) < s) m | (1L << pos) else m
    }

  /** Doubling chain (shift, mask) spreading `bits` bits at stride k. */
  private def chain(bits: Int, k: Int): Seq[(Int, Long)] =
    Iterator.iterate(Integer.highestOneBit(math.max(bits - 1, 1)))(_ >> 1)
      .takeWhile(_ >= 1)
      .map(s => (s * (k - 1), maskFor(s, k)))
      .toSeq

  /** Spread the low `bits` bits of `c` so bit i lands at position k·i. */
  def spread(c: Column, k: Int, bits: Int): Column =
    chain(bits, k).foldLeft(
      c.cast("long").bitwiseAND(lit((1L << bits) - 1))) {
      case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** Spread the low 16 bits of `c` so bit i lands at position 2i
    * (the legacy 2-D lane; [[spread]] with k = 2, bits = 16). */
  def spread16(c: Column): Column = spread(c, 2, 16)

  /** 32-bit Morton code of (x, y): x's bits at even positions, y's at
    * odd. Total order on the z-value is the space-filling curve. */
  def interleave(x: Column, y: Column): Column = interleaveN(Seq(x, y))

  /** k-D Morton code: dimension d's bit i lands at position k·i + d.
    * Lane width is [[laneBits]] per dimension (16 through 3 dims). */
  def interleaveN(cols: Seq[Column]): Column = {
    val k = cols.size
    val bits = laneBits(k)
    cols.zipWithIndex.map { case (c, d) =>
      if (d == 0) spread(c, k, bits) else shiftleft(spread(c, k, bits), d)
    }.reduce(_ bitwiseOR _)
  }

  /** Reference JVM implementation (spec oracle). */
  def interleaveRef(x: Long, y: Long): Long = interleaveRefN(Seq(x, y))

  /** Reference JVM k-D implementation (spec oracle). */
  def interleaveRefN(vals: Seq[Long]): Long = {
    val k = vals.size
    val bits = laneBits(k)
    def sp(v0: Long): Long =
      chain(bits, k).foldLeft(v0 & ((1L << bits) - 1)) {
        case (v, (s, m)) => (v | (v << s)) & m
      }
    vals.zipWithIndex.map { case (v, d) => sp(v) << d }.reduce(_ | _)
  }

  /** The identical computation as an ANSI-ish SQL fragment (DuckDB
    * dialect: `<<` and `&` on BIGINT) over column expressions. */
  def sqlInterleave(xe: String, ye: String): String =
    sqlInterleaveN(Seq(xe, ye))

  /** k-D SQL twin of [[interleaveN]]. */
  def sqlInterleaveN(exprs: Seq[String]): String = {
    val k = exprs.size
    val bits = laneBits(k)
    def sp(e: String): String =
      chain(bits, k).foldLeft(s"($e & ${(1L << bits) - 1})") {
        case (v, (s, m)) => s"(($v | ($v << $s)) & $m)"
      }
    exprs.zipWithIndex.map {
      case (e, 0) => sp(e)
      case (e, d) => s"(${sp(e)} << $d)"
    }.mkString("(", " | ", ")")
  }
}
