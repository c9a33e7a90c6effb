package graft.ops

import java.nio.{ByteBuffer, ByteOrder}

/**
 * Deletion-vector payloads: the POSITION mask of one data file as one
 * binary value — the Iceberg v3 deletion-vector idea re-expressed
 * minimally. A delete file of `(file_path, dv: binary)` carries ONE row
 * per masked data file instead of one row per masked data row, so the
 * read-side join input and the mask storage stop growing with deleted-row
 * count. Every position delete is stored in this form.
 *
 * Two payload layouts, told apart by the last byte:
 *  - **bitset** (max position <= [[MaxPackPos]]): little-endian bits of
 *    `[0, maxPos]`, no header (bit `pos` set = row `pos` deleted). The
 *    last byte holds the highest set bit, so it is never zero. A bit past
 *    the array is "not deleted", which keeps `contains` total.
 *  - **sorted runs** (any larger position): `(start, length)` pairs of
 *    little-endian longs in ascending `start`, then one `0x00` tag byte. A
 *    sparse mask near the end of a giant file pays per run, not per row of
 *    the dense prefix.
 */
object DeleteVectors {

  /** Largest row index a dense bitset may carry: 2^26 rows = 8 MiB/file. */
  val MaxPackPos: Long = (1L << 26) - 1

  private val RunsTag: Byte = 0

  private def isRuns(dv: Array[Byte]): Boolean = dv(dv.length - 1) == RunsTag

  /** The `(start, length)` runs of a sorted-runs payload. */
  private def runs(dv: Array[Byte]): collection.IndexedSeqView[(Long, Long)] = {
    val b = ByteBuffer.wrap(dv).order(ByteOrder.LITTLE_ENDIAN)
    (0 until (dv.length - 1) / 16).view.map(r => (b.getLong(r * 16), b.getLong(r * 16 + 8)))
  }

  private def bit(dv: Array[Byte], pos: Long): Boolean =
    (dv((pos >> 3).toInt) & (1 << (pos & 7).toInt)) != 0

  def encode(positions: Seq[Long]): Array[Byte] = {
    require(positions.nonEmpty, "empty deletion vector")
    require(positions.forall(_ >= 0), "negative row position")
    val maxPos = positions.max
    if (maxPos <= MaxPackPos) {
      val bytes = new Array[Byte](((maxPos >> 3) + 1).toInt)
      positions.foreach { p =>
        bytes((p >> 3).toInt) = (bytes((p >> 3).toInt) | (1 << (p & 7).toInt)).toByte
      }
      bytes
    } else {
      val rs = positions.distinct.sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((s, l) :: rest, p) if p == s + l => (s, l + 1) :: rest
        case (acc, p) => (p, 1L) :: acc
      }.reverse
      val buf = ByteBuffer.allocate(rs.size * 16 + 1).order(ByteOrder.LITTLE_ENDIAN)
      rs.foreach { case (s, l) => buf.putLong(s).putLong(l) }
      buf.put(RunsTag).array()
    }
  }

  def contains(dv: Array[Byte], pos: Long): Boolean =
    if (dv == null || dv.isEmpty || pos < 0) false
    else if (isRuns(dv)) {
      val rs = runs(dv)
      // rs(i - 1) is the last run starting at or before pos
      val i = rs.map(_._1).search(pos + 1).insertionPoint
      i > 0 && pos < rs(i - 1)._1 + rs(i - 1)._2
    } else (pos >> 3) < dv.length && bit(dv, pos)

  /** All set positions, ascending — CDC key resolution and re-packing read
   * this. */
  def expand(dv: Array[Byte]): Seq[Long] =
    if (isRuns(dv)) runs(dv).flatMap { case (s, l) => s until s + l }.toSeq
    else (0L until dv.length * 8L).filter(bit(dv, _))

  /** How many positions `dv` masks. */
  def cardinality(dv: Array[Byte]): Long =
    if (isRuns(dv)) runs(dv).map(_._2).sum
    else dv.iterator.map(b => Integer.bitCount(b & 0xff).toLong).sum
}
