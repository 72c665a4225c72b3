package graft.server

import java.io.OutputStream

/** An in-memory byte sink that grows in blocks — 8 KB first, doubling up
  * to 256 KB — so a response body of any size is held without one
  * response-sized array (an array of half a G1 region or more is a
  * humongous allocation) and is sent without a final copy. */
private[server] final class BlockBuffer extends OutputStream {
  private val blocks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
  private var cur: Array[Byte] = Array.emptyByteArray
  private var pos = 0 // bytes used in `cur`
  private var before = 0L // bytes in the blocks ahead of `cur`

  def size: Long = before + pos

  override def write(b: Int): Unit = {
    if (pos == cur.length) grow()
    cur(pos) = b.toByte
    pos += 1
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    val end = off + len
    while (o < end) {
      if (pos == cur.length) grow()
      val k = math.min(end - o, cur.length - pos)
      System.arraycopy(b, o, cur, pos, k)
      pos += k
      o += k
    }
  }

  private def grow(): Unit = {
    before += pos
    cur = new Array[Byte](if (blocks.isEmpty) 8 << 10 else math.min(cur.length * 2, 256 << 10))
    blocks += cur
    pos = 0
  }

  /** Drop the unused tail of the last block, for a buffer that is kept. */
  def trim(): Unit = if (pos < cur.length) {
    cur = java.util.Arrays.copyOf(cur, pos)
    blocks(blocks.length - 1) = cur
  }

  /** A new buffer holding the first `n` bytes of this one. */
  def take(n: Long): BlockBuffer = {
    val b = new BlockBuffer
    var left = n
    blocks.foreach { blk =>
      val k = math.min(left, if (blk eq cur) pos else blk.length).toInt
      b.write(blk, 0, k)
      left -= k
    }
    b
  }

  def writeTo(out: OutputStream): Unit =
    blocks.foreach(b => out.write(b, 0, if (b eq cur) pos else b.length))
}
