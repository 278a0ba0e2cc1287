package graft.core

import java.nio.ByteBuffer

/** Posting-block compression: FOR bit-packing with a varint fallback.
  *
  * docIDs within a block are sorted strictly ascending. The packed format
  * (Lucene-FOR-style, public scheme) stores the first docID absolute as a
  * varlong, then every gap MINUS ONE bit-packed at the block's max gap
  * width — dense runs (gap 1 everywhere, the common case for head terms
  * over rank-dense docIds) collapse to a 0-bit payload. Term frequencies
  * pack (tf - 1) the same way; an all-tf-1 block is a single width byte.
  *
  * Why not plain varints (the round-1..5 format): the query kernel decodes
  * millions of blocks per batch and sits on the memory-bandwidth ceiling at
  * full thread count (`ScalingBench query`, rounds 5-6). Bit-packing attacks
  * both sides of that ceiling at once: fewer bytes streamed (a 1-byte
  * varint gap becomes 0-6 bits here) and a branch-free shift/mask decode
  * loop instead of a per-byte continuation-bit branch.
  *
  * Format (docIds): [0x01][varlong firstDoc][width b: 1 byte]
  * [ceil((n-1)·b/8) bytes, LSB-first]. A gap-1 above 32 bits falls back to
  * [0x00][legacy varint stream] — dispatch is on the leading format byte
  * (nothing encoded before this round persists across JVM runs; every
  * index in specs/bench/battery is built fresh).
  * Format (tfs): [width b: 1 byte][ceil(n·b/8) bytes], values tf-1
  * (tf >= 1 always; tf-1 fits 31 bits by Int range — no fallback needed).
  */
object Codec {

  /** Persisted posting-format version, stamped into every snapshot's props
    * (IndexMeta.toProps) and every stage-resume marker (Snapshot.
    * markStageDone) and VERIFIED on open (IndexMeta.fromProps refuses a
    * mismatch loudly). v1 = rounds 1-5 legacy varint blocks (never stamped);
    * v2 = this packed-FOR layout. The in-block 0x00/0x01 leading byte below
    * remains only an INTRA-v2 dense/degenerate discriminator — it is no
    * longer trusted to distinguish whole format generations (VERDICT r6
    * what's-wrong #1: a v1 block whose first byte happened to be 0x01 would
    * decode to wrong postings with no error).
    */
  val FormatVersion: Int = 2

  /** Append an unsigned varlong (LEB128) to `buf`. */
  def writeVarLong(buf: ByteBuffer, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) {
      buf.put(((v & 0x7F) | 0x80).toByte)
      v >>>= 7
    }
    buf.put(v.toByte)
  }

  def readVarLong(buf: ByteBuffer): Long = {
    var shift = 0
    var result = 0L
    var b = buf.get()
    while ((b & 0x80) != 0) {
      result |= (b & 0x7FL) << shift
      shift += 7
      b = buf.get()
    }
    result | ((b & 0x7FL) << shift)
  }

  /** LSB-first bit stream writer: values must fit `b` bits, b <= 32. The
    * accumulator never exceeds 39 live bits (drained below 8 before each
    * 32-bit-max insert), so no shift overflows.
    */
  private def packBits(buf: ByteBuffer, values: Array[Long], from: Int,
                       until: Int, b: Int): Unit = {
    if (b == 0) return
    var acc = 0L
    var accBits = 0
    var i = from
    while (i < until) {
      acc |= values(i) << accBits
      accBits += b
      while (accBits >= 8) {
        buf.put((acc & 0xffL).toByte)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) buf.put((acc & 0xffL).toByte)
  }

  /** Encode a strictly-increasing docID array: packed FOR, varint fallback. */
  def encodeDocIds(docIds: Array[Long]): Array[Byte] = {
    val n = docIds.length
    if (n == 0) return Array(0x01.toByte) // decode(n=0) never reads past it
    val gaps = new Array[Long](n) // gaps(i) = docIds(i) - docIds(i-1) - 1
    var maxG = 0L
    var i = 1
    while (i < n) {
      val g = docIds(i) - docIds(i - 1) - 1
      gaps(i) = g
      if (g > maxG) maxG = g
      i += 1
    }
    if (maxG > 0xFFFFFFFFL) { // degenerate span: legacy varints behind 0x00
      val buf = ByteBuffer.allocate(n * 10 + 1)
      buf.put(0x00.toByte)
      var prev = 0L
      var j = 0
      while (j < n) {
        writeVarLong(buf, if (j == 0) docIds(0) else docIds(j) - prev)
        prev = docIds(j)
        j += 1
      }
      return java.util.Arrays.copyOf(buf.array(), buf.position())
    }
    val b = if (maxG == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(maxG)
    val buf = ByteBuffer.allocate(12 + ((n - 1).toLong * b / 8).toInt + 9)
    buf.put(0x01.toByte)
    writeVarLong(buf, docIds(0))
    buf.put(b.toByte)
    packBits(buf, gaps, 1, n, b)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  def decodeDocIds(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    decodeDocIdsInto(bytes, n, out)
    out
  }

  /** [[decodeDocIds]] into a caller-owned buffer (>= n), raw index-based
    * reads — no ByteBuffer or output array allocated per block (the posting
    * kernel decodes millions of blocks per query batch). Packed path is
    * branch-free shift/mask per gap.
    */
  def decodeDocIdsInto(bytes: Array[Byte], n: Int, out: Array[Long]): Unit = {
    if (n == 0) return
    if (bytes(0) == 0x01.toByte) {
      var p = 1
      var first = 0L
      var shift = 0
      var vb = bytes(p); p += 1
      while ((vb & 0x80) != 0) {
        first |= (vb & 0x7FL) << shift
        shift += 7
        vb = bytes(p); p += 1
      }
      first |= (vb & 0x7FL) << shift
      out(0) = first
      val b = bytes(p) & 0xff; p += 1
      if (b == 0) { // dense run: every gap is exactly 1
        var i = 1
        while (i < n) { out(i) = out(i - 1) + 1; i += 1 }
      } else {
        val mask = (1L << b) - 1
        var acc = 0L
        var accBits = 0
        var i = 1
        while (i < n) {
          while (accBits < b) {
            acc |= (bytes(p) & 0xffL) << accBits
            p += 1
            accBits += 8
          }
          out(i) = out(i - 1) + (acc & mask) + 1
          acc >>>= b
          accBits -= b
          i += 1
        }
      }
    } else { // 0x00: legacy varint stream
      var p = 1
      var prev = 0L
      var i = 0
      while (i < n) {
        var shift = 0
        var v = 0L
        var b = bytes(p); p += 1
        while ((b & 0x80) != 0) {
          v |= (b & 0x7FL) << shift
          shift += 7
          b = bytes(p); p += 1
        }
        v |= (b & 0x7FL) << shift
        prev = if (i == 0) v else prev + v
        out(i) = prev
        i += 1
      }
    }
  }

  /** Encode term frequencies (>= 1): (tf - 1) bit-packed at max width. */
  def encodeTfs(tfs: Array[Int]): Array[Byte] = {
    val n = tfs.length
    val vals = new Array[Long](n)
    var maxV = 0L
    var i = 0
    while (i < n) {
      val v = (tfs(i) - 1).toLong
      vals(i) = v
      if (v > maxV) maxV = v
      i += 1
    }
    val b = if (maxV == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(maxV)
    val buf = ByteBuffer.allocate(2 + (n.toLong * b / 8).toInt + 9)
    buf.put(b.toByte)
    packBits(buf, vals, 0, n, b)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  def decodeTfs(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    decodeTfsInto(bytes, n, out)
    out
  }

  /** [[decodeTfs]] into a caller-owned buffer (>= n) — see
    * [[decodeDocIdsInto]] for why.
    */
  def decodeTfsInto(bytes: Array[Byte], n: Int, out: Array[Int]): Unit = {
    if (n == 0) return
    val b = bytes(0) & 0xff
    if (b == 0) {
      java.util.Arrays.fill(out, 0, n, 1)
    } else {
      val mask = (1L << b) - 1
      var p = 1
      var acc = 0L
      var accBits = 0
      var i = 0
      while (i < n) {
        while (accBits < b) {
          acc |= (bytes(p) & 0xffL) << accBits
          p += 1
          accBits += 8
        }
        out(i) = ((acc & mask) + 1).toInt
        acc >>>= b
        accBits -= b
        i += 1
      }
    }
  }
}
