package graft.index

import java.io.ByteArrayOutputStream
import scala.collection.mutable.ArrayBuffer

/** Frame-of-reference delta codec for posting lists (north rule:
  * "delta-encoded docID gaps + term frequencies, variable-byte/FOR
  * compressed with block-max metadata"). Pure Scala — runs inside executor
  * tasks.
  *
  * Doc ids are arbitrary Longs (xxhash64 of the chunk key) ordered by plain
  * signed comparison; build and query agree on that total order. The one
  * block layout (recorded as `GlobalStats.postingCodec` = "for"):
  *
  *   docs    = VByte(bits(firstDocId)) ++ FOR(gap_1..gap_{n-1})
  *   tfs/dls = FOR(v_0..v_{n-1})
  *
  * where FOR(vals) = VByte(base = unsigned-min) ++ width:1B ++
  * little-endian bitstream of (v - base) at `width` bits each — the
  * classic frame-of-reference layout (Lucene PackedInts / PFOR family,
  * minus exceptions). Decode is a branch-free shift loop on the WAND
  * serving hot path, and a posting block's 128 gaps share one width, so
  * dense lists pack below a byte per gap.
  */
object Codec {

  /** `GlobalStats.postingCodec` of every index this code writes. */
  val For = "for"

  private def writeVLong(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Read one VByte long at `pos`; returns (value, bytesConsumed). */
  private def readVLong(bytes: Array[Byte], pos: Int): (Long, Int) = {
    var v = 0L
    var shift = 0
    var p = pos
    var b = 0
    do {
      b = bytes(p) & 0xff
      v |= (b & 0x7fL) << shift
      shift += 7
      p += 1
    } while ((b & 0x80) != 0)
    (v, p - pos)
  }

  /** FOR-pack `values(from until values.length)` as base + width + packed
    * (v - base). Values are treated as unsigned 64-bit patterns (delta gaps
    * between sorted signed longs wrap mod 2^64); subtraction from the
    * unsigned minimum keeps every packed diff in [0, 2^64).
    */
  private def forPack(out: ByteArrayOutputStream, values: Array[Long],
                      from: Int): Unit = {
    val n = values.length - from
    if (n <= 0) return
    var base = values(from)
    var maxDiff = 0L
    var i = from + 1
    while (i < values.length) {
      if (java.lang.Long.compareUnsigned(values(i), base) < 0) base = values(i)
      i += 1
    }
    i = from
    while (i < values.length) {
      val d = values(i) - base
      if (java.lang.Long.compareUnsigned(d, maxDiff) > 0) maxDiff = d
      i += 1
    }
    val width = 64 - java.lang.Long.numberOfLeadingZeros(maxDiff)
    writeVLong(out, base)
    out.write(width)
    if (width == 0) return
    // little-endian bitstream: bit j of diff i lands at bit (i*width + j)
    var acc = 0L
    var accBits = 0
    i = from
    while (i < values.length) {
      val d = values(i) - base
      acc |= (if (width == 64) d else d & ((1L << width) - 1)) << accBits
      accBits += width
      if (accBits >= 64) {
        var k = 0
        while (k < 8) { out.write((acc >>> (k * 8)).toInt & 0xff); k += 1 }
        accBits -= 64
        acc = if (accBits == 0) 0L else d >>> (width - accBits)
      }
      i += 1
    }
    while (accBits > 0) {
      out.write(acc.toInt & 0xff)
      acc >>>= 8
      accBits -= 8
    }
  }

  /** Decode `n` FOR-packed values starting at `pos` into out(from...). */
  private def forUnpack(bytes: Array[Byte], pos: Int, out: Array[Long],
                        from: Int): Unit = {
    val n = out.length - from
    if (n <= 0) return
    val (base, consumed) = readVLong(bytes, pos)
    var p = pos + consumed
    val width = bytes(p) & 0xff
    p += 1
    if (width == 0) {
      java.util.Arrays.fill(out, from, out.length, base)
      return
    }
    val mask = if (width == 64) -1L else (1L << width) - 1
    val dataStart = p
    val len = bytes.length
    var i = from
    if (width <= 56) {
      // fast path: value i sits at bit i*width; (bit & 7) + width <= 63, so
      // one unaligned little-endian 8-byte load covers it — getLong is a
      // HotSpot intrinsic (single load), the extract is one shift + mask
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (i < out.length) {
        val bit = (i - from).toLong * width
        val byteIdx = dataStart + (bit >>> 3).toInt
        val shift = (bit & 7).toInt
        val word =
          if (byteIdx + 8 <= len) bb.getLong(byteIdx)
          else { // frame tail shorter than a word: assemble what exists
            var w = 0L
            var k = 0
            while (k < 8 && byteIdx + k < len) {
              w |= (bytes(byteIdx + k) & 0xffL) << (k * 8); k += 1
            }
            w
          }
        out(i) = base + ((word >>> shift) & mask)
        i += 1
      }
    } else {
      // wide values (57..64 bits — near-random gaps): byte-at-a-time with a
      // sub-byte leftover accumulator; rare, so clarity over speed
      var acc = 0L
      var accBits = 0
      while (i < out.length) {
        var d = acc
        var got = accBits
        var last = 0L
        while (got < width) {
          last = bytes(p) & 0xffL
          p += 1
          // got <= 63, so the shift keeps at least 1 bit of `last`; any
          // bits it drops sit at value-relative positions >= 64 >= width —
          // they belong to the NEXT value and are recovered below
          d |= last << got
          got += 8
        }
        // excess < 8: width >= 57 > accBits, so the read loop always ran and
        // exited on its first crossing; the leftover bits all sit in `last`
        val excess = got - width
        acc = if (excess == 0) 0L else last >>> (8 - excess)
        accBits = excess
        out(i) = base + (d & mask)
        i += 1
      }
    }
  }

  /** FOR-encode `values`; `deltas = true` stores values(0) as a VByte,
    * then FOR-packs the gaps (values must ascend).
    */
  def encode(values: Array[Long], deltas: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(values.length * 2)
    if (values.isEmpty) return out.toByteArray
    if (deltas) {
      var i = 1
      val gaps = new Array[Long](values.length)
      writeVLong(out, values(0))
      while (i < values.length) {
        require(values(i) >= values(i - 1), s"non-monotonic docId at $i")
        gaps(i) = values(i) - values(i - 1)
        i += 1
      }
      forPack(out, gaps, 1)
    } else forPack(out, values, 0)
    out.toByteArray
  }

  /** Inverse of `encode` for `n` values. */
  def decode(bytes: Array[Byte], n: Int, deltas: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    if (n == 0) return out
    if (deltas) {
      val (first, consumed) = readVLong(bytes, 0)
      out(0) = first
      forUnpack(bytes, consumed, out, 1)
      var i = 1
      while (i < n) { out(i) += out(i - 1); i += 1 }
    } else forUnpack(bytes, 0, out, 0)
    out
  }

  /** One compressed posting block. Doc lengths travel with the block so the
    * exact per-doc BM25 contribution is recomputable at query time;
    * `maxTfNorm` is the block's maximum tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))
    * — multiply by idf(term) for the block-max WAND score bound.
    */
  case class Block(docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte], n: Int,
                   maxTfNorm: Double, firstDoc: Long, lastDoc: Long)

  val DefaultBlockSize = 128

  /** Build blocks from postings sorted ascending by docId. `tfNorms` are the
    * precomputed per-posting normalized contributions (for block maxima).
    */
  def buildBlocks(docIds: Array[Long], tfs: Array[Long], dls: Array[Long],
                  tfNorms: Array[Double],
                  blockSize: Int = DefaultBlockSize): Seq[Block] = {
    require(docIds.length == tfs.length && docIds.length == dls.length &&
      docIds.length == tfNorms.length)
    val blocks = new ArrayBuffer[Block]
    var start = 0
    while (start < docIds.length) {
      val end = math.min(start + blockSize, docIds.length)
      val ids = java.util.Arrays.copyOfRange(docIds, start, end)
      val f = java.util.Arrays.copyOfRange(tfs, start, end)
      val d = java.util.Arrays.copyOfRange(dls, start, end)
      var mx = 0.0
      var i = start
      while (i < end) { if (tfNorms(i) > mx) mx = tfNorms(i); i += 1 }
      blocks += Block(encode(ids, deltas = true), encode(f, deltas = false),
        encode(d, deltas = false), end - start, mx, docIds(start), docIds(end - 1))
      start = end
    }
    blocks.toSeq
  }

  def decodeBlockDocs(b: Block): Array[Long] = decode(b.docs, b.n, deltas = true)
  def decodeBlockTfs(b: Block): Array[Long] = decode(b.tfs, b.n, deltas = false)
  def decodeBlockDls(b: Block): Array[Long] = decode(b.dls, b.n, deltas = false)
}
