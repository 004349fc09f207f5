package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.Codec

/** Property-style roundtrip tests with a fixed seed (scalacheck's
  * scalatest bridge is not in the offline cache, so plain seeded loops).
  */
class CodecSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(42)

  /** Bytes of one VByte field: 7 payload bits per byte, unsigned. */
  private def vbyteLen(v: Long): Int = {
    var x = v >>> 7
    var len = 1
    while (x != 0) { x >>>= 7; len += 1 }
    len
  }

  // A FOR frame stores its base and a delta list's first doc id as VByte
  // fields; the two vbyte tests cover those fields at every magnitude.
  test("vbyte roundtrip: arbitrary non-negative values") {
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong().abs)
      val enc = Codec.encode(arr, deltas = false)
      assert(Codec.decode(enc, n, deltas = false).toSeq == arr.toSeq)
      // a one-value frame is VByte(base) plus a zero width byte
      for (v <- arr.headOption) {
        val one = Codec.encode(Array(v), deltas = false)
        assert(one.length == vbyteLen(v) + 1, s"value $v")
        assert(Codec.decode(one, 1, deltas = false).toSeq == Seq(v))
      }
    }
  }

  test("vbyte delta roundtrip: sorted ids incl. negative first values") {
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong()).distinct.sorted
      val enc = Codec.encode(arr, deltas = true)
      assert(Codec.decode(enc, arr.length, deltas = true).toSeq == arr.toSeq)
      // a one-id list is the VByte first id alone; a negative id takes
      // all ten bytes of its 64-bit pattern
      for (first <- arr.headOption) {
        val one = Codec.encode(Array(first), deltas = true)
        assert(one.length == vbyteLen(first), s"first id $first")
        assert(first >= 0 || one.length == 10)
        assert(Codec.decode(one, 1, deltas = true).toSeq == Seq(first))
      }
    }
  }

  test("block build/decode roundtrip + block max") {
    for (_ <- 1 to 50) {
      val n = 1 + rng.nextInt(500)
      val scale = 1 + rng.nextInt(1000000)
      val ids = Array.tabulate(n)(i => i.toLong * scale - 500000L)
      val tfs = Array.tabulate(n)(i => (i % 7 + 1).toLong)
      val dls = Array.tabulate(n)(i => (i % 90 + 10).toLong)
      val norms = Array.tabulate(n)(i => tfs(i).toDouble / (tfs(i) + dls(i)))
      val blocks = Codec.buildBlocks(ids, tfs, dls, norms, blockSize = 64)
      assert(blocks.flatMap(Codec.decodeBlockDocs) == ids.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockTfs) == tfs.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockDls) == dls.toSeq)
      var off = 0
      for (b <- blocks) {
        val mx = norms.slice(off, off + b.n).max
        assert(math.abs(b.maxTfNorm - mx) < 1e-15)
        assert(b.firstDoc <= b.lastDoc)
        off += b.n
      }
    }
  }

  test("compression is effective on dense ascending ids") {
    val ids = Array.tabulate(10000)(i => 1000000L + i * 3L)
    val tfs = Array.fill(10000)(2L)
    val dls = Array.fill(10000)(60L)
    val norms = Array.fill(10000)(0.5)
    val blocks = Codec.buildBlocks(ids, tfs, dls, norms)
    val bytes = blocks.map(b => b.docs.length + b.tfs.length + b.dls.length).sum
    assert(bytes < 10000 * 4, s"expected <4B/posting, got ${bytes / 10000.0}")
  }

  test("FOR roundtrip: arbitrary non-negative values, all widths") {
    for (trial <- 1 to 300) {
      val n = rng.nextInt(300)
      // vary the magnitude so every bit width 0..63 gets exercised
      val bits = trial % 64
      val arr = Array.fill(n)(
        if (bits == 0) 0L else rng.nextLong() >>> (64 - bits))
      val enc = Codec.encode(arr, deltas = false)
      assert(Codec.decode(enc, n, deltas = false).toSeq == arr.toSeq,
        s"width~$bits n=$n")
    }
  }

  test("FOR roundtrip: full-range unsigned values (width 64)") {
    for (_ <- 1 to 100) {
      val n = 1 + rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong()) // any bit pattern
      val enc = Codec.encode(arr, deltas = false)
      assert(Codec.decode(enc, n, deltas = false).toSeq == arr.toSeq)
    }
    // adversarial: min and max unsigned in one frame forces width 64
    val edge = Array(0L, -1L, Long.MinValue, Long.MaxValue, 1L)
    // (not sorted — non-delta mode has no monotonicity requirement)
    val enc = Codec.encode(edge, deltas = false)
    assert(Codec.decode(enc, edge.length, deltas = false).toSeq == edge.toSeq)
  }

  test("FOR delta roundtrip: sorted ids incl. negative first values") {
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(rng.nextLong()).distinct.sorted
      val enc = Codec.encode(arr, deltas = true)
      assert(Codec.decode(enc, arr.length, deltas = true).toSeq == arr.toSeq)
    }
    // constant gaps -> width 0 frame
    val flat = Array.tabulate(50)(i => 7L * i - 100)
    val enc0 = Codec.encode(flat, deltas = true)
    assert(Codec.decode(enc0, flat.length, deltas = true).toSeq == flat.toSeq)
    // extreme gap: MinValue then MaxValue (unsigned-wrapping delta)
    val wide = Array(Long.MinValue, -1L, Long.MaxValue)
    val enc1 = Codec.encode(wide, deltas = true)
    assert(Codec.decode(enc1, wide.length, deltas = true).toSeq == wide.toSeq)
  }

  test("FOR packs a dense posting frame below one byte per gap") {
    // 128-gap frame of a dense posting list: one shared width for all gaps
    val dense = Array.tabulate(128)(i => 1000000L + i * 37L + i % 3)
    val bytes = Codec.encode(dense, deltas = true).length
    assert(bytes < dense.length, s"FOR $bytes B for ${dense.length} postings")
  }

  test("FOR block build/decode roundtrip matches VByte blocks") {
    // block metadata comes from the raw postings, not the byte layout, so
    // FOR blocks carry exactly the n, block max and first/last doc id that
    // the retired VByte blocks did: WAND's block bounds are unchanged
    for (_ <- 1 to 50) {
      val n = 1 + rng.nextInt(500)
      val scale = 1 + rng.nextInt(1000000)
      val ids = Array.tabulate(n)(i => i.toLong * scale - 500000L)
      val tfs = Array.tabulate(n)(i => (i % 7 + 1).toLong)
      val dls = Array.tabulate(n)(i => (i % 90 + 10).toLong)
      val norms = Array.tabulate(n)(i => tfs(i).toDouble / (tfs(i) + dls(i)))
      val fb = Codec.buildBlocks(ids, tfs, dls, norms, blockSize = 64)
      assert(fb.flatMap(Codec.decodeBlockDocs) == ids.toSeq)
      assert(fb.flatMap(Codec.decodeBlockTfs) == tfs.toSeq)
      assert(fb.flatMap(Codec.decodeBlockDls) == dls.toSeq)
      val fromPostings = ids.indices.grouped(64).map(r =>
        (r.size, r.map(norms(_)).max, ids(r.head), ids(r.last))).toSeq
      assert(fb.map(b => (b.n, b.maxTfNorm, b.firstDoc, b.lastDoc)) == fromPostings)
    }
  }
}
