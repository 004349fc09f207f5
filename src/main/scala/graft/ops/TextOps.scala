package graft.ops

import graft.analysis.Analyzer
import graft.index.IndexBuilder

/** Training-data text operators beyond the reference's own set: simhash
  * fingerprints and hamming near-dup. Pure Scala cores, applied via
  * UDF/mapPartitions.
  */
object TextOps {

  /** 64-bit SimHash over tokens; per-token 64-bit hash = first 8 md5 bytes
    * (portable/deterministic), bit-majority vote.
    */
  def simhash64(tokens: Iterable[String]): Long = {
    val v = new Array[Int](64)
    for (t <- tokens) {
      val h = IndexBuilder.stableId(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (v(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhashOfText(text: String): Long = simhash64(Analyzer.tokenize(text))

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
