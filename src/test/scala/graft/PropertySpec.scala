package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import graft.config.GraftConfig
import graft.index.Codec

/** Property-based robustness for the pure kernels: the YAML loader's
  * never-crash contract, codec roundtrips, minhash shape/determinism,
  * citekey invariants.
  * (Plain scalacheck generators sampled with fixed seeds — the
  * scalatestplus bridge isn't in the offline artifact cache.)
  */
class PropertySpec extends AnyFunSuite {

  private def samples[T](gen: Gen[T], n: Int = 300): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("parseYaml never throws, whatever the input") {
    // loadFull auto-loads ./config.yaml — an exotic file must never crash
    // the CLI (the reference's own config.yaml once did, pre-round-3)
    val anyText = Gen.listOf(Gen.frequency(
      8 -> Gen.asciiPrintableChar, 1 -> Gen.oneOf('\n', '\t'),
      1 -> Arbitrary.arbChar.arbitrary)).map(_.mkString)
    samples(anyText, 500).foreach { s => GraftConfig.parseYaml(s); () }
    // targeted hostile shapes on top of the random sweep
    for (s <- Seq(":", "a:\n  - [", "x: [1, 'a,b', [2]]", "- solo", "  #",
                  "k: \"#not a comment\" # real", "a:\n\tb: 1", "[:")) {
      GraftConfig.parseYaml(s)
    }
  }

  test("delta roundtrip on sorted ids; plain roundtrip on counts") {
    val sortedIds = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1L << 40))
      .map(_.distinct.sorted.toArray)
    samples(sortedIds).foreach { ids =>
      val enc = Codec.encode(ids, deltas = true)
      assert(Codec.decode(enc, ids.length, deltas = true).toSeq == ids.toSeq)
    }
    val counts = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1L << 20)).map(_.toArray)
    samples(counts).foreach { vs =>
      val enc = Codec.encode(vs, deltas = false)
      assert(Codec.decode(enc, vs.length, deltas = false).toSeq == vs.toSeq)
    }
  }

  test("block build/decode preserves postings and block-max metadata") {
    val gen = for {
      n <- Gen.chooseNum(1, 400)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 1L << 32)).map(_.distinct.sorted)
      tfs <- Gen.listOfN(ids.length, Gen.chooseNum(1L, 500L))
      dls <- Gen.listOfN(ids.length, Gen.chooseNum(1L, 5000L))
    } yield (ids.toArray, tfs.toArray, dls.toArray)
    samples(gen, 150).foreach { case (ids, tfs, dls) =>
      val norms = tfs.map(_.toDouble)
      val blocks = Codec.buildBlocks(ids, tfs, dls, norms, blockSize = 64)
      assert(blocks.flatMap(Codec.decodeBlockDocs).toSeq == ids.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockTfs).toSeq == tfs.toSeq)
      assert(blocks.flatMap(Codec.decodeBlockDls).toSeq == dls.toSeq)
      blocks.foreach { b =>
        val d = Codec.decodeBlockDocs(b)
        assert(b.firstDoc == d.head && b.lastDoc == d.last)
      }
      // block-max metadata: every block's max equals the max of its norms
      var off = 0
      blocks.foreach { b =>
        val mx = norms.slice(off, off + b.n).max
        assert(math.abs(b.maxTfNorm - mx) < 1e-12)
        off += b.n
      }
    }
  }

  test("minhash: 64-perm signatures, deterministic, permutation-bounded") {
    val hs = Gen.nonEmptyListOf(Gen.chooseNum(0L, (1L << 31) - 1)).map(_.toArray)
    samples(hs).foreach { h =>
      val sig = graft.ops.Minhash.signature(h)
      assert(sig.length == 64)
      assert(sig.toSeq == graft.ops.Minhash.signature(h).toSeq) // deterministic
      assert(sig.forall(v => v >= 0 && v < (1L << 31)))
      assert(graft.ops.Minhash.bands(sig).length == 16)
    }
  }

  test("citekeys: fallback shape + collision-suffix injectivity") {
    val name = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    samples(name).foreach { n =>
      val k = graft.corpus.Biblio.fallbackCitekey(n + ".pdf")
      assert(k.length <= 15 && k == k.toLowerCase)
    }
    val sources = Gen.nonEmptyListOf(name)
      .map(_.distinct.map(s => (s, None: Option[String])))
    samples(sources, 150).foreach { srcs =>
      val keys = graft.corpus.Biblio.assignCitekeys(srcs).values.toSeq
      assert(keys.distinct.length == keys.length, s"collision in $keys")
    }
  }
}
