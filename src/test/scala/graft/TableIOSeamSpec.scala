package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import graft.index.TableIO

/** Hardening for the snapshot/manifest seam (SURVEY §7.5 — the Iceberg
  * stand-in): lineage must survive crash at any phase boundary, concurrent
  * writers, and hostile field content. Pure JVM — no Spark session.
  */
class TableIOSeamSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private def samples[T](gen: Gen[T], n: Int = 200): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def tmp(name: String): String =
    java.nio.file.Paths.get(tempDir("graft-seam")).resolve(name).toString

  private val anyString: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.asciiPrintableChar, 1 -> Gen.oneOf('\n', '\t', '"', '\\'),
    1 -> Arbitrary.arbChar.arbitrary)).map(_.mkString)

  test("manifest round-trips arbitrary field content (quotes, newlines, unicode)") {
    val mapGen = Gen.mapOf(Gen.zip(anyString, anyString))
    val path = tmp("manifest.json")
    samples(mapGen).foreach { m =>
      TableIO.writeManifest(path, m)
      assert(TableIO.readManifest(path).contains(m))
    }
  }

  test("checkpoint log round-trips arbitrary entries in order") {
    val entryGen = Gen.mapOf(Gen.zip(anyString, anyString))
    val path = tmp("cp.jsonl")
    val entries = samples(entryGen, 50)
    entries.foreach(TableIO.appendCheckpoint(path, _))
    assert(TableIO.readCheckpoints(path) == entries)
  }

  test("a torn trailing checkpoint line is skipped, not fatal — resume sees completed buckets only") {
    val path = tmp("cp.jsonl")
    val good = (0 until 5).map(b => Map("bucket" -> b.toString, "config_hash" -> "h"))
    good.foreach(TableIO.appendCheckpoint(path, _))
    // crash mid-append: the 6th entry's line is truncated mid-JSON
    Files.writeString(Paths.get(path), """{"bucket": "5", "config_h""",
      java.nio.file.StandardOpenOption.APPEND)
    val read = TableIO.readCheckpoints(path)
    assert(read == good, "torn line must read as 'bucket 5 did not complete'")
    // the log stays appendable after the torn line: later entries parse
    // (the torn fragment merges into the next line — that merged line is
    // itself skipped as torn, which is the conservative re-run answer)
    TableIO.appendCheckpoint(path, Map("bucket" -> "6"))
    val after = TableIO.readCheckpoints(path)
    assert(after.take(5) == good)
    assert(!after.exists(_.get("bucket").contains("5")),
      "the interrupted bucket must not read as completed")
  }

  test("atomic manifest replace: a reader never observes a torn manifest under concurrent writers") {
    val path = tmp("manifest.json")
    val variants = (0 until 8).map(i =>
      Map("snapshot_id" -> s"snap$i", "n_docs" -> (1000 + i).toString))
    TableIO.writeManifest(path, variants.head)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        var i = 0
        while (!stop.get()) {
          TableIO.writeManifest(path, variants((w * 31 + i) % variants.length))
          i += 1
        }
      })
    }
    val reader = new Thread(() => {
      while (!stop.get()) {
        TableIO.readManifest(path) match {
          case Some(m) if variants.contains(m) => ()
          case other => errs.add(s"torn/unknown manifest: $other")
        }
      }
    })
    (writers :+ reader).foreach(_.start())
    Thread.sleep(500)
    stop.set(true)
    (writers :+ reader).foreach(_.join(5000))
    assert(errs.isEmpty, errs.toString)
    // final state is one complete variant
    assert(TableIO.readManifest(path).exists(variants.contains))
  }

  test("concurrent checkpoint appenders: every completed entry survives") {
    val path = tmp("cp.jsonl")
    val nThreads = 4
    val perThread = 50
    val threads = (0 until nThreads).map { t =>
      new Thread(() => (0 until perThread).foreach { i =>
        TableIO.appendCheckpoint(path,
          Map("bucket" -> s"$t-$i", "rows" -> i.toString))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(10000))
    val read = TableIO.readCheckpoints(path)
    assert(read.length == nThreads * perThread)
    val keys = read.flatMap(_.get("bucket")).toSet
    assert(keys == (for (t <- 0 until nThreads; i <- 0 until perThread)
      yield s"$t-$i").toSet)
  }
}
