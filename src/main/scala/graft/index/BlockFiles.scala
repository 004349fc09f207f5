package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import graft.corpus.{ChunkMeta, ChunkRow}

/** Direct readers of the index's partitioned parquet directories (written
  * by `IndexBuilder`): `blocks/bucket=b/shard=s`, `term_stats/bucket=b` and
  * `chunks/[ubucket=u/]cbucket=c`. They need only a Hadoop configuration
  * and plan no Dataset, so they run inside a task or on the driver with no
  * Spark job.
  */
object BlockFiles {

  /** Parquet read support that materializes only the named top-level
    * columns; partition columns come from the directory names.
    */
  private final class Projection(columns: Set[String]) extends GroupReadSupport {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getFields.asScala.filter(f => columns(f.getName)).asJava))
    }
  }

  /** A reader over an already-listed file that uses the caller's
    * configuration: `ParquetReader.builder(support, path)` first builds a
    * fresh `Configuration`, which parses the default resources on every
    * file (about 6 ms a file, measured on a 4-core host).
    */
  private final class Reader(file: FileStatus, conf: Configuration, columns: Set[String])
      extends ParquetReader.Builder[Group](HadoopInputFile.fromStatus(file, conf)) {
    override protected def getReadSupport: ReadSupport[Group] = new Projection(columns)
  }

  /** Hands every row of every data file in `dirs` to `visit`, read with
    * `filter` (if any) pushed into parquet (row groups whose min/max
    * exclude it are skipped) and only `columns` materialized. An
    * incremental update appends files, so a directory is listed, not
    * named; `_`/`.`-prefixed files are skipped and a missing directory
    * holds no rows. Returns the files opened, with their sizes.
    */
  private def read(conf: Configuration, dirs: Seq[Path], filter: Option[FilterPredicate],
                   columns: Set[String])(visit: Group => Unit): Seq[(String, Long)] = {
    val opened = mutable.ArrayBuffer.empty[(String, Long)]
    val pushed = filter.fold(FilterCompat.NOOP)(FilterCompat.get)
    for (dir <- dirs) {
      val files =
        try dir.getFileSystem(conf).listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      for (f <- files if f.isFile && !f.getPath.getName.matches("[_.].*")) {
        opened += f.getPath.toString -> f.getLen
        val reader = new Reader(f, conf, columns).withFilter(pushed).build()
        try {
          var g = reader.read()
          while (g != null) { visit(g); g = reader.read() }
        } finally reader.close()
      }
    }
    opened.toSeq
  }

  private def termIn(terms: Seq[String]): FilterPredicate =
    FilterApi.in[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava)

  private val BlockColumns =
    Set("term", "blockId", "n", "docs", "tfs", "dls", "maxTfNorm", "firstDoc", "lastDoc")

  /** One doc shard's blocks of `terms`, by term, from each
    * `bucket=b/shard=s` directory of `buckets`. Also returns the files
    * opened, with their sizes.
    */
  private[graft] def readShard(conf: Configuration, blocksRoot: String, shard: Int,
                               buckets: Seq[Int], terms: Seq[String])
      : (Map[String, IndexedSeq[BlockRow]], Seq[(String, Long)]) = {
    val filter = Some(termIn(terms))
    val rows = mutable.ArrayBuffer.empty[BlockRow]
    val opened = buckets.flatMap { bucket =>
      read(conf, Seq(new Path(s"$blocksRoot/bucket=$bucket/shard=$shard")),
        filter, BlockColumns) { g =>
        rows += BlockRow(bucket, shard, g.getString("term", 0),
          g.getInteger("blockId", 0), g.getInteger("n", 0),
          g.getBinary("docs", 0).getBytes, g.getBinary("tfs", 0).getBytes,
          g.getBinary("dls", 0).getBytes, g.getDouble("maxTfNorm", 0),
          g.getLong("firstDoc", 0), g.getLong("lastDoc", 0))
      }
    }
    (rows.groupBy(_.term).map { case (t, rs) => t -> rs.toIndexedSeq }, opened)
  }

  /** (idf, df) of each of `terms` found in `term_stats`, copied from the
    * table: each term's `bucket=b` directory is read with a pushed
    * `term IN (...)` filter. A bucket is written term-sorted, so at scale
    * the filter skips row groups by their min/max. An absent term, or an
    * absent bucket directory, is missing from the result.
    */
  private[graft] def readTermStats(conf: Configuration, termStatsRoot: String,
                                   terms: Seq[String], nTermBuckets: Int)
      : Map[String, (Double, Long)] = {
    val dirs = terms.map(IndexBuilder.termBucket(_, nTermBuckets)).distinct
      .map(b => new Path(s"$termStatsRoot/bucket=$b"))
    val found = mutable.Map.empty[String, (Double, Long)]
    read(conf, dirs, Some(termIn(terms)), Set("term", "df", "idf")) { g =>
      found(g.getString("term", 0)) = (g.getDouble("idf", 0), g.getLong("df", 0))
    }
    found.toMap
  }

  /** A chunk row with its precomputed static bonuses (pattern, meta, gib). */
  type ChunkWithStatics = (ChunkRow, (Double, Double, Double))

  private val ChunkColumns = Set("chunkId", "docId", "source", "page", "chunkIdx", "text",
    "meta", "pattern_b", "meta_b", "gib")

  /** Hands each row of chunk bucket `cbucket` to `visit`: every data file
    * of `chunks/cbucket=c`, or of each `chunks/ubucket=u/cbucket=c` in a
    * url-bucketed index, with only the served columns. `ids = Some(set)`
    * keeps the rows of `set` (a pushed `chunkId IN (...)` filter; an empty
    * set opens no file); `None` visits the whole bucket. Returns the files
    * opened.
    */
  private[graft] def readChunks(conf: Configuration, chunksRoot: String, cbucket: Int,
                                ids: Option[Set[Long]])
                               (visit: ChunkWithStatics => Unit): Seq[(String, Long)] = {
    if (ids.exists(_.isEmpty)) return Nil
    val root = new Path(chunksRoot)
    val ubuckets =
      try root.getFileSystem(conf).listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("ubucket="))
        .map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    val dirs = (if (ubuckets.isEmpty) Seq(root) else ubuckets)
      .map(new Path(_, s"cbucket=$cbucket"))
    val filter = ids.map(set => FilterApi.in[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("chunkId"), set.map(Long.box).asJava): FilterPredicate)
    read(conf, dirs, filter, ChunkColumns) { g =>
      visit((ChunkRow(g.getLong("chunkId", 0), g.getLong("docId", 0), g.getString("source", 0),
        g.getInteger("page", 0), g.getInteger("chunkIdx", 0), g.getString("text", 0),
        chunkMeta(g.getGroup("meta", 0))),
        (g.getDouble("pattern_b", 0), g.getDouble("meta_b", 0), g.getDouble("gib", 0))))
    }
  }

  private def chunkMeta(m: Group): ChunkMeta = {
    def has(f: String) = m.getFieldRepetitionCount(f) > 0
    def str(f: String) = if (has(f)) Some(m.getString(f, 0)) else None
    def int(f: String) = if (has(f)) Some(m.getInteger(f, 0)) else None
    // Spark's three-level list: authors.list[i].element
    val authors =
      if (!has("authors")) Nil
      else {
        val list = m.getGroup("authors", 0)
        (0 until list.getFieldRepetitionCount(0)).map(i => list.getGroup(0, i).getString(0, 0))
      }
    ChunkMeta(str("title"), authors, int("year"), str("doi"), int("startPage"),
      int("endPage"), str("citekey"), str("venue"), str("publisher"), str("oaUrl"))
  }
}
