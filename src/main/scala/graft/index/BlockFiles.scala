package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType

/** Direct reader of the `blocks` table's on-disk layout (parquet files
  * under `blocks/bucket=b/shard=s`, written by `IndexBuilder`), for code
  * that runs inside a task and plans no Dataset: it needs only a Hadoop
  * configuration.
  */
object BlockFiles {

  /** Parquet read support that materializes only `BlockRow`'s data
    * columns; `bucket` and `shard` come from the directory names.
    */
  private final class BlockReadSupport extends GroupReadSupport {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getFields.asScala.filter(f => BlockColumns(f.getName)).asJava))
    }
  }
  private val BlockColumns =
    Set("term", "blockId", "n", "docs", "tfs", "dls", "maxTfNorm", "firstDoc", "lastDoc")

  /** One doc shard's blocks of `terms`, by term, read from every data file
    * of each `bucket=b/shard=s` directory (an incremental update appends
    * files; `_`/`.`-prefixed ones are skipped) with the term filter pushed
    * into the parquet reader. A missing directory holds no blocks. Also
    * returns the files opened, with their sizes.
    */
  private[graft] def readShard(conf: Configuration, blocksRoot: String, shard: Int,
                               buckets: Seq[Int], terms: Seq[String])
      : (Map[String, IndexedSeq[BlockRow]], Seq[(String, Long)]) = {
    val filter = FilterCompat.get(FilterApi.in[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava))
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[BlockRow]]
    val opened = mutable.ArrayBuffer.empty[(String, Long)]
    for (bucket <- buckets) {
      val dir = new Path(s"$blocksRoot/bucket=$bucket/shard=$shard")
      val files =
        try dir.getFileSystem(conf).listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      for (f <- files if f.isFile && !f.getPath.getName.matches("[_.].*")) {
        opened += f.getPath.toString -> f.getLen
        val reader = ParquetReader.builder(new BlockReadSupport, f.getPath)
          .withConf(conf).withFilter(filter).build()
        try {
          var g = reader.read()
          while (g != null) {
            val r = BlockRow(bucket, shard, g.getString("term", 0),
              g.getInteger("blockId", 0), g.getInteger("n", 0),
              g.getBinary("docs", 0).getBytes, g.getBinary("tfs", 0).getBytes,
              g.getBinary("dls", 0).getBytes, g.getDouble("maxTfNorm", 0),
              g.getLong("firstDoc", 0), g.getLong("lastDoc", 0))
            byTerm.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty[BlockRow]) += r
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    (byTerm.view.mapValues(_.toIndexedSeq).toMap, opened.toSeq)
  }
}
