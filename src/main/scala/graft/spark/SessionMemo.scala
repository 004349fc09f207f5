package graft.spark

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The engine's one memo: a string-keyed slot map per SparkSession. Each
  * caller keeps its state under its own key prefix (`df:`/`view:` for
  * parquet handles and temp views, `bm25` for the BM25 catalog views,
  * `docindex:` for the catalog's doc index, `ann:` for ANN preselectors
  * and `hadoopConf` for the broadcast Hadoop configuration),
  * so a new session builds its own state instead of being served another
  * session's.
  *
  * Lifetime: an entry lives until its session's SparkContext stops. Every
  * access first drops the sessions whose context has stopped, so a
  * stopped session is released at the next touch of the registry. A
  * dropped value that is `AutoCloseable` is closed then; its `close` must
  * not call into the stopped SparkContext. A JVM shutdown hook closes
  * every value still held, so a JVM that exits without stopping its
  * sessions deletes their temp index directories too.
  *
  * A builder that may itself use the registry must not run inside
  * `computeIfAbsent`/`compute` on the returned map (ConcurrentHashMap
  * throws "Recursive update"): use [[getOrPut]].
  */
object SessionMemo {
  private val bySession = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, AnyRef]]()
  sys.addShutdownHook(bySession.values.forEach(closeAll))

  /** Closes the map's `AutoCloseable` values; a failed close (say, a temp
    * dir already gone) must not fail the caller.
    */
  private def closeAll(memo: ConcurrentHashMap[String, AnyRef]): Unit = memo.values.forEach {
    case c: AutoCloseable => scala.util.Try(c.close())
    case _ =>
  }

  def apply(spark: SparkSession): ConcurrentHashMap[String, AnyRef] = {
    bySession.keySet.forEach { s =>
      if (s.sparkContext.isStopped) Option(bySession.remove(s)).foreach(closeAll)
    }
    bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, AnyRef]())
  }

  /** The value under `key`, built by `mk` on a miss (get-then-put: two
    * racing misses both build, and the later put wins).
    */
  def getOrPut[T <: AnyRef](spark: SparkSession, key: String)(mk: => T): T = {
    val m = apply(spark)
    m.get(key) match {
      case null => val v = mk; m.put(key, v); v
      case v => v.asInstanceOf[T]
    }
  }

  /** The session's Hadoop configuration, broadcast once. Task-side
    * readers (`BlockFiles` in the WAND and chunk-fetch tasks) take it from
    * here instead of broadcasting it per call.
    */
  def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    getOrPut(spark, "hadoopConf") {
      val sc = spark.sparkContext
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    }

  /** Whether the registry still holds `spark` (the lifetime spec's probe). */
  private[graft] def holds(spark: SparkSession): Boolean = bySession.containsKey(spark)
}
