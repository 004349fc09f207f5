package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.{AnnPreselector, BruteForceAnn, EmbeddingProvider, IvfAnn, SparkAnnLsh}

/** Corpus embedding table with a CHANGE-PROPORTIONAL freshness story —
  * the engine-side analog of the reference's FAISS cache invalidation by
  * manifest hash (semantic_index.py:25-71), re-expressed at the partition
  * grain the 10^12-chunk layout demands:
  *
  *  - rows are (chunkId, h, embedding) where `h` is the chunk's content
  *    signature (IndexBuilder.sigCol — the SAME hash the chunk_sigs side
  *    table records), partitioned by `ubucket` exactly like the chunk
  *    table;
  *  - staleness is detected per SNAPSHOT (manifest `emb_snapshot` vs the
  *    index `snapshot_id`) — an O(1) check on the serving path;
  *  - a stale table is refreshed by DIFFING the 16 B/chunk sig table
  *    against the stored (chunkId, h) pairs — never by re-reading corpus
  *    text — and only the url-bucket partitions containing changed, new,
  *    or removed chunks are re-embedded and rewritten (dynamic-partition
  *    overwrite, emptied partitions deleted explicitly);
  *  - [[annFor]] is the staleness-checked constructor the serving path
  *    uses: refresh-if-stale, then an ANN preselector over the table.
  */
object EmbeddingTable {

  def dir(out: IndexPaths): String = s"${out.root}/embeddings"

  private def indexSnapshot(out: IndexPaths): Option[String] =
    TableIO.readManifest(out.manifest).flatMap(_.get("snapshot_id"))

  private def stamp(out: IndexPaths): Unit = {
    val m = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    m.get("snapshot_id").foreach(s =>
      TableIO.writeManifest(out.manifest, m + ("emb_snapshot" -> s)))
  }

  /** O(1) serving-path staleness check: table exists and was stamped with
    * the CURRENT index snapshot.
    */
  def isFresh(spark: SparkSession, out: IndexPaths): Boolean = {
    val m = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    m.get("emb_snapshot").exists(m.get("snapshot_id").contains(_)) && {
      val p = new org.apache.hadoop.fs.Path(dir(out))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
  }

  /** (chunkId, h, ubucket, embedding) for the given chunk-table slice.
    * Chunks the provider cannot embed keep a ROW with a null embedding —
    * dropping them would leave their (chunkId, h) permanently absent, and
    * every later refresh would re-flag them as changed and rewrite their
    * whole partitions (change-proportional would silently decay toward
    * corpus-proportional). ANN consumers filter the nulls out.
    */
  private def embedFrame(spark: SparkSession, chunksDF: DataFrame,
                         provider: EmbeddingProvider): DataFrame = {
    import spark.implicits._
    val hasU = chunksDF.columns.contains("ubucket")
    chunksDF
      .select(col("chunkId"), IndexBuilder.sigCol.as("h"),
        (if (hasU) col("ubucket").cast("int") else lit(0)).as("ubucket"),
        col("text"))
      .as[(Long, Long, Int, String)]
      .mapPartitions(_.map { case (id, h, u, text) =>
        (id, h, u, provider.embed(text).map(_.toSeq))
      })
      .toDF("chunkId", "h", "ubucket", "embedding")
  }

  private def writePartitions(df: DataFrame, out: IndexPaths,
                              dynamic: Boolean): Unit = {
    val w = df.repartition(col("ubucket")).write.mode(SaveMode.Overwrite)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("ubucket").parquet(dir(out))
  }

  /** Full (re)build of the embedding table from the chunk table. */
  def build(spark: SparkSession, out: IndexPaths,
            provider: EmbeddingProvider): Unit = {
    val chunks = spark.read.parquet(out.chunks)
    writePartitions(embedFrame(spark, chunks, provider), out, dynamic = false)
    stamp(out)
  }

  /** Change-proportional refresh; falls back to a full rebuild when the
    * table is absent or the layout lacks the partition/sig machinery.
    * No-op when already fresh.
    */
  def refresh(spark: SparkSession, out: IndexPaths,
              provider: EmbeddingProvider): Unit = {
    import spark.implicits._
    if (isFresh(spark, out)) return
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).exists(p)
    }
    val chunks = spark.read.parquet(out.chunks)
    val partial = exists(dir(out)) && exists(out.chunkSigs) &&
      chunks.columns.contains("ubucket")
    if (!partial) { build(spark, out, provider); return }

    // the diff reads 16 B/chunk signatures on both sides — never text
    val sigs = spark.read.parquet(out.chunkSigs)
      .select(col("chunkId"), col("h"), col("ubucket").cast("int").as("ubucket"))
    val emb = spark.read.parquet(dir(out))
    val changedOrNew = sigs
      .join(emb.select("chunkId", "h"), Seq("chunkId", "h"), "left_anti")
      .select(col("ubucket"))
    val removed = emb
      .join(sigs.select("chunkId"), Seq("chunkId"), "left_anti")
      .select(col("ubucket").cast("int").as("ubucket"))
    val affected = changedOrNew.union(removed).distinct().as[Int].collect().toSeq
    if (affected.isEmpty) { stamp(out); return }

    // re-embed ONLY the affected ubucket partitions' chunks (pruned scan);
    // pre-delete so a partition emptied of chunks doesn't survive as a
    // stale directory under dynamic overwrite
    val newPart = embedFrame(spark,
      chunks.filter(col("ubucket").isin(affected: _*)), provider)
      .localCheckpoint(true)
    for (u <- affected) {
      val d = new org.apache.hadoop.fs.Path(s"${dir(out)}/ubucket=$u")
      val fs = d.getFileSystem(conf)
      if (fs.exists(d)) fs.delete(d, true)
    }
    writePartitions(newPart, out, dynamic = true)
    stamp(out)
  }

  def codebookDir(out: IndexPaths): String = s"${out.root}/ivf_centroids"

  /** IVF coarse-quantizer codebook for the table — fitted ONCE (seeded
    * spherical k-means, [[graft.query.Ivf.fit]]) and persisted under the
    * index root, then reused across snapshots: a coarse quantizer's
    * quality degrades only with distribution drift, not with individual
    * row churn, and cell ASSIGNMENTS are recomputed per snapshot by the
    * serving preselector anyway (FAISS retrains its IVF index on the same
    * offline cadence). Delete the directory (or call with refit=true) to
    * force a refit after bulk drift.
    */
  private def codebook(spark: SparkSession, out: IndexPaths, k: Int,
                       refit: Boolean): DataFrame = {
    val cbDir = codebookDir(out)
    val p = new org.apache.hadoop.fs.Path(cbDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (refit || !fs.exists(p)) {
      val emb = spark.read.parquet(dir(out))
        .filter(col("embedding").isNotNull)
        .select(col("chunkId").as("vec_id"), col("embedding"))
      val n = emb.count()
      require(n > 0, "cannot fit an IVF codebook over an empty embedding table")
      // never more cells than vectors; k-means++ would only mint duplicates
      val kEff = math.max(1, math.min(k, n).toInt)
      graft.query.Ivf.fit(spark, emb, kEff)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(cbDir)
    }
    spark.read.parquet(cbDir)
  }

  def cellsDir(out: IndexPaths): String = s"${out.root}/ivf_lists"

  /** Cheap identity fingerprint of the persisted codebook (file names,
    * sizes, mtimes) — a refit rewrites the parquet files, so a changed
    * stamp means every cell assignment is suspect and the cells table is
    * rebuilt wholesale; snapshot churn alone leaves it untouched.
    */
  private def codebookFingerprint(spark: SparkSession, out: IndexPaths): String = {
    val p = new org.apache.hadoop.fs.Path(codebookDir(out))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "" else
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
  }

  private def loadCodebook(spark: SparkSession, out: IndexPaths)
      : Array[(Int, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(codebookDir(out))
      .select("cid", "embedding").as[(Int, Seq[Float])].collect()
      .map { case (cid, e) => (cid, e.toArray) }.sortBy(_._1)
  }

  /** Change-proportional maintenance of the PERSISTED inverted-lists
    * table — (chunkId, h, embedding) PARTITIONED BY `cell`, the FAISS
    * inverted-file layout expressed as parquet partitioning. Serving
    * reads exactly its `nprobe` cell partitions (no join, no corpus
    * scan, no serving-time assignment pass); at 10^12 vectors the probe
    * read is nprobe/k of the index, which is the whole point of IVF.
    *
    * The refresh diffs the 16 B/chunk (chunkId, h) sig pairs against the
    * embedding table — never vectors, never text. Affected units are
    * CELLS: a changed chunk dirties the cell its old vector lived in and
    * the cell its new vector lands in; both partitions are rebuilt from
    * (still-valid old members — a partition-PRUNED read — union the
    * re-assigned new rows, whose vectors are fetched via ubucket pruning
    * on the embedding table). A codebook REFIT invalidates every
    * assignment and rebuilds the table wholesale; its stamp lives INSIDE
    * the lists dir (table and stamp live and die together — index
    * rebuilds rewrite the main manifest with a fresh map, and losing a
    * manifest key must only ever cost the cheap diff, never a wholesale
    * reassignment). Assignment arithmetic is
    * [[graft.query.Ann.assignCell]] — the same function the serving-time
    * fallback pass uses, so persisted and on-the-fly cells cannot drift.
    */
  def refreshCells(spark: SparkSession, out: IndexPaths): Unit = {
    import spark.implicits._
    val fp = codebookFingerprint(spark, out)
    require(fp.nonEmpty, "refreshCells needs a fitted codebook")
    val m = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    val embSnap = m.getOrElse("emb_snapshot", "")
    val conf = spark.sparkContext.hadoopConfiguration
    val cdir = new org.apache.hadoop.fs.Path(cellsDir(out))
    val fs = cdir.getFileSystem(conf)
    val metaPath = s"${cellsDir(out)}/_meta.json"
    val storedFp = TableIO.readManifest(metaPath)
      .flatMap(_.get("codebook_fp")).getOrElse("")
    val fresh = fs.exists(cdir) && storedFp == fp &&
      m.get("cells_snapshot").contains(embSnap)
    if (fresh) return

    val cents = loadCodebook(spark, out)
    val bc = spark.sparkContext.broadcast(cents)
    val cellUdf = udf((e: Seq[Float]) => graft.query.Ann.assignCell(bc.value, e))
    def assignFrame(embSlice: DataFrame): DataFrame = embSlice
      .filter(col("embedding").isNotNull)
      .select(col("chunkId"), col("h"), col("embedding"),
        cellUdf(col("embedding")).as("cell"))
    // keep the clustered write parallel without unbounded small files:
    // one dir per cell, at most `salt` writers (and files) per dir
    val shufP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    def writeLists(df: DataFrame, dynamic: Boolean): Unit =
      TableIO.saltedPartitionWrite(df, Seq("cell"), cents.length,
        col("chunkId"), shufP, cellsDir(out), dynamic)

    val emb = spark.read.parquet(dir(out))
    val fullRebuild = !fs.exists(cdir) || storedFp != fp
    if (fullRebuild) {
      writeLists(assignFrame(emb), dynamic = false)
    } else {
      // sig-pair diff, both sides narrow column-pruned scans. Null-
      // embedding rows (kept in the embedding table by design) never
      // enter the lists, so they must not enter the diff either — else
      // every refresh re-flags them as "new" and the change-proportional
      // path decays toward corpus-proportional (the exact failure
      // embedFrame's doc comment warns about).
      val lists = spark.read.parquet(cellsDir(out))
      val embPairs = emb.filter(col("embedding").isNotNull)
        .select(col("chunkId"), col("h"),
          col("ubucket").cast("int").as("ubucket"))
      // new/changed pairs: re-assign — vector fetch pruned to their ubuckets
      val newPairs = embPairs
        .join(lists.select("chunkId", "h"), Seq("chunkId", "h"), "left_anti")
        .localCheckpoint(true)
      val newU = newPairs.select(col("ubucket")).distinct().as[Int].collect().toSeq
      val newRows = if (newU.isEmpty) null else assignFrame(
        emb.filter(col("ubucket").isin(newU: _*))
          .join(newPairs.select("chunkId", "h"), Seq("chunkId", "h"), "left_semi"))
        .localCheckpoint(true)
      // stale rows dirty the cell their old vector lives in
      val staleCells = lists
        .join(embPairs.select("chunkId", "h"), Seq("chunkId", "h"), "left_anti")
        .select(col("cell").cast("int").as("cell"))
      val newCells = if (newRows == null) staleCells.limit(0)
        else newRows.select(col("cell"))
      val affected = staleCells.union(newCells).distinct().as[Int].collect().toSeq
      if (affected.nonEmpty) {
        // rebuild affected cells: still-valid old members (partition-pruned
        // read) + the re-assigned new rows
        val kept = lists.filter(col("cell").isin(affected: _*))
          .join(embPairs.select("chunkId", "h"), Seq("chunkId", "h"), "left_semi")
          .select(col("chunkId"), col("h"), col("embedding"),
            col("cell").cast("int").as("cell"))
        val rebuilt = (if (newRows == null) kept else kept.union(newRows))
          .localCheckpoint(true)
        for (c <- affected) {
          val d = new org.apache.hadoop.fs.Path(s"${cellsDir(out)}/cell=$c")
          if (fs.exists(d)) fs.delete(d, true)
        }
        writeLists(rebuilt, dynamic = true)
      }
    }
    bc.destroy()
    TableIO.writeManifest(metaPath, Map("codebook_fp" -> fp))
    val m2 = TableIO.readManifest(out.manifest).getOrElse(Map.empty)
    TableIO.writeManifest(out.manifest, m2 + ("cells_snapshot" -> embSnap))
  }

  /** Staleness-checked ANN preselector over the (refreshed) table —
    * memoized per index snapshot, so repeated serving calls reuse one
    * cached instance instead of stacking persisted frames. `kind` selects
    * the preselect family: "brute" (exact, the baseline), "lsh"
    * (hyperplane-bucketed), or "ivf" (cell-pruned over the persisted
    * codebook — the 10^12-vector scale path).
    *
    * `ivfK` is a FIT-TIME parameter: once a codebook exists it wins, and
    * a different requested k does not refit (serving geometry — cell
    * count, probe fractions — always reflects the PERSISTED codebook,
    * which [[IvfAnn]] reads as rows; pass `refitIvf = true` to re-train
    * at the new k). The memo key carries only the parameters the chosen
    * kind consumes, plus — for ivf — the codebook fingerprint, so a
    * refit can never serve a memoized preselector holding the old
    * centroids or a file index over the overwritten lists.
    */
  def annFor(spark: SparkSession, out: IndexPaths, provider: EmbeddingProvider,
             kind: String = "brute", nPlanes: Int = 16, probes: Int = 16,
             ivfK: Int = 16, nprobe: Int = 2, refitIvf: Boolean = false)
      : AnnPreselector = {
    require(Set("brute", "lsh", "ivf")(kind), s"unknown ANN kind: $kind")
    refresh(spark, out, provider)
    val snap = indexSnapshot(out).getOrElse("")
    def emb = spark.read.parquet(dir(out))
      .filter(col("embedding").isNotNull)
      .select(col("chunkId").as("chunk_id"), col("embedding"))
    // one preselector per (session, index root, kind, snapshot) in the
    // session's memo: the Ann constructors persist their frame, so a fresh
    // instance per call would leak cached blocks on a long-running driver;
    // a snapshot change replaces the entry (the context cleaner reclaims
    // the old cache once unreferenced)
    def memoized(kindKey: String)(mk: => AnnPreselector): AnnPreselector = {
      val memo = graft.spark.SessionMemo(spark)
      val key = s"ann:${out.root}/$kindKey"
      memo.get(key) match {
        case (`snap`, a: AnnPreselector) => a
        case _ => val a = mk; memo.put(key, (snap, a)); a
      }
    }
    kind match {
      case "lsh" =>
        memoized(s"lsh/$nPlanes/$probes") {
          new SparkAnnLsh(spark, emb, provider, nPlanes, probes)
        }
      case "ivf" =>
        val cb = codebook(spark, out, ivfK, refitIvf)
        val fp = codebookFingerprint(spark, out)
        memoized(s"ivf/$nprobe/$fp") {
          // serve from the persisted, change-proportionally maintained
          // inverted lists: each query's cell filter is a PARTITION
          // filter on this scan — nprobe/k of the index read, nothing else
          refreshCells(spark, out)
          val pre = spark.read.parquet(cellsDir(out))
            .select(col("chunkId").as("chunk_id"), col("embedding"),
              col("cell").cast("int").as("cell"))
          new IvfAnn(spark, emb, cb, provider, nprobe, Some(pre))
        }
      case _ =>
        memoized("brute") { new BruteForceAnn(spark, emb, provider) }
    }
  }
}
