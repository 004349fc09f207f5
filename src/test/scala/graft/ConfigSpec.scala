package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.config.{GraftConfig, Subprocess}
import graft.corpus.{ChunkMeta, ChunkRow, ChunkerConfig, ChunkerJob, Confidence, PageDoc,
  ResultRow, SourceRef, WebPages}
import graft.index.IndexPaths
import graft.query.{PipelineConfig, SearchOutput}

/** Config precedence (defaults -> yaml -> env -> cli, reference
  * config.py:273-289), the engine config adapters the CLI applies, and the
  * JSON subprocess protocol (subprocess_interface.py:82-300): request
  * types, validation, envelopes.
  */
class ConfigSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  test("defaults map to the reference PipelineConfig defaults") {
    assert(GraftConfig.toPipelineConfig(GraftConfig.defaults) == PipelineConfig())
  }

  test("default indexing settings map to the default ChunkerConfig") {
    // default-config indexes keep their chunker hash and resume checkpoints
    assert(GraftConfig.toChunkerConfig(GraftConfig.defaults) == ChunkerConfig())
  }

  test("every CLI flag and env var sets a leaf of the default tree") {
    for ((name, path) <- GraftConfig.CliMappings.toSeq ++ GraftConfig.EnvMappings) {
      GraftConfig.getPath(GraftConfig.defaults, path) match {
        case null | _: Map[_, _] => fail(s"$name sets ${path.mkString(".")}, not a default leaf")
        case _ => ()
      }
    }
  }

  test("yaml parse: nesting, scalars, comments, quotes") {
    val cfg = GraftConfig.parseYaml(
      """# comment
        |bm25:
        |  k1: 1.8
        |  b: 0.6
        |prf:
        |  enabled: true
        |  fb_docs: 4
        |paths:
        |  cache_dir: "/x/y z"
        |""".stripMargin)
    assert(cfg("bm25").asInstanceOf[GraftConfig.Tree]("k1") == 1.8)
    assert(cfg("prf").asInstanceOf[GraftConfig.Tree]("enabled") == true)
    assert(cfg("prf").asInstanceOf[GraftConfig.Tree]("fb_docs") == 4L)
    assert(cfg("paths").asInstanceOf[GraftConfig.Tree]("cache_dir") == "/x/y z")
  }

  test("yaml parse: inline lists w/ continuation, dash lists, quoted '#'") {
    // exactly the shapes in the reference's shipped config.yaml
    // (bonuses.patterns spans lines) — these must load, never crash
    val cfg = GraftConfig.parseYaml(
      """bonuses:
        |  patterns:
        |    enabled: true
        |    patterns: [" is a ", " we define ", # trailing comment
        |               " method ", " methodology "]
        |    weight_per_hit: 0.05
        |tags:
        |  - alpha
        |  - beta
        |note: "keep # this"
        |weird_line_without_colon
        |k: 3
        |""".stripMargin)
    val pats = cfg("bonuses").asInstanceOf[GraftConfig.Tree]("patterns")
      .asInstanceOf[GraftConfig.Tree]
    assert(pats("enabled") == true)
    assert(pats("patterns") == Seq(" is a ", " we define ", " method ", " methodology "))
    assert(pats("weight_per_hit") == 0.05)
    assert(cfg("tags") == Seq("alpha", "beta"))
    assert(cfg("note") == "keep # this")
    assert(cfg("k") == 3L)
    // the reference repo's own config.yaml parses end-to-end
    val ref = new java.io.File("/root/reference/config.yaml")
    if (ref.isFile) {
      val t = GraftConfig.loadFile(ref.getPath)
      assert(t.contains("bonuses"))
      val refPats = GraftConfig.getPath(t, Seq("bonuses", "patterns", "patterns"))
      assert(refPats.isInstanceOf[Seq[_]] &&
        refPats.asInstanceOf[Seq[_]].contains(" is a "))
    }
  }

  test("yaml parse: nested inline lists recurse") {
    val cfg = GraftConfig.parseYaml("x: [1, [2, 3], [\"a\", b], 4]\n")
    assert(cfg("x") == Seq(1L, Seq(2L, 3L), Seq("a", "b"), 4L))
  }

  test("precedence: defaults < yaml < env < cli") {
    val dir = java.nio.file.Paths.get(tempDir("graft-cfg"))
    val yaml = dir.resolve("config.yaml")
    java.nio.file.Files.writeString(yaml,
      """bm25:
        |  k1: 1.6
        |prf:
        |  fb_docs: 3
        |rerank:
        |  final_top_k: 5
        |""".stripMargin)
    // yaml beats defaults
    val c1 = GraftConfig.loadFull(Some(yaml.toString), env = Map.empty)
    assert(GraftConfig.dbl(c1, "bm25", "k1") == 1.6)
    assert(GraftConfig.long(c1, "prf", "fb_docs") == 3)
    assert(GraftConfig.dbl(c1, "bm25", "b") == 0.75) // untouched default
    // env beats yaml (with type conversion)
    val c2 = GraftConfig.loadFull(Some(yaml.toString),
      env = Map("GRAFT_BM25_K1" -> "1.9", "GRAFT_PRF_ENABLED" -> "yes"))
    assert(GraftConfig.dbl(c2, "bm25", "k1") == 1.9)
    assert(GraftConfig.bool(c2, "prf", "enabled"))
    // cli beats env
    val c3 = GraftConfig.loadFull(Some(yaml.toString),
      env = Map("GRAFT_RERANK_FINAL_TOP_K" -> "7"),
      cli = Map("k" -> "9", "no-diversity" -> "", "prox-lambda" -> "0.5"))
    assert(GraftConfig.long(c3, "rerank", "final_top_k") == 9)
    assert(!GraftConfig.bool(c3, "diversity", "enabled")) // inverted flag
    assert(GraftConfig.dbl(c3, "bonuses", "proximity", "weight") == 0.5)
  }

  test("parseCliArgs splits --flags from positionals") {
    val (over, rest) = GraftConfig.parseCliArgs(
      Seq("query", "/idx", "--k", "3", "--rm3", "some", "query", "--config", "/c.yaml"))
    assert(rest == Seq("query", "/idx", "some", "query"))
    assert(over("k") == "3" && over("rm3") == "" && over("config") == "/c.yaml")
  }

  test("GraftCli build chunks with the config file's indexing settings (child JVM)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val yaml = java.nio.file.Paths.get(tempDir("graft-cfg-cli"), "config.yaml")
    java.nio.file.Files.writeString(yaml, "indexing:\n  page_split: none\n")
    val ix = tempDir("graft-cfg-cli-index")
    SparkTestSession.runChild("graft.GraftCli",
      Seq("build", ix, "40", "7", "--config", yaml.toString), Map("SPARK_GRAFT_CPUS" -> "2"))
    val pages = WebPages.generate(spark, 40, 7).map(p => PageDoc(p.url, 1, p.text, None))
    def rows(df: DataFrame) =
      df.select("chunkId", "source", "page", "chunkIdx", "text").collect().toSet
    val expected = rows(ChunkerJob.chunk(pages,
      GraftConfig.toChunkerConfig(GraftConfig.loadFull(Some(yaml.toString)))).toDF())
    assert(expected != rows(ChunkerJob.chunk(pages, ChunkerConfig()).toDF()),
      "setup: page_split none must change the chunks")
    assert(rows(spark.read.parquet(IndexPaths(ix).chunks)) == expected)
  }

  // ------------------------------------------------------------ subprocess
  private val fakeOutput = SearchOutput(
    results = List(ResultRow("some text", "[@key1, p. 2]",
      SourceRef("a.pdf", 2, Some("10.1/x"), Some("T"), Some("key1")),
      Some("[@key1, p. 2]"), Some(1.25))),
    confidence = Confidence("high", 0.9, 0.8, 1.0),
    pool = Vector(1L), runs = List(List(1L)), fused = List(1L),
    selected = List(1L), rm3Expanded = None)

  private def deps(collections: Seq[String] = Seq("c1", "c2")) = Subprocess.Deps(
    runQuery = (_, _) => fakeOutput,
    listCollections = _ => collections)

  private val M = new com.fasterxml.jackson.databind.ObjectMapper()

  test("subprocess: query request envelope") {
    val (resp, code) = Subprocess.handle("""{"query": "hello world"}""", deps())
    assert(code == 0)
    val n = M.readTree(resp)
    assert(n.get("success").asBoolean())
    assert(n.get("query").asText() == "hello world")
    assert(n.get("count").asInt() == 1)
    assert(n.get("error").isNull && n.get("summary").isNull)
    val r = n.get("results").get(0)
    assert(r.get("citation").asText() == "[@key1, p. 2]")
    assert(r.get("source").get("file").asText() == "a.pdf")
    assert(r.get("score").asDouble() == 1.25)
    assert(n.get("confidence").get("level").asText() == "high")
  }

  test("subprocess batch mode: per-query envelopes, isolated failures, config merge") {
    // a 3-query batch: plain string, object with per-query config, and a
    // malformed entry -> reference envelope per query + totals
    var seenTopK = List.empty[Long]
    val d = Subprocess.Deps(
      runQuery = (q, cfg) => {
        seenTopK :+= GraftConfig.long(cfg, "rerank", "final_top_k")
        if (q == "boom") throw new RuntimeException("engine exploded")
        fakeOutput
      },
      listCollections = _ => Nil)
    val batch =
      """{"queries": [
        |  "plain query",
        |  {"query": "tuned query", "config": {"rerank": {"final_top_k": 3}}},
        |  42,
        |  "boom"
        |]}""".stripMargin
    val Right(out) = Subprocess.handleBatch(batch, d,
      GraftConfig.defaults): @unchecked
    val n = M.readTree(out)
    assert(n.get("total_queries").asInt() == 4)
    assert(n.get("successful_queries").asInt() == 2)
    val rs = n.get("batch_results")
    assert(rs.size() == 4)
    assert(rs.get(0).get("success").asBoolean() &&
      rs.get(0).get("query").asText() == "plain query" &&
      rs.get(0).get("count").asInt() == 1 && rs.get(0).get("error").isNull)
    assert(rs.get(1).get("success").asBoolean() &&
      rs.get(1).get("query").asText() == "tuned query")
    assert(!rs.get(2).get("success").asBoolean() &&
      rs.get(2).get("error").asText() == "Invalid query format" &&
      rs.get(2).get("query").asText() == "42")
    assert(!rs.get(3).get("success").asBoolean() &&
      rs.get(3).get("error").asText() == "engine exploded" &&
      rs.get(3).get("count").asInt() == 0)
    // per-query config merged over the base (default final_top_k is 8)
    assert(seenTopK == List(
      GraftConfig.long(GraftConfig.defaults, "rerank", "final_top_k"), 3L,
      GraftConfig.long(GraftConfig.defaults, "rerank", "final_top_k")))

    // structural errors -> Left (reference: stderr + exit 1)
    assert(Subprocess.handleBatch("""{"nope": 1}""", d, GraftConfig.defaults)
      == Left("Batch file must contain a 'queries' array"))
    assert(Subprocess.handleBatch("""{"queries": "x"}""", d, GraftConfig.defaults)
      == Left("'queries' must be an array"))
    assert(Subprocess.handleBatch("""not json""", d, GraftConfig.defaults).isLeft)
  }

  test("subprocess config is env-insensitive (reference process_config)") {
    // GRAFT_* env overrides apply on the CLI path only; the subprocess
    // builds defaults -> file -> inline config (subprocess_interface.py:136)
    val (resp, code) = Subprocess.handle(
      """{"type": "config", "config": {"bm25": {"b": 0.9}}}""", deps())
    assert(code == 0)
    val cfg = M.readTree(resp).get("config")
    assert(cfg.get("bm25").get("b").asDouble() == 0.9)
    // inline wins; defaults fill the rest
    assert(cfg.get("bm25").get("k1").asDouble() ==
      GraftConfig.defaults("bm25").asInstanceOf[GraftConfig.Tree]("k1"))
  }

  test("subprocess: validation errors use the error envelope, exit 1") {
    for ((in, msg) <- Seq(
      ("""[1,2]""", "Input must be a JSON object"),
      ("""{}""", "Missing required field 'query'"),
      ("""{"query": "  "}""", "Field 'query' must be a non-empty string"),
      ("""{"query": "x", "config": 5}""", "Field 'config' must be an object if provided"),
      ("""{"query": "x", "config": {"rerank": {"final_top_k": 0}}}""",
        "config.rerank.final_top_k must be a positive integer"),
      ("""{"type": "summary", "query": "x"}""",
        "Missing or invalid 'chunks' field for summary request"),
      ("""not json at all""", null))) {
      val (resp, code) = Subprocess.handle(in, deps())
      assert(code == 1, in)
      val n = M.readTree(resp)
      assert(!n.get("success").asBoolean(), in)
      assert(n.get("count").asInt() == 0 && n.get("results").size() == 0, in)
      if (msg != null) assert(n.get("error").asText() == msg, in)
      else assert(n.get("error").asText().startsWith("Invalid JSON input"), in)
    }
  }

  test("subprocess: collections request") {
    val (resp, code) = Subprocess.handle("""{"type": "collections"}""", deps())
    assert(code == 0)
    val n = M.readTree(resp)
    assert(n.get("success").asBoolean())
    assert(n.get("collections").size() == 2)
    assert(n.get("collections").get(0).asText() == "c1")
  }

  test("subprocess: config request echoes the resolved config with overrides") {
    val (resp, code) = Subprocess.handle(
      """{"type": "config", "config": {"bm25": {"k1": 2.5}}}""", deps())
    assert(code == 0)
    val n = M.readTree(resp)
    assert(n.get("success").asBoolean())
    assert(n.get("config").get("bm25").get("k1").asDouble() == 2.5)
    assert(n.get("config").get("bm25").get("b").asDouble() == 0.75)
  }

  test("subprocess: summary request returns deterministic extractive summary") {
    val (resp, code) = Subprocess.handle(
      """{"type": "summary", "query": "q", "chunks":
         ["First sentence one is long enough. Second sentence.",
          "Another chunk sentence that is long. Tail."]}""", deps())
    assert(code == 0)
    val n = M.readTree(resp)
    assert(n.get("success").asBoolean())
    assert(n.get("summary").asText().contains("First sentence one"))
    assert(n.get("count").asInt() == 0)
  }

  test("subprocess: engine exception becomes error envelope") {
    val boom = Subprocess.Deps(
      runQuery = (_, _) => throw new RuntimeException("kaput"),
      listCollections = _ => Nil)
    val (resp, code) = Subprocess.handle("""{"query": "x"}""", boom)
    assert(code == 1)
    val n = M.readTree(resp)
    assert(!n.get("success").asBoolean())
    assert(n.get("error").asText() == "kaput")
    assert(n.get("query").asText() == "x")
  }
}
