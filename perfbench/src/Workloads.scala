package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agent.{Agent, RunResult}
import graft.operators.{Fsck, Retrieval, Similarity}
import graft.recipe.RecipeReader

object FileOps {
  private val mapper = new ObjectMapper()

  def json(p: Path): Seq[JsonNode] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(l => mapper.readTree(l))

  def lineCount(p: Path, pred: String => Boolean = _ => true): Long =
    Files.readAllLines(p).asScala.count(pred).toLong

  /** Total bytes and regular-file count under `p`. */
  def usage(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Shared recipe surface: recipes are files read per op, run by one
  * [[Agent]]; a traced run swaps in the wrapper plugins. */
abstract class RecipeWorkload(ctx: Ctx, plugins: Seq[String]) extends Workload {
  protected val spark = ctx.spark
  protected val agent = new Agent(spark)
  if (ctx.tracer.enabled) Wrappers.register(ctx.tracer, plugins)

  protected def p(n: String): String = ctx.plugin(n)

  /** Read and run one recipe file; both calls are timed and traced. */
  protected def runRecipe(file: Path, vars: Map[String, String] = Map.empty): RunResult = {
    val recipe = ctx.tracer("recipe.read", "recipe")(RecipeReader.read(file, vars)).head
    val res = ctx.tracer("agent.run", "agent")(agent.run(recipe))
    ctx.tracer.count("agent.sinks", recipe.sinks.size)
    ctx.tracer.count("sinks.records", res.sinkCounts.values.filter(_ >= 0).sum)
    ctx.tracer.count("sinks.failed", res.sinkCounts.values.count(_ < 0))
    res
  }

  /** The run succeeded and every sink wrote exactly the run's records. */
  protected def runChecks(w: String, r: RunResult, sinks: Int): Seq[Check] =
    Seq(Checks.equal(s"$w.run_success", r.error, None),
      Checks.equal(s"$w.sinks_written", r.sinkCounts.size, sinks)) ++
      r.sinkCounts.toSeq.sorted.map { case (_, c) => Checks.equal(s"$w.sink_count", c, r.recordCount) }

  protected def shuffled[T](xs: Seq[T], r: Int): Seq[T] = new Random(ctx.seed * 7919 + r).shuffle(xs)
}

/** Loopback catalog receiver: records the method, path and asset urn of
  * every request and answers 200. One handler thread, in this process. */
final class Receiver {
  val requests = new ConcurrentLinkedQueue[String]()
  private val mapper = new ObjectMapper()
  private val pool = Executors.newSingleThreadExecutor()
  private val server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", ex => {
    val urn = mapper.readTree(ex.getRequestBody.readAllBytes()).path("urn").asText()
    requests.add(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath} $urn")
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()
  val url = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** catalog: metadata recipes (column profile + preview of generated
  * tables, header schemas of small CSV exports), each enriched and fanned
  * out to ndjson, yaml, kafka (noop writer) and compass (loopback receiver). */
final class Catalog(ctx: Ctx) extends RecipeWorkload(ctx,
    Seq("parquet", "csv", "enrich", "file", "kafka", "compass")) {
  private val sf = if (ctx.small) 0.001 else 0.01
  private val csvFiles = if (ctx.small) 3 else 6
  private val receiver = new Receiver
  private val team = "perfbench"
  private var dir: Path = _
  private var sizes: Map[String, Long] = Map.empty
  private var lineitemProfile: Map[String, (String, String, Long, Double, Long)] = Map.empty
  private val sources =
    Seq("region", "nation", "part", "orders", "lineitem", "events", "documents")
      .map(_ -> "parquet") :+ ("exports" -> "csv")

  def setup(): Unit = {
    dir = ctx.root
    sizes = ctx.gen.tables(dir.resolve("tables"), sf)
    ctx.gen.csvExports(dir.resolve("exports"), csvFiles, "a")
    // the lineitem profile, computed directly
    val li = spark.read.parquet(dir.resolve("tables/lineitem.parquet").toString)
    val numeric = li.schema.fields.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
    val row = li.agg(count(lit(1)), numeric.flatMap(c => Seq(min(c), max(c), count(c), avg(c),
      approx_count_distinct(c))): _*).head()
    lineitemProfile = numeric.zipWithIndex.map { case (c, i) =>
      val o = 1 + i * 5
      c -> (row.get(o).toString, row.get(o + 1).toString, row.getLong(o + 2), row.getDouble(o + 3),
        row.getLong(o + 4))
    }.toMap
    sources.foreach { case (name, kind) =>
      val src =
        if (kind == "parquet")
          s"""  name: ${p("parquet")}
             |  config:
             |    path: ${dir.resolve(s"tables/$name.parquet")}
             |    include_column_profile: true
             |    max_preview_rows: 30""".stripMargin
        else
          s"""  name: ${p("csv")}
             |  config:
             |    path: ${dir.resolve(name)}""".stripMargin
      ctx.write(dir.resolve(s"recipes/$name.yaml"),
        s"""name: catalog-$name
           |version: v1beta1
           |source:
           |$src
           |processors:
           |  - name: ${p("enrich")}
           |    config: {team: $team, tier: gold}
           |sinks:
           |  - name: ${p("file")}
           |    config: {path: ${dir.resolve(s"out/$name.ndjson")}, format: ndjson}
           |  - name: ${p("file")}
           |    config: {path: ${dir.resolve(s"out/$name.yaml")}, format: yaml}
           |  - name: ${p("kafka")}
           |    config: {brokers: "127.0.0.1:9", topic: assets, key_path: resource.urn,
           |             format: protobuf, output_format: noop}
           |  - name: ${p("compass")}
           |    config: {host: "${receiver.url}"}
           |""".stripMargin)
    }
  }

  private def op(name: String, kind: String): Op = Op(s"$kind:$name", "op", () => {
    val r = runRecipe(dir.resolve(s"recipes/$name.yaml"))
    () => verify(name, kind, r)
  }, prepare = () => receiver.requests.clear())

  private def verify(name: String, kind: String, r: RunResult): (Long, Seq[Check]) = {
    val assets = FileOps.json(dir.resolve(s"out/$name.ndjson"))
    val urns = assets.map(_.at("/resource/urn").asText())
    val posted = receiver.requests.asScala.toSeq
    val checks = runChecks("catalog", r, 4) ++ Seq(
      Checks.equal("catalog.ndjson_records", assets.size.toLong, r.recordCount),
      Checks.equal("catalog.yaml_records",
        FileOps.lineCount(dir.resolve(s"out/$name.yaml"), _.startsWith("- ")), r.recordCount),
      Checks.equal("catalog.posted_assets", posted.sorted,
        urns.map(u => s"PATCH /v1beta1/assets $u").sorted),
      Checks.equal("catalog.enriched", assets.count(_.at("/properties/attributes").asText()
        .contains(team)).toLong, r.recordCount))
    if (kind == "csv")
      (r.recordCount, checks :+ Checks.equal("catalog.csv_assets", r.recordCount, csvFiles.toLong))
    else {
      val a = assets.head
      val rows = a.at("/profile/totalRows").asLong()
      val profiled = a.get("schema").asScala.toSeq.filter(c => lineitemProfile.contains(c.get("name").asText()))
      val profile =
        if (name != "lineitem") Nil
        else Checks.equal("catalog.lineitem_profile.columns", profiled.size, lineitemProfile.size) +:
          profiled.flatMap { c =>
            val (mn, mx, cnt, av, uniq) = lineitemProfile(c.get("name").asText())
            val pr = c.get("profile")
            Seq(Checks.equal("catalog.lineitem_profile.min", pr.get("min").asText(), mn),
              Checks.equal("catalog.lineitem_profile.max", pr.get("max").asText(), mx),
              Checks.equal("catalog.lineitem_profile.count", pr.get("count").asLong(), cnt),
              Checks.close("catalog.lineitem_profile.avg", pr.get("avg").asDouble(), av),
              Checks.equal("catalog.lineitem_profile.unique", pr.get("unique").asLong(), uniq))
          }
      (rows, checks ++ profile :+ Checks.equal("catalog.total_rows", rows, sizes(name)))
    }
  }

  def roundSeconds: Double = 8.0

  def round(r: Int): Seq[Op] = shuffled(sources.map { case (n, k) => op(n, k) }, r)

  override def finish(): Seq[Check] = { receiver.stop(); Nil }
}

/** curation: data-plane recipes over seeded document shards; each op gates
  * one shard against copies of the same history indexes, chunks the
  * survivors and writes ndjson plus a fresh BM25 index. */
final class Curation(ctx: Ctx) extends RecipeWorkload(ctx,
    Seq("documents", "normalize", "quality-filter", "pii-scrub", "lang-filter", "dedup-gate",
      "neardup-gate", "chunk", "file", "bm25-index")) {
  private val shards = 2
  private val shardDocs = 150L
  private val historyDocs = if (ctx.small) 200L else 300L
  private var dir: Path = _
  private var opSeq = 0
  private var prevOp: Option[Path] = None
  private val expected = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
  private var bytesPerDoc = Seq.empty[Double]

  def setup(): Unit = {
    dir = ctx.root
    val g = ctx.gen
    g.documents(historyDocs).select("doc_id", "text").coalesce(1)
      .write.parquet(dir.resolve("history").toString)
    (0 until shards).foreach(s => g.shard(s, shardDocs, historyDocs).coalesce(1)
      .write.parquet(dir.resolve(s"shards/$s").toString))
    // history indexes: the gates' own ingest over the history corpus
    ctx.write(dir.resolve("recipes/history.yaml"),
      s"""name: curation-history
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: ${dir.resolve("history")}, columns: "doc_id, text"}
         |processors:
         |  - name: normalize
         |  - name: dedup-gate
         |    config: {index_path: ${dir.resolve("index/fp")}}
         |  - name: neardup-gate
         |    config: {index_path: ${dir.resolve("index/lsh")}}
         |sinks:
         |  - name: file
         |    config: {path: ${dir.resolve("index/history.ndjson")}, format: ndjson}
         |""".stripMargin)
    val h = agent.run(RecipeReader.read(dir.resolve("recipes/history.yaml")).head)
    require(h.success, s"history index build failed: ${h.error}")
    ctx.write(dir.resolve("recipes/curate.yaml"),
      s"""name: curation
         |version: v1beta1
         |source:
         |  name: ${p("documents")}
         |  config: {path: "{{ .shard }}", columns: "doc_id, text"}
         |processors:
         |  - name: ${p("normalize")}
         |  - name: ${p("quality-filter")}
         |    config: {min_tokens: 8, max_stopword_ratio: 1.0, max_punct_ratio: 1.0,
         |             min_mean_token_len: 0, max_mean_token_len: 100}
         |  - name: ${p("pii-scrub")}
         |  - name: ${p("lang-filter")}
         |    config: {allowed: [en, de]}
         |  - name: ${p("dedup-gate")}
         |    config: {index_path: "{{ .op_dir }}/fp"}
         |  - name: ${p("neardup-gate")}
         |    config: {index_path: "{{ .op_dir }}/lsh"}
         |  - name: ${p("chunk")}
         |    config: {size: 32, stride: 16}
         |sinks:
         |  - name: ${p("file")}
         |    config: {path: "{{ .op_dir }}/chunks.ndjson", format: ndjson}
         |  - name: ${p("bm25-index")}
         |    config: {index_path: "{{ .op_dir }}/bm25", buckets: 4,
         |             text_column: chunk_text, chunk_id_column: chunk_id}
         |""".stripMargin)
  }

  private def op(shard: Int): Op = {
    var opDir: Path = null
    Op(s"shard$shard", "op", prepare = () => {
      prevOp.foreach(FileOps.delete)
      opDir = dir.resolve(s"ops/$opSeq")
      opSeq += 1
      prevOp = Some(opDir)
      FileOps.copyTree(dir.resolve("index/fp"), opDir.resolve("fp"))
      FileOps.copyTree(dir.resolve("index/lsh"), opDir.resolve("lsh"))
    }, run = () => {
      val r = runRecipe(dir.resolve("recipes/curate.yaml"),
        Map("shard" -> dir.resolve(s"shards/$shard").toString, "op_dir" -> opDir.toString))
      () => verify(shard, opDir, r)
    })
  }

  private def verify(shard: Int, opDir: Path, r: RunResult): (Long, Seq[Check]) = {
    val chunks = FileOps.json(opDir.resolve("chunks.ndjson"))
    val survivors = chunks.map(_.get("doc_id").asLong()).distinct.size.toLong
    val want = expected.getOrElseUpdate(shard, (survivors, r.recordCount))
    val (bytes, files) = FileOps.usage(opDir.resolve("bm25"))
    bytesPerDoc :+= bytes.toDouble / math.max(1L, survivors)
    ctx.tracer.gauge("store.bytes", bytes.toDouble)
    ctx.tracer.gauge("store.files", files.toDouble)
    ctx.tracer.gauge("processors.keep_ratio", survivors.toDouble / shardDocs)
    (shardDocs, runChecks("curation", r, 2) ++ Seq(
      Checks.equal("curation.survivors", survivors, want._1),
      Checks.equal("curation.chunks", r.recordCount, want._2),
      Checks.equal("curation.survivors_below_input", survivors < shardDocs && survivors > 0, true),
      Checks.equal("curation.pii_left",
        chunks.count(_.get("chunk_text").asText().contains("@example.com")).toLong, 0L)))
  }

  /** The index the last op built passes every `fsck` invariant (one audit
    * a run: an audit costs about as much as the op). */
  override def finish(): Seq[Check] = prevOp.toSeq.map { d =>
    val failed = Fsck.audit(spark, d.resolve("bm25").toString).filterNot(_.ok)
    ctx.tracer.gauge("fsck.failed_checks", failed.size.toDouble)
    Checks.equal("curation.fsck_failed", failed.map(_.check), Seq.empty[String])
  }

  def roundSeconds: Double = 8.5

  def round(r: Int): Seq[Op] = shuffled((0 until shards).map(op), r)


  override def extras(samples: Seq[Sample]): Seq[(String, Double, String)] =
    Seq(("store_bytes_per_doc", Main.quantile(bytesPerDoc.sorted.toIndexedSeq, 50), "bytes"))
}

/** search: seeded reads (bm25 plain and prf, ann, hybrid; 1–16 queries a
  * call) and paired ingest/forget writes against stores built at set-up. */
final class Search(ctx: Ctx) extends RecipeWorkload(ctx,
    Seq("documents", "bm25-search", "ann-search", "hybrid-search", "file", "bm25-index", "ivf-index")) {
  private val baseVecs = if (ctx.small) 200L else 1000L
  private val factor = 4
  private val corpusDocs = baseVecs * factor
  private val batch = if (ctx.small) 8L else 24L
  private val topK = 10
  private val readKinds = Seq("bm25", "bm25-prf", "ann", "hybrid")
  private val batchesPerKind = 6
  private var dir: Path = _
  private var batchSizes = Map.empty[(String, Int), Int]
  private var probeBefore: (Set[Seq[Any]], Set[Seq[Any]]) = _
  private var setupChecks = Seq.empty[Check]
  private var storeBytesPerDoc = 0.0

  private def bm25Path = dir.resolve("stores/bm25").toString
  private def ivfPath = dir.resolve("stores/ivf").toString

  /** Documents `from until from + n`: seeded text, and the embedding of
    * corpus vector `doc_id mod corpusDocs` (replicated base embeddings). */
  private def corpus(from: Long, n: Long): DataFrame = {
    val g = ctx.gen
    val vec = g.replicate(g.embeddings(baseVecs), baseVecs, factor)
      .select(col("vec_id").as("slot"), col("embedding").cast("array<double>").as("embedding"))
    spark.range(from, from + n).select(col("id").as("doc_id"), pmod(col("id"), lit(corpusDocs)).as("slot"))
      .join(vec, "slot").drop("slot")
      .withColumn("text", g.textOf(col("doc_id"), (g.rnd(col("doc_id"), 50, 40) + 10).cast("int")))
  }

  private def queryText(id: Column): Column = {
    val lex = typedLit(ctx.gen.lexicon)
    concat_ws(" ", transform(sequence(lit(1), (ctx.gen.rnd(id, 51, 2) + 2).cast("int")),
      i => element_at(lex, (pmod(xxhash64(id, i, lit(ctx.seed), lit(52)), lit(ctx.gen.lexicon.size)) + 1)
        .cast("int"))))
  }

  private def vectors: DataFrame = spark.read.parquet(dir.resolve("corpus").toString)
    .select("doc_id", "embedding")

  /** Query batch `j` of a read kind: `size` queries, seeded. */
  private def writeQueries(kind: String, j: Int, size: Int): Unit = {
    val salt = readKinds.indexOf(kind) * 1000 + j
    val qid = (col("id") + lit(salt * 100L)).as("q_id")
    val ids = spark.range(size)
    // distinct corpus documents: id * 7919 + salt mod N (7919 is prime)
    val picked = ids.select(qid, pmod(col("id") * 7919L + lit(salt * 131L), lit(corpusDocs)).as("doc_id"))
    val df = kind match {
      case "ann" => picked.join(vectors, "doc_id").select("doc_id", "embedding")
      case "hybrid" => picked.join(vectors, "doc_id")
        .select(col("q_id"), queryText(col("q_id")).as("text"), col("embedding"))
      case _ => ids.select(qid, queryText(qid).as("text"))
    }
    df.coalesce(1).write.parquet(dir.resolve(s"queries/$kind/$j").toString)
  }

  private def probeQueries: DataFrame =
    spark.range(8).select(col("id").as("q_id"), queryText(col("id") + 999999L).as("text"))

  private def probe(): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val bm = Retrieval.bm25TopKStored(Retrieval.readBm25Store(spark, bm25Path), probeQueries,
      "doc_id", "q_id", "text", topK = topK).collect().map(_.toSeq).toSet
    val qv = vectors.filter(col("doc_id") < 8)
    val ann = Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(ivfPath), qv, "doc_id", "embedding",
      k = topK, Similarity.readTwoLevelCodebookAt(spark, ivfPath), excludeSelf = true)
      .collect().map(_.toSeq).toSet
    (bm, ann)
  }

  def setup(): Unit = {
    dir = ctx.root
    corpus(0L, corpusDocs).coalesce(1).write.parquet(dir.resolve("corpus").toString)
    ctx.write(dir.resolve("recipes/build.yaml"),
      s"""name: search-build
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: ${dir.resolve("corpus")}}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $bm25Path, buckets: 4}
         |  - name: ivf-index
         |    config: {index_path: $ivfPath, id_column: doc_id}
         |""".stripMargin)
    val b = agent.run(RecipeReader.read(dir.resolve("recipes/build.yaml")).head)
    require(b.success, s"store build failed: ${b.error}")
    val rnd = new Random(ctx.seed)
    batchSizes = (for (k <- readKinds; j <- 0 until batchesPerKind) yield (k, j) -> (1 + rnd.nextInt(16))).toMap
    batchSizes.foreach { case ((k, j), n) => writeQueries(k, j, n) }
    readKinds.foreach { k =>
      val src = k match {
        case "bm25" | "bm25-prf" =>
          s"""  name: ${p("bm25-search")}
             |  config: {index_path: $bm25Path, queries_path: "{{ .queries }}", top_k: $topK,
             |           prf: ${k == "bm25-prf"}}""".stripMargin
        case "ann" =>
          s"""  name: ${p("ann-search")}
             |  config: {index_path: $ivfPath, queries_path: "{{ .queries }}", top_k: $topK,
             |           exclude_self: true}""".stripMargin
        case "hybrid" =>
          s"""  name: ${p("hybrid-search")}
             |  config: {bm25_index_path: $bm25Path, ann_index_path: $ivfPath,
             |           queries_path: "{{ .queries }}", top_k: $topK}""".stripMargin
      }
      ctx.write(dir.resolve(s"recipes/$k.yaml"),
        s"""name: search-$k
           |version: v1beta1
           |source:
           |$src
           |sinks:
           |  - name: ${p("file")}
           |    config: {path: ${dir.resolve(s"out/$k.ndjson")}, format: ndjson}
           |""".stripMargin)
    }
    Seq("bm25" -> s"{index_path: $bm25Path, buckets: 4", "ivf" -> s"{index_path: $ivfPath, id_column: doc_id")
      .foreach { case (store, cfg) =>
        Seq("ingest", "forget").foreach { mode =>
          ctx.write(dir.resolve(s"recipes/$store-$mode.yaml"),
            s"""name: search-$store-$mode
               |version: v1beta1
               |source:
               |  name: ${p("documents")}
               |  config: {path: "{{ .batch }}"}
               |sinks:
               |  - name: ${p(s"$store-index")}
               |    config: $cfg, mode: $mode}
               |""".stripMargin)
        }
      }
    // the stored ranking equals the inline BM25 over the same corpus
    val docs = spark.read.parquet(dir.resolve("corpus").toString).select("doc_id", "text")
    val stored = Retrieval.bm25TopKStored(Retrieval.readBm25Store(spark, bm25Path), probeQueries,
      "doc_id", "q_id", "text", topK = topK).collect().map(_.toSeq).toSet
    val inline = Retrieval.bm25TopK(docs, probeQueries, "doc_id", "text", "q_id", "text", topK = topK)
      .collect().map(_.toSeq).toSet
    setupChecks = Seq(Checks.equal("search.stored_equals_inline", stored, inline),
      Checks.equal("search.probe_nonempty", stored.nonEmpty, true))
    probeBefore = probe()
  }

  private def read(kind: String, j: Int): Op = Op(s"read:$kind", "read", () => {
    val r = runRecipe(dir.resolve(s"recipes/$kind.yaml"),
      Map("queries" -> dir.resolve(s"queries/$kind/$j").toString))
    () => {
      val n = batchSizes(kind -> j)
      val rows = FileOps.json(dir.resolve(s"out/$kind.ndjson"))
      val perQuery = rows.groupBy(_.get("q_id").asLong()).view.mapValues(_.size).toMap
      (n.toLong, runChecks("search", r, 1) ++ Seq(
        Checks.equal("search.queries_answered", perQuery.size, n),
        Checks.equal("search.top_k_respected", perQuery.values.forall(_ <= topK), true)))
    }
  })

  /** Round `r`'s mutation batch: fresh ids, disjoint from the store. */
  private def batchPath(r: Int): Path = dir.resolve(s"batches/${r + 1}")

  private def write(store: String, mode: String, r: Int): Op = Op(s"write:$store-$mode", "write",
    prepare = () => if (!Files.exists(batchPath(r)))
      corpus(1000000000L + (r + 1) * batch, batch).select("doc_id", "text", "embedding")
        .coalesce(1).write.parquet(batchPath(r).toString),
    run = () => {
      val res = runRecipe(dir.resolve(s"recipes/$store-$mode.yaml"), Map("batch" -> batchPath(r).toString))
      () => (batch, runChecks("search", res, 1) :+ Checks.equal("search.mutated", res.recordCount, batch))
    })

  def roundSeconds: Double = 20.0

  def round(r: Int): Seq[Op] = {
    val rnd = new Random(ctx.seed * 31 + r)
    val reads = for (k <- readKinds; _ <- 0 until 2) yield read(k, rnd.nextInt(batchesPerKind))
    // each store's ingest lands in the first half of the round, its forget in the second
    val (first, second) = shuffled(reads, r).splitAt(reads.size / 2)
    shuffled(first ++ Seq(write("bm25", "ingest", r), write("ivf", "ingest", r)), r) ++
      shuffled(second ++ Seq(write("bm25", "forget", r), write("ivf", "forget", r)), r + 1)
  }

  override def finish(): Seq[Check] = {
    val after = probe()
    val fsck = (Fsck.audit(spark, bm25Path) ++ Fsck.audit(spark, ivfPath)).filterNot(_.ok)
    val (bytes, files) = Seq(bm25Path, ivfPath).map(s => FileOps.usage(java.nio.file.Paths.get(s)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    ctx.tracer.gauge("store.bytes", bytes.toDouble)
    ctx.tracer.gauge("store.files", files.toDouble)
    ctx.tracer.gauge("fsck.failed_checks", fsck.size.toDouble)
    storeBytesPerDoc = bytes.toDouble / corpusDocs
    setupChecks ++ Seq(
      Checks.equal("search.probe_bm25_stable", after._1, probeBefore._1),
      Checks.equal("search.probe_ann_stable", after._2, probeBefore._2),
      Checks.equal("search.fsck_failed", fsck.map(_.check), Seq.empty[String]))
  }

  override def extras(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    def lat(cls: String) = samples.filter(_.cls == cls).map(_.ms).sorted.toIndexedSeq
    Seq(("read_p50_ms", Main.quantile(lat("read"), 50), "ms"),
      ("read_tail_ms", Main.tail(lat("read"))._2, "ms"),
      ("write_p50_ms", Main.quantile(lat("write"), 50), "ms"),
      ("store_bytes_per_doc", storeBytesPerDoc, "bytes"))
  }
}

/** graded: a fixed list of `SparkEntry.queries` rows in seeded order; each
  * op builds the DataFrame and runs an every-column checksum action. Each
  * row's row count, and for some rows the sum of one column, must equal a
  * value the benchmark computes itself at set-up from the generated
  * tables; the checksum must repeat across the row's ops. Layout caches
  * persist across ops as in the graded bench: d_bm25_chunk_forget builds
  * its BM25 chunk store and erases from it in place in the warm-up, and
  * its timed ops run the erasure finder and read the store, which passes
  * every `Fsck.audit` check at the end. */
final class Graded(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val sf = if (ctx.small) 0.001 else 0.005
  private var dir: Path = _
  private var expected = Map.empty[String, Graded.Expect]
  private val seen = scala.collection.mutable.HashMap.empty[String, Long]

  def setup(): Unit = {
    dir = ctx.root.resolve("tables")
    ctx.gen.tables(dir, sf, plantedPct = 5)
    expected = Graded.expectations(spark, dir)
  }

  /** Layout caches of one kind, under the directory `SparkEntry` keeps them in. */
  private def layouts(kind: String): Seq[Path] = {
    val root = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_LAYOUT_DIR", System.getProperty("java.io.tmpdir")))
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(s"graft_${kind}_")).toSeq.sorted
      finally s.close()
    }
  }

  private def op(name: String): Op = {
    val want = expected(name)
    Op(name, "op", () => {
      val df = ctx.tracer("SparkEntry.build", "SparkEntry.build")(
        graft.SparkEntry.queries(name)(spark, dir.toString))
      val (hash, rows, sum) = ctx.tracer("SparkEntry.exec", "SparkEntry.exec")(
        Graded.checksum(df, want.sumOf.map(_._1)))
      () => (rows, Seq(Checks.equal("graded.row_count", rows, want.rows),
        Checks.equal("graded.checksum_repeats", hash, seen.getOrElseUpdate(name, hash))) ++
        want.sumOf.map { case (_, v) => Checks.close("graded.column_sum", sum, v) })
    })
  }

  def roundSeconds: Double = 9.0

  def round(r: Int): Seq[Op] = new Random(ctx.seed * 131 + r).shuffle(Graded.rows).map(op)

  /** The BM25 store d_bm25_chunk_forget compacted in place passes every
    * `fsck` invariant. */
  override def finish(): Seq[Check] = {
    val stores = layouts("bm25chunkforget")
    val failed = stores.flatMap(p => Fsck.audit(spark, p.toString)).filterNot(_.ok)
    val (bytes, files) = stores.map(FileOps.usage).foldLeft((0L, 0L)) {
      case ((b, n), (b1, n1)) => (b + b1, n + n1)
    }
    ctx.tracer.gauge("store.bytes", bytes.toDouble)
    ctx.tracer.gauge("store.files", files.toDouble)
    ctx.tracer.gauge("fsck.failed_checks", failed.size.toDouble)
    Seq(Checks.equal("graded.stores_audited", stores.size, 1),
      Checks.equal("graded.fsck_failed", failed.map(f => s"${f.layout}.${f.check}"), Seq.empty[String]))
  }
}

object Graded {
  val rows: Seq[String] = Seq(
    "q1_pricing_summary", "q9_product_profit", "q_usage_counts", "q_top1_returnflag",
    "q_preview_orders", "d_bm25_topk", "d_bm25_chunk_forget", "d_setjoin_ppjoin",
    "d_dedup_exact", "s_ann_ivf")

  /** Expected row count and, optionally, (column, expected sum). */
  final case class Expect(rows: Long, sumOf: Option[(String, Double)] = None)

  /** Every-column checksum: xxhash64 of each row folded with bit_xor, the
    * row count (the action the graded bench times) and the sum of one
    * column, in the same job. */
  def checksum(df: DataFrame, sumCol: Option[String]): (Long, Long, Double) = {
    val row = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"),
        sumCol.fold(lit(0.0))(c => col(c).cast("double")).as("v"))
      .agg(expr("bit_xor(h)"), count(lit(1)), sum(col("v"))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1),
      if (row.isNullAt(2)) 0.0 else row.getDouble(2))
  }

  /** Each row's expected output, computed directly from the generated
    * tables with plain DataFrame operations and plain Scala (no `graft`
    * code). Top-k rows
    * return k rows for each query: the corpus shares one vocabulary, so
    * every query has more than k candidates. */
  def expectations(spark: org.apache.spark.sql.SparkSession, dir: Path): Map[String, Expect] = {
    def t(n: String) = spark.read.parquet(dir.resolve(s"$n.parquet").toString)
    /** The single row of `df.agg(cols)`, as doubles (null as 0). */
    def agg(df: DataFrame, cols: Column*): IndexedSeq[Double] = {
      val r = df.agg(cols.head, cols.tail: _*).head()
      cols.indices.map(i => if (r.isNullAt(i)) 0.0 else r.getAs[Number](i).doubleValue)
    }
    val li = t("lineitem")
    val shipped = col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date")
    val Seq(q1Groups, q1Lines) = agg(li,
      countDistinct(when(shipped, concat_ws("|", col("l_returnflag"), col("l_linestatus")))),
      count(when(shipped, lit(1))))
    val top1 = agg(li.groupBy("l_returnflag").count(), max("count")).head
    val profitCents = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("bigint") -
      round(col("p_retailprice") * lit(0.6) * col("l_quantity") * 100).cast("bigint")
    val Seq(q9Groups, q9Profit) = agg(
      li.join(t("part").filter(col("p_name").contains("widget")), col("l_partkey") === col("p_partkey"))
        .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t("orders"), col("l_orderkey") === col("o_orderkey")),
      countDistinct(col("n_name"), year(col("o_orderdate"))), sum(profitCents) / 100.0)
    val Seq(eventTypes, events) = agg(t("events"), countDistinct("event_type"), count(lit(1)))
    val preview = agg(t("orders").orderBy("o_orderkey").limit(30), sum("o_orderkey")).head
    // document checks in plain Scala over the collected corpus: distinct
    // normalized texts, and every pair at word-trigram Jaccard >= 3/5
    val tokens = t("documents").select("text").collect()
      .map(_.getString(0).trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val texts = tokens.map(_.mkString(" ")).distinct.length
    val sets = tokens.map(tk => if (tk.length < 3) Set.empty[String] else tk.sliding(3).map(_.mkString(" ")).toSet)
    val ppm = for {
      i <- sets.indices; j <- i + 1 until sets.length
      inter = sets(i).count(sets(j)); uni = sets(i).size + sets(j).size - inter
      if inter > 0 && inter * 5 >= uni * 3
    } yield inter * 1000000L / uni
    Map(
      "q1_pricing_summary" -> Expect(q1Groups.toLong, Some("count_order" -> q1Lines)),
      "q9_product_profit" -> Expect(q9Groups.toLong, Some("sum_profit" -> q9Profit)),
      "q_usage_counts" -> Expect(eventTypes.toLong, Some("usage_count" -> events)),
      "q_top1_returnflag" -> Expect(1, Some("cnt" -> top1)),
      "q_preview_orders" -> Expect(30, Some("o_orderkey" -> preview)),
      "d_bm25_topk" -> Expect(5 * 10),
      // queries are documents 0-4 less the erased doc_id % 7 = 3
      "d_bm25_chunk_forget" -> Expect(4 * 10),
      "d_setjoin_ppjoin" -> Expect(ppm.size, Some("jaccard_ppm" -> ppm.sum.toDouble)),
      "d_dedup_exact" -> Expect(texts, Some("dup_count" -> tokens.length.toDouble)),
      "s_ann_ivf" -> Expect(10 * 5))
  }
}
