package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, row
  * id, salt) through `xxhash64`, so one seed always yields byte-identical
  * tables regardless of partitioning, and distinct seeds share nothing.
  *
  * Tables follow the column names and types of the TPC-H-style layout
  * `graft.Tables` reads (region … lineitem, events, documents,
  * embeddings); `sf` scales row counts the same way (lineitem = 6M·sf).
  */
final class Gen(spark: SparkSession, seed: Long) {

  /** Uniform draw in [0, m) for row `id` and a per-column salt. */
  def rnd(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (rnd(id, salt, values.size.toLong) + 1).cast("int"))

  private def ntzDay(base: String, days: Column): Column =
    date_add(lit(base).cast("date"), days.cast("int")).cast("timestamp_ntz")

  private def write(df: DataFrame, dir: Path, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  /** Write every table `graft.Tables.names` lists into `dir` at scale `sf`;
    * `plantedPct` plants duplicates in the documents (see [[documents]]). */
  def tables(dir: Path, sf: Double, plantedPct: Int = 0): Map[String, Long] = {
    def n(base: Double, floor: Long): Long = math.max(floor, math.round(base * sf))
    val sizes = Map(
      "region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000, 50), "supplier" -> n(10000, 10),
      "part" -> n(200000, 50), "orders" -> n(1500000, 200),
      "lineitem" -> n(6000000, 800), "events" -> n(1000000, 200),
      "documents" -> n(50000, 100), "embeddings" -> n(20000, 100))
    val id = col("id")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(regions), (id + 1).cast("int")).as("r_name")), dir, "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")),
      dir, "nation")
    write(spark.range(sizes("customer")).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      rnd(id, 1, 25).cast("int").as("c_nationkey"),
      (rnd(id, 2, 1100000) / 100.0 - 1000.0).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), dir, "customer")
    write(spark.range(sizes("supplier")).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      rnd(id, 4, 25).cast("int").as("s_nationkey"),
      (rnd(id, 5, 1100000) / 100.0 - 1000.0).as("s_acctbal")), dir, "supplier")
    write(spark.range(sizes("part")).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("blue", "cold", "hot", "red", "small", "new", "old", "green")),
        pick(id, 7, Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"))).as("p_name"),
      concat(lit("Brand#"), rnd(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (rnd(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)) / 10.0).as("p_retailprice")), dir, "part")
    write(spark.range(sizes("orders")).select(id.as("o_orderkey"),
      rnd(id, 11, sizes("customer")).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      (rnd(id, 13, 50000000) / 100.0 + 1000.0).as("o_totalprice"),
      ntzDay("1995-01-01", rnd(id, 14, 2404)).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), dir, "orders")
    val qty = (rnd(id, 18, 50) + 1).cast("double")
    write(spark.range(sizes("lineitem")).select(
      rnd(id, 16, sizes("orders")).as("l_orderkey"),
      rnd(id, 17, sizes("part")).as("l_partkey"),
      rnd(id, 19, sizes("supplier")).as("l_suppkey"),
      (rnd(id, 20, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + rnd(id, 17, sizes("part")) % 1000 / 10.0), 2).as("l_extendedprice"),
      (rnd(id, 21, 11) / 100.0).as("l_discount"),
      (rnd(id, 22, 9) / 100.0).as("l_tax"),
      pick(id, 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 24, Seq("F", "O")).as("l_linestatus"),
      ntzDay("1995-01-02", rnd(id, 25, 2498)).as("l_shipdate")), dir, "lineitem")
    write(spark.range(sizes("events")).select(id.as("event_id"),
      (lit(1704067200000000L) + rnd(id, 26, 2592000000000L)).cast("long")
        .as("ts_us"),
      rnd(id, 27, math.max(10L, sizes("customer") / 10)).as("user_id"),
      pick(id, 28, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      (rnd(id, 29, 50000) / 100.0).as("value"),
      format_string("{\"k\": %d}", rnd(id, 30, 100)).as("props"))
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir, "events")
    write(documents(sizes("documents"), plantedPct), dir, "documents")
    write(embeddings(sizes("embeddings")), dir, "embeddings")
    sizes
  }

  /** Corpus vocabulary: a 48-word domain lexicon plus the language marker
    * words `graft.operators.TextAnalysis` scores, so documents carry a
    * detectable language. */
  val lexicon: Seq[String] = Seq("spark", "column", "row", "line", "query", "big", "fast",
    "data", "stream", "window", "table", "order", "customer", "part", "vector", "small",
    "merge", "value", "scan", "join", "hash", "key", "sort", "filter", "agg", "batch",
    "slow", "index", "shard", "page", "cache", "disk", "node", "graph", "token", "model",
    "score", "rank", "store", "frame", "plan", "stage", "task", "block", "file", "schema",
    "field", "record")
  val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "de"),
    "es" -> Seq("el", "los", "que", "y", "es"))

  /** Language of a text key: 60% en, 15% de, 13% fr, 12% es. */
  def langOf(key: Column): Column = {
    val b = rnd(key, 31, 100)
    when(b < 60, "en").when(b < 75, "de").when(b < 88, "fr").otherwise("es")
  }

  /** Token array of a text key: `ntok` tokens, every fifth a marker word of
    * the key's language; token choice is skewed toward the lexicon head. */
  def tokensOf(key: Column, ntok: Column): Column = {
    val markers = map(langs.flatMap { case (l, ws) => Seq(lit(l), typedLit(ws)) }: _*)
    val lex = typedLit(lexicon)
    val mk = element_at(markers, langOf(key))
    transform(sequence(lit(1), ntok), i => {
      val r = pmod(xxhash64(key, i, lit(seed), lit(32)), lit(10000)).cast("double") / 10000.0
      when(pmod(i, lit(5)) === 0,
        element_at(mk, (pmod(xxhash64(key, i, lit(seed), lit(33)), lit(5)) + 1).cast("int")))
        .otherwise(element_at(lex, (floor(r * r * lexicon.size) + 1).cast("int")))
    })
  }

  def textOf(key: Column, ntok: Column): Column = concat_ws(" ", tokensOf(key, ntok))

  private def ntokOf(key: Column): Column = (rnd(key, 34, 90) + 10).cast("int")

  /** `n` documents. From id 20 on, `plantedPct` percent copy the text of
    * one of the first 20 documents exactly, and as many again copy it with
    * its fourth token replaced. */
  def documents(n: Long, plantedPct: Int = 0): DataFrame = {
    val id = col("id")
    val b = rnd(id, 44, 100)
    val src = pmod(id, lit(20L))
    val exact = id >= 20 && b < plantedPct
    val near = id >= 20 && b >= plantedPct && b < 2 * plantedPct
    val key = when(exact || near, src).otherwise(id)
    val text = when(near, concat_ws(" ", transform(tokensOf(src, ntokOf(src)),
        (t, i) => when(i === 3, lit("edited")).otherwise(t))))
      .otherwise(textOf(key, ntokOf(key)))
    spark.range(n)
      .withColumn("text", text)
      .select(id.as("doc_id"), col("text"), langOf(key).as("lang"),
        concat(lit("src"), rnd(id, 35, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Curation shard `shard` of `n` rows over the history corpus
    * `documents(nHist)`, with the [[Planted]] shares. */
  def shard(shard: Int, n: Long, nHist: Long): DataFrame = {
    val id = col("id")
    def fresh(i: Column): Column = lit(10000000L + shard * 1000000L) + i
    val salted = id + lit(shard.toLong << 32)
    val b = rnd(salted, 40, 100)
    val hist = rnd(salted, 42, nHist)
    val inBatch = b < Planted.inBatchDup && id >= 50
    val histDup = b >= Planted.inBatchDup && b < Planted.inBatchDup + Planted.historyDup
    val nearDup = b >= Planted.inBatchDup + Planted.historyDup &&
      b < Planted.inBatchDup + Planted.historyDup + Planted.nearDup
    val short = b >= 100 - Planted.short
    val key = when(inBatch, fresh(pmod(id, lit(50)))).when(histDup || nearDup, hist)
      .otherwise(fresh(id))
    val text = when(nearDup,
        concat_ws(" ", transform(tokensOf(hist, ntokOf(hist)),
          (t, i) => when(i === 3, lit("edited")).otherwise(t))))
      .when(short, textOf(key, lit(4)))
      .otherwise(textOf(key, ntokOf(key)))
    val pii = rnd(salted, 41, 100) < Planted.pii
    spark.range(n).select(fresh(id).as("doc_id"),
      when(pii, format_string("%s contact user%d@example.com or 555%07d", text, id,
        rnd(salted, 43, 10000000))).otherwise(text).as("text"),
      langOf(key).as("lang"))
  }

  /** 64-dim embeddings around ten label centroids. */
  def embeddings(n: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    val label = rnd(id, 36, 10)
    spark.range(n).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d => {
        val centre = pmod(xxhash64(label, d, lit(seed), lit(37)), lit(2001)).cast("double") / 1000.0 - 1.0
        val noise = pmod(xxhash64(id, d, lit(seed), lit(38)), lit(2001)).cast("double") / 5000.0 - 0.2
        (centre * 0.3 + noise).cast("float")
      }).as("embedding"),
      label.cast("int").as("label"))
  }

  /** Replicate embeddings `factor` times: replica k shifts ids by k·N and
    * cyclically rotates coordinates by k, so norms and within-replica
    * geometry are kept and replicas do not collapse onto each other. */
  def replicate(base: DataFrame, n: Long, factor: Int, dim: Int = 64): DataFrame =
    spark.range(factor).crossJoin(base).select(
      (col("vec_id") + col("id") * n).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => element_at(col("embedding"), (pmod(d + col("id"), lit(dim)) + 1).cast("int")))
        .as("embedding"),
      col("label"))

  /** Small CSV exports: `files` files of 3–8 columns and 5–20 rows each. */
  def csvExports(dir: Path, files: Int, prefix: String): Unit = {
    Files.createDirectories(dir)
    val r = new scala.util.Random(seed * 31 + prefix.hashCode)
    (0 until files).foreach { f =>
      val cols = 3 + r.nextInt(6)
      val header = (0 until cols).map(c => s"${lexicon(r.nextInt(lexicon.size))}_$c")
      val rows = (0 until 5 + r.nextInt(16)).map(_ =>
        (0 until cols).map(c => if (c % 2 == 0) r.nextInt(100000).toString
          else lexicon(r.nextInt(lexicon.size))).mkString(","))
      Files.write(dir.resolve(f"${prefix}_$f%03d.csv"),
        (header.mkString(",") +: rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Planted shares of a curation shard, in percent of its rows. */
object Planted {
  val inBatchDup = 8    // exact copy of an earlier row of the same shard
  val historyDup = 8    // exact copy of a history document
  val nearDup = 8       // history document with one token edited
  val short = 6         // 4-token document, fails the quality gate
  val pii = 10          // e-mail and phone number appended (independent draw)
  // languages follow Gen.langOf: 60% en, 15% de, 13% fr, 12% es
}
