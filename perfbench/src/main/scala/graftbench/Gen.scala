package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs on any
  * machine and partitioning: star-schema columns are hash functions of
  * (row id, seed), and text is drawn from a `SplittableRandom(seed)` on
  * the driver.
  */
object Gen {

  // ---- star schema ------------------------------------------------------

  final case class StarSizes(sales: Long, customers: Long, parts: Long)

  val ShipModes: Seq[String] =
    Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Flags: Seq[String] = Seq("A", "N", "R")

  /** Uniform double in [0, 1) from (id, seed, salt). */
  private def u(id: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1L << 52))
      .cast("double") / (1L << 52).toDouble

  private def pick(xs: Seq[String], x: Column): Column =
    element_at(array(xs.map(lit): _*), (floor(x * xs.size) + 1).cast("int"))

  /** TPC-H-shaped tables: a `sales` fact (lineitem-like) and the
    * customer, part and nation dimensions the pipelines join. Prices are
    * decimals, so every aggregate is exact and order-independent.
    */
  def star(spark: SparkSession, seed: Long, n: StarSizes): Map[String, DataFrame] = {
    val id = col("id")
    val nation = spark.range(25).select(id.as("nation_id"),
      concat(lit("NATION_"), lpad(id.cast("string"), 2, "0")).as("n_name"),
      (id % 5).as("region_id"))
    val customer = spark.range(n.customers).select(id.as("cust_id"),
      floor(u(id, seed, 1) * 25).cast("long").as("nation_id"),
      pick(Segments, u(id, seed, 2)).as("segment"),
      (floor(u(id, seed, 3) * 1000000) / 100).cast("decimal(10,2)").as("acctbal"))
    // brands are skewed (u^2), so lumping rare levels means something
    val part = spark.range(n.parts).select(id.as("part_id"),
      concat(lit("Brand#"), (floor(pow(u(id, seed, 4), 2) * 40) + 10)
        .cast("int").cast("string")).as("brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        u(id, seed, 5)).as("p_type"),
      (floor(u(id, seed, 6) * 50) + 1).cast("int").as("p_size"))
    val sales = spark.range(n.sales).select(
      (id.divide(4)).cast("long").as("order_id"),
      (id % 4).cast("int").as("line_no"),
      // customers skewed toward low ids
      floor(pow(u(id, seed, 11), 1.5) * n.customers).cast("long").as("cust_id"),
      floor(u(id, seed, 12) * n.parts).cast("long").as("part_id"),
      (floor(u(id, seed, 14) * 50) + 1).cast("int").as("quantity"),
      ((floor(u(id, seed, 15) * 100000) + 90000) / 100).cast("decimal(10,2)").as("price"),
      (floor(u(id, seed, 16) * 11) / 100).cast("decimal(4,2)").as("discount"),
      date_add(lit("1992-01-01").cast("date"),
        floor(u(id, seed, 17) * 2500).cast("int")).as("ship_date"),
      pick(Flags, u(id, seed, 18)).as("return_flag"),
      pick(ShipModes, pow(u(id, seed, 19), 1.3)).as("ship_mode"))
    Map("sales" -> sales, "customer" -> customer, "part" -> part,
      "nation" -> nation)
  }

  /** Order-independent digest of a table: the sum of a 64-bit row hash. */
  def digest(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s")).head()
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }

  // ---- text -------------------------------------------------------------

  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** A Zipfian vocabulary of pseudo-words (lowercase a-z, 3-9 letters).
    * With `stop`, the Gopher stop words take the top ranks.
    */
  final class Vocab(val words: Array[String], cum: Array[Double]) {
    def sample(r: SplittableRandom): String = {
      val x = r.nextDouble() * cum.last
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < x) lo = mid + 1 else hi = mid
      }
      words(lo)
    }
  }

  def vocab(seed: Long, size: Int, stop: Boolean, letters: String): Vocab = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    if (stop) seen ++= StopWords
    while (seen.size < size) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }
    val ws = seen.toArray
    val cum = ws.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    new Vocab(ws, cum)
  }

  val EnLetters = "abcdefghijklmnopqrstuvwxyz"
  // a different letter distribution, so a bag-of-words gate separates it
  val XxLetters = "kqxzjvwyhk"

  def words(r: SplittableRandom, v: Vocab, n: Int): Array[String] =
    Array.fill(n)(v.sample(r))

  /** Words joined by spaces with a line break every 12 to 20 words. */
  def text(ws: Seq[String], r: SplittableRandom): String = {
    val b = new StringBuilder
    var next = 12 + r.nextInt(9)
    ws.zipWithIndex.foreach { case (w, i) =>
      if (i > 0) b += (if (i == next) { next += 12 + r.nextInt(9); '\n' } else ' ')
      b ++= w
    }
    b.toString
  }

  /** A near duplicate: the same words with the last one replaced. */
  def nearCopy(ws: Array[String], r: SplittableRandom, v: Vocab): Array[String] = {
    var w = v.sample(r)
    while (w == ws.last) w = v.sample(r)
    ws.init :+ w
  }

  /** Lowercase words joined by single spaces: the tokenizer's
    * normalization, which decoding must reproduce.
    */
  def normalized(text: String): String =
    text.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")

  // ---- curation corpus ---------------------------------------------------

  final case class Corpus(docs: Seq[(Long, String)], bench: Seq[(Long, String)],
                          clusters: Seq[Seq[Long]], contaminated: Seq[Long],
                          lowQuality: Seq[Long]) {
    def textBytes: Long = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  /** `nBase` documents over a Zipfian vocabulary plus planted structure:
    * exact and near-duplicate clusters (2% of documents each, one or two
    * copies), contamination (1%: a 20-word span of a benchmark document
    * inserted) and low-quality short documents (5%, below the Gopher
    * word minimum). Ids are a seeded permutation, so copies are not
    * adjacent to their originals.
    */
  def corpus(seed: Long, nBase: Int, nBench: Int): Corpus = {
    val r = new SplittableRandom(seed * 1000003L + 17L)
    val en = vocab(seed, 6000, stop = true, EnLetters)
    val bench = Array.fill(nBench)(words(r, en, 60))
    val roles = r.ints(nBase.toLong, 0, 100).toArray
    val base = roles.map { k =>
      if (k < 5) words(r, en, 10 + r.nextInt(21))          // low quality
      else if (k < 9) words(r, en, 160 + r.nextInt(80))     // cluster base
      else words(r, en, 60 + r.nextInt(140))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val contaminatedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lowIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    base.indices.foreach { i =>
      val k = roles(i)
      val ws = base(i)
      if (k < 5) { lowIdx += out.size; out += text(ws.toSeq, r) }
      else if (k < 9) {
        val members = scala.collection.mutable.ArrayBuffer(out.size)
        val t = text(ws.toSeq, r)
        out += t
        (0 until 1 + r.nextInt(2)).foreach { _ =>
          members += out.size
          out += (if (k < 7) t else text(nearCopy(ws, r, en).toSeq, r))
        }
        groups += members.toSeq
      } else if (k == 9) {
        val span = bench(r.nextInt(nBench)).slice(10, 30)
        val at = r.nextInt(ws.length)
        contaminatedIdx += out.size
        out += text((ws.take(at) ++ span ++ ws.drop(at)).toSeq, r)
      } else out += text(ws.toSeq, r)
    }
    // seeded permutation of ids
    val perm = out.indices.toArray
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val idOf = new Array[Long](out.size)
    perm.zipWithIndex.foreach { case (src, id) => idOf(src) = id.toLong }
    val docs = out.indices.map(i => (idOf(i), out(i))).sortBy(_._1)
    Corpus(docs,
      bench.indices.map(j => (j.toLong, bench(j).mkString(" "))),
      groups.map(_.map(i => idOf(i))).toSeq,
      contaminatedIdx.map(i => idOf(i)).toSeq,
      lowIdx.map(i => idOf(i)).toSeq)
  }

  // ---- ingest stream -----------------------------------------------------

  val Sources: Seq[String] = Seq("web", "books", "code", "news")
  val Dim = 16

  final case class Doc(id: Long, text: String, lang: String, source: String,
                       embedding: Array[Double], kind: String)

  /** Standing corpus, benchmark set and seeded micro-batches for the
    * ingest workload. Batch `k` holds ids strictly above every earlier
    * id. Its documents are 84% fresh English, 8% another "language" (the
    * gate drops it), 5% near duplicates of standing documents (dedup
    * drops them) and 3% contaminated with a benchmark document (decontam
    * drops them).
    */
  final class Stream(seed: Long, val standingSize: Int, val batchSize: Int,
                     nBench: Int) {
    private val en = vocab(seed, 6000, stop = true, EnLetters)
    private val xx = vocab(seed + 1, 3000, stop = false, XxLetters)
    private def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

    private def embed(r: SplittableRandom): Array[Double] =
      Array.fill(Dim)(math.round((r.nextDouble() * 2 - 1) * 1e6) / 1e6)

    private def fresh(r: SplittableRandom, id: Long, lang: String): Doc = {
      val v = if (lang == "en") en else xx
      Doc(id, text(words(r, v, 60 + r.nextInt(140)).toSeq, r), lang,
        Sources(r.nextInt(Sources.size)), embed(r), if (lang == "en") "fresh" else "gated")
    }

    private lazy val standingWords: Array[Array[String]] = {
      val r = rng(1)
      Array.fill(standingSize)(words(r, en, 80 + r.nextInt(120)))
    }

    lazy val standing: Seq[Doc] = {
      val r = rng(2)
      standingWords.indices.map { i =>
        if (r.nextInt(10) == 0) fresh(r, i.toLong, "xx")
        else Doc(i.toLong, text(standingWords(i).toSeq, r), "en",
          Sources(r.nextInt(Sources.size)), embed(r), "standing")
      }
    }

    lazy val bench: Seq[(Long, String)] = {
      val r = rng(3)
      (0 until nBench).map(j => (j.toLong, words(r, en, 60).mkString(" ")))
    }

    /** Micro-batch `k` (k = -1 is the warm-up batch, ids below zero). */
    def batch(k: Int): Seq[Doc] = {
      val r = rng(1000L + k)
      val first = if (k < 0) -batchSize.toLong * 2 else standingSize.toLong + k.toLong * batchSize
      (0 until batchSize).map { j =>
        val id = first + j
        val roll = r.nextInt(100)
        if (roll < 8) fresh(r, id, "xx")
        else if (roll < 13) {
          // near copy of an English standing document
          var s = r.nextInt(standingSize)
          while (standing(s).lang != "en") s = r.nextInt(standingSize)
          Doc(id, text(nearCopy(standingWords(s), r, en).toSeq, r), "en",
            Sources(r.nextInt(Sources.size)), embed(r), "near_dup")
        } else if (roll < 16) {
          val b = bench(r.nextInt(nBench))._2.split(" ")
          Doc(id, text((b ++ words(r, en, 10)).toSeq, r), "en",
            Sources(r.nextInt(Sources.size)), embed(r), "contaminated")
        } else fresh(r, id, "en")
      }
    }

    /** Probe documents: near copies of English standing documents
      * (`near_dup`, must be dropped) and fresh text (`fresh`, must be kept).
      */
    def probeDocs(k: Int, n: Int): Seq[Doc] = {
      val r = rng(500000L + k)
      (0 until n).map { j =>
        val id = -1000000L - k.toLong * n - j
        if (j % 2 == 0) {
          var s = r.nextInt(standingSize)
          while (standing(s).lang != "en") s = r.nextInt(standingSize)
          Doc(id, text(nearCopy(standingWords(s), r, en).toSeq, r), "en",
            "web", embed(r), "near_dup")
        } else fresh(r, id, "en")
      }
    }

    /** Vector queries: a standing embedding plus small noise; the nearest
      * indexed vector must be that standing document.
      */
    def queries(k: Int, n: Int): Seq[(Long, Array[Double], Long)] = {
      val r = rng(900000L + k)
      (0 until n).map { j =>
        val s = r.nextInt(standingSize)
        val v = standing(s).embedding.map(x => x + (r.nextDouble() - 0.5) * 1e-3)
        (-(k.toLong * n + j + 1), v, s.toLong)
      }
    }
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  def docsFrame(spark: SparkSession, docs: Seq[Doc], slices: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang, d.source, d.embedding.toSeq)), slices),
      DocSchema)
}
