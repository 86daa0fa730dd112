package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator is a pure function of its seed
  * and sizes: the same seed gives the same inputs, byte for byte.
  *
  * Documents are word salad over a 4,096-word vocabulary, 100–139 tokens
  * long. Two unrelated documents share essentially no word 3-shingle, and
  * a near edit replaces exactly one token of its cluster's original, so
  * any two members of one cluster differ by at most two tokens and have
  * shingle Jaccard ≥ (s-6)/(s+6) ≥ 0.88 (s ≥ 98 shingles), and every
  * member has Jaccard ≥ (s-3)/(s+3) ≥ 0.94 with the original. At those
  * similarities the 64-hash/16-band MinHash join misses a pair with
  * probability below 3e-7, so the planted clusters are the true near-dup
  * groups at the 0.7 threshold the program uses. */
object Gen {

  val stopwords: Vector[String] = Vector("the", "a", "of", "and", "is")

  /** Seed-independent vocabulary: distinct consonant-vowel words. */
  lazy val vocab: Vector[String] = {
    val rnd = new SplittableRandom(7L)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096) {
      val syl = 2 + rnd.nextInt(3)
      val w = (0 until syl).map(_ =>
        s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}").mkString
      if (!stopwords.contains(w)) seen += w
    }
    seen.toVector
  }

  /** One generated document. `cluster` is its planted near-dup group. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
                       cluster: Int, lowQuality: Boolean)

  private val langs = Vector("de", "en", "es", "fr", "zh")

  private def word(rnd: SplittableRandom): String =
    if (rnd.nextInt(100) < 8) stopwords(rnd.nextInt(stopwords.size))
    else vocab(rnd.nextInt(vocab.size))

  /** A long document; one in ten carries an email and a 7-digit number. */
  private def original(rnd: SplittableRandom): Array[String] = {
    val toks = Array.fill(100 + rnd.nextInt(40))(word(rnd))
    if (rnd.nextInt(10) == 0) {
      toks(rnd.nextInt(toks.length)) = s"${vocab(rnd.nextInt(vocab.size))}$emailHost"
      toks(rnd.nextInt(toks.length)) = (1000000 + rnd.nextInt(9000000)).toString
    }
    toks
  }

  /** Every planted email address ends with this. */
  val emailHost = "@example.org"

  /** A short, stopword-heavy document: quality score well below 0.5. */
  private def lowQuality(rnd: SplittableRandom): Array[String] =
    Array.fill(12 + rnd.nextInt(8))(
      if (rnd.nextBoolean()) stopwords(rnd.nextInt(stopwords.size))
      else vocab(rnd.nextInt(vocab.size)).take(3))

  /** Replace one token with a different vocabulary word. */
  private def edit(rnd: SplittableRandom, toks: Array[String]): Array[String] = {
    val out = toks.clone()
    val i = rnd.nextInt(out.length)
    var w = vocab(rnd.nextInt(vocab.size))
    while (w == out(i)) w = vocab(rnd.nextInt(vocab.size))
    out(i) = w
    out
  }

  private final case class Proto(toks: Array[String], cluster: Int, lowQuality: Boolean)

  /** Planted duplicate shares of a generated corpus. */
  final case class Shares(exact: Double, near: Double, lowQuality: Double)

  /** A corpus of `n` documents with ids `0 until n`, in a seeded order (a
    * cluster's original is not always its smallest id). `shares.exact` of
    * the documents copy an original verbatim, `shares.near` are one-token
    * edits of one; the rest are originals, of which `shares.lowQuality`
    * are short stopword-heavy singletons. */
  def corpus(seed: Long, n: Int, shares: Shares): Vector[Doc] = {
    val rnd = new SplittableRandom(seed)
    val nExact = math.round(n * shares.exact).toInt
    val nNear = math.round(n * shares.near).toInt
    val nOrig = n - nExact - nNear
    val nLow = math.round(n * shares.lowQuality).toInt
    val origs = (0 until nOrig).map { c =>
      if (c < nLow) Proto(lowQuality(rnd), c, lowQuality = true)
      else Proto(original(rnd), c, lowQuality = false)
    }
    val good = origs.drop(nLow)
    val copies = (0 until nExact).map(_ => good(rnd.nextInt(good.size)))
    val edits = (0 until nNear).map { _ =>
      val o = good(rnd.nextInt(good.size))
      o.copy(toks = edit(rnd, o.toks))
    }
    shuffle(rnd, origs ++ copies ++ edits).zipWithIndex.map { case (p, i) =>
      Doc(i.toLong, p.toks.mkString(" "), langs(rnd.nextInt(langs.size)),
        s"src${rnd.nextInt(20)}", p.cluster, p.lowQuality)
    }
  }

  private def shuffle[T](rnd: SplittableRandom, xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** The release composition's planted result: the smallest id of every
    * cluster whose original passes the quality threshold. */
  def releaseKept(docs: Seq[Doc]): Set[Long] =
    docs.filterNot(_.lowQuality).groupBy(_.cluster).values.map(_.map(_.id).min).toSet

  /** Write documents as the corpus `documents` table schema. */
  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String, parts: Int): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(parts, $"doc_id")
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(path)
  }

  /** The sf0.1-shaped star schema (FIXTURES.md row counts and schemas):
    * region 5, nation 25, customer 15,000, orders 150,000, lineitem
    * 600,000, events 100,000. Fixed content: the reference surface is
    * queried read-only, and the workload seed varies only the calls. */
  def starSchema(spark: SparkSession, dir: String, parts: Int): Unit = {
    import spark.implicits._
    val seed = 42L
    def u(k: Int, n: Long) = pmod(xxhash64(lit(seed), lit(k), col("id")), lit(n))
    def pick(k: Int, vs: Seq[String]) =
      element_at(array(vs.map(lit): _*), (u(k, vs.size.toLong) + 1).cast("int"))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long) = spark.range(0, n, 1, parts)
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name").coalesce(1), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1), "nation")
    write(range(15000).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      (u(2, 1099999) / 100.0 - 999.99).as("c_acctbal"),
      pick(3, EtlCalls.segments).as("c_mktsegment")), "customer")
    write(range(150000).select(col("id").as("o_orderkey"),
      u(4, 15000).as("o_custkey"),
      pick(5, Seq("F", "O", "P")).as("o_orderstatus"),
      (u(6, 50000000) / 100.0 + 800).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + u(7, 3650) * 86400).as("o_orderdate"),
      pick(8, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders")
    write(range(600000).select(u(10, 150000).as("l_orderkey"),
      u(11, 20000).as("l_partkey"), u(12, 1000).as("l_suppkey"),
      (u(13, 7) + 1).cast("int").as("l_linenumber"),
      (u(14, 50) + 1).cast("double").as("l_quantity"),
      (u(15, 10000000) / 100.0 + 900).as("l_extendedprice"),
      (u(16, 11) / 100.0).as("l_discount"),
      (u(17, 9) / 100.0).as("l_tax"),
      pick(18, Seq("A", "N", "R")).as("l_returnflag"),
      pick(19, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(20, 3650) * 86400).as("l_shipdate")),
      "lineitem")
    write(range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 30000000L + u(21, 30000000))
        .as("ts"),
      u(22, 2000).as("user_id"),
      pick(23, EtlCalls.eventTypes).as("event_type"),
      (u(24, 100000) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(25, 100), lit("}")).as("props")), "events")
  }
}
