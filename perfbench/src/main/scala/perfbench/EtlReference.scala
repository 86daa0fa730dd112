package perfbench

import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{GeoFilter, Ipeds, Onet, OnetCols, Rosetta}
import graft.io.Tables

/** One reference-surface call: the API entry point and its parameters. */
final case class Call(kind: String, params: ListMap[String, Any]) {
  def key: String = Json(ListMap("kind" -> kind) ++ params)
}

/** The seeded parameter stream of `etl_reference`. Every choice selects
  * the same number of values (two of five regions, 200 of 2,000 users,
  * ...), so a seed changes which rows a call reads, not how many. */
object EtlCalls {
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  /** Award codes as callers write them: unpadded; the API pads them. */
  val codes: Seq[String] = for (f <- Seq("A", "N", "R"); l <- 1 to 7) yield s"$f.$l"

  /** The call kinds, in the order of the registry's reference entries
    * q1–q8 (`graft.queries.ApiQueries`). */
  val kinds = Seq("getUnitIds", "schoolQuery", "awards", "programs", "schoolsDistinct",
    "quantLong", "quantWide", "qualOneHot", "translate", "translateExplode")

  /** The API entry point (span name) each kind calls. */
  def entry(kind: String): String = if (kind == "translateExplode") "translate" else kind

  private def some[T](rnd: SplittableRandom, xs: Seq[T], k: Int): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    (0 until k).map(_ => a.remove(rnd.nextInt(a.size)))
  }

  private def oneOf[T](rnd: SplittableRandom, xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  /** Parameters of the `nth` call of `kind`. The seed draws which values
    * a call selects; the call's shape (kept columns, measure set, join
    * type) cycles with `nth`, so that every window holds the same mix of
    * shapes and returns about as many bytes whatever the seed. */
  private def params(rnd: SplittableRandom, kind: String, nth: Int): ListMap[String, Any] = {
    def cyc[T](xs: T*): T = xs(nth % xs.size)
    kind match {
      case "getUnitIds" => ListMap("regions" -> some(rnd, regions, 2),
        "keep" -> cyc(None, Some("nation_label"), Some("region_name"), Some("mktsegment")))
      case "schoolQuery" => ListMap("segments" -> some(rnd, segments, 2),
        "codes" -> some(rnd, codes, 2),
        "geo" -> cyc(None, Some("region_name"), Some("nation_name")))
      case "awards" =>
        val labelled = some(rnd, codes, 2)
        ListMap("regions" -> some(rnd, regions, 2),
          "how" -> cyc("total", "detail"),
          "level" -> oneOf(rnd, Seq(None, Some(4))),
          "geo" -> cyc(None, Some("region_name"), Some("nation_name")),
          "labels" -> ListMap(labelled.map(c =>
            graft.ops.Recode.zeroPadCodeStr(c) -> s"Label ${100 + rnd.nextInt(900)}"): _*))
      case "programs" => ListMap("segments" -> some(rnd, segments, 2),
        "geo" -> cyc(None, Some("region_name")),
        "codes" -> some(rnd, codes, 3))
      case "schoolsDistinct" => ListMap("regions" -> some(rnd, regions, 2),
        "geo" -> cyc("nation_name", "region_name", "mktsegment"))
      case "quantLong" | "quantWide" => ListMap(
        "socs" -> some(rnd, (0L until 2000L), 200).sorted,
        "scale" -> oneOf(rnd, Seq("IM", "LV")))
      case "qualOneHot" => ListMap("socs" -> some(rnd, (0L until 2000L), 200).sorted)
      case "translate" => ListMap("how" -> cyc("inner", "left"),
        "drop_region" -> rnd.nextInt(5))
      case "translateExplode" => ListMap("tag" -> oneOf(rnd, Seq("ALL", "ANY", "TOP", "NEW")))
    }
  }

  /** `n` calls, round robin over [[kinds]]: every cycle of
    * `kinds.size` calls holds one call of each kind. */
  def stream(seed: Long, n: Int): Vector[Call] = {
    val rnd = new SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      val k = kinds(i % kinds.size)
      Call(k, params(rnd, k, i / kinds.size))
    }
  }

  private def strs(v: Any): Seq[String] = v.asInstanceOf[Seq[String]]
  private def opt(v: Any): Option[String] = v.asInstanceOf[Option[String]]
  private def longs(v: Any): Seq[Any] = v.asInstanceOf[Seq[Long]]

  private val onetCols = OnetCols("user_id", "event_type", "scale", "value")

  /** events as the O*NET long table: the IM/LV scale comes from the
    * event id's parity, as in the registry's Q6/Q7 queries. */
  private def onetEvents(t: Tables): DataFrame =
    t.events.withColumn("scale",
      when(col("event_id") % 2 === 0, lit("IM")).otherwise(lit("LV")))

  /** Build the call's DataFrame through the public API. */
  def run(t: Tables, c: Call): DataFrame = {
    val p = c.params
    c.kind match {
      case "getUnitIds" =>
        Ipeds.getUnitIds(t, GeoFilter(regionNames = strs(p("regions"))), opt(p("keep")))
      case "schoolQuery" =>
        Ipeds.schoolQuery(t, GeoFilter(mktSegments = strs(p("segments"))),
          strs(p("codes")), opt(p("geo")))
      case "awards" =>
        Ipeds.awards(t, GeoFilter(regionNames = strs(p("regions"))),
          how = p("how").toString, level = p("level").asInstanceOf[Option[Int]],
          geographyCol = opt(p("geo")),
          labels = p("labels").asInstanceOf[Map[String, String]])
      case "programs" =>
        Ipeds.programs(t, GeoFilter(mktSegments = strs(p("segments"))),
          opt(p("geo")), strs(p("codes")))
      case "schoolsDistinct" =>
        Ipeds.schoolsDistinct(t, GeoFilter(regionNames = strs(p("regions"))),
          p("geo").toString)
      case "quantLong" =>
        Onet.quantLong(onetEvents(t), onetCols, longs(p("socs")), p("scale").toString)
      case "quantWide" =>
        Onet.quantWide(onetEvents(t), onetCols, longs(p("socs")), p("scale").toString,
          eventTypes)
      case "qualOneHot" =>
        Onet.qualOneHot(onetEvents(t), onetCols, longs(p("socs")), eventTypes)
      case "translate" =>
        val d = p("drop_region").asInstanceOf[Int]
        val data = t.customer.withColumnRenamed("c_nationkey", "n_nationkey")
        val stone = t.nation.where(col("n_regionkey") =!= d)
        if (p("how") == "inner")
          Rosetta.translate(data, stone, "n_nationkey", "n_regionkey",
            data2 = Some(t.region.withColumnRenamed("r_regionkey", "n_regionkey")))
            .select("c_custkey", "n_regionkey", "r_name")
        else
          Rosetta.translate(data.select("c_custkey", "n_nationkey"), stone,
            "n_nationkey", "n_regionkey", how = "left")
            .select("c_custkey", "n_regionkey")
      case "translateExplode" =>
        val stone = t.nation
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"),
            concat(lit("['"), col("r_name"), lit(s"', '${p("tag")}']")).as("tags"))
        Rosetta.translate(t.customer.withColumnRenamed("c_nationkey", "n_nationkey"),
          stone, "n_nationkey", "tags", listCols = Set("tags"))
          .select("c_custkey", "tags")
    }
  }
}

/** `etl_reference`: the seeded stream of reference-surface calls over the
  * sf0.1-shaped star schema. Each op is one call whose rows the client
  * collects. Its output check compares each distinct call once against
  * DuckDB SQL over the same parquet, after the JVM exits. */
final class EtlReference(spark: SparkSession, seed: Long, cores: Int, work: String)
    extends Workload {
  private var dir = ""
  private val calls = EtlCalls.stream(seed, 400)
  private var schemaBytes = 0L
  // the rows each distinct call returned, and how many ops ran it
  private val results = mutable.LinkedHashMap.empty[String, (Call, Seq[String], Array[Row])]
  private val opCall = mutable.HashMap.empty[Int, String]

  def setup(d: String): Double = {
    dir = d
    val t0 = System.nanoTime()
    Gen.starSchema(spark, dir, cores)
    val gen = (System.nanoTime() - t0) / 1e9
    schemaBytes = Disk.sizeOf(dir)
    gen
  }

  /** Two passes over every kind of call, discarded. */
  def warmup(): Unit = EtlCalls.stream(seed + 1, 2 * EtlCalls.kinds.size)
    .foreach(c => EtlCalls.run(Tables(spark, dir), c).collect())

  def hasOp(i: Int): Boolean = i < calls.size

  def op(i: Int, tr: Tracer, canonical: Boolean): Long = {
    val c = calls(i)
    val rows = tr.span(s"api.${EtlCalls.entry(c.kind)}") {
      val df = EtlCalls.run(Tables(spark, dir), c)
      (df.columns.toSeq, df.collect())
    }
    if (canonical) {
      opCall(i) = c.key
      if (!results.contains(c.key)) results(c.key) = (c, rows._1, rows._2)
    }
    rows._2.iterator.map(r => Json(r.toSeq).getBytes("UTF-8").length.toLong).sum
  }

  /** The DuckDB comparison runs outside the JVM: write every distinct
    * call with its rows and the ops that ran it. */
  def check(ops: Seq[Int]): Seq[Int] = {
    val byKey = ops.groupBy(opCall)
    val out = results.map { case (k, (c, cols, rows)) =>
      ListMap("kind" -> c.kind, "params" -> c.params, "columns" -> cols,
        "rows" -> rows.toSeq.map(_.toSeq), "ops" -> byKey.getOrElse(k, Nil))
    }
    val w = new java.io.PrintWriter(s"$work/etl_calls.json", "UTF-8")
    try w.print(Json(out.toSeq)) finally w.close()
    Nil
  }

  def inputBytes: Long = schemaBytes

  override def cycle: Int = EtlCalls.kinds.size

  def spans: Seq[String] = EtlReference.spans

  def info: ListMap[String, Any] = ListMap(
    "star_schema" -> ("sf0.1 shape, fixed content (generator seed 42): region 5, nation 25, " +
      "customer 15,000, orders 150,000, lineitem 600,000, events 100,000 rows"),
    "call_kinds" -> EtlCalls.kinds)
}

object EtlReference {
  /** One span per API entry point the calls reach. */
  val spans: Seq[String] = EtlCalls.kinds.map(k => s"api.${EtlCalls.entry(k)}").distinct
}
