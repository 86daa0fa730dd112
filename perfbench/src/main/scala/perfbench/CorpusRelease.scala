package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, TextOps}
import graft.io.{Sinks, Tables}

/** `corpus_release`: the release composition of the registry's
  * `pipeline_release` query, run back to back over one generated corpus:
  * exact dedup → near-dup pairs → drop near-dup groups → quality, split
  * and redaction → parquet sink. */
final class CorpusRelease(spark: SparkSession, seed: Long, cores: Int, work: String,
                          docCount: Int, shares: Gen.Shares) extends Workload {
  private var dir = ""
  private var docs = Vector.empty[Gen.Doc]
  private var textBytes = 0L
  private var candidates = -1L
  private var verified = -1L

  def setup(d: String): Double = {
    dir = d
    val t0 = System.nanoTime()
    docs = Gen.corpus(seed, docCount, shares)
    Gen.writeDocs(spark, docs, s"$dir/documents.parquet", cores)
    textBytes = docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
    (System.nanoTime() - t0) / 1e9
  }

  private def out(i: Int, canonical: Boolean) =
    s"$work/release/op$i${if (canonical) "" else "_replay"}"

  private var warmupWalls = Vector.empty[Double]

  /** Three full releases, discarded, their walls kept for the result.
    * The first releases of a JVM are slow while the hot paths get compiled
    * (about 12, 7 and 6 s on a shared 4-core box, against 4.5 to 5 s
    * later). */
  def warmup(): Unit = (1 to 3).foreach { k =>
    val path = s"$work/release/warmup$k"
    val t0 = System.nanoTime()
    graft.Ckpt.releasing(release(documents, new Tracer(false), path))
    warmupWalls :+= (System.nanoTime() - t0) / 1e9
    Disk.delete(path)
  }

  def hasOp(i: Int): Boolean = true

  /** Traced, each stage is materialized (persisted and counted) before the
    * next starts, so that its span holds only its own work. */
  private def staged(tr: Tracer, df: DataFrame): DataFrame =
    if (tr.on) { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p } else df

  private def documents: DataFrame = Tables(spark, dir).documents

  private def survivors(d: DataFrame): DataFrame = {
    val kept = Dedup.exactDedupGroups(d, "text", "doc_id").select(col("keep_id").as("doc_id"))
    d.join(kept, Seq("doc_id"), "left_semi")
  }

  def op(i: Int, tr: Tracer, canonical: Boolean): Long = {
    val path = out(i, canonical)
    release(documents, tr, path)
    val written = Disk.sizeOf(path)
    if (!canonical) Disk.delete(path)
    written
  }

  private def release(src: DataFrame, tr: Tracer, path: String): Unit = {
    val d1 = tr.span("ext.dedup.exact") {
      val p = survivors(src).persist(StorageLevel.MEMORY_AND_DISK)
      if (tr.on) p.count()
      p
    }
    val pairs = tr.span("ext.dedup.near_pairs") {
      Dedup.nearDupPairs(d1, "doc_id", "text", threshold = 0.7)
    }
    val d2 = tr.span("ext.dedup.drop_groups") {
      staged(tr, Dedup.dropNearDupGroups(d1, pairs, "doc_id"))
    }
    val q = tr.span("ext.text.quality") {
      staged(tr, TextOps.qualityColumns(d2, "text")
        .where(col("q_score") >= 0.5)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("q_score"),
          TextOps.splitLabel(col("text")).as("split"),
          TextOps.redact(col("text")).as("redacted")))
    }
    tr.span("io.sinks.parquet")(Sinks.parquet(q, path))
    if (tr.on) {
      if (verified < 0) verified = pairs.count()
      q.unpersist()
      d2.unpersist()
    }
    d1.unpersist()
  }

  /** `Dedup.minhashBands` alone over the staged exact-dedup survivors,
    * and the LSH candidate count for the verify yield. */
  override def probe(tr: Tracer): Unit = {
    val d1 = survivors(documents).persist(StorageLevel.MEMORY_AND_DISK)
    d1.count()
    tr.op("kernel") {
      tr.span("functions.minhash_bands") {
        Dedup.minhashBands(d1, "doc_id", "text").write.format("noop").mode("overwrite").save()
      }
    }
    candidates = graft.Ckpt.releasing(Dedup.nearDupCandidates(d1, "doc_id", "text").count())
    d1.unpersist()
  }

  override def counters: Map[String, Double] =
    if (candidates < 0) Map.empty
    else Map("ext.dedup.candidate_pairs" -> candidates.toDouble,
      "ext.dedup.verified_pairs" -> verified.toDouble,
      "ext.dedup.verify_yield" -> verified.toDouble / math.max(candidates, 1L))

  /** Every op's output must hold exactly the planted kept set, with no
    * email left in the redacted text. */
  def check(ops: Seq[Int]): Seq[Int] = {
    val want = Gen.releaseKept(docs)
    val pii = docs.filter(_.text.contains(Gen.emailHost)).map(_.id).toSet
    ops.filterNot { i =>
      val r = spark.read.parquet(out(i, canonical = true))
        .select(col("doc_id"), col("split"),
          col("redacted").rlike("@example\\.org").as("leak"),
          col("redacted").contains("[EMAIL]").as("masked"))
        .collect()
      val ids = r.map(_.getLong(0))
      ids.length == want.size && ids.toSet == want &&
        r.forall(x => Set("train", "dev", "test").contains(x.getString(1)) &&
          !x.getBoolean(2) && x.getBoolean(3) == pii.contains(x.getLong(0)))
    }
  }

  def inputBytes: Long = textBytes

  def spans: Seq[String] = CorpusRelease.spans

  def info: ListMap[String, Any] = ListMap(
    "docs" -> docs.size,
    "warmup_walls_s" -> warmupWalls,
    "planted_exact_share" -> shares.exact,
    "planted_near_share" -> shares.near,
    "planted_low_quality_share" -> shares.lowQuality,
    "kept_share" -> Gen.releaseKept(docs).size.toDouble / docs.size)
}

object CorpusRelease {
  /** The span of each release step, and of the kernel probe. */
  val spans: Seq[String] = Seq("ext.dedup.exact", "ext.dedup.near_pairs",
    "ext.dedup.drop_groups", "ext.text.quality", "io.sinks.parquet", "functions.minhash_bands")
}
