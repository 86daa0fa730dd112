package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload run in one JVM: set up several times, warm up untimed,
  * then run ops in a closed loop with one client for `seconds`, check the
  * outputs and write `result.json` into the work directory.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores> */
object Main {
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "etl_reference" => new EtlReference(spark, seed, cores, work)
      case "corpus_release" => new CorpusRelease(spark, seed, cores, work, 12000,
        Gen.Shares(exact = 0.10, near = 0.10, lowQuality = 0.04))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val result = new Harness(spark, w, workload, seed, seconds, traced, cores, work, sessionS).run()
    val out = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try out.print(Json(result)) finally out.close()
    spark.stop()
  }
}

/** One timed op. `startNs`/`wallNs` are nanoTime values; `outBytes` is
  * what the op wrote or returned. */
final case class OpRun(i: Int, wallNs: Long, outBytes: Long, traced: Boolean,
                       startNs: Long, engine: Option[EngineStats], gcMs: Long)

/** The per-layer metrics of a traced run, with their units. Every one is
  * reported for every workload; a layer a workload does not reach
  * reads 0. */
object PerLayer {
  val spanNames: Seq[String] = EtlReference.spans ++ CorpusRelease.spans
  val units: ListMap[String, String] = ListMap(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio",
    "spark.task_skew" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes",
    "jvm.gc_s" -> "s", "io.input_bytes" -> "bytes", "io.output_bytes" -> "bytes") ++
    spanNames.map(n => s"${n}_s" -> "s") ++ ListMap(
    "ext.dedup.candidate_pairs" -> "count", "ext.dedup.verified_pairs" -> "count",
    "ext.dedup.verify_yield" -> "ratio",
    "setup.session_s" -> "s", "setup.generate_s" -> "s",
    "trace.overhead_share" -> "ratio")
}

final class Harness(spark: SparkSession, w: Workload, name: String, seed: Long,
                    seconds: Double, traced: Boolean, cores: Int, work: String,
                    sessionS: Double) {

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def now(): Long = System.nanoTime()

  def run(): ListMap[String, Any] = {
    // set-up, repeated: the median repetition is the reported one; the
    // last repetition's inputs are the measured ones
    val reps = (0 until Main.setupReps).map { r =>
      val t = w.setup(s"$work/input$r")
      if (r > 0) Disk.delete(s"$work/input${r - 1}")
      t
    }
    val setupS = sessionS + Stats.median(reps)
    val warm0 = now()
    w.warmup()
    val warmupS = (now() - warm0) / 1e9

    val probe = if (traced) Some(new EngineProbe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    // listener events of what ran before are dropped, so that the next
    // take() holds the next op's alone
    def drained(): Option[EngineStats] = probe.map { p =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      p.take()
    }
    val tracer = new Tracer(traced)
    val off = new Tracer(false)

    val done = mutable.ArrayBuffer.empty[OpRun]
    var attempted = 0
    var failed = 0

    def timed(i: Int, tr: Tracer, canonical: Boolean): Unit = {
      attempted += 1
      drained()
      val g0 = gcMs()
      val startNs = now()
      try {
        val out = graft.Ckpt.releasing(tr.op(i.toString)(w.op(i, tr, canonical)))
        val wall = now() - startNs
        val g1 = gcMs()
        done += OpRun(i, wall, out, tr.on, startNs, drained(), g1 - g0)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"op $i failed: $e")
      }
    }

    // calibrates nanoTime against the epoch, for Spark's millisecond task
    // timestamps
    val epochNs0 = System.currentTimeMillis() * 1000000L
    val nano0 = now()
    val windowEnd = now() + (seconds * 1e9).toLong
    var i = 0
    while ((now() < windowEnd || i % w.cycle != 0) && w.hasOp(i)) {
      if (!traced) timed(i, tracer, canonical = true)
      else {
        // each op untraced and traced, alternating which goes first, for
        // the tracing overhead
        if (i % 2 == 0) { timed(i, off, canonical = false); timed(i, tracer, canonical = true) }
        else { timed(i, tracer, canonical = true); timed(i, off, canonical = false) }
      }
      i += 1
    }
    if (traced) {
      drained()
      w.probe(tracer)
    }
    val canonicalOps = done.toSeq.filter(d => d.traced == traced)
    val check0 = now()
    val failedChecks = w.check(canonicalOps.map(_.i)).toSet
    val checkS = (now() - check0) / 1e9
    failed += failedChecks.size
    val measured = canonicalOps.filterNot(d => failedChecks.contains(d.i))
    require(measured.nonEmpty, "no op completed in the timed window")

    val walls = measured.map(_.wallNs / 1e9)
    val tail = Stats.tail(walls)

    val metrics: ListMap[String, (Double, String)] =
      if (!traced) ListMap(
        "setup_s" -> (setupS, "s"),
        "op_p50_s" -> (Stats.median(walls), "s"),
        "op_tail_s" -> (tail.value, "s"),
        "queries_per_s" -> (measured.size / walls.sum, "1/s"),
        "peak_rss_mb" -> (peakRssMb(), "MB"),
        "bytes_written_per_input_byte" ->
          (measured.map(_.outBytes).sum.toDouble / measured.size / w.inputBytes, "ratio"))
      else {
        val layer = layerValues(measured, epochNs0, nano0, tracer.spans)
        val missing = w.spans.filterNot(n => layer.getOrElse(s"${n}_s", 0.0) > 0)
        require(missing.isEmpty, s"traced run has no time for ${missing.mkString(", ")}")
        val values = layer ++
          w.counters ++ Map(
            "setup.session_s" -> sessionS,
            "setup.generate_s" -> Stats.median(reps),
            "trace.overhead_share" -> overheadShare(measured, done.toSeq.filterNot(_.traced)))
        PerLayer.units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
      }

    val accounted = tracer.spans.groupBy(_.op).forall { case (_, ss) =>
      val self = SelfTime(ss)
      ss.filter(_.parent == -1).forall(root => ss.map(s => self(s.id)).sum == root.dur)
    }
    ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "info" -> (ListMap[String, Any](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "input_dir" -> s"$work/input${Main.setupReps - 1}",
        "load_model" -> (s"one JVM, Spark local[$cores], spark.sql.shuffle.partitions=$cores, " +
          "one client thread, closed loop"),
        "nproc" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "input_bytes" -> w.inputBytes,
        "spark_storage_pool_bytes" ->
          org.apache.spark.SparkEnv.get.memoryManager.maxOnHeapStorageMemory,
        "ops_measured" -> measured.size,
        "op_walls_s" -> walls,
        "failed_share" -> failed.toDouble / math.max(attempted, 1),
        "op_tail_percentile" -> tail.percentile,
        "op_tail_samples_beyond" -> tail.beyond,
        "op_samples" -> tail.samples,
        "setup_reps_s" -> reps,
        "untraced_replays" -> done.filterNot(_.traced).map(d =>
          ListMap("op" -> d.i, "untraced_s" -> d.wallNs / 1e9,
            "traced_s" -> done.find(t => t.traced && t.i == d.i).map(_.wallNs / 1e9))),
        "warmup_s" -> warmupS,
        "check_s" -> checkS,
        "span_self_times_account_for_op_wall" -> accounted) ++ w.info))
  }

  /** VmHWM of this process: the peak resident set, in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.trim.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** (traced − untraced) / untraced wall, over the ops run both ways. */
  private def overheadShare(traced: Seq[OpRun], untraced: Seq[OpRun]): Double = {
    val t = traced.map(d => d.i -> d.wallNs).toMap
    val pairs = untraced.filter(u => t.contains(u.i)).map(u => (t(u.i), u.wallNs))
    val base = pairs.map(_._2).sum.toDouble
    if (base > 0) (pairs.map(_._1).sum - base) / base else 0.0
  }

  /** Per-op means of the engine and span figures over the traced ops. */
  private def layerValues(ops: Seq[OpRun], epochNs0: Long, nano0: Long,
                          spans: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    val eng = ops.map(_.engine.get)
    def perOp(f: EngineStats => Double) = eng.map(f).sum / n
    val wallS = ops.map(_.wallNs / 1e9)
    val gaps = ops.map { d =>
      val s = d.engine.get
      val startMs = (epochNs0 + (d.startNs - nano0)) / 1e6
      val endMs = startMs + d.wallNs / 1e6
      val busy = SelfTime.unionLength(s.taskIntervals.toSeq.map { case (a, b) =>
        (math.max(a.toDouble, startMs).toLong, math.min(b.toDouble, endMs).toLong)
      })
      math.max(0.0, d.wallNs / 1e9 - busy / 1e3)
    }
    val self = SelfTime(spans)
    val spanMeans = spans.filter(_.parent != -1).groupBy(_.name).map { case (k, ss) =>
      s"${k}_s" -> ss.map(s => self(s.id) / 1e9).sum / ss.size
    }
    Map(
      "catalyst.analysis_s" -> perOp(_.analysisMs / 1e3),
      "catalyst.optimization_s" -> perOp(_.optimizationMs / 1e3),
      "catalyst.planning_s" -> perOp(_.planningMs / 1e3),
      "spark.jobs" -> perOp(_.jobs),
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.task_busy_s" -> perOp(_.taskBusyMs / 1e3),
      "spark.core_util" -> eng.map(_.taskBusyMs / 1e3).sum / (wallS.sum * cores),
      "spark.task_skew" -> Stats.median(eng.map(_.worstStageSkew)),
      "shuffle.write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> perOp(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_s" -> perOp(_.fetchWaitMs / 1e3),
      "spill.bytes" -> perOp(_.spill.toDouble),
      "jvm.gc_s" -> ops.map(_.gcMs / 1e3).sum / n,
      "io.input_bytes" -> perOp(_.inputBytes.toDouble),
      "io.output_bytes" -> perOp(_.outputBytes.toDouble)
    ) ++ spanMeans
  }
}
