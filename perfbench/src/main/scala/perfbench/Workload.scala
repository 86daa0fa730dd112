package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One benchmark workload. The harness calls `setup` several times (the
  * last call's inputs are the ones measured), then `warmup`, then `op`
  * in a closed loop; `check` runs after the timed window. */
trait Workload {
  /** Generate the inputs under `dir`; returns the seconds it took. */
  def setup(dir: String): Double

  /** Untimed first pass over the code paths the ops take. */
  def warmup(): Unit

  /** False once the generated inputs are used up. */
  def hasOp(i: Int): Boolean

  /** Ops run in whole cycles of this many: the cycle that starts inside
    * the timed window runs to its end. */
  def cycle: Int = 1

  /** The spans every traced run must report: one per layer call the ops
    * make. */
  def spans: Seq[String]

  /** Op `i`. Traced, each layer call runs in its own span and forces its
    * output to materialize. `canonical` is false for an untraced replay
    * of a traced op, whose output is discarded. Returns the bytes the op
    * wrote or returned to the client. */
  def op(i: Int, tr: Tracer, canonical: Boolean): Long

  /** Traced runs only: extra layer measurements, taken once after the
    * timed window. */
  def probe(tr: Tracer): Unit = ()

  /** Workload counters for the per-layer report. */
  def counters: Map[String, Double] = Map.empty

  /** Output checks over the canonical ops: indices of ops that failed. */
  def check(ops: Seq[Int]): Seq[Int]

  /** Bytes of the inputs each op covers. */
  def inputBytes: Long

  /** Properties of the generated inputs, for the result file. */
  def info: ListMap[String, Any]
}

object Disk {
  def sizeOf(path: String): Long = {
    val p = new File(path).toPath
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = new File(path).toPath
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
