package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation: its type, timing, work size and outcome. */
final class OpRecord(val client: Int, val seq: Int, val phase: String) {
  var kind: String = "unknown"
  var startNs: Long = 0L
  var latencyNs: Long = -1L
  var items: Long = 0L
  var rootSpan: Long = 0L
  var error: String = null
  /** Layer counters of this operation (rows, files, bytes), measured in
    * both modes from the operation's outputs.
    */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Output checks of this operation, run after the measured window so
    * the window holds operations only.
    */
  var deferred: () => Unit = () => ()

  def ok: Boolean = error == null && latencyNs >= 0
  def latencyMs: Double = if (ok) latencyNs / 1e6 else Double.PositiveInfinity

  /** Time `body` as this operation, under a root span named `kind`. */
  def timed[A](tracer: Tracer, kind: String, items: Long)(body: => A): A = {
    this.kind = kind
    tracer.op(kind) { root =>
      rootSpan = root.id
      startNs = root.start
      val out = body
      latencyNs = System.nanoTime() - root.start
      this.items = items
      out
    }
  }
}

/** Output checks. A failed check marks the run incorrect; it never throws,
  * so the run still reports what it measured.
  */
object Checks {
  private val failures = new ConcurrentLinkedQueue[String]()
  private val passed = new java.util.concurrent.atomic.AtomicLong()

  def check(cond: Boolean, msg: => String): Unit =
    if (cond) passed.incrementAndGet() else failures.add(msg)

  def all: Seq[String] = failures.asScala.toSeq
  def nPassed: Long = passed.get
}

/** A benchmark workload: seeded set-up, then a closed loop of operations. */
trait Workload {
  def name: String
  def clients: Int = 1
  /** Untimed operations per client before the window, so the JIT and the
    * engine's lazy initialisation do not land in the first timed ones.
    */
  def warmupOps: Int = 1
  /** Operation types a client cycles through; the traced window runs at
    * least one operation of each, so every layer gets a value.
    */
  def opTypes: Int = 1
  /** Item unit of the throughput metric (documents or questions). */
  def itemUnit: String
  /** Build fresh state under `dir` (input generation, training, index). */
  def setup(dir: String): Unit
  /** One operation: generate its input, call `rec.timed` around the engine
    * calls, then check the outputs.
    */
  def op(rec: OpRecord): Unit
  /** Whether this set-up checks its outputs (only the last one does: its
    * state is the one the window uses), and the time that took, which is
    * not counted as set-up time.
    */
  var checkSetup = true
  var setupCheckNs = 0L
  /** Timed operations of the last set-up (the serve store's uploads). */
  def setupOps: Seq[OpRecord] = Nil
  /** Checks over the state the whole run left behind. */
  def finish(): Unit = ()
  /** Extra per-layer values measured once per run (not per operation). */
  def runCounters: Map[String, Double] = Map.empty
  /** Fingerprint of the generated inputs of set-up and the first
    * operations, independent of how many operations a run completes.
    */
  val inputs = new InputDigest
  def describe: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, tracer: Tracer): Workload =
    name match {
      case "serve" => new ServeWorkload(spark, seed, tracer)
      case "curate" => new CurateWorkload(spark, seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
