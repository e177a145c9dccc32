package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload gets: the session, the generated tables, a private
  * scratch directory, the seed, the measuring time and the tracer. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
    seed: Long, seconds: Int, tracer: Tracer, counters: SparkCounters) {
  def log(msg: String): Unit = Log(msg)
  def dir(name: String): String = {
    val d = new java.io.File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** What a workload reports: op accounting, output checks and metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics, every workload the same names. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own end-to-end figures, by the names of its op classes. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics; only a traced run fills them. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def correct: Boolean = problems.isEmpty
  def failures: Seq[String] = problems.toSeq

  /** Record a failed output check. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.size < 50) problems += what

  /** Run one client op: a thrown call counts as failed and adds no sample. */
  def op[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        check(false, s"op failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
}

/** A workload: set up (timed several times), then measure. */
trait Workload {
  def name: String
  def run(ctx: Ctx, out: Outcome): Unit
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2fs] $msg")
}

object Time {
  def ms[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}

/** Per-layer metrics every workload shares. */
object Layers {
  def spark(out: Outcome, w: SparkWork): Unit = {
    out.layer("spark.jobs") = (w.jobs.toDouble, "count")
    out.layer("spark.stages") = (w.stages.toDouble, "count")
    out.layer("spark.tasks") = (w.tasks.toDouble, "count")
    out.layer("spark.task_run_ms") = (w.taskRunMs.toDouble, "ms")
    out.layer("spark.task_cpu_ms") = (w.taskCpuMs.toDouble, "ms")
    out.layer("spark.shuffle_write_bytes") = (w.shuffleWriteBytes.toDouble, "B")
  }
}
