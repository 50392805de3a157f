package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the tracer, its own work
  * directory and the run's correctness and failure bookkeeping. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: java.nio.file.Path, val seed: Long) {
  val errors = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Seconds per operation name; a failed operation is an infinite
    * sample, so failures count as missed latency, not as absent data. */
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  /** Median seconds of operation `name`; 0 when it never ran. */
  def median(name: String): Double = Workload.medianOf(samples.get(name).fold(Seq.empty[Double])(_.toSeq))

  def path(name: String): String = dir.resolve(name).toString

  /** Record a wrong output; the run then reports `correct: false`. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && errors.length < 50 && !errors.contains(what)) errors += what

  def checkAll(problems: Seq[String]): Unit = problems.foreach(p => check(ok = false, p))

  /** One operation into the engine: counted as attempted, timed as a
    * span, and counted as failed (returning None) if it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val out = samples.getOrElseUpdate(name, ArrayBuffer.empty)
    try {
      val (v, s) = tracer.span(name)(body)
      out += s
      Some(v)
    } catch {
      case e: Exception =>
        failed += 1
        out += Double.PositiveInfinity
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** `collect()` with the planning step as its own span: from the built
    * DataFrame until `executedPlan` is ready, where the engine's
    * optimizer rules run. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    df.collect()
  }

  /** Drop persisted RDDs and cached tables between operations: the
    * engine's builders checkpoint eagerly and leave cleanup to callers. */
  def sweep(): Unit = graft.HarnessUtil.sweep(spark, gc = false)
}

/** One benchmark workload. `prepare` writes the seeded inputs; `warmUp`
  * runs every operation shape once; `iterate` runs one measured unit of work —
  * a fleet refresh or a corpus pass. */
trait Workload {
  /** Writes the inputs under the work directory; returns their digest. */
  def prepare(): String
  def warmUp(): Unit
  /** Plain-Scala ground truth, computed once from the generated inputs. */
  def computeTruth(): Unit
  /** Forget what the warm-ups recorded, so only measured iterations count. */
  def startMeasure(): Unit
  def iterate(): Unit
  /** The end-to-end metrics, each as (value, unit). */
  def endToEnd(): Map[String, (Double, String)]
  /** The same numbers under the names a reader of this workload uses. */
  def detail(): Map[String, (Double, String)]
  /** Per-layer metrics read from the traced iterations. */
  def perLayer(): Map[String, (Double, String)]
}

object Workload {
  /** Median seconds of the spans named `name`; 0 when none ran. */
  def medianSeconds(t: Tracer, name: String): Double = {
    val s = t.named(name)
    if (s.isEmpty) 0.0 else Stats.median(s.map(_.seconds))
  }

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally walk.close()
    }

  def hex(digest: java.security.MessageDigest): String = digest.digest().map("%02x".format(_)).mkString
}
