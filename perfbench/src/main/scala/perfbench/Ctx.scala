package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One run's state: the session, the client loop's clock, the span
  * trace, the correctness ledger and the artifact sections.
  */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Double, val traced: Boolean, val work: String) {

  val trace = new Trace(spark, cores, traced)
  var attempted = 0L
  var failed = 0L
  /** JVM-wide GC time during timed ops (driver and executors share the
    * JVM in local mode).
    */
  var opGcMs = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val artifact = mutable.LinkedHashMap.empty[String, Any]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]

  private val born = System.nanoTime()
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%6.1fs] $msg")

  /** A timed operation of the workload: one attempt in the ledger. A
    * throw counts as failed and yields no timing.
    */
  def op[A](module: String, name: String, tag: String = "")(f: => A): Option[(A, Trace.Span)] = {
    attempted += 1
    val gc0 = Ctx.gcMs()
    try Some(trace.span(module, name, tag)(f))
    catch {
      case NonFatal(e) =>
        fail(1, s"$module.$name threw: $e")
        None
    } finally opGcMs += Ctx.gcMs() - gc0
  }

  /** Set while the negative control runs: its failures are expected. */
  var inControl = false

  def fail(n: Int, why: String): Unit = {
    failed += n
    if (failures.size < 20) failures += why
    progress(if (inControl) s"negative control caught: $why" else s"FAILED: $why")
  }

  /** How many calls of about `msPerCall` fill `share` of the run's
    * measured seconds, and at least `atLeast`. A function of `--seconds`
    * only, so a faster engine times the same calls.
    */
  def calls(share: Double, msPerCall: Double, atLeast: Int = 3): Int =
    math.max(atLeast, math.round(seconds * share * 1000 / msPerCall).toInt)

  def dataPath(name: String): String = java.nio.file.Paths.get(work, "data", name).toString

  /** A fresh directory under the run's work dir. */
  def freshDir(name: String): String = {
    val p = dataPath(name)
    delete(p)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    p
  }

  def delete(dirs: String*): Unit = dirs.foreach { d =>
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  def timeSec[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Set the workload up `reps` times from scratch and keep the last
    * one; set-up time is the median, and every rep must write
    * byte-identical inputs.
    */
  def setupReps[A](reps: Int)(one: Int => (A, String)): A = {
    val runs = (1 to reps).map { r =>
      val ((a, digest), s) = timeSec(one(r))
      progress(f"setup $r/$reps: $s%.2f s")
      (a, digest, s)
    }
    endToEnd("setup_s") = Stats.median(runs.map(_._3))
    artifact("setup_s_reps") = runs.map(_._3)
    artifact("input_digest") = runs.last._2
    if (runs.map(_._2).distinct.size != 1)
      fail(1, s"same seed wrote different inputs: ${runs.map(_._2).distinct}")
    runs.last._1
  }

  /** Generic Spark accounting over the workload's timed calls. */
  def recordWork(calls: Seq[Trace.Span]): Unit = if (traced) {
    val w = trace.work(calls)
    artifact("op_work") = w.toMap
    val n = math.max(1, w.calls).toDouble
    perLayer("jobs_per_op") = w.jobs / n
    perLayer("tasks_per_op") = w.tasks / n
    perLayer("driver_gap_share") = if (w.wallMs > 0) w.gapMs / w.wallMs else 0.0
    perLayer("cpu_util") = w.cpuUtil
    perLayer("gc_ms_per_op") = opGcMs / n
    perLayer("shuffle_write_kb_per_op") = w.shWrite / 1024.0 / n
    perLayer("input_rows_per_op") = w.inRows / n
    perLayer("max_task_share") = w.maxTaskShare
  }
}

object Ctx {
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
