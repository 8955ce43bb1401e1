package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's calls into the engine, and — when
  * enabled — the Spark work each call caused, from a `SparkListener`
  * and the SQL-execution events. Calls come from one client thread, so
  * every job, stage and task that starts inside a span's interval
  * belongs to that call. Spans are always recorded (they are the
  * timings); the listener only in a traced run.
  */
final class Trace(spark: SparkSession, val cores: Int, val enabled: Boolean) {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskMax = mutable.HashMap.empty[(Int, Int), (Long, Long)]
  private val writes = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
        prop("spark.sql.execution.id").getOrElse(-1L),
        prop("spark.sql.execution.root.id").getOrElse(-1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null && e.taskMetrics != null) {
        val key = (e.stageId, e.stageAttemptId)
        val run = e.taskMetrics.executorRunTime
        val (mx, sum) = taskMax.getOrElse(key, (0L, 0L))
        taskMax(key) = (math.max(mx, run), sum + run)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null) {
        val (mx, sum) = taskMax.getOrElse((si.stageId, si.attemptNumber()), (0L, 0L))
        stages += StageRec(si.stageId, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), si.numTasks, tm.executorRunTime,
          tm.executorCpuTime / 1e6, tm.jvmGCTime, tm.inputMetrics.recordsRead,
          tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled, mx, sum)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        writtenArtifact(s.sparkPlanInfo).foreach(writes(s.executionId) = _)
      }
      case _ =>
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `f` as one call of `module.op`; `tag` classifies the call
    * (e.g. head/tail query). Times are wall clock.
    */
  def span[A](module: String, op: String, tag: String = "")(f: => A): (A, Span) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = f
    (a, Span(module, op, tag, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6))
  }

  /** Wait for the listener bus, then stop listening. */
  def close(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def jobsIn(s: Span): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.start >= s.start && j.start <= s.end).toSeq
      .map(j => j.copy(end = if (j.end < 0) s.end else math.min(j.end, s.end)))
  }

  def stagesIn(s: Span): Seq[StageRec] = synchronized {
    stages.filter(x => x.submit >= s.start && x.submit <= s.end).toSeq
  }

  /** The artifact a job's SQL execution wrote, if any. */
  def writeOf(j: JobRec): Option[String] = synchronized {
    writes.get(j.exec).orElse(writes.get(j.root))
  }

  /** Split a call's wall time over labelled job intervals: an instant
    * with n jobs running credits 1/n of it to each job's label, an
    * instant with none goes to `driver_gap`. The parts sum to the
    * call's wall time.
    */
  def timeline(s: Span, label: JobRec => String): Map[String, Double] = {
    val js = jobsIn(s).map(j => (j.start, math.max(j.start, j.end), label(j)))
    val cuts = (Seq(s.start, s.end) ++ js.flatMap(j => Seq(j._1, j._2))).distinct.sorted
    val acc = mutable.LinkedHashMap("driver_gap" -> 0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = js.filter(j => j._1 <= a && j._2 >= b)
        if (active.isEmpty) acc("driver_gap") += (b - a).toDouble
        else active.foreach(j => acc(j._3) = acc.getOrElse(j._3, 0.0) + (b - a).toDouble / active.size)
      case _ =>
    }
    acc.toMap
  }

  /** Spark work summed over calls (the traced per-call accounting). */
  def work(calls: Seq[Span]): Work = {
    val st = calls.flatMap(stagesIn)
    val heaviest = calls.flatMap { c =>
      val s = stagesIn(c)
      if (s.isEmpty) None else Some(s.maxBy(_.sumTaskMs))
    }
    Work(calls.size, calls.map(_.ms).sum, calls.map(c => jobsIn(c).size).sum,
      st.size, st.map(_.tasks).sum, st.map(_.runMs).sum.toDouble, st.map(_.cpuMs).sum,
      st.map(_.gcMs).sum.toDouble, st.map(_.inRows).sum, st.map(_.inBytes).sum,
      st.map(_.shRead).sum, st.map(_.shWrite).sum, st.map(_.spill).sum,
      calls.map(c => timeline(c, _ => "job")("driver_gap")).sum,
      Stats.median(heaviest.filter(_.sumTaskMs > 0)
        .map(h => h.maxTaskMs.toDouble / h.sumTaskMs)), cores)
  }
}

object Trace {
  final case class Span(module: String, op: String, tag: String, start: Long,
      end: Long, ms: Double)
  final case class JobRec(id: Int, start: Long, var end: Long, exec: Long, root: Long)
  final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int,
      runMs: Long, cpuMs: Double, gcMs: Long, inRows: Long, inBytes: Long,
      shRead: Long, shWrite: Long, spill: Long, maxTaskMs: Long, sumTaskMs: Long)

  final case class Work(calls: Int, wallMs: Double, jobs: Int, stages: Int,
      tasks: Int, runMs: Double, cpuMs: Double, gcMs: Double, inRows: Long,
      inBytes: Long, shRead: Long, shWrite: Long, spill: Long, gapMs: Double,
      maxTaskShare: Double, cores: Int) {
    private def mb(b: Long) = b / 1048576.0
    def cpuUtil: Double = if (wallMs > 0) cpuMs / (wallMs * cores) else 0.0
    def toMap: Map[String, Any] = Map("calls" -> calls, "wall_ms" -> wallMs,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "input_rows" -> inRows,
      "input_mb" -> mb(inBytes), "shuffle_read_mb" -> mb(shRead),
      "shuffle_write_mb" -> mb(shWrite), "spill_mb" -> mb(spill),
      "driver_gap_ms" -> gapMs, "cpu_util" -> cpuUtil,
      "max_task_share" -> maxTaskShare)
  }

  /** IndexBuilder artifact directories, in the order a build writes. */
  val Artifacts: Seq[String] = Seq("postings", "norms", "termstats", "stats", "hints", "manifest")

  /** The index artifact an execution writes: the path segment of its
    * insert command's output that names an artifact.
    */
  def writtenArtifact(plan: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] = {
    val cmd = "InsertIntoHadoopFsRelationCommand"
    def find(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
      if (p.nodeName.contains(cmd)) Some(p.simpleString)
      else p.children.iterator.map(find).collectFirst { case Some(x) => x }
    find(plan).flatMap { s =>
      val out = s.substring(s.indexOf(cmd) + cmd.length).trim.takeWhile(_ != ',')
      out.split('/').find(Artifacts.contains)
    }
  }
}
