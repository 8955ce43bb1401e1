package graft.tools

import graft.index.{AnnIndex, IndexBuilder, Wand}
import graft.operators.StreamingOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The dev-tool entry point: `runMain graft.tools.Probe <cmd> …`, one
  * session for the whole command, at [[graft.Bench.cores]].
  *
  *  - `time <sfDir> <q1,q2,…> [reps] [factors]`: each registry query
  *    `reps` times (default 2) on each ×factor replicated corpus
  *    (`factors` like `1,10,100`, default `1`; factor 1 reads `sfDir`
  *    as is). Prints every rep, then the min and the min per million
  *    docs — flat sec/Mdoc across factors means the op is linear in
  *    corpus size. The first rep absorbs codegen and JIT warm-up.
  *  - `profile <sfDir> <q>`: one untimed run, then one run under a job
  *    and stage listener and a sampler of the busy task threads' stacks
  *    (the session has no UI). Prints the hottest stacks, every job and
  *    every stage with its wall, tasks and run/cpu/gc/deserialize time.
  *  - `plans <sfDir> <outDir> <suffix> [q…]`: `explain("formatted")` of
  *    the named registry queries (all of them when none is named) to
  *    `<outDir>/<q>_<suffix>.txt`, plus the inner plans their registry
  *    forms hide: the Wand resident load (`wand_load_*`) and the
  *    q44/q45/q47 persisted-ANN searches (`q4x_search_inner`), whose
  *    registry forms collect the result before their temp index goes.
  *  - `dump <sfDir> <q> <outDir>`: the query's result as parquet in
  *    `<outDir>/<q>` and its oracle SQL in `<outDir>/<q>.sql`, for a
  *    DuckDB spot-check without a full Verify sweep.
  */
object Probe {

  private val usage: String = "usage: Probe time <sfDir> <q1,q2,...> [reps] [factors] | " +
    "profile <sfDir> <q> | plans <sfDir> <outDir> <suffix> [q...] | dump <sfDir> <q> <outDir>"

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.mkSession(graft.Bench.cores)
    try run(spark, args) finally spark.stop()
  }

  /** Run one command on a caller-owned session (never stopped here). */
  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: qs :: rest =>
      time(spark, sfDir, qs.split(",").toSeq, rest.headOption.fold(2)(_.toInt),
        rest.lift(1).fold(Seq(1))(_.split(",").map(_.toInt).toSeq))
    case "profile" :: sfDir :: q :: Nil => profile(spark, sfDir, q)
    case "plans" :: sfDir :: outDir :: suffix :: qs =>
      plans(spark, sfDir, outDir, suffix,
        if (qs.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted else qs)
    case "dump" :: sfDir :: q :: outDir :: Nil => dump(spark, sfDir, q, outDir)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def query(name: String) = graft.SparkEntry.queries.getOrElse(name,
    throw new IllegalArgumentException(s"no such query: $name"))

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int, factors: Seq[Int]): Unit =
    for (factor <- factors) {
      val (dir, nDocs) =
        if (factor == 1) (sfDir, graft.corpus.Corpus.documents(spark, sfDir).count())
        else graft.Bench.inflate(spark, sfDir, factor)
      try {
        for (name <- names) {
          val fn = query(name)
          val secs = (1 to reps).map { i =>
            val (s, n) = timed(fn(spark, dir).collect().length)
            println(f"[time] $name x$factor rep$i: $s%.3f s ($n rows)")
            s
          }
          println(f"[time] $name x$factor ($nDocs%,d docs) min: ${secs.min}%.3f s " +
            f"(${secs.min * 1e6 / nDocs}%.2f s/Mdoc)")
        }
      } finally if (factor != 1) StreamingOps.deleteRec(dir)
    }

  private case class Stage(id: Int, name: String, tasks: Int, ms: Long, submitted: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, deserMs: Long)

  private def profile(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = query(name)
    fn(spark, sfDir).collect() // warm-up
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val t00 = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages.add(Stage(i.stageId, i.name, i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          i.submissionTime.getOrElse(0L) - t00, m.executorRunTime,
          m.executorCpuTime / 1000000, m.jvmGCTime, m.executorDeserializeTime))
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((js.jobId, System.currentTimeMillis() - t00,
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    // every 500 ms, count the top frames of each busy task thread
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      while (sampling.get()) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch worker") &&
              t.getState == Thread.State.RUNNABLE && st.nonEmpty)
            samples.merge(st.take(12).map(f => s"${f.getClassName}.${f.getMethodName}")
              .mkString(" <- "), 1, (a, b) => a + b)
        }
        Thread.sleep(500)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val (total, n) = try timed(fn(spark, sfDir).collect().length) finally {
      sampling.set(false)
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
    }
    samples.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (k, c) =>
      println(s"[profile] $c samples: $k")
    }
    println(f"[profile] $name total: $total%.3f s ($n rows), ${stages.size} stages, ${jobs.size} jobs")
    jobs.asScala.foreach { case (id, at, desc) =>
      println(f"[profile] job $id%3d @ ${at / 1000.0}%7.3f s  $desc")
    }
    stages.asScala.toSeq.sortBy(-_.ms).foreach { s =>
      println(f"[profile] stage ${s.id}%3d @ ${s.submitted / 1000.0}%7.3f s  ${s.ms / 1000.0}%7.3f s  " +
        f"${s.tasks}%4d tasks  run=${s.runMs / 1000.0}%.3f cpu=${s.cpuMs / 1000.0}%.3f " +
        f"gc=${s.gcMs / 1000.0}%.3f deser=${s.deserMs / 1000.0}%.3f  ${s.name.take(90)}")
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
    def write(name: String, df: => DataFrame): Unit = {
      val plan =
        try df.queryExecution.explainString(FormattedMode)
        catch { case e: Exception => s"EXPLAIN FAILED: $e" }
      Files.writeString(out.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plans] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    names.map(q => q -> query(q)).foreach { case (q, fn) => write(q, fn(spark, sfDir)) }
    val ix = Files.createTempDirectory("graft-probe-ix-").toString
    val lsh = Files.createTempDirectory("graft-probe-lsh-").toString
    val ivfQ = Files.createTempDirectory("graft-probe-sq-").toString
    val ivfF = Files.createTempDirectory("graft-probe-f64-").toString
    try {
      IndexBuilder.build(spark, sfDir, ix, numShards = spark.sparkContext.defaultParallelism)
      val (posts, norms, termShards, dfs, hints) = Wand.loadPlans(spark, ix, Seq(1L))
      write("wand_load_postings", posts.toDF())
      write("wand_load_norms", norms.toDF())
      write("wand_load_term_shards", termShards.toDF())
      write("wand_load_termstats", dfs.toDF())
      write("wand_load_hints", hints.toDF())
      AnnIndex.buildLsh(spark, sfDir, lsh)
      write("q44_search_inner", AnnIndex.searchLshAll(spark, lsh, sfDir))
      val mq = AnnIndex.buildIvf(spark, sfDir, ivfQ, nlist = 16, quantLevels = 255)
      write("q45_search_inner", AnnIndex.searchIvfAll(spark, ivfQ, sfDir, nprobe = math.max(1, mq.nlist)))
      val mf = AnnIndex.buildIvf(spark, sfDir, ivfF, nlist = 16)
      write("q47_search_inner", AnnIndex.searchIvfAll(spark, ivfF, sfDir, nprobe = math.max(1, mf.nlist)))
    } finally StreamingOps.deleteRec(ix, lsh, ivfQ, ivfF)
  }

  private def dump(spark: SparkSession, sfDir: String, name: String, outDir: String): Unit = {
    query(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    graft.SparkEntry.oracleSql.get(name).foreach(sql =>
      Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
    println(s"[dump] wrote $outDir/$name")
  }
}
