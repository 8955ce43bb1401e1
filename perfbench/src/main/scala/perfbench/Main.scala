package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>`.
  * Progress goes to stderr; the run's record is written to `resultFile`
  * as one JSON object (the launcher adds the checks that run after the
  * JVM and prints the summary line).
  */
object Main {

  val Workloads: Map[String, Ctx => Unit] =
    Map("serve" -> Serve.run, "dedup" -> Dedup.run)

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: <workload> <seed> <seconds> <trace> <workDir> <resultFile>")
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload (${Workloads.keys.mkString(", ")})"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, cores, seedS.toLong, secondsS.toDouble, traceS == "1", work)
    try {
      val t0 = System.nanoTime()
      body(ctx)
      val record = Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> ctx.traced, "cores" -> cores, "master" -> s"local[$cores]",
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "failures" -> ctx.failures.toSeq,
        "end_to_end" -> ctx.endToEnd, "per_layer" -> ctx.perLayer) ++ ctx.artifact
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Stats.json(record))
    } finally spark.stop()
  }
}
