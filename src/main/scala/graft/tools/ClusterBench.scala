package graft.tools

import graft.index.{IndexBuilder, Wand}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the north rule's multi-executor
  * scaling gate: run the SAME build+query job under a master with N
  * and 4N executors and report throughput at both.
  *
  * Unlike [[graft.Bench]] (which ladders `local[c]` thread counts
  * inside one JVM), this main takes its master from spark-submit —
  * `scripts/bench_cluster.sh` launches it under
  * `--master local-cluster[N,cores,memMB]`, which spawns N REAL
  * standalone-worker executor JVMs with private heaps that exchange
  * shuffle blocks over netty, i.e. the execution shape of a
  * multi-executor cluster (the sandbox has one box, so the executors
  * still share its memory bus — the closest available evidence for
  * "spark-submit at N and 4N executors").
  *
  * Modes:
  *  - `--inflate <sfDir> <factor> <outDir>`: materialize the
  *    replicated corpus ONCE so both cluster sizes read byte-identical
  *    input;
  *  - `<corpusDir> <warmupDir> <shards> [reps]`: warmup build on the
  *    small corpus (codegen/JIT), then min-of-`reps` timed builds +
  *    WAND batch over the last index; prints one JSON line.
  */
object ClusterBench {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    // master and memory come from spark-submit when present; a bare
    // `sbt runMain` falls back to the tools' local session
    def session(app: String): SparkSession =
      if (!sys.props.contains("spark.master")) Probe.session()
      else {
        val s = SparkSession.builder().appName(app).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
    if (args.headOption.contains("--inflate")) {
      val Array(_, sfDir, factor, outDir) = args
      val spark = session("graft-inflate")
      val (tmp, n) = graft.Bench.inflate(spark, sfDir, factor.toInt)
      // inflate() writes into its own temp dir; move to the caller's path
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(outDir),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"""{"inflated":"$outDir","docs":$n}""")
      spark.stop()
      return
    }
    val corpusDir = args(0)
    val warmupDir = args(1)
    val shards = args(2).toInt
    val reps = if (args.length > 3) args(3).toInt else 3
    val expectExecs = if (args.length > 4) args(4).toInt else 0
    val spark = session("graft-cluster-bench")
    spark.conf.set("spark.sql.shuffle.partitions", shards.toLong)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try {
      // Executor JVMs register asynchronously after app start; timing a
      // build before they all arrive measures a partially-sized cluster
      // (observed: defaultParallelism=2 and a 1.8× slower "4-executor"
      // run). Block until the expected count is up (or 120 s). The
      // BlockManager-based count is authoritative here — the
      // statusTracker's listener store lagged a full 2 minutes behind
      // actual executor registration in local-cluster mode.
      def liveExecs(): Int =
        spark.sparkContext.getExecutorMemoryStatus.size - 1
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (liveExecs() < expectExecs && System.nanoTime() < deadline)
        Thread.sleep(500)
      val execs = liveExecs()

      val wix = java.nio.file.Files.createTempDirectory("graft-cb-warm-").toString
      IndexBuilder.build(spark, warmupDir, wix, numShards = 4)
      Wand.topK(spark, wix, Seq(1L)).collect()

      val built = (1 to reps).map { _ =>
        val ix = java.nio.file.Files.createTempDirectory("graft-cb-ix-").toString
        (time(IndexBuilder.build(spark, corpusDir, ix, numShards = shards))._1, ix)
      }
      val buildSec = built.map(_._1).min
      val ix = built.last._2
      Wand.topK(spark, ix, Seq(1L)).collect() // warmup the query path
      val wandSec = (1 to reps).map { _ =>
        time(Wand.topK(spark, ix, Seq(1L)).collect().length)._1
      }.min
      val nDocs = spark.read.parquet(s"$corpusDir/documents.parquet").count()
      graft.operators.StreamingOps.deleteRec(wix +: built.map(_._2): _*)
      // re-sample AFTER the timed work: the honest count of executors
      // that actually served the job (defaultParallelism read here too —
      // it lags registration the same way the listener store does)
      val execsAfter = math.max(execs, liveExecs())
      val totalCores = spark.sparkContext.defaultParallelism
      println(f"""{"executors":$execsAfter,"total_cores":$totalCores,""" +
        f""""build_sec":$buildSec%.3f,"build_docs_per_sec":${nDocs / buildSec}%.1f,""" +
        f""""wand_batch_sec":$wandSec%.3f,"docs":$nDocs,"reps":$reps}""")
    } finally spark.stop()
  }
}
