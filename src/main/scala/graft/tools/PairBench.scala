package graft.tools

import org.apache.spark.sql.functions._

/** Scale evidence for the round-5 bucketed pair operators: the exact
  * `closestpair`/`neardup` gold paths are O(n²) BY DESIGN (guarded past
  * `graft.exact.maxN`), so their scale story rests on the LSH-bucketed
  * variants ([[graft.operators.AnnOps.closestPairLsh]]/[[graft.operators.AnnOps.nearDupLsh]]).
  * This measures both at a corpus size where the cartesian physically
  * cannot run (n² = 10¹² pairs at n = 1M), and verifies from the
  * executed plans that no cartesian node appears anywhere.
  *
  * `runMain graft.tools.PairBench [n] [dim]`, at [[Probe.cores]]
  */
object PairBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val dim = if (args.length > 1) args(1).toInt else 64
    val spark = Probe.session()
    import spark.implicits._
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val corpus = java.nio.file.Files.createTempDirectory("graft-pairbench-").toString
    try {
      // the AnnIndexBench corpus recipe: deterministic splitmix64 unit
      // vectors — no RNG state, byte-identical across runs
      val (tGen, _) = t {
        spark.range(n.toLong).select(col("id").as("vec_id"))
          .as[Long].map { id =>
            val e = Array.tabulate(dim) { d =>
              val h = graft.analysis.TextHash.splitmix64(id * 131L + d)
              (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
            }
            val nrm = math.sqrt(e.map(x => x * x).sum)
            (id, e.map(x => (x / nrm).toFloat))
          }.toDF("vec_id", "embedding")
          .write.parquet(s"$corpus/embeddings.parquet")
      }
      println(f"[pairbench] corpus: $n vectors x $dim dims in $tGen%.1f s" +
        f" (exact pair space would be ${n.toDouble * n / 2}%.1e pairs)")

      var cpDf: org.apache.spark.sql.DataFrame = null
      val (tCp, cp) = t {
        cpDf = graft.operators.AnnOps.closestPairLsh(spark, corpus)
        cpDf.collect()
      }
      val cpPlan = cpDf.queryExecution.executedPlan.toString
      println(f"[pairbench] closestPairLsh: $tCp%.1f s -> " +
        s"(${cp.head.getLong(0)}, ${cp.head.getLong(1)}, ${cp.head.getDouble(2)})" +
        s" cartesian-free=${!cpPlan.contains("CartesianProduct")}")

      // eps tuned to the synthetic geometry: splitmix64 directions are
      // near-orthogonal at 64 dims (dist ≈ 1), so a mid eps exercises
      // both the covered and self-covered branches
      // one pass computes both counts — a second action on the
      // uncached frame would re-run the whole bucketed pipeline
      var ndDf: org.apache.spark.sql.DataFrame = null
      var ndRows = 0L
      var nonSelf = 0L
      val (tNd, _) = t {
        ndDf = graft.operators.AnnOps.nearDupLsh(spark, corpus, eps = 0.95)
        val agg = ndDf.agg(count(lit(1)),
          count(when(col("nn") =!= col("vec_id"), 1))).head()
        ndRows = agg.getLong(0)
        nonSelf = agg.getLong(1)
      }
      val ndPlan = ndDf.queryExecution.executedPlan.toString
      println(f"[pairbench] nearDupLsh(eps=0.95): $tNd%.1f s -> $ndRows rows " +
        s"($nonSelf non-self covers) cartesian-free=${!ndPlan.contains("CartesianProduct")}")
      require(ndRows == n, s"coverage broken: $ndRows rows != $n vectors")
    } finally graft.operators.StreamingOps.deleteRec(corpus)
    spark.stop()
  }
}
