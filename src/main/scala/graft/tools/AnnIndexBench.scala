package graft.tools

import org.apache.spark.sql.functions._

/** Measure the persisted-ANN-index bet at a synthetic scale the fixture
  * can't reach: n deterministic unit vectors, then a bounded query
  * batch answered three ways —
  *  1. NO index (what the inline one-plan operator pays per batch):
  *     code the whole corpus, bucket-join the batch, gather candidate
  *     vectors by id;
  *  2. payload-free persisted LSH codes: coding pass gone, candidate
  *     GATHER (two corpus probe joins) remains;
  *  3. vector-carrying persisted IVF codes ([[graft.index.AnnIndex]]
  *     `vecs`): pruned scan carries the vectors — the batch plan never
  *     touches the corpus table.
  * `runMain graft.tools.AnnIndexBench [n] [dim] [batch]`, at [[Probe.cores]]
  */
object AnnIndexBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val dim = if (args.length > 1) args(1).toInt else 64
    val batch = if (args.length > 2) args(2).toInt else 16
    val spark = Probe.session()
    import spark.implicits._
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def minOf2(f: => Long): (Double, Long) = {
      f // warm
      val (t1, r) = t(f); val (t2, _) = t(f)
      (math.min(t1, t2), r)
    }
    // deterministic unit vectors: splitmix64 components, normalized —
    // same recipe family as the fixture generator, no RNG state
    val corpus = java.nio.file.Files.createTempDirectory("graft-annbench-corpus-").toString
    val lshIdx = java.nio.file.Files.createTempDirectory("graft-annbench-lsh-").toString
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft-annbench-ivf-").toString
    try {
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
      println(f"[annbench] corpus: $n vectors x $dim dims generated in $tGen%.1f s")
      val (tLsh, mL) = t(graft.index.AnnIndex.buildLsh(spark, corpus, lshIdx))
      println(f"[annbench] buildLsh (payload-free): $tLsh%.1f s " +
        f"(nbits=${mL.nbits}, tables=${mL.tables}, ${n / tLsh}%.0f vec/s)")
      val (tIvf, mI) = t(graft.index.AnnIndex.buildIvf(spark, corpus, ivfIdx))
      println(f"[annbench] buildIvf (vector-carrying): $tIvf%.1f s " +
        f"(nlist=${mI.nlist}, ${n / tIvf}%.0f vec/s)")
      val ids = (0 until batch).map(i => (i.toLong * 997L) % n)

      // 1. no index: the inline operator's per-batch cost shape — the
      // SAME shared coding/rescore helpers the operator and the index
      // use, so the comparison measures layout, not implementation skew
      val (tNone, rNone) = minOf2 {
        val planes = graft.operators.AnnOps.planeMatrix(mL.tables, mL.nbits, dim)
        val qb = graft.operators.AnnOps.embDs(spark, corpus)
          .filter(col("vec_id").isin(ids: _*)).as[(Long, Seq[Double])].collect()
          .flatMap { case (q, e) => (0 until mL.tables).map(t =>
            (q, graft.operators.AnnOps.lshCodeFast(e.toArray, planes, t))) }
          .toIndexedSeq.toDF("q_id", "bucket")
        val coded = graft.operators.AnnOps
          .codeLsh(graft.operators.AnnOps.embDs(spark, corpus), mL.tables, mL.nbits, dim)
          .withColumnRenamed("vec_id", "nbr_id")
        val pairs = coded.join(broadcast(qb), "bucket")
          .select("q_id", "nbr_id").distinct()
        graft.operators.AnnOps.rescoreTopK(spark, corpus, pairs, 5).count()
      }
      println(f"[annbench] batch($batch) NO index (code corpus + gather): " +
        f"$tNone%.2f s ($rNone rows)")

      // 2. payload-free persisted codes: coding gone, gather remains
      val (tPlain, rPlain) = minOf2(
        graft.index.AnnIndex.searchLshBatch(spark, lshIdx, corpus, ids).count())
      println(f"[annbench] batch($batch) payload-free LSH index: " +
        f"$tPlain%.2f s ($rPlain rows, ${tNone / tPlain}%.1fx vs no index)")

      // 3. vector-carrying persisted codes: zero corpus reads. Keep the
      // last timed DataFrame so the plan-shape check reads its already-
      // executed plan instead of re-running the whole batch (collects
      // included) a fourth time.
      var ivfDf: org.apache.spark.sql.DataFrame = null
      val (tVecs, rVecs) = minOf2 {
        ivfDf = graft.index.AnnIndex.searchIvfBatch(spark, ivfIdx, corpus, ids, 5, 8)
        ivfDf.count()
      }
      println(f"[annbench] batch($batch) vector-carrying IVF index (nprobe=8): " +
        f"$tVecs%.2f s ($rVecs rows, ${tNone / tVecs}%.1fx vs no index)")

      val allFiles = spark.read.parquet(s"$ivfIdx/codes")
        .select(input_file_name()).distinct().count()
      val plan = ivfDf.queryExecution.executedPlan.toString
      println(s"[annbench] ivf codes files: $allFiles; batch plan corpus-free=" +
        (!plan.contains("embeddings.parquet")) +
        " partition-pruned=" + plan.contains("PartitionFilters"))

      // 4. QUANTIZED vector-carrying codes (SQMinC u8): same pruned
      // corpus-free batch shape, the payload 8 bits/component instead
      // of 64 — the footprint dial for 10^12-row indexes
      val sqIdx = java.nio.file.Files.createTempDirectory("graft-annbench-sq-").toString
      try {
        val (tSqB, mQ) = t(graft.index.AnnIndex.buildIvf(
          spark, corpus, sqIdx, quantLevels = 255))
        println(f"[annbench] buildIvf (u8-quantized): $tSqB%.1f s " +
          f"(nlist=${mQ.nlist}, ${n / tSqB}%.0f vec/s)")
        val (tSq, rSq) = minOf2(
          graft.index.AnnIndex.searchIvfBatch(spark, sqIdx, corpus, ids, 5, 8).count())
        println(f"[annbench] batch($batch) u8-quantized IVF index (nprobe=8): " +
          f"$tSq%.2f s ($rSq rows, ${tNone / tSq}%.1fx vs no index)")
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        def mb(p: String): Double = fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$p/codes")).getLength / 1048576.0
        println(f"[annbench] codes footprint: f64 ${mb(ivfIdx)}%.1f MB, " +
          f"u8 ${mb(sqIdx)}%.1f MB (${mb(ivfIdx) / mb(sqIdx)}%.1fx smaller)")
      } finally graft.operators.StreamingOps.deleteRec(sqIdx)
    } finally {
      graft.operators.StreamingOps.deleteRec(corpus, lshIdx, ivfIdx)
      spark.stop()
    }
  }
}
