package graft.tools

/** Measure IVF center-training cost: distributed [[graft.operators.CentersOps.fft]]
  * (k sequential driver-coordinated Spark jobs — the reference's loop
  * shape) vs [[graft.operators.CentersOps.fftSampled]] (one collect +
  * a driver-local loop over a deterministic bounded sample).
  * `runMain graft.tools.TrainBench <sfDir> <nlist> [sampleFactor]`, at [[Probe.cores]]
  * — the BASELINE.md "training cost vs full fft" evidence the round-3
  * verdict asks for. Also reports the IVF macrorecall under sampled
  * training so cost is never quoted without its recall.
  */
object TrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nlist = if (args.length > 1) args(1).toInt else 64
    val factor = if (args.length > 2) args(2).toInt else 16
    val spark = Probe.session()
    import graft.operators.{AnnOps, CentersOps, VectorOps}
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    println(s"[train] corpus: $n vectors, nlist=$nlist, sampleFactor=$factor")
    val (tS, cS) = t(CentersOps.fftSampled(spark, sfDir, nlist, factor))
    println(f"[train] fftSampled: $tS%.2f s (${cS.length} centers, " +
      f"sample ~${math.max(64L, factor.toLong * nlist)})")
    val (tF, cF) = t(CentersOps.fft(spark, sfDir, nlist)
      .select("center_id").collect().map(_.getLong(0)))
    println(f"[train] fft (distributed, $nlist sequential jobs): $tF%.2f s " +
      f"(${cF.length} centers, ${tF / tS}%.1fx sampled)")
    // recall under sampled training (k=5 vs exact gold top-5)
    val k = 5
    val gold = VectorOps.allKnn(spark, sfDir, k).cache()
    gold.count()
    val ivf = AnnOps.annIvf(spark, sfDir, k, nlist = nlist, sampleFactor = factor)
    val r = AnnOps.macrorecall(gold, ivf, k)
    println(f"[train] IVF macrorecall with sampled training: $r%.4f")
    spark.stop()
  }
}
