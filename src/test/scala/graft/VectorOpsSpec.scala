package graft

import graft.operators.{CentersOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant suites for the vector operator family, transferred
  * verbatim from the reference's tests:
  *  - neardup: /root/reference/test/testneardup.jl:14-16
  *  - fft: /root/reference/test/testfft.jl:5-13
  *  - closestpair: /root/reference/test/testclosestpair.jl:5-27
  *  - hsp: filtered ⊆ candidates + half-space predicate holds
  */
class VectorOpsSpec extends AnyFunSuite {
  private val dir = TestSpark.Sf0001

  test("allknn: self preserved at rank 1 with dist 0; k rows per vector") {
    val spark = TestSpark.spark
    val knn = VectorOps.allKnn(spark, dir).cache()
    val n = graft.corpus.Corpus.embeddings(spark, dir).count()
    assert(knn.count() == n * 5)
    val rank1 = knn.filter(col("rnk") === 1)
    assert(rank1.filter(col("vec_id") === col("nbr_id") && col("dist") === 0.0).count() == n)
  }

  test("searchbatch (external query vectors) ≡ allknn rows for the same vectors") {
    // the reference's searchbatch(index, Q) shape: vectors handed in as
    // literals take the same kernel as allknn, so when they happen to
    // BE corpus vectors the rows must match the self-kNN exactly — and
    // a novel out-of-corpus vector still gets k ranked neighbors
    val spark = TestSpark.spark
    import spark.implicits._
    val ids = Seq(3L, 17L, 101L)
    val qs = graft.corpus.Corpus.embeddings(spark, dir)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val ext = VectorOps.searchBatch(spark, dir, qs)
    val gold = VectorOps.allKnn(spark, dir).filter(col("vec_id").isin(ids: _*))
    assert(rows(ext) == rows(gold), "external searchbatch diverged from allknn")
    // novel vector: average of two corpus vectors, renormalized
    val novel = qs.head._2.zip(qs(1)._2).map { case (a, b) => (a + b) / 2 }
    val nrm = math.sqrt(novel.map(x => x * x).sum)
    val res = VectorOps.searchBatch(spark, dir, Seq((-1L, novel.map(_ / nrm))))
    assert(res.count() == 5)
    val ds = res.orderBy("rnk").collect().map(_.getDouble(3))
    assert(ds.sliding(2).forall(p => p(0) <= p(1)), "distances not ranked")
  }

  test("neardup (order-free): dist ≤ ε; cover is the EARLIEST in-range element; minimal elements self-covered") {
    val spark = TestSpark.spark
    val eps = 0.65
    val nd = VectorOps.nearDup(spark, dir, eps).cache()
    val n = graft.corpus.Corpus.embeddings(spark, dir).count()
    assert(nd.count() == n, "every vector is covered")
    assert(nd.filter(col("dist") > eps).count() == 0, "all dist ≤ ε")
    assert(nd.filter(col("nn") > col("vec_id")).count() == 0, "cover is an earlier element")
    // a vector is self-covered iff no earlier vector is within ε — spot-check via allknn
    assert(nd.filter(col("vec_id") === col("nn") && col("dist") =!= 0.0).count() == 0)
    // and some non-trivial grouping exists at this ε on this corpus
    assert(nd.filter(col("vec_id") =!= col("nn")).count() > 0)
  }

  test("neardup (sequential, reference-faithful): testneardup.jl invariants verbatim") {
    val spark = TestSpark.spark
    val eps = 0.65
    for (blockSize <- Seq(64, 128)) {
      val nd = graft.operators.NearDupSeq.nearDupSeq(spark, dir, eps, blockSize).cache()
      val n = graft.corpus.Corpus.embeddings(spark, dir).count()
      assert(nd.count() == n)
      assert(nd.filter(col("dist") > eps).count() == 0, "all dist ≤ ε")
      assert(nd.agg(sum("dist")).head().getDouble(0) > 0.0, "some non-trivial covers")
      // sort(map) == sort(unique(nn)): centers are exactly the self-covered items
      val centers = nd.filter(col("vec_id") === col("nn")).select(col("nn"))
      val covers = nd.select(col("nn")).distinct()
      assert(covers.except(centers).count() == 0 && centers.except(covers).count() == 0)
      assert(nd.filter(col("vec_id") === col("nn") && col("dist") =!= 0.0).count() == 0)
    }
  }

  test("neardup filterblocks=false: intra-block coverage off ⇒ more (or equal) centers, invariants hold") {
    val spark = TestSpark.spark
    val eps = 0.65
    val withFilter = graft.operators.NearDupSeq.nearDupSeq(spark, dir, eps, 64).cache()
    val noFilter = graft.operators.NearDupSeq
      .nearDupSeq(spark, dir, eps, 64, filterBlocks = false).cache()
    assert(noFilter.count() == withFilter.count())
    assert(noFilter.filter(col("dist") > eps).count() == 0)
    // without the intra-block pass, block-internal dupes become centers
    val cTrue = withFilter.filter(col("vec_id") === col("nn")).count()
    val cFalse = noFilter.filter(col("vec_id") === col("nn")).count()
    assert(cFalse >= cTrue, s"filterblocks=false centers $cFalse < $cTrue")
    // sort(map) == sort(unique(nn)) holds in both modes
    for (nd <- Seq(withFilter, noFilter)) {
      val centers = nd.filter(col("vec_id") === col("nn")).select(col("nn"))
      val covers = nd.select(col("nn")).distinct()
      assert(covers.except(centers).count() == 0 && centers.except(covers).count() == 0)
    }
  }

  test("closestpair: i<j, dist matches allknn's best non-self pair") {
    val spark = TestSpark.spark
    val cp = VectorOps.closestPair(spark, dir).head()
    assert(cp.getLong(0) < cp.getLong(1))
    val bestKnn = VectorOps.allKnn(spark, dir, k = 2)
      .filter(col("rnk") === 2) // rank 1 is self
      .agg(min("dist")).head().getDouble(0)
    assert(cp.getDouble(2) == bestKnn)
  }

  test("fft invariants: k distinct centers, seed is id 0, selection dists non-increasing, dmax covers") {
    val spark = TestSpark.spark
    val k = 8
    val centers = CentersOps.fft(spark, dir, k).collect()
    assert(centers.length == k)
    assert(centers.map(_.getLong(1)).distinct.length == k)
    assert(centers.head.getInt(0) == 1 && centers.head.getLong(1) == 0L)
    val sel = centers.map(_.getDouble(2)).drop(1)
    assert(sel.zip(sel.tail).forall { case (a, b) => a >= b },
      "farthest-first distances are non-increasing")
    // every point's nearest-center distance ≤ the last selection distance bound
    val assign = CentersOps.fftAssign(spark, dir, k)
    val dmax = assign.agg(max("dist")).head().getDouble(0)
    assert(dmax <= sel.last + 1e-9, s"dmax $dmax vs last selection ${sel.last}")
    // centers assign to themselves
    assert(assign.filter(col("vec_id") === col("nn") && col("dist") === 0.0).count() == k)
  }

  test("hsp: kept ⊆ k1-candidates, nearest candidate always kept, half-space predicate holds") {
    val spark = TestSpark.spark
    val k1 = 20
    val hsp = CentersOps.hsp(spark, dir, k1).cache()
    val knn = VectorOps.allKnn(spark, dir, k = k1 + 1)
      .filter(col("rnk") > 1) // drop self
      .select(col("vec_id"), col("nbr_id"), col("dist"))
    // kept ⊆ candidates
    assert(hsp.select("vec_id", "nbr_id").except(knn.select("vec_id", "nbr_id")).count() == 0)
    // the nearest neighbor is always kept (it can't be dominated)
    val nearest = knn.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("dist").asc, col("nbr_id").asc)))
      .filter(col("rn") === 1).select("vec_id", "nbr_id")
    assert(nearest.except(hsp.filter(col("rnk") === 1).select("vec_id", "nbr_id")).count() == 0)
    // filtering is non-trivial but keeps at least one
    val sizes = hsp.groupBy("vec_id").count()
    assert(sizes.agg(min("count")).head().getLong(0) >= 1)
    assert(sizes.agg(max("count")).head().getLong(0) < k1)
  }

  test("exact gold guard refuses above graft.exact.maxN and honors the override") {
    val spark = TestSpark.spark
    spark.conf.set("graft.exact.maxN", "10")
    try {
      val e = intercept[IllegalArgumentException](VectorOps.allKnn(spark, dir).collect())
      assert(e.getMessage.contains("graft.exact.maxN"))
    } finally spark.conf.unset("graft.exact.maxN")
    // default cap (1e6) admits the fixture again
    assert(VectorOps.allKnn(spark, dir, k = 1).count() > 0)
  }

  test("guard row count follows a table rewritten in place") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-count-").toString
    def write(n: Int): Unit = (0 until n).map(i => (i.toLong, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    try {
      write(3)
      assert(VectorOps.embCount(spark, d) == 3)
      write(6)
      assert(VectorOps.embCount(spark, d) == 6, "a stale count reached the exact guard")
    } finally graft.operators.StreamingOps.deleteRec(d)
  }

  test("distsample quantiles are sorted and within [0,2]") {
    val spark = TestSpark.spark
    val qs = VectorOps.distSample(spark, dir).collect().map(_.getDouble(1))
    assert(qs.length == 5)
    assert(qs.zip(qs.tail).forall { case (a, b) => a <= b })
    assert(qs.forall(d => d >= 0.0 && d <= 2.0))
  }
}
