package graft.tools

import graft.index.{IndexBuilder, Wand}
import org.apache.spark.sql.SparkSession

/** Plan-inspection harness: prints formatted physical plans of the
  * load-bearing queries so shuffle count, pushed filters, pruned scan
  * schemas, and broadcast choices can be reviewed (and regressions
  * spotted) — run with `sbt "runMain graft.tools.Explain"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n=================== $name ===================")
      df.explain("formatted")
    }

    show("q01_bm25_exact", graft.operators.ExactSearch.topK(spark, sf))
    show("q02_topk_agg", graft.operators.TopKSearch.topK(spark, sf))
    val ix = java.nio.file.Files.createTempDirectory("graft-explain-").toString
    IndexBuilder.build(spark, sf, ix, numShards = 4)
    // a WAND call's only Catalyst plans: the one-time resident load
    // (warm calls run one RDD job over the loaded segments)
    val (posts, norms, dict) = Wand.loadPlans(spark, ix, Seq(1L), hints = true)
    show("q03_wand_query", posts.toDF())
    show("q03_wand_query_norms", norms.toDF())
    show("q03_wand_query_dictionary", dict)
    show("q04_allknn", graft.operators.VectorOps.allKnn(spark, sf))
    show("q10_rerank", graft.operators.VectorOps.rerank(spark, sf))
    show("q13_jaccard", graft.operators.TextOps.jaccardPairs(spark, sf))
    show("q17_quality", graft.operators.TextOps.qualityScore(spark, sf))
    show("q21_ann_lsh", graft.operators.AnnOps.annLsh(spark, sf))
    spark.stop()
  }
}
