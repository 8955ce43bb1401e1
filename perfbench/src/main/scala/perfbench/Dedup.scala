package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{AnnOps, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The corpus-cleaning pass: the dedup family of `TextOps` plus
  * `AnnOps.nearDupLsh`, many small jobs each, timed once per run. The
  * pass's rows are dumped for the DuckDB oracle check that follows the
  * JVM.
  */
object Dedup {

  /** The per-document shape of the sf0.1 fixture's `documents`: token
    * counts uniform in [10, 100], a 31-word vocabulary with flat term
    * frequencies, 5% near copies that append one `dup` token. Exact
    * copies are planted at 1%, so a 500-doc corpus holds a few of them.
    */
  val Text = Gen.TextSpec(docs = 500, vocab = 31, zipfS = 0.0, lengths = Gen.Uniform(10, 100),
    exactDupShare = 0.01, nearDupShare = 0.05)
  val Vecs = Gen.VecSpec(n = 500, dim = 64, clusters = 10, spread = 0.35, dupShare = 0.05)

  type Op = (SparkSession, String) => DataFrame
  /** (module, function, registry query whose oracle SQL checks it, call) */
  val Ops: Seq[(String, String, String, Op)] = Seq(
    ("TextOps", "dedupExact", "q12_dedup_exact", (s, d) => TextOps.dedupExact(s, d)),
    ("TextOps", "minhashLsh", "q14_minhash_lsh", (s, d) => TextOps.minhashLsh(s, d)),
    ("TextOps", "simhashPairs", "q15_simhash", (s, d) => TextOps.simhashPairs(s, d)),
    ("TextOps", "substringDup", "q56_substring_dup", (s, d) => TextOps.substringDup(s, d)),
    ("TextOps", "substringDedup", "q59_substring_dedup", (s, d) => TextOps.substringDedup(s, d)),
    ("TextOps", "shingleNovelty", "q58_shingle_novelty", (s, d) => TextOps.shingleNovelty(s, d)),
    ("TextOps", "sourceOverlap", "q60_source_overlap", (s, d) => TextOps.sourceOverlap(s, d)),
    ("TextOps", "lineDedup", "q64_line_dedup", (s, d) => TextOps.lineDedup(s, d)),
    ("TextOps", "dupClusters", "q53_dup_clusters", (s, d) => TextOps.dupClusters(s, d)),
    ("TextOps", "cleanPipeline", "q65_clean_pipeline", (s, d) => TextOps.cleanPipeline(s, d)),
    ("AnnOps", "nearDupLsh", "q49_neardup_lsh", (s, d) => AnnOps.nearDupLsh(s, d)))

  /** Spark storage (memory + disk) held by persisted or checkpointed
    * data, MB.
    */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.setupReps(3) { r =>
      val d = ctx.freshDir(s"dedup-$r")
      Gen.writeDocs(spark, Text, ctx.seed, d, ctx.cores)
      Gen.writeVecs(spark, Vecs, ctx.seed, d, ctx.cores)
      if (r > 1) ctx.delete(ctx.dataPath(s"dedup-${r - 1}"))
      (d, Gen.digest(s"$d/documents.parquet") + Gen.digest(s"$d/embeddings.parquet"))
    }
    ctx.artifact("input_content_digest") = Gen.contentDigest(spark, s"$dir/documents.parquet", "doc_id") +
      Gen.contentDigest(spark, s"$dir/embeddings.parquet", "vec_id")
    ctx.artifact("input") = Gen.textProps(spark, dir, Serve.HeadRanks) ++
      Gen.dupProps(spark, Text, ctx.seed, dir) ++ Map(
      "vectors" -> Vecs.n, "dim" -> Vecs.dim, "planted_vector_dup_share" -> Vecs.dupShare)

    // exactly one pass, with no warm-up: a cleaning pass is a batch job,
    // and a batch job pays class loading, codegen and JIT on every run
    ctx.progress("dedup: pass")
    val rows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val calls = mutable.ArrayBuffer.empty[(String, Trace.Span, Double, Double)]
    Ops.foreach { case (module, name, q, f) =>
      val before = storageMb(spark)
      ctx.op(module, name)({ val df = f(spark, dir); (df.collect(), df.schema) }).foreach {
        case (out, s) =>
          val after = storageMb(spark)
          calls += ((q, s, after, after - before))
          rows(q) = out
      }
    }
    val passMs = calls.map(_._2.ms).sum
    ctx.progress(f"dedup: pass ${passMs / 1000}%.2f s")
    val retained = storageMb(spark)
    ctx.trace.close()

    Control.run(ctx, rows.values.find(_._1.nonEmpty).map { case (out, _) =>
      () => canon(out.drop(1)) == canon(out) })

    // the pass's rows and the oracle SQL, for the DuckDB check
    val dump = ctx.freshDir("dedup-out")
    rows.foreach { case (q, (out, schema)) =>
      spark.createDataFrame(out.toList.asJava, schema).coalesce(1)
        .write.parquet(s"$dump/$q")
    }
    val oracle = graft.queries.Registry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"),
      Stats.json(rows.keys.map(q => q -> oracle(q)).toMap))

    val passS = passMs / 1000.0
    // the pass is the operation a user waits for; a median over the
    // eleven different ops would jump between ops as their ranks swap
    ctx.endToEnd("op_p50_ms") = passS * 1000
    ctx.endToEnd("work_per_s") = Text.docs / passS
    ctx.artifact("dedup") = Map(
      "dedup_pass_s" -> passS,
      "retained_storage_mb" -> retained,
      "op_ms" -> calls.map(c => c._1 -> c._2.ms).toMap,
      "corpus_dir" -> dir, "dump_dir" -> dump)

    if (ctx.traced) {
      ctx.recordWork(calls.map(_._2).toSeq)
      ctx.artifact("TextOps_AnnOps") = calls.map { case (q, s, retainedMb, deltaMb) =>
        val w = ctx.trace.work(Seq(s))
        q -> Map("wall_ms" -> w.wallMs, "jobs" -> w.jobs, "stages" -> w.stages,
          "shuffle_mb" -> (w.shRead + w.shWrite) / 1048576.0,
          "storage_retained_mb" -> retainedMb,
          "storage_delta_mb" -> deltaMb,
          "max_task_share" -> w.maxTaskShare)
      }.toMap
      Kernels.run(ctx, dir, None)
    }
  }
}
