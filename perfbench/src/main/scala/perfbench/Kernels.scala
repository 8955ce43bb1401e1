package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.analysis.Tokenizer
import graft.core.Types.{PostingList, TermQuery}
import graft.index.{IndexBuilder, IndexFormat, Wand}
import graft.operators.TopK
import org.apache.spark.sql.functions.{col, sum}

/** Layer probes of a traced run, timed from outside through each
  * module's public functions on the workload's own data.
  */
object Kernels {

  /** Raw posting volume: a doc id and a tf, 8 bytes each. */
  private val PostingBytes = 16.0

  private def nsPer(n: Long)(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / n
  }

  /** Median of `reps` measurements after two warm-up runs. */
  private def med(reps: Int)(f: => Double): Double = { f; f; Stats.median(Seq.fill(reps)(f)) }

  /** WAND pruning counters from an untimed `topKWithMetrics` pass over
    * the timed queries, by tag.
    */
  def wandCost(ctx: Ctx, ix: String, snaps: Seq[Long],
      qs: Seq[(TermQuery, String)]): Map[String, Any] = {
    val (hitsDf, costDf) = Wand.topKWithMetrics(ctx.spark, ix, snaps, qs.map(_._1))
    val hitsPer = hitsDf.groupBy("query_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cost = costDf.collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    qs.groupBy(_._2).map { case (tag, tqs) =>
      val ids = tqs.map(_._1.query_id)
      val c = ids.flatMap(cost.get)
      val scored = c.map(_._1).sum
      val decoded = c.map(_._2).sum
      val skipped = c.map(_._3).sum
      tag -> Map("queries" -> ids.size,
        "docs_scored_per_hit" -> scored.toDouble / math.max(1L, ids.flatMap(hitsPer.get).sum),
        "skip_ratio" -> skipped.toDouble / math.max(1L, decoded + skipped),
        "blocks_decoded" -> decoded, "blocks_skipped" -> skipped)
    }
  }

  /** Posting lists of the corpus, computed in the driver with the
    * engine's tokenization rule: (term, doc ids, tfs, dls), avgdl.
    */
  private def corpusLists(ctx: Ctx, dir: String)
      : (Seq[(String, Array[Long], Array[Long], Array[Long])], Double) = {
    val rows = ctx.spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), Tokenizer.tokensCol(col("text")).as("t"))
      .orderBy("doc_id").collect()
    val acc = mutable.HashMap.empty[String, (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofLong)]
    var total = 0L
    rows.foreach { r =>
      val d = r.getLong(0)
      val toks = r.getSeq[String](1)
      total += toks.size
      toks.groupMapReduce(identity)(_ => 1L)(_ + _).foreach { case (t, tf) =>
        val (ds, tfs, dls) = acc.getOrElseUpdate(t,
          (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong))
        ds += d; tfs += tf; dls += toks.size.toLong
      }
    }
    (acc.toSeq.sortBy(_._1).map { case (t, (d, f, l)) => (t, d.result(), f.result(), l.result()) },
      total.toDouble / math.max(1, rows.length))
  }

  /** Tokenizer, IndexFormat seal/decode, Wand.Cursor seek and TopK. */
  def run(ctx: Ctx, dir: String, index: Option[(String, Seq[Long])]): Unit = {
    val spark = ctx.spark
    ctx.progress("kernels: tokenizer, seal/decode, seek, top-k")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val tokens = Tokenizer.termFrequencies(docs).agg(sum("tf")).head().getLong(0)
    val tokSec = med(3)(ctx.timeSec(Tokenizer.termFrequencies(docs).agg(sum("tf")).head())._2)
    ctx.perLayer("tokenizer_tokens_per_s") = tokens / tokSec

    val (lists, avgdl) = corpusLists(ctx, dir)
    val postings = lists.map(_._2.length.toLong).sum
    var built: Seq[PostingList] = Nil
    val sealSec = med(3)(ctx.timeSec {
      built = lists.map { case (t, d, f, l) => IndexFormat.seal(0, t, d, f, l, avgdl) }
    }._2)
    ctx.perLayer("seal_mb_per_s") = postings * PostingBytes / 1048576.0 / sealSec

    // decode over the engine's own sealed blocks where an index exists
    val blocks: Seq[PostingList] = index
      .map { case (ix, snaps) => IndexBuilder.loadPostings(spark, ix, snaps).collect().toSeq }
      .getOrElse(built)
    val decoded = blocks.map(_.df_local).sum
    val decSec = med(5)(ctx.timeSec {
      var sink = 0L
      blocks.foreach { pl =>
        var b = 0
        while (b < IndexFormat.numBlocks(pl)) { sink += IndexFormat.decodeBlock(pl, b)._1.length; b += 1 }
      }
      require(sink == decoded)
    }._2)
    ctx.perLayer("decode_mb_per_s") = decoded * PostingBytes / 1048576.0 / decSec

    // Cursor.seek over the longest (head-term) list, seeded targets
    val head = built.maxBy(_.df_local)
    val (hd, _) = IndexFormat.decodeAll(head)
    val rng = new SplittableRandom(Gen.mix(ctx.seed, 20, 0))
    val targets = Array.fill(math.min(4096, hd.length))(hd(0) + rng.nextLong(hd.last - hd(0) + 1)).sorted
    val seekNs = med(7)(nsPer(targets.length) {
      val cur = new Wand.Cursor(head, 1.0, new Wand.Costs)
      var i = 0
      while (i < targets.length && !cur.exhausted) { cur.seek(targets(i)); i += 1 }
    })
    ctx.perLayer("seek_ns") = seekNs

    // TopK: the reference pqueue sweep, n ∈ {1e2, 1e6} × k ∈ {10 … 1e4}
    val sweep = for (n <- Seq(100, 1000000); k <- Seq(10, 100, 1000, 10000)) yield {
      val r = new SplittableRandom(Gen.mix(ctx.seed, 21, n.toLong * 31 + k))
      val scores = Array.fill(n)(math.rint(r.nextDouble() * 1e4) / 1e4)
      val reps = math.max(1, 1000000 / n)
      val ins = med(3)(nsPer(n.toLong * reps) {
        var rep = 0
        while (rep < reps) {
          val st = TopK.empty(k)
          var i = 0
          while (i < n) { TopK.insert(st, i.toLong, scores(i)); i += 1 }
          rep += 1
        }
      })
      def full(off: Int) = {
        val st = TopK.empty(k)
        var i = 0
        while (i < n) { TopK.insert(st, i.toLong + off, scores((i + off) % n)); i += 1 }
        st
      }
      val (a, b) = (full(0), full(n / 2))
      val mergeReps = math.max(1, 200000 / k)
      val mrg = med(3)(nsPer(mergeReps.toLong) {
        var rep = 0
        while (rep < mergeReps) {
          TopK.merge(a.copy(ids = a.ids.clone(), scores = a.scores.clone()), b)
          rep += 1
        }
      })
      Map("n" -> n, "k" -> k, "insert_ns" -> ins, "merge_ns" -> mrg,
        "heap_bytes" -> (a.ids.length * 8L + a.scores.length * 8L))
    }
    val ref = sweep.find(m => m("n") == 1000000 && m("k") == 100).get
    ctx.perLayer("topk_insert_ns") = ref("insert_ns").asInstanceOf[Double]
    ctx.perLayer("topk_merge_ns") = ref("merge_ns").asInstanceOf[Double]
    ctx.artifact("kernels") = Map(
      "tokens" -> tokens, "postings" -> postings, "decoded_postings" -> decoded,
      "decode_source" -> (if (index.isDefined) "IndexBuilder.loadPostings" else "IndexFormat.seal"),
      "seek_list_df" -> head.df_local, "seek_targets" -> targets.length,
      "topk_sweep" -> sweep)
  }
}
