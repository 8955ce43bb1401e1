package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.Types.TermQuery
import graft.index.{AnnIndex, IndexBuilder, Wand}
import graft.operators.ExactSearch
import org.apache.spark.sql.Row

/** Read-only serving: single and batch BM25 top-k through Block-Max
  * WAND, and IVF probes, against indexes built in set-up. Every result
  * is checked against the exhaustive scorer (BM25) or the bulk IVF
  * search (ANN) after the clock stops.
  */
object Serve {

  val Text = Gen.TextSpec(docs = 600, vocab = 20000, zipfS = 1.0,
    lengths = Gen.LogNormal(median = 80, sigma = 0.6, min = 5, max = 1000))
  val Vecs = Gen.VecSpec(n = 600, dim = 64, clusters = 32, spread = 0.35)
  /** Zipf ranks below this are head terms. */
  val HeadRanks = 200
  val BatchSize = 100
  val AnnBatch = 32
  val AnnK = 5

  /** Positions, in each cycle of 10 pool queries, of the head queries. */
  val HeadSlots = Set(0, 3, 6)

  /** Seeded query pool with a fixed composition, so every run's mix is
    * the same and only the terms depend on the seed. In each cycle of 10
    * queries, the [[HeadSlots]] hold head queries (all terms from the
    * head ranks), the rest tail queries (at least one long-tail term);
    * the term count cycles 1–5 and k alternates 10/100. With 3 head
    * queries in 10, the median single query is a tail query in every
    * seed, not the boundary between the two classes.
    */
  def queryPool(seed: Long, n: Int, vocab: Int, stream: Long): IndexedSeq[(TermQuery, String)] = {
    val rng = new SplittableRandom(Gen.mix(seed, stream, 0))
    (0 until n).map { i =>
      val head = HeadSlots(i % 10)
      val nTerms = 1 + i % 5
      val ranks = mutable.LinkedHashSet.empty[Int]
      if (!head) ranks += HeadRanks + rng.nextInt(vocab - HeadRanks)
      while (ranks.size < nTerms)
        ranks += (if (head || rng.nextBoolean()) rng.nextInt(HeadRanks)
          else HeadRanks + rng.nextInt(vocab - HeadRanks))
      (TermQuery(i, ranks.toSeq.map(Gen.word), if (i % 2 == 0) 10 else 100),
        if (head) "head" else "tail")
    }
  }

  type Hits = Map[Int, Seq[(Int, Long, Double)]]

  def hits(rows: Array[Row]): Hits =
    rows.map(r => (r.getInt(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .groupMap(_._1)(_._2).map { case (q, hs) => q -> hs.toSeq.sortBy(_._1) }

  /** (vec_id, rnk, nbr_id, dist) rows by query vector, in rank order. */
  def knn(rows: Array[Row]): Map[Long, Seq[(Int, Long, Double)]] =
    rows.map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .groupMap(_._1)(_._2).map { case (v, hs) => v -> hs.toSeq.sortBy(_._1) }

  /** Exhaustive top-k (k = the largest asked) for the given queries. */
  def exact(ctx: Ctx, dir: String, qs: Seq[TermQuery]): Hits = {
    import ctx.spark.implicits._
    if (qs.isEmpty) Map.empty
    else hits(ExactSearch.topK(ctx.spark, dir, qs.map(_.k).max,
      qs.flatMap(q => q.terms.map(t => (q.query_id, t))).toDF("query_id", "term")).collect())
  }

  /** Does a call's result equal the exact top-k of each of its queries? */
  def agrees(got: Hits, gold: Hits, qs: Seq[TermQuery]): Boolean =
    qs.forall(q => got.getOrElse(q.query_id, Nil) == gold.getOrElse(q.query_id, Nil).take(q.k)) &&
      got.keySet.subsetOf(qs.map(_.query_id).toSet)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val builds = mutable.ArrayBuffer.empty[Trace.Span]
    // the first rep also warms the JVM (class loading, codegen, JIT);
    // the median is taken over all reps
    val dir = ctx.setupReps(3) { r =>
      val d = ctx.freshDir(s"serve-$r")
      val (_, gen) = ctx.timeSec {
        Gen.writeDocs(spark, Text, ctx.seed, d, ctx.cores)
        Gen.writeVecs(spark, Vecs, ctx.seed, d, ctx.cores)
      }
      val (_, b) = ctx.trace.span("IndexBuilder", "build", "setup")(
        IndexBuilder.build(spark, d, s"$d/ix", numShards = ctx.cores))
      builds += b
      val (_, ivf) = ctx.timeSec(AnnIndex.buildIvf(spark, d, s"$d/ann", numShards = ctx.cores))
      ctx.progress(f"setup $r: generate $gen%.2f s, IndexBuilder.build ${b.ms / 1000}%.2f s, AnnIndex.buildIvf $ivf%.2f s")
      if (r > 1) ctx.delete(ctx.dataPath(s"serve-${r - 1}"))
      (d, Gen.digest(s"$d/documents.parquet") + Gen.digest(s"$d/embeddings.parquet"))
    }
    val ix = s"$dir/ix"
    val ann = s"$dir/ann"
    ctx.artifact("input_content_digest") = Gen.contentDigest(spark, s"$dir/documents.parquet", "doc_id") +
      Gen.contentDigest(spark, s"$dir/embeddings.parquet", "vec_id")
    ctx.artifact("input") = Gen.textProps(spark, dir, HeadRanks) ++
      Map("vectors" -> Vecs.n, "dim" -> Vecs.dim, "clusters" -> Vecs.clusters)
    ctx.artifact("num_shards") = ctx.cores

    // untimed warm-up on queries outside the pool: the first calls of a
    // kind pay JIT and first-use costs (up to 50% slower), so four single
    // queries (head and tail), one batch and one probe. The warm batch
    // names every head term, since the corpus stats and head-term memos
    // are what a running server holds: head queries then hit `Wand`'s
    // memos and tail queries miss them, in every seed.
    val headCover = (0 until HeadRanks).grouped(5).zipWithIndex
      .map { case (rs, j) => TermQuery(BatchSize + j, rs.map(Gen.word), 10) }.toSeq
    val warm = queryPool(ctx.seed, BatchSize - headCover.size, Text.vocab, stream = 11).map(_._1)
    Wand.topK(spark, ix, Seq(1L), headCover ++ warm).collect()
    warm.take(4).foreach(q => Wand.topK(spark, ix, Seq(1L), Seq(q)).collect())
    AnnIndex.searchIvfBatch(spark, ann, dir, 0L until AnnBatch.toLong, AnnK).collect()

    // Fixed call counts, sized so the three loops fill about `seconds`
    // at the engine's per-call cost when the counts were chosen (single
    // query and batch about 0.8 s, probe about 0.75 s): every run then
    // medians the same samples, whatever the engine's speed. Singles are
    // whole cycles of the pool's pattern (3 head and 7 tail queries).
    val nSingles = 10 * ctx.calls(0.5, 8000, atLeast = 1)
    val nBatches = ctx.calls(0.25, 800)
    val nProbes = ctx.calls(0.15, 750)
    ctx.artifact("calls") = Map("single" -> nSingles, "batch" -> nBatches, "probe" -> nProbes)
    val pool = queryPool(ctx.seed, nSingles + nBatches * BatchSize, Text.vocab, stream = 10)
    var next = 0
    def take(n: Int) = { val s = pool.slice(next, next + n); next += n; s }

    ctx.progress(s"serve: $nSingles single queries")
    val singles = mutable.ArrayBuffer.empty[(TermQuery, Trace.Span, Hits)]
    while (next < nSingles) {
      val (q, tag) = take(1).head
      ctx.op("Wand", "topK", tag)(Wand.topK(spark, ix, Seq(1L), Seq(q)).collect())
        .foreach { case (rows, s) => singles += ((q, s, hits(rows))) }
    }
    ctx.progress(s"serve: $nBatches batches")
    val batches = mutable.ArrayBuffer.empty[(Seq[TermQuery], Trace.Span, Hits)]
    (1 to nBatches).foreach { _ =>
      val qs = take(BatchSize).map(_._1)
      ctx.op("Wand", "topK", "batch")(Wand.topK(spark, ix, Seq(1L), qs).collect())
        .foreach { case (rows, s) => batches += ((qs, s, hits(rows))) }
    }
    ctx.progress(s"serve: $nProbes ann probes")
    val rng = new SplittableRandom(Gen.mix(ctx.seed, 12, 0))
    val probes = mutable.ArrayBuffer.empty[(Seq[Long], Trace.Span, Array[Row])]
    (1 to nProbes).foreach { _ =>
      val ids = Seq.fill(AnnBatch)(rng.nextLong(Vecs.n.toLong)).distinct
      ctx.op("AnnIndex", "searchIvfBatch")(AnnIndex.searchIvfBatch(spark, ann, dir, ids, AnnK).collect())
        .foreach { case (rows, s) => probes += ((ids, s, rows)) }
    }
    ctx.trace.close()

    // ---- correctness, outside the clock
    ctx.progress("serve: checking against the exhaustive scorer")
    val gold = exact(ctx, dir, singles.map(_._1).toSeq ++ batches.flatMap(_._1))
    singles.foreach { case (q, _, h) =>
      if (!agrees(h, gold, Seq(q))) ctx.fail(1, s"Wand.topK query ${q.query_id} ${q.terms} differs from exact")
    }
    batches.foreach { case (qs, _, h) =>
      if (!agrees(h, gold, qs)) ctx.fail(1, s"Wand.topK batch at ${qs.head.query_id} differs from exact")
    }
    val bulk = knn(AnnIndex.searchIvfAll(spark, ann, dir, AnnK).collect())
    probes.foreach { case (ids, _, rows) =>
      if (knn(rows) != ids.map(i => i -> bulk.getOrElse(i, Nil)).filter(_._2.nonEmpty).toMap)
        ctx.fail(1, s"searchIvfBatch ${ids.take(3)}… differs from searchIvfAll")
    }
    Control.run(ctx, singles.find(s => s._3.getOrElse(s._1.query_id, Nil).size >= 2)
      .map { case (q, _, h) => () => agrees(Control.swapTop2(h, q.query_id), gold, Seq(q)) })

    // ---- metrics
    val lat = singles.map(_._2.ms).toSeq
    // a median over batches: the first batch of a run reads slower
    val qps = BatchSize / (Stats.median(batches.map(_._2.ms).toSeq) / 1000.0)
    ctx.endToEnd("op_p50_ms") = Stats.median(lat)
    ctx.endToEnd("work_per_s") = qps
    val tail = Stats.tail(lat)
    ctx.artifact("serve") = Map(
      "bm25_p50_ms" -> Stats.median(lat),
      "bm25_tail_ms" -> tail.map(_._2),
      "bm25_tail_percentile" -> tail.map(_._1),
      "bm25_single_samples" -> lat.size,
      "bm25_p50_ms_head" -> Stats.median(singles.filter(_._2.tag == "head").map(_._2.ms).toSeq),
      "bm25_p50_ms_tail" -> Stats.median(singles.filter(_._2.tag == "tail").map(_._2.ms).toSeq),
      "bm25_batch_qps" -> qps,
      "bm25_batches" -> batches.size,
      "ann_batch_ms" -> Stats.median(probes.map(_._2.ms).toSeq),
      "ann_batches" -> probes.size,
      "bm25_single_ms_each" -> singles.map(_._2.ms).toSeq,
      "bm25_batch_ms_each" -> batches.map(_._2.ms).toSeq,
      "ann_batch_ms_each" -> probes.map(_._2.ms).toSeq)

    if (ctx.traced) {
      ctx.recordWork(singles.map(_._2).toSeq ++ batches.map(_._2) ++ probes.map(_._2))
      ctx.artifact("IndexBuilder") = Layers.builder(ctx, builds.takeRight(1).toSeq, Text.docs)
      ctx.artifact("Wand") = Layers.wand(ctx,
        singles.map(s => (s._2, 1)).toSeq ++ batches.map(b => (b._2, b._1.size)))
      ctx.artifact("Wand_cost") = Kernels.wandCost(ctx, ix, Seq(1L), singles.map(s => (s._1, s._2.tag)).toSeq)
      ctx.artifact("AnnIndex") = Layers.ann(ctx, probes.map(_._2).toSeq)
      Kernels.run(ctx, dir, Some((ix, Seq(1L))))
    }
    ctx.delete(dir)
  }
}
