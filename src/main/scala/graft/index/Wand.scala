package graft.index

import graft.core.Types._
import graft.functions.BM25
import graft.operators.TopK
import graft.queries.QuerySet
import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Block-Max WAND top-k over sealed segments — the fast query path, the
  * analogue of the reference's pruned beam traversal
  * (`beamsearch_inner_beam`, /root/reference/src/searchgraph/beamsearch.jl:30-60):
  * θ-pruning ≡ the radius bound `d ≤ Δ·maximum(res)` with
  * θ = `covradius` (k-th best, ∞/−∞ until full,
  * /root/reference/src/pqueue/pqueue.jl:35), block skipping ≡ the
  * visited-set + budget machinery. Unlike the reference's approximate
  * graph search, Block-Max WAND with exact per-block maxima is
  * RANK-EXACT (SURVEY.md §7.3) — required, since our gate is
  * rank-identity with the exhaustive scorer.
  *
  * Distribution model (the reference's `ParallelExhaustiveSearch`
  * partial/merge, /root/reference/src/parallel-exhaustive.jl:44-62,
  * where each partition keeps its own state and the caller only merges
  * partial queues): the first call on an (index, snapshot set) loads it
  * into Spark storage as a [[Resident]] entry — one [[ShardSegment]]
  * per shard, holding for every term with postings in the shard its
  * posting lists, its global df and its hint rows, and the shard's
  * norms decoded and doc-sorted. Every call then runs in three layers.
  * (1) The driver resolves the corpus stats only (n_docs, avgdl and the
  * per-snapshot bound scales); it looks no term up. (2) One
  * single-stage job evaluates WAND for all queries on every resident
  * segment: each task derives idf and the θ₀ warm-start from its own
  * segment's dictionary and returns each (shard, query)'s bounded top-k
  * heap with its pruning counters. The job is submitted with
  * `SparkContext.runJob` straight on the resident RDD, its task
  * function a [[ShardEval]] instance, not a lambda: Spark's
  * `ClosureCleaner` reads the capturing class's bytecode with ASM for
  * every lambda on every call, and returns at once on a class that is
  * not a closure. So a call builds no RDD and cleans no closure. (3)
  * The driver flattens those heaps — at most shards × queries × k hits —
  * and merges them per query with [[TopK]], the reference's caller-side
  * queue merge. So every call is ONE Spark job, whatever terms it names,
  * and a first call on a fresh entry two (the stats read, then the eval
  * that computes and stores the segments). A warm call reads no parquet,
  * plans no Catalyst query and shuffles nothing; scaling in docs is
  * scaling in shards.
  *
  * Key and lifecycle: an entry is keyed by (index dir, sorted snapshot
  * ids) and stamped with a fingerprint of its snapshots' sidecar files
  * (names and lengths, from a driver-side listing that starts no job).
  * Every Spark overwrite writes new part-file names, so an index
  * rewritten in place — by this JVM or any other — no longer matches,
  * and the next call unpersists the stale entry and loads afresh. An
  * entry is also unpersisted by [[release]], and when a later load
  * finds its index dir gone. An entry belongs to the `SparkContext`
  * that loaded it: once that context is stopped or replaced, its
  * storage is gone with it, so the entry is stale whatever its
  * fingerprint says, and it is dropped without an unpersist.
  * Entries are persisted
  * [[ResidentStorage]]: under memory pressure a segment spills to the
  * executor's disk rather than being recomputed from parquet, and a
  * lost block is recomputed from the load's lineage. An entry's memory
  * is bounded by the index's (shard, term) posting lists, each term's
  * df and ≤ H hint rows per snapshot held beside them — not by the
  * terms queries have named.
  *
  * θ₀ is per shard: a shard sums the hint rows of the query terms it
  * holds. A partial score over a subset of a query's terms is never
  * above that doc's full score, so θ₀ stays a certified lower bound on
  * the k-th best score and results stay rank-exact; for a query whose
  * terms all occur in the shard it equals the bound over all terms.
  *
  * Rounding discipline: heap order and final ranking use ROUNDED
  * scores ((round(s,4) DESC, doc_id ASC) — identical to the exact path
  * and the DuckDB oracle), while pruning bounds are unrounded uppers
  * with a conservative margin [[RoundEps]]: a doc is skipped only if
  * its upper bound < θ − eps, which guarantees its rounded score could
  * not beat nor tie θ.
  */
object Wand {

  val RoundEps: Double = math.pow(10.0, -BM25.SCALE)

  /** Per-query evaluation cost counters — the reference's
    * `costdist`/`costblk` (/root/reference/src/pqueue/knnsorted.jl:10-13,
    * incremented at /root/reference/src/sequential-exhaustive.jl:67 and
    * /root/reference/src/searchgraph/beamsearch.jl:92-93): how many docs
    * got a full BM25 evaluation, how many blocks were decoded, and how
    * many blocks the θ-bound let the cursors jump over WITHOUT decoding
    * — the direct observable of Block-Max WAND pruning effectiveness.
    */
  final class Costs {
    var docsScored = 0L
    var blocksDecoded = 0L
    var blocksSkipped = 0L
  }

  /** One shard's answer to one query before the driver-side merge: its
    * local top-k heap (unordered) and its pruning counters. One row per
    * (shard, query) that had a cursor in the shard.
    */
  final case class ShardHits(query_id: Int, doc_ids: Array[Long],
      scores: Array[Double], docs_scored: Long, blocks_decoded: Long,
      blocks_skipped: Long)

  /** Posting-list cursor with block-skip seek.
    *
    * `boundScale` keeps the Block-Max bounds SOUND for multi-snapshot
    * queries: `block_max_tfn` is sealed under the segment's OWN avgdl,
    * but scoring runs under the avgdl merged across all queried
    * snapshots, and tfn is increasing in avgdl — a merged avgdl above
    * the seal-time one makes true contributions exceed the sealed
    * maxima. The supremum of tfn(tf,dl,avgdl_m)/tfn(tf,dl,avgdl_s)
    * over all (tf, dl) is exactly avgdl_m/avgdl_s (cross-multiplying
    * (tf+c+s·dl)/(tf+c+m·dl) ≤ s/m with s = k1·b/avgdl_s reduces to
    * m ≤ s), so scaling the sealed bounds by
    * max(1, avgdl_m/avgdl_s) restores a certified upper bound; for the
    * single-snapshot case the scale is 1 and the bounds stay tight.
    */
  final class Cursor(val pl: PostingList, val idf: Double, cost: Costs,
      boundScale: Double = 1.0) {
    private var block = -1
    private var idx = 0
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    var curDoc: Long = 0L
    var exhausted = false
    val maxContrib: Double = idf * pl.block_max_tfn.max * boundScale

    private def loadBlock(b: Int): Unit = {
      if (b > block + 1) cost.blocksSkipped += b - block - 1
      cost.blocksDecoded += 1
      block = b
      val dt = IndexFormat.decodeBlock(pl, b)
      docs = dt._1; tfs = dt._2; idx = 0; curDoc = docs(0)
    }
    loadBlock(0)

    def blockMaxContrib: Double = idf * pl.block_max_tfn(block) * boundScale
    def blockLast: Long = pl.block_last_doc(block)
    def tf: Long = tfs(idx)

    def next(): Unit = {
      if (idx + 1 < docs.length) { idx += 1; curDoc = docs(idx) }
      else if (block + 1 < IndexFormat.numBlocks(pl)) loadBlock(block + 1)
      else exhausted = true
    }

    /** Advance to the first doc >= target (block-granular skip via
      * binary search over the strictly-increasing `block_last_doc`
      * array, then in-block scan — a block is ≤ 128 entries). A long
      * skip over a 10^5-block head-term list is O(log blocks), not a
      * linear boundary walk; `blocksSkipped` counts identically to the
      * former scan (blocks jumped over without decoding).
      */
    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      if (blockLast < target) {
        val lasts = pl.block_last_doc
        val nb = lasts.length
        // first b in (block, nb) with lasts(b) >= target; lasts is
        // strictly increasing (doc ids are), so binarySearch is exact
        val p = java.util.Arrays.binarySearch(lasts, block + 1, nb, target)
        val b = if (p >= 0) p else -(p + 1)
        if (b >= nb) { cost.blocksSkipped += nb - block - 1; exhausted = true; return }
        loadBlock(b)
      }
      while (docs(idx) < target) idx += 1
      curDoc = docs(idx)
    }
  }

  /** One query's WAND over one shard's cursors; fills `heap`. `dlAt`
    * resolves a doc's length from the norms sidecar.
    */
  /** @param theta0 a PROVEN lower bound on the k-th best ROUNDED score
    *   (from the hints sidecar), or −∞. Sound because the k witness
    *   docs behind it are ordinary corpus docs: their upper bounds are
    *   ≥ their scores ≥ θ0 − eps, so the floor can never prune them —
    *   it only lets pruning fire before the heap has filled.
    */
  private[index] def wandQuery(cursors0: Array[Cursor], heap: TopK.State,
      dlAt: Long => Long, avgdl: Double, cost: Costs,
      theta0: Double = Double.NegativeInfinity): Unit = {
    var cursors = cursors0.filter(!_.exhausted)
    val ord = Ordering.by((c: Cursor) => c.curDoc)
    while (cursors.nonEmpty) {
      java.util.Arrays.sort(cursors, ord)
      val thetaP = math.max(TopK.threshold(heap), theta0) - RoundEps
      var acc = 0.0
      var pivot = -1
      var i = 0
      while (i < cursors.length && pivot == -1) {
        acc += cursors(i).maxContrib
        if (acc > thetaP) pivot = i
        i += 1
      }
      if (pivot == -1) return // not even Σ max-contributions can matter
      val pivotDoc = cursors(pivot).curDoc
      if (cursors(0).curDoc == pivotDoc) {
        // candidate set = ALL cursors at pivotDoc, not just 0..pivot:
        // cursors past the pivot may also sit on this doc and their
        // contributions belong in its upper bound (missing them loses
        // true top-k docs — caught by the multi-block WandSpec test)
        var p2 = pivot
        while (p2 + 1 < cursors.length && cursors(p2 + 1).curDoc == pivotDoc) p2 += 1
        // block-max refinement: bound using CURRENT blocks of 0..p2
        var bacc = 0.0
        var j = 0
        while (j <= p2) { bacc += cursors(j).blockMaxContrib; j += 1 }
        if (bacc > thetaP) {
          val dl = dlAt(pivotDoc)
          var s = 0.0
          var j2 = 0
          while (j2 < cursors.length && !cursors(j2).exhausted &&
              cursors(j2).curDoc == pivotDoc) {
            val c = cursors(j2)
            s += c.idf * BM25.tfNorm(c.tf, dl, avgdl)
            c.next()
            j2 += 1
          }
          cost.docsScored += 1
          TopK.insert(heap, pivotDoc, BM25.roundScore(s))
        } else {
          // skip to the nearest block boundary; docs in [pivotDoc, target)
          // are bounded by bacc ≤ θ' (cursors beyond p2 sit ≥ target)
          var minLast = Long.MaxValue
          var j3 = 0
          while (j3 <= p2) { minLast = math.min(minLast, cursors(j3).blockLast); j3 += 1 }
          var target = minLast + 1
          if (p2 + 1 < cursors.length) target = math.min(target, cursors(p2 + 1).curDoc)
          if (target <= pivotDoc) target = pivotDoc + 1
          var j4 = 0
          while (j4 <= p2) { cursors(j4).seek(target); j4 += 1 }
        }
      } else {
        // docs below pivotDoc are bounded by Σ_{i<pivot} max ≤ θ': skip them
        var j5 = 0
        while (j5 < pivot) {
          if (cursors(j5).curDoc < pivotDoc) cursors(j5).seek(pivotDoc)
          j5 += 1
        }
      }
      if (cursors.exists(_.exhausted)) cursors = cursors.filter(!_.exhausted)
    }
  }

  /** What the termstats and hints sidecars of a snapshot set say about
    * one term: its global df summed over the snapshots and its distinct
    * hint rows `(doc_id, tf, dl)`.
    */
  private[index] final case class TermInfo(df: Long, hints: Array[(Long, Long, Long)])

  /** One shard's resident part of an index: for every term with postings
    * in the shard, its [[TermInfo]] and its posting lists, each tagged
    * with the snapshot id it was loaded from; and the shard's norms
    * decoded and sorted by doc id — FULLY sorted, since unmerged
    * snapshots' doc ranges may interleave arbitrarily within a shard
    * (the [[IndexBuilder.mergeSnapshots]] contract). Built once per
    * resident entry, so no call re-decodes a norm or looks a term up.
    * Its size is bounded by the shard's (term, posting list) pairs plus
    * at most H hint rows per snapshot for each of those terms.
    */
  private[index] final class ShardSegment(
      val byTerm: Map[String, (TermInfo, Array[(Long, PostingList)])],
      nids: Array[Long], ndls: Array[Long]) extends Serializable {

    def dlAt(doc: Long): Long = {
      val p = java.util.Arrays.binarySearch(nids, doc)
      require(p >= 0, s"doc $doc missing from norms sidecar")
      ndls(p)
    }

    /** All queries over this shard: one [[ShardHits]] per query that
      * had any cursor here, so hits and counters come out of ONE pass.
      * idf comes from the global df each held term carries, θ₀ from
      * the hint rows of the query terms the shard holds (see
      * [[hintTheta]]). The counters travel in the task's result rows,
      * not an accumulator, so a retried task cannot double-count them.
      */
    def eval(args: EvalArgs): Iterator[ShardHits] =
      args.queries.iterator.flatMap { q =>
        val held = q.terms.distinct.flatMap(byTerm.get)
        if (held.isEmpty) None
        else {
          val cost = new Costs
          val idfs = held.map { case (ti, _) => BM25.idf(args.nDocs, ti.df) }
          val cursors = held.zip(idfs).flatMap { case ((_, lists), idf) =>
            lists.map { case (snap, pl) =>
              new Cursor(pl, idf, cost, args.snapScale.getOrElse(snap, 1.0))
            }
          }.toArray
          val theta0 =
            if (args.useHints) hintTheta(held.map(_._1.hints).zip(idfs), q.k, args.avgdl)
            else Double.NegativeInfinity
          val heap = TopK.empty(q.k)
          wandQuery(cursors, heap, dlAt, args.avgdl, cost, theta0)
          Some(ShardHits(q.query_id, heap.ids.take(heap.size),
            heap.scores.take(heap.size), cost.docsScored, cost.blocksDecoded,
            cost.blocksSkipped))
        }
      }
  }

  private[index] object ShardSegment {
    /** The segment of whatever (shard, (postings, norms, dictionary
      * entries)) groups one load partition holds (one shard each under
      * the identity partitioning of small shard ids, but correct for
      * any).
      */
    def apply(groups: Iterator[(Int, (Iterable[(Long, PostingList)], Iterable[DocNorms],
        Iterable[(String, TermInfo)]))]): ShardSegment = {
      val lists = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[(Long, PostingList)]]
      val infos = scala.collection.mutable.HashMap.empty[String, TermInfo]
      val pairs = ArrayBuffer.empty[(Long, Long)]
      groups.foreach { case (_, (posts, norms, terms)) =>
        posts.foreach(sp => lists.getOrElseUpdate(sp._2.term, new ArrayBuffer) += sp)
        infos ++= terms
        norms.foreach { n =>
          val (ids, dls) = IndexFormat.decodeNorms(n)
          ids.indices.foreach(i => pairs += ((ids(i), dls(i))))
        }
      }
      val sorted = pairs.toArray.sortBy(_._1)
      new ShardSegment(lists.map { case (t, ps) => t -> (infos(t), ps.toArray) }.toMap,
        sorted.map(_._1), sorted.map(_._2))
    }
  }

  /** θ warm-start from the hints sidecar (the reference's hints role,
    * /root/reference/src/searchgraph/hints.jl:42-264): sum each hint
    * doc's contributions over the given (hint rows, idf) terms (tfn
    * under the merged avgdl), round onto the score grid, and take the
    * k-th largest — a certified lower bound on the k-th best final
    * score for any subset of a query's terms (see the object doc). −∞
    * (no warm start) with fewer than k hint docs.
    */
  private def hintTheta(terms: Seq[(Array[(Long, Long, Long)], Double)], k: Int,
      avgdl: Double): Double = {
    val perDoc = scala.collection.mutable.HashMap.empty[Long, Double]
    terms.foreach { case (hints, idf) => hints.foreach { case (doc, tf, dl) =>
      perDoc(doc) = perDoc.getOrElse(doc, 0.0) + idf * BM25.tfNorm(tf, dl, avgdl)
    } }
    val lower = perDoc.values.map(BM25.roundScore).toArray.sorted(Ordering[Double].reverse)
    if (lower.length >= k) lower(k - 1) else Double.NegativeInfinity
  }

  /** What a shard-eval task needs besides its segment; it rides the
    * [[ShardEval]], so Spark ships it once per call in the stage's task
    * binary. `nDocs` and `avgdl` are merged over the queried snapshots.
    * `snapScale` is the per-snapshot Block-Max bound scale
    * (max(1, merged avgdl / snapshot avgdl) — see [[Cursor]]), keyed by
    * the snapshot id each posting list was loaded from.
    */
  private[index] final case class EvalArgs(queries: Seq[TermQuery], nDocs: Long,
      avgdl: Double, useHints: Boolean, snapScale: Map[Long, Double])

  /** The shard-eval task function: every query of `args` on each
    * segment of the task's partition. A named class, not a lambda, so
    * Spark has no closure to clean (see the object doc).
    */
  private[index] final class ShardEval(args: EvalArgs)
      extends ((TaskContext, Iterator[ShardSegment]) => Array[ShardHits]) with Serializable {
    def apply(ctx: TaskContext, segments: Iterator[ShardSegment]): Array[ShardHits] =
      segments.flatMap(_.eval(args)).toArray
  }

  /** Batch top-k over a built index (possibly several unmerged
    * snapshots — cursors per segment, doc ranges disjoint per term).
    * Eager: runs the shard eval, merges on the driver, and returns a
    * local frame of `(query_id, rnk, doc_id, score)` rows in
    * (query_id, rnk) order — at most queries × k rows.
    */
  def topK(spark: SparkSession, indexDir: String, snaps: Seq[Long],
      queries: Seq[TermQuery] = QuerySet.queries): DataFrame =
    hitFrame(spark, merged(spark, indexDir, snaps, queries, useHints = true)._1)

  /** Storage level of every resident entry: a segment that does not fit
    * in memory spills to local disk instead of being dropped and
    * re-read from parquet on the next call.
    */
  private val ResidentStorage: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** One (index, snapshot set) held in Spark storage (see the object
    * doc for its key and lifecycle): its snapshots' stats on the driver
    * and ONE persisted RDD of [[ShardSegment]]s, one per shard. Memory
    * is bounded by the index's (shard, term) posting lists, not by the
    * terms queries have named.
    */
  private final class Resident(val fingerprint: Seq[(String, Long)],
      val stats: Seq[IndexBuilder.SnapStats], val segments: RDD[ShardSegment]) {
    /** Was this entry loaded by `sc`, and is `sc` still running? */
    def liveIn(sc: SparkContext): Boolean = (segments.sparkContext eq sc) && !sc.isStopped
    /** Frees the entry's storage; a stopped context has none left. */
    def unpersist(): Unit =
      if (!segments.sparkContext.isStopped) segments.unpersist(blocking = false)
  }

  private type Key = (String, Seq[Long])
  private val resident = TrieMap.empty[Key, Resident]
  private val loadLocks = TrieMap.empty[Key, AnyRef]

  /** The [[IndexBuilder.fileListing]] of the snapshots' sidecar dirs. */
  private def fingerprint(spark: SparkSession, indexDir: String,
      snaps: Seq[Long]): Seq[(String, Long)] = {
    val paths = IndexBuilder.IndexPaths(indexDir)
    snaps.flatMap(s => Seq(paths.postings(s), paths.norms(s), paths.termstats(s),
        paths.stats(s), paths.hints(s))).flatMap(IndexBuilder.fileListing(spark, _))
  }

  /** The resident entry for (indexDir, snaps): the current one when
    * its fingerprint still matches the files and it lives in the
    * caller's context, else a fresh load under the key's lock (the
    * stale entry unpersisted first, entries of a dead context dropped).
    */
  private def residentEntry(spark: SparkSession, indexDir: String,
      snaps: Seq[Long]): Resident = {
    val key: Key = (indexDir, snaps.sorted)
    val fp = fingerprint(spark, indexDir, key._2)
    loadLocks.getOrElseUpdate(key, new AnyRef).synchronized {
      resident.get(key) match {
        case Some(e) if e.fingerprint == fp && e.liveIn(spark.sparkContext) => e
        case stale =>
          stale.foreach { e => resident.remove(key); e.unpersist() }
          resident.collect { case (k, o) if !o.liveIn(spark.sparkContext) => k }
            .foreach(resident.remove)
          resident.keys.filter(k => !IndexBuilder.pathExists(spark, k._1))
            .foreach(k => release(k._1))
          val e = load(spark, indexDir, key._2, fp)
          resident.put(key, e).foreach(_.unpersist())
          e
      }
    }
  }

  /** The resident load's Catalyst plans, the only ones left on the
    * query path, each a union over the snapshots read with the writers'
    * declared schemas: the postings tagged with their snapshot id, the
    * norms, and the dictionary inputs keyed by term — the `(term, shard)`
    * pairs of the postings (a read of those two columns only), termstats
    * `(term, df)` and hint rows `(term, doc_id, tf, dl)`. Every sidecar is
    * required: a missing dir fails here with `PATH_NOT_FOUND`.
    */
  private[graft] def loadPlans(spark: SparkSession, indexDir: String, snaps: Seq[Long])
      : (Dataset[(Long, PostingList)], Dataset[DocNorms], Dataset[(String, Int)],
      Dataset[(String, Long)], Dataset[(String, Long, Long, Long)]) = {
    import spark.implicits._
    import IndexBuilder.Schemas
    val paths = IndexBuilder.IndexPaths(indexDir)
    def read(dir: Long => String, schema: StructType, cols: String*): DataFrame =
      snaps.map(s => spark.read.schema(schema).parquet(dir(s)).select(cols.map(col): _*))
        .reduce(_ union _)
    val posts = snaps.map(s => IndexBuilder.loadPostings(spark, indexDir, Seq(s))
      .map(pl => (s, pl))).reduce(_ union _)
    (posts, IndexBuilder.loadNorms(spark, indexDir, snaps),
      read(paths.postings, Schemas.postings, "term", "shard").as[(String, Int)],
      read(paths.termstats, Schemas.termstats, "term", "df").as[(String, Long)],
      read(paths.hints, Schemas.hints, "term", "doc_id", "tf", "dl").as[(String, Long, Long, Long)])
  }

  /** A new resident entry. Only the stats read runs here (one job); the
    * segments are persisted unmaterialized, and the first shard eval
    * computes and stores them. Its job cogroups the dictionary inputs by
    * term, which sends each term's [[TermInfo]] (df summed over the
    * snapshots, hint rows de-duplicated) to every shard holding postings
    * of it, then cogroups postings, norms and those entries by shard:
    * only the small dictionary rows cross the extra exchange, and the
    * posting payload crosses one.
    */
  private def load(spark: SparkSession, indexDir: String, snaps: Seq[Long],
      fp: Seq[(String, Long)]): Resident = {
    val stats = IndexBuilder.loadStats(spark, indexDir, snaps)
    val (posts, norms, termShards, dfs, hintRows) = loadPlans(spark, indexDir, snaps)
    // shard ids are 0 until num_shards, so hash partitioning by shard
    // puts each shard in its own partition
    val shards = new HashPartitioner(stats.map(_.num_shards).max)
    val dict = termShards.rdd.cogroup(dfs.rdd,
        hintRows.rdd.map { case (t, doc, tf, dl) => (t, (doc, tf, dl)) }, shards)
      .flatMap { case (t, (held, df, hints)) =>
        require(held.isEmpty || df.nonEmpty, s"term '$t' has postings but no termstats row")
        val info = TermInfo(df.sum, hints.toArray.distinct)
        held.toSeq.distinct.map(s => (s, (t, info)))
      }
    val segments = posts.rdd.keyBy(_._2.shard).cogroup(norms.rdd.keyBy(_.shard), dict, shards)
      .mapPartitions(groups => Iterator(ShardSegment(groups)))
      .setName(s"wand segments $indexDir snaps=${snaps.mkString(",")}")
      .persist(ResidentStorage)
    new Resident(fp, stats, segments)
  }

  /** Unpersist every resident entry of `indexDir`. Only frees memory:
    * correctness never depends on it, since a rewritten index fails the
    * fingerprint check on its next call.
    */
  def release(indexDir: String): Unit =
    resident.keys.filter(_._1 == indexDir).foreach { k =>
      resident.remove(k).foreach(_.unpersist())
      loadLocks.remove(k)
    }

  /** One query's pruning counters summed over shards. */
  final case class QueryCost(query_id: Int, docs_scored: Long,
      blocks_decoded: Long, blocks_skipped: Long)

  /** The result frames' declared schemas: the same names, types and
    * nullability as `Encoders.product[QueryHit]` / `[QueryCost]`, with
    * no encoder derived per call.
    */
  private val HitSchema = StructType.fromDDL(
    "query_id INT NOT NULL, rnk INT NOT NULL, doc_id BIGINT NOT NULL, score DOUBLE NOT NULL")
  private val CostSchema = StructType.fromDDL(
    "query_id INT NOT NULL, docs_scored BIGINT NOT NULL, blocks_decoded BIGINT NOT NULL, " +
      "blocks_skipped BIGINT NOT NULL")

  private def hitFrame(spark: SparkSession, hits: Seq[QueryHit]): DataFrame =
    spark.createDataFrame(hits.map(h => Row(h.query_id, h.rnk, h.doc_id, h.score)).asJava,
      HitSchema)

  /** [[topK]] plus the per-query cost metrics
    * `(query_id, docs_scored, blocks_decoded, blocks_skipped)` summed
    * over shards — the production observable for WAND pruning (the
    * reference's `costdist`/`costblk`). Both come from ONE collect of
    * the [[shardHits]] (≤ shards × queries rows of ≤ k hits); the
    * driver merges each query's shard heaps with [[TopK]] and sums its
    * counters. Both returned frames are small local DataFrames, hits
    * in (query_id, rnk) order and metrics in query_id order.
    */
  def topKWithMetrics(spark: SparkSession, indexDir: String, snaps: Seq[Long],
      queries: Seq[TermQuery] = QuerySet.queries,
      useHints: Boolean = true): (DataFrame, DataFrame) = {
    val (hits, costs) = merged(spark, indexDir, snaps, queries, useHints)
    (hitFrame(spark, hits), spark.createDataFrame(costs.map(c =>
      Row(c.query_id, c.docs_scored, c.blocks_decoded, c.blocks_skipped)).asJava, CostSchema))
  }

  /** One call's hits in (query_id, rnk) order and its counters in
    * query_id order.
    */
  private def merged(spark: SparkSession, indexDir: String, snaps: Seq[Long],
      queries: Seq[TermQuery], useHints: Boolean): (Seq[QueryHit], Seq[QueryCost]) = {
    val kById = queries.groupMapReduce(_.query_id)(_.k)((first, _) => first)
    val byQuery = shardHits(spark, indexDir, snaps, queries, useHints)
      .groupBy(_.query_id).toSeq.sortBy(_._1)
    val hits = byQuery.flatMap { case (qid, parts) =>
      val heap = TopK.empty(kById(qid))
      parts.foreach(p => p.doc_ids.indices.foreach(i =>
        TopK.insert(heap, p.doc_ids(i), p.scores(i))))
      TopK.result(heap).zipWithIndex.map { case (h, i) => QueryHit(qid, i + 1, h.doc_id, h.score) }
    }
    val metrics = byQuery.map { case (qid, parts) =>
      QueryCost(qid, parts.map(_.docs_scored).sum, parts.map(_.blocks_decoded).sum,
        parts.map(_.blocks_skipped).sum)
    }
    (hits, metrics)
  }

  /** Every (shard, query) heap of one call: the driver resolves the
    * stats of the resident entry, then one single-stage job evaluates
    * all queries on every resident segment: one `runJob` of a
    * [[ShardEval]] on the resident RDD itself, so the call builds no RDD.
    */
  private def shardHits(spark: SparkSession, indexDir: String,
      snaps: Seq[Long], queries: Seq[TermQuery], useHints: Boolean): Array[ShardHits] = {
    val e = residentEntry(spark, indexDir, snaps)
    val nDocs = e.stats.map(_.n_docs).sum
    val avgdl = e.stats.map(_.sum_dl).sum.toDouble / nDocs
    // per-snapshot Block-Max bound scale (see Cursor): sealed maxima
    // are tight under their own avgdl; a merged avgdl above it needs
    // the avgdl-ratio correction to stay an upper bound
    val snapScale: Map[Long, Double] = e.stats
      .map(s => s.snapshot_id -> math.max(1.0, avgdl / s.avgdl)).toMap
    val args = EvalArgs(queries, nDocs, avgdl, useHints, snapScale)
    spark.sparkContext.runJob(e.segments, new ShardEval(args)).flatten
  }

  /** Temp-index scope for the registry entries: `f` returns a local
    * frame ([[topK]]), so the index is deleted — and its resident entry
    * released — on success and failure alike. A build that throws must not
    * strand a partially written index in /tmp (a bench loop retrying
    * the op would fill the disk), and the registry index queries build
    * a throwaway index per call.
    */
  private def withTempIndex(prefix: String)(f: String => DataFrame): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(idx)
    finally {
      graft.operators.StreamingOps.deleteRec(idx)
      release(idx)
    }
  }

  /** Registry entry: build a fresh index for the sfDir corpus in a temp
    * dir, then run the fixed query set through WAND. Content is a pure
    * function of the corpus — the temp location does not matter.
    */
  def topKOnCorpus(spark: SparkSession, sfDir: String, numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-") { idx =>
      IndexBuilder.build(spark, sfDir, idx, numShards)
      topK(spark, idx, Seq(1L))
    }

  /** Registry entry for the NORTH-RULE INGEST SHAPE: the corpus arrives
    * as the web-page table `(url, warc_ts, html BINARY, text, lang)`
    * (derived deterministically from the fixture — BASELINE.json
    * `input_hint`), text is EXTRACTED FROM THE HTML BYTES inside the
    * build plan ([[graft.corpus.Extractor.extractTextCol]] — codegen'd
    * regexp, no UDF), and extraction → tokenize → seal runs as one
    * Catalyst plan with no materialized intermediate corpus. The oracle
    * is the unchanged exhaustive BM25 SQL over `documents`: the whole
    * url→html→extract→index→WAND pipeline is correct iff it answers
    * exactly like an index over the carried text column — the
    * "byte-identical extracted text per url" invariant, enforced at
    * the ranking level by the driver's hash gate.
    */
  def topKOnPagesCorpus(spark: SparkSession, sfDir: String, numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-pages-") { idx =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val docsFromPages = graft.corpus.Corpus.pages(spark, sfDir)
        .select(
          regexp_extract(col("url"), "/p(\\d+)$", 1).cast("long").as("doc_id"),
          graft.corpus.Extractor.extractTextCol(col("html")).as("text"))
      IndexBuilder.build(spark, sfDir, idx, numShards,
        docsOverride = Some(docsFromPages))
      topK(spark, idx, Seq(1L))
    }

  /** The q37/q67 ingest: snapshot 1 over the lower half of the corpus'
    * doc ids (split at the midpoint of 0..max doc_id), then snapshot 2,
    * parented on 1, over the upper half — commits 1 and 2 of the
    * manifest.
    */
  private def buildHalves(spark: SparkSession, sfDir: String, idx: String,
      numShards: Int): Unit = {
    import org.apache.spark.sql.functions.max
    val maxDoc = graft.corpus.Corpus.documents(spark, sfDir)
      .agg(max("doc_id")).head().getLong(0)
    val mid = (maxDoc + 1) / 2
    IndexBuilder.build(spark, sfDir, idx, numShards, snapshotId = 1L,
      docIdRange = Some((0L, mid)))
    IndexBuilder.build(spark, sfDir, idx, numShards, snapshotId = 2L,
      parentSnapshot = 1L, docIdRange = Some((mid, maxDoc + 1)))
  }

  /** Registry entry for the LOG-STRUCTURED MERGE (the reference's
    * `rebuild` compaction, /root/reference/src/searchgraph/rebuild.jl:17-53):
    * build TWO snapshots over the doc-id halves of the corpus, compact
    * them with [[IndexBuilder.mergeSnapshots]], and run the fixed query
    * set through WAND over the MERGED snapshot only. The oracle is the
    * unchanged exhaustive BM25 SQL over the full corpus — a merged
    * index is correct iff it answers exactly like a direct full build.
    */
  def topKOnMergedCorpus(spark: SparkSession, sfDir: String, numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-merge-") { idx =>
      buildHalves(spark, sfDir, idx, numShards)
      IndexBuilder.mergeSnapshots(spark, idx, Seq(1L, 2L), outSnap = 3L, numShards)
      topK(spark, idx, Seq(3L))
    }

  /** Registry entry for the [[IndexBuilder.EpsilonNetHints]] strategy
    * (the reference's `EpsilonHints` callback, hints.jl:181-220): the
    * SAME build and query with ε-net witness selection. Hints are a θ
    * warm-start only — any strategy's sidecar must leave results
    * bit-identical — so the oracle is the unchanged exhaustive BM25
    * SQL, putting the strategy itself under the DuckDB gate.
    */
  def topKOnCorpusEpsHints(spark: SparkSession, sfDir: String,
      numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-eps-") { idx =>
      IndexBuilder.build(spark, sfDir, idx, numShards,
        hintStrategy = IndexBuilder.EpsilonNetHints())
      topK(spark, idx, Seq(1L))
    }

  /** Registry entry for manifest time travel
    * ([[IndexBuilder.snapshotsAsOf]] — the north rule's Iceberg-style
    * snapshot lineage made queryable): ingest two half-corpus
    * snapshots (commits 1 and 2 of the append-only manifest), then
    * answer the query batch AS OF commit 1 — the snapshot set is
    * resolved from the lineage, not hard-coded, and the result must
    * equal BM25 over exactly the first half of the corpus (the oracle
    * filters `documents` with the same midpoint split). The
    * stats/idf/avgdl side is per queried-snapshot-set, so the as-of
    * query scores under the as-of corpus statistics, not today's.
    */
  def topKAsOfCommit(spark: SparkSession, sfDir: String,
      numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-asof-") { idx =>
      buildHalves(spark, sfDir, idx, numShards)
      val snaps = IndexBuilder.snapshotsAsOf(spark, idx, commitSeq = 1L)
      require(snaps == Seq(1L), s"as-of commit 1 must see snapshot 1 only: $snaps")
      topK(spark, idx, snaps)
    }

  /** Registry entry for the log-growth callbacks scheduler
    * ([[IndexBuilder.maybeCompact]], the reference's
    * `execute_callbacks!` at callbacks.jl:8-13): an ingest loop of four
    * doc-range batches where the SCHEDULER decides after each append
    * whether to compact the live snapshot set (starting=100 so the
    * fixture sizes cross real log1.5 boundaries — several do at every
    * SF). Whatever mix of merged and unmerged snapshots the scheduler
    * leaves live must answer exactly like one full build — the same
    * exhaustive-BM25 oracle as q03/q37.
    */
  def topKOnScheduledIngest(spark: SparkSession, sfDir: String,
      numShards: Int = 4): DataFrame =
    withTempIndex("graft-index-sched-") { idx =>
      import org.apache.spark.sql.functions.max
      val maxDoc = graft.corpus.Corpus.documents(spark, sfDir)
        .agg(max("doc_id")).head().getLong(0)
      val cuts = Seq(0.0, 0.3, 0.55, 0.8, 1.0)
        .map(f => math.round(f * (maxDoc + 1)).toLong)
      var live = Seq.empty[Long]
      var out = 10L
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        val snap = (i + 1).toLong
        IndexBuilder.build(spark, sfDir, idx, numShards, snapshotId = snap,
          docIdRange = Some((lo, hi)))
        if (IndexBuilder.maybeCompact(spark, idx, live, snap, out, numShards,
            starting = 100)) {
          live = Seq(out); out += 1
        } else live = live :+ snap
      }
      topK(spark, idx, live)
    }
}
