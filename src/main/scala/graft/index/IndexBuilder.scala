package graft.index

import graft.analysis.Tokenizer
import graft.core.Types._
import graft.corpus.Corpus
import graft.functions.BM25
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CollectionAccumulator
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Inverted-index build — the engine's `index!` (reference build driver
  * /root/reference/src/searchgraph/insertions.jl:19-59), re-expressed
  * as ONE wide sort-based shuffle per artifact instead of the
  * reference's lock-guarded thread blocks: the two-step reverse-link
  * pass it needs for race freedom
  * (/root/reference/src/searchgraph/neighborhood.jl:66-82) is exactly
  * what a shuffle gives for free (SURVEY.md §2.3).
  *
  * Pipeline (SURVEY.md §3.2):
  *   documents scan (doc_id, text → column pruning)
  *   → tokenize, tf and dl counted inside each document's row
  *   → shard = doc_id range bucket; repartition(shard)
  *     + sortWithinPartitions(shard, term, doc_id)   [the one shuffle]
  *   → streaming per-(shard,term) run seal (delta-gap+VByte blocks,
  *     block-max metadata) — spill-safe: one posting list in memory
  *     at a time, never a whole shard
  *   → parquet partitioned by shard (dynamic partition overwrite →
  *     idempotent per-shard re-runs = resumability)
  *   → manifest rows (lineage: segment id, doc range, counts, bytes)
  *     written LAST — the Iceberg-style commit point.
  *
  * Skew: sharding postings by DOC RANGE is the salting — a head term's
  * postings split across all shards, so no reducer ever materializes a
  * full head-term posting list (SURVEY.md §7.3 "head-term skew").
  *
  * Scale: every stage is a Catalyst plan over typed Datasets (no RDDs);
  * shard count scales with corpus (docs/`docsPerShard`), each sealed
  * shard is bounded, AQE coalesces small outputs.
  */
object IndexBuilder {

  /** One (shard, term, doc) posting on its way to the seal; a null
    * term marks the document's norms row.
    */
  final case class TermPosting(shard: Int, term: String, doc_id: Long, tf: Long, dl: Long)

  final case class SnapStats(
      snapshot_id: Long, n_docs: Long, sum_dl: Long, avgdl: Double,
      num_shards: Int, max_doc: Long)

  final case class IndexPaths(root: String) {
    def postings(snap: Long) = s"$root/postings/snap=$snap"
    def norms(snap: Long) = s"$root/norms/snap=$snap"
    def termstats(snap: Long) = s"$root/termstats/snap=$snap"
    def stats(snap: Long) = s"$root/stats/snap=$snap"
    def hints(snap: Long) = s"$root/hints/snap=$snap"
    def manifest = s"$root/manifest"
    def metrics = s"$root/metrics"
  }

  /** The schema each sidecar's writer lays down. Every sidecar read
    * passes it, so no read starts a Parquet schema-inference job
    * (`shard` is the partition column of postings and norms). Parquet
    * reads a declared column the files lack as nulls, without error,
    * so WandSpec checks each against the schema Parquet infers from a
    * freshly built index.
    */
  object Schemas {
    val postings: StructType = StructType.fromDDL(
      "shard INT, term STRING, df_local BIGINT, cf_local BIGINT, " +
        "docs_enc BINARY, tfs_enc BINARY, block_last_doc ARRAY<BIGINT>, " +
        "block_max_tfn ARRAY<DOUBLE>, block_doc_off ARRAY<INT>, block_tf_off ARRAY<INT>")
    val norms: StructType = StructType.fromDDL(
      "shard INT, n_docs BIGINT, docs_enc BINARY, dls_enc BINARY")
    val termstats: StructType = StructType.fromDDL(
      "term STRING, df BIGINT, cf BIGINT, idf DOUBLE")
    val stats: StructType = StructType.fromDDL(
      "snapshot_id BIGINT, n_docs BIGINT, sum_dl BIGINT, avgdl DOUBLE, " +
        "num_shards INT, max_doc BIGINT")
    val hints: StructType = StructType.fromDDL(
      "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT")
  }

  /** Driver-side existence probe through the path's own Hadoop
    * FileSystem (a local-FS check is always false on hdfs:// or s3a://);
    * it starts no Spark job.
    */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Names and lengths of every file under `path`, sorted — a
    * driver-side listing through the path's own Hadoop FileSystem,
    * which starts no Spark job. A missing path lists nothing. It is the
    * fingerprint that keys caches by what the files are: a rewrite in
    * place, from this JVM or another, changes it.
    */
  private[graft] def fileListing(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a plain recursive listStatus: listFiles' located statuses load
    // owner and permissions per file, which the local file system
    // does by forking a shell
    def walk(d: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      fs.listStatus(d).toSeq.flatMap(f =>
        if (f.isDirectory) walk(f.getPath) else Seq(f.getPath.toString -> f.getLen))
    if (fs.exists(p)) walk(p).sorted else Nil
  }

  /** Values derived from a path's files, each stamped with the path's
    * [[fileListing]]: a value is computed again only when the listing
    * changed, so a table rewritten in place is never answered from
    * its old files.
    */
  private[graft] final class ListingMemo[V] {
    private val memo = TrieMap.empty[String, (Seq[(String, Long)], V)]
    def apply(spark: SparkSession, path: String)(compute: => V): V = {
      val fp = fileListing(spark, path)
      memo.get(path) match {
        case Some((f, v)) if f == fp => v
        case _ =>
          val v = compute
          memo.put(path, (fp, v))
          v
      }
    }
  }

  /** Hint fan-in per term (see the hints write in [[build]]). */
  val HintsPerTerm = 8

  /** Hint-selection strategy family — the reference ships several hint
    * callbacks (Random/Disjoint/KDisjoint/Epsilon/KCenters,
    * /root/reference/src/searchgraph/hints.jl:42-264); the engine's
    * sidecar schema is strategy-agnostic (any H REAL (doc_id, tf, dl)
    * witnesses keep the θ warm-start sound), so strategies differ only
    * in WHICH witnesses they keep. Random (hints.jl:42-75) is not kept:
    * on the fixed query set it scored 6,052 docs against 6,061 with no
    * hints and 5,665 with top-H (BASELINE.md "Hint strategy family
    * A/B"). Disjoint/KDisjoint (hints.jl:100-175) select by
    * graph-adjacency disjointness, a resource an inverted index doesn't
    * have, and KCenters diversity (hints.jl:221-264) is subsumed by the
    * ε-net over the 1-D tfn space (fft centers on a line ARE an ε-net).
    */
  sealed trait HintStrategy extends Serializable

  /** Default: the H strongest witnesses per term (largest tfn). */
  case object TopHHints extends HintStrategy

  /** The reference's `EpsilonHints` (hints.jl:181-220: "hints are a
    * small set of objects having a minimal distance between them")
    * transferred to the term-witness space: keep up to H witnesses
    * whose tf-normalizations are pairwise ≥ `eps` apart — an ε-net
    * over the tfn axis — chosen greedily in (tfn DESC, doc_id ASC)
    * order from an order-free top-`pool` candidate state (so the net
    * is deterministic and still map-side combined). Near-duplicate
    * witness profiles (the same (tf, dl) shape repeated) collapse to
    * one representative, freeing slots for DIVERSE profiles — the
    * reference's neardup-over-a-sample intent. tfn is bounded by
    * k1+1 = 2.2, so eps is an absolute gap on that scale (the
    * reference's `quantile=0` absolute-ε mode).
    */
  final case class EpsilonNetHints(eps: Double = 0.02, pool: Int = 4 * HintsPerTerm)
      extends HintStrategy

  final case class HintRow(doc_id: Long, tf: Long, dl: Long)

  /** Greedy ε-net over candidates already sorted (tfn DESC, doc_id ASC)
    * — keep a candidate iff its tfn is ≥ eps from every kept tfn; stop
    * at `h` kept — then PAD back to `h` with the strongest unkept
    * candidates in order. The pad is a deliberate divergence from the
    * reference's pure net (hints.jl:181-220): graph entry points WANT
    * duplicates collapsed, but our hints feed `Wand.hintThetas`, which
    * needs ≥ k witnesses before it can emit a θ0 at all — on a corpus
    * with uniform witness profiles (every (tf, dl) shape identical, the
    * selective needle workload) an unpadded net collapses each term to
    * ONE witness and the warm-start silently turns off (measured: the
    * selective query scored 34,068 docs unpadded vs 100 with top-H).
    * The strongest witness is always kept (first in order), so a
    * single-term θ0 never regresses below the top-1 bound.
    */
  private[graft] def epsilonNet(hs: Seq[HintRow], avgdl: Double, eps: Double,
      h: Int): Seq[HintRow] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[(HintRow, Double)]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[HintRow]
    val it = hs.iterator
    while (it.hasNext && kept.size < h) {
      val r = it.next()
      val tfn = graft.functions.BM25.tfNorm(r.tf, r.dl, avgdl)
      if (kept.forall { case (_, t) => math.abs(t - tfn) >= eps })
        kept += ((r, tfn))
      else skipped += r
    }
    (kept.map(_._1) ++ skipped.take(h - kept.size)).toSeq
  }

  /** Bounded aggregation state for [[HintsTopH]]: the ≤H best
    * (tfn DESC, doc_id ASC) candidates seen so far, plain arrays so the
    * product encoder applies (same shape as [[graft.operators.TopK.State]]).
    */
  final case class HintState(h: Int, doc_ids: Array[Long], tfs: Array[Long],
      dls: Array[Long], tfns: Array[Double], var size: Int)

  /** Partial+final top-H-per-term aggregator for the hints sidecar.
    * The former `row_number() over (partition by term)` routed a head
    * term's ENTIRE posting set through one reducer task — the exact
    * single-reducer skew shape the q13 rewrite eliminated, reappearing
    * on the build side at web scale. As a typed Aggregator the top-H is
    * combined map-side: only ≤H rows per (partition, term) ever
    * shuffle, so a stopword's hint cost is O(partitions·H), independent
    * of its df.
    */
  final class HintsTopH(h: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Long, Long, Double), HintState, Seq[HintRow]] {
    // the engine's one pinned (value DESC, id ASC) total order —
    // defined once in TopK so the rank-identity tie rule cannot drift
    private def better(tfn1: Double, id1: Long, tfn2: Double, id2: Long): Boolean =
      graft.operators.TopK.better(id1, tfn1, id2, tfn2)
    private def insert(b: HintState, id: Long, tf: Long, dl: Long, tfn: Double): HintState = {
      if (b.size < b.h) {
        b.doc_ids(b.size) = id; b.tfs(b.size) = tf; b.dls(b.size) = dl
        b.tfns(b.size) = tfn; b.size += 1
      } else {
        // find the worst kept candidate (H is tiny — linear scan)
        var w = 0; var i = 1
        while (i < b.size) {
          if (better(b.tfns(w), b.doc_ids(w), b.tfns(i), b.doc_ids(i))) w = i
          i += 1
        }
        if (better(tfn, id, b.tfns(w), b.doc_ids(w))) {
          b.doc_ids(w) = id; b.tfs(w) = tf; b.dls(w) = dl; b.tfns(w) = tfn
        }
      }
      b
    }
    override def zero: HintState =
      HintState(h, new Array[Long](h), new Array[Long](h), new Array[Long](h),
        new Array[Double](h), 0)
    override def reduce(b: HintState, a: (String, Long, Long, Long, Double)): HintState =
      insert(b, a._2, a._3, a._4, a._5)
    override def merge(b1: HintState, b2: HintState): HintState = {
      var i = 0
      while (i < b2.size) {
        insert(b1, b2.doc_ids(i), b2.tfs(i), b2.dls(i), b2.tfns(i)); i += 1
      }
      b1
    }
    override def finish(b: HintState): Seq[HintRow] =
      (0 until b.size).map(i => (b.doc_ids(i), b.tfs(i), b.dls(i), b.tfns(i)))
        .sortWith((x, y) => better(x._4, x._1, y._4, y._1))
        .map(t => HintRow(t._1, t._2, t._3))
    override def bufferEncoder: org.apache.spark.sql.Encoder[HintState] =
      org.apache.spark.sql.Encoders.product[HintState]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[HintRow]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[HintRow]]()
  }

  /** Candidates kept per term before `strategy` selects its hints. */
  private def poolSize(strategy: HintStrategy): Int = strategy match {
    case TopHHints => HintsPerTerm
    case EpsilonNetHints(_, pool) => pool
  }

  /** (term, doc_id, tf, dl) → ≤H hint rows per term under `avgdl`,
    * selected by `strategy`, via [[HintsTopH]] (map-side-combined —
    * head-term safe). The ε-net strategy widens the bounded candidate
    * state to `pool` and applies the net at finish — still ≤pool rows
    * per (partition, term) shuffle, df-independent.
    */
  private def topHintsPerTerm(df: org.apache.spark.sql.DataFrame,
      avgdl: Double, strategy: HintStrategy = TopHHints): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("term"), col("doc_id").cast("long"), col("tf").cast("long"),
        col("dl").cast("long"),
        graft.functions.BM25.tfNormCol(col("tf"), col("dl"), lit(avgdl)).as("tfn"))
      .as[(String, Long, Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new HintsTopH(poolSize(strategy)).toColumn.name("hs"))
      .flatMap { case (term, hs) =>
        val kept = strategy match {
          case TopHHints => hs
          case EpsilonNetHints(eps, _) => epsilonNet(hs, avgdl, eps, HintsPerTerm)
        }
        kept.map(r => (term, r.doc_id, r.tf, r.dl))
      }
      .toDF("term", "doc_id", "tf", "dl")
  }

  /** Build snapshot `snapshotId` over (optionally a doc_id subset of)
    * the corpus. `onlyShards` limits the writes to the given shards
    * (resume path); global artifacts (termstats/stats/hints) are
    * written only when sealing the full shard set, unless
    * `writeGlobals` says otherwise.
    *
    * `pruneTfnFloor` is the STATIC INDEX PRUNING dial — the inverted-
    * index analog of the reference's build-side neighborhood filters
    * (`SatNeighborhood`/`DistalSatNeighborhood`/`KCentersNeighborhood`,
    * /root/reference/src/searchgraph/neighborhood.jl:89-137), which
    * trade index size for recall by dropping low-impact edges at build
    * time. Here: drop postings whose idf-independent BM25 contribution
    * `tfn(tf, dl, avgdl)` falls below the floor — i.e. single
    * occurrences of a term inside long documents, the postings least
    * able to lift a document into any top-k. The filter is PER-ROW
    * (no join, no extra shuffle, no skew surface), so the dial is free
    * at any scale; df/idf and the hints sidecar are derived from the
    * PRUNED posting set, keeping the sealed index self-consistent.
    * `None` (default) = exact index; recall vs the exact index under
    * various floors is pinned in WandSpec.
    *
    * `docsOverride`: an alternative (doc_id, text) source plan — the
    * north-rule ingest path feeds the html EXTRACTION projection here
    * directly (see [[Wand.topKOnPagesCorpus]]), so extraction →
    * tokenize → seal is ONE Catalyst plan with no materialized
    * intermediate corpus.
    *
    * Passes:
    *   1. read (doc_id, text) → per-row tf ([[Tokenizer.docTerms]]:
    *      one tokenize, dl from the same pass), persisted; one job
    *      reads the corpus stats off it;
    *   2. shard exchange: the one Exchange postings cross;
    *   3. seal ([[sealShards]]): per shard its norms, per (shard, term)
    *      a posting list and its hint candidates, persisted;
    *   4. writes: postings ∥ norms ∥ termstats ∥ stats ∥ hints, all
    *      from the one sealed copy; the postings write's tasks report
    *      each shard's [[ShardSummary]];
    *   5. commit: manifest and metrics rows from the summaries.
    * Nothing written is read back.
    */
  def build(spark: SparkSession, sfDir: String, indexDir: String,
      numShards: Int = 8, snapshotId: Long = 1L, parentSnapshot: Long = 0L,
      onlyShards: Option[Set[Int]] = None,
      docIdRange: Option[(Long, Long)] = None,
      writeGlobals: Option[Boolean] = None,
      pruneTfnFloor: Option[Double] = None,
      docsOverride: Option[org.apache.spark.sql.DataFrame] = None,
      hintStrategy: HintStrategy = TopHHints): Unit = {
    import spark.implicits._
    // overwrite semantics per write, not per session: a FULL build must
    // STATIC-overwrite its snapshot's partitioned dirs (an in-place
    // rebuild with a different shard count would otherwise leave STALE
    // shard partitions behind — dynamic overwrite only replaces the
    // partitions present in the new data — and stale doc-range shards
    // double-count their docs at query time); only the RESUME path
    // (onlyShards) wants dynamic overwrite, to re-seal just the missing
    // shards without touching committed ones.
    val overwriteMode = if (onlyShards.isEmpty) "static" else "dynamic"
    val paths = IndexPaths(indexDir)

    val docsAll = docsOverride.getOrElse(Corpus.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val docs = docIdRange match {
      case Some((lo, hi)) => docsAll.filter(col("doc_id") >= lo && col("doc_id") < hi)
      case None => docsAll
    }
    // MEMORY_AND_DISK throughout: spills, never OOMs
    val rows = Tokenizer.docTerms(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val summaries = spark.sparkContext.collectionAccumulator[ShardSummary]("seal summaries")
    var sealedRdd: RDD[Sealed] = null
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // every overlapped write is TRACKED: if any step throws, the catch
    // below drains the outstanding futures before rethrowing — a build
    // must never return (or fail out to a caller's retry) while a
    // zombie writer job still holds one of this snapshot's directories,
    // or the retry's Overwrite races it on the same path
    val pending = ArrayBuffer.empty[Future[Unit]]
    def track(f: => Unit): Unit = pending += Future(f)
    try {
      // corpus stats: one job, which also fills the per-row cache
      val (nDocs, sumDl, maxDoc) = rows.select(col("doc_id"), col("dl")).as[(Long, Int)]
        .mapPartitions { it =>
          var n = 0L; var s = 0L; var m = Long.MinValue
          it.foreach { case (d, l) => n += 1; s += l; m = math.max(m, d) }
          Iterator((n, s, m))
        }.collect().reduce((x, y) => (x._1 + y._1, x._2 + y._2, math.max(x._3, y._3)))
      require(nDocs > 0, s"no documents to index in $sfDir (docIdRange=$docIdRange)")
      val avgdl = sumDl.toDouble / nDocs
      // range sharding over the GLOBAL id space so snapshots over
      // different doc batches share shard boundaries and merge shard-locally
      // (when building the whole corpus, maxDoc IS the global max — skip
      // the extra job)
      val globalMax = if (docIdRange.isEmpty) maxDoc
        else docsAll.agg(max("doc_id")).head().getLong(0)
      val shardSize = math.max(1L, (globalMax + numShards) / numShards)
      // the seal/decode paths index a shard's docs with Int arrays
      // (IndexFormat.decodeNorms et al.); refuse a shard count that
      // would silently wrap those counts past 2^31 instead of failing
      // deep inside an executor task — raise numShards with the corpus
      require(shardSize <= Int.MaxValue.toLong,
        s"shard size $shardSize (globalMax=$globalMax / numShards=$numShards) " +
          s"exceeds Int range — raise numShards so each shard holds < 2^31 docs")

      val globals = writeGlobals.getOrElse(onlyShards.isEmpty)
      if (globals) track(
        Seq(SnapStats(snapshotId, nDocs, sumDl, avgdl, numShards, maxDoc)).toDS()
          .write.mode(SaveMode.Overwrite).parquet(paths.stats(snapshotId)))

      // shard exchange → per shard: one norms row (term null sorts
      // first), then the pruned postings in (term, doc_id) order. Every
      // shard is sealed, also on a resume: the global artifacts need
      // the whole corpus, and only the writes are scoped to onlyShards.
      val pool = poolSize(hintStrategy)
      val sealPlan = rows.withColumn("shard", (col("doc_id") / shardSize).cast("int"))
        .repartition(numShards, col("shard"))
        .as[ShardDoc]
        .flatMap { d =>
          Iterator.single(TermPosting(d.shard, null, d.doc_id, 0L, d.dl)) ++
            d.terms.indices.iterator
              .filter(i => pruneTfnFloor.forall(BM25.tfNorm(d.tfs(i), d.dl, avgdl) >= _))
              .map(i => TermPosting(d.shard, d.terms(i), d.doc_id, d.tfs(i), d.dl))
        }
        .sortWithinPartitions("shard", "term", "doc_id")
        .mapPartitions(it => sealShards(it, avgdl, pool))
      // `.rdd` runs the exchange's map stage now; the write that first
      // reaches a sealed partition computes and keeps it (block locks
      // make concurrent writes share one computation), so all writes
      // start at once and read one sealed copy. A cached Dataset would
      // cost a job of its own to fill under adaptive execution.
      sealedRdd = sealPlan.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val sealedRows = spark.createDataset(sealedRdd)
      def writeShards(rows: Dataset[Sealed], part: String, path: String): Unit =
        onlyShards.fold(rows)(ss => rows.filter(col("shard").isin(ss.toSeq: _*)))
          .where(col(part).isNotNull).select(s"$part.*").write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", overwriteMode)
          .partitionBy("shard").parquet(path)

      // the postings write's tasks report the shard summaries
      track(writeShards(spark.createDataset(sealedRdd.mapPartitions(reportShards(summaries))),
        "postings", paths.postings(snapshotId)))
      track(writeShards(sealedRows, "norms", paths.norms(snapshotId)))
      if (globals) {
        val lists = sealedRows.where(col("postings").isNotNull)
        track(lists.groupBy(col("postings.term").as("term"))
          .agg(sum("postings.df_local").as("df"), sum("postings.cf_local").as("cf"))
          .select(col("term"), col("df"), col("cf"),
            BM25.idfCol(lit(nDocs), col("df")).as("idf"))
          .as[TermStats]
          .write.mode(SaveMode.Overwrite).parquet(paths.termstats(snapshotId)))
        // ---- per-term hints sidecar: the reference's search-start hints
        // (reference searchgraph/hints.jl:42-264) transferred to
        // WAND as a θ warm-start — for each term, the H docs with the
        // largest tf-normalization. At query time their partial scores
        // lower-bound the k-th best BEFORE any posting decodes (Wand
        // derives θ0 from them), so pruning fires from the first block.
        // Raw (tf, dl) is stored, not tfn: a multi-snapshot query recomputes
        // tfn under the MERGED avgdl, keeping the bound sound. Each
        // (shard, term) list brings its own best `pool` candidates, a
        // superset of the term's global best `pool`.
        track(topHintsPerTerm(
          lists.select(col("postings.term").as("term"), explode(col("hints")).as("h"))
            .select(col("term"), col("h.doc_id").as("doc_id"), col("h.tf").as("tf"),
              col("h.dl").as("dl")),
          avgdl, hintStrategy)
          .write.mode(SaveMode.Overwrite).parquet(paths.hints(snapshotId)))
      }
      pending.foreach(Await.result(_, Duration.Inf))
    } catch {
      case e: Throwable =>
        // drain, don't cancel: Spark jobs aren't interruptible mid-write;
        // waiting out the survivors (their own errors are secondary to
        // the one in flight) guarantees no writer outlives this call
        pending.foreach(f =>
          try Await.result(f, Duration.Inf) catch { case _: Throwable => () })
        throw e
    } finally {
      if (sealedRdd != null) sealedRdd.unpersist(blocking = false)
      rows.unpersist(blocking = false)
    }

    commitManifest(spark, paths, snapshotId, parentSnapshot, onlyShards,
      shardSummaries(summaries))
  }

  /** One document routed to its shard ([[Tokenizer.DocTerms]] + shard). */
  final case class ShardDoc(shard: Int, doc_id: Long, dl: Int, terms: Array[String],
      tfs: Array[Long])

  /** One row of the seal's output: a shard's norms, or one (shard,
    * term) posting list with its hint candidates (best first).
    */
  final case class Sealed(shard: Int, postings: Option[PostingList],
      norms: Option[DocNorms], hints: Seq[HintRow])

  /** What the sealed rows say about one shard — the lineage of its
    * manifest row. A task that saw only a shard's norms (or only its
    * postings) reports that part, with the other part's fields at their
    * identities, and [[shardSummaries]] adds the parts up.
    */
  final case class ShardSummary(shard: Int, min_doc: Long, max_doc: Long,
      doc_count: Long, term_count: Long, postings_bytes: Long) {
    def +(o: ShardSummary): ShardSummary = ShardSummary(shard,
      math.min(min_doc, o.min_doc), math.max(max_doc, o.max_doc),
      doc_count + o.doc_count, term_count + o.term_count, postings_bytes + o.postings_bytes)
  }

  private def normsSummary(shard: Int, docIds: Array[Long]): ShardSummary =
    ShardSummary(shard, docIds.head, docIds.last, docIds.length.toLong, 0L, 0L)

  private def postingsSummary(shard: Int, lists: Long, bytes: Long): ShardSummary =
    ShardSummary(shard, Long.MaxValue, Long.MinValue, 0L, lists, bytes)

  private def listBytes(pl: PostingList): Long = pl.docs_enc.length.toLong + pl.tfs_enc.length

  /** Passes a partition's sealed rows through and, once it is
    * consumed, adds each of its shards' summary to `acc`. Reported by
    * the tasks of a write, whose accumulator updates Spark merges once
    * per partition, from successful attempts only.
    */
  private def reportShards(acc: CollectionAccumulator[ShardSummary])(
      it: Iterator[Sealed]): Iterator[Sealed] = {
    val parts = scala.collection.mutable.Map.empty[Int, ShardSummary]
    it.map { r =>
      val part = r.norms match {
        case Some(n) => normsSummary(r.shard, IndexFormat.decodeNorms(n)._1)
        case None => postingsSummary(r.shard, 1L, listBytes(r.postings.get))
      }
      parts(r.shard) = parts.get(r.shard).fold(part)(_ + part)
      r
    } ++ { parts.values.foreach(acc.add); Iterator.empty }
  }

  /** The per-shard summaries tasks reported, parts added up. Equal
    * duplicates are dropped first, so a partition reported twice
    * cannot double-count; a shard with postings but no norms cannot
    * occur, since every document has a norm.
    */
  private def shardSummaries(acc: CollectionAccumulator[ShardSummary]): Seq[ShardSummary] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq.distinct.groupBy(_.shard).values
      .map(_.reduce(_ + _)).filter(_.doc_count > 0).toSeq.sortBy(_.shard)
  }

  /** Manifest + metrics for the shards just sealed; manifest row
    * presence IS the commit marker for a (snapshot, shard) segment.
    * A shard whose documents all tokenize to zero terms has norms but
    * no posting lists; it commits with zeroed posting stats — leaving
    * it out would make readManifest report it missing forever, and
    * resume() would loop re-sealing it without ever converging.
    */
  private def commitManifest(spark: SparkSession, paths: IndexPaths,
      snapshotId: Long, parentSnapshot: Long, onlyShards: Option[Set[Int]],
      shards: Seq[ShardSummary]): Unit = {
    import spark.implicits._
    // APPEND-ONLY commit (crash-safe + concurrent-safe: Spark's parquet
    // Append never deletes earlier commit markers — the former
    // collect + whole-dir Overwrite could destroy EVERY snapshot's
    // lineage if the process died between the delete and the write,
    // and two builds into the same index dir raced read-modify-write).
    // Staleness is resolved at READ time instead ([[readManifest]]):
    // this commit gets commit_seq = 1 + the highest committed so far
    // (one tiny read of an already-tiny table), and full_commit marks
    // whether it covers the snapshot's entire shard set. Two CONCURRENT
    // commits can draw the same seq, but only commits to the SAME
    // snapshot contend on it — and concurrent same-snapshot builds are
    // already undefined at the segment layer (both Overwrite the same
    // parquet partitions).
    val seq = 1L + rawManifest(spark, paths).map(_.commit_seq).foldLeft(0L)(math.max)
    val manifestRows = shards.filter(s => onlyShards.forall(_.contains(s.shard))).map(s =>
      ManifestRow(snapshotId, s"snap-$snapshotId-shard-${s.shard}", s.shard, s.min_doc,
        s.max_doc, s.doc_count, s.term_count, s.postings_bytes, parentSnapshot, seq,
        onlyShards.isEmpty))
    // metrics are observability, not commit markers — their Append can
    // ride alongside the manifest's (different paths, no ordering need)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val metricsF = Future {
      manifestRows.flatMap(m => Seq(
          StageMetric(m.snapshot_id, "seal_postings", m.shard, m.doc_count, m.term_count, m.postings_bytes),
          StageMetric(m.snapshot_id, "seal_norms", m.shard, m.doc_count, m.doc_count, 0L)))
        .toDS().coalesce(1).write.mode(SaveMode.Append).parquet(paths.metrics)
    }
    try manifestRows.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(paths.manifest)
    catch {
      // drain the metrics append before failing out — a caller's retry
      // must never race a zombie writer on the shared metrics path
      case e: Throwable =>
        try Await.result(metricsF, Duration.Inf) catch { case _: Throwable => () }
        throw e
    }
    Await.result(metricsF, Duration.Inf)
  }

  /** Every manifest row as appended, duplicates included. Existence is
    * probed through the Hadoop FileSystem of the path itself (NOT
    * java.nio — on hdfs:// or s3a:// a local-FS check is always false),
    * with a NARROW catch as the "no manifest yet" fallback where the
    * probe can race a writer: only path-missing / empty-dir analysis
    * errors mean "nothing committed". Any OTHER AnalysisException — a
    * manifest whose schema doesn't decode to [[ManifestRow]], a
    * corrupted footer — must PROPAGATE: mapping it to "no manifest"
    * would make resume() silently full-rebuild a committed index and
    * let the next commit append mixed-schema rows beside the
    * undecodable ones.
    */
  private def rawManifest(spark: SparkSession, paths: IndexPaths): Seq[ManifestRow] = {
    import spark.implicits._
    if (!pathExists(spark, paths.manifest)) Seq.empty
    else try spark.read.parquet(paths.manifest).as[ManifestRow].collect().toSeq
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("PATH_NOT_FOUND") || c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
        Seq.empty
      case _: java.io.FileNotFoundException => Seq.empty
    }
  }

  /** The manifest's CURRENT lineage view — append-only rows with
    * staleness resolved here: (1) a snapshot's rows older than its
    * latest full commit are superseded (an in-place full rebuild, or a
    * rebuild with a different shard count, hides every earlier row);
    * (2) per (snapshot, shard) the highest commit_seq wins (a resume
    * re-seal of one shard supersedes only that shard's row).
    */
  def readManifest(spark: SparkSession, indexDir: String): Seq[ManifestRow] =
    currentView(rawManifest(spark, IndexPaths(indexDir)))

  /** The supersede rules over a row set (see [[readManifest]]). Shared
    * by the current view and the time-travel view — the as-of view is
    * by definition these same rules applied to the as-of PREFIX of the
    * append-only log.
    */
  private def currentView(raw: Seq[ManifestRow]): Seq[ManifestRow] =
    raw.groupBy(_.snapshot_id).values.flatMap { rows =>
      val fullSeq = rows.filter(_.full_commit).map(_.commit_seq).foldLeft(0L)(math.max)
      rows.filter(_.commit_seq >= fullSeq)
        .groupBy(_.shard).values.map(_.maxBy(_.commit_seq))
    }.toSeq.sortBy(r => (r.snapshot_id, r.shard))

  /** Iceberg-style time travel over the lineage: the manifest view AS
    * OF `commitSeq` — the supersede rules applied to the prefix of the
    * append-only log with commit_seq ≤ `commitSeq`. Because commits
    * only APPEND rows, this is exactly what [[readManifest]] returned
    * the moment commit `commitSeq` landed. Valid for time-travel
    * QUERIES whenever later commits only added snapshots (the ingest
    * pattern): the earlier snapshots' sealed segments are immutable on
    * disk. A later in-place rebuild of the SAME (snapshot, shard)
    * overwrites the data files (the manifest is lineage, not an
    * Iceberg data-file catalog), so the lineage view stays correct but
    * the as-of DATA is gone — same contract as an expired Iceberg
    * snapshot.
    */
  def manifestAsOf(spark: SparkSession, indexDir: String,
      commitSeq: Long): Seq[ManifestRow] =
    currentView(rawManifest(spark, IndexPaths(indexDir))
      .filter(_.commit_seq <= commitSeq))

  /** The snapshot ids live in the as-of view — the set to hand
    * [[Wand.topK]] for a time-travel query.
    */
  def snapshotsAsOf(spark: SparkSession, indexDir: String,
      commitSeq: Long): Seq[Long] =
    manifestAsOf(spark, indexDir, commitSeq).map(_.snapshot_id).distinct.sorted

  /** Resume an interrupted build: diff the manifest against the shard
    * set the corpus implies, re-seal only the missing shards (the
    * north rule's checkpoint-resume; idempotent because partition
    * overwrite is dynamic).
    *
    * The caller MUST pass the same build dials (`pruneTfnFloor`,
    * `hintStrategy`, `docsOverride`) as the original build — the
    * manifest records lineage, not configuration, so a resume with
    * different dials would silently seal the missing shards under a
    * different pruning/text source than the committed ones and the
    * re-derived global idf would disagree with the sealed postings.
    */
  def resume(spark: SparkSession, sfDir: String, indexDir: String,
      numShards: Int, snapshotId: Long,
      docIdRange: Option[(Long, Long)] = None,
      pruneTfnFloor: Option[Double] = None,
      hintStrategy: HintStrategy = TopHHints,
      docsOverride: Option[org.apache.spark.sql.DataFrame] = None): Set[Int] = {
    import spark.implicits._
    val paths = IndexPaths(indexDir)
    val docsAll = docsOverride.getOrElse(Corpus.documents(spark, sfDir))
      .select(col("doc_id"))
    val globalMax = docsAll.agg(max("doc_id")).head().getLong(0)
    val shardSize = math.max(1L, (globalMax + numShards) / numShards)
    val docs = docIdRange match {
      case Some((lo, hi)) => docsAll.filter(col("doc_id") >= lo && col("doc_id") < hi)
      case None => docsAll
    }
    val expected = docs.select((col("doc_id") / shardSize).cast("int").as("shard"))
      .distinct().as[Int].collect().toSet
    // the DEDUPED lineage view: stale shard rows from a superseded full
    // build (e.g. a rebuild with a different shard count) must not
    // count as "done"
    val done: Set[Int] = readManifest(spark, indexDir)
      .filter(_.snapshot_id == snapshotId).map(_.shard).toSet
    val missing = expected -- done
    if (missing.nonEmpty)
      build(spark, sfDir, indexDir, numShards, snapshotId,
        onlyShards = Some(missing), docIdRange = docIdRange,
        writeGlobals = Some(true), // a crash may have preceded the global artifacts
        pruneTfnFloor = pruneTfnFloor, hintStrategy = hintStrategy,
        docsOverride = docsOverride)
    missing
  }

  /** Streaming run-grouper over one partition sorted by (shard, term,
    * doc_id), term null first: each shard's null-term run becomes its
    * norms, each (shard, term) run one posting list plus its best
    * `pool` hint candidates. Holds ONE run in memory, never a whole
    * shard.
    */
  private[index] def sealShards(it: Iterator[TermPosting], avgdl: Double,
      pool: Int): Iterator[Sealed] = {
    val bit = it.buffered
    val best = new HintsTopH(pool)
    new Iterator[Sealed] {
      override def hasNext: Boolean = bit.hasNext
      override def next(): Sealed = {
        val shard = bit.head.shard
        val term = bit.head.term
        val ds = new ArrayBuffer[Long]; val ts = new ArrayBuffer[Long]; val ls = new ArrayBuffer[Long]
        while (bit.hasNext && bit.head.shard == shard && bit.head.term == term) {
          val r = bit.next()
          ds += r.doc_id; ts += r.tf; ls += r.dl
        }
        if (term == null)
          Sealed(shard, None, Some(IndexFormat.sealNorms(shard, ds.toArray, ls.toArray)), Nil)
        else {
          var h = best.zero
          var i = 0
          while (i < ds.length) {
            h = best.reduce(h, (term, ds(i), ts(i), ls(i), BM25.tfNorm(ts(i), ls(i), avgdl)))
            i += 1
          }
          Sealed(shard, Some(IndexFormat.seal(shard, term, ds.toArray, ts.toArray, ls.toArray, avgdl)),
            None, best.finish(h))
        }
      }
    }
  }

  // ---------- loaders ----------

  def loadPostings(spark: SparkSession, indexDir: String, snaps: Seq[Long]): Dataset[PostingList] = {
    import spark.implicits._
    snaps.map(s => spark.read.schema(Schemas.postings)
        .parquet(IndexPaths(indexDir).postings(s)).as[PostingList])
      .reduce(_ union _)
  }

  def loadNorms(spark: SparkSession, indexDir: String, snaps: Seq[Long]): Dataset[DocNorms] = {
    import spark.implicits._
    snaps.map(s => spark.read.schema(Schemas.norms)
        .parquet(IndexPaths(indexDir).norms(s)).as[DocNorms])
      .reduce(_ union _)
  }

  def loadStats(spark: SparkSession, indexDir: String, snaps: Seq[Long]): Seq[SnapStats] = {
    import spark.implicits._
    snaps.map(s => spark.read.schema(Schemas.stats).parquet(IndexPaths(indexDir).stats(s)))
      .reduce(_ union _).as[SnapStats].collect().toSeq
  }

  /** The reference's log-growth callbacks scheduler transferred
    * (`execute_callbacks!`, /root/reference/src/searchgraph/callbacks.jl:8-13,
    * defaults /root/reference/src/searchgraph/context.jl:55-75): fire
    * maintenance iff the index grew across a `ceil(log_b ·)` boundary —
    * for a batch append [sp, ep] the reference tests
    * `sp ≥ starting && ceil(log_b sp) != ceil(log_b ep)`
    * (insertions.jl:96). `docsBefore`/`docsAfter` are the index's doc
    * counts around the append; sp = docsBefore + 1 reproduces the
    * reference's batch form exactly.
    */
  def crossesGrowthBoundary(docsBefore: Long, docsAfter: Long,
      logbase: Double = 1.5, starting: Long = 256): Boolean = {
    val sp = docsBefore + 1
    def ceilLog(x: Long): Long = math.ceil(math.log(x.toDouble) / math.log(logbase)).toLong
    sp >= starting && ceilLog(sp) != ceilLog(docsAfter)
  }

  /** Growth-triggered compaction — the scheduler's two callbacks
    * (hints recompute + stats/hyperparameter refresh, the reference's
    * `hints_callback`/`hyperparameters_callback`) both happen EXACTLY
    * at merge in this engine ([[mergeSnapshots]] recomputes stats,
    * termstats/idf, and the hints sidecar from the merged postings), so
    * "fire callbacks" = "compact the live snapshots". Call after
    * appending `newSnap`; merges `liveSnaps :+ newSnap → outSnap` iff
    * the append crossed a log-growth boundary. Returns whether it
    * fired. Snapshot-count growth stays logarithmic in corpus size —
    * the LSM discipline that keeps multi-snapshot query fan-in bounded.
    */
  def maybeCompact(spark: SparkSession, indexDir: String,
      liveSnaps: Seq[Long], newSnap: Long, outSnap: Long, numShards: Int,
      logbase: Double = 1.5, starting: Long = 256,
      hintStrategy: HintStrategy = TopHHints): Boolean = {
    val before = if (liveSnaps.isEmpty) 0L
      else loadStats(spark, indexDir, liveSnaps).map(_.n_docs).sum
    val after = before + loadStats(spark, indexDir, Seq(newSnap)).map(_.n_docs).sum
    val fire = crossesGrowthBoundary(before, after, logbase, starting)
    if (fire && liveSnaps.nonEmpty)
      mergeSnapshots(spark, indexDir, liveSnaps :+ newSnap, outSnap, numShards, hintStrategy)
    fire && liveSnaps.nonEmpty
  }

  /** Log-structured multi-way segment merge (the reference's `rebuild`
    * compaction, /root/reference/src/searchgraph/rebuild.jl:17-53, and
    * `StaticAdjList` freeze): co-partition the COMPRESSED segments of
    * all input snapshots by shard, decode, k-way merge per (shard,
    * term), re-seal under the merged corpus' avgdl. Only compressed
    * rows cross the wire; doc ranges of input snapshots may interleave
    * arbitrarily. Deterministic: merged output ≡ a direct full build
    * (MergeSpec pins this, incl. idempotence + associativity).
    */
  def mergeSnapshots(spark: SparkSession, indexDir: String,
      inSnaps: Seq[Long], outSnap: Long, numShards: Int,
      hintStrategy: HintStrategy = TopHHints): Unit = {
    import spark.implicits._
    val paths = IndexPaths(indexDir)
    val statsIn = loadStats(spark, indexDir, inSnaps)
    val nDocs = statsIn.map(_.n_docs).sum
    val sumDl = statsIn.map(_.sum_dl).sum
    val avgdl = sumDl.toDouble / nDocs
    val maxDoc = statsIn.map(_.max_doc).max

    val posts = loadPostings(spark, indexDir, inSnaps)
    val norms = loadNorms(spark, indexDir, inSnaps)
    // merged hints: union the inputs' H-per-term rows, re-top under the
    // merged avgdl (any subset of docs is a sound θ0 witness set — the
    // union just keeps the strongest H). Every input's sidecar is
    // required, and defining the frame checks that it exists, so an
    // input without one fails here, before anything is written.
    val hintInputs = inSnaps.map(s => spark.read.schema(Schemas.hints).parquet(paths.hints(s)))
      .reduce(_ union _)
    val summaries = spark.sparkContext.collectionAccumulator[ShardSummary]("merge summaries")

    // decode → dl lookup per shard via SORTED cogroup: Spark sorts each
    // shard's segments by term inside the shuffle (sort-based, spills),
    // so the merge streams ONE term's segments at a time — the same
    // one-run-at-a-time discipline as sealRuns; never a whole shard in
    // memory. (The dl sidecar map IS per-shard, but docs-per-shard is a
    // build-time constant by the sharding policy — it does not grow
    // with corpus size, unlike the postings set this used to hold.)
    val mergedPostings = posts.groupByKey(_.shard)
      .cogroupSorted(norms.groupByKey(_.shard))(col("term"))() { (shard, pIt, nIt) =>
        // boxed value type so a missing key surfaces as null instead of
        // silently unboxing to 0L (= maximal tfn at seal time)
        val dlMap = new java.util.HashMap[Long, java.lang.Long]()
        nIt.foreach { nm =>
          val (ids, dls) = IndexFormat.decodeNorms(nm)
          var i = 0
          while (i < ids.length) { dlMap.put(ids(i), dls(i)); i += 1 }
        }
        val bit = pIt.buffered
        var lists = 0L; var bytes = 0L
        new Iterator[PostingList] {
          override def hasNext: Boolean = bit.hasNext || {
            if (lists > 0) { summaries.add(postingsSummary(shard, lists, bytes)); lists = 0 }
            false
          }
          override def next(): PostingList = {
            val term = bit.head.term
            val segs = new ArrayBuffer[(Array[Long], Array[Long])]
            while (bit.hasNext && bit.head.term == term)
              segs += IndexFormat.decodeAll(bit.next())
            // k-way merge of THIS term's segments (doc ranges of input
            // snapshots may interleave arbitrarily → full sort by doc)
            val all = segs.flatMap { case (ds, ts) => ds.zip(ts) }.sortBy(_._1)
            val docIds = all.map(_._1).toArray
            val tfs = all.map(_._2).toArray
            val dls = docIds.map { d =>
              val dl = dlMap.get(d)
              require(dl != null, s"doc $d in postings but missing from norms (shard $shard)")
              dl.longValue()
            }
            val pl = IndexFormat.seal(shard, term, docIds, tfs, dls, avgdl)
            lists += 1; bytes += listBytes(pl)
            pl
          }
        }
      }
    // STATIC overwrite: a merge always writes outSnap's FULL shard set,
    // and a re-merge into the same outSnap with a different shard count
    // must not leave stale shard partitions (same hazard as build's
    // in-place rebuild — stale doc-range shards double-count)
    mergedPostings.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard").parquet(paths.postings(outSnap))

    val mergedNorms = norms.groupByKey(_.shard).mapGroups { (shard, nIt) =>
      val all = nIt.flatMap { nm =>
        val (ids, dls) = IndexFormat.decodeNorms(nm)
        ids.zip(dls)
      }.toArray.sortBy(_._1)
      summaries.add(normsSummary(shard, all.map(_._1)))
      IndexFormat.sealNorms(shard, all.map(_._1), all.map(_._2))
    }
    mergedNorms.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard").parquet(paths.norms(outSnap))

    // merged term stats: df/cf add exactly; idf from merged n
    val ts = inSnaps
      .map(s => spark.read.schema(Schemas.termstats).parquet(paths.termstats(s)))
      .reduce(_ union _)
      .groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
      .select(col("term"), col("df"), col("cf"),
        graft.functions.BM25.idfCol(lit(nDocs), col("df")).as("idf"))
      .as[TermStats]
    ts.write.mode(SaveMode.Overwrite).parquet(paths.termstats(outSnap))

    Seq(SnapStats(outSnap, nDocs, sumDl, avgdl, numShards, maxDoc)).toDS()
      .write.mode(SaveMode.Overwrite).parquet(paths.stats(outSnap))

    topHintsPerTerm(hintInputs, avgdl, hintStrategy)
      .write.mode(SaveMode.Overwrite).parquet(paths.hints(outSnap))

    commitManifest(spark, paths, outSnap, inSnaps.max, None, shardSummaries(summaries))
  }
}
