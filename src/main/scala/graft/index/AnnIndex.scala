package graft.index

import graft.corpus.Corpus
import graft.operators.{AnnOps, CentersOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted ANN index — the vector twin of the fulltext index's
  * build-once/query-many contract (the reference's `index!` →
  * `search` split, /root/reference/src/SimilaritySearch.jl:236-279).
  *
  * [[graft.operators.AnnOps.annLsh]]/[[graft.operators.AnnOps.annIvf]]
  * are single-plan operators: every call re-codes the WHOLE corpus
  * (hash every vector into its buckets / re-rank every vector against
  * the centers) before any candidate join. That is the right shape for
  * one bulk self-join, but at 10^9+ vectors the coding pass dominates
  * every query batch — the analog of re-tokenizing the corpus per
  * WAND query. Here the coding pass runs ONCE:
  *
  *  - `build*` writes the bucket table `(shard, bucket, vec_id)` —
  *    already capped ([[graft.operators.AnnOps.BucketCap]], same
  *    bounded-heap rule) — partitioned by `shard = bucket mod
  *    numShards` and SORTED by bucket within each file, plus a 1-row
  *    `meta` (and for IVF the trained `centers`). Hyperplanes are NOT
  *    stored: they are a pure function of (table, bit, dim) via
  *    splitmix64 ([[graft.operators.AnnOps.planeMatrix]]), so `meta`
  *    fully reconstructs the coder, bit-identical.
  *  - `search*All` re-codes only the QUERY side and joins the stored
  *    bucket table — results are row-identical to the one-plan
  *    operators by construction (same planes/centers, same cap rule,
  *    same rescoring) — the parity gate AnnIndexSpec pins.
  *  - [[searchLshBatch]] is the bounded-batch path: probe buckets are
  *    derived driver-side from the batch's vectors, so the scan reads
  *    ONLY the matching shard partitions (partition pruning) and,
  *    inside them, skips row groups via the bucket min/max the
  *    build-side sort created — the vector analog of WAND's
  *    `term isin` pushdown. Candidate work per query is unchanged;
  *    corpus-size work drops to zero.
  */
object AnnIndex {

  final case class AnnPaths(root: String) {
    def codes = s"$root/codes"
    def meta = s"$root/meta"
    def centers = s"$root/centers"
  }

  /** The schema each sidecar's writer lays down, passed on every read
    * so no read starts a Parquet schema-inference job (the contract of
    * [[IndexBuilder.Schemas]]; WandSpec's drift guard checks these
    * against freshly built indexes). A codes row carries its flavor's
    * payload: none, f64 vectors, or quantized codes.
    */
  object AnnSchemas {
    val meta: StructType = StructType.fromDDL(
      "kind STRING, tables INT, nbits INT, dim INT, n BIGINT, numShards INT, " +
        "bucketCap INT, nlist INT, nprobe0 INT, vecs BOOLEAN, qlevels INT")
    val centers: StructType = StructType.fromDDL("cell BIGINT, cemb ARRAY<DOUBLE>")
    def codes(m: AnnMeta): StructType = StructType.fromDDL(
      "shard INT, bucket BIGINT, vec_id BIGINT" +
        (if (m.qlevels > 0) ", qlo DOUBLE, qc DOUBLE, qcode BINARY"
         else if (m.vecs) ", emb ARRAY<DOUBLE>" else ""))
  }

  private def readCodes(spark: SparkSession, indexDir: String, m: AnnMeta): DataFrame =
    spark.read.schema(AnnSchemas.codes(m)).parquet(AnnPaths(indexDir).codes)

  private def readCenters(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(AnnSchemas.centers).parquet(AnnPaths(indexDir).centers)

  /** kind = "lsh" | "ivf". For lsh: tables×nbits hyperplane coder over
    * dim components. For ivf: nlist trained centers (stored), nprobe0
    * the build-time default probe width. dim = 0 marks an index built
    * over an EMPTY corpus (searches return empty, not an error).
    * vecs = the codes rows CARRY the vector (the FAISS-IVF-flat
    * layout): a batch query rescoring candidates reads them straight
    * off the pruned codes scan and touches the corpus ZERO times —
    * where payload-free codes must gather candidate vectors by id,
    * which at 10^9 scattered ids is a full corpus-scan probe join per
    * batch. Columnar pruning keeps the stored vectors FREE for every
    * query that doesn't read them. Cost: ×1 vector duplication for IVF
    * (each vector lives in exactly one cell — always on), ×tables for
    * LSH (opt-in `storeVecs`).
    * qlevels > 0 = the carried vectors are SQMinC-quantized (the q39
    * codec: per-vector (lo, c) affine, `levels` steps — /root/reference/
    * src/sq/sq.jl:10-13) and bit-packed into a `qcode` binary column
    * instead of an f64 array: 64 doubles = 512 B become 64/16/32 codes
    * = 64 B (u8) + 2 doubles of params — the footprint dial that makes
    * vector-carrying affordable at 10^12 rows. Searches decode with the
    * SAME expression family as the inline q39 operator, so an
    * exhaustive probe is bit-identical to it (the q45 oracle gate).
    */
  final case class AnnMeta(kind: String, tables: Int, nbits: Int, dim: Int,
      n: Long, numShards: Int, bucketCap: Int, nlist: Int, nprobe0: Int,
      vecs: Boolean, qlevels: Int)

  private def readMeta(spark: SparkSession, indexDir: String): AnnMeta = {
    import spark.implicits._
    // indexes persisted before the quantization field existed lack the
    // qlevels column, which the declared schema reads as null; default
    // it to 0 (f64 payload — exactly what those indexes store) instead
    // of failing the whole build-once contract
    spark.read.schema(AnnSchemas.meta).parquet(AnnPaths(indexDir).meta)
      .withColumn("qlevels", coalesce(col("qlevels"), lit(0)))
      .as[AnnMeta].head()
  }

  private def emptyResult(spark: SparkSession): DataFrame =
    VectorOps.emptyKnnFrame(spark)

  /** The corpus coded into (vec_id, bucket) rows — the SAME
    * [[graft.operators.AnnOps.codeLsh]] pass [[graft.operators.AnnOps.annLsh]]
    * runs inline, so index/inline row-identity is by construction.
    */
  private def codedFrame(spark: SparkSession, sfDir: String, m: AnnMeta): DataFrame =
    AnnOps.codeLsh(AnnOps.embDs(spark, sfDir), m.tables, m.nbits, m.dim)

  private def requireKind(m: AnnMeta, kind: String, op: String): Unit =
    require(m.kind == kind,
      s"$op needs a $kind index, found kind=${m.kind} — " +
        "built with the other build* method?")

  /** Build the sign-LSH index over `sfDir`'s embeddings into `outDir`.
    * One coding pass + one capped shuffle; codes land partitioned by
    * `shard` and bucket-sorted within files so a batch query's
    * `bucket isin` prunes at BOTH the partition and row-group level.
    */
  def buildLsh(spark: SparkSession, sfDir: String, outDir: String, nbits: Int = 0,
      tables: Int = 16, numShards: Int = 8, storeVecs: Boolean = false): AnnMeta = {
    import spark.implicits._
    val paths = AnnPaths(outDir)
    val n = VectorOps.embCount(spark, sfDir)
    val dimOpt = AnnOps.embDs(spark, sfDir)
      .select(size(col("emb"))).as[Int].head(1).headOption
    val bits = if (nbits > 0) nbits else AnnOps.deriveNbits(n)
    val m = AnnMeta("lsh", tables, bits, dimOpt.getOrElse(0), n, numShards,
      AnnOps.BucketCap, 0, 0, vecs = storeVecs && dimOpt.isDefined, qlevels = 0)
    if (dimOpt.isDefined) {
      val capped = VectorOps.topKByDist(
          codedFrame(spark, sfDir, m).select(col("bucket"), col("vec_id"),
            col("vec_id").cast("double").as("dist")),
          m.bucketCap, "bucket", "vec_id")
        .select(pmod(col("bucket"), lit(numShards.toLong)).cast("int").as("shard"),
          col("bucket"), col("vec_id"))
      writeCodes(if (m.vecs) capped.join(AnnOps.embDs(spark, sfDir), "vec_id")
                 else capped, numShards, paths)
    } else emptyCodes(spark, paths)
    Seq(m).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(paths.meta)
    m
  }

  /** Codes row-group size: the pruning GRANULE. A shard file at default
    * 128 MB row groups is one group — `bucket isin` then prunes nothing
    * and a batch probe decodes every stored vector in the shard. 8 MB
    * groups give a probe of b buckets a ceiling of b groups read, and
    * the bucket-sort keeps each group's bucket min/max tight.
    */
  val CodesRowGroupBytes: Int = 8 * 1024 * 1024

  private def writeCodes(rows: DataFrame, numShards: Int, paths: AnnPaths): Unit =
    // the sort MUST lead with the partition column: FileFormatWriter
    // (V1Writes) requires an ordering by partitionBy columns and, when
    // the child's ordering doesn't satisfy it, inserts its own sort by
    // `shard` alone — silently DROPPING a ("bucket", "vec_id") user
    // sort and voiding the row-group pruning this layout exists for
    // (reproduced on 4.1.2: 8/8 files bucket-unsorted without the
    // leading column). With "shard" first the required ordering is a
    // prefix of ours, the user sort survives, and files come out
    // bucket-sorted.
    rows.repartition(numShards, col("shard"))
      .sortWithinPartitions("shard", "bucket", "vec_id")
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", CodesRowGroupBytes.toLong)
      .partitionBy("shard").parquet(paths.codes)

  private def emptyCodes(spark: SparkSession, paths: AnnPaths): Unit = {
    import spark.implicits._
    Seq.empty[(Int, Long, Long)].toDF("shard", "bucket", "vec_id")
      .write.mode(SaveMode.Overwrite).parquet(paths.codes)
  }

  /** Bits per stored code for a quantization level count — the same
    * three rungs as the inline SQ family (q29/q32/q33: u8/u4/u2).
    */
  private def bitsFor(levels: Int): Int = levels match {
    case 255 => 8
    case 15  => 4
    case 3   => 2
    case other => throw new IllegalArgumentException(
      s"quantLevels must be 255 (u8), 15 (u4) or 3 (u2); got $other")
  }

  /** Pack the Catalyst-computed code array (exact small integers as
    * doubles — [[graft.operators.DistanceOps.sqMinCCodes]]) into the
    * stored binary. Packing is pure storage transcoding
    * ([[graft.operators.DistanceOps.SqPack]]); the VALUES were produced
    * by the same `round` expression the inline q39 operator uses, so
    * the quantization grid is pinned by its oracle.
    */
  private def packUdf(bits: Int) =
    udf((codes: Seq[Double]) =>
      graft.operators.DistanceOps.SqPack.pack(codes.map(_.toInt).toArray, bits))

  /** Unpack + dequantize stored codes back to the vector the rescoring
    * joins consume: `lo + code·c` — the identical IEEE multiply-add
    * Catalyst performs inside [[graft.operators.DistanceOps.sqMinCDeq]]
    * (codes are exact integers in double, so splitting the expression
    * at the code boundary loses nothing).
    */
  private def decodeUdf(dim: Int, bits: Int) =
    udf((qcode: Array[Byte], lo: Double, c: Double) =>
      graft.operators.DistanceOps.SqPack.unpack(qcode, dim, bits)
        .map(code => lo + code * c))

  /** The codes scan with quantized payloads decoded to an `emb` column
    * — the shape the f64 vector-carrying scan has natively.
    */
  private def decodedScan(scan: DataFrame, m: AnnMeta): DataFrame =
    scan.select(col("bucket"), col("vec_id"),
      decodeUdf(m.dim, bitsFor(m.qlevels))(
        col("qcode"), col("qlo"), col("qc")).as("emb"))

  /** Bulk self-kNN through the stored index: codes the query side (the
    * whole corpus here), joins the PERSISTED capped bucket table. Row-
    * identical to [[graft.operators.AnnOps.annLsh]] at the same
    * (nbits, tables) by construction.
    */
  def searchLshAll(spark: SparkSession, indexDir: String, sfDir: String,
      k: Int = 5): DataFrame = {
    val m = readMeta(spark, indexDir)
    requireKind(m, "lsh", "searchLshAll")
    if (m.dim == 0) return emptyResult(spark)
    val indexed = readCodes(spark, indexDir, m)
      .select(col("vec_id").as("nbr_id"), col("bucket"))
    // the distinct shuffles the full candidate pair set — deliberate on
    // this BULK path (the whole corpus queries at once, so pair volume
    // is the job; LSH duplicates each colliding pair up to `tables`
    // times and deduping two-long rows beats rescoring wide ones ×L).
    // The bounded batch path dedups post-rescore instead (see
    // batchFromProbe's kind == "lsh" note) because its pair set is
    // probe-bounded, not corpus-sized.
    val pairIds = codedFrame(spark, sfDir, m)
      .select(col("vec_id").as("q_id"), col("bucket"))
      .join(indexed, "bucket")
      .select("q_id", "nbr_id")
      .distinct()
    AnnOps.rescoreTopK(spark, sfDir, pairIds, k)
  }

  /** Bounded-batch kNN: code the batch DRIVER-side, derive its probe
    * bucket set, and push `shard isin` + `bucket isin` into the codes
    * scan — only the touched partitions are listed and only row groups
    * whose bucket range intersects the probe set decode. The per-query
    * result is identical to [[searchLshAll]]'s rows for those ids
    * (same buckets, same candidates, same rescoring).
    */
  def searchLshBatch(spark: SparkSession, indexDir: String, sfDir: String,
      queryIds: Seq[Long], k: Int = 5, extraProbes: Int = 0): DataFrame = {
    import spark.implicits._
    val m = readMeta(spark, indexDir)
    requireKind(m, "lsh", "searchLshBatch")
    if (m.dim == 0 || queryIds.isEmpty) return emptyResult(spark)
    val qvecs = AnnOps.embDs(spark, sfDir)
      .filter(col("vec_id").isin(queryIds: _*))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => (id, e.toArray) }
    requireAllFound(queryIds, qvecs)
    lshVecs(spark, indexDir, sfDir, m, qvecs, k, extraProbes)
  }

  /** Bounded-batch kNN with EXTERNAL query vectors — the reference's
    * `searchbatch(index, Q)` call shape against the persisted index
    * (/root/reference/src/SimilaritySearch.jl:144-190): callers hand
    * in (q_id, vector) pairs that need not exist in any table. Same
    * probe derivation and pruned-scan tail as [[searchLshBatch]] —
    * which IS this call with corpus-collected vectors. Requires a
    * vector-carrying index (`storeVecs = true`): a payload-free index
    * rescoreS by corpus id, which cannot see external queries — that
    * combination fails loudly instead of returning silent empties.
    */
  def searchLshVecs(spark: SparkSession, indexDir: String, sfDir: String,
      queries: Seq[(Long, Array[Double])], k: Int = 5,
      extraProbes: Int = 0): DataFrame = {
    val m = readMeta(spark, indexDir)
    requireKind(m, "lsh", "searchLshVecs")
    if (m.dim == 0 || queries.isEmpty) return emptyResult(spark)
    require(m.vecs,
      "searchLshVecs needs a vector-carrying index (buildLsh storeVecs = true): " +
        "a payload-free index gathers rescore vectors by corpus id, which " +
        "external query vectors do not have")
    requireQueryBatch(queries, m)
    lshVecs(spark, indexDir, sfDir, m, queries.toArray, k, extraProbes)
  }

  /** Corpus-id batches are caller-shaped too — a typo'd or stale id
    * would otherwise collect no vector and silently return NO rows for
    * that query (the isin filter simply misses), the inconsistent twin
    * of [[requireQueryBatch]]'s loud failures on the external surface.
    */
  private def requireAllFound(queryIds: Seq[Long],
      qvecs: Array[(Long, Array[Double])]): Unit = {
    val found = qvecs.map(_._1).toSet
    val missing = queryIds.filterNot(found)
    require(missing.isEmpty,
      s"query ids not found in the corpus embeddings: ${missing.mkString(", ")} — " +
        "corpus-id batches must resolve every id (use searchLshVecs/" +
        "searchIvfVecs to search with caller-supplied vectors)")
  }

  /** External batches are caller-shaped — fail loudly on the two silent
    * corruptions: a wrong-width vector would hash into buckets from a
    * different coder (LSH) or feed a mismatched dot product (rescore),
    * and duplicate q_ids would collapse in the probe's id→vector map,
    * rescoring one id's buckets against another id's vector.
    */
  private def requireQueryBatch(queries: Seq[(Long, Array[Double])], m: AnnMeta): Unit = {
    require(queries.forall(_._2.length == m.dim),
      s"query vectors must match the index dim ${m.dim}")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate query ids in the external batch")
  }

  /** Probe derivation for the LSH batch surfaces. `extraProbes` > 0
    * turns on multi-probe (Lv et al., VLDB'07 — see
    * [[AnnOps.lshCodeMargins]]): per (query, table), besides the base
    * bucket, probe the buckets reached by flipping the `extraProbes`
    * smallest-|margin| bits — the recall dial that does NOT grow the
    * index (IVF's equivalent dial is nprobe). Ties in margin break by
    * bit index, so the probe set is deterministic; the set at m+1
    * strictly contains the set at m, which makes per-rank distances
    * monotonically non-increasing in m (spec-gated). extraProbes = 0
    * is bit-identical to the pre-multiprobe path (base buckets only,
    * same coder).
    */
  private def lshVecs(spark: SparkSession, indexDir: String, sfDir: String,
      m: AnnMeta, qvecs: Array[(Long, Array[Double])], k: Int,
      extraProbes: Int = 0): DataFrame = {
    require(extraProbes >= 0 && extraProbes <= m.nbits,
      s"extraProbes must be in [0, nbits=${m.nbits}], got $extraProbes")
    val planes = AnnOps.planeMatrix(m.tables, m.nbits, m.dim)
    val qBuckets = qvecs.flatMap { case (id, ea) =>
      (0 until m.tables).flatMap { t =>
        if (ea.length == m.dim) {
          val (base, margins) = AnnOps.lshCodeMargins(ea, planes, t)
          val flips = if (extraProbes == 0) Seq.empty[Long]
            else margins.zipWithIndex.sortBy { case (mg, j) => (mg, j) }
              .take(extraProbes).map { case (_, j) => base ^ (1L << j) }.toSeq
          (base +: flips).map((id, _))
        } else {
          // margin flips are undefined across dims — refuse loudly
          // rather than silently dropping the recall dial
          require(extraProbes == 0,
            s"multi-probe needs query dim ${m.dim}, got ${ea.length} (query $id)")
          Seq((id, AnnOps.lshCode(ea.toSeq, t, m.nbits)))
        }
      }
    }
    batchFromProbe(spark, AnnPaths(indexDir), m, sfDir, qBuckets.toIndexedSeq,
      qvecs.map { case (id, e) => (id, e.toSeq: Seq[Double]) }, k)
  }

  /** Shared batch tail: pruned codes scan × broadcast probe set. With
    * stored vectors the candidate rescoring reads them off the SAME
    * scan — the batch plan touches the corpus table zero times; a
    * payload-free index gathers candidate vectors by id instead (two
    * corpus probe joins — fine when batches are large, the whole cost
    * at 10^9 rows when they're not).
    *
    * `qvecs` are the query vectors in RESCORE space: raw for an f64
    * payload, DEQUANTIZED (the caller ran the q39 dequant transform)
    * for a quantized one — so the distance is computed between two
    * members of the same quantization grid, exactly like the inline
    * SQMinC operator.
    */
  /** Probe-bucket count above which the codes-scan filter switches from
    * an isin literal list to a broadcast semi-join (an In expression
    * with hundreds of thousands of literals breaks codegen; the join
    * trades row-group stat skipping for a plan that always compiles).
    */
  private val BucketIsinCap = 10000

  private def batchFromProbe(spark: SparkSession, paths: AnnPaths, m: AnnMeta,
      sfDir: String, qBuckets: Seq[(Long, Long)], qvecs: Array[(Long, Seq[Double])],
      k: Int): DataFrame = {
    import spark.implicits._
    // probe bucket/shard sets derived HERE from the (q, bucket) pairs —
    // a caller cannot hand in a filter set inconsistent with the probe
    val buckets = qBuckets.map(_._2).distinct.sorted
    val shards = buckets.map(b => java.lang.Math.floorMod(b, m.numShards.toLong).toInt)
      .distinct.sorted
    val scan0 = readCodes(spark, paths.root, m)
      .filter(col("shard").isin(shards: _*))
    // small probe sets stay an isin literal (row-group stat skipping);
    // a large one (big batch × tables × multiprobe, or a wide-nprobe
    // IVF) would bloat the In expression past what codegen tolerates —
    // a broadcast semi-join filters the same rows without it
    val scan = if (buckets.length <= BucketIsinCap)
        scan0.filter(col("bucket").isin(buckets: _*))
      else scan0.join(broadcast(buckets.toDF("bucket")), Seq("bucket"), "leftsemi")
    if (m.vecs) {
      // the probe relation carries IDS ONLY — carrying the query
      // vector per (q, bucket) row would replicate each vector once
      // per probe bucket (nprobe=2048 × 1000 queries ≈ GBs through the
      // driver for a batch whose unique vectors are KBs); the vectors
      // join back in AFTER the bucket join, one row per unique query
      val probe = qBuckets.toDF("q_id", "bucket")
      val qVecDf = qvecs.toSeq.toDF("q_id", "q_emb")
      val nbrSide =
        if (m.qlevels > 0) decodedScan(scan, m)
        else scan.select(col("bucket"), col("vec_id"), col("emb"))
      val cands0 = nbrSide.select(col("bucket"), col("vec_id").as("nbr_id"), col("emb"))
        .join(broadcast(probe), "bucket")
        .join(broadcast(qVecDf), "q_id")
        .select(col("q_id"), col("nbr_id"),
          VectorOps.distCol(col("q_emb"), col("emb")).as("dist"))
      // LSH meets the same (q, nbr) pair once per matching hash table —
      // dedup before the heap; IVF pairs are unique by construction
      // (one cell per vector, distinct probe cells per query), where
      // the distinct would shuffle every dist-bearing candidate row
      // for zero reduction
      val cands = if (m.kind == "lsh") cands0.distinct() else cands0
      VectorOps.topKByDist(cands, k, "q_id", "nbr_id")
        .select(col("q_id").as("vec_id"), col("rnk"), col("nbr_id"), col("dist"))
        .orderBy("vec_id", "rnk")
    } else {
      val probe = qBuckets.toDF("q_id", "bucket")
      val pairIds = scan.select(col("vec_id").as("nbr_id"), col("bucket"))
        .join(broadcast(probe), "bucket")
        .select("q_id", "nbr_id")
        .distinct()
      AnnOps.rescoreTopK(spark, sfDir, pairIds, k)
    }
  }

  /** Build the IVF index: centers trained on a deterministic bounded
    * sample ([[graft.operators.CentersOps.fftSampled]] — NOT nlist
    * sequential full-corpus jobs), every vector assigned to its nearest
    * center by one fused broadcast-exhaustive scan, assignments stored
    * in the same (shard, bucket=cell, vec_id) layout as LSH codes.
    *
    * `quantLevels` > 0 stores SQMinC-quantized payloads instead of f64
    * arrays (see [[AnnMeta]]): assignment still runs on the RAW vectors
    * (cells are just partitions — quantization only changes the stored
    * rescoring payload, the same split FAISS makes between its
    * coarse quantizer and its code storage).
    */
  def buildIvf(spark: SparkSession, sfDir: String, outDir: String, nlist: Int = 0,
      sampleFactor: Int = 16, numShards: Int = 8, quantLevels: Int = 0): AnnMeta = {
    import spark.implicits._
    if (quantLevels > 0) bitsFor(quantLevels) // validate up front
    val paths = AnnPaths(outDir)
    val n = VectorOps.embCount(spark, sfDir)
    val dimOpt = AnnOps.embDs(spark, sfDir)
      .select(size(col("emb"))).as[Int].head(1).headOption
    val nl = if (nlist > 0) nlist else AnnOps.deriveNlist(n)
    val m = AnnMeta("ivf", 0, 0, dimOpt.getOrElse(0), n, numShards,
      0, nl, math.max(1, nl / 2), vecs = dimOpt.isDefined, qlevels = quantLevels)
    if (dimOpt.isDefined) {
      val cents = CentersOps.fftSampled(spark, sfDir, nl, sampleFactor)
      Corpus.embeddings(spark, sfDir)
        .filter(col("vec_id").isin(cents.toIndexedSeq: _*))
        .select(col("vec_id").as("cell"),
          col("embedding").cast("array<double>").as("cemb"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(paths.centers)
      val cembs = readCenters(spark, outDir)
      // nearest-cell assignment through the fused broadcast-exhaustive
      // kernel (centers ≤ 4096 rows broadcast; one tight JVM scan per
      // vector, zero intermediate rows/shuffle) — same rows as the
      // crossJoin→topK form by the kernel's pinned bit-identity
      val cells = VectorOps.fusedExhaustiveKnn(
          AnnOps.embDs(spark, sfDir), cembs, 1, "vec_id", "cell")
        .select(pmod(col("cell"), lit(numShards.toLong)).cast("int").as("shard"),
          col("cell").as("bucket"), col("vec_id"))
        .join(AnnOps.embDs(spark, sfDir), "vec_id")
      val assigned =
        if (quantLevels > 0) {
          val (qlo, qc) = graft.operators.DistanceOps
            .sqMinCParams(col("emb"), quantLevels)
          cells
            .select(col("shard"), col("bucket"), col("vec_id"), col("emb"),
              qlo.as("qlo"), qc.as("qc"))
            .select(col("shard"), col("bucket"), col("vec_id"),
              col("qlo"), col("qc"),
              packUdf(bitsFor(quantLevels))(graft.operators.DistanceOps
                .sqMinCCodes(col("emb"), col("qlo"), col("qc"))).as("qcode"))
        } else cells
      writeCodes(assigned, numShards, paths)
    } else {
      Seq.empty[(Long, Seq[Double])].toDF("cell", "cemb")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(paths.centers)
      emptyCodes(spark, paths)
    }
    Seq(m).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(paths.meta)
    m
  }

  /** Bounded-batch kNN through the stored IVF index: centers and the
    * batch's vectors are collected driver-side, cells ranked with the
    * SAME rounded distance and tie rule as the distributed ranking
    * ([[VectorOps.jvmDist]] ≡ distCol bit-for-bit; ties → smaller cell
    * id, [[graft.operators.TopK.better]]), and the probed cells become
    * partition/row-group filters on the codes scan — which carries the
    * candidate vectors, so the whole batch plan never touches the
    * corpus table. Row-identical to [[searchIvfAll]] for those ids.
    */
  def searchIvfBatch(spark: SparkSession, indexDir: String, sfDir: String,
      queryIds: Seq[Long], k: Int = 5, nprobe: Int = 0): DataFrame = {
    import spark.implicits._
    val m = readMeta(spark, indexDir)
    requireKind(m, "ivf", "searchIvfBatch")
    if (m.dim == 0 || queryIds.isEmpty) return emptyResult(spark)
    val qvecs = AnnOps.embDs(spark, sfDir)
      .filter(col("vec_id").isin(queryIds: _*))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => (id, e.toArray) }
    requireAllFound(queryIds, qvecs)
    ivfVecs(spark, indexDir, sfDir, m, qvecs, k, nprobe)
  }

  /** Bounded-batch kNN with EXTERNAL query vectors against the stored
    * IVF index — the `searchbatch(index, Q)` shape; see
    * [[searchLshVecs]]. IVF codes always carry their vectors, so any
    * IVF index serves external queries.
    */
  def searchIvfVecs(spark: SparkSession, indexDir: String, sfDir: String,
      queries: Seq[(Long, Array[Double])], k: Int = 5, nprobe: Int = 0): DataFrame = {
    val m = readMeta(spark, indexDir)
    requireKind(m, "ivf", "searchIvfVecs")
    if (m.dim == 0 || queries.isEmpty) return emptyResult(spark)
    requireQueryBatch(queries, m)
    ivfVecs(spark, indexDir, sfDir, m, queries.toArray, k, nprobe)
  }

  private def ivfVecs(spark: SparkSession, indexDir: String, sfDir: String,
      m: AnnMeta, qvecs: Array[(Long, Array[Double])], k: Int,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val np = if (nprobe > 0) nprobe else m.nprobe0
    val cents = readCenters(spark, indexDir)
      .as[(Long, Seq[Double])].collect()
      .map { case (c, e) => (c, e.toArray) }
    // cell ranking always runs on the RAW vector (the space the build
    // assigned in), same rounded distance and tie rule as the
    // distributed ranking
    val qCells = qvecs.flatMap { case (q, ea) =>
      cents.map { case (c, ce) => (q, c, VectorOps.jvmDist(ea, ce)) }
        .sortBy { case (_, c, d) => (d, c) }
        .take(np)
        .map { case (q2, c, _) => (q2, c) }
    }
    // rescore space: raw for f64 payloads; dequantized for quantized
    // ones, through the JVM twin of the q39 Catalyst expressions — the
    // quantized-batch ≡ bulk parity spec pins jvm ≡ Catalyst
    val rescoreQ: Array[(Long, Seq[Double])] =
      if (m.qlevels > 0) qvecs.map { case (q, e) =>
        (q, graft.operators.DistanceOps.jvmSqMinCDeq(e, m.qlevels).toSeq) }
      else qvecs.map { case (q, e) => (q, e.toSeq: Seq[Double]) }
    batchFromProbe(spark, AnnPaths(indexDir), m, sfDir,
      qCells.toIndexedSeq, rescoreQ, k)
  }

  /** Bulk self-kNN through the stored IVF index: rank the stored
    * centers per query (broadcast — nlist ≤ 4096 rows), probe the
    * nprobe nearest cells against the PERSISTED assignment table.
    * Row-identical to [[graft.operators.AnnOps.annIvf]] at the same
    * (nlist, nprobe): the stored rnk-1 assignment is the same
    * data-side rule, and the centers are the same deterministic
    * sampled-fft selection.
    */
  def searchIvfAll(spark: SparkSession, indexDir: String, sfDir: String,
      k: Int = 5, nprobe: Int = 0): DataFrame = {
    val m = readMeta(spark, indexDir)
    requireKind(m, "ivf", "searchIvfAll")
    if (m.dim == 0) return emptyResult(spark)
    val np = if (nprobe > 0) nprobe else m.nprobe0
    val cembs = readCenters(spark, indexDir)
    val emb = AnnOps.embDs(spark, sfDir)
    // cell ranking on the RAW vectors — the space the build assigned in.
    // The probe frame is rebalanced before the candidate joins: the
    // codes/query sides broadcast, so the per-candidate distance and
    // the map-side top-k heaps run on the probe's partitioning — a
    // single-split query scan (or AQE byte-based coalescing of the
    // skinny probe rows) would otherwise serialize the whole rescore
    // (q47 profiled as one 3.8 s single-task stage at sf0.1; ~0.2 s
    // spread over the session's cores)
    val probe = VectorOps.fusedExhaustiveKnn(emb, cembs, np, "vec_id", "cell")
      .select(col("vec_id").as("q_id"), col("cell").as("bucket"))
      .repartition(spark.sparkContext.defaultParallelism)
    if (m.qlevels > 0) {
      // quantized payload: candidates decode off the index scan, the
      // query side dequantizes through the SAME q39 expressions —
      // distances live on the quantization grid on both sides, so at
      // nprobe = nlist this is row-identical to the inline SQMinC kNN
      // (the q45 oracle gate)
      val nbrs = decodedScan(readCodes(spark, indexDir, m), m)
        .select(col("vec_id").as("nbr_id"), col("bucket"), col("emb").as("n_emb"))
      val (qlo, qc) = graft.operators.DistanceOps
        .sqMinCParams(col("emb"), m.qlevels)
      val deqQ = emb
        .select(col("vec_id"), col("emb"), qlo.as("qlo"), qc.as("qc"))
        .select(col("vec_id").as("q_id"), graft.operators.DistanceOps
          .sqMinCDeq(col("emb"), col("qlo"), col("qc")).as("q_emb"))
      // no distinct: each IVF vector lives in exactly one cell and the
      // probe emits distinct cells per query, so (q_id, nbr_id) pairs
      // are unique by construction — a dedup here would shuffle every
      // dist-bearing candidate row (n² at the q45 exhaustive probe)
      // for zero row reduction
      val cands = probe.join(nbrs, "bucket")
        .join(deqQ, "q_id")
        .select(col("q_id"), col("nbr_id"),
          VectorOps.distCol(col("q_emb"), col("n_emb")).as("dist"))
      VectorOps.topKByDist(cands, k, "q_id", "nbr_id")
        .select(col("q_id").as("vec_id"), col("rnk"), col("nbr_id"), col("dist"))
        .orderBy("vec_id", "rnk")
    } else if (m.vecs) {
      // f64 payload with stored vectors: same shape as the quantized
      // branch minus the dequant — candidates read their vectors off
      // the index scan, and the unique-by-construction IVF pairs need
      // no distinct (the former pairIds.distinct() + two-corpus-join
      // rescore shuffled the full n² pair set at the q47 exhaustive
      // probe for zero reduction)
      val nbrs = readCodes(spark, indexDir, m)
        .select(col("vec_id").as("nbr_id"), col("bucket"), col("emb").as("n_emb"))
      val qSide = emb.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val cands = probe.join(nbrs, "bucket")
        .join(qSide, "q_id")
        .select(col("q_id"), col("nbr_id"),
          VectorOps.distCol(col("q_emb"), col("n_emb")).as("dist"))
      VectorOps.topKByDist(cands, k, "q_id", "nbr_id")
        .select(col("q_id").as("vec_id"), col("rnk"), col("nbr_id"), col("dist"))
        .orderBy("vec_id", "rnk")
    } else {
      // payload-free index (vectors not stored): gather by id instead
      val indexed = readCodes(spark, indexDir, m)
        .select(col("vec_id").as("nbr_id"), col("bucket"))
      val pairIds = probe.join(indexed, "bucket")
        .select("q_id", "nbr_id")
        .distinct()
      AnnOps.rescoreTopK(spark, sfDir, pairIds, k)
    }
  }

  /** Registry entry (q44): build the LSH index to a throwaway dir, run
    * the bulk self-kNN through it, clean up — the persisted-index twin
    * of q21, row-identical to it (AnnIndexSpec pins the parity; recall
    * vs exact is q21's gate, inherited unchanged).
    */
  def annPersistedOnCorpus(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-annidx-").toString
    // build INSIDE the try: a failed mid-write build must not leak the
    // partially-written temp index
    try {
      buildLsh(spark, sfDir, idx)
      graft.operators.StreamingOps.localized(searchLshAll(spark, idx, sfDir, k))
    } finally graft.operators.StreamingOps.deleteRec(idx)
  }

  /** Registry entry (q45): build a QUANTIZED (SQMinC u8) IVF index and
    * search it with nprobe = nlist — an exhaustive probe, so the result
    * is the full kNN over the quantization grid: bit-identical to the
    * inline q39 operator ([[graft.operators.DistanceOps.sqMinCKnn]])
    * and therefore to its DuckDB oracle. That one gate pins the whole
    * stored-code path end-to-end: quantize → pack → write → pruned
    * read → unpack → dequantize → distance → rank. The production
    * shape is the same index at nprobe ≪ nlist (recall-gated like
    * q22); exhaustive probing is O(n²), hence the gold-path guard.
    */
  def sqIvfPersistedOnCorpus(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    VectorOps.guardExact(spark, VectorOps.embCount(spark, sfDir))
    val idx = java.nio.file.Files.createTempDirectory("graft-sqidx-").toString
    try {
      val m = buildIvf(spark, sfDir, idx, nlist = 16, quantLevels = 255)
      graft.operators.StreamingOps.localized(
        searchIvfAll(spark, idx, sfDir, k, nprobe = math.max(1, m.nlist)))
    } finally graft.operators.StreamingOps.deleteRec(idx)
  }

  /** Registry entry (q47): build an f64 (unquantized) IVF index and
    * probe it exhaustively (nprobe = nlist) — the probe set covers
    * every cell, so the candidate set is the full cross and the result
    * is the exact kNN: row-identical to
    * [[graft.operators.VectorOps.allKnn]] and hence under its DuckDB
    * oracle. This pins the f64 persisted READ path (build → codes
    * write → probe join → rescore → rank) under the driver's hash gate
    * the way q45 pins the quantized one — between them, both stored
    * payload layouts sit under an end-to-end oracle, and q44's LSH
    * variant shares the oracle via the q21 pipeline SQL. The
    * production shape is nprobe ≪ nlist (recall-gated like q22);
    * exhaustive probing is O(n²), hence the gold-path guard.
    */
  def ivfF64PersistedOnCorpus(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    VectorOps.guardExact(spark, VectorOps.embCount(spark, sfDir))
    val idx = java.nio.file.Files.createTempDirectory("graft-f64idx-").toString
    try {
      val m = buildIvf(spark, sfDir, idx, nlist = 16)
      graft.operators.StreamingOps.localized(
        searchIvfAll(spark, idx, sfDir, k, nprobe = math.max(1, m.nlist)))
    } finally graft.operators.StreamingOps.deleteRec(idx)
  }

  /** The pinned corpus ids the q50 multiprobe batch searches — 25 ids
    * that exist at every driver fixture scale (max 168 < 500 = sf0.001
    * n), stride 7 so they spread across shards/buckets. Shared between
    * the registry entry and its DuckDB oracle; a drifted literal on
    * either side fails the hash gate.
    */
  val MultiprobeQueryIds: Seq[Long] = (0 until 25).map(_ * 7L)

  /** Registry entry (q50): persisted LSH index probed MULTI-PROBE
    * (extraProbes = 2) for a pinned 25-id batch. The full chain —
    * coding, build-side cap, per-(query, table) margin ranking, bit
    * flips, pruned probe, exact rescore, (dist, nbr) tie rule — sits
    * under [[graft.operators.AnnOps.lshMultiprobeOracleSql]]'s DuckDB
    * replica, so the multiprobe dial is value-oracled like the rest of
    * the LSH family (not merely recall-gated).
    */
  def lshMultiprobePersistedOnCorpus(spark: SparkSession, sfDir: String,
      k: Int = 5, extraProbes: Int = 2): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-mpidx-").toString
    try {
      buildLsh(spark, sfDir, idx)
      graft.operators.StreamingOps.localized(
        searchLshBatch(spark, idx, sfDir, MultiprobeQueryIds, k, extraProbes))
    } finally graft.operators.StreamingOps.deleteRec(idx)
  }

  /** `optimize_index!` on the multiprobe dial: recall/cost ladder over
    * extraProbes for a fixed batch against the exact gold — the LSH
    * analog of the IVF nprobe ladder (cost = probed buckets per table,
    * (1+m)/(1+nbits), the same probes-as-cost normalization). Gold is
    * O(n²): fixture/sample scale only, like every tuner in the family.
    */
  def evalLshProbeLadder(spark: SparkSession, indexDir: String, sfDir: String,
      queryIds: Seq[Long], k: Int = 5): Seq[AnnOps.IvfConfig] = {
    val m = readMeta(spark, indexDir)
    requireKind(m, "lsh", "evalLshProbeLadder")
    VectorOps.guardExact(spark, VectorOps.embCount(spark, sfDir))
    val gold = VectorOps.allKnn(spark, sfDir, k)
      .filter(col("vec_id").isin(queryIds: _*)).cache()
    try {
      val ladder = (Seq(0) ++ Iterator.iterate(1)(_ * 2).takeWhile(_ < m.nbits)
        .toSeq :+ m.nbits).distinct
      ladder.map { mp =>
        // unpersist in finally: a rung that throws mid-aggregate must
        // not strand its cache entry in a long-lived tuning session
        val got = searchLshBatch(spark, indexDir, sfDir, queryIds, k, mp).cache()
        try {
          val r = AnnOps.macrorecall(gold, got, k)
          val radius = got.groupBy("vec_id").agg(max("dist").as("cov"))
            .agg(avg("cov")).head().getDouble(0)
          AnnOps.IvfConfig(mp, r, (1.0 + mp) / (1.0 + m.nbits), radius)
        } finally got.unpersist()
      }
    } finally gold.unpersist()
  }

  /** MinRecall over the multiprobe ladder: the smallest extraProbes
    * meeting the target (the shared goal loss breaks ties cheap-first).
    */
  def tunedLshProbes(spark: SparkSession, indexDir: String, sfDir: String,
      queryIds: Seq[Long], k: Int = 5, target: Double = 0.9): (Int, Double) = {
    val cfg = AnnOps.chooseConfig(
      evalLshProbeLadder(spark, indexDir, sfDir, queryIds, k),
      AnnOps.MinRecallGoal(target))
    (cfg.nprobe, cfg.recall)
  }

  /** `optimize_index!` on the quantization dial: build one throwaway
    * index per storage rung (u2/u4/u8/f64, cheapest first), measure
    * recall against the exact gold at EXHAUSTIVE probe (pure
    * quantization error — the nprobe tuner owns probing error), and
    * report (levels, recall, storage cost, covering radius) rows for
    * [[graft.operators.AnnOps.chooseQuant]]. Same shape as the nprobe
    * and prune-floor ladders; gold is O(n²), so fixture-scale only
    * (sample the query set at scale, like the reference's 64-query
    * probe, /root/reference/src/opt.jl:148).
    */
  def evalQuantLadder(spark: SparkSession, sfDir: String, k: Int = 5,
      nlist: Int = 16): Seq[AnnOps.QuantConfig] = {
    VectorOps.guardExact(spark, VectorOps.embCount(spark, sfDir))
    val gold = VectorOps.allKnn(spark, sfDir, k).cache()
    try Seq(3, 15, 255, 0).map { levels =>
      val idx = java.nio.file.Files.createTempDirectory("graft-quantladder-").toString
      try {
        buildIvf(spark, sfDir, idx, nlist = nlist, quantLevels = levels)
        val got = searchIvfAll(spark, idx, sfDir, k, nprobe = nlist).cache()
        try {
          val r = AnnOps.macrorecall(gold, got, k)
          val radius = got.groupBy("vec_id").agg(max("dist").as("cov"))
            .agg(avg("cov")).head().getDouble(0)
          val bits = if (levels == 0) 64.0 else bitsFor(levels).toDouble
          AnnOps.QuantConfig(levels, r, bits / 64.0, radius)
        } finally got.unpersist()
      } finally graft.operators.StreamingOps.deleteRec(idx)
    }
    finally gold.unpersist()
  }
}
