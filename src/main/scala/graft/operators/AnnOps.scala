package graft.operators

import graft.analysis.TextHash
import graft.corpus.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor — the scale path that replaces the
  * O(n²) exact forms at 10^12 rows, playing the reference's
  * `SearchGraph` role (approximate index vs `ExhaustiveSearch` gold,
  * /root/reference/test/testsearchgraph.jl:44-71) with the same
  * quality gate: macrorecall vs the exact scorer ≥ 0.8
  * (/root/reference/test/testsearchgraph.jl:68).
  *
  * Two buckets-then-verify schemes:
  *  - [[annLsh]]: random-hyperplane signs (deterministic planes from
  *    splitmix64 — no RNG state), multi-probe on Hamming-1 codes;
  *  - [[annIvf]]: IVF over farthest-first centers ([[CentersOps.fft]]),
  *    nprobe nearest cells per query.
  * Candidates get EXACT NormCosine rescoring; only the candidate set is
  * approximate. Both are bucket equi-joins — the pair space never
  * materializes.
  */
object AnnOps {

  /** Deterministic hyperplane component in [-1, 1) for (table, bit). */
  private def plane(table: Int, j: Int, i: Int): Double = {
    val h = TextHash.splitmix64(table.toLong * 1073741824L + j.toLong * 1048576L + i)
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  private[graft] def embDs(spark: SparkSession, sfDir: String) =
    Corpus.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Sign-LSH bucket of a vector in one table (table id folded in). */
  private[graft] def lshCode(emb: Seq[Double], table: Int, nbits: Int): Long = {
    var code = 0L
    var j = 0
    while (j < nbits) {
      var dot = 0.0
      var i = 0
      while (i < emb.length) { dot += emb(i) * plane(table, j, i); i += 1 }
      if (dot > 0) code |= (1L << j)
      j += 1
    }
    (table.toLong << 32) | code
  }

  /** Hyperplanes materialized ONCE as [table][bit][dim] — [[lshCode]]
    * re-derives every component through splitmix64 per ROW, which put
    * ~12M hash calls inside a single scan task at n=2000 (~1.5 s of
    * the q21 wall clock); the matrix is 16×nbits×dim doubles, closure-
    * shipped. Codes are bit-identical to [[lshCode]] by construction
    * (same `plane` function tabulated).
    */
  private[graft] def planeMatrix(tables: Int, nbits: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, nbits, dim)(plane)

  private[graft] def lshCodeFast(e: Array[Double], planes: Array[Array[Array[Double]]],
      table: Int): Long = {
    val pt = planes(table)
    var code = 0L
    var j = 0
    while (j < pt.length) {
      val pj = pt(j)
      var dot = 0.0
      var i = 0
      while (i < e.length) { dot += e(i) * pj(i); i += 1 }
      if (dot > 0) code |= (1L << j)
      j += 1
    }
    (table.toLong << 32) | code
  }

  /** [[lshCodeFast]] plus the per-bit margins |dot(q, plane)| — the
    * multi-probe input (Lv et al., VLDB'07, adapted to sign LSH): a
    * query lying CLOSE to hyperplane j very nearly landed in the
    * bucket with bit j flipped, so `bucket ^ (1 << j)` for the
    * smallest-margin bits are the highest-probability extra buckets to
    * probe — recall per table rises without growing the table count
    * (the index stays the same size; only the batch's probe set
    * widens). The margins are a by-product of the dots lshCodeFast
    * already computes, so the base bucket stays bit-identical.
    */
  private[graft] def lshCodeMargins(e: Array[Double],
      planes: Array[Array[Array[Double]]], table: Int): (Long, Array[Double]) = {
    val pt = planes(table)
    val margins = new Array[Double](pt.length)
    var code = 0L
    var j = 0
    while (j < pt.length) {
      val pj = pt(j)
      var dot = 0.0
      var i = 0
      while (i < e.length) { dot += e(i) * pj(i); i += 1 }
      if (dot > 0) code |= (1L << j)
      margins(j) = math.abs(dot)
      j += 1
    }
    ((table.toLong << 32) | code, margins)
  }

  /** Mean bucket occupancy the code width is derived for: nbits =
    * clamp(⌈log2(n / TargetBucket)⌉, 4, 24), so buckets hold ~32
    * vectors NO MATTER the corpus size — at n=500 that is 4 bits (16
    * buckets), at 10^9 it is 24 bits. Fixed widths (round 1) made
    * bucket population grow linearly with n, degenerating the bucket
    * join toward quadratic.
    */
  val TargetBucket = 32

  /** Hard per-bucket cap on the INDEXED side (skew backstop): a bucket
    * that still exceeds 4× the target occupancy (hyperplanes can't
    * split identical/near-identical vectors) is deterministically
    * truncated to its lowest vec_ids; the multi-table union recovers
    * recall for the truncated tail.
    */
  val BucketCap = 4 * TargetBucket

  private[graft] def deriveNbits(n: Long): Int =
    math.min(24, math.max(4,
      math.ceil(math.log(math.max(1L, n).toDouble / TargetBucket) / math.log(2.0)).toInt))

  /** Multi-table sign LSH: L independent tables of nbits hyperplanes;
    * candidates = bucket collisions in ANY table (union), exact
    * rescoring after. Weak-neighbor corpora (like this fixture's
    * near-orthogonal clusters) need many shallow tables — the same
    * recall/cost dial the reference tunes via `optimize_index!`
    * (/root/reference/src/opt.jl:139-235; see [[tunedIvf]]).
    *
    * nbits defaults to the corpus-derived width ([[TargetBucket]]);
    * pass nbits > 0 to pin it.
    */
  def annLsh(spark: SparkSession, sfDir: String, k: Int = 5, nbits: Int = 0,
      tables: Int = 16): DataFrame = {
    // PAYLOAD-FREE bucket join: codes are (id, bucket) longs only — the
    // old form shipped both 64-dim arrays through the bucket join and
    // then distinct()'d the wide rows (multi-table collisions duplicate
    // every pair up to L times). Dedup the id pairs first (two longs per
    // row), then rejoin the embeddings once per SIDE of each surviving
    // pair — two id equi-joins that partition cleanly at any scale.
    // empty corpus → empty result (first() would throw); also skips the
    // plane tabulation and the extra job entirely
    lshCodedCapped(spark, sfDir, nbits, tables) match {
      case None => VectorOps.emptyKnnFrame(spark)
      case Some((coded, capped)) =>
        val pairIds = coded.select(col("vec_id").as("q_id"), col("bucket"))
          .join(capped.select(col("vec_id").as("nbr_id"), col("bucket")), "bucket")
          .select("q_id", "nbr_id")
          .distinct()
        rescoreTopK(spark, sfDir, pairIds, k)
    }
  }

  /** The shared sign-LSH candidate machinery: the corpus coded into
    * (vec_id, bucket) rows ([[codeLsh]]) plus the capped indexed side —
    * None on an empty corpus. The per-bucket cap runs through the
    * shared bounded-heap aggregator (dist = vec_id keeps the LOWEST
    * ids, the pinned deterministic choice): the cap exists precisely
    * for degenerate buckets (identical vectors the hyperplanes cannot
    * split), i.e. exactly the buckets that are huge — the heap combines
    * map-side, ≤[[BucketCap]] rows per (partition, bucket) shuffle,
    * independent of bucket population. One definition so the inline
    * kNN ([[annLsh]]) and the bucketed pair ops (via
    * [[lshCodedVecsCapped]], which derives its cap from the same rule)
    * can never drift on coding or cap rules.
    */
  private[graft] def lshCodedCapped(spark: SparkSession, sfDir: String,
      nbits: Int, tables: Int): Option[(DataFrame, DataFrame)] =
    lshCodedCappedWith(spark, sfDir, nbits, tables, codeLsh)
      .map { case (_, coded, capped) => (coded, capped) }

  /** Shared prologue of the two capped coding passes: dim probe (None
    * on an empty corpus), nbits derivation, the coding pass, and the
    * ONE cap rule (lowest [[BucketCap]] ids per bucket via the bounded
    * heap, ids-as-dist) — parameterized only by the coder so the
    * inline kNN and the pair ops can never drift on either rule.
    * Returns (embds, coded, capped-id-bucket frame).
    */
  private def lshCodedCappedWith(spark: SparkSession, sfDir: String,
      nbits: Int, tables: Int,
      coder: (DataFrame, Int, Int, Int) => DataFrame)
      : Option[(DataFrame, DataFrame, DataFrame)] = {
    import spark.implicits._
    val embds = embDs(spark, sfDir)
    val dimOpt = embds.select(size(col("emb"))).as[Int].head(1).headOption
    dimOpt.map { dim =>
      val bits = if (nbits > 0) nbits
        else deriveNbits(VectorOps.embCount(spark, sfDir))
      val coded = coder(embds, tables, bits, dim)
      val capped = VectorOps.topKByDist(
          coded.select(col("bucket"), col("vec_id"),
            col("vec_id").cast("double").as("dist")),
          BucketCap, "bucket", "vec_id")
        .select(col("vec_id"), col("bucket"))
      (embds, coded, capped)
    }
  }

  /** The VECTOR-CARRYING variant of [[lshCodedCapped]] for the bucketed
    * pair operators: the same coding pass and cap rule, but both frames
    * keep the embedding so the pair distance is computable IN the
    * bucket join — no candidate-pair `distinct`, no id-gather joins
    * afterwards. The trade is deliberate and measured: a first-cut
    * closestPairLsh that distinct'ed the (q, nbr) pair set and gathered
    * vectors by id filled this box's disk at 1M×16 tables (the ~half-
    * billion-row pair set hit TWO sort spills — the distinct and the
    * gather join — before a single distance was computed). Carrying the
    * vectors costs ≤ tables× duplicate distance evals for pairs that
    * collide in several tables, but duplicates cannot change a min /
    * min_by (unlike [[annLsh]]'s top-k heap, where a duplicate neighbor
    * would occupy two slots — which is exactly why the kNN path keeps
    * its distinct and this one must not be used for it), and the whole
    * reduction is algebraic: map-side partial minima, a shuffle of
    * partials only, never of the pair set.
    */
  private[graft] def lshCodedVecsCapped(spark: SparkSession, sfDir: String,
      nbits: Int, tables: Int): Option[(DataFrame, DataFrame)] =
    // the vector payload rides back in via ONE linear join keyed on
    // vec_id — nothing here scales with the pair count
    lshCodedCappedWith(spark, sfDir, nbits, tables, codeLshVecs)
      .map { case (embds, coded, capped) => (coded, capped.join(embds, "vec_id")) }

  /** Q9 scale path: LSH-bucketed closest pair — candidates are
    * same-bucket collisions in any table (the q21 coding pass
    * verbatim), exact-rescored, global running min. The reference's
    * `closestpair` is per-element 1-NN + a running minimum
    * (/root/reference/src/closestpair.jl:17-78) — the same
    * candidates-then-min shape, with the LSH buckets standing in for
    * the SearchGraph's candidate generation. NO cartesian anywhere:
    * the pair space is bucket-bounded, so this runs at corpus sizes
    * where [[VectorOps.closestPair]]'s O(n²) gold physically cannot —
    * that form stays as the capped oracle this one is gated against.
    * Approximate with LSH recall: the true pair is found iff it
    * collides in ≥1 table (at fixture scale it does — spec-gated);
    * cap truncation keeps the LOWEST ids per bucket, so a degenerate
    * all-duplicates bucket still yields its (lowest, second-lowest)
    * zero-distance pair.
    *
    * Plan shape (the 100 TB claim): vectors ride THROUGH the bucket
    * join ([[lshCodedVecsCapped]]), the distance is a projection on the
    * join output, and the global min is `min(struct(dist, i, j))` — an
    * algebraic aggregate that combines map-side, so the pair set is
    * never shuffled, sorted, or deduplicated (duplicate cross-table
    * collisions evaluate the same dist twice and cannot change a min;
    * struct-min's lexicographic order IS the (dist, i, j) tie rule).
    */
  def closestPairLsh(spark: SparkSession, sfDir: String, nbits: Int = 0,
      tables: Int = 16): DataFrame = {
    import spark.implicits._
    lshCodedVecsCapped(spark, sfDir, nbits, tables) match {
      case None => Seq.empty[(Long, Long, Double)].toDF("i", "j", "dist")
      case Some((codedVecs, cappedVecs)) =>
        codedVecs.select(col("vec_id").as("q_id"), col("bucket"),
            col("emb").as("a_emb"))
          .join(cappedVecs.select(col("vec_id").as("nbr_id"), col("bucket"),
            col("emb").as("b_emb")), "bucket")
          .filter(col("q_id") =!= col("nbr_id"))
          .select(least(col("q_id"), col("nbr_id")).cast("long").as("i"),
            greatest(col("q_id"), col("nbr_id")).cast("long").as("j"),
            VectorOps.distCol(col("a_emb"), col("b_emb")).as("dist"))
          .agg(min(struct(col("dist"), col("i"), col("j"))).as("m"))
          .filter(col("m").isNotNull) // empty candidate set → 0 rows
          .select(col("m.i").as("i"), col("m.j").as("j"), col("m.dist").as("dist"))
    }
  }

  /** Q10 scale path: LSH-bucketed order-free near-dup — the q06
    * semantics (earliest cover within ε among ids ≤ own) over the
    * bucket-bounded candidate space instead of the n² pair space.
    * Every vector is explicitly its own candidate (self dist 0 ≤ ε),
    * so coverage is total even where cap truncation drops a vector
    * from its own bucket's indexed side — exactly q06's guarantee.
    * Approximate only in WHICH cover is found: the true earliest cover
    * is reported iff it collides with the vector in ≥1 table
    * (spec-gated agreement on the fixture); misses degrade toward a
    * LATER (still within-ε) cover or self, never a wrong distance.
    *
    * Plan shape: same carried-vector bucket join as
    * [[closestPairLsh]]; the ε filter runs ON the join output, so only
    * within-ε survivors (plus one self row per vector, computed
    * directly from the corpus — total coverage without any join) reach
    * the per-vector `min_by` shuffle. Duplicate cross-table collisions
    * are identical (cand, dist) rows, which a min_by cannot distinguish
    * — the earliest-cover answer is dedup-insensitive.
    */
  def nearDupLsh(spark: SparkSession, sfDir: String, eps: Double = 0.65,
      nbits: Int = 0, tables: Int = 16): DataFrame = {
    import spark.implicits._
    lshCodedVecsCapped(spark, sfDir, nbits, tables) match {
      case None => Seq.empty[(Long, Long, Double)].toDF("vec_id", "nn", "dist")
      case Some((codedVecs, cappedVecs)) =>
        val embds = embDs(spark, sfDir)
        val collide = codedVecs.select(col("vec_id"), col("bucket"),
            col("emb").as("a_emb"))
          .join(cappedVecs.select(col("vec_id").as("cand"), col("bucket"),
            col("emb").as("b_emb")), "bucket")
          .filter(col("cand") < col("vec_id"))
          .select(col("vec_id"), col("cand"),
            VectorOps.distCol(col("a_emb"), col("b_emb")).as("dist"))
        // self cover: the same distCol formula on (e, e) — 0.0 after
        // rounding, identically in Spark and the DuckDB oracle
        val self = embds.select(col("vec_id"), col("vec_id").as("cand"),
          VectorOps.distCol(col("emb"), col("emb")).as("dist"))
        collide.union(self)
          .filter(col("dist") <= eps)
          .groupBy(col("vec_id"))
          .agg(min_by(struct(col("cand"), col("dist")), col("cand")).as("m"))
          .select(col("vec_id").cast("long"), col("m.cand").cast("long").as("nn"),
            col("m.dist").cast("double").as("dist"))
          .orderBy("vec_id")
    }
  }

  /** The corpus coded into (vec_id, bucket) rows, one row per table —
    * THE sign-LSH coding pass, shared verbatim by the inline operator
    * ([[annLsh]]) and the persisted index ([[graft.index.AnnIndex]]) so
    * their row-identity is by construction, not by parallel evolution.
    * Rows of unexpected width (none in practice) keep the exact
    * per-component derivation.
    */
  private[graft] def codeLsh(embds: DataFrame, tables: Int, nbits: Int,
      dim: Int): DataFrame = {
    import embds.sparkSession.implicits._
    val planes = planeMatrix(tables, nbits, dim)
    embds.as[(Long, Seq[Double])]
      .flatMap { case (id, e) =>
        val ea = e.toArray
        (0 until tables).map(t =>
          (id, if (ea.length == dim) lshCodeFast(ea, planes, t)
               else lshCode(e, t, nbits)))
      }.toDF("vec_id", "bucket")
  }

  /** [[codeLsh]] with the embedding carried alongside each (vec_id,
    * bucket) row — the pair operators' coding pass. Kept SEPARATE from
    * codeLsh rather than a projection of this one: the flatMap is
    * opaque to Catalyst, so a shared vector-carrying form would
    * serialize the embedding ×tables on every annLsh / persisted-index
    * build call and rely on nothing to prune it. The bucket derivation
    * is the same three lines; drift is caught by the oracle (both paths
    * sit under lshCodesSql's bit-exact gate).
    */
  private[graft] def codeLshVecs(embds: DataFrame, tables: Int, nbits: Int,
      dim: Int): DataFrame = {
    import embds.sparkSession.implicits._
    val planes = planeMatrix(tables, nbits, dim)
    embds.as[(Long, Seq[Double])]
      .flatMap { case (id, e) =>
        val ea = e.toArray
        (0 until tables).map(t =>
          (id, if (ea.length == dim) lshCodeFast(ea, planes, t)
               else lshCode(e, t, nbits), e))
      }.toDF("vec_id", "bucket", "emb")
  }

  /** Exact-rescore every (q_id, nbr_id) candidate pair against the
    * corpus embeddings and keep top-k — the shared verify half of every
    * bucketed ANN path (two id equi-joins, [[VectorOps.distCol]],
    * bounded heap), used by [[annLsh]] and the persisted index's
    * gather-join searches.
    */
  private[graft] def rescoreTopK(spark: SparkSession, sfDir: String,
      pairIds: DataFrame, k: Int): DataFrame = {
    val embds = embDs(spark, sfDir)
    // NO rebalance of the pair frame here: every caller hands us the
    // output of a `.distinct()` — a real exchange whose AQE coalescing
    // (parallelismFirst, the default) already targets the session
    // parallelism, so the dist compute and the map-side top-k heaps the
    // broadcast joins fuse onto it run parallel (q21 profiled: the
    // rescore stage holds 8 tasks at fixture scale, thousands at real
    // pair volumes). An unconditional repartition(defaultParallelism)
    // was tried in r6 and is a measured net LOSS at every call site —
    // min-of-8 at sf0.1: q21 1.57 → 1.79 s, q44 1.99 → 2.97 s — it
    // re-shuffles the deduped pairs for parallelism the distinct
    // already provides. (The single-split hazard that motivated it is
    // real but lives on exchange-FREE probe frames; see
    // AnnIndex.searchIvfAll, where the rebalance stays and is a
    // measured 2.3–2.4× win on q45/q47.)
    val cands = pairIds
      .join(embds.select(col("vec_id").as("q_id"), col("emb").as("q_emb")), "q_id")
      .join(embds.select(col("vec_id").as("nbr_id"), col("emb").as("n_emb")), "nbr_id")
      .select(col("q_id"), col("nbr_id"),
        VectorOps.distCol(col("q_emb"), col("n_emb")).as("dist"))
    VectorOps.topKByDist(cands, k, "q_id", "nbr_id")
      .select(col("q_id").as("vec_id"), col("rnk"), col("nbr_id"), col("dist"))
      .orderBy("vec_id", "rnk")
  }

  /** IVF cell count ~ √n (clamped): cells hold ~√n vectors, and the
    * probe set is half the cells, so candidate work per query is
    * O(√n·nprobe) instead of the fixed-16-cell O(n) of round 1. The
    * 4096 clamp bounds the broadcast center table (and the sampled
    * training cost, O(nlist·sample·d) driver flops —
    * [[CentersOps.fftSampled]]); cell assignment is a fused
    * broadcast-exhaustive scan ([[VectorOps.fusedExhaustiveKnn]]) at
    * any nlist.
    */
  private[graft] def deriveNlist(n: Long): Int =
    math.min(4096, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** nlist/nprobe default to corpus-derived values (nprobe = nlist/2,
    * the recall/cost ratio the MinRecall tuner starts from); pass > 0
    * to pin.
    */
  def annIvf(spark: SparkSession, sfDir: String, k: Int = 5, nlist: Int = 0,
      nprobe: Int = 0, sampleFactor: Int = 16): DataFrame = {
    // empty corpus → empty result, same contract as annLsh (fftSampled
    // would otherwise throw on an empty training sample)
    val n = VectorOps.embCount(spark, sfDir)
    if (n == 0L) return VectorOps.emptyKnnFrame(spark)
    val nl = if (nlist > 0) nlist else deriveNlist(n)
    val np = if (nprobe > 0) nprobe else math.max(1, nl / 2)
    // center training on a deterministic bounded sample, one collect +
    // a driver-local loop — NOT nlist sequential full-corpus jobs (the
    // named 100×-scale soft spot); see CentersOps.fftSampled
    val cents = CentersOps.fftSampled(spark, sfDir, nl, sampleFactor)
    val cembs = Corpus.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(cents.toIndexedSeq: _*))
      .select(col("vec_id").as("cell"), col("embedding").cast("array<double>").as("cemb"))
    val emb = embDs(spark, sfDir)
    // assignment: nearest-np cells per vector through the FUSED
    // broadcast-exhaustive kernel (the q04 kernel — centers are ≤4096
    // rows, the canonical broadcast side). The crossJoin→aggregator
    // form materialized n·nlist Catalyst rows and shuffled ~np rows per
    // (partition, vector); the fused scan does the same flops in a
    // tight JVM loop with ZERO intermediate rows and ZERO shuffle —
    // identical output by construction (jvmDist ≡ distCol bit-for-bit,
    // same pinned-tie-rule heap; q04's DuckDB oracle pins the kernel)
    val cellRank = VectorOps.fusedExhaustiveKnn(emb, cembs, np, "vec_id", "cell")
    val data = cellRank.filter(col("rnk") === 1).select("vec_id", "cell")
      .join(emb, "vec_id").select("vec_id", "emb", "cell")
    val queries = cellRank.select(col("vec_id"), col("cell"))
      .join(emb, "vec_id")
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("cell"))
    val cands = queries
      .join(data.select(col("vec_id").as("nbr_id"), col("emb"), col("cell")), "cell")
      .select(col("q_id"), col("nbr_id"),
        VectorOps.distCol(col("q_emb"), col("emb")).as("dist"))
      .distinct()
    VectorOps.topKByDist(cands, k, "q_id", "nbr_id")
      .select(col("q_id").as("vec_id"), col("rnk"), col("nbr_id"), col("dist"))
      .orderBy("vec_id", "rnk")
  }

  // ---------------------------------------------- DuckDB oracles (sign-LSH)

  /** The ENTIRE sign-LSH pipeline as a DuckDB CTE chain — planes from
    * splitmix64, coding, the per-bucket cap — so the inline ANN
    * operator (q21), the persisted LSH index (q44, row-identical by
    * the AnnIndexSpec parity) and the bucketed closest-pair/near-dup
    * scale paths all sit under the driver's bit-exact hash gate
    * instead of only a recall spec.
    *
    * Faithfulness notes, piece by piece:
    *  - splitmix64 runs in HUGEINT arithmetic mod 2^64; the two 64-bit
    *    multiplies split the constant into 32-bit halves
    *    (a·b ≡ ((a·b_hi mod 2^32)·2^32 + a·b_lo) mod 2^64) because a
    *    full 64×64 product overflows INT128. Verified bit-identical to
    *    the JVM for every (table, bit, dim) key in use.
    *  - plane value: (h >>> 11) / 2^53 · 2 − 1 — all steps exact or
    *    correctly-rounded IEEE on both engines.
    *  - the sign dot accumulates left-to-right in double on both sides
    *    (lshCodeFast's sequential loop ≡ list_dot_product — the same
    *    identity every distCol oracle already relies on).
    *  - nbits mirrors [[deriveNbits]] (ln ratio + ceil + clamp). A
    *    corpus size landing EXACTLY on a power-of-two boundary
    *    (n = TargetBucket·2^j) could in principle ceil differently
    *    across libm implementations; the driver fixtures are nowhere
    *    near a boundary and the 4-clamp floors everything ≤ 512.
    *  - the cap keeps the [[BucketCap]] lowest vec_ids per bucket
    *    (row_number ≡ the bounded-heap rule, ids unique in a bucket).
    * The 4096 in the grid is only the unnest ceiling for the embedding
    * dim (actual dim read from the table); 24 is the nbits clamp.
    */
  private def lshCodesSql(tables: Int = 16, cap: Int = BucketCap): String = {
    val c1 = java.lang.Long.toUnsignedString(-7046029254386353131L) // 0x9E3779B97F4A7C15
    val c2 = -4658895280553007687L // 0xBF58476D1CE4E5B9
    val c3 = -7723592293110705685L // 0x94D049BB133111EB
    def hiLo(c: Long) = ((c >>> 32), c & 0xffffffffL)
    val (c2h, c2l) = hiLo(c2)
    val (c3h, c3l) = hiLo(c3)
    s"""params AS (
       |  SELECT LEAST(24, GREATEST(4,
       |           CAST(ceil(ln(count(*) / ${TargetBucket}.0) / ln(2.0)) AS INTEGER))) AS nbits,
       |         (SELECT len(embedding) FROM embeddings LIMIT 1) AS dim
       |  FROM embeddings
       |), grid AS (
       |  SELECT t.t, j.j, i.i
       |  FROM range(0,$tables) t(t), range(0,24) j(j), range(0,4096) i(i), params p
       |  WHERE j.j < p.nbits AND i.i < p.dim
       |), z0 AS (
       |  SELECT t, j, i,
       |         (CAST(t*1073741824::BIGINT + j*1048576::BIGINT + i AS HUGEINT) + $c1)
       |           % 18446744073709551616 AS z
       |  FROM grid
       |), z2 AS (
       |  SELECT t, j, i,
       |         ((xor(z, z >> 30) * $c2h) % 4294967296 * 4294967296
       |           + xor(z, z >> 30) * $c2l) % 18446744073709551616 AS z
       |  FROM z0
       |), z4 AS (
       |  SELECT t, j, i,
       |         ((xor(z, z >> 27) * $c3h) % 4294967296 * 4294967296
       |           + xor(z, z >> 27) * $c3l) % 18446744073709551616 AS z
       |  FROM z2
       |), plist AS (
       |  SELECT t, j,
       |         list(CAST(xor(z, z >> 31) >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0
       |              ORDER BY i) AS pl
       |  FROM z4 GROUP BY t, j
       |), e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), codes AS (
       |  SELECT e.vec_id,
       |         CAST(p.t AS BIGINT) * 4294967296
       |           + CAST(sum(CASE WHEN list_dot_product(e.emb, p.pl) > 0
       |                           THEN CAST(1 AS BIGINT) << p.j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, plist p
       |  GROUP BY e.vec_id, p.t
       |), capped AS (
       |  SELECT bucket, vec_id FROM (
       |    SELECT bucket, vec_id,
       |           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
       |    FROM codes) WHERE rn <= $cap
       |)""".stripMargin
  }

  /** q21/q44 oracle: the [[annLsh]] result computed end-to-end in
    * DuckDB (candidates = any-table bucket collisions against the
    * capped side, exact rescoring, pinned (dist, nbr) tie rule).
    */
  def annLshOracleSql(k: Int = 5): String =
    s"""WITH ${lshCodesSql()}, cand AS (
       |  SELECT DISTINCT c.vec_id AS q_id, x.vec_id AS nbr_id
       |  FROM codes c JOIN capped x USING (bucket)
       |), scored AS (
       |  SELECT cand.q_id, cand.nbr_id,
       |         round(1.0 - list_dot_product(a.emb, b.emb), 4) + 0.0 AS dist
       |  FROM cand JOIN e a ON a.vec_id = cand.q_id
       |            JOIN e b ON b.vec_id = cand.nbr_id
       |), ranked AS (
       |  SELECT CAST(q_id AS BIGINT) AS vec_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, nbr_id ASC) AS INTEGER) AS rnk,
       |         CAST(nbr_id AS BIGINT) AS nbr_id, CAST(dist AS DOUBLE) AS dist
       |  FROM scored
       |)
       |SELECT vec_id, rnk, nbr_id, dist FROM ranked WHERE rnk <= $k
       |ORDER BY vec_id, rnk""".stripMargin

  /** q22 oracle: the ENTIRE inline IVF pipeline in DuckDB — center
    * training (the q07 farthest-first chain, [[CentersOps.fftChainCte]];
    * valid because the registry's q22 pins sampleFactor high enough
    * that fftSampled's stride is 1 at every fixture scale, where the
    * full-sample selection ≡ fft by the AnnSpec identity), cell
    * assignment (rank-1 nearest center, (dist, cell) tie rule — the
    * fused kernel's pinned heap rule), per-query probe set (the
    * nprobe nearest cells, same ranking), candidate join on shared
    * cells, exact rescore, (dist, nbr) final rank. This retires the
    * last ORACLE-ABLE `no_oracle`: the IVF candidate space is
    * deterministic given the pinned dials, so — like the LSH family in
    * this round — value identity is checkable, not just recall.
    * Requires the registry entry to pin (nlist, nprobe): the unroll
    * count is baked into the SQL string, so a corpus-derived nlist
    * cannot share one static oracle (the derived-dial path stays
    * recall-gated in AnnSpec).
    */
  def ivfOracleSql(k: Int = 5, nlist: Int = 16, nprobe: Int = 8): String =
    s"""WITH ${CentersOps.fftChainCte(nlist)}, fftc AS (
       |  SELECT CAST(0 AS BIGINT) AS cell
       |  ${(2 to nlist).map(i => s"UNION ALL SELECT CAST(vec_id AS BIGINT) FROM c$i").mkString("\n  ")}
       |), cemb AS (
       |  SELECT f.cell, e.emb AS cvec FROM fftc f JOIN e ON e.vec_id = f.cell
       |), cellrank AS (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY dist ASC, cell ASC) AS rn
       |  FROM (SELECT e.vec_id, c.cell,
       |               round(1.0 - list_dot_product(e.emb, c.cvec), 4) + 0.0 AS dist
       |        FROM e, cemb c)
       |), assigned AS (
       |  SELECT vec_id, cell FROM cellrank WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cell FROM cellrank WHERE rn <= $nprobe
       |), cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS nbr_id
       |  FROM probes p JOIN assigned a USING (cell)
       |), scored AS (
       |  SELECT cand.q_id, cand.nbr_id,
       |         round(1.0 - list_dot_product(a.emb, b.emb), 4) + 0.0 AS dist
       |  FROM cand JOIN e a ON a.vec_id = cand.q_id
       |            JOIN e b ON b.vec_id = cand.nbr_id
       |), ranked AS (
       |  SELECT CAST(q_id AS BIGINT) AS vec_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, nbr_id ASC) AS INTEGER) AS rnk,
       |         CAST(nbr_id AS BIGINT) AS nbr_id, CAST(dist AS DOUBLE) AS dist
       |  FROM scored
       |)
       |SELECT vec_id, rnk, nbr_id, dist FROM ranked WHERE rnk <= $k
       |ORDER BY vec_id, rnk""".stripMargin

  /** q50 oracle: the persisted-index MULTIPROBE batch
    * ([[graft.index.AnnIndex.searchLshBatch]] with extraProbes = mp)
    * replayed end-to-end in DuckDB. On top of [[lshCodesSql]]'s chain:
    * per-(query, table) bit margins |dot(q, plane)| (`bitdots` keeps
    * the per-bit dots the corpus `codes` CTE aggregates away), the mp
    * smallest-margin bits ranked by (|dot|, j) — float comparisons on
    * bit-identical doubles, so the ranking cannot diverge — each
    * flipping one code bit of the base bucket (`xor(bucket, 1 << j)`;
    * j < 24 < 32 never touches the table tag), probe = base ∪ flips,
    * candidates = probe × the SAME capped corpus side the index stores,
    * exact rescore, (dist, nbr) tie rule.
    */
  def lshMultiprobeOracleSql(ids: Seq[Long], k: Int = 5, mp: Int = 2): String =
    s"""WITH ${lshCodesSql()}, q AS (
       |  SELECT vec_id, emb FROM e WHERE vec_id IN (${ids.mkString(", ")})
       |), bitdots AS (
       |  SELECT q.vec_id, p.t, p.j, list_dot_product(q.emb, p.pl) AS dot
       |  FROM q, plist p
       |), qcodes AS (
       |  SELECT vec_id, t,
       |         CAST(t AS BIGINT) * 4294967296
       |           + CAST(sum(CASE WHEN dot > 0
       |                           THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM bitdots GROUP BY vec_id, t
       |), flips AS (
       |  SELECT b.vec_id, xor(qc.bucket, CAST(1 AS BIGINT) << b.j) AS bucket
       |  FROM (SELECT vec_id, t, j,
       |               row_number() OVER (PARTITION BY vec_id, t
       |                                  ORDER BY abs(dot) ASC, j ASC) AS rn
       |        FROM bitdots) b
       |  JOIN qcodes qc ON qc.vec_id = b.vec_id AND qc.t = b.t
       |  WHERE b.rn <= $mp
       |), probe AS (
       |  SELECT vec_id, bucket FROM qcodes
       |  UNION
       |  SELECT vec_id, bucket FROM flips
       |), cand AS (
       |  SELECT DISTINCT probe.vec_id AS q_id, x.vec_id AS nbr_id
       |  FROM probe JOIN capped x USING (bucket)
       |), scored AS (
       |  SELECT cand.q_id, cand.nbr_id,
       |         round(1.0 - list_dot_product(a.emb, b.emb), 4) + 0.0 AS dist
       |  FROM cand JOIN e a ON a.vec_id = cand.q_id
       |            JOIN e b ON b.vec_id = cand.nbr_id
       |), ranked AS (
       |  SELECT CAST(q_id AS BIGINT) AS vec_id,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, nbr_id ASC) AS INTEGER) AS rnk,
       |         CAST(nbr_id AS BIGINT) AS nbr_id, CAST(dist AS DOUBLE) AS dist
       |  FROM scored
       |)
       |SELECT vec_id, rnk, nbr_id, dist FROM ranked WHERE rnk <= $k
       |ORDER BY vec_id, rnk""".stripMargin

  /** q48 oracle: [[closestPairLsh]]'s own candidate space, faithfully —
    * NOT the exact closest pair (on the driver fixtures the two
    * coincide; the spec asserts that stronger fact, the oracle stays
    * data-independent).
    */
  def closestPairLshOracleSql: String =
    s"""WITH ${lshCodesSql()}, cand AS (
       |  SELECT DISTINCT LEAST(c.vec_id, x.vec_id) AS i, GREATEST(c.vec_id, x.vec_id) AS j
       |  FROM codes c JOIN capped x USING (bucket)
       |  WHERE c.vec_id <> x.vec_id
       |)
       |SELECT CAST(cand.i AS BIGINT) AS i, CAST(cand.j AS BIGINT) AS j,
       |       CAST(round(1.0 - list_dot_product(a.emb, b.emb), 4) + 0.0 AS DOUBLE) AS dist
       |FROM cand JOIN e a ON a.vec_id = cand.i JOIN e b ON b.vec_id = cand.j
       |ORDER BY dist ASC, i ASC, j ASC LIMIT 1""".stripMargin

  /** q49 oracle: [[nearDupLsh]]'s earliest-cover over the LSH candidate
    * space (∪ self), faithfully.
    */
  def nearDupLshOracleSql(eps: Double = 0.65): String =
    s"""WITH ${lshCodesSql()}, cand AS (
       |  SELECT c.vec_id, x.vec_id AS cand
       |  FROM codes c JOIN capped x USING (bucket)
       |  WHERE x.vec_id < c.vec_id
       |  UNION
       |  SELECT vec_id, vec_id FROM e
       |), within AS (
       |  SELECT cand.vec_id, cand.cand,
       |         round(1.0 - list_dot_product(a.emb, b.emb), 4) + 0.0 AS dist
       |  FROM cand JOIN e a ON a.vec_id = cand.vec_id
       |            JOIN e b ON b.vec_id = cand.cand
       |), f AS (
       |  SELECT vec_id, cand, dist,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cand ASC) AS rn
       |  FROM within WHERE dist <= $eps
       |)
       |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cand AS BIGINT) AS nn,
       |       CAST(dist AS DOUBLE) AS dist
       |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ optimize_index! goals

  /** The reference's optimization-goal family
    * (/root/reference/src/opt.jl:8-18).
    */
  sealed trait OptGoal
  final case class MinRecallGoal(target: Double = 0.9) extends OptGoal
  case object ParetoRecallGoal extends OptGoal
  case object ParetoRadiusGoal extends OptGoal
  final case class OptRadiusGoal(tol: Double = 0.1) extends OptGoal

  /** One evaluated configuration: cost is the normalized probe work
    * (nprobe/nlist — the fraction of cells each query visits, the
    * analogue of `visited.mean / M`), radiusMean the mean covering
    * radius over queries (`radius.mean`).
    */
  final case class IvfConfig(nprobe: Int, recall: Double, cost: Double, radiusMean: Double)

  /** Evaluate the nprobe doubling ladder against the exhaustive gold —
    * the measurement half of `optimize_index!`. Gold is O(n²) here
    * because the fixture is small; at scale, sample the query set (the
    * reference defaults to 64 random queries, opt.jl:148) so gold cost
    * is O(numqueries·n).
    */
  def evalIvfLadder(spark: SparkSession, sfDir: String, k: Int = 5,
      nlist: Int = 16): Seq[IvfConfig] = {
    val gold = VectorOps.allKnn(spark, sfDir, k).cache()
    val ladder = (Iterator.iterate(1)(_ * 2).takeWhile(_ < nlist).toSeq :+ nlist).distinct
    val out = ladder.map { np =>
      val got = annIvf(spark, sfDir, k, nlist, np).cache()
      val r = macrorecall(gold, got, k)
      val radius = got.groupBy("vec_id").agg(max("dist").as("cov"))
        .agg(avg("cov")).head().getDouble(0)
      got.unpersist()
      IvfConfig(np, r, np.toDouble / nlist, radius)
    }
    gold.unpersist()
    out
  }

  /** The goal loss shared by every knob family (IVF nprobe, WAND prune
    * floor, LSH multiprobe, quantization) — the selection half of Q17
    * `optimize_index!` (the reference's opt.jl:139-235), cost functions
    * transcribed once from opt.jl:189-206 (`_kfun(x) = 1 − 1/(1+x)`,
    * opt.jl:94):
    *  - MinRecall: cheapest config with recall ≥ target (configs below
    *    target get loss 1 + (target − recall) — always worse than any
    *    passing config, whose loss = cost ≤ 1);
    *  - ParetoRecall: argmin cost² + (1−recall)²;
    *  - ParetoRadius: argmin kfun(cost) + kfun(radius/maxRadius);
    *  - OptRadius: argmin round(radius/maxRadius/tol), cost tie-break
    *    (the reference's sort_by_best secondary sort, opt.jl:210-218).
    * Ties always break toward the cheaper config ([[chooseBy]]).
    */
  private def goalLoss(goal: OptGoal, recall: Double, cost: Double,
      radius: Double, maxRadius: Double): Double = {
    def kfun(x: Double): Double = 1.0 - 1.0 / (1.0 + x)
    goal match {
      case MinRecallGoal(t) => if (recall < t) 1.0 + (t - recall) else cost
      case ParetoRecallGoal => cost * cost + (1.0 - recall) * (1.0 - recall)
      case ParetoRadiusGoal => kfun(cost) + kfun(radius / maxRadius)
      case OptRadiusGoal(tol) => math.round(radius / maxRadius / tol).toDouble
    }
  }

  /** Pure selection half (separable so one measured ladder can answer
    * several goals without re-running the queries).
    */
  def chooseConfig(configs: Seq[IvfConfig], goal: OptGoal): IvfConfig =
    chooseBy(configs, goal)(c => (c.recall, c.cost, c.radiusMean))

  /** One evaluated quantization rung for the persisted vector-carrying
    * index ([[graft.index.AnnIndex]] `quantLevels`): `levels` the
    * SQMinC step count (0 = f64 payload), cost = stored bits per
    * component / 64 — the storage fraction this dial actually trades —
    * recall measured at EXHAUSTIVE probe so it isolates pure
    * quantization error from the probing error the nprobe tuner owns
    * (orthogonal dials, tuned independently like the reference's
    * separable search-space axes, /root/reference/src/opt.jl:38-57).
    */
  final case class QuantConfig(levels: Int, recall: Double, cost: Double,
      radiusMean: Double)

  def chooseQuant(configs: Seq[QuantConfig], goal: OptGoal): QuantConfig =
    chooseBy(configs, goal)(c => (c.recall, c.cost, c.radiusMean))

  /** The selection rule ONCE, for every tuner's config type: minimize
    * (goal loss, cost) over the measured (recall, cost, radiusMean)
    * ladder — the IVF, pruning-floor, and quantization tuners must
    * never drift apart on tie-breaks.
    */
  private def chooseBy[C](configs: Seq[C], goal: OptGoal)(
      m: C => (Double, Double, Double)): C = {
    val maxRadius = configs.map(m(_)._3).max
    configs.minBy { c =>
      val (recall, cost, radius) = m(c)
      (goalLoss(goal, recall, cost, radius, maxRadius), cost)
    }
  }

  // -------------------------------------- optimize_index! on the PRIMARY index

  /** One evaluated WAND static-pruning configuration ([[FloorConfig]] ≡
    * [[IvfConfig]] for the inverted index): `floor` the `pruneTfnFloor`
    * dial, cost = the surviving postings FRACTION vs the exact index
    * (the work every WAND query scales with), radiusMean = mean over
    * queries of the negated k-th best score (smaller = a tighter
    * covering "radius", the BM25 dual of the reference's
    * `radius.mean`).
    */
  final case class FloorConfig(floor: Double, recall: Double, cost: Double,
      radiusMean: Double)

  def chooseFloor(configs: Seq[FloorConfig], goal: OptGoal): FloorConfig =
    chooseBy(configs, goal)(c => (c.recall, c.cost, c.radiusMean))

  /** Measure the [[FloorConfig]] ladder: build a pruned index per floor
    * (floor ≤ 0 = the exact index), run the fixed query set through
    * Block-Max WAND, and score macrorecall against the EXACT exhaustive
    * BM25 scorer — the reference's tuner loop shape
    * (/root/reference/src/opt.jl:139-235 probing BeamSearchSpace
    * configs against gold, /root/reference/src/searchgraph/optbs.jl:10-32),
    * applied to OUR primary index's knob. Build-side sweep: the dial is
    * a build-time filter, so the ladder builds |floors| throwaway
    * fixture-scale indexes (at production scale the tuner would sweep
    * on a bounded corpus sample, like [[CentersOps.fftSampled]]).
    */
  def evalPruneLadder(spark: SparkSession, sfDir: String,
      floors: Seq[Double] = Seq(0.0, 0.8, 1.05, 1.3),
      k: Int = graft.queries.QuerySet.K): Seq[FloorConfig] = {
    import graft.index.{IndexBuilder, Wand}
    val gold = graft.operators.ExactSearch.topK(spark, sfDir, k)
      .select(col("query_id").cast("long").as("vec_id"), col("doc_id").as("nbr_id"))
      .cache()
    gold.count()
    val queries = graft.queries.QuerySet.queries.map(q => q.copy(k = k))
    val measured = floors.map { floor =>
      val dir = java.nio.file.Files.createTempDirectory("graft-tune-floor-").toString
      IndexBuilder.build(spark, sfDir, dir, numShards = 4,
        pruneTfnFloor = if (floor > 0) Some(floor) else None)
      val hits = Wand.topK(spark, dir, Seq(1L), queries)
      val recall = macrorecall(gold,
        hits.select(col("query_id").cast("long").as("vec_id"),
          col("doc_id").as("nbr_id")), k)
      // covering radius: mean over queries of the NEGATED k-th best
      // score (max-score ≡ min-distance bridge)
      val radius = hits.groupBy("query_id").agg(min("score").as("kth"))
        .agg(avg(-col("kth"))).head().getDouble(0)
      // absolute surviving postings (df summed over the sealed index)
      val postings = spark.read.schema(IndexBuilder.Schemas.termstats)
        .parquet(IndexBuilder.IndexPaths(dir).termstats(1L))
        .agg(sum("df")).head().getLong(0)
      graft.operators.StreamingOps.deleteRec(dir)
      Wand.release(dir)
      (floor, recall, radius, postings)
    }
    gold.unpersist()
    val exactPostings = measured.map(_._4).max.toDouble
    measured.map { case (f, r, rad, p) => FloorConfig(f, r, p / exactPostings, rad) }
  }

  /** Q17 `optimize_index!` completed on the index that actually matters
    * (the VERDICT r3 gap): pick the cheapest `pruneTfnFloor` whose WAND
    * results keep macrorecall ≥ target vs the exact scorer. Returns the
    * chosen config plus the measured ladder (for frontier assertions).
    */
  def tunedPrunedIndex(spark: SparkSession, sfDir: String,
      floors: Seq[Double] = Seq(0.0, 0.8, 1.05, 1.3),
      k: Int = graft.queries.QuerySet.K, target: Double = 0.9)
      : (FloorConfig, Seq[FloorConfig]) = {
    val ladder = evalPruneLadder(spark, sfDir, floors, k)
    (chooseFloor(ladder, MinRecallGoal(target)), ladder)
  }

  /** `optimize_index!` with a `MinRecall` goal and EARLY EXIT: probe
    * the ladder (nprobe doubling) against the exhaustive gold until
    * macrorecall ≥ target, then answer with the cheapest passing
    * configuration. Returns (nprobe, recall, result rows).
    */
  def tunedIvf(spark: SparkSession, sfDir: String, k: Int = 5, nlist: Int = 16,
      target: Double = 0.9): (Int, Double, DataFrame) = {
    val gold = VectorOps.allKnn(spark, sfDir, k)
    var nprobe = 1
    while (nprobe < nlist) {
      val got = annIvf(spark, sfDir, k, nlist, nprobe)
      val r = macrorecall(gold, got, k)
      if (r >= target) return (nprobe, r, got)
      nprobe *= 2
    }
    val got = annIvf(spark, sfDir, k, nlist, nlist)
    (nlist, macrorecall(gold, got, k), got)
  }

  /** Q18 `macrorecall` (/root/reference/src/perf.jl:26-34): mean over
    * queries of |gold ∩ result| / k between two (vec_id, nbr_id)
    * result sets.
    */
  def macrorecall(gold: DataFrame, got: DataFrame, k: Int): Double = {
    val inter = gold.select("vec_id", "nbr_id")
      .intersect(got.select("vec_id", "nbr_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("hits"))
    val perQuery = gold.select("vec_id").distinct()
      .join(inter, Seq("vec_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).as("hits"))
    perQuery.agg(avg(col("hits") / k.toDouble)).head().getDouble(0)
  }

  /** Registry form: recall of rerank (two-phase) vs exact allknn gold —
    * fully SQL-expressible on both sides, so it carries a DuckDB
    * oracle; the ANN specs reuse [[macrorecall]] against the same gold.
    */
  def recallReport(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val gold = VectorOps.allKnn(spark, sfDir, k)
    val rr = VectorOps.rerank(spark, sfDir, k1 = 20, k = k)
    val inter = gold.select("vec_id", "nbr_id")
      .intersect(rr.select("vec_id", "nbr_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("hits"))
    gold.select("vec_id").distinct()
      .join(inter, Seq("vec_id"), "left")
      .agg(round(avg(coalesce(col("hits"), lit(0L)) / k.toDouble), 4).as("macrorecall"))
      .select(col("macrorecall").cast("double"))
  }

  def recallReportOracleSql(k: Int = 5): String =
    s"""WITH ${VectorOps.rerankPairsCteSql}, gold AS (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, nbr_id ASC) AS rnk
       |    FROM cheap) WHERE rnk <= $k
       |), c1 AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cheap_dist ASC, nbr_id ASC) AS rn
       |  FROM cheap
       |), rr AS (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, nbr_id ASC) AS rnk
       |    FROM c1 WHERE rn <= 20) WHERE rnk <= $k
       |), hits AS (
       |  SELECT g.vec_id, count(*) AS h
       |  FROM gold g JOIN rr ON g.vec_id = rr.vec_id AND g.nbr_id = rr.nbr_id
       |  GROUP BY g.vec_id
       |)
       |SELECT CAST(round(avg(COALESCE(h.h, 0) / ${k.toDouble}), 4) AS DOUBLE) AS macrorecall
       |FROM (SELECT DISTINCT vec_id FROM gold) q LEFT JOIN hits h USING (vec_id)""".stripMargin
}
