package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded input generators. Every row is a pure function of
  * (seed, row index): the same seed writes byte-identical parquet
  * whatever the core count, and a near duplicate can re-derive the text
  * of the document it copies without holding the corpus in memory.
  */
object Gen {

  /** Token counts per document. */
  sealed trait Lengths { def draw(rng: SplittableRandom): Int }

  /** Log-normal with this median, clipped to [min, max]. */
  final case class LogNormal(median: Double, sigma: Double, min: Int, max: Int) extends Lengths {
    def draw(rng: SplittableRandom): Int =
      math.max(min, math.min(max, math.round(median * StrictMath.exp(sigma * gaussian(rng))).toInt))
  }

  /** Uniform over [min, max]. */
  final case class Uniform(min: Int, max: Int) extends Lengths {
    def draw(rng: SplittableRandom): Int = min + rng.nextInt(max - min + 1)
  }

  /** Shape of a text corpus in the engine's `documents` schema
    * (doc_id, text, lang, source, n_chars): terms are Zipf(s) over a
    * closed vocabulary of `vocab` synthetic words (s = 0 is uniform).
    * A share of documents are planted copies of an original document:
    * exact copies, and near copies that append the [[Marker]] token.
    */
  final case class TextSpec(docs: Int, vocab: Int, zipfS: Double, lengths: Lengths,
      exactDupShare: Double = 0.0, nearDupShare: Double = 0.0)

  /** The token a near copy appends, as the sf0.1 fixture corpus marks
    * its planted near duplicates.
    */
  val Marker = "dup"

  /** Clustered vectors in the engine's `embeddings` schema
    * (vec_id, embedding array<float>, label).
    */
  final case class VecSpec(n: Int, dim: Int, clusters: Int, spread: Double,
      dupShare: Double = 0.0, dupNoise: Double = 0.01)

  private val Syllables = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
    "vu", "ze", "ba", "de", "fo", "gi", "hu", "ja", "ke", "lu", "mo", "ni")

  /** The word of Zipf rank `r` (0 = most frequent): distinct per rank,
    * lowercase, no spaces, so the engine's tokenizer keeps it whole.
    */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var x = r
    var n = 0
    while (x > 0 || n < 2) { sb.append(Syllables(x % 20)); x /= 20; n += 1 }
    sb.toString
  }

  def zipfCdf(vocab: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / StrictMath.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def rank(cdf: Array[Double], u: Double): Int = {
    val p = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (p >= 0) p else -(p + 1))
  }

  /** splitmix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  private def baseTokens(spec: TextSpec, cdf: Array[Double], seed: Long,
      i: Long): Array[String] = {
    val rng = new SplittableRandom(mix(seed, 1, i))
    Array.fill(spec.lengths.draw(rng))(word(rank(cdf, rng.nextDouble())))
  }

  private def isCopy(spec: TextSpec, seed: Long, i: Long): Boolean =
    i > 0 && new SplittableRandom(mix(seed, 2, i)).nextDouble() < spec.exactDupShare + spec.nearDupShare

  /** What document `i` is: None for an original draw, else the kind of
    * planted copy ("exact" or "near") and the original it copies, drawn
    * uniformly from the corpus as in the fixture.
    */
  def planted(spec: TextSpec, seed: Long, i: Long): Option[(String, Long)] =
    if (!isCopy(spec, seed, i)) None
    else {
      val rng = new SplittableRandom(mix(seed, 2, i))
      val u = rng.nextDouble()
      var src = rng.nextLong(spec.docs)
      while (isCopy(spec, seed, src)) src = rng.nextLong(spec.docs)
      Some((if (u < spec.exactDupShare) "exact" else "near", src))
    }

  /** Tokens of document `i`. */
  def docTokens(spec: TextSpec, cdf: Array[Double], seed: Long, i: Long): Array[String] =
    planted(spec, seed, i) match {
      case None => baseTokens(spec, cdf, seed, i)
      case Some(("exact", src)) => baseTokens(spec, cdf, seed, src)
      case Some((_, src)) => baseTokens(spec, cdf, seed, src) :+ Marker
    }

  /** Standard normal from two uniforms (Box–Muller). The generators use
    * StrictMath, which is bit-reproducible; Math's intrinsics may differ
    * by an ulp between interpreted and compiled code, and so between JVMs.
    */
  def gaussian(rng: SplittableRandom): Double = {
    val u1 = math.max(rng.nextDouble(), 1e-300)
    StrictMath.sqrt(-2.0 * StrictMath.log(u1)) * StrictMath.cos(2.0 * math.Pi * rng.nextDouble())
  }

  def docRow(spec: TextSpec, cdf: Array[Double], seed: Long, i: Long)
      : (Long, String, String, String, Long) = {
    val text = docTokens(spec, cdf, seed, i).mkString(" ")
    val rng = new SplittableRandom(mix(seed, 3, i))
    (i, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
  }

  /** Write `documents.parquet` under `dir`, generated in parallel over
    * `files` contiguous doc-id ranges (one parquet file each).
    */
  def writeDocs(spark: SparkSession, spec: TextSpec, seed: Long, dir: String,
      files: Int): Unit = {
    import spark.implicits._
    val cdf = spark.sparkContext.broadcast(zipfCdf(spec.vocab, spec.zipfS))
    spark.range(0, spec.docs, 1, files).as[Long]
      .map(i => docRow(spec, cdf.value, seed, i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    cdf.destroy()
  }

  def centers(spec: VecSpec, seed: Long): Array[Array[Double]] = {
    val rng = new SplittableRandom(mix(seed, 4, 0))
    Array.fill(spec.clusters, spec.dim)(gaussian(rng))
  }

  private def baseVec(spec: VecSpec, cents: Array[Array[Double]], seed: Long, i: Long)
      : (Array[Double], Int) = {
    val rng = new SplittableRandom(mix(seed, 5, i))
    val c = rng.nextInt(spec.clusters)
    (cents(c).map(x => x + spec.spread * gaussian(rng)), c)
  }

  /** Vector `i`: a draw around a random center, or (share `dupShare`)
    * a planted near copy of an earlier vector.
    */
  def vecRow(spec: VecSpec, cents: Array[Array[Double]], seed: Long, i: Long)
      : (Long, Array[Float], Int) = {
    val rng = new SplittableRandom(mix(seed, 6, i))
    val (v, c) =
      if (i > 0 && rng.nextDouble() < spec.dupShare) {
        val (src, c) = baseVec(spec, cents, seed, rng.nextLong(i))
        (src.map(_ + spec.dupNoise * gaussian(rng)), c)
      } else baseVec(spec, cents, seed, i)
    (i, v.map(_.toFloat), c)
  }

  def writeVecs(spark: SparkSession, spec: VecSpec, seed: Long, dir: String,
      files: Int): Unit = {
    import spark.implicits._
    val cents = centers(spec, seed)
    spark.range(0, spec.n, 1, files).as[Long]
      .map(i => vecRow(spec, cents, seed, i))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** SHA-256 over the parquet part files' bytes, in part order — the
    * byte-identity witness of a seeded input within one JVM (file names
    * carry a random job id, contents do not). Across JVMs the bytes can
    * differ in one place: parquet-mr writes each column's encoding list
    * from a hash set of enums, whose order follows identity hashes.
    * [[contentDigest]] is the cross-JVM witness.
    */
  def digest(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val parts = try walk.iterator().asScala.toSeq finally walk.close()
    parts.filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(p => p.getParent.toString + "/" + p.getFileName.toString.take(10))
      .foreach(p => md.update(java.nio.file.Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** SHA-256 over the decoded rows in `key` order: equal for equal
    * seeds in any JVM.
    */
  def contentDigest(spark: SparkSession, path: String, key: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    spark.read.parquet(path).orderBy(key).collect()
      .foreach(r => md.update(r.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Measured properties of a generated text corpus, from one collect
    * and the engine's tokenization rule applied in the driver.
    */
  def textProps(spark: SparkSession, dir: String, headRanks: Int): Map[String, Any] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), graft.analysis.Tokenizer.tokensCol(col("text")), col("lang"), col("source"))
      .collect()
    val df = docs.flatMap(_.getSeq[String](1).distinct).groupMapReduce(identity)(_ => 1L)(_ + _)
      .values.toArray.sorted(Ordering[Long].reverse)
    val n = docs.length
    val head = df.take(headRanks)
    val tail = df.drop(headRanks)
    val lens = docs.map(_.getSeq[String](1).size.toDouble).toSeq
    Map("docs" -> n, "distinct_terms" -> df.length,
      "tokens" -> lens.sum.toLong,
      "tokens_per_doc" -> Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0)
        .map(q => f"p${(q * 100).round}%d" -> Stats.quantile(lens, q)).toMap,
      "langs" -> docs.map(_.getString(2)).distinct.length,
      "sources" -> docs.map(_.getString(3)).distinct.length,
      "head_terms" -> head.length,
      "head_df_median" -> Stats.median(head.map(_.toDouble).toSeq),
      "tail_df_median" -> Stats.median(tail.map(_.toDouble).toSeq),
      "duplicate_text_share" -> (n - docs.map(_.getString(0)).distinct.length).toDouble / n)
  }

  /** Measured duplicates of a generated corpus, read back from the
    * parquet: each planted near copy's Jaccard similarity to its
    * original over distinct 3-token shingles (the `TextOps` shingles),
    * and the share of documents that are near copies at 0.5 <= J < 1.
    */
  def dupProps(spark: SparkSession, spec: TextSpec, seed: Long, dir: String): Map[String, Any] = {
    val text = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val copies = text.keys.toSeq.sorted.flatMap(i => planted(spec, seed, i).map(i -> _))
    val near = copies.collect { case (i, ("near", src)) =>
      val (a, b) = (shingles(text(i)), shingles(text(src)))
      (a & b).size.toDouble / (a | b).size
    }
    val n = text.size.toDouble
    Map("planted_exact_dup_share" -> copies.count(_._2._1 == "exact") / n,
      "planted_near_dup_share" -> near.size / n,
      "near_dup_share" -> near.count(j => j >= 0.5 && j < 1.0) / n,
      "near_dup_jaccard" -> Seq(0.0, 0.05, 0.25, 0.5, 0.75, 1.0)
        .map(q => f"p${(q * 100).round}%d" -> Stats.quantile(near, q)).toMap)
  }
}
