package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Corpus access + the north-rule page shape.
  *
  * The physical fixture is the driver-generated `documents` parquet
  * (doc_id, text, lang, source, n_chars). The north rule's input is an
  * Iceberg-style table of web pages (url, warc_ts, html, text, lang);
  * [[pages]] derives that shape deterministically from `documents`
  * (pure function of the row — no wall clock, no RNG), and
  * [[Extractor.extractText]] inverts the html wrapping byte-identically,
  * which is the per-row invariant the north rule demands
  * ("byte-identical extracted text per url"). Golden-byte fixtures pin
  * the extractor in ExtractorSpec.
  */
object Corpus {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, s"$sfDir/embeddings.parquet")

  /** The schema Parquet infers for a table path. Inference starts a
    * Spark job, so it runs once per file set; a rewrite in place
    * infers again.
    */
  private val schemas = new graft.index.IndexBuilder.ListingMemo[StructType]

  /** A parquet table read with its memoized inferred schema. Being the
    * files' own schema, it fails on a file set that lacks a column
    * exactly where an inferring read fails.
    */
  private def table(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas(spark, path)(spark.read.parquet(path).schema)).parquet(path)

  /** Fixed epoch for warc_ts: 2026-01-01T00:00:00Z + doc_id seconds. */
  val WarcEpochSeconds: Long = 1767225600L

  /** Derive the north-rule page table from `documents`. html is real
    * UTF-8 markup (title, entity-escaped body) so the extractor has
    * something genuine to strip. `extraBody` (default empty) is spliced
    * in AFTER the closing `</p>` — [[Extractor.extractText]] reads up
    * to the LAST `</p>`, so callers adding nav/footer markup there
    * ([[graft.operators.LinkOps.pagesLinked]]) must not include a
    * literal `</p>` in it (the link nav doesn't).
    */
  def pages(spark: SparkSession, sfDir: String,
            extraBody: org.apache.spark.sql.Column = lit("")): DataFrame = {
    val docs = documents(spark, sfDir)
    val escaped = Extractor.escapeCol(col("text"))
    docs.select(
      concat(lit("https://host"), pmod(col("doc_id"), lit(10)),
        lit(".example/p"), col("doc_id")).as("url"),
      timestamp_seconds(lit(WarcEpochSeconds) + col("doc_id")).as("warc_ts"),
      encode(
        concat(
          lit("<html><head><title>doc "), col("doc_id"),
          lit("</title></head><body><p>"), escaped,
          lit("</p>"), extraBody, lit("</body></html>")),
        "UTF-8").as("html"),
      col("text"),
      col("lang"))
  }
}

/** Deterministic text extractor: html bytes → extracted text.
  * Specified once, frozen by golden bytes (test resources). Pure
  * function; usable inside typed Dataset ops and as a column (built-in
  * regexp functions — codegen'd, no UDF needed for the column form).
  */
object Extractor {

  /** Entity-escape for page synthesis (column form, built-ins only). */
  def escapeCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val amp = regexp_replace(text, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    regexp_replace(lt, ">", "&gt;")
  }

  /** JVM-side extraction: body-paragraph content, entities unescaped.
    * Byte-identical across runs: pure string ops, no locale, no clock.
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val start = s.indexOf("<p>")
    val end = s.lastIndexOf("</p>")
    val body = if (start >= 0 && end > start) s.substring(start + 3, end) else ""
    unescape(body)
  }

  def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  /** Column form of [[extractText]] with Spark built-ins only:
    * regexp_extract the paragraph, then unescape.
    */
  def extractTextCol(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = decode(html, "UTF-8")
    val body = regexp_extract(s, "(?s)<p>(.*)</p>", 1)
    val gt = regexp_replace(regexp_replace(body, "&lt;", "<"), "&gt;", ">")
    regexp_replace(gt, "&amp;", "&")
  }
}
