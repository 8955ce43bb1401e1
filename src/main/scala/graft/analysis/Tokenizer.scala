package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deterministic tokenization — the per-row invariant of the north rule
  * ("tokenization determinism"): same input bytes → identical term
  * sequence on every run, partitioning, and engine.
  *
  * The rule is intentionally minimal and frozen: lowercase, split on
  * runs of ASCII space, drop empty tokens. It is expressed with Spark
  * built-ins only (codegen'd, no UDF) and mirrored exactly by the
  * DuckDB oracle fragment [[duckdbTokensSql]]. The reference has no
  * tokenizer (objects are vectors); this is the analogue of its fixed
  * `eltype` contract (/root/reference/src/db/db.jl:26) — the "schema"
  * of a document is its token sequence.
  */
object Tokenizer {

  /** Token array column from a text column. */
  def tokensCol(text: Column): Column =
    filter(split(lowerCase(text), " "), t => t =!= lit(""))

  /** `lower`, with valid all-ASCII rows mapped by a plain A–Z
    * `translate`. Spark's `lower` goes through ICU case mapping, whose
    * first use in a JVM costs about a second of class and data
    * loading; ASCII needs none of it. Every other row keeps `lower`:
    * an invalid byte counts as one byte and one char, so the length
    * test alone would let `lower` miss replacing it.
    */
  private def lowerCase(text: Column): Column =
    when(is_valid_utf8(text) && octet_length(text) === length(text),
      translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"))
      .otherwise(lower(text))

  /** One document's distinct terms in ascending order with their
    * counts, and its length `dl` (tokens, repeats included).
    */
  final case class DocTerms(doc_id: Long, dl: Int, terms: Array[String], tfs: Array[Long])

  /** Count a document's terms inside its own row. A null token array
    * (null text) is an empty document.
    */
  private def countTerms(docId: Long, toks: Array[String]): DocTerms = {
    val sorted = if (toks == null) Array.empty[String] else toks.sorted
    val terms = Array.newBuilder[String]
    val tfs = Array.newBuilder[Long]
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      terms += sorted(i); tfs += (j - i).toLong
      i = j
    }
    DocTerms(docId, sorted.length, terms.result(), tfs.result())
  }

  /** (doc_id, text) → one [[DocTerms]] per document, documents with no
    * token included: one tokenize, and no shuffle, since a document is
    * one row.
    */
  def docTerms(docs: DataFrame): Dataset[DocTerms] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), tokensCol(col("text")))
      .as[(Long, Array[String])]
      .map { case (id, toks) => countTerms(id, toks) }
  }

  /** (doc_id, dl, term, tf), counted per document row ([[docTerms]]),
    * so no exchange. A document's terms come out in ascending order, so
    * a per-(query, doc) sum over them adds in one fixed order.
    */
  def termFrequencies(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docTerms(docs)
      .flatMap(d => d.terms.indices.map(i => (d.doc_id, d.dl, d.terms(i), d.tfs(i))))
      .toDF("doc_id", "dl", "term", "tf")
  }

  /** DuckDB fragment producing (doc_id, term) rows from `documents`. */
  val duckdbTokensSql: String =
    "SELECT doc_id, t.term FROM documents, " +
      "unnest(string_split(lower(text), ' ')) AS t(term) WHERE t.term <> ''"
}
