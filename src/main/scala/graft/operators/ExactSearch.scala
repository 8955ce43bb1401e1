package graft.operators

import graft.analysis.Tokenizer
import graft.functions.BM25
import graft.queries.QuerySet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exhaustive BM25 top-k — the ground-truth scorer, the analogue of the
  * reference's `ExhaustiveSearch.search` full scan
  * (/root/reference/src/sequential-exhaustive.jl:57-69) which its own
  * tests use as gold (/root/reference/test/testsearchgraph.jl:24).
  *
  * Shape of the plan (scale notes in line):
  *   documents scan (doc_id, text only → column pruning)
  *   → tf and dl counted inside each document's row (no shuffle)
  *   → broadcast-join the tiny (query_id, term) side
  *   → broadcast-join per-term df + 1-row corpus stats
  *   → groupBy(query_id, doc_id).sum(contrib)   [shuffle 1: scoring]
  *   → per-query top-k                          [shuffle 2: tiny]
  *
  * At 10^12 docs the scoring shuffle is a map-side-combined hash
  * aggregation keyed by a high-cardinality key (no skew:
  * (query_id,doc_id) is near-unique); the query side and term
  * stats are broadcast, so no shuffle scales with m. This path is the
  * correctness oracle; the throughput path is Block-Max WAND over
  * sealed segments (graft.index.Wand).
  */
object ExactSearch {

  /** (doc_id, dl, term, tf) term frequencies of the corpus. */
  def termFreqs(spark: SparkSession, sfDir: String): DataFrame =
    Tokenizer.termFrequencies(
      graft.corpus.Corpus.documents(spark, sfDir).select("doc_id", "text"))

  /** Per-term document frequency over the whole corpus. */
  def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /** 1-row (n_docs, avgdl) — from the doc table directly (no shuffle:
    * partial+final agg of size(tokens)).
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    graft.corpus.Corpus.documents(spark, sfDir)
      .select(size(Tokenizer.tokensCol(col("text"))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))

  /** Scored (query_id, doc_id, score) before top-k truncation; score
    * already rounded to the output grid. A document's contributions
    * reach the sum in its term order ([[Tokenizer.termFrequencies]]).
    */
  def scoreAll(spark: SparkSession, sfDir: String, queryTerms: DataFrame): DataFrame = {
    val tf = termFreqs(spark, sfDir)
    val df = docFreqs(tf)
    val stats = corpusStats(spark, sfDir)
    val contrib = tf
      .join(broadcast(queryTerms), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(
        col("query_id"), col("doc_id"),
        BM25.contributionCol(
          col("tf"), col("dl"), col("avgdl"),
          BM25.idfCol(col("n_docs"), col("df"))).as("contrib"))
    contrib
      .groupBy("query_id", "doc_id")
      .agg(BM25.roundScoreCol(sum("contrib")).as("score"))
  }

  /** Default query-terms DataFrame from the fixed [[QuerySet]]. */
  def defaultQueryTerms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    QuerySet.flatTerms.toDF("query_id", "term")
  }

  /** Full exact top-k: (query_id, rnk, doc_id, score), rank 1..k by
    * (score DESC, doc_id ASC). Window form — the reference
    * implementation of top-k (SURVEY.md §2.5); the Aggregator form
    * (TopKSearch) is the partial/final-merge fast path.
    */
  def topK(spark: SparkSession, sfDir: String, k: Int = QuerySet.K,
      queryTerms: DataFrame = null): DataFrame = {
    val qt = Option(queryTerms).getOrElse(defaultQueryTerms(spark))
    val scored = scoreAll(spark, sfDir, qt)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("query_id").cast("int"),
        col("rnk").cast("int"),
        col("doc_id").cast("long"),
        col("score").cast("double"))
      .orderBy("query_id", "rnk")
  }

  /** DuckDB oracle SQL computing the identical result over the same
    * parquet `documents` table (validated locally in round 1 before
    * shipping — see scripts/check_oracle.py).
    */
  def oracleSql(k: Int = QuerySet.K, docWhere: String = "TRUE"): String = {
    val contribution = BM25.duckdbContributionSql(
      tf = "tf.tf", dl = "dl.dl", avgdl = "stats.avgdl", n = "stats.n_docs", df = "df.df")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
       |  WHERE $docWhere
       |), tok2 AS (
       |  SELECT doc_id, term FROM tok WHERE term <> ''
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok2 GROUP BY doc_id, term
       |), dl AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok2 GROUP BY doc_id
       |), stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
       |), df AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
       |), q AS (
       |  SELECT * FROM ${QuerySet.duckdbValuesSql}
       |), scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |         round(sum($contribution), ${BM25.SCALE}) AS score
       |  FROM q
       |  JOIN tf ON q.term = tf.term
       |  JOIN df ON q.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats
       |  GROUP BY q.query_id, tf.doc_id
       |), ranked AS (
       |  SELECT CAST(query_id AS INTEGER) AS query_id,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rnk,
       |         CAST(doc_id AS BIGINT) AS doc_id,
       |         CAST(score AS DOUBLE) AS score
       |  FROM scored
       |)
       |SELECT query_id, rnk, doc_id, score FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }
}
