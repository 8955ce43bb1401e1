package graft

import graft.corpus.{Corpus, Extractor}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Extractor determinism — the north rule's per-row invariant
  * ("byte-identical extracted text per url"): golden html fixtures
  * (entities, multibyte, empty body, nested markup) plus the full
  * corpus round-trip pages→extract == documents.text at sf0.001.
  */
class CorpusSpec extends AnyFunSuite {

  private def html(body: String): Array[Byte] =
    s"<html><head><title>t</title></head><body><p>$body</p></body></html>".getBytes(UTF_8)

  test("golden extraction bytes: entities, multibyte, empty, markup-ish content") {
    val cases = Seq(
      "plain words here" -> "plain words here",
      "a &amp; b &lt;tag&gt; c" -> "a & b <tag> c",
      "" -> "",
      "múlti-byte ümlaut 中文 😀" -> "múlti-byte ümlaut 中文 😀",
      "&lt;p&gt;nested&lt;/p&gt;" -> "<p>nested</p>",
      "ampersand first: &amp;lt; stays" -> "ampersand first: &lt; stays",
      "trailing space " -> "trailing space ",
      " two  spaces" -> " two  spaces"
    )
    for ((in, want) <- cases) {
      val got = Extractor.extractText(html(in))
      assert(got == want, s"extract(<p>$in</p>)")
      assert(got.getBytes(UTF_8).toSeq == want.getBytes(UTF_8).toSeq, "byte-identical")
    }
    // no <p> block at all → empty
    assert(Extractor.extractText("<html><body>x</body></html>".getBytes(UTF_8)) == "")
  }

  test("escape/unescape are inverse on the corpus charset and on special chars") {
    val s = "a<b & c>d &amp; já"
    assert(Extractor.unescape(
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")) == s)
  }

  test("pages derivation: extract(html) is byte-identical to documents.text (sf0.001)") {
    val spark = TestSpark.spark
    val pages = Corpus.pages(spark, TestSpark.Sf0001)
    // JVM extractor over html column vs carried text column
    val viaJvm = pages.select(col("url"), col("html"), col("text")).collect()
    assert(viaJvm.length == 500)
    viaJvm.foreach { r =>
      val got = Extractor.extractText(r.getAs[Array[Byte]]("html"))
      assert(got == r.getAs[String]("text"), s"jvm extract mismatch at ${r.getAs[String]("url")}")
    }
    // column-form extractor agrees too
    val colMismatch = pages
      .select(Extractor.extractTextCol(col("html")).as("got"), col("text"))
      .filter(col("got") =!= col("text"))
      .count()
    assert(colMismatch == 0, "column extractor mismatch")
  }

  test("pages derivation is deterministic across evaluations") {
    val spark = TestSpark.spark
    val a = Corpus.pages(spark, TestSpark.Sf0001)
      .select("url", "warc_ts").orderBy("url").collect().toSeq
    val b = Corpus.pages(spark, TestSpark.Sf0001)
      .select("url", "warc_ts").orderBy("url").collect().toSeq
    assert(a == b)
  }

  test("a corpus schema is inferred once per file set; an in-place rewrite re-infers") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-").toString
    val table = s"$dir/documents.parquet"
    try {
      Seq((1L, "a b")).toDF("doc_id", "text").write.parquet(table)
      Corpus.documents(spark, dir)
      val (cols, jobs) = TestSpark.withJobCount(Corpus.documents(spark, dir).columns.toSeq)
      assert(jobs == 0, s"a second read of an unchanged corpus ran $jobs jobs")
      assert(cols == Seq("doc_id", "text"))
      Seq((2L, "en")).toDF("doc_id", "lang").write.mode("overwrite").parquet(table)
      val again = Corpus.documents(spark, dir)
      assert(again.columns.toSeq == Seq("doc_id", "lang"))
      assert(again.as[(Long, String)].collect().toSeq == Seq((2L, "en")))
    } finally graft.operators.StreamingOps.deleteRec(dir)
  }
}
