package graft

import graft.operators.StreamingOps
import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The dev-tool commands run on a caller's session and leave it open. */
class ProbeSpec extends AnyFunSuite {

  private def run(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(TestSpark.spark, args.toArray))
    assert(!TestSpark.spark.sparkContext.isStopped, "Probe stopped the caller's session")
    out.toString("UTF-8")
  }

  private def nonEmpty(dir: String, file: String): Boolean = {
    val p = Paths.get(dir, file)
    Files.isRegularFile(p) && Files.size(p) > 0
  }

  test("time, plans and dump run on the shared session") {
    val printed = run("time", TestSpark.Sf0001, "q01_bm25_exact", "1")
    assert(printed.contains("[time] q01_bm25_exact x1 rep1:"), printed)
    assert(printed.contains("min:"), printed)

    val out = Files.createTempDirectory("graft-probe-out-").toString
    try {
      run("plans", TestSpark.Sf0001, out, "t", "q01_bm25_exact")
      Seq("q01_bm25_exact", "wand_load_postings", "wand_load_norms", "wand_load_term_shards",
          "wand_load_termstats", "wand_load_hints", "q44_search_inner", "q45_search_inner", "q47_search_inner").foreach { p =>
        assert(nonEmpty(out, s"${p}_t.txt"), s"missing plan $p")
      }
      assert(!Files.readString(Paths.get(out, "q01_bm25_exact_t.txt")).startsWith("EXPLAIN FAILED"))

      run("dump", TestSpark.Sf0001, "q01_bm25_exact", out)
      assert(nonEmpty(out, "q01_bm25_exact.sql"))
      assert(TestSpark.spark.read.parquet(s"$out/q01_bm25_exact").count() > 0)
    } finally StreamingOps.deleteRec(out)
    intercept[IllegalArgumentException](run("nope"))
  }
}
