package graft

import graft.core.Types.{QueryHit, TermQuery}
import graft.index.{IndexBuilder, Wand}
import graft.operators.{ExactSearch, StreamingOps}
import org.apache.spark.sql.Encoders
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Rank-identity of the Block-Max WAND fast path against the
  * exhaustive scorer — the reference's recall-vs-gold harness
  * (/root/reference/test/testsearchgraph.jl:44-71) tightened to full
  * (query_id, rnk, doc_id, score) equality, since exact block maxima
  * make WAND rank-exact (SURVEY.md §7.3).
  */
class WandSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long, Double)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** Temp dirs this suite creates; deleted (and their resident entries
    * released) once it ends.
    */
  private val dirs = ArrayBuffer.empty[String]
  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    dirs += d
    d
  }
  override def afterAll(): Unit = {
    dirs.foreach(Wand.release)
    StreamingOps.deleteRec(dirs.toSeq: _*)
  }

  private lazy val indexDir: String = {
    val d = tmp("graft-wand-")
    IndexBuilder.build(TestSpark.spark, TestSpark.Sf0001, d, numShards = 4)
    d
  }

  /** Exact top-k of `qs` (each at its own k) over the corpus in `sfDir`. */
  private def exactRows(sfDir: String, qs: Seq[TermQuery]): Seq[(Int, Int, Long, Double)] = {
    val spark = TestSpark.spark
    import spark.implicits._
    val kById = qs.map(q => q.query_id -> q.k).toMap
    rows(ExactSearch.topK(spark, sfDir, k = qs.map(_.k).max, queryTerms =
      qs.flatMap(q => q.terms.map(t => (q.query_id, t))).toDF("query_id", "term")))
      .filter { case (qid, rnk, _, _) => rnk <= kById(qid) }
  }

  test("WAND ≡ exact on the fixed query set (sf0.001)") {
    val spark = TestSpark.spark
    val exact = rows(ExactSearch.topK(spark, TestSpark.Sf0001))
    val wandDf = Wand.topK(spark, indexDir, Seq(1L))
    val wand = rows(wandDf)
    assert(exact.nonEmpty)
    assert(wand == exact)
    // names, types and nullability of the declared result schema
    assert(wandDf.schema == Encoders.product[QueryHit].schema, wandDf.schema.treeString)
  }

  test("WAND ≡ exact on 40 random queries incl. rare/absent terms and k sweep") {
    val spark = TestSpark.spark
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window", "zzz_absent")
    val rnd = new Random(1234)
    val ks = Seq(1, 3, 7, 10, 25, 67)
    val qs = (0 until 40).map { i =>
      val nt = 1 + rnd.nextInt(5)
      val terms = rnd.shuffle(vocab).take(nt)
      TermQuery(1000 + i, terms, ks(rnd.nextInt(ks.length)))
    }
    import spark.implicits._
    val qtDf = qs.flatMap(q => q.terms.map(t => (q.query_id, t))).toDF("query_id", "term")
    val wand = rows(Wand.topK(spark, indexDir, Seq(1L), qs))
    // exact path with per-query k
    val kById = qs.map(q => q.query_id -> q.k).toMap
    val exactAllK = rows(ExactSearch.topK(spark, TestSpark.Sf0001, k = 67, queryTerms = qtDf))
      .filter { case (qid, rnk, _, _) => rnk <= kById(qid) }
    assert(wand == exactAllK)
  }

  test("WAND ≡ exact with MULTI-BLOCK posting lists (sf0.01, 1 shard → ~4 blocks/list)") {
    val spark = TestSpark.spark
    val d = tmp("graft-wand-blocks-")
    IndexBuilder.build(spark, TestSpark.Sf001, d, numShards = 1)
    val exact = rows(ExactSearch.topK(spark, TestSpark.Sf001))
    val wand = rows(Wand.topK(spark, d, Seq(1L)))
    assert(exact.nonEmpty && wand == exact)
    // and with a large k that spans block boundaries
    import spark.implicits._
    val qs = Seq(TermQuery(500, Seq("dup", "spark", "the"), 150),
      TermQuery(501, Seq("join"), 300))
    val qtDf = qs.flatMap(q => q.terms.map(t => (q.query_id, t))).toDF("query_id", "term")
    val exactBig = rows(ExactSearch.topK(spark, TestSpark.Sf001, k = 300, queryTerms = qtDf))
      .filter { case (qid, rnk, _, _) => rnk <= (if (qid == 500) 150 else 300) }
    val wandBig = rows(Wand.topK(spark, d, Seq(1L), qs))
    assert(wandBig == exactBig)
  }

  test("cost metrics: selective query on multi-block lists skips > 0 blocks; one metrics row per query") {
    val spark = TestSpark.spark
    import spark.implicits._
    // synthetic corpus engineered so θ saturates early: 'needle' (df=4,
    // idf≈7) sits in docs 100/200/300, and once k=3 needles fill the
    // heap, θ ≫ maxContrib('hay'); the last needle at 4900 then forces
    // the 'hay' cursor (universal term, ~39 blocks of 128) to SEEK
    // across ~35 undecoded blocks — the skip the counters must observe.
    // (The sf fixtures have no term rare enough: min df ≈ 250 ⇒ pivot
    // gaps of ~20 docs never cross a 128-entry block boundary.)
    val corpusDir = tmp("graft-cost-corpus-")
    val needles = Set(100L, 200L, 300L, 4900L)
    val base = "hay wheat barley rye oat corn spelt millet"
    (0L until 5000L).map(i => (i, if (needles(i)) s"needle $base" else base))
      .toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$corpusDir/documents.parquet")
    val d = tmp("graft-wand-cost-")
    IndexBuilder.build(spark, corpusDir, d, numShards = 1)
    val qs = Seq(TermQuery(900, Seq("needle", "hay"), 3))
    val (hits, metrics) = Wand.topKWithMetrics(spark, d, Seq(1L), qs)
    val hitRows = hits.collect()
    assert(hitRows.length == 3)
    assert(hitRows.map(_.getLong(2)).toSet == Set(100L, 200L, 300L),
      "tie rule keeps the three smallest needle ids")
    assert(hits.schema == Encoders.product[QueryHit].schema, hits.schema.treeString)
    assert(metrics.schema == Encoders.product[Wand.QueryCost].schema, metrics.schema.treeString)
    val m = metrics.collect()
    assert(m.length == 1 && m.head.getInt(0) == 900, "one metrics row per query")
    val (scored, decoded, skipped) = (m.head.getLong(1), m.head.getLong(2), m.head.getLong(3))
    info(s"docs_scored=$scored blocks_decoded=$decoded blocks_skipped=$skipped")
    assert(scored > 0 && decoded > 0)
    assert(skipped > 0, "Block-Max pruning never fired on a selective query")
    assert(scored < 5000, s"pruning must not score the whole corpus (scored=$scored)")
  }

  test("hints θ warm-start: results identical, docs scored never more, strictly fewer when selective") {
    val spark = TestSpark.spark
    def totals(mdf: org.apache.spark.sql.DataFrame): (Long, Long) =
      mdf.collect().foldLeft((0L, 0L))((a, r) => (a._1 + r.getLong(1), a._2 + r.getLong(3)))
    // fixed query set on the shared sf0.001 index: rank-exactness must
    // survive the warm-start, and pruning work can only shrink
    val (hitsOn, mOn) = Wand.topKWithMetrics(spark, indexDir, Seq(1L), useHints = true)
    val (hitsOff, mOff) = Wand.topKWithMetrics(spark, indexDir, Seq(1L), useHints = false)
    assert(rows(hitsOn) == rows(hitsOff), "warm-start changed results")
    val (scoredOn, _) = totals(mOn)
    val (scoredOff, _) = totals(mOff)
    info(s"docs scored: hints=$scoredOn no-hints=$scoredOff")
    assert(scoredOn <= scoredOff)
    // selective corpus (one rare + one universal term): the hint bound
    // is ≈ the needle score, so the hay prefix is never scored at all.
    // At 2 shards each shard's θ₀ sums the hints of the query terms it
    // holds; it must stay sound, and never cost more than no hints
    import spark.implicits._
    val corpusDir = tmp("graft-hints-corpus-")
    val needles = Set(100L, 200L, 300L, 4900L)
    val base = "hay wheat barley rye oat corn spelt millet"
    (0L until 5000L).map(i => (i, if (needles(i)) s"needle $base" else base))
      .toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$corpusDir/documents.parquet")
    val qs = Seq(TermQuery(901, Seq("needle", "hay"), 3))
    Seq(1, 2).foreach { numShards =>
      val d = tmp("graft-hints-ix-")
      IndexBuilder.build(spark, corpusDir, d, numShards = numShards)
      val (selOn, selMOn) = Wand.topKWithMetrics(spark, d, Seq(1L), qs, useHints = true)
      val (selOff, selMOff) = Wand.topKWithMetrics(spark, d, Seq(1L), qs, useHints = false)
      assert(rows(selOn) == rows(selOff), s"$numShards shards: warm-start changed results")
      assert(rows(selOn) == exactRows(corpusDir, qs))
      val on = totals(selMOn)
      val off = totals(selMOff)
      info(s"selective, $numShards shards: hints=(scored ${on._1}, skipped ${on._2}) " +
        s"no-hints=(scored ${off._1}, skipped ${off._2})")
      assert(on._1 <= off._1, s"$numShards shards: warm-start scored more docs")
      if (numShards == 1)
        assert(on._1 < off._1, "warm-start must strictly reduce scored docs on a selective query")
    }
  }

  test("EpsilonNetHints: net+pad golden model, warm-start stays sound, pruning parity with top-H") {
    val spark = TestSpark.spark
    import spark.implicits._
    import IndexBuilder.HintRow
    // golden model of the kernel: greedy ε-net in (tfn DESC, id ASC)
    // order, then pad to H with the strongest unkept — duplicates of a
    // kept profile collapse into the net but survive via the pad (the
    // θ0 k-witness floor; see epsilonNet's doc)
    val avg = 10.0
    def row(id: Long, tf: Long, dl: Long) = HintRow(id, tf, dl)
    // tfns at dl=avgdl=10: tf=3 → 1.571 twice, tf=2 → 1.375 twice, tf=1 → 1.0
    val cands = Seq(row(1, 3, 10), row(2, 3, 10), row(3, 2, 10), row(4, 2, 10), row(5, 1, 10))
    val net4 = IndexBuilder.epsilonNet(cands, avg, eps = 0.1, h = 4)
    // net keeps ids 1 (1.571), 3 (1.375), 5 (1.0); pad adds the
    // strongest skipped, id 2
    assert(net4.map(_.doc_id) == Seq(1L, 3L, 5L, 2L), s"got ${net4.map(_.doc_id)}")
    // uniform profiles: the net collapses to ONE, the pad restores H
    val uni = (1L to 6L).map(i => row(i, 2, 10))
    assert(IndexBuilder.epsilonNet(uni, avg, eps = 0.1, h = 4).map(_.doc_id) ==
      Seq(1L, 2L, 3L, 4L), "pad must refill uniform-profile terms to H")

    val strat = IndexBuilder.EpsilonNetHints()
    val d = tmp("graft-hints-eps-")
    IndexBuilder.build(spark, TestSpark.Sf0001, d, numShards = 4,
      hintStrategy = strat)
    // sidecar shape: ≤H distinct witnesses per term
    val byTerm = spark.read.parquet(s"$d/hints/snap=1")
      .select("term", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1)
    byTerm.foreach { case (t, rows) =>
      assert(rows.length <= IndexBuilder.HintsPerTerm, s"term $t: ${rows.length} hints")
      assert(rows.map(_._2).distinct.length == rows.length, s"term $t: duplicate witnesses")
    }
    // soundness: ε-net warm-start cannot change results (any real
    // witnesses give a valid θ0 lower bound), and never scores MORE
    // docs than no warm-start at all
    val (hitsOn, mOn) = Wand.topKWithMetrics(spark, d, Seq(1L), useHints = true)
    val (hitsOff, mOff) = Wand.topKWithMetrics(spark, d, Seq(1L), useHints = false)
    assert(rows(hitsOn) == rows(hitsOff), "ε-net warm-start changed results")
    def scored(mdf: org.apache.spark.sql.DataFrame): Long =
      mdf.collect().map(_.getLong(1)).sum
    val (eps, none) = (scored(mOn), scored(mOff))
    // parity report vs top-H on the SAME corpus (the shared index)
    val topH = scored(Wand.topKWithMetrics(spark, indexDir, Seq(1L), useHints = true)._2)
    info(s"docs scored: epsNet=$eps topH=$topH none=$none")
    assert(eps <= none, "ε-net hints may never cost more than no hints")
  }

  test("static index pruning: tfn-floor build trades size for recall ≥ 0.9") {
    val spark = TestSpark.spark
    import spark.implicits._
    def postingsCount(d: String): Long =
      IndexBuilder.loadPostings(spark, d, Seq(1L)).map(_.df_local).reduce(_ + _)
    val exact = rows(Wand.topK(spark, indexDir, Seq(1L)))
      .groupBy(_._1).map { case (q, hs) => q -> hs.map(_._3).toSet }
    val full = postingsCount(indexDir)
    val d = tmp("graft-wand-pruned-")
    IndexBuilder.build(spark, TestSpark.Sf0001, d, numShards = 4,
      pruneTfnFloor = Some(1.05))
    val pruned = postingsCount(d)
    assert(pruned < full, "the floor must actually drop postings")
    val got = rows(Wand.topK(spark, d, Seq(1L)))
      .groupBy(_._1).map { case (q, hs) => q -> hs.map(_._3).toSet }
    // hints are rebuilt FROM the pruned postings — θ0 must stay a sound
    // lower bound within the pruned index (warm-start cannot change
    // what the pruned index returns, only how fast)
    assert(rows(Wand.topKWithMetrics(spark, d, Seq(1L), useHints = true)._1) ==
      rows(Wand.topKWithMetrics(spark, d, Seq(1L), useHints = false)._1),
      "hints warm-start changed pruned-index results")
    val recalls = exact.map { case (q, gold) =>
      got.getOrElse(q, Set.empty).count(gold).toDouble / gold.size
    }
    val macroRecall = recalls.sum / recalls.size
    info(f"postings $full → $pruned (${100.0 * (full - pruned) / full}%.1f%% dropped), " +
      f"macro-recall $macroRecall%.3f")
    assert(macroRecall >= 0.9,
      f"pruned-index recall $macroRecall%.3f < 0.9 at floor 1.05")
  }

  test("optimize_index! on the primary index: MinRecall(0.9) picks the cheapest passing floor") {
    val spark = TestSpark.spark
    import graft.operators.AnnOps
    val floors = Seq(0.0, 0.8, 1.05, 1.3)
    val (chosen, ladder) = AnnOps.tunedPrunedIndex(spark, TestSpark.Sf0001,
      floors, target = 0.9)
    info(ladder.map(c =>
      f"floor=${c.floor}%.2f recall=${c.recall}%.3f cost=${c.cost}%.3f").mkString("; "))
    // cost (surviving postings fraction) strictly decreases up the floor
    // ladder, and the exact index has cost 1 / recall 1
    assert(ladder.head.cost == 1.0 && ladder.head.recall == 1.0)
    assert(ladder.map(_.cost).sliding(2).forall(p => p.head > p.last),
      s"postings fraction must drop with the floor: ${ladder.map(_.cost)}")
    // the goal: recall ≥ target, and no CHEAPER (higher-floor, fewer
    // postings) config also passes — minimality, the optbs.jl contract
    assert(chosen.recall >= 0.9, s"chosen $chosen misses the MinRecall target")
    assert(!ladder.exists(c => c.cost < chosen.cost && c.recall >= 0.9),
      s"a cheaper passing floor exists: $ladder")
    // the dial is real: the chosen config should NOT be the trivial
    // exact index (the fixture frontier keeps ≥ 0.9 at floor ≥ 0.8)
    assert(chosen.floor > 0.0, s"tuner fell back to the exact index: $ladder")
  }

  test("multi-snapshot (unmerged segments) query ≡ single-snapshot query") {
    val spark = TestSpark.spark
    val d = tmp("graft-wand-multi-")
    IndexBuilder.build(spark, TestSpark.Sf0001, d, 4, snapshotId = 1L,
      docIdRange = Some((0L, 250L)))
    IndexBuilder.build(spark, TestSpark.Sf0001, d, 4, snapshotId = 2L,
      docIdRange = Some((250L, 10000L)))
    // global stats across the two snapshots equal the full corpus stats,
    // so querying the union of segments must equal the exact scorer
    val exact = rows(ExactSearch.topK(spark, TestSpark.Sf0001))
    val wand = rows(Wand.topK(spark, d, Seq(1L, 2L)))
    assert(wand == exact)
  }

  test("multi-snapshot with SKEWED per-snapshot avgdl stays rank-exact (bound rescaling)") {
    // Snapshot 1: short docs (tiny avgdl); snapshot 2: long docs. The
    // merged query-time avgdl far exceeds snapshot 1's, so its sealed
    // block_max_tfn UNDER-bounds true contributions unless the cursor
    // rescales by avgdl_m/avgdl_s — without the rescale, WAND skips
    // blocks holding true top-k docs from the short-doc snapshot.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = tmp("graft-wand-skew-corpus-")
    val filler = (1 to 120).map(i => s"filler$i").mkString(" ")
    val docs = (0L until 200L).map { id =>
      if (id == 99L) (id, "alpha alpha alpha beta")        // the true #1, LAST in the list
      else if (id < 99L) (id, "alpha beta")                // short docs, uniform score
      else (id, s"alpha gamma $filler")                    // long docs drown alpha's tfn
    }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val d = tmp("graft-wand-skew-ix-")
    IndexBuilder.build(spark, dir, d, 2, snapshotId = 1L, docIdRange = Some((0L, 100L)))
    IndexBuilder.build(spark, dir, d, 2, snapshotId = 2L, docIdRange = Some((100L, 10000L)))
    // k=2: the heap fills with uniform-score early docs, θ rises above
    // snapshot 1's UNRESCALED sealed bound, and an unsound cursor stops
    // before ever scoring doc 99 — the strongest hit in the corpus
    val qs = Seq(TermQuery(7, Seq("alpha", "beta"), 10), TermQuery(8, Seq("alpha"), 2))
    val kById = qs.map(q => q.query_id -> q.k).toMap
    val exact = rows(ExactSearch.topK(spark, dir, k = 10, queryTerms =
      qs.flatMap(q => q.terms.map(t => (q.query_id, t))).toDF("query_id", "term")))
      .filter { case (qid, rnk, _, _) => rnk <= kById(qid) }
    assert(exact.exists { case (qid, rnk, doc, _) => qid == 8 && rnk == 1 && doc == 99L },
      "fixture must place doc 99 at rank 1 for the k=2 query")
    val wand = rows(Wand.topK(spark, d, Seq(1L, 2L), qs))
    assert(wand == exact, "skewed-avgdl multi-snapshot WAND diverged from exact")
  }

  test("Spark jobs per call: 2 fresh, 1 warm, 1 on never-seen terms or a 100-query batch") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    // vocabulary for the batch, read before any job is counted
    val vocab = spark.read.parquet(IndexBuilder.IndexPaths(indexDir).termstats(1L))
      .select("term").collect().map(_.getString(0)).sorted.toSeq
    // one call's rows, the Spark jobs of the call and its collect, and
    // the RDDs the call itself created: the RDD id counter's advance,
    // less the probe RDD that reads it
    def call(qs: Seq[TermQuery]): (Seq[(Int, Int, Long, Double)], Int, Int) = {
      val ((got, rdds), jobs) = TestSpark.withJobCount {
        val before = sc.emptyRDD[Int].id
        val df = Wand.topK(spark, indexDir, Seq(1L), qs)
        val rdds = sc.emptyRDD[Int].id - before - 1
        (rows(df), rdds)
      }
      (got, jobs, rdds)
    }
    // a fresh entry: the first call reads the stats, then runs the
    // shard eval (materializing the segments and their dictionaries)
    Wand.release(indexDir)
    val warm = TermQuery(800, Seq("spark", "join", "the"), 10)
    val (firstRows, firstJobs, _) = call(Seq(warm))
    val (warmRows, warmJobs, warmRdds) = call(Seq(warm))
    // terms no earlier call named: each shard-eval task resolves idf
    // and θ₀ from its own segment, so there is no lookup job
    val cold = TermQuery(801, Seq("window", "vector", "zzz_never_seen"), 25)
    val (coldRows, coldJobs, coldRdds) = call(Seq(cold))
    val named = Set("spark", "join", "the", "window", "vector")
    val rnd = new Random(808)
    val fresh = vocab.filterNot(named) :+ "zzz_never_seen_either"
    val batch = (0 until 100).map(i =>
      TermQuery(2000 + i, rnd.shuffle(fresh).take(1 + rnd.nextInt(3)), 1 + rnd.nextInt(20)))
    val (batchRows, batchJobs, batchRdds) = call(batch)
    info(s"Spark jobs per call: first=$firstJobs warm=$warmJobs never-seen terms=$coldJobs " +
      s"100-query batch=$batchJobs; RDDs created: warm=$warmRdds never-seen terms=$coldRdds " +
      s"100-query batch=$batchRdds")
    assert(firstJobs == 2, s"first call on a fresh entry ran $firstJobs jobs")
    assert(warmJobs == 1, s"warm single query ran $warmJobs jobs")
    assert(coldJobs == 1, s"never-seen-terms query ran $coldJobs jobs")
    assert(batchJobs == 1, s"100-query batch of never-seen terms ran $batchJobs jobs")
    // the eval runs on the resident RDD itself: no per-call RDD
    assert(warmRdds == 0, s"warm single query created $warmRdds RDDs")
    assert(coldRdds == 0, s"never-seen-terms query created $coldRdds RDDs")
    assert(batchRdds == 0, s"100-query batch created $batchRdds RDDs")
    val gold = exactRows(TestSpark.Sf0001, Seq(warm))
    assert(gold.nonEmpty && firstRows == gold && warmRows == gold)
    assert(coldRows.nonEmpty && coldRows == exactRows(TestSpark.Sf0001, Seq(cold)))
    assert(batchRows.map(_._1).distinct.size > 90 &&
      batchRows == exactRows(TestSpark.Sf0001, batch))
  }

  test("nothing stays resident after release or a registry call") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    val d = tmp("graft-wand-release-")
    IndexBuilder.build(spark, TestSpark.Sf0001, d, numShards = 2)
    assert(persisted == before, "the build itself must leave nothing persisted")
    Wand.topK(spark, d, Seq(1L)).collect()
    assert(persisted.size == before.size + 1, "one entry = one persisted RDD of segments")
    Wand.release(d)
    assert(persisted == before)
    // a registry call builds, queries and deletes a throwaway index
    assert(Wand.topKOnCorpus(spark, TestSpark.Sf0001).collect().nonEmpty)
    assert(persisted == before)
  }

  test("declared sidecar schemas match the schemas the writers lay down") {
    val spark = TestSpark.spark
    import IndexBuilder.Schemas
    val paths = IndexBuilder.IndexPaths(indexDir)
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    Seq("postings" -> (Schemas.postings, paths.postings(1L)),
      "norms" -> (Schemas.norms, paths.norms(1L)),
      "termstats" -> (Schemas.termstats, paths.termstats(1L)),
      "hints" -> (Schemas.hints, paths.hints(1L)),
      "stats" -> (Schemas.stats, paths.stats(1L))).foreach { case (name, (declared, dir)) =>
      val written = spark.read.parquet(dir).schema
      assert(fields(declared) == fields(written),
        s"$name: declared ${declared.simpleString}, written ${written.simpleString}")
    }
    // the ANN sidecars: meta and centers, and codes in each payload flavor
    import graft.index.AnnIndex
    import AnnIndex.{AnnPaths, AnnSchemas}
    val builds = Seq(
      "ivf" -> ((d: String) => AnnIndex.buildIvf(spark, TestSpark.Sf0001, d, numShards = 2)),
      "ivf-sq8" -> ((d: String) =>
        AnnIndex.buildIvf(spark, TestSpark.Sf0001, d, numShards = 2, quantLevels = 255)),
      "lsh" -> ((d: String) => AnnIndex.buildLsh(spark, TestSpark.Sf0001, d, numShards = 2)))
    builds.foreach { case (flavor, build) =>
      val d = tmp("graft-wand-ann-")
      val m = build(d)
      val sidecars = Seq("meta" -> (AnnSchemas.meta, AnnPaths(d).meta),
        "codes" -> (AnnSchemas.codes(m), AnnPaths(d).codes)) ++
        (if (m.kind == "ivf") Seq("centers" -> (AnnSchemas.centers, AnnPaths(d).centers)) else Nil)
      sidecars.foreach { case (name, (declared, dir)) =>
        val written = spark.read.parquet(dir).schema
        assert(fields(declared) == fields(written),
          s"$flavor $name: declared ${declared.simpleString}, written ${written.simpleString}")
      }
    }
  }

  test("an index missing its hints sidecar fails the load, and a rebuild in place serves exact results again") {
    val spark = TestSpark.spark
    val d = tmp("graft-wand-nohints-")
    IndexBuilder.build(spark, TestSpark.Sf0001, d, numShards = 4)
    val exact = rows(ExactSearch.topK(spark, TestSpark.Sf0001))
    assert(rows(Wand.topK(spark, d, Seq(1L))) == exact)
    val hints = IndexBuilder.IndexPaths(d).hints(1L)
    StreamingOps.deleteRec(hints)
    // the deletion changes the fingerprint, so the entry loaded above is
    // not served: the reload finds no sidecar and fails
    val e = intercept[org.apache.spark.sql.AnalysisException](Wand.topK(spark, d, Seq(1L)))
    assert(e.getCondition.startsWith("PATH_NOT_FOUND") && e.getMessage.contains(hints),
      e.getMessage)
    IndexBuilder.build(spark, TestSpark.Sf0001, d, numShards = 4)
    assert(rows(Wand.topK(spark, d, Seq(1L))) == exact)
  }

  test("rebuild in place with different content: the next query is fresh and exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def corpus(seed: Int, n: Int): String = {
      val dir = tmp("graft-wand-rebuild-corpus-")
      val rnd = new Random(seed)
      (0L until n.toLong).map(i => (i,
          Seq.fill(3 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" ")))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      dir
    }
    val (a, b) = (corpus(1, 300), corpus(2, 180))
    val qs = Seq(TermQuery(1, Seq("alpha", "beta"), 10), TermQuery(2, Seq("theta"), 5),
      TermQuery(3, Seq("gamma", "delta", "eta"), 20))
    val d = tmp("graft-wand-rebuild-ix-")
    IndexBuilder.build(spark, a, d, numShards = 4)
    val before = rows(Wand.topK(spark, d, Seq(1L), qs))
    assert(before == exactRows(a, qs))
    val residentBefore = spark.sparkContext.getPersistentRDDs.size
    // same path, new corpus, new shard count, and no release: the
    // rewritten files fail the fingerprint, so the first index's
    // segments, stats, df and hints must not be served
    IndexBuilder.build(spark, b, d, numShards = 3)
    val after = rows(Wand.topK(spark, d, Seq(1L), qs))
    assert(after == exactRows(b, qs))
    assert(after != before, "the two corpora must rank differently")
    assert(spark.sparkContext.getPersistentRDDs.size == residentBefore,
      "the stale entry's RDDs must be unpersisted when the new one loads")
  }

  /** The resident map outlives a session in the same JVM; an entry of
    * a stopped context must be neither served nor unpersisted.
    */
  test("resident entries die with their SparkContext: a new session queries exactly") {
    val first = tmp("graft-wand-ctx-")
    val kept = tmp("graft-wand-ctx-")
    val second = tmp("graft-wand-ctx-")
    val old = TestSpark.spark
    IndexBuilder.build(old, TestSpark.Sf0001, first, numShards = 2)
    IndexBuilder.build(old, TestSpark.Sf0001, kept, numShards = 2)
    Wand.topK(old, first, Seq(1L)).collect()
    Wand.topK(old, kept, Seq(1L)).collect()
    StreamingOps.deleteRec(first)
    old.stop()
    val spark = TestSpark.spark
    assert(spark.sparkContext ne old.sparkContext)
    val gold = rows(ExactSearch.topK(spark, TestSpark.Sf0001))
    // (a) another index, while the dead entries of `first` and `kept`
    // are still in the map
    IndexBuilder.build(spark, TestSpark.Sf0001, second, numShards = 2)
    assert(rows(Wand.topK(spark, second, Seq(1L))) == gold)
    // (b) the deleted dir rebuilt from the same corpus
    IndexBuilder.build(spark, TestSpark.Sf0001, first, numShards = 2)
    assert(rows(Wand.topK(spark, first, Seq(1L))) == gold)
    // (c) unchanged files: the fingerprint matches a dead entry
    assert(rows(Wand.topK(spark, kept, Seq(1L))) == gold)
  }
}
