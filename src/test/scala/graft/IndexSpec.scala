package graft

import graft.index.{IndexBuilder, IndexFormat, Wand}
import graft.functions.BM25
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Index build: seal/decode round-trip (the `StaticAdjList` freeze/thaw
  * analog, /root/reference/test/testadj.jl:7-46), block-max soundness,
  * full-corpus postings ↔ tokenizer agreement, resumability from a
  * partial manifest, and merge determinism (merged snapshots ≡ direct
  * full build; idempotence + associativity per FIXTURES.md §4).
  */
class IndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Temp dirs this suite creates; deleted (and their resident WAND
    * entries released) once it ends.
    */
  private val dirs = ArrayBuffer.empty[String]
  private def tmp(): String = {
    val d = Files.createTempDirectory("graft-ix-").toString
    dirs += d
    d
  }
  override def afterAll(): Unit = {
    dirs.foreach(Wand.release)
    graft.operators.StreamingOps.deleteRec(dirs.toSeq: _*)
  }

  test("seal/decode round-trip with multi-block lists + block-max soundness") {
    val rnd = new Random(42)
    for (trial <- 1 to 10) {
      val n = 1 + rnd.nextInt(1000)
      val ids = Iterator.continually(math.abs(rnd.nextLong()) % 100000L)
        .take(n * 3).toSeq.distinct.sorted.take(n).toArray
      val tfs = Array.fill(ids.length)(1L + rnd.nextInt(20))
      val dls = Array.fill(ids.length)(10L + rnd.nextInt(200))
      val avgdl = 55.5
      val pl = IndexFormat.seal(3, s"t$trial", ids, tfs, dls, avgdl)
      val (d2, t2) = IndexFormat.decodeAll(pl)
      assert(d2.toSeq == ids.toSeq && t2.toSeq == tfs.toSeq)
      assert(pl.df_local == ids.length && pl.cf_local == tfs.sum)
      // block-max bounds every contribution within its block
      for (b <- 0 until IndexFormat.numBlocks(pl)) {
        val len = IndexFormat.blockLen(pl, b)
        for (i <- 0 until len) {
          val g = b * IndexFormat.BlockSize + i
          assert(BM25.tfNorm(tfs(g), dls(g), avgdl) <= pl.block_max_tfn(b) + 1e-12)
        }
        assert(pl.block_last_doc(b) == ids(b * IndexFormat.BlockSize + len - 1))
      }
      // blocks decode independently
      for (b <- 0 until IndexFormat.numBlocks(pl)) {
        val (bd, _) = IndexFormat.decodeBlock(pl, b)
        assert(bd.head == ids(b * IndexFormat.BlockSize))
      }
    }
  }

  test("HintsTopH aggregator ≡ sort-and-take-H golden model (random data, random partitioning)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new Random(7)
    val avgdl = 40.0
    val h = IndexBuilder.HintsPerTerm
    // heavy skew on term t0 (df ~ 2000) + tfn ties (few distinct tf/dl
    // combos) so the capacity-replacement tie rule is actually exercised
    val rows = (0 until 3000).map { i =>
      val term = if (i < 2000) "t0" else s"t${1 + rnd.nextInt(40)}"
      (term, i.toLong, 1L + rnd.nextInt(3).toLong, 20L + rnd.nextInt(3).toLong * 20L)
    }
    val got = {
      val df = rows.toDF("term", "doc_id", "tf", "dl").repartition(7)
      // the private topHintsPerTerm is exercised through build(); here the
      // aggregator is driven directly the same way build() drives it
      df.select(col("term"), col("doc_id"), col("tf"), col("dl"),
          BM25.tfNormCol(col("tf"), col("dl"), lit(avgdl)).as("tfn"))
        .as[(String, Long, Long, Long, Double)]
        .groupByKey(_._1)
        .agg(new IndexBuilder.HintsTopH(h).toColumn.name("hs"))
        .flatMap { case (term, hs) => hs.map(r => (term, r.doc_id, r.tf, r.dl)) }
        .collect().toSet
    }
    val want = rows.groupBy(_._1).flatMap { case (term, rs) =>
      rs.map(r => (r._2, r._3, r._4, BM25.tfNorm(r._3, r._4, avgdl)))
        .sortBy(t => (-t._4, t._1))
        .take(h)
        .map(t => (term, t._1, t._2, t._3))
    }.toSet
    assert(got == want,
      s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("built postings reproduce the tokenizer's tf table exactly (sf0.001)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 4)
    val fromIndex = IndexBuilder.loadPostings(spark, dir, Seq(1L))
      .flatMap { pl =>
        val (ds, ts) = IndexFormat.decodeAll(pl)
        ds.zip(ts).map { case (d, t) => (pl.term, d, t) }
      }.toDF("term", "doc_id", "tf")
    val fromTokens = graft.operators.ExactSearch.termFreqs(spark, TestSpark.Sf0001)
      .select("term", "doc_id", "tf")
    assert(fromIndex.except(fromTokens).count() == 0)
    assert(fromTokens.except(fromIndex).count() == 0)
    // manifest lineage covers every doc exactly once
    val man = spark.read.parquet(s"$dir/manifest")
    assert(man.agg(sum("doc_count")).head().getLong(0) == 500L)
    assert(man.select("shard").distinct().count() == man.count())
  }

  /** Hash-partitioning keys of every shuffle exchange in a physical
    * plan, adaptive stages included.
    */
  private def exchangeKeys(p: SparkPlan): Seq[Set[String]] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val own = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => Seq(h.expressions.flatMap(_.references.map(_.name)).toSet)
        case _ => Nil
      }
      case _ => Nil
    }
    own ++ (p.children ++ inner ++ p.subqueries).flatMap(exchangeKeys)
  }

  test("a full sf0.001 build runs ≤ 12 Spark jobs, one posting exchange, no read-back") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val dir = tmp()
    // the plan of every SQL execution the build starts, as posted and
    // as adaptive execution re-plans it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ =>
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val (_, jobs) = try TestSpark.withJobCount(
      IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 4))
    finally sc.removeSparkListener(listener)
    info(s"IndexBuilder.build at sf0.001: $jobs Spark jobs")
    assert(jobs <= 12, s"the build ran $jobs Spark jobs")
    import scala.jdk.CollectionConverters._
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    val all = plans.asScala.toSeq.flatMap(nodes)
    // the shard exchange is the only one the posting rows cross: no
    // exchange is keyed on a document
    val hashKey = """hashpartitioning\(([^)]*), \d+\)""".r
    val keys = all.filter(_.nodeName == "Exchange").flatMap(e =>
      hashKey.findFirstMatchIn(e.simpleString)
        .map(_.group(1).split(", ").map(_.takeWhile(_ != '#')).toSet)).distinct
    assert(keys.contains(Set("shard")), s"no shard exchange among $keys")
    assert(!keys.exists(_.contains("doc_id")), s"an exchange keyed on doc_id: $keys")
    // nothing the build writes is read back
    val read = all.filter(_.nodeName.startsWith("Scan")).map(_.simpleString)
      .filter(_.contains(dir))
    assert(read.forall(_.contains(s"$dir/manifest")), s"the build read back $read")
  }

  test("the exact scorer counts term frequencies with no (doc_id, dl, term) exchange") {
    val spark = TestSpark.spark
    val plan = graft.operators.ExactSearch.scoreAll(spark, TestSpark.Sf0001,
      graft.operators.ExactSearch.defaultQueryTerms(spark)).queryExecution.executedPlan
    val keys = exchangeKeys(plan)
    assert(keys.nonEmpty, "the scoring aggregation's exchange was not found")
    // the scoring sum is keyed on (query_id, doc_id) and df on term
    assert(!keys.exists(k => k.contains("dl") || k.contains("term") && k.contains("doc_id")),
      s"a tf exchange in the exact scorer: $keys")
  }

  test("build content is independent of shard count and shuffle parallelism") {
    val spark = TestSpark.spark
    import spark.implicits._
    def decoded(shards: Int): Seq[(String, Long, Long)] = {
      val dir = tmp()
      IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = shards)
      IndexBuilder.loadPostings(spark, dir, Seq(1L)).flatMap { pl =>
        val (ds, ts) = IndexFormat.decodeAll(pl)
        ds.zip(ts).map { case (d, t) => (pl.term, d, t) }
      }.collect().toSeq.sorted
    }
    val two = decoded(2)
    assert(two == decoded(4), "decoded postings identical across shard counts")
    // and across shuffle-partition settings (the determinism invariant
    // FIXTURES.md pins for local[2] vs local[8])
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(decoded(2) == two)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("resume completes a partial build and matches a clean full build") {
    val spark = TestSpark.spark
    val full = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, full, numShards = 4)
    val part = tmp()
    // simulated crash: only shards {0,1} sealed, no global artifacts
    IndexBuilder.build(spark, TestSpark.Sf0001, part, numShards = 4,
      onlyShards = Some(Set(0, 1)))
    val missing = IndexBuilder.resume(spark, TestSpark.Sf0001, part, 4, 1L)
    assert(missing == Set(2, 3))
    assert(IndexBuilder.resume(spark, TestSpark.Sf0001, part, 4, 1L).isEmpty,
      "second resume is a no-op")
    assert(postingsKey(full) == postingsKey(part))
  }

  test("manifest is append-only; readManifest supersedes stale commits") {
    val spark = TestSpark.spark
    val dir = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 4)
    // in-place full rebuild with a DIFFERENT shard count: the appended
    // manifest keeps both commits' rows on disk (crash-safe — no
    // delete-then-write window), while the read view supersedes the
    // first commit entirely
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 2)
    // the physical layer first: a full rebuild STATIC-overwrites its
    // snapshot dirs, so no stale 4-shard partitions survive to
    // double-count docs (the bug this test caught: dynamic overwrite
    // left shards 2-3 of the first layout on disk)
    import spark.implicits._
    val physShards = IndexBuilder.loadPostings(spark, dir, Seq(1L))
      .map(_.shard).distinct().collect().sorted.toSeq
    assert(physShards == Seq(0, 1), s"stale shard partitions on disk: $physShards")
    val raw = spark.read.parquet(s"$dir/manifest")
    assert(raw.count() == 6, "append-only: both commits' rows survive on disk")
    val cur = IndexBuilder.readManifest(spark, dir)
    assert(cur.map(_.shard).sorted == Seq(0, 1),
      s"current view = latest full commit only, got ${cur.map(_.shard)}")
    assert(cur.map(_.doc_count).sum == 500L)
    // resume over the deduped view sees the rebuild as complete
    assert(IndexBuilder.resume(spark, TestSpark.Sf0001, dir, 2, 1L).isEmpty)
  }

  test("a shard whose documents have no terms commits with norms and zeroed posting stats") {
    val spark = TestSpark.spark
    import spark.implicits._
    val corpus = tmp()
    // shard 1 (doc ids 4..7 of 0..7 over 2 shards) tokenizes to nothing
    (0L until 8L).map(i => (i, if (i < 4) s"alpha beta w$i" else "  "))
      .toDF("doc_id", "text").write.parquet(s"$corpus/documents.parquet")
    val dir = tmp()
    IndexBuilder.build(spark, corpus, dir, numShards = 2)
    val view = IndexBuilder.readManifest(spark, dir)
    assert(view.map(r => (r.shard, r.min_doc, r.max_doc, r.doc_count)) ==
      Seq((0, 0L, 3L, 4L), (1, 4L, 7L, 4L)))
    assert(view.find(_.shard == 1).exists(r => r.term_count == 0L && r.postings_bytes == 0L))
    assert(view.find(_.shard == 0).exists(r => r.term_count == 6L && r.postings_bytes > 0L))
    assert(IndexBuilder.resume(spark, corpus, dir, 2, 1L).isEmpty)
  }

  test("manifest time travel: as-of views replay the append-only log exactly") {
    val spark = TestSpark.spark
    val dir = tmp()
    // ingest pattern: snapshot 1 (commit 1), snapshot 2 (commit 2),
    // then a compaction into snapshot 3 (commit 3)
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 2,
      snapshotId = 1L, docIdRange = Some((0L, 250L)))
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, numShards = 2,
      snapshotId = 2L, parentSnapshot = 1L, docIdRange = Some((250L, 500L)))
    IndexBuilder.mergeSnapshots(spark, dir, Seq(1L, 2L), outSnap = 3L, 2)
    assert(IndexBuilder.snapshotsAsOf(spark, dir, 1L) == Seq(1L))
    assert(IndexBuilder.snapshotsAsOf(spark, dir, 2L) == Seq(1L, 2L))
    assert(IndexBuilder.snapshotsAsOf(spark, dir, 3L) == Seq(1L, 2L, 3L),
      "lineage keeps the merged inputs; which snapshots to QUERY is the caller's cut")
    assert(IndexBuilder.snapshotsAsOf(spark, dir, 0L).isEmpty,
      "before the first commit the view is empty")
    // the as-of-2 view is row-identical to what readManifest said then:
    // doc counts cover exactly the two halves
    val asOf2 = IndexBuilder.manifestAsOf(spark, dir, 2L)
    assert(asOf2.map(_.doc_count).sum == 500L)
    assert(asOf2.map(_.snapshot_id).distinct.sorted == Seq(1L, 2L))
    // time-travel QUERY: as-of commit 1 ≡ a fresh index over the first
    // half alone — same rows, same scores (stats resolved per queried
    // snapshot set, so the as-of query scores under as-of statistics)
    val asOfRows = graft.index.Wand.topK(spark, dir, Seq(1L)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val freshDir = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, freshDir, numShards = 2,
      snapshotId = 1L, docIdRange = Some((0L, 250L)))
    val freshRows = graft.index.Wand.topK(spark, freshDir, Seq(1L)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(asOfRows.sorted.toSeq == freshRows.sorted.toSeq,
      "as-of query must be bit-identical to a fresh half-corpus index")
  }

  test("undecodable manifest PROPAGATES; missing manifest reads empty") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a manifest dir that EXISTS but doesn't decode to ManifestRow must
    // throw, not read as "nothing committed" — the silent-empty reading
    // made resume() full-rebuild a committed index and appended
    // mixed-schema rows beside the old. Two shapes: most lineage
    // columns missing, and a real build's manifest without only its
    // commit_seq/full_commit pair
    val dir = tmp()
    Seq((1L, "snap-1-shard-0", 0)).toDF("snapshot_id", "segment_id", "shard")
      .write.parquet(s"$dir/manifest")
    val noLineage = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, noLineage, numShards = 2)
    val stripped = s"${tmp()}/manifest"
    spark.read.parquet(s"$noLineage/manifest").drop("commit_seq", "full_commit")
      .write.parquet(stripped)
    graft.operators.StreamingOps.deleteRec(s"$noLineage/manifest")
    Files.move(java.nio.file.Paths.get(stripped), java.nio.file.Paths.get(s"$noLineage/manifest"))
    for (d <- Seq(dir, noLineage))
      intercept[org.apache.spark.sql.AnalysisException] {
        IndexBuilder.readManifest(spark, d)
      }
    // a MISSING manifest is still the clean "nothing committed" state
    assert(IndexBuilder.readManifest(spark, tmp()).isEmpty)
  }

  test("log-growth callbacks scheduler: fires exactly at ceil-log boundaries; compaction ≡ full build") {
    val spark = TestSpark.spark
    // the boundary predicate IS the reference formula
    // (callbacks.jl:9: sp >= starting && ceil(log_b sp) != ceil(log_b ep))
    def julia(sp: Long, ep: Long, b: Double, st: Long): Boolean = {
      def cl(x: Long) = math.ceil(math.log(x.toDouble) / math.log(b)).toLong
      sp >= st && cl(sp) != cl(ep)
    }
    for (n <- 1L until 3000L)
      assert(IndexBuilder.crossesGrowthBoundary(n, n + 1) == julia(n + 1, n + 1, 1.5, 256),
        s"single-insert form diverges at n=$n")
    assert(!IndexBuilder.crossesGrowthBoundary(100, 400), "below starting_callback")
    assert(IndexBuilder.crossesGrowthBoundary(300, 500), "257→500 crosses ceil(log1.5)")

    // ingest loop: 4 doc-range batches; the scheduler decides when to
    // compact (starting=100 so fixture-scale sizes can fire)
    val dir = tmp()
    val batches = Seq((1L, 0L, 150L), (2L, 150L, 320L), (3L, 320L, 420L), (4L, 420L, 10000L))
    var live = Seq.empty[Long]
    var nextOut = 10L
    val fired = batches.map { case (snap, lo, hi) =>
      IndexBuilder.build(spark, TestSpark.Sf0001, dir, 4, snapshotId = snap,
        docIdRange = Some((lo, hi)))
      val f = IndexBuilder.maybeCompact(spark, dir, live, snap, nextOut, 4,
        starting = 100)
      if (f) { live = Seq(nextOut); nextOut += 1 } else live = live :+ snap
      f
    }
    // predicted from the formula over the cumulative doc counts
    // (150, 320, 420, 500): 150→320 has sp=151 ≥ 100? no (starting=100,
    // sp=151 ≥ 100 yes) — assert against the predicate itself, not a
    // hand-rolled list, then pin that it fired at least once
    val cum = Seq(0L, 150L, 320L, 420L, 500L)
    val expect = (1 until cum.length).map(i =>
      i > 1 && IndexBuilder.crossesGrowthBoundary(cum(i - 1), cum(i), starting = 100))
    assert(fired == expect, s"fired $fired != predicted $expect")
    assert(fired.count(identity) >= 1, "fixture must exercise at least one firing")
    // after the loop the live set queried together ≡ a direct full build
    val full = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, full, 4)
    if (live.size == 1)
      assert(postingsKey(dir, live.head) == postingsKey(full, 1L),
        "compacted snapshot == full build")
    val gotRows = Wand.topK(spark, dir, live).collect().map(_.toSeq).toSeq
    val fullRows = Wand.topK(spark, full, Seq(1L)).collect().map(_.toSeq).toSeq
    assert(gotRows == fullRows, "scheduler-managed index answers ≡ full build")
  }

  test("merge of split snapshots ≡ direct full build; idempotent + associative") {
    val spark = TestSpark.spark
    val dir = tmp()
    // three doc-range micro-snapshots (the log-structured batches)
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, 4, snapshotId = 1L,
      docIdRange = Some((0L, 150L)))
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, 4, snapshotId = 2L,
      docIdRange = Some((150L, 320L)))
    IndexBuilder.build(spark, TestSpark.Sf0001, dir, 4, snapshotId = 3L,
      docIdRange = Some((320L, 10000L)))
    val full = tmp()
    IndexBuilder.build(spark, TestSpark.Sf0001, full, 4)

    IndexBuilder.mergeSnapshots(spark, dir, Seq(1L, 2L, 3L), 10L, 4)
    assert(postingsKey(dir, 10L) == postingsKey(full, 1L), "merge(1,2,3) == full build")

    IndexBuilder.mergeSnapshots(spark, dir, Seq(1L, 2L), 11L, 4)
    IndexBuilder.mergeSnapshots(spark, dir, Seq(11L, 3L), 12L, 4)
    assert(postingsKey(dir, 12L) == postingsKey(dir, 10L), "merge is associative")

    IndexBuilder.mergeSnapshots(spark, dir, Seq(10L), 13L, 4)
    assert(postingsKey(dir, 13L) == postingsKey(dir, 10L), "re-merge is a no-op")

    // every input's hints sidecar is required: a missing one fails the
    // merge before it writes anything
    val paths = IndexBuilder.IndexPaths(dir)
    graft.operators.StreamingOps.deleteRec(paths.hints(3L))
    intercept[org.apache.spark.sql.AnalysisException] {
      IndexBuilder.mergeSnapshots(spark, dir, Seq(1L, 3L), 14L, 4)
    }
    assert(!Files.exists(java.nio.file.Paths.get(paths.postings(14L))),
      "a failed merge must not write postings")
  }

  test("merge streams many terms per shard (sf0.01, 1 shard ⇒ full vocab in one task)") {
    val spark = TestSpark.spark
    // numShards = 1 forces EVERY term's segments through a single
    // sorted-cogroup task — the case the streaming run-merge must
    // handle one term at a time (the r1 LinkedHashMap held all of them)
    val dir = tmp()
    IndexBuilder.build(spark, TestSpark.Sf001, dir, 1, snapshotId = 1L,
      docIdRange = Some((0L, 200L)))
    IndexBuilder.build(spark, TestSpark.Sf001, dir, 1, snapshotId = 2L,
      docIdRange = Some((200L, 1000000L)))
    val full = tmp()
    IndexBuilder.build(spark, TestSpark.Sf001, full, 1)
    IndexBuilder.mergeSnapshots(spark, dir, Seq(1L, 2L), 20L, 1)
    assert(postingsKey(dir, 20L) == postingsKey(full, 1L),
      "single-shard many-term merge == direct build")
  }

  /** Canonical content key of a snapshot's postings (order-free). */
  private def postingsKey(dir: String, snap: Long = 1L): Seq[(Int, String, Long, Long, String)] = {
    val spark = TestSpark.spark
    import spark.implicits._
    IndexBuilder.loadPostings(spark, dir, Seq(snap))
      .map(pl => (pl.shard, pl.term, pl.df_local, pl.cf_local,
        java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(
            pl.docs_enc ++ pl.tfs_enc ++
              pl.block_max_tfn.flatMap(d => java.nio.ByteBuffer.allocate(8).putDouble(d).array())))))
      .collect().toSeq.sorted
  }
}
