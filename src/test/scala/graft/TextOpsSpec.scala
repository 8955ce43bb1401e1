package graft

import graft.analysis.{TextHash, Tokenizer}
import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup/quality pipeline behavior on the corpus' PLANTED
  * near-duplicates (docs containing the rare `dup` marker are
  * ε-perturbed copies; e.g. docs 8↔245 share ~99% of 5-gram shingles
  * at sf0.01). The sketches (minhash, simhash) must surface those pairs
  * and agree with the exact similarity oracles.
  */
class TextOpsSpec extends AnyFunSuite {
  private val dir = TestSpark.Sf0001

  test("jaccard pairs find the planted near-duplicates and nothing wild") {
    val spark = TestSpark.spark
    val pairs = TextOps.jaccardPairs(spark, dir, tau = 0.5).cache()
    assert(pairs.count() > 0, "planted dups must surface")
    // every surfaced pair involves a dup-marked copy (the original of a
    // planted pair does not carry the marker; organic pairs sit ≪ 0.5)
    val dupDocs = graft.corpus.Corpus.documents(spark, dir)
      .filter(array_contains(split(col("text"), " "), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val badPairs = pairs.collect().filter(r =>
      !dupDocs.contains(r.getLong(0)) && !dupDocs.contains(r.getLong(1)))
    assert(badPairs.isEmpty, s"pairs without any dup-marked member: ${badPairs.mkString(",")}")
  }

  test("minhash LSH output ≡ exact jaccard pairs (sketch recall on this corpus)") {
    val spark = TestSpark.spark
    val exact = TextOps.jaccardPairs(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lsh = TextOps.minhashLsh(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(lsh == exact)
  }

  test("simhash surfaces the near-dup pairs found by jaccard") {
    val spark = TestSpark.spark
    // measured signature spread on this fixture: J≥0.8 pairs reach
    // hamming 11 (md5-derived bits); 16 gives margin and still prunes
    val sim = TextOps.simhashPairs(spark, dir, maxHamming = 16).cache()
    val jacc = TextOps.jaccardPairs(spark, dir, tau = 0.8)
      .select("a", "b")
    assert(jacc.except(sim.select("a", "b")).count() == 0,
      "every ≥0.8-jaccard pair is within simhash hamming 16")
    // hamming is symmetric-free (a<b) and within bound
    assert(sim.filter(col("a") >= col("b")).count() == 0)
    assert(sim.filter(col("hamming") > 16).count() == 0)
    // bit distances are consistent with hamming: rt = 2h/(64+h), rr ∈ [0,1]
    val bad = sim.filter(
      abs(col("rt_bits") - lit(2.0) * col("hamming") /
        (lit(64) + col("hamming"))) > 1e-4).count()
    assert(bad == 0, "rt_bits must equal 2h/(64+h)")
    assert(sim.filter(col("rr_bits") < 0.0 || col("rr_bits") > 1.0).count() == 0)
  }

  test("simhash hash kernels are deterministic and spread") {
    assert(TextHash.fnv1a64("spark") == TextHash.fnv1a64("spark"))
    assert(TextHash.fnv1a64("spark") != TextHash.fnv1a64("sparl"))
    val sig1 = TextHash.minhashSignature(Seq("a b c", "b c d"), 16).toSeq
    val sig2 = TextHash.minhashSignature(Seq("b c d", "a b c"), 16).toSeq
    assert(sig1 == sig2, "minhash is set-order independent")
  }

  test("exact dedup: canonical ids are minimal and idempotent") {
    val spark = TestSpark.spark
    val dd = TextOps.dedupExact(spark, dir).cache()
    assert(dd.filter(col("canonical_id") > col("doc_id")).count() == 0)
    // canonical of canonical is itself
    val canon = dd.select(col("canonical_id").as("doc_id")).distinct()
    val self = dd.join(canon, "doc_id").filter(col("doc_id") =!= col("canonical_id"))
    assert(self.count() == 0)
  }

  test("langid predicts a label from the training label set, deterministic") {
    val spark = TestSpark.spark
    val li = TextOps.langId(spark, dir).cache()
    assert(li.count() == 500)
    val langs = graft.corpus.Corpus.documents(spark, dir)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(li.select("pred_lang").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(langs))
    val again = TextOps.langId(spark, dir)
    assert(li.except(again).count() == 0 && again.except(li).count() == 0)
  }

  test("tokenizer: ASCII fast path ≡ lower on ASCII, non-ASCII, invalid UTF-8, empty, null") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bytes = Seq[Array[Byte]](
      "Hello  WORLD Foo-BAR 42 zZ".getBytes("UTF-8"),
      "İSTANBUL Straße ΣΑΣ ok".getBytes("UTF-8"),
      Array(0x41, 0xC3, 0x20, 0x42, 0xFF, 0x43).map(_.toByte), // invalid, mixed widths
      Array(0x61, 0x80, 0x43, 0x44).map(_.toByte), // lone continuation byte: 1 byte, 1 char
      Array.emptyByteArray,
      null)
    val texts = bytes.zipWithIndex.toDF("b", "i").select(col("i"), col("b").cast("string").as("text"))
    val got = texts.select(col("i"), Tokenizer.tokensCol(col("text")).as("t"),
        filter(split(lower(col("text")), " "), t => t =!= lit("")).as("want"))
      .orderBy("i").collect()
    assert(got.length == bytes.length)
    got.foreach(r => assert(r.get(1) == r.get(2), s"row ${r.getInt(0)}: ${r.get(1)} vs ${r.get(2)}"))
    assert(got(0).getSeq[String](1) == Seq("hello", "world", "foo-bar", "42", "zz"))
    assert(got(4).getSeq[String](1).isEmpty && got(5).isNullAt(1))
  }

  /** The cluster kernel: union-find roots against a BFS golden — each
    * node of a pair maps to the min id of its connected component.
    */
  test("components kernel ≡ BFS golden: random graphs, chains, cycles, stars, dup/reversed pairs") {
    def golden(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      var out = Map.empty[Long, Long]
      for (s <- adj.keys if !out.contains(s)) {
        var seen = Set(s)
        var frontier = List(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(seen)
          seen ++= frontier
        }
        out ++= seen.map(_ -> seen.min)
      }
      out
    }
    def check(name: String, pairs: Seq[(Long, Long)]): Unit = {
      val got = TextOps.componentRoots(pairs.toArray)
      assert(got.length == got.map(_._1).distinct.length, s"$name: a node listed twice")
      assert(got.toMap == golden(pairs), name)
    }
    val rnd = new scala.util.Random(14)
    for (seed <- 1 to 20) {
      val n = 2 + rnd.nextInt(60)
      val m = rnd.nextInt(2 * n)
      check(s"random graph $seed ($n nodes, $m pairs)",
        Seq.fill(m)((rnd.nextInt(n).toLong * 7 + 3, rnd.nextInt(n).toLong * 7 + 3)))
    }
    // a chain of diameter 9, ids descending along it and shuffled in order
    check("chain", rnd.shuffle((1L to 9L).map(i => (100L - i, 99L - i))))
    check("long chain, ascending", (1L until 5000L).map(i => (i, i + 1)))
    check("cycle", (0L until 8L).map(i => (10L + i, 10L + (i + 1) % 8)))
    check("star", (1L to 12L).map(i => (50L, 50L + 3 * i)) ++ Seq((60L, 7L)))
    check("duplicate and reversed pairs",
      Seq((5L, 3L), (3L, 5L), (5L, 3L), (8L, 5L), (5L, 8L), (2L, 2L)))
    assert(TextOps.componentRoots(Array.empty).isEmpty)
  }

  /** The operator must close chains transitively (5 reaches 1 over two
    * hops), leave isolated docs as singleton clusters, and be
    * insensitive to pair orientation.
    */
  private def chainClusters(): org.apache.spark.sql.DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (1L to 7L).toDF("doc_id")
    // chain 5-3, 3-1 (min label 1 must travel 2 hops to 5); pair 6-2
    // given in descending orientation; 4 and 7 isolated
    val pairs = Seq((5L, 3L), (1L, 3L), (6L, 2L)).toDF("a", "b")
    TextOps.dupClustersFrom(docs, pairs)
  }

  private val chainWant = Set((1L, 1L), (3L, 1L), (5L, 1L), (2L, 2L), (6L, 2L),
    (4L, 4L), (7L, 7L))

  test("dup clusters: transitive chain, singleton, orientation-blind") {
    val got = chainClusters().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == chainWant, s"got $got")
  }

  test("dup clusters: a call leaves no persistent RDD") {
    val sc = TestSpark.spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val clusters = chainClusters()
    val grown = sc.getPersistentRDDs.keySet -- before
    assert(grown.isEmpty, s"${grown.size} RDDs left resident by one call")
    assert(clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == chainWant)
  }

  test("dup clusters: more than EdgeBroadcastCap directed edges fail loudly") {
    val spark = TestSpark.spark
    val pairs = spark.range(TextOps.EdgeBroadcastCap / 2 + 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val e = intercept[IllegalArgumentException] {
      TextOps.dupClustersFrom(spark.range(3).toDF("doc_id"), pairs)
    }
    assert(e.getMessage.contains(s"${TextOps.EdgeBroadcastCap / 2 + 1} verified pairs") &&
      e.getMessage.contains(s"EdgeBroadcastCap = ${TextOps.EdgeBroadcastCap}"), e.getMessage)
  }

  /** Decontamination against the stride-derived benchmark split: the
    * operator must equal a driver-side golden recompute of distinct-
    * shingle overlaps, and never emit a benchmark doc.
    */
  test("decontaminate ≡ golden shingle-overlap model; benchmark side excluded") {
    val spark = TestSpark.spark
    val got = TextOps.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // golden model: same tokenizer/shingler, plain Scala sets
    def shingles(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), shingles(r.getString(1))))
    val stride = TextOps.BenchmarkIdStride
    val bench = docs.filter(_._1 % stride == 0).flatMap(_._2).toSet
    val want = docs.filter(_._1 % stride != 0)
      .map { case (id, sh) => (id, sh.count(bench.contains).toLong) }
      .filter(_._2 >= 1L).sortBy(_._1).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture vocabulary must produce overlaps")
    assert(got.forall(_._1 % stride != 0), "no benchmark doc may appear")
  }

  /** Repetition metrics ≡ golden per-doc 2-gram model, including the
    * degenerate <2-token docs (n_2grams = 0, fractions 0.0).
    */
  test("repetition ≡ golden 2-gram run-length model; degenerate docs safe") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b a b a b"),   // dup-heavy: grams [a b]*3 [b a]*2
      (2L, "x"),             // single token: no 2-grams
      (3L, ""),              // empty text
      (4L, "w1 w2 w3 w4")    // all distinct
    ).toDF("doc_id", "text")
    def golden(id: Long, text: String): (Long, Long, Long, Double, Double) = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val g = if (t.length < 2) Seq.empty[String]
        else t.sliding(2).map(_.mkString(" ")).toSeq
      val n2 = g.size.toLong
      if (n2 == 0L) (id, 0L, 0L, 0.0, 0.0)
      else {
        val counts = g.groupBy(identity).map(_._2.size.toLong)
        def r4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, n2, counts.size.toLong,
          r4((n2 - counts.size).toDouble / n2), r4(counts.max.toDouble / n2))
      }
    }
    val gotTiny = TextOps.repetitionFrom(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    val wantTiny = Seq((1L, "a b a b a b"), (2L, "x"), (3L, ""), (4L, "w1 w2 w3 w4"))
      .map { case (id, tx) => golden(id, tx) }
    assert(gotTiny == wantTiny, s"got $gotTiny")
    // and on the real fixture, every row matches the golden model
    val gotFix = TextOps.repetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    val wantFix = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => golden(r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(gotFix == wantFix)
  }

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Golden interval-union model for [[TextOps.substringDup]]:
    * positional w-windows, duplicated = corpus count ≥ 2 (intra-doc
    * repeats count), coverage = union of [pos, pos+w).
    */
  private def substringGolden(rows: Seq[(Long, String)], w: Int): Seq[(Long, Long, Long, Double)] = {
    def toks(s: String) = s.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
    val wins = rows.map { case (id, tx) =>
      val t = toks(tx)
      (id, t.length,
        if (t.length >= w) t.sliding(w).map(_.mkString(" ")).toVector else Vector.empty[String])
    }
    val counts = wins.flatMap(_._3).groupBy(identity).map { case (k, v) => (k, v.size) }
    wins.map { case (id, dl, ws) =>
      val dupPos = ws.zipWithIndex.collect { case (win, i) if counts(win) >= 2 => i }
      var cov = 0L
      var prev = -1
      dupPos.foreach { p => cov += (if (prev < 0) w.toLong else math.min(w, p - prev).toLong); prev = p }
      (id, math.max(dl - (w - 1), 0).toLong, dupPos.size.toLong,
        if (dl == 0) 0.0 else r4(cov.toDouble / dl))
    }.sortBy(_._1)
  }

  test("substring duplication ≡ golden interval-union model; short docs safe") {
    val spark = TestSpark.spark
    import spark.implicits._
    val w = TextOps.SubstringWindow
    // doc 1 repeats its own opening 5-gram at pos 6; doc 2 shares it;
    // doc 3 is below the window width; doc 4 is empty
    val tinyRows = Seq(
      (1L, "a b c d e f a b c d e"),
      (2L, "a b c d e x y z w v"),
      (3L, "p q r s"),
      (4L, ""))
    val gotTiny = TextOps.substringDupFrom(tinyRows.toDF("doc_id", "text"), w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotTiny == substringGolden(tinyRows, w), s"got $gotTiny")
    // overlapping dup windows in doc 1 must UNION, not sum: positions
    // {0, 6} cover 10 of 11 tokens (gap 6 > w contributes w twice)
    assert(gotTiny.head == ((1L, 7L, 2L, r4(10.0 / 11))))
    // and the fixture agrees row-for-row
    val fixRows = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val gotFix = TextOps.substringDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotFix == substringGolden(fixRows, w))
    assert(gotFix.exists(_._3 > 0), "fixture must contain duplicated substrings")
  }

  test("stratified sample ≡ golden md5 model; all strata drawn, decisions row-pure") {
    val spark = TestSpark.spark
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${TextOps.MixSalt}$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16).toDouble / 4503599627370496.0
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rates = TextOps.MixRates.toMap
    val docs = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = docs
      .filter { case (id, l) => u(id) < rates.getOrElse(l, TextOps.MixDefaultRate) }
      .map { case (id, l) => (id, l, r6(u(id))) }.sortBy(_._1)
    val got = TextOps.sampleMix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == want)
    // the mix draws from every stratum, at visibly different rates
    val kept = got.groupBy(_._2).map { case (l, g) => (l, g.size.toDouble) }
    val total = docs.groupBy(_._2).map { case (l, g) => (l, g.size.toDouble) }
    assert(total.keySet.forall(l => kept.getOrElse(l, 0.0) > 0), s"empty stratum: $kept")
    assert(kept("en") / total("en") > kept.getOrElse("de", 0.0) / total("de"),
      "en must be sampled at a visibly higher rate than de")
  }

  test("shingle novelty ≡ golden df model; df counts distinct docs") {
    val spark = TestSpark.spark
    def shingles(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), shingles(r.getString(1)))).toSeq
    val df = docs.flatMap(_._2).groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val want = docs.map { case (id, sh) =>
      val n = sh.size.toLong
      if (n == 0) (id, 0L, 0.0, 1.0)
      else (id, n, r4(sh.toSeq.map(df).sum.toDouble / n),
        r4(sh.count(s => df(s) == 1L).toDouble / n))
    }.sortBy(_._1)
    val got = TextOps.shingleNovelty(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == want)
    // non-degenerate on the fixture: novelty varies and boilerplate exists
    assert(got.map(_._4).distinct.size > 10, "novelty must vary across docs")
    assert(got.exists(_._3 > 2.0), "formulaic (high mean-df) docs must exist")
  }

  test("substring duplication / novelty plans: pair-free, partial-aggregated") {
    val spark = TestSpark.spark
    for ((nm, df) <- Seq(
        ("substringDup", TextOps.substringDup(spark, dir)),
        ("shingleNovelty", TextOps.shingleNovelty(spark, dir)))) {
      val plan = df.queryExecution.executedPlan.toString
      // the dup/df sets come from counts and equi-joins — the O(n²)
      // node a naive windows-self-join would introduce may not appear
      assert(!plan.contains("CartesianProduct"), s"$nm plan has a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$nm plan has a nested-loop join")
      // the hot groupBy (window/shingle counts) must combine map-side:
      // a partial_count before the exchange, not raw rows through it
      assert(plan.contains("partial_count") || plan.contains("partial count"),
        s"$nm count aggregation is not map-side combined")
    }
  }

  test("explode consumers read materialized arrays, never re-derive them") {
    // InferFiltersFromGenerate synthesizes size(..)>0 from an explode
    // and pushes it to the scan; if the array frame is NOT checkpointed
    // first, the pushed filter re-derives the whole tokenize+shingle/
    // window expression interpreted per row (measured 10.1 s → 0.19 s
    // at sf0.1 — the r6 fix). Guard: the executed plan must read the
    // arrays from a checkpoint scan, and no node of the main plan may
    // carry the array-derivation expression (its fingerprint is the
    // transform(sequence(..)) call that builds shingles/windows/lines).
    val spark = TestSpark.spark
    for ((nm, df) <- Seq(
        ("substringDup", TextOps.substringDup(spark, dir)),
        ("substringDedup", TextOps.substringDedup(spark, dir)),
        ("shingleNovelty", TextOps.shingleNovelty(spark, dir)),
        ("sourceOverlap", TextOps.sourceOverlap(spark, dir)),
        ("lineDedup", TextOps.lineDedup(spark, dir)),
        ("jaccardPairs", TextOps.jaccardPairs(spark, dir)),
        ("minhashLsh", TextOps.minhashLsh(spark, dir)),
        ("decontaminate", TextOps.decontaminate(spark, dir)),
        ("cleanPipeline", TextOps.cleanPipeline(spark, dir)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"),
        s"$nm explode no longer reads a checkpointed array frame")
      assert(!plan.contains("transform(sequence"),
        s"$nm plan re-derives the array expression (checkpoint lost or " +
          "filter pushdown resurfaced)")
    }
  }

  /** The one rebalance rule: a corpus read as fewer splits than the
    * session's default parallelism is spread to it before derivation;
    * one read as at least that many splits is used as read.
    */
  test("corpus rows are rebalanced only when read as fewer splits than cores") {
    val spark = TestSpark.spark
    val par = spark.sparkContext.defaultParallelism
    val docs = graft.corpus.Corpus.documents(spark, dir).select("doc_id", "text")
    assert(docs.rdd.getNumPartitions < par, "the fixture corpus is one split")
    assert(TextOps.derive(docs, size(col("t")).as("n")).rdd.getNumPartitions == par)
    def roundRobin(d: org.apache.spark.sql.DataFrame): Boolean =
      TextOps.spread(d).queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning")
    assert(roundRobin(docs))
    val many = java.nio.file.Files.createTempDirectory("graft-splits-").toString
    try {
      docs.repartition(par).write.parquet(s"$many/documents.parquet")
      val manyDocs = graft.corpus.Corpus.documents(spark, many).select("doc_id", "text")
      assert(manyDocs.rdd.getNumPartitions >= par)
      assert(!roundRobin(manyDocs), "a corpus of >= defaultParallelism splits was shuffled")
      assert(!TextOps.qualityScore(spark, many).queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning"))
    } finally graft.operators.StreamingOps.deleteRec(many)
  }

  /** Golden canonical-removal model for [[TextOps.substringDedup]]:
    * per duplicated w-window the lexicographically smallest
    * (doc_id, pos) occurrence survives; every other occurrence drops
    * its [pos, pos+w) span; the cleaned doc is the kept tokens in
    * position order.
    */
  private def dedupGolden(rows: Seq[(Long, String)], w: Int): Seq[(Long, Long, Long, String)] = {
    def toks(s: String) = s.toLowerCase.split(" ").filter(_.nonEmpty).toVector
    val tokd = rows.map { case (id, tx) => (id, toks(tx)) }
    val occ = tokd.flatMap { case (id, t) =>
      if (t.length >= w) (0 to t.length - w).map(p => (t.slice(p, p + w).mkString(" "), id, p))
      else Seq.empty
    }
    val byWin = occ.groupBy(_._1).filter(_._2.size >= 2)
    val drops: Map[Long, Set[Int]] = byWin.values.toSeq.flatMap { os =>
      val canon = os.map(o => (o._2, o._3)).min
      os.collect { case (_, id, p) if (id, p) != canon =>
        (p until p + w).map(pp => (id, pp)) }.flatten
    }.groupBy(_._1).map { case (id, ps) => (id, ps.map(_._2).toSet) }
    tokd.map { case (id, t) =>
      val drop = drops.getOrElse(id, Set.empty)
      val kept = t.zipWithIndex.collect { case (tok, p) if !drop(p) => tok }
      (id, t.length.toLong, (t.length - kept.length).toLong, kept.mkString(" "))
    }.sortBy(_._1)
  }

  test("substring dedup ≡ golden canonical-removal model; overlapping spans union") {
    val spark = TestSpark.spark
    import spark.implicits._
    val w = TextOps.SubstringWindow
    // docs 1/2 share doc 1's opening window (doc 1 also self-repeats it);
    // docs 5/6 share a 6-token run → two OVERLAPPING duplicated windows;
    // doc 3 is below the window width; doc 4 is empty
    val tinyRows = Seq(
      (1L, "a b c d e f a b c d e"),
      (2L, "a b c d e x y z w v"),
      (3L, "p q r s"),
      (4L, ""),
      (5L, "k l m n o p q r"),
      (6L, "z k l m n o p y"))
    val got = TextOps.substringDedupFrom(tinyRows.toDF("doc_id", "text"), w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == dedupGolden(tinyRows, w), s"got $got")
    // pinned semantics: doc 1 keeps its canonical occurrence and loses the
    // self-repeat; doc 2 loses the shared opening; doc 6's two overlapping
    // drop spans UNION (6 tokens removed, not 10)
    assert(got(0) == ((1L, 11L, 5L, "a b c d e f")))
    assert(got(1) == ((2L, 10L, 5L, "x y z w v")))
    assert(got(2) == ((3L, 4L, 0L, "p q r s")))
    assert(got(3) == ((4L, 0L, 0L, "")))
    assert(got(5) == ((6L, 8L, 6L, "z y")))
    // and the fixture agrees row-for-row with the golden model
    val fixRows = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val gotFix = TextOps.substringDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(gotFix == dedupGolden(fixRows, w))
    assert(gotFix.exists(_._3 > 0), "fixture must contain removable duplicated spans")
    // consistency with the MEASUREMENT pass: a doc loses tokens to the
    // dedup iff q56 reported duplicated coverage, unless it is the sole
    // canonical holder of all its duplicated windows
    val dup = TextOps.substringDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    gotFix.foreach { case (id, _, removed, _) =>
      assert(removed == 0 || dup(id) > 0.0,
        s"doc $id lost tokens but q56 saw no duplicated coverage") }
  }

  test("source overlap ≡ golden jaccard model; zero-shingle pairs omitted") {
    val spark = TestSpark.spark
    def shingles(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val bySrc = graft.corpus.Corpus.documents(spark, dir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), shingles(r.getString(1)))).toSeq
      .groupBy(_._1).map { case (s, g) => (s, g.flatMap(_._2).toSet) }
    val want = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      shared = (bySrc(a) & bySrc(b)).size if shared > 0
    } yield (a, b, shared.toLong,
        r4(shared.toDouble / (bySrc(a).size + bySrc(b).size - shared))))
      .toSeq.sortBy(p => (p._1, p._2))
    val got = TextOps.sourceOverlap(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want, s"got $got")
    // non-degenerate: the fixture's sources share boilerplate but are not
    // mirrors — at least one pair overlaps, none at jaccard 1.0
    assert(got.nonEmpty, "the fixture's sources must share some shingles")
    assert(got.forall(_._4 < 1.0), "no source pair should be a full mirror")
  }

  test("dedup / source-overlap plans: pair-free in documents, partial-aggregated") {
    val spark = TestSpark.spark
    for ((nm, df) <- Seq(
        ("substringDedup", TextOps.substringDedup(spark, dir)),
        ("sourceOverlap", TextOps.sourceOverlap(spark, dir)))) {
      val plan = df.queryExecution.executedPlan.toString
      // q60's self-join is an equi-join on shingle (output ≤ sources² per
      // key); q59's are equi/anti joins on (win) and (doc_id, p) — neither
      // may plan a cartesian or nested-loop node
      assert(!plan.contains("CartesianProduct"), s"$nm plan has a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$nm plan has a nested-loop join")
      assert(plan.contains("partial_count") || plan.contains("partial count"),
        s"$nm count aggregation is not map-side combined")
    }
  }

  test("line dedup ≡ golden boilerplate model; only df≥threshold lines cut") {
    val spark = TestSpark.spark
    val docs = graft.corpus.Corpus.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // golden model: same line synthesis, line→distinct-doc counts,
    // drop every occurrence of a line at or above the threshold
    def lines(source: String, text: String): Seq[String] = {
      val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val body = t.grouped(TextOps.LineLen).map(_.mkString(" ")).toSeq
      (s"subscribe to the $source newsletter" +: body) :+
        s"copyright $source all rights reserved"
    }
    val df = scala.collection.mutable.Map[String, Set[Long]]()
    for ((id, src, text) <- docs; l <- lines(src, text).distinct)
      df(l) = df.getOrElse(l, Set.empty) + id
    val boiler = df.collect {
      case (l, ds) if ds.size >= TextOps.BoilerplateDf => l }.toSet
    assert(boiler.nonEmpty, "per-source header/footer must clear the threshold")
    val gold = docs.map { case (id, src, text) =>
      val ls = lines(src, text)
      val kept = ls.filterNot(boiler)
      id -> (ls.length.toLong, (ls.length - kept.length).toLong,
        kept.mkString("\n"))
    }.toMap
    val got = TextOps.lineDedup(spark, dir).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val (nl, nd, ct) = gold(r.getLong(0))
      assert(r.getLong(1) == nl && r.getLong(2) == nd,
        s"doc ${r.getLong(0)}: counts ${r.getLong(1)}/${r.getLong(2)} vs gold $nl/$nd")
      assert(r.getString(3) == ct, s"doc ${r.getLong(0)} clean_text mismatch")
      // header/footer never survive; every doc loses at least both
      assert(!r.getString(3).contains("subscribe to the") &&
        !r.getString(3).contains("copyright"))
      assert(r.getLong(2) >= 2)
    }
    // plan shape: anti/left equi-joins only, no pair space, no window
    val plan = TextOps.lineDedup(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "line dedup plan is pair-free")
    assert(!plan.contains("Window"), "no window node")
  }

  test("clean pipeline: verdicts consistent with member stages, first-fail order") {
    val spark = TestSpark.spark
    val verdicts = TextOps.cleanPipeline(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // member stages, from their own (separately golden-tested) outputs
    val canon = TextOps.dedupExact(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clus = TextOps.dupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cont = TextOps.decontaminate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val qual = TextOps.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val rep = TextOps.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(verdicts.size == canon.size, "one verdict per doc")
    verdicts.foreach { case (id, v) =>
      val expected =
        if (id % TextOps.BenchmarkIdStride == 0) "benchmark"
        else if (canon(id) != id) "exact_dup"
        else if (clus(id) != id) "near_dup"
        else if (cont(id)) "contaminated"
        else if (qual(id) < TextOps.CleanQualityFloor) "low_quality"
        else if (rep(id) > TextOps.CleanRepetitionCap) "repetitive"
        else "kept"
      assert(v == expected, s"doc $id: $v vs first-fail $expected")
    }
    // the composition is only meaningful if multiple stages fire
    val hist = verdicts.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(hist.contains("kept") && hist.contains("benchmark") &&
      hist.contains("low_quality"), s"stage mix too thin: $hist")
  }
}
