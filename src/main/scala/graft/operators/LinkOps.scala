package graft.operators

import graft.corpus.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph operators over the north-rule page shape: href
  * extraction from the html bytes, fixed-point PageRank, and
  * anchor-text aggregation — the classic Common-Crawl-side workloads
  * (host graphs, centrality-based quality priors, anchor-text index
  * enrichment) that complement the content-keyed curation family in
  * [[TextOps]]/[[WebOps]]. The reference curates metric spaces, not
  * crawls, so these are pure pipeline surface; their *gating*
  * discipline is the repo's own: a two-sided oracle (Spark parses the
  * links out of real markup; DuckDB re-derives the identical edge set
  * from doc_id arithmetic, never seeing the html) and integer-exact
  * arithmetic wherever a float sum would be partitioning-dependent.
  *
  * The fixture corpus has no links ([[Corpus.pages]] html is a bare
  * title+paragraph), so [[pagesLinked]] appends a deterministic
  * `<nav>` block per page — three rel-tagged anchors that are a pure
  * function of doc_id (tree parent, mod-10 hub, predecessor). The hub
  * links give the graph the in-degree skew a real host graph has
  * (pages 0–9 collect ~n/10 in-links each), which is exactly the key
  * distribution PageRank's aggregation has to survive.
  *
  * Scale shapes:
  *  - extraction (q68) is per-row codegen'd regexp built-ins + one
  *    explode whose output is bounded by links-per-page — map-only, no
  *    shuffle, fuses into the page scan;
  *  - PageRank (q69) shuffles the EDGE table once (repartition by src,
  *    then cached — the per-iteration join reuses that partitioning, so
  *    each of the 10 iterations shuffles only the n-row rank vector and
  *    the partially-aggregated contributions; the hub skew lands on a
  *    map-side-combinable SUM of longs, not a row explosion);
  *  - anchor aggregation (q70) is one hash aggregate keyed by target
  *    doc with collect-then-normalize set semantics.
  */
object LinkOps {

  /** Fixed-point scale: 1 unit = 1e-12 of total rank mass. Chosen so
    * every intermediate (85·r, 85·dangling, 15·S) stays far below
    * Long.MaxValue at any corpus size whose per-node rank fits the
    * unit grid (85·S ≈ 8.5e13 ≪ 9.2e18).
    */
  val PrScale: Long = 1000000000000L

  /** Damping = 85/100, the canonical 0.85 — kept as an integer pair so
    * the recurrence is exact.
    */
  val PrDampNum: Long = 85L
  val PrDen: Long = 100L

  val PrIters: Int = 10

  /** The north-rule page table with a deterministic `<nav>` link block
    * appended inside `<body>` (AFTER the last `</p>`, so
    * [[graft.corpus.Extractor.extractText]]'s byte-identity invariant
    * is untouched). Per doc d the nav carries, in this order:
    *  - `rel="parent"` → d div 2   (d > 0; binary-tree backbone)
    *  - `rel="hub"`    → d mod 10  (always; pages 0–9 become hubs —
    *    for d < 10 this is a SELF-link, kept in the markup because
    *    real pages self-link, filtered by the graph consumers)
    *  - `rel="prev"`   → d − 1     (d > 0; chain)
    * Anchor text is `p<dst> <rel> link`. Everything is a pure column
    * function of doc_id — the DuckDB oracles rebuild the edge set from
    * the same arithmetic without parsing markup.
    */
  def pagesLinked(spark: SparkSession, sfDir: String): DataFrame = {
    def aTag(dst: Column, rel: String): Column =
      concat(lit("<a href=\"https://host"), pmod(dst, lit(10)),
        lit(".example/p"), dst, lit("\" rel=\"" + rel + "\">p"), dst,
        lit(s" $rel link</a>"))
    val d = col("doc_id")
    val nav = concat(
      lit("<nav>"),
      when(d > 0, aTag(expr("doc_id div 2"), "parent")).otherwise(lit("")),
      aTag(pmod(d, lit(10)), "hub"),
      when(d > 0, aTag(d - 1, "prev")).otherwise(lit("")),
      lit("</nav>"))
    Corpus.pages(spark, sfDir, extraBody = nav)
  }

  /** The identical link set as a DuckDB CTE body over `documents`:
    * (src_doc, dst_doc, rel, anchor). Derivation is pure doc_id
    * arithmetic — deliberately independent of the markup path the
    * Spark side parses.
    */
  private def linksSql: String =
    """SELECT doc_id AS src_doc, doc_id // 2 AS dst_doc,
      |       'parent' AS rel,
      |       'p' || CAST(doc_id // 2 AS VARCHAR) || ' parent link' AS anchor
      |FROM documents WHERE doc_id > 0
      |UNION ALL
      |SELECT doc_id, doc_id % 10, 'hub',
      |       'p' || CAST(doc_id % 10 AS VARCHAR) || ' hub link'
      |FROM documents
      |UNION ALL
      |SELECT doc_id, doc_id - 1, 'prev',
      |       'p' || CAST(doc_id - 1 AS VARCHAR) || ' prev link'
      |FROM documents WHERE doc_id > 0""".stripMargin

  /** q68: link extraction — every `<a href rel>` anchor in the page
    * html, parsed from the BYTES (decode → tag regexp → per-tag group
    * extracts; src identified by parsing the page's own url, never by
    * a carried id column). Output one row per link occurrence:
    * (src_doc, dst_doc, rel, anchor). Self-links included — this is
    * measurement, not graph policy ([[pageRank]] filters them).
    *
    * Scale: per-row built-ins + an explode bounded by links-per-page
    * (≤ 3 here, ≤ O(100) on real pages) — map-only, shuffle-free, and
    * the html decode feeds straight from the scan.
    */
  def linkGraph(spark: SparkSession, sfDir: String): DataFrame =
    links(spark, sfDir).orderBy("src_doc", "rel")

  /** [[linkGraph]] without the oracle-gate sort — the form the graph
    * consumers build on (a global sort under a distinct/aggregate is
    * pure waste).
    */
  private def links(spark: SparkSession, sfDir: String): DataFrame = {
    val page = decode(col("html"), "UTF-8")
    val tagRe = "<a href=\"[^\"]*\" rel=\"[^\"]*\">[^<]*</a>"
    pagesLinked(spark, sfDir)
      .select(
        regexp_extract(col("url"), "/p([0-9]+)$", 1).cast("long").as("src_doc"),
        explode(regexp_extract_all(page, lit(tagRe), lit(0))).as("tag"))
      .select(
        col("src_doc"),
        regexp_extract(col("tag"), "href=\"[^\"]*/p([0-9]+)\"", 1)
          .cast("long").as("dst_doc"),
        regexp_extract(col("tag"), "rel=\"([^\"]*)\"", 1).as("rel"),
        regexp_extract(col("tag"), ">([^<]*)</a>", 1).as("anchor"))
  }

  def linkGraphOracleSql: String =
    s"""WITH links AS ($linksSql)
       |SELECT CAST(src_doc AS BIGINT) AS src_doc,
       |       CAST(dst_doc AS BIGINT) AS dst_doc, rel, anchor
       |FROM links ORDER BY src_doc, rel""".stripMargin

  /** The PageRank edge set: distinct (src, dst), self-links dropped,
    * parsed end-to-end from the html via [[linkGraph]].
    */
  private def prEdges(spark: SparkSession, sfDir: String): DataFrame =
    links(spark, sfDir)
      .select(col("src_doc").as("src"), col("dst_doc").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** q69: PageRank over the extracted link graph — damping 0.85,
    * [[PrIters]] iterations, dangling mass redistributed uniformly,
    * uniform start. Computed in FIXED-POINT integer arithmetic
    * (1 unit = 1/[[PrScale]] of total mass): every term of the
    * recurrence
    *
    *   r'(v) = (15·S)/(100·n) + Σ_{s→v} (85·r(s))/(100·od(s))
    *           + (85·D)/(100·n)        (D = Σ rank of out-degree-0 nodes)
    *
    * is a LONG multiply + truncating divide, so partial-aggregation
    * order cannot perturb a single bit — the property the repo's
    * rounding-grid discipline buys for BM25 scores, bought here
    * exactly, because a double-summed PageRank over a skew-hub graph
    * would differ between engines in the last ulps and a 1e-8 output
    * grid could still flip at a rounding boundary. The per-floor mass
    * leak is < 1 unit per term: n units at the S/n start, then ≤
    * (2n+E) units per iteration — ≤ n + iters·(2n+E) total ≈ 4e-8 of
    * mass at the fixture (asserted in LinkOpsSpec).
    *
    * Scale shape: the edge table is shuffled ONCE (repartition by src,
    * cached — the iterated join reuses the cached partitioning), so
    * each iteration moves only the n-row rank vector plus map-side
    * combined contributions; the mod-10 hub skew lands on a SUM of
    * longs, partially aggregated before the exchange. Rank vectors are
    * localCheckpoint'ed per iteration to truncate lineage (on a real
    * cluster with executor churn, swap for reliable `checkpoint` on
    * the same cadence). The dangling scalar is one tiny aggregate per
    * iteration — O(n) scan, O(1) to the driver, which is the floor any
    * PageRank pays.
    */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = PrIters): DataFrame = {
    val edges = prEdges(spark, sfDir).repartition(col("src")).persist()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val edgesOd = edges.join(outdeg, "src").persist()
    // pre-partitioned on the join key: the per-iteration rank update
    // joins nodes ⋈ contrib on doc_id, and contrib arrives hash-
    // partitioned by doc_id from its aggregation — caching nodes in
    // that same partitioning keeps the static side out of the
    // per-iteration exchange entirely
    val nodes = Corpus.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"))
      .repartition(col("doc_id")).persist()
    try {
      val n = nodes.count()
      require(n > 0, "pageRank: empty corpus")
      val tele = (15L * PrScale) / (PrDen * n)
      val outdegNodes = outdeg.select(col("src").as("doc_id")).persist()
      try {
        // keep only the latest rank vector resident: after the new
        // checkpoint materializes, drop the previous iteration's
        // (see [[unpersistCheckpoint]])
        var ranks = nodes.select(col("doc_id"), lit(PrScale / n).as("r"))
          .localCheckpoint(true)
        for (_ <- 1 to iters) {
          // the dangling mass rides along as a 1-row frame (broadcast
          // NLJ) instead of a separate driver action: one job per
          // iteration — the eager checkpoint — and because `ranks` is a
          // materialized checkpoint, its two references here are two
          // cheap scans, never a recompute
          val dangling = ranks
            .join(outdegNodes, Seq("doc_id"), "left_anti")
            .agg(coalesce(sum("r"), lit(0L)).as("dang"))
          val contrib = edgesOd
            .join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select(col("dst").as("doc_id"),
              expr(s"($PrDampNum * r) div ($PrDen * od)").as("c"))
            .groupBy("doc_id").agg(sum("c").as("c"))
          val prev = ranks
          ranks = nodes
            .join(contrib, Seq("doc_id"), "left")
            .crossJoin(dangling)
            .select(col("doc_id"),
              (lit(tele) + coalesce(col("c"), lit(0L)) +
                expr(s"($PrDampNum * dang) div ($PrDen * ${n}L)")).as("r"))
            .localCheckpoint(true)
          unpersistCheckpoint(prev)
        }
        ranks.select(col("doc_id"), col("r").as("rank_u")).orderBy("doc_id")
      } finally outdegNodes.unpersist(false)
    } finally {
      edges.unpersist(false); edgesOd.unpersist(false); nodes.unpersist(false)
    }
  }

  /** The identical recurrence as a DuckDB query: the edge arithmetic
    * from [[linksSql]], out-degrees, then [[PrIters]] UNROLLED
    * iteration CTEs (the fft oracle's k-step-chain pattern) — integer
    * `//` division matches the Spark `div` exactly on the
    * all-positive operands both engines see. Every CTE is
    * `AS MATERIALIZED`: each r_k is referenced twice (contributions +
    * dangling scalar) and chained 10 deep, so an inlining planner
    * would re-evaluate the prefix exponentially (observed: the
    * un-hinted form does not return at fixture scale; materialized it
    * runs in ~0.4 s).
    */
  def pageRankOracleSql(iters: Int = PrIters): String = {
    val S = PrScale; val D = PrDampNum; val P = PrDen
    val header =
      s"""WITH links AS MATERIALIZED ($linksSql),
         |edges AS MATERIALIZED (SELECT DISTINCT src_doc AS src, dst_doc AS dst
         |          FROM links WHERE src_doc <> dst_doc),
         |outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
         |nodes AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
         |r0 AS MATERIALIZED (SELECT doc_id, $S // (SELECT n FROM nn) AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.doc_id,
         |         ((15 * $S) // ($P * (SELECT n FROM nn)))
         |         + COALESCE(c.c, 0)
         |         + (($D * (SELECT COALESCE(sum(r.r), 0) FROM r$p r
         |                   LEFT JOIN outdeg o ON r.doc_id = o.src
         |                   WHERE o.src IS NULL)) // ($P * (SELECT n FROM nn))) AS r
         |  FROM nodes nd
         |  LEFT JOIN (SELECT e.dst AS doc_id, SUM(($D * r.r) // ($P * o.od)) AS c
         |             FROM edges e
         |             JOIN r$p r ON e.src = r.doc_id
         |             JOIN outdeg o ON o.src = e.src
         |             GROUP BY e.dst) c ON nd.doc_id = c.doc_id)""".stripMargin
    }
    (Seq(header) ++ steps).mkString(",\n") +
      s"\nSELECT doc_id, CAST(r AS BIGINT) AS rank_u FROM r$iters ORDER BY doc_id"
  }

  /** q70: anchor-text aggregation — for every link TARGET the in-link
    * count, distinct linking pages, and the distinct anchor vocabulary
    * (sorted, space-joined): the classic index-enrichment signal
    * (anchor terms describe the target better than its own body; they
    * are what a fulltext index over a crawl indexes ALONGSIDE the
    * extracted text). Self-links excluded — a page's own anchors are
    * not evidence about it.
    *
    * Scale: counts are one map-side-combinable hash aggregate keyed by
    * dst_doc; the vocabulary is pre-aggregated to DISTINCT (dst_doc,
    * token) rows BEFORE any list is collected, so the per-target
    * collect_list is bounded by the target's anchor VOCABULARY, never
    * by its in-degree — a mega-hub whose 10^9 in-links all say
    * "click here" contributes two rows, not 10^9 list elements at one
    * reducer (the r5 verdict's unbounded-hub finding; the uncapped
    * flatten(collect_list(...)) form collected every in-link's tokens
    * first and deduplicated after).
    */
  def anchorText(spark: SparkSession, sfDir: String): DataFrame = {
    def inl = links(spark, sfDir).filter(col("src_doc") =!= col("dst_doc"))
    val agg = inl
      .groupBy(col("dst_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_inlinks"),
        countDistinct(col("src_doc")).as("n_srcs"))
    val voc = inl
      .select(col("dst_doc").as("doc_id"),
        explode(split(col("anchor"), " ")).as("tok"))
      .distinct()
      .groupBy("doc_id")
      .agg(array_join(array_sort(collect_list(col("tok"))), " ")
        .as("anchor_terms"))
    agg.join(voc, "doc_id")
      .select(col("doc_id").cast("long"), col("n_inlinks").cast("long"),
        col("n_srcs").cast("long"), col("anchor_terms"))
      .orderBy("doc_id")
  }

  def anchorTextOracleSql: String =
    s"""WITH links AS ($linksSql),
       |inl AS (SELECT * FROM links WHERE src_doc <> dst_doc),
       |agg AS (SELECT dst_doc AS doc_id, count(*) AS n_inlinks,
       |               count(DISTINCT src_doc) AS n_srcs
       |        FROM inl GROUP BY dst_doc),
       |tok AS (SELECT DISTINCT doc_id, tok FROM (
       |          SELECT dst_doc AS doc_id,
       |                 unnest(string_split(anchor, ' ')) AS tok
       |          FROM inl)),
       |voc AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tok) AS anchor_terms
       |        FROM tok GROUP BY doc_id)
       |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
       |       CAST(a.n_inlinks AS BIGINT) AS n_inlinks,
       |       CAST(a.n_srcs AS BIGINT) AS n_srcs, v.anchor_terms
       |FROM agg a JOIN voc v ON a.doc_id = v.doc_id
       |ORDER BY a.doc_id""".stripMargin
}
