package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry of driver-visible queries and their DuckDB oracles.
  * One entry per implemented operator from SURVEY.md §2; the driver
  * compares each against its oracle SQL at sf0.01 (CORRECTNESS gate).
  */
object Registry {

  type Q = (SparkSession, String) => DataFrame

  /** name → (spark, sfDir) => result. Names sort in execution order. */
  def queries: Map[String, Q] = Map(
    "q01_bm25_exact" -> ((s, dir) => graft.operators.ExactSearch.topK(s, dir)),
    "q02_bm25_topk_agg" -> ((s, dir) => graft.operators.TopKSearch.topK(s, dir)),
    "q03_bm25_wand" -> ((s, dir) => graft.index.Wand.topKOnCorpus(s, dir)),
    "q04_allknn" -> ((s, dir) => graft.operators.VectorOps.allKnn(s, dir)),
    "q05_closestpair" -> ((s, dir) => graft.operators.VectorOps.closestPair(s, dir)),
    "q06_neardup_embed" -> ((s, dir) => graft.operators.VectorOps.nearDup(s, dir)),
    "q07_fft_centers" -> ((s, dir) => graft.operators.CentersOps.fft(s, dir)),
    "q08_distsample" -> ((s, dir) => graft.operators.VectorOps.distSample(s, dir)),
    "q09_hsp" -> ((s, dir) => graft.operators.CentersOps.hsp(s, dir)),
    "q10_rerank" -> ((s, dir) => graft.operators.VectorOps.rerank(s, dir)),
    "q11_neardup_seq" -> ((s, dir) => graft.operators.NearDupSeq.nearDupSeq(s, dir)),
    "q12_dedup_exact" -> ((s, dir) => graft.operators.TextOps.dedupExact(s, dir)),
    "q13_jaccard_pairs" -> ((s, dir) => graft.operators.TextOps.jaccardPairs(s, dir)),
    "q14_minhash_lsh" -> ((s, dir) => graft.operators.TextOps.minhashLsh(s, dir)),
    "q15_simhash" -> ((s, dir) => graft.operators.TextOps.simhashPairs(s, dir)),
    "q16_langid" -> ((s, dir) => graft.operators.TextOps.langId(s, dir)),
    "q17_quality" -> ((s, dir) => graft.operators.TextOps.qualityScore(s, dir)),
    "q18_token_count" -> ((s, dir) => graft.operators.TextOps.tokenCount(s, dir)),
    "q19_fingerprint" -> ((s, dir) => graft.operators.TextOps.fingerprint(s, dir)),
    "q20_postings_export" -> ((s, dir) => graft.operators.IndexExport.postingsExport(s, dir)),
    "q21_ann_lsh" -> ((s, dir) => graft.operators.AnnOps.annLsh(s, dir)),
    // dials pinned (nlist=16, nprobe=8, sample covers every fixture
    // corpus) so the whole pipeline sits under a STATIC DuckDB oracle
    // — the fft unroll count is baked into the SQL, so the
    // corpus-derived-nlist form cannot share it (that path stays
    // recall-gated in AnnSpec, which runs annIvf with derived dials)
    "q22_ann_ivf" -> ((s, dir) =>
      graft.operators.AnnOps.annIvf(s, dir, 5, nlist = 16, nprobe = 8,
        sampleFactor = 4096)),
    "q23_multimodal_meta" -> ((s, dir) => graft.operators.MultimodalOps.mediaMeta(s, dir)),
    "q24_events_window" -> ((s, dir) => graft.operators.StreamingOps.windowedEventCounts(s, dir)),
    "q25_permuted_knn" -> ((s, dir) => graft.operators.IndexExport.permutedAllKnn(s, dir)),
    "q26_recall_metric" -> ((s, dir) => graft.operators.AnnOps.recallReport(s, dir)),
    "q27_vector_distances" -> ((s, dir) => graft.operators.DistanceOps.vectorDistances(s, dir)),
    "q28_text_distances" -> ((s, dir) => graft.operators.DistanceOps.textDistances(s, dir)),
    "q29_sq_u8_knn" -> ((s, dir) => graft.operators.DistanceOps.sqU8Knn(s, dir)),
    "q30_sessionize" -> ((s, dir) => graft.operators.StreamingOps.sessionize(s, dir)),
    "q31_manifest" -> ((s, dir) => graft.operators.IndexExport.manifestExport(s, dir)),
    "q32_sq_u4_knn" -> ((s, dir) => graft.operators.DistanceOps.sqU4Knn(s, dir)),
    "q33_sq_u2_knn" -> ((s, dir) => graft.operators.DistanceOps.sqU2Knn(s, dir)),
    "q34_random_proj" -> ((s, dir) => graft.operators.VectorOps.randomProj(s, dir)),
    "q35_cloud_distances" -> ((s, dir) => graft.operators.DistanceOps.cloudDistances(s, dir)),
    "q36_events_filesink" -> ((s, dir) => graft.operators.StreamingOps.windowedEventCountsFileSink(s, dir)),
    "q37_wand_merged" -> ((s, dir) => graft.index.Wand.topKOnMergedCorpus(s, dir)),
    "q38_hsp_distal" -> ((s, dir) => graft.operators.CentersOps.hspDistal(s, dir)),
    "q39_sq_minc_knn" -> ((s, dir) => graft.operators.DistanceOps.sqMinCKnn(s, dir)),
    "q40_random_proj_qr" -> ((s, dir) => graft.operators.VectorOps.randomProjQR(s, dir)),
    "q41_wand_from_pages" -> ((s, dir) => graft.index.Wand.topKOnPagesCorpus(s, dir)),
    "q42_wand_eps_hints" -> ((s, dir) => graft.index.Wand.topKOnCorpusEpsHints(s, dir)),
    "q43_wand_scheduled" -> ((s, dir) => graft.index.Wand.topKOnScheduledIngest(s, dir)),
    "q44_ann_persisted" -> ((s, dir) => graft.index.AnnIndex.annPersistedOnCorpus(s, dir)),
    "q45_sq_ivf_persisted" -> ((s, dir) => graft.index.AnnIndex.sqIvfPersistedOnCorpus(s, dir)),
    "q46_searchbatch_external" -> ((s, dir) => graft.operators.VectorOps.searchBatchOnCorpus(s, dir)),
    "q47_ivf_f64_persisted" -> ((s, dir) => graft.index.AnnIndex.ivfF64PersistedOnCorpus(s, dir)),
    "q48_closestpair_lsh" -> ((s, dir) => graft.operators.AnnOps.closestPairLsh(s, dir)),
    "q49_neardup_lsh" -> ((s, dir) => graft.operators.AnnOps.nearDupLsh(s, dir)),
    "q50_lsh_multiprobe" -> ((s, dir) => graft.index.AnnIndex.lshMultiprobePersistedOnCorpus(s, dir)),
    // the reference's filterblocks=false config (testneardup.jl:5-56):
    // intra-block coverage skipped, every prior-uncovered candidate
    // becomes a center
    "q51_neardup_seq_nofilter" -> ((s, dir) =>
      graft.operators.NearDupSeq.nearDupSeq(s, dir, filterBlocks = false)),
    // streaming dedup-on-ingest: stateful first-arrival keep/drop
    // decisions, checkpoint-resumed across two AvailableNow runs
    "q52_stream_dedup" -> ((s, dir) => graft.operators.StreamingOps.streamDedup(s, dir)),
    // fuzzy-dedup cluster assignment: connected components over the
    // verified MinHash-LSH pairs via a driver-side union-find
    "q53_dup_clusters" -> ((s, dir) => graft.operators.TextOps.dupClusters(s, dir)),
    // benchmark decontamination: distinct-shingle overlap against the
    // deterministic held-out stride split (broadcast benchmark side)
    "q54_decontaminate" -> ((s, dir) => graft.operators.TextOps.decontaminate(s, dir)),
    // Gopher-style repetition signals: duplicate / top 2-gram fractions
    // via a per-row sorted run-length fold (no shuffle)
    "q55_repetition" -> ((s, dir) => graft.operators.TextOps.repetition(s, dir)),
    // exact substring-duplication coverage (Lee et al. 2022): positional
    // w-token windows, duplicated = seen ≥2 times anywhere, per-doc
    // interval-union token coverage
    "q56_substring_dup" -> ((s, dir) => graft.operators.TextOps.substringDup(s, dir)),
    // deterministic stratified sampling: per-lang keep rates over a
    // per-row md5-derived uniform — the data-mixing pass
    "q57_sample_mix" -> ((s, dir) => graft.operators.TextOps.sampleMix(s, dir)),
    // corpus-level boilerplate/novelty signal: mean shingle df +
    // unique-shingle fraction per doc
    "q58_shingle_novelty" -> ((s, dir) => graft.operators.TextOps.shingleNovelty(s, dir)),
    // the substring-dedup REMOVAL pass (q56 measures; this cuts):
    // canonical occurrence survives, every other duplicated span is
    // dropped, cleaned text rebuilt in position order
    "q59_substring_dedup" -> ((s, dir) => graft.operators.TextOps.substringDedup(s, dir)),
    // cross-source contamination matrix: shared shingles + vocabulary
    // Jaccard per source pair
    "q60_source_overlap" -> ((s, dir) => graft.operators.TextOps.sourceOverlap(s, dir)),
    // URL-canonicalization dedup over a deterministic messy-capture
    // synthesis: keep the newest capture per canonical URL
    "q61_url_dedup" -> ((s, dir) => graft.operators.WebOps.urlDedup(s, dir)),
    // re-crawl change detection: captures / distinct content versions /
    // capture-time span per canonical URL
    "q62_capture_diff" -> ((s, dir) => graft.operators.WebOps.captureDiff(s, dir)),
    // PII redaction over deterministically PII-laced text: typed
    // placeholder substitution + per-type removal counts, map-only
    "q63_pii_scrub" -> ((s, dir) => graft.operators.WebOps.piiScrub(s, dir)),
    // line-frequency boilerplate removal (CCNet-style): lines in
    // >= BoilerplateDf distinct docs cut everywhere, docs rebuilt
    "q64_line_dedup" -> ((s, dir) => graft.operators.TextOps.lineDedup(s, dir)),
    // end-to-end corpus-cleaning verdict: the oracled stages composed
    // in pipeline order, first failing stage = drop reason
    "q65_clean_pipeline" -> ((s, dir) => graft.operators.TextOps.cleanPipeline(s, dir)),
    // per-domain crawl rollup: captures / docs / content versions /
    // mean quality per canonical host — the blocklist decision table
    "q66_domain_stats" -> ((s, dir) => graft.operators.WebOps.domainStats(s, dir)),
    // manifest time travel: two-snapshot ingest, query AS OF commit 1
    // (snapshot set resolved from the lineage) ≡ BM25 over the first
    // half of the corpus under that half's own statistics
    "q67_wand_asof" -> ((s, dir) => graft.index.Wand.topKAsOfCommit(s, dir)),
    // link extraction: every <a href rel> anchor parsed from the page
    // html bytes; the oracle re-derives the edge set from doc_id
    // arithmetic without ever seeing the markup
    "q68_linkgraph" -> ((s, dir) => graft.operators.LinkOps.linkGraph(s, dir)),
    // fixed-point integer PageRank (damping .85, 10 iterations,
    // dangling mass redistributed) over the extracted graph — exact
    // long arithmetic so no partial-aggregation order can move a bit
    "q69_pagerank" -> ((s, dir) => graft.operators.LinkOps.pageRank(s, dir)),
    // anchor-text aggregation per link target: in-link counts +
    // sorted distinct anchor vocabulary (the index-enrichment field)
    "q70_anchor_text" -> ((s, dir) => graft.operators.LinkOps.anchorText(s, dir))
  )

  /** name → DuckDB SQL over the same sfDir parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q01_bm25_exact" -> graft.operators.ExactSearch.oracleSql(),
    "q02_bm25_topk_agg" -> graft.operators.ExactSearch.oracleSql(),
    "q03_bm25_wand" -> graft.operators.ExactSearch.oracleSql(),
    "q04_allknn" -> graft.operators.VectorOps.allKnnOracleSql(),
    "q05_closestpair" -> graft.operators.VectorOps.closestPairOracleSql,
    "q06_neardup_embed" -> graft.operators.VectorOps.nearDupOracleSql(),
    "q07_fft_centers" -> graft.operators.CentersOps.fftOracleSql(),
    "q08_distsample" -> graft.operators.VectorOps.distSampleOracleSql,
    "q09_hsp" -> graft.operators.CentersOps.hspOracleSql(),
    "q10_rerank" -> graft.operators.VectorOps.rerankOracleSql(),
    // the order-sequential acceptance loop as a DuckDB RECURSIVE CTE
    // (list-typed centers state, one id per iteration) — the last
    // spec-only query joins the hash gate
    "q11_neardup_seq" -> graft.operators.NearDupSeq.nearDupSeqOracleSql(),
    "q12_dedup_exact" -> graft.operators.TextOps.dedupExactOracleSql,
    "q13_jaccard_pairs" -> graft.operators.TextOps.jaccardPairsOracleSql(),
    // minhash banding is df-blind, so its gate is the UNCAPPED exact set
    "q14_minhash_lsh" -> graft.operators.TextOps.jaccardPairsOracleSql(dfCap = None),
    "q15_simhash" -> graft.operators.TextOps.simhashPairsOracleSql(),
    "q16_langid" -> graft.operators.TextOps.langIdOracleSql,
    "q17_quality" -> graft.operators.TextOps.qualityScoreOracleSql,
    "q18_token_count" -> graft.operators.TextOps.tokenCountOracleSql,
    "q19_fingerprint" -> graft.operators.TextOps.fingerprintOracleSql,
    "q20_postings_export" -> graft.operators.IndexExport.postingsExportOracleSql,
    // the full sign-LSH pipeline (splitmix64 planes → coding → cap →
    // candidates → exact rescore) expressed in DuckDB SQL — the inline
    // ANN operator under the driver's bit-exact hash gate
    "q21_ann_lsh" -> graft.operators.AnnOps.annLshOracleSql(),
    // the full IVF pipeline (fft training → cell assignment → nprobe
    // probe → rescore) at the entry's pinned dials
    "q22_ann_ivf" -> graft.operators.AnnOps.ivfOracleSql(),
    "q23_multimodal_meta" -> graft.operators.MultimodalOps.mediaMetaOracleSql,
    "q24_events_window" -> graft.operators.StreamingOps.windowedEventCountsOracleSql,
    "q25_permuted_knn" -> graft.operators.VectorOps.allKnnOracleSql(3),
    "q26_recall_metric" -> graft.operators.AnnOps.recallReportOracleSql(),
    "q27_vector_distances" -> graft.operators.DistanceOps.vectorDistancesOracleSql,
    "q28_text_distances" -> graft.operators.DistanceOps.textDistancesOracleSql,
    "q29_sq_u8_knn" -> graft.operators.DistanceOps.sqU8KnnOracleSql(),
    "q30_sessionize" -> graft.operators.StreamingOps.sessionizeOracleSql,
    "q31_manifest" -> graft.operators.IndexExport.manifestExportOracleSql(),
    "q32_sq_u4_knn" -> graft.operators.DistanceOps.sqKnnOracleSql(15),
    "q33_sq_u2_knn" -> graft.operators.DistanceOps.sqKnnOracleSql(3),
    "q34_random_proj" -> graft.operators.VectorOps.randomProjOracleSql,
    "q35_cloud_distances" -> graft.operators.DistanceOps.cloudDistancesOracleSql,
    // append-mode sink over finalized windows ≡ the same batch oracle
    "q36_events_filesink" -> graft.operators.StreamingOps.windowedEventCountsOracleSql,
    // a merged (compacted) index must answer exactly like a full build
    "q37_wand_merged" -> graft.operators.ExactSearch.oracleSql(),
    "q38_hsp_distal" -> graft.operators.CentersOps.hspDistalOracleSql(),
    "q39_sq_minc_knn" -> graft.operators.DistanceOps.sqMinCKnnOracleSql(),
    "q40_random_proj_qr" -> graft.operators.VectorOps.randomProjQROracleSql,
    // url→html→extract→index→WAND must answer exactly like an index
    // over the carried text (north-rule extraction invariant)
    "q41_wand_from_pages" -> graft.operators.ExactSearch.oracleSql(),
    // hint strategies are a θ warm-start only: an ε-net sidecar must
    // leave WAND results identical to the exhaustive scorer
    "q42_wand_eps_hints" -> graft.operators.ExactSearch.oracleSql(),
    // scheduler-managed ingest (log-growth compaction) must answer
    // exactly like one full build
    "q43_wand_scheduled" -> graft.operators.ExactSearch.oracleSql(),
    // the persisted LSH index's bulk search is row-identical to the
    // inline q21 operator (same planes/cap/rescoring; AnnIndexSpec pins
    // the parity) — it shares q21's pipeline oracle
    "q44_ann_persisted" -> graft.operators.AnnOps.annLshOracleSql(),
    // a quantized (SQMinC u8) persisted IVF index probed exhaustively
    // (nprobe = nlist) IS the full kNN over the quantization grid —
    // q39's oracle pins quantize→pack→write→read→unpack→dequantize→rank
    "q45_sq_ivf_persisted" -> graft.operators.DistanceOps.sqMinCKnnOracleSql(),
    // the external-query searchbatch surface, driven with pinned corpus
    // vectors passed as explicit literals ≡ the filtered exhaustive kNN
    "q46_searchbatch_external" -> graft.operators.VectorOps.searchBatchOracleSql(),
    // an f64 IVF index probed exhaustively (nprobe = nlist) covers every
    // cell, so the persisted read path returns the exact kNN — q04's
    // oracle pins build→write→probe→rescore→rank end-to-end
    "q47_ivf_f64_persisted" -> graft.operators.VectorOps.allKnnOracleSql(),
    // the bucketed scale paths under their own candidate-space oracles
    // (data-independent; the specs additionally assert closestPairLsh
    // finds the TRUE closest pair on the fixtures)
    "q48_closestpair_lsh" -> graft.operators.AnnOps.closestPairLshOracleSql,
    "q49_neardup_lsh" -> graft.operators.AnnOps.nearDupLshOracleSql(),
    // the multiprobe dial under the same bit-exact pipeline gate:
    // margins, bit flips, probe union, capped candidates, rescore
    "q50_lsh_multiprobe" -> graft.operators.AnnOps.lshMultiprobeOracleSql(
      graft.index.AnnIndex.MultiprobeQueryIds),
    "q51_neardup_seq_nofilter" ->
      graft.operators.NearDupSeq.nearDupSeqOracleSql(filterBlocks = false),
    "q52_stream_dedup" -> graft.operators.StreamingOps.streamDedupOracleSql,
    "q53_dup_clusters" -> graft.operators.TextOps.dupClustersOracleSql(),
    "q54_decontaminate" -> graft.operators.TextOps.decontaminateOracleSql(),
    "q55_repetition" -> graft.operators.TextOps.repetitionOracleSql,
    "q56_substring_dup" -> graft.operators.TextOps.substringDupOracleSql(),
    "q57_sample_mix" -> graft.operators.TextOps.sampleMixOracleSql,
    "q58_shingle_novelty" -> graft.operators.TextOps.shingleNoveltyOracleSql,
    "q59_substring_dedup" -> graft.operators.TextOps.substringDedupOracleSql(),
    "q60_source_overlap" -> graft.operators.TextOps.sourceOverlapOracleSql,
    "q61_url_dedup" -> graft.operators.WebOps.urlDedupOracleSql,
    "q62_capture_diff" -> graft.operators.WebOps.captureDiffOracleSql,
    "q63_pii_scrub" -> graft.operators.WebOps.piiScrubOracleSql,
    "q64_line_dedup" -> graft.operators.TextOps.lineDedupOracleSql,
    "q65_clean_pipeline" -> graft.operators.TextOps.cleanPipelineOracleSql,
    "q66_domain_stats" -> graft.operators.WebOps.domainStatsOracleSql,
    // the unchanged exhaustive BM25 oracle restricted to the as-of
    // corpus: the same midpoint split the two-snapshot ingest uses
    "q67_wand_asof" -> graft.operators.ExactSearch.oracleSql(
      docWhere = "doc_id < (SELECT (max(doc_id) + 1) // 2 FROM documents)"),
    "q68_linkgraph" -> graft.operators.LinkOps.linkGraphOracleSql,
    "q69_pagerank" -> graft.operators.LinkOps.pageRankOracleSql(),
    "q70_anchor_text" -> graft.operators.LinkOps.anchorTextOracleSql
  )
}
