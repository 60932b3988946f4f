package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of representative queries to PLANS.md
  * in the working directory — the .explain("formatted") evidence for the
  * plan-shape claims in SCALING.md (broadcasts, pushdown, pruning,
  * codegen, bucketed joins). */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session("ERROR")
    val picks = Seq(
      "q1_pricing" -> "single-scan pricing summary: pushed date filter, column pruning, 2-phase agg",
      "q3_topk" -> "dimension-chain broadcast joins + top-k",
      "q_compact" -> "compact as one max_by hash aggregation (no window sort)",
      "q_dedup_minhash" -> "bucketed LSH candidate join (slim rows, no cross product)",
      "q_win_sliding" -> "bucketed range self-join for per-record sliding windows",
      "q_ann_brute" -> "native cosine_similarity expression fused in the broadcast join stage",
      "q_ann_ivf" -> "IVF: map-side argmax assignment vs broadcast centroids (no exchange, no window between scan and list_id)",
      "q_ann_lsh_agg" -> "many-queries ANN: bounded top-k aggregation instead of a per-q_id window",
      "q_ann_ivf_agg" -> "many-queries IVF: map-side nprobe probe (no query broadcast), list_id-shuffled candidate join, bounded top-k",
      "q_ann_ivfpq" -> "IVF-PQ: map-side probe, list_id candidate join, broadcast-LUT ADC scoring (codes, never floats)",
      "q_text_repetition" -> "repetition metrics as a pure map stage (no exchange)",
      "q4_priority" -> "EXISTS as a LeftSemi join (AQE broadcasts at this SF; keyed shuffle at scale), lateness predicate rides the join",
      "q16_quiet_parts" -> "NOT EXISTS as a LeftAnti join: date filter pushed to the probe-side scan",
      "q18_large_orders" -> "aggregate-then-join: the HAVING agg's hash partitioning on l_orderkey is reused by the join (one lineitem exchange)",
      "q_domain_cap" -> "per-domain caps: slim-row bounded min-k aggregation, no per-domain window",
      "q_text_spans" -> "repeated spans: slim positional rows, map-side-combined dup counts, per-doc merge",
      "q_text_lm_score" -> "LM scoring: broadcast reference counts, pure map scoring stage",
      "q_bpe_encode" -> "BPE tokenization: broadcast merges+dict, one typed map stage over the scan",
      "q_pipeline_curation" -> "curation scorecard: cap + novelty + LM signals joined in one plan",
      "q_sample_priority" -> "weighted PPS draw: typed priority kernel + TakeOrdered bounded top-k, never a global sort",
      "q_zorder_key" -> "Morton clustering key: pure codegen'd bit intrinsics over the scan",
      "q_fuzzy_join" -> "edit-distance join: deletion-variant equi-join blocking + threshold-banded levenshtein verify, no all-pairs operator",
      "q_asof_join_bucketed" -> "hot-key-safe as-of: per-(key, time-bucket) window sort + slim bucket-level seed carry — a single hot key spreads over span/width tasks instead of one",
      "q_pipeline_warc" -> "WARC ingest -> HTML extraction -> quality gate: flatMap record fanout and every scoring column in ONE map stage over the archive scan (round 13)",
      "q_pipeline_wds_media" -> "WebDataset shard walk -> sample grouping -> BMP decode -> dHash: the whole multimodal first pass as consecutive map stages, media bytes never shuffle (round 13)",
      "q_pipeline_corpus" -> "compressed-JSONL ingest -> declarative field extraction -> Gopher gates with text passthrough -> exact-hash dedup: ONE plan, one shuffle (the dedup groupBy) (round 13)",
      "q_embed_pca" -> "PCA projection: broadcast-basis map stage over the embedding scan; the covariance pass is a separate bounded treeAggregate at fit time (round 13)",
      "q_pipeline_crawl" -> "WARC walk -> HTTP-200 filter -> boilerplate block classification -> exact-hash dedup: record fanout and main-content extraction in the scan task, one shuffle (round 13)",
      "q_pipeline_wiki" -> "dump walk -> ns-0 non-redirect filter -> wikitext extraction -> exact-text dedup group: blob fanout and extraction in the scan task, ONE shuffle (the groupBy) (round 13, plan audited round 14)",
      "q_pipeline_provenance" -> "CDX walk -> urlkey capture path -> broadcast-policy REP decision -> per-shard allow/deny counts: the decision is a closure over a driver-built policy riding the scan task, ONE shuffle (the groupBy) (round 13, plan audited round 14)",
      "q_pipeline_pdf" -> "PDF page-tree walk -> content-stream text -> newline normalization -> quality gate: COS walk and every scoring column in consecutive map stages, NO shuffle before the output sort (round 13, plan audited round 14)",
      "q_pipeline_code" -> "comment-strip by family -> exact-dedup group on stripped code: strip kernel in the scan task, ONE shuffle (the groupBy) (round 13, plan audited round 14)",
      "q_pipeline_wds_curation" -> "WebDataset shard walk -> caption + image-signal scoring -> keep gate: sample grouping and BMP signal extraction in one typed map, media bytes never shuffle, NO exchange before the output sort (round 13, plan audited round 14)",
      "q_domain_cap_url" -> "URL-keyed domain caps on the ccSLD-aware registered domain: codegen'd Column key + bounded min-k aggregation, no per-domain window (round 14)",
      "q_wiki_slices" -> "multistream index -> slim slice rows: pure flatMap over index blobs — the ~40-byte slice row is ALL that ever shuffles of a 20 GB dump; the ranged-read decode (slicePagesFs) hangs off these rows (round 14)",
      "q_multimodal_webp_dhash" -> "WebP VP8L full pixel decode + dHash: one typed map over the media scan, no exchange before the output sort (round 14)",
      "q_audio_vad" -> "frame-energy VAD: decode + frame energies + hangover island merge all in one flatMap over the media scan (round 14)",
      "q_pipeline_asr" -> "speech-admission pipeline: VAD aggregation joined with the stats pass's frame totals, keep gate in integers — two map-stage signal passes, one groupBy, one join (round 14)",
      "q_warc_cdx" -> "CDX indexing: archive blobs -> slim index rows in one flatMap over the scan — gzip member walk, surt, sha256 digests all in the scan task, no exchange before the output sort (round 15)",
      "q_warc_revisit" -> "CDX revisit dedup: ONE hash exchange on the (urlkey, digest) window over slim index rows — the archives themselves never shuffle (round 15)",
      "q_bitext_margin" -> "margin bitext mining: both-direction brute top-k (broadcast NLJ baseline), rank-ordered mean folds, margin join on slim id-keyed lists (round 15)",
      "q_pipeline_frontier" -> "crawl-admission pipeline: sitemap walk -> surt keys, CDX -> revisit dedup -> history, LEFT JOIN fetch decision — only the dedup window and the key join shuffle (round 15)",
      "q_ann_nsw" -> "graph ANN: per-partition NSW build + beam search in ONE mapPartitions over the embedding scan, then the bounded top-k merge — |shards|x|queries|xk slim rows are all that shuffles (round 15)",
      "q_retrieval_rrf" -> "RRF hybrid: BM25 chain + brute ANN chain feed one (q_id, nn_id)-keyed integer-sum aggregation + bounded top-k — rank fusion adds NO window and no corpus-sized stage (round 15)",
      "q_pipeline_retrieval" -> "hybrid retrieval pipeline: BM25 postings chain + NSW graph search (mapPartitions, no query join) -> RRF sum-agg -> label join -> k-bounded interleave windows, ONE plan end to end (round 15)")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$dir`. After execution, codegen'd\n")
    sb.append("operators carry the `*(n)` prefix (AQE final plans).\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the AQE plan
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.result())
    println("[plans] wrote PLANS.md")
    spark.stop()
  }
}
