package graft.tools

/** Spill-regime correctness slice: the gate always runs with 128 GiB
  * of headroom, so its external sort/aggregate paths never spill —
  * a merge bug that only shows under memory pressure would pass every
  * round.  This main re-runs the shuffle-heaviest gate queries with
  * Spark's force-spill test knobs on (every sorter spills every N
  * elements; hash aggregation falls back to sort-based after N
  * groups), dumps the results in Verify's layout, and prints the
  * spill bytes actually incurred — `tools/check.py` then proves the
  * hashes identical to the no-pressure oracle.
  *
  * Usage: runMain graft.tools.SpillCheck [sfDir] [outDir]
  * then:  python3 tools/check.py <sfDir> <outDir>
  */
object SpillCheck {
  private val Slice = Seq("q17_minhash_lsh", "q19_ngram_jaccard",
    "q46_pipeline_e2e",
    // the closure queries iterate hash-agg + join rounds whose
    // sort-based fallback / external-merge paths only exercise under
    // pressure; q89 additionally covers the incremental contraction
    "q52_components", "q89_incremental_components",
    // round-10 compositions: the survivor-filtered corpus (pairs →
    // closure → pick → anti-join → split), the histogram+boundary
    // budget selection, and incremental survivor maintenance
    "q92_survivor_filtered_corpus", "q97_token_budget",
    "q100_incremental_survivors",
    // round-11: the streamed emission + mid-loop compaction loop —
    // its resolves, semantic folds, and union-find contraction all
    // cross the spill-sensitive agg/sort machinery per batch
    "q103_emission_compaction",
    // round-12: passage removal — positional gram explode through two
    // gram-hash shuffles + collect_list mark aggregation, the biggest
    // new per-key buffers; BM25's decimal-sum + bounded top-k tail
    "q106_passage_removal", "q105_bm25_topk",
    // round-12 lifecycle additions: the BM25 index fold (vocab df
    // re-aggregation + postings re-bucket under spill pressure) and
    // the ANN incremental lifecycle (k-means dim means, cell fold)
    "q110_bm25_compaction", "q114_ann_incremental",
    // round-12 fusion + flag log: both index builds, both probes and
    // the full-outer fusion under pressure; TxLog batch commits and
    // the resolved-log anti-join under the same knobs
    "q117_hybrid_rrf", "q118_incremental_decontam",
    // round-12 keeper index: the per-batch gram probe (batch grams
    // joined against stored keepers), collect_list marks and the
    // HOF rebuild under pressure, plus the keeper fold
    "q120_incremental_passage",
    // round-13: the streamed hygiene composition — every store's
    // per-batch path (latest-wins keeper resolve, ownership-transfer
    // aggregation, mutable-BM25 full-outer delta join, nine-store
    // mid-loop fold) under the same forced-spill knobs
    "q123_streamed_hygiene",
    // round-15: the purge lifecycle — component re-closure over the
    // restricted pair log, promotion/steal repair joins, the erasing
    // eleven-store fold and the certificate scans under pressure
    "q124_purge_takedown",
    // round-16: the standalone-family purges — BM25's negated ingest
    // aggregation + signed-sum probe, and the LSH pair-table erase
    // (endpoint anti-joins through the staged swap) under pressure;
    // q126's cells erase rides the same swapFold machinery as q125
    "q125_bm25_purge", "q127_lsh_purge",
    // round-17: concat-and-chunk packing — the per-chunk collect_list
    // reassembly's sort-based fallback must still array_sort+flatten
    // the slices in offset order when the agg spills
    "q130_concat_chunk")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/spill_out"
    val spark = graft.GraftSession.builder()
      // 2 shuffle partitions concentrate each operator's data into
      // few tasks; the force thresholds make those tasks spill for
      // real (UnsafeExternalSorter path) and drive hash agg through
      // its sort-based fallback (the merge path a spill exercises)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "2000")
      .config("spark.sql.TungstenAggregate.testFallbackStartsAt", "100,500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (failed, spill) = try graft.obs.Counters.of(spark)(
        graft.Verify.dump(spark, sfDir, outDir, Slice))
      finally spark.stop()
    println(f"[spillcheck] memoryBytesSpilled=${spill.memorySpilled}%d " +
      f"diskBytesSpilled=${spill.diskSpilled}%d")
    assert(failed.isEmpty, s"queries failed under forced spill: ${failed.mkString(", ")}")
    assert(spill.memorySpilled > 0 || spill.diskSpilled > 0,
      "force-spill knobs produced zero spills — the slice proved nothing")
  }
}
