package graft

import graft.queries.{PipelineQueries, RefQueries}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gate for the hottest queries: the things
  * `.explain` review established once (pushdown, pruning, broadcast
  * strategies, bounded top-k aggregation, no cartesian blowups, no
  * per-group global sorts) must FAIL CI if a refactor regresses them
  * — not wait for a judge or a 100 TB run to notice.
  *
  * Plan shape is scale-independent, so sf0.001 inputs suffice.
  */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  /** FINAL adaptive plan: collect first so AQE has re-planned and
    * codegen stage markers are present. */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    // keep only the FINAL adaptive plan (the string repeats the
    // pre-AQE plan under "== Initial Plan ==")
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).length

  test("q01: single partial-agg shuffle + order-by range exchange, codegen'd") {
    val p = plan(RefQueries.q01(spark, sf))
    assert(countOf(p, "Exchange ") == 2, s"expected 2 exchanges:\n$p")
    assert(p.contains("*("), "whole-stage codegen must cover the agg path")
    assert(!p.contains("CartesianProduct"))
  }

  test("typed PerKeyFold: one fused MapPartitions under the partial aggregate, no per-row chain") {
    import graft.core._
    import graft.engine.DatasetEngine
    import spark.implicits._
    val ds = spark.createDataset((0 until 1000).map(i => (s"k${i % 26}", i)))
    val q = DatasetEngine.run(ds, Unpack.Filter[(String, Int)](_._2 % 2 == 0),
      Assign.of[(String, Int), String, Double](_._1)(_._2.toDouble),
      Reduce.fromFold[String, Double, Double](Folds.mean))
    val p = plan(q.toDF())
    // the operators from the partial aggregate down to the scan
    val below = p.linesIterator.map(_.trim.replaceAll("^[+:\\-\\s]*(\\*\\(\\d+\\) )?", ""))
      .map(_.takeWhile(c => c != ' ' && c != '('))
      .dropWhile(_ != "ObjectHashAggregate").drop(1)
      .dropWhile(_ != "ObjectHashAggregate").drop(1).toList
    assert(below.takeWhile(_ != "LocalTableScan") ==
      List("AppendColumnsWithObject", "MapPartitions", "DeserializeToObject"), s"$below\n$p")
    assert(countOf(p, "MapElements") == 0 && countOf(p, "AppendColumns ") == 0, p)
  }

  test("q02: filter pushed to the parquet scan; columns pruned") {
    val p = plan(RefQueries.q02(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), GreaterThan(l_discount,0.05)]"),
      s"filter must reach the scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"),
      s"scan must not read unused columns: $readSchema")
  }

  test("events time-range filter pushes through the schema-adaptive ts cast") {
    // the canonical 100 TB pruning path: a time-range scan over the
    // event corpus.  Tables.events normalizes whatever physical ts
    // encoding the corpus shipped (currently TIMESTAMP_NTZ micros →
    // cast to TimestampType under the UTC session tz); Catalyst must
    // keep rewriting range predicates on the CAST column back into
    // the stored column's domain so they reach the parquet scan as
    // PushedFilters — if a reader change regresses this, every
    // time-bounded query re-reads the full corpus.
    import org.apache.spark.sql.functions.{col, lit}
    val ev = graft.sources.Tables.events(spark, sf)
    val p = plan(ev.where(col("ts") > lit("2024-06-01 00:00:00").cast("timestamp"))
      .select("event_id", "ts"))
    assert("PushedFilters: \\[IsNotNull\\(ts\\), GreaterThan\\(ts,".r
      .findFirstIn(p).isDefined,
      s"time-range filter must reach the parquet scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"),
      s"scan must not read unused columns: $readSchema")
  }

  test("incrementalComponents: changed-roots remap broadcasts, prior never re-shuffles") {
    // the scale contract: per batch, the assignment table is scanned
    // once and remapped through a broadcast of the (few) changed
    // roots — if the remap ever becomes a sort-merge join, every
    // batch shuffles the full 10^9-node assignment and the
    // incremental path loses to recompute
    import spark.implicits._
    val prior = (0L until 20000L).map(i => (i, i - (i % 4))).toDF("id", "component")
    val batch = Seq((1L, 101L), (201L, 301L)).toDF("a", "b")
    val out = graft.ext.Components.incrementalComponents(prior, batch, "a", "b", "id")
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"),
      s"changed-roots remap must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"prior assignment must not shuffle for the remap:\n$p")
  }

  test("incrementalComponentsDelta: prior feeds broadcast joins only, never shuffles") {
    // the delta path's whole point is O(|changed|) output from a
    // prior table that is scanned, not shuffled — a sort-merge join
    // anywhere in the lazy tail means the assignment table moves
    import spark.implicits._
    val prior = (0L until 20000L).map(i => (i, i - (i % 4))).toDF("id", "component")
    val batch = Seq((1L, 101L), (201L, 301L)).toDF("a", "b")
    val out = graft.ext.Components.incrementalComponentsDelta(
      prior, batch, "a", "b", "id")
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin"),
      s"changed-roots selection must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"prior assignment must not shuffle in the delta path:\n$p")
  }

  test("q91: survivor pick is one hash agg — no window, no per-cluster sort") {
    // max_by(struct(quality, -doc_id)) keeps survivor selection a
    // partial-aggregable shuffle; a row_number window (the oracle's
    // formulation) would sort every cluster's members
    val p = plan(PipelineQueries.q91(spark, sf))
    assert(!p.contains("Window"), s"no window operator in the survivor pick:\n$p")
    assert(p.contains("HashAggregate"), s"survivor pick must hash-aggregate:\n$p")
  }

  test("q92: survivor filter is a broadcast anti-join — the corpus never shuffles") {
    // the dedup last mile's scale contract: the corpus is filtered by
    // a broadcast of the LOSER ids (bounded by the removed-duplicate
    // count), never by a shuffle of the corpus against a cluster
    // table — a sort-merge anti-join here means every dedup pass
    // moves the full 100 TB corpus
    val p = plan(PipelineQueries.q92(spark, sf))
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"loser-id filter must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the survivor filter:\n$p")
  }

  test("q103 read: the evicted set broadcasts into the corpus anti-join") {
    // the streamed tail's scale contract, same as q92's: the corpus
    // is filtered by a broadcast of the resolved EVICTED ids (bounded
    // by removed duplicates), never shuffled against the emission
    // log.  Pinned on the read composition directly — the full q103
    // loop is gate-priced, and the loop's output flows through
    // exactly this plan.
    import org.apache.spark.sql.functions.broadcast
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val log = spark.range(0, 100)
      .selectExpr("id AS doc_id", "id % 3 = 0 AS kept", "CAST(1 AS BIGINT) AS batch")
    val evicted = graft.ext.Components.resolveEvicted(log, "doc_id", "batch")
    val p = plan(docs.join(broadcast(evicted), Seq("doc_id"), "left_anti")
      .groupBy("lang").count())
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"evicted filter must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the emission filter:\n$p")
  }

  test("q101: cluster root attaches via broadcast — the corpus never shuffles to learn its split") {
    // leakage-free split's scale contract: the component table covers
    // pair-touched docs only and broadcasts for the root attach; split
    // assignment is then a map-side hash of the root.  A sort-merge
    // left join here means the full corpus shuffles to be labelled.
    val p = plan(PipelineQueries.q101(spark, sf))
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined,
      s"root attach must be a broadcast left-outer join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle to learn its root:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q15: ANN top-k is a bounded aggregation, not a window sort") {
    val p = plan(PipelineQueries.q15(spark, sf))
    assert(p.contains("partial_collect_top_k"),
      s"map-side k-bounded partial aggregation required:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, s"no per-probe window sort allowed:\n$p")
    assert(p.contains("BroadcastExchange"), "probes must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q37: IVF keeps the bounded top-k tail and broadcast probe cells") {
    val p = plan(PipelineQueries.q37(spark, sf))
    assert(p.contains("partial_collect_top_k"))
    // the only Window allowed is probe-centroid ranking over a
    // broadcast-bounded input (|probes| x nCentroids rows)
    assert(countOf(p, "\\bWindow\\b") <= 1, s"unexpected windows:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q17: LSH band join never degenerates into a cartesian product") {
    val p = plan(PipelineQueries.q17(spark, sf))
    assert(!p.contains("CartesianProduct"), s"banded self-join must stay an equi-join:\n$p")
    assert(p.contains("InMemoryTableScan"), "shingle prep must be cached, built once")
  }

  test("q45: per-group sample is a bounded agg + broadcast semi-join") {
    val p = plan(PipelineQueries.q45(spark, sf))
    assert(p.contains("partial_collect_top_k"), s"picks must be a k-bounded agg:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, "no per-group window sort")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"picked ids must broadcast back as a semi-join:\n$p")
  }

  test("q54: bloom prune filters the big side BEFORE the join exchange") {
    val p = plan(PipelineQueries.q54(spark, sf))
    // the bloom membership UDF must appear as a Filter on the big
    // side's scan stage, upstream of the exact semi join
    assert(p.contains("UDF"), s"bloom membership filter must be in the plan:\n$p")
    assert(p.contains("LeftSemi"), "exact semi join must remain for fp removal")
    assert(!p.contains("CartesianProduct"))
  }

  test("q56: repetition signals are a pure scan-side projection (no shuffle before sort)") {
    val p = plan(PipelineQueries.q56(spark, sf))
    // only the presentation ORDER BY may exchange — one range exchange
    assert(countOf(p, "Exchange ") <= 1, s"per-row signals must not shuffle:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0)
  }

  test("q59: holdout gram table broadcasts; corpus grams never shuffle-join") {
    val p = plan(PipelineQueries.q59(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"holdout grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus side must not shuffle for the overlap join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q61: salted join keeps the salt in the shuffle key") {
    val p = plan(PipelineQueries.q61(spark, sf))
    assert(p.contains("SortMergeJoin"), s"gate models the non-broadcast case:\n$p")
    assert(p.contains("__salt"), s"join/shuffle key must carry the salt:\n$p")
  }

  test("q26: small dimension join is broadcast, not shuffled") {
    val p = plan(PipelineQueries.q26(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"customer side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no full shuffle join for a broadcastable dim")
  }

  test("q76: shuffle-shard is one hash exchange + in-partition sort, no global sort") {
    val p = plan(PipelineQueries.q76(spark, sf))
    // the groupBy(shard) must REUSE the window's hashpartitioning —
    // one hash exchange total (plus the final orderBy range exchange);
    // and the in-shard rank must stay a partition-local sort, never a
    // single-partition global sort
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"window and agg must share one shard-hash exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"in-shard rank must not collapse to one partition:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q130: chunk reassembly reuses the bucket hash exchange — the " +
    "corpus crosses exactly one data shuffle as id arrays") {
    val p = plan(PipelineQueries.q130(spark, sf))
    // the prefix-sum window partitions by __bucket and the per-chunk
    // collect_list groups by (__bucket, __chunk) — Catalyst must
    // satisfy the agg from the window's hashpartitioning, so ONE hash
    // exchange total (the final orderBy adds a range exchange, which
    // is output formatting, not corpus movement)
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"window and chunk agg must share one bucket-hash exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"chunking must never collapse to one partition:\n$p")
    // the encode stays codegen'd on the scan side of the exchange
    assert(p.contains("graft_bpe_encode"), s"encode must be in-plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q82: frame features are a pure per-partition explode (no data shuffle)") {
    val p = plan(PipelineQueries.all("q82_audio_frames")(spark, sf))
    // media bytes must never cross an exchange: decode + window
    // explode happen in-place; only the presentation ORDER BY may
    // exchange (a range exchange)
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"frame extraction must not hash-shuffle media rows:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("q72: index probe — stored slice prunes via broadcast semi-join, no dedup agg") {
    // the incremental-index probe's scale contract: the stored
    // shingle table is semi-join-pruned by BROADCAST candidate ids
    // (never reshuffled wholesale), and — now that appendToLshIndex
    // lands each batch as its own overwritten partition — there is NO
    // defensive dropDuplicates aggregate on the stored slice (its
    // physical signature would be a first(sh) HashAggregate)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.ext.Dedup.writeLshIndex(docs.where(col("doc_id") < 400),
      "doc_id", "text", "planshape_q72_idx")
    try {
      // STATIC plan (no collect): the executed AQE string re-prints
      // nested cached-plan sections and truncates mid-tree, hiding the
      // semi joins from string matching; the shape under test is
      // decided at planning time (the candidate-id broadcast is an
      // explicit hint, not an AQE stat decision)
      val df = graft.ext.Dedup.lshPairsAgainstIndex(
        docs.where(col("doc_id") >= 400), "doc_id", "text", "planshape_q72_idx")
      val p = df.queryExecution.executedPlan.toString
      assert(countOf(p, "BroadcastHashJoin .*LeftSemi") >= 2,
        s"both shingle fetches must prune the stored table via broadcast semi-join:\n$p")
      assert(countOf(p, "SortMergeJoin .*LeftSemi") == 0,
        s"the stored-slice prune must not shuffle the shingle table:\n$p")
      assert(!p.contains("first(sh"),
        s"stored slice must not carry a defensive dedup aggregate:\n$p")
      assert(p.contains("planshape_q72_idx_bands"), "probe must read the stored band table")
      assert(!p.contains("CartesianProduct"))
    } finally Seq("planshape_q72_idx_bands", "planshape_q72_idx_shingles")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("q72: index probe reads the stored band table in place — no exchange over its scan") {
    // the band join's key is (band_id, bh) and the stored table is
    // bucketed on exactly that key, so only the batch side may move.
    // Bucketed on bh alone the scan did not satisfy the join's
    // distribution and the whole stored table was re-shuffled per
    // batch (Exchange hashpartitioning(band_id, bh) over the scan)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.ext.Dedup.writeLshIndex(docs.where(col("doc_id") < 400),
      "doc_id", "text", "planshape_q72b_idx")
    try {
      // a batch of unknown size, like a streaming micro-batch: a
      // scan's file-size statistic would let the planner broadcast the
      // batch side and hide the stored side's distribution
      val batch = spark.createDataFrame(docs.where(col("doc_id") >= 400).rdd, docs.schema)
      val df = graft.ext.Dedup.lshPairsAgainstIndex(
        batch, "doc_id", "text", "planshape_q72b_idx")
      df.collect()
      val (scanned, overBands) = PlanShapeSpec.exchangesOverScan(
        df.queryExecution.executedPlan, "planshape_q72b_idx_bands")
      assert(scanned, "probe must read the stored band table")
      assert(overBands.isEmpty,
        s"the stored band table must not enter an exchange:\n${overBands.mkString("\n")}")
    } finally Seq("planshape_q72b_idx_bands", "planshape_q72b_idx_shingles")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("q78 shape: runningFoldTws plans exactly one stateful exchange") {
    // the TWS running fold must group once for the state store and
    // never re-Exchange afterwards — same contract as q70's audit
    import graft.core.Folds
    import graft.streaming.StreamingAgg
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val q = StreamingAgg.runningFoldTws(in.toDS(), Folds.sumD)
      .toDF("k", "v").writeStream.format("memory")
      .queryName("q78_plan_sink").outputMode("update").start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      // the executed microbatch plan: inspect via the query's last
      // execution — one shuffle, the stateful-operator requirement
      val exec = spark.streams.active.find(_.name == "q78_plan_sink").get
      val plan = exec.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(countOf(plan, "Exchange ") == 1,
        s"exactly one stateful exchange expected:\n$plan")
      assert(plan.contains("TransformWithState"),
        s"must run through the v2 stateful operator:\n$plan")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("q95: priority sample is one bounded top-k agg — no sort, no window") {
    val p = plan(PipelineQueries.q95(spark, sf))
    assert(p.contains("partial_collect_top_k"),
      s"selection must be a k-bounded agg with map-side partials:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, "no window over the corpus")
    // the only sorts allowed are the ≤ k+1-element sort_array (an
    // expression, not an operator) and the presentation ORDER BY
    assert(countOf(p, "\\bSort \\[") <= 1, s"corpus must never sort:\n$p")
  }

  test("q105: BM25 retrieval — query tables broadcast, bounded top-k, no window") {
    val p = plan(PipelineQueries.q105(spark, sf))
    assert(p.contains("partial_collect_top_k"),
      s"per-query top-k must be a k-bounded agg:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0,
      s"no window sort over the scored postings:\n$p")
    // query terms prune the tokens BEFORE the tf aggregation, and the
    // query/df tables join broadcast — the corpus side never builds
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"query terms must broadcast-semi-join the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join anywhere in retrieval:\n$p")
  }

  test("q106: passage removal — mark lists broadcast into the rebuild, no window") {
    val p = plan(PipelineQueries.q106(spark, sf))
    // the corpus-side rebuild joins the per-doc mark lists broadcast
    // (left outer); the only shuffle joins are the gram-hash pair
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"mark lists must broadcast into the rebuild:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, s"no window anywhere:\n$p")
  }

  test("q112: retrieval decontamination — flagged set broadcasts, corpus never shuffles") {
    // the flagged set is bounded by |benchmarks| × k, so the corpus
    // filter must be a broadcast anti-join (the q92 contract); the
    // scorer inside keeps q105's shape (no window, no shuffle join)
    val p = plan(PipelineQueries.q112(spark, sf))
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"flagged-id filter must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the contamination filter:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, s"no window anywhere:\n$p")
  }

  test("q118: incremental decontamination — resolved flag log broadcasts, corpus never shuffles") {
    // the flag log resolves to ≤ |suites| × k ids, so the corpus
    // filter must stay q112's broadcast anti-join even when the
    // flagged set comes from TxLog batches instead of an inline probe
    val p = plan(PipelineQueries.q118(spark, sf))
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"flag-log filter must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the decontamination filter:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, s"no window anywhere:\n$p")
  }

  test("q122: both hygiene corpus filters broadcast — losers and flags never shuffle the corpus") {
    // the five-stage composition may shuffle inside the bounded
    // cluster/probe machinery, but BOTH corpus-sized filters (the
    // dedup loser set and the contamination flag set) must be
    // broadcast anti-joins — a sort-merge anti here means the whole
    // corpus re-shuffles per hygiene pass
    val p = plan(PipelineQueries.q122(spark, sf))
    assert(countOf(p, "BroadcastHashJoin .*LeftAnti") >= 2,
      s"both corpus filters must be broadcast anti-joins:\n$p")
  }

  test("q107: stratified priority sample is one bounded per-group agg, no window") {
    val p = plan(PipelineQueries.q107(spark, sf))
    assert(p.contains("partial_collect_top_k"),
      s"per-group selection must be a k-bounded agg:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, "no per-group window sort")
    assert(countOf(p, "\\bSort \\[") <= 1, s"corpus must never sort:\n$p")
  }

  test("q108: index probe prunes to the query terms' buckets") {
    val p = plan(PipelineQueries.q108(spark, sf))
    // the isin literal filter must reach the bucketed scans as bucket
    // pruning: fewer buckets selected than the table holds
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val hits = sel.findAllMatchIn(p).toList
    assert(hits.nonEmpty, s"probe scans must show bucket pruning:\n$p")
    hits.foreach { m =>
      assert(m.group(1).toInt < m.group(2).toInt,
        s"probe must read a strict subset of buckets: ${m.matched}\n$p")
    }
    assert(countOf(p, "\\bWindow\\b") == 0)
    assert(!p.contains("SortMergeJoin"), s"no shuffle join in the probe:\n$p")
  }

  test("q113: ANN index probe prunes to the candidate cells' buckets") {
    // the probes' nProbe cell ids become isin literals on the cid-
    // bucketed cells table — the scan must show bucket pruning (the
    // q108 contract for vectors), and scoring joins broadcast
    val p = plan(PipelineQueries.q113(spark, sf))
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val hits = sel.findAllMatchIn(p).toList
    assert(hits.nonEmpty, s"cells scan must show bucket pruning:\n$p")
    assert(hits.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"the candidate-cell scan must read a strict subset of buckets:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join in the probe:\n$p")
  }

  test("purge-masked probes keep their bucket pruning (BM25 + ANN)") {
    // between a standalone-family purge and its erasing compaction
    // the probe adds one broadcast anti-join against the ledger —
    // the isin literal must STILL reach the bucketed scans as bucket
    // pruning, and the mask must never become a shuffle join
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bm = "psspec_prgbm"
    val an = "psspec_prgan"
    try {
      val docs = (1L to 200L).map(i =>
        (i, s"t${i % 40} t${(i + 7) % 40} t${(i + 13) % 40}"))
        .toDF("doc_id", "text")
      graft.ext.Retrieval.writeBm25Index(docs, "doc_id", "text", bm)
      assert(graft.ext.Purge.purgeBm25Index(
        docs.where(col("doc_id") % 9 === 2), 0L, "doc_id", "text", bm))
      val bench = Seq(("qa", "t3"), ("qa", "t7")).toDF("query_id", "term")
      val pB = plan(graft.ext.Retrieval.bm25TopKFromIndex(spark, bm,
        bench, "query_id", "term", 5, idCol = "doc_id"))
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val hitsB = sel.findAllMatchIn(pB).toList
      assert(hitsB.nonEmpty && hitsB.forall(m =>
          m.group(1).toInt < m.group(2).toInt),
        s"masked BM25 probe must still bucket-prune:\n$pB")
      assert(!pB.contains("SortMergeJoin"),
        s"the ledger mask must stay a broadcast anti-join:\n$pB")
      val emb = (0L until 60L).map(i =>
        (i, (0 until 4).map(d => (i % 7 + d).toFloat).toSeq))
        .toDF("vec_id", "embedding")
      graft.ext.AnnIndex.writeAnnIndex(emb, "vec_id", "embedding", an,
        nCentroids = 4, kmeansIters = 1)
      assert(graft.ext.Purge.purgeAnnIndex(spark, an,
        emb.where(col("vec_id") % 9 === 2).select("vec_id"), "vec_id", 0L))
      val pA = plan(graft.ext.AnnIndex.annTopKFromIndex(spark, an,
        Seq(0L, 1L), k = 2, nProbe = 2))
      val hitsA = sel.findAllMatchIn(pA).toList
      assert(hitsA.exists(m => m.group(1).toInt < m.group(2).toInt),
        s"masked ANN probe must still bucket-prune:\n$pA")
      assert(!pA.contains("SortMergeJoin"),
        s"the ledger mask must stay a broadcast anti-join:\n$pA")
    } finally Seq(s"${bm}_postings", s"${bm}_vocab", s"${bm}_stats",
      s"${bm}_batches", s"${bm}_purged", s"${an}_cells", s"${an}_codebook",
      s"${an}_batches", s"${an}_purged").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("mutable BM25 probe: bucket-pruned scans, latest-wins resolve after the prune, no shuffle join") {
    // the q123 composition's probe — postings carry latest-wins
    // versions and tombstones, so the probe adds a per-(tok,id)
    // resolve; the resolve must run AFTER the isin bucket prune
    // (over matched rows only) and the stored tables must never
    // enter a shuffle join
    import org.apache.spark.sql.functions._
    val st = graft.ext.Hygiene.HygieneState("psspec_hyg",
      "", "", "", "", "", "")
    try {
      graft.ext.IndexLifecycle.writeBatchPartition(
        spark.range(0, 2000).selectExpr("concat('t', id % 200) AS tok",
          "id AS id", "CAST(1 + id % 3 AS BIGINT) AS tf",
          "CAST(30 AS BIGINT) AS len"),
        st.bmp, 0L, Some(("tok", 16)))
      graft.ext.IndexLifecycle.writeBatchPartition(
        spark.range(0, 200).selectExpr("concat('t', id) AS tok",
          "CAST(10 AS BIGINT) AS df"),
        st.bmv, 0L, Some(("tok", 16)))
      graft.ext.IndexLifecycle.writeBatchPartition(
        spark.range(1).selectExpr("CAST(2000 AS BIGINT) AS n_docs",
          "CAST(60000 AS BIGINT) AS total_len"),
        st.bms, 0L, None)
      val bench = { import spark.implicits._
        Seq(("qa", "t3"), ("qa", "t7")).toDF("query_id", "term") }
      val p = plan(graft.ext.Hygiene.bm25TopKFromMutable(spark, st,
        bench, "query_id", "term", 5, "doc_id"))
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val hits = sel.findAllMatchIn(p).toList
      assert(hits.nonEmpty, s"probe scans must show bucket pruning:\n$p")
      hits.foreach { m =>
        assert(m.group(1).toInt < m.group(2).toInt,
          s"probe must read a strict subset of buckets: ${m.matched}\n$p")
      }
      assert(countOf(p, "\\bWindow\\b") == 0)
      assert(!p.contains("SortMergeJoin"), s"no shuffle join in the probe:\n$p")
    } finally Seq(st.bmp, st.bmv, st.bms).foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("q96: per-source cap is a bounded agg + broadcast semi-join, no window") {
    val p = plan(PipelineQueries.q96(spark, sf))
    assert(p.contains("partial_collect_top_k"), s"picks must be a k-bounded agg:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0, "no per-source window sort")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"picked ids must broadcast back as a semi-join:\n$p")
  }

  test("q97: budget selection sorts only the boundary bucket") {
    val p = plan(PipelineQueries.q97(spark, sf))
    // exactly one Window (the boundary bucket's cumulative sum); the
    // whole-bucket keep path is a plain filter union'd around it
    assert(countOf(p, "\\bWindow\\b") == 1,
      s"only the boundary bucket may run the cumulative window:\n$p")
    assert(p.contains("Union"), s"above-threshold path must be a plain filter:\n$p")
  }

  test("q98: chunk dedup is a pure scan-side projection") {
    val p = plan(PipelineQueries.q98(spark, sf))
    // per-row HOFs only: nothing may shuffle except the ORDER BY
    assert(countOf(p, "Exchange ") == 1, s"one presentation range exchange only:\n$p")
    assert(countOf(p, "\\bWindow\\b") == 0)
  }

  test("sketch folds carry native (non-Kryo) buffer encoders") {
    // a Kryo encoder's schema is a single BinaryType blob; native
    // array/map buffers cross the shuffle as codegen'd unsafe rows
    import graft.core.Folds
    import org.apache.spark.sql.types.BinaryType
    def bufferSchemaOf(f: graft.core.Fold[_, _]) = f.bufEncoder.get.schema
    for ((name, f) <- Seq(
        "hll" -> Folds.hll(10),
        "heavyHitters" -> Folds.heavyHitters[Long](16),
        "bloom" -> Folds.bloom(1024, 5),
        "quantileSketch" -> Folds.quantileSketch(64))) {
      val s = bufferSchemaOf(f)
      assert(!s.fields.forall(_.dataType == BinaryType),
        s"$name buffer must not serialize as an opaque binary blob: $s")
    }
  }
}

object PlanShapeSpec {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan,
    UnaryExecNode, UnionExec}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.Exchange

  /** Whether `plan` scans catalog table `table`, and the exchanges
    * (shuffle or broadcast) that move that scan's own rows.  Looks at
    * every node of the initial AND the final adaptive plan (whether a
    * side needs a shuffle is decided at planning; AQE may re-plan the
    * join afterwards), descending into AQE stages and the cached
    * plans behind in-memory scans. */
  def exchangesOverScan(plan: SparkPlan, table: String): (Boolean, Seq[Exchange]) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan) ++ nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    def isScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.tableIdentifier.exists(_.table == table)
      case _ => false
    }
    // the rows `p` outputs are the scan's own rows: descend only
    // through row-preserving operators — a join's or aggregate's
    // output, a nested stage or a cache is other data
    def moves(p: SparkPlan): Boolean = isScan(p) || (p match {
      case _: UnionExec => p.children.exists(moves)
      case u: UnaryExecNode if !u.isInstanceOf[BaseAggregateExec] &&
        !u.isInstanceOf[QueryStageExec] && !u.isInstanceOf[Exchange] =>
        moves(u.child)
      case _ => false
    })
    val all = nodes(plan)
    (all.exists(isScan), all.collect { case e: Exchange if moves(e.child) => e })
  }
}
