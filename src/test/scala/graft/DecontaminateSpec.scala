package graft

import graft.ext.Decontaminate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DecontaminateSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], n: Int,
      maxBroadcast: Long = 4000000L): Map[Long, (String, Long, Long)] =
    Decontaminate.removeRepeatedPassages(docs.toDF("doc_id", "text"),
        "doc_id", "text", n, maxBroadcast)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("removeRepeatedPassages keeps the canonical (min-id) copy, strips later ones") {
    val shared = "a b c d" // the repeated 4-token passage
    val docs = Seq(
      (1L, s"$shared x y"),      // canonical: keeps everything
      (2L, s"p q $shared r"),    // later copy: loses the 4 shared tokens
      (3L, "p q r s"))           // too short for any 4-gram overlap machinery to fire
    val out = run(docs, n = 4)
    assert(out(1L) == ("a b c d x y", 6L, 0L), s"canonical intact: ${out(1L)}")
    assert(out(2L) == ("p q r", 3L, 4L), s"later copy stripped: ${out(2L)}")
    assert(out(3L) == ("p q r s", 4L, 0L))
  }

  test("overlapping repeated grams remove the union of their spans") {
    // doc 2 repeats tokens 1..5 of doc 1: grams at pos 1 and 2 (n=4)
    // overlap; the removed span is their union (5 tokens), not 8
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e tail1 tail2"))
    val out = run(docs, n = 4)
    assert(out(2L) == ("tail1 tail2", 2L, 5L), s"got ${out(2L)}")
  }

  test("intra-doc repetition inside the canonical doc is untouched") {
    val docs = Seq(
      (1L, "a b c d a b c d"), // repeats internally; no other doc shares it
      (2L, "u v w x y z q r"))
    val out = run(docs, n = 4)
    assert(out(1L)._3 == 0L, "canonical doc must not self-remove")
  }

  test("shorter-than-n documents pass through unchanged") {
    val out = run(Seq((1L, "a b"), (2L, "a b")), n = 4)
    assert(out(1L) == ("a b", 2L, 0L) && out(2L) == ("a b", 2L, 0L))
  }

  test("a doc removed in full round-trips as the empty string") {
    val out = run(Seq((1L, "a b c d"), (2L, "a b c d")), n = 4)
    assert(out(2L) == ("", 0L, 4L), s"got ${out(2L)}")
  }

  test("shuffle-join fallback (marks over the broadcast cap) == broadcast path") {
    val docs = (1L to 40L).map { id =>
      // every doc shares one of two passages; plus unique tail tokens
      val base = if (id % 2 == 0) "m n o p q" else "f g h i j"
      (id, s"$base extra$id tail$id")
    }
    val viaBroadcast = run(docs, n = 5)
    val viaFallback = run(docs, n = 5, maxBroadcast = 1L)
    assert(viaBroadcast == viaFallback)
    // sanity: only ids 1 and 2 are canonical, everyone else stripped
    assert(viaBroadcast.count { case (_, (_, _, removed)) => removed > 0 } == 38)
  }

  private def dropIdx(name: String): Unit =
    Seq("_keepers", "_pstats", "_batches").foreach(sfx =>
      graft.sources.Tables.dropWithLocation(spark, s"$name$sfx"))

  test("incremental keeper-index cleaning equals the one-shot removal") {
    // passages repeated across every batch boundary: the bootstrap's
    // passage reappears in both batches (stored-hit path), batch 1
    // introduces one that batch 2 repeats (cross-batch keeper), and
    // batch 2 repeats one within itself (within-batch keeper)
    val docs = Seq(
      (1L, "a b c d e unique1 x"),
      (2L, "a b c d e unique2 y"), // dup of 1's passage inside bootstrap
      (3L, "p q r s t fresh3 z"),
      (4L, "a b c d e later4"),    // batch 1: repeats the bootstrap passage
      (5L, "k l m n o first5"),    // batch 1: new passage
      (6L, "k l m n o again6"),    // batch 2: repeats batch 1's passage
      (7L, "u v w x y twice7 u v w x y"), // batch 2: within-doc repeat (kept)
      (8L, "a b c d e k l m n o both8")) // batch 2: repeats two stored
    val name = "decspec_pidx"
    val clean = java.nio.file.Files.createTempDirectory("decspec_clean")
    try {
      val boot = docs.take(3).toDF("doc_id", "text")
      Decontaminate.writePassageIndex(boot, "doc_id", "text", name, n = 5)
      graft.sources.TxLog.commitBatch(
        Decontaminate.removeRepeatedPassages(boot, "doc_id", "text", 5),
        clean.toString, 0L)
      def ingest(k: Long, b: Seq[(Long, String)]) =
        Decontaminate.ingestPassageBatch(b.toDF("doc_id", "text"), k,
          "doc_id", "text", name, clean.toString, n = 5,
          // exercise the opt-in amortization check (warn-only; the
          // result must be untouched by it)
          cadenceCheck = true)
      assert(ingest(1L, docs.slice(3, 5)) && ingest(2L, docs.drop(5)))
      // replay straddling a compaction: both must no-op at the marker
      assert(!ingest(1L, docs.slice(3, 5)))
      Decontaminate.compactPassageIndex(spark, name)
      assert(!ingest(2L, docs.drop(5)))
      val got = graft.sources.TxLog.readCommitted(spark, clean.toString)
        .select("doc_id", "clean_text", "n_kept", "n_removed")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == run(docs, n = 5))
      // the batch-2 doc repeating two stored passages lost both spans
      assert(got(8L)._1 == "both8")
      // within-doc repetition with no earlier doc stays intact
      assert(got(7L)._3 == 0L)
    } finally dropIdx(name)
  }

  test("a crash that loses the index marker replays the whole step to the same state") {
    // the q93 crash shape: batch 1 fully lands (clean log + keepers +
    // marker), then the marker table is lost; the replayed step must
    // recompute against the stored view EXCLUDING its own partition,
    // no-op at the clean log's own TxLog marker, and dynamic-
    // overwrite the keeper partition — converging to the exact state
    // a crash-free run produces
    val docs = Seq(
      (1L, "a b c d e boot1"), (2L, "p q r s t boot2"),
      (3L, "a b c d e later3"), (4L, "p q r s t later4 x y"))
    val name = "decspec_pidx_crash"
    val clean = java.nio.file.Files.createTempDirectory("decspec_crash")
    try {
      val boot = docs.take(2).toDF("doc_id", "text")
      Decontaminate.writePassageIndex(boot, "doc_id", "text", name, n = 5)
      graft.sources.TxLog.commitBatch(
        Decontaminate.removeRepeatedPassages(boot, "doc_id", "text", 5),
        clean.toString, 0L)
      def ingest() = Decontaminate.ingestPassageBatch(
        docs.drop(2).toDF("doc_id", "text"), 1L, "doc_id", "text", name,
        clean.toString, n = 5)
      assert(ingest())
      val wantKeepers = spark.table(s"${name}_keepers")
        .select("h", "keeper").collect().map(_.toSeq).toSet
      val wantClean = graft.sources.TxLog.readCommitted(spark, clean.toString)
        .select("doc_id", "clean_text").collect().map(_.toSeq).toSet
      // simulated crash: the index marker table is gone, everything
      // else (clean log, keeper partition) already landed
      graft.sources.Tables.dropWithLocation(spark, s"${name}_batches")
      assert(ingest(), "replay after marker loss must re-run the step")
      assert(spark.table(s"${name}_keepers")
        .select("h", "keeper").collect().map(_.toSeq).toSet == wantKeepers,
        "keeper partition must be replaced, not duplicated")
      assert(graft.sources.TxLog.readCommitted(spark, clean.toString)
        .select("doc_id", "clean_text").collect().map(_.toSeq).toSet
        == wantClean, "the clean log's own marker must no-op the re-commit")
      // the recovered index still cleans the next batch correctly
      assert(Decontaminate.ingestPassageBatch(
        Seq((5L, "a b c d e end5")).toDF("doc_id", "text"), 2L,
        "doc_id", "text", name, clean.toString, n = 5))
      val all = graft.sources.TxLog.readCommitted(spark, clean.toString)
        .select("doc_id", "clean_text", "n_kept", "n_removed").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(all == run(docs :+ (5L, "a b c d e end5"), n = 5))
    } finally dropIdx(name)
  }

  test("a crash between the clean-log commit and the keeper write converges on replay") {
    // layer-1-only crash: the batch's cleaned docs are already in the
    // clean TxLog but keepers/stats/marker never landed.  The replay
    // recomputes (clean commit no-ops at ITS marker) and must land
    // the remaining layers — final state equals a crash-free twin.
    val docs = Seq(
      (1L, "a b c d e boot1"), (2L, "f g h i j boot2"),
      (3L, "a b c d e dup3"), (4L, "k l m n o new4"))
    def build(name: String, clean: String,
        crashAfterLayer1: Boolean): Unit = {
      val boot = docs.take(2).toDF("doc_id", "text")
      Decontaminate.writePassageIndex(boot, "doc_id", "text", name, n = 5)
      graft.sources.TxLog.commitBatch(
        Decontaminate.removeRepeatedPassages(boot, "doc_id", "text", 5),
        clean, 0L)
      if (crashAfterLayer1) {
        // stage layer 1 exactly as the ingest would have: the batch's
        // cleaned rows under the batch's TxLog id (then "crash")
        val cleanedBatch = Decontaminate.removeRepeatedPassages(
          docs.toDF("doc_id", "text"), "doc_id", "text", 5)
          .where(col("doc_id") > 2L)
        graft.sources.TxLog.commitBatch(cleanedBatch, clean, 1L)
      }
      assert(Decontaminate.ingestPassageBatch(
        docs.drop(2).toDF("doc_id", "text"), 1L, "doc_id", "text", name,
        clean, n = 5))
    }
    val (cA, cB) = (
      java.nio.file.Files.createTempDirectory("decspec_l1a").toString,
      java.nio.file.Files.createTempDirectory("decspec_l1b").toString)
    try {
      build("decspec_pidx_l1a", cA, crashAfterLayer1 = true)
      build("decspec_pidx_l1b", cB, crashAfterLayer1 = false)
      def state(name: String, clean: String) = (
        spark.table(s"${name}_keepers").select("h", "keeper")
          .collect().map(_.toSeq).toSet,
        graft.sources.TxLog.readCommitted(spark, clean)
          .select("doc_id", "clean_text", "n_kept", "n_removed")
          .collect().map(_.toSeq).toSet)
      assert(state("decspec_pidx_l1a", cA) == state("decspec_pidx_l1b", cB))
    } finally {
      dropIdx("decspec_pidx_l1a"); dropIdx("decspec_pidx_l1b")
    }
  }

  test("the amortization cadence contract: recommended batch grams and the lag predicate") {
    // batch ∝ index: recommended grams = keeperRows / 64 (the
    // measured IndexBench `passage` octave,
    // `4740777:src/main/scala/graft/tools/IndexBench.scala`), floored at 1
    assert(Decontaminate.recommendedBatchGrams(6400L) == 100L)
    assert(Decontaminate.recommendedBatchGrams(64L) == 1L)
    assert(Decontaminate.recommendedBatchGrams(10L) == 1L)
    assert(Decontaminate.recommendedBatchGrams(0L) == 1L)
    assert(Decontaminate.recommendedBatchGrams(6400L, 32L) == 200L)
    // lagged = more than 100x below cadence
    assert(!Decontaminate.cadenceLagged(1L, 6400L))  // exactly 100x: not lagged
    assert(Decontaminate.cadenceLagged(1L, 12800L))  // 200x below: lagged
    assert(!Decontaminate.cadenceLagged(100L, 6400L))
    // a zero-gram batch is always lagged (recommended floors at 1)
    assert(Decontaminate.cadenceLagged(0L, 0L))
    intercept[IllegalArgumentException] {
      Decontaminate.recommendedBatchGrams(100L, 0L)
    }
  }

  test("a non-monotone batch is rejected loudly (keeper-ship is first-arrival)") {
    val name = "decspec_pidx_mono"
    val clean = java.nio.file.Files.createTempDirectory("decspec_mono")
    try {
      Decontaminate.writePassageIndex(
        Seq((10L, "a b c d e f")).toDF("doc_id", "text"),
        "doc_id", "text", name, n = 5)
      val ex = intercept[IllegalArgumentException] {
        Decontaminate.ingestPassageBatch(
          Seq((5L, "a b c d e g")).toDF("doc_id", "text"), 1L,
          "doc_id", "text", name, clean.toString, n = 5)
      }
      assert(ex.getMessage.contains("id order"))
    } finally dropIdx(name)
  }

  test("a batch-id gap is rejected loudly (a lost batch must not silently diverge the clean log)") {
    val name = "decspec_pidx_gap"
    val clean = java.nio.file.Files.createTempDirectory("decspec_gap")
    try {
      Decontaminate.writePassageIndex(
        Seq((1L, "a b c d e f")).toDF("doc_id", "text"),
        "doc_id", "text", name, n = 5)
      assert(Decontaminate.ingestPassageBatch(
        Seq((2L, "g h i j k l")).toDF("doc_id", "text"), 0L,
        "doc_id", "text", name, clean.toString, n = 5))
      // id 1 never arrives; id 2 must be refused, not ingested
      val ex = intercept[IllegalArgumentException] {
        Decontaminate.ingestPassageBatch(
          Seq((3L, "m n o p q r")).toDF("doc_id", "text"), 2L,
          "doc_id", "text", name, clean.toString, n = 5)
      }
      assert(ex.getMessage.contains("contiguous"))
      // the missing id itself is still ingestible (in-order resume)
      assert(Decontaminate.ingestPassageBatch(
        Seq((3L, "m n o p q r")).toDF("doc_id", "text"), 1L,
        "doc_id", "text", name, clean.toString, n = 5))
    } finally dropIdx(name)
  }
}
