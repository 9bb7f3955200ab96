package graft.queries

import graft.ext.{Dedup, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.streaming.StreamingAgg
import graft.functions.ColFns
import graft.functions.ColFns._
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star pipeline queries Q14+ (SURVEY §2.2 extensions): dedup
  * (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * near-dup), similarity search (brute-force + sign-LSH top-k), text
  * analysis (language-ID, quality, token counts, fingerprints), plus
  * the relational extension surface (window, join, set ops, rollup).
  *
  * Every DuckDB oracle is *generated from the same constants* as the
  * Spark implementation (md5-derived hashes, minhash permutation
  * tables, hyperplane signs), so both engines compute bit-identical
  * hashes and the results hash-match.
  */
object PipelineQueries {

  /** All gate-query table reads go through the schema-adaptive
    * normalizer: a corpus re-encode either losslessly widens into the
    * canonical logical schema or fails loudly per column — round 8's
    * 13-query ts outage, generalized away for every table. */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.adaptiveTable(s, dir, name)

  /** `keep` columns + the five quality-feature columns with ONE
    * tokenization per row: projects `tokens(text)` first, then scores
    * over the bound attribute (TextOps' two-step contract — the
    * convenience form re-tokenizes per feature column on a
    * corpus-wide scan). */
  private def withQuality(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ tokens(col("text")).as("__toks") :+ col("text"): _*)
      .select(keep ++
        TextOps.qualityColsRawOf(col("__toks"), col("text")): _*)

  /** `events` with `ts2` = event time as a microsecond TimestampType,
    * whatever physical encoding the corpus shipped (nanos-as-long,
    * TIMESTAMP_NTZ micros, or adjusted timestamp) — dispatch lives in
    * [[graft.sources.Tables.eventTs]], used by every event-time query
    * so a corpus re-encode is a one-place fix. */
  private def eventsTs2(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    ev.withColumn("ts2", graft.sources.Tables.eventTs(ev))
  }

  // ---- Scratch space for queries that exercise write paths --------------

  /** One per-PROCESS root for all gate scratch areas, removed when
    * the JVM exits.  (A `finally`-scoped delete inside the query
    * would break the contract: the returned DataFrame READS these
    * dirs lazily, so they must outlive the call.)  Keyed by pid so
    * two concurrent gate runs on one machine can't wipe each other's
    * lazily-read scratch; within one JVM the fixed name still means
    * repeated runs reuse (not leak) their dirs. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_gate_scratch_${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try graft.sources.Tables.deleteRec(root) catch { case _: java.io.IOException => () }))
    root
  }

  /** Per-query scratch dir, WIPED on reuse — repeated gate runs hold
    * at most one copy per query instead of leaking a fresh
    * createTempDirectory copy of the documents table every round. */
  private def scratchDir(name: String): String = {
    val d = scratchRoot.resolve(name)
    graft.sources.Tables.deleteRec(d)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  // ---- DuckDB SQL generators (share constants with ColFns) --------------

  /** Mark a CTE chain as SHARED so tools/check.py can materialize the
    * named export CTEs once per gate run (DuckDB temp tables) instead
    * of re-evaluating the chain inside every query that embeds it —
    * at sf1 the LSH chain alone is embedded by five oracles.  The
    * markers are plain SQL comments: each oracle stays fully
    * self-contained (the driver's gate runs them standalone,
    * unchanged), and check.py's rewrite is a pure optimization.
    * Contract: downstream SQL may reference ONLY the exported CTE
    * names from the chain. */
  private def sharedCtes(name: String, exports: Seq[String], chain: String): String =
    s"/*SHARED $name EXPORTS ${exports.mkString(",")}*/$chain/*END SHARED*/"

  /** DuckDB twin of ColFns.h60: first 15 md5 hex chars as int64. */
  private def h60Sql(e: String): String =
    s"list_reduce(list_transform(string_split(substring(md5($e),1,15),'')," +
      s" hc -> CAST(strpos('0123456789abcdef',hc) AS BIGINT)-1), (ha,hb) -> ha*16+hb)"
  private def h32Sql(e: String, off: Int): String =
    s"list_reduce(list_transform(string_split(substring(md5($e),$off,8),'')," +
      s" hc -> CAST(strpos('0123456789abcdef',hc) AS BIGINT)-1), (ha,hb) -> ha*16+hb)"

  /** DuckDB twin of ColFns.tokens. */
  private val toksSql = "list_filter(string_split(lower(text),' '), t -> t <> '')"

  /** DuckDB twin of ColFns.wordShingles(n=3) + array_distinct — the
    * oracle of the native WordShingles kernel, kept in the composed
    * per-position form the kernel replaced. */
  private def shingles3Sql(t: String): String =
    s"list_distinct(CASE WHEN len($t)>=3 THEN list_transform(range(1, len($t)-1)," +
      s" i -> ($t)[i]||' '||($t)[i+1]||' '||($t)[i+2]) ELSE [] END)"

  /** DuckDB twin of ColFns.charShingles(n) + distinct (input already
    * lowercased) — the oracle of the native CharShingles kernel, kept
    * in the composed per-position `substring` form the kernel replaced. */
  private def charShinglesSql(t: String, n: Int): String =
    s"list_distinct(CASE WHEN length($t)>=$n THEN list_transform(range(1, length($t)-${n - 2})," +
      s" i -> substring($t, i, $n)) ELSE [] END)"

  /** DuckDB twin of ColFns.dotD: strict left-to-right double dot product. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (x,y) -> x+y)"

  /** DuckDB literal for a hyperplane sign vector. */
  private def planeLit(j: Int, dims: Int): String =
    Similarity.hyperplane(j, dims).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** DuckDB twin of Similarity.signBucket over column `v`. */
  private def bucketSql(v: String, planes: Int, dims: Int): String =
    (0 until planes).map { j =>
      s"(CASE WHEN ${dotSql(v, planeLit(j, dims))} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val Dims = 64
  private val Planes = 8

  // ---- Q14: exact dedup (hash-groupBy, one shuffle) ---------------------
  def q14(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(tbl(s, dir, "documents"), Seq("text"), "doc_id")
      .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
  val q14Sql: String =
    """SELECT lang, count(*) AS n
      |FROM (SELECT text, arg_min(lang, doc_id) AS lang FROM documents GROUP BY text)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- Q15: exact ANN top-k (broadcast probes, no corpus shuffle) -------
  def q15(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), Seq(1L, 2L, 3L, 4L, 5L), 3)
      .orderBy("vec_id", "neighbor_id")
  val q15Sql: String = {
    val dot = dotSql("p.v", "e2.v")
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM n),
       |sc AS (SELECT p.vec_id AS vec_id, e2.vec_id AS neighbor_id,
       |         $dot/(p.nrm*e2.nrm) AS cos
       |       FROM (SELECT * FROM nn WHERE vec_id IN (1,2,3,4,5)) p, nn e2
       |       WHERE e2.vec_id <> p.vec_id),
       |rk AS (SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |       FROM sc)
       |SELECT vec_id, neighbor_id, round(cos,6) AS sim FROM rk WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin
  }

  // ---- Q15b: sign-LSH bucketed ANN (the scale path) ---------------------
  def q15b(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(tbl(s, dir, "embeddings"), Seq(1L, 2L, 3L, 4L, 5L), 3,
      Planes, Dims).orderBy("vec_id", "neighbor_id")
  val q15bSql: String = {
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
       |         ${bucketSql("v", Planes, Dims)} AS bkt FROM n),
       |sc AS (SELECT p.vec_id AS vec_id, e2.vec_id AS neighbor_id,
       |         ${dotSql("p.v", "e2.v")}/(p.nrm*e2.nrm) AS cos
       |       FROM (SELECT * FROM nn WHERE vec_id IN (1,2,3,4,5)) p, nn e2
       |       WHERE e2.bkt = p.bkt AND e2.vec_id <> p.vec_id),
       |rk AS (SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn
       |       FROM sc)
       |SELECT vec_id, neighbor_id, round(cos,6) AS sim FROM rk WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin
  }

  // ---- Q16: token-length melt (text analysis via Unpack melt) -----------
  def q16(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(length(col("tok")).cast("long").as("len")).agg(count(lit(1)).as("n"))
      .orderBy("len")
  val q16Sql: String =
    s"""SELECT length(tok) AS len, count(*) AS n
       |FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |GROUP BY len ORDER BY len""".stripMargin

  // ---- Q17: MinHash + LSH near-dup pairs --------------------------------
  def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.lshPairs(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  /** Shared CTE chain replaying MinHash-LSH candidate pairs in DuckDB
    * (tok → shingles → minhash signature → banded buckets → verified
    * pairs with exact shingle Jaccard) — used by q17 and, with a
    * threshold, by q52's connected-components closure. */
  private def lshPairsCtes: String = {
    val mh = ColFns.MinhashA.zip(ColFns.MinhashB).map { case (a, b) =>
      s"list_min(list_transform(sh, s -> (${a} * (${h60Sql("s")} % 2147483647) + ${b}) % 2147483647))"
    }.mkString("[", ",\n    ", "]")
    sharedCtes("lsh", Seq("pairs"),
      s"""tok AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
         |shg AS (SELECT id, ${shingles3Sql("toks")} AS sh FROM tok),
         |sig AS (SELECT id, sh, $mh AS sig FROM shg),
         |banded AS (SELECT id, sh, b AS band_id,
         |    md5(concat_ws(',', CAST(sig[2*b+1] AS VARCHAR), CAST(sig[2*b+2] AS VARCHAR))) AS bh
         |  FROM sig, (SELECT unnest(range(0,8)) AS b) bands),
         |pairs AS (SELECT l.id AS id_a, r.id AS id_b,
         |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(l.sh, r.sh))) AS jac
         |  FROM banded l JOIN banded r
         |    ON l.band_id = r.band_id AND l.bh = r.bh AND l.id < r.id)""".stripMargin)
  }
  val q17Sql: String =
    s"""WITH $lshPairsCtes
       |SELECT id_a, id_b, round(max(jac),6) AS jaccard FROM pairs
       |GROUP BY id_a, id_b HAVING max(jac) >= 0.0 ORDER BY id_a, id_b""".stripMargin

  // ---- Q18: 64-bit SimHash (one explode + one aggregation) --------------
  def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(tbl(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
  val q18Sql: String = {
    val sums = (0 until 32).flatMap { j =>
      Seq(s"sum(CASE WHEN (hi >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS shi$j",
        s"sum(CASE WHEN (lo >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS slo$j")
    }.mkString(",\n    ")
    def asm(p: String) = (0 until 32).map(j =>
      s"(CASE WHEN $p$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |h AS (SELECT doc_id, ${h32Sql("t", 1)} AS hi, ${h32Sql("t", 9)} AS lo FROM tok),
       |sm AS (SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, ${asm("shi")} AS simhash_hi, ${asm("slo")} AS simhash_lo
       |FROM sm ORDER BY doc_id""".stripMargin
  }

  // ---- Q19: char n-gram Jaccard near-dup, lang+length-banded ------------
  def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text", "lang",
      n = 5, lenBand = 64, minJaccard = 0.05)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  private def q19SqlFor(docFilter: String): String =
    s"""WITH prep AS (SELECT doc_id AS id, lang,
       |    list_distinct(list_transform(${charShinglesSql("lower(text)", 5)},
       |      gs -> ${h60Sql("gs")})) AS g,
       |    CAST(floor(length(text)/64) AS BIGINT) AS bucket
       |  FROM documents$docFilter),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.g, b.g))) AS jac
       |  FROM prep a JOIN prep b
       |    ON a.lang = b.lang AND (a.bucket = b.bucket OR a.bucket = b.bucket + 1)
       |    AND a.id < b.id)
       |SELECT id_a, id_b, round(max(jac),6) AS jaccard FROM pairs
       |GROUP BY id_a, id_b HAVING max(jac) >= 0.05 ORDER BY id_a, id_b""".stripMargin
  val q19Sql: String = q19SqlFor("")

  // ---- Q85: q19's pairs on a deterministic 1-in-8 id slice --------------
  // The FULL-corpus pair run, restricted afterwards to pairs whose
  // both endpoints fall in a deterministic md5 slice of doc ids.
  // Because every per-pair quantity (lang/length band, shingle sets,
  // jaccard, the max over shared bands) is pointwise in the pair's
  // two documents, this equals q19 run on the sliced corpus — which
  // is what the oracle computes, quadratic in |corpus|/8 instead of
  // |corpus|.  At sf1 (50k docs) this is the feasible hash check for
  // the one query whose full oracle replay is quadratic; the Spark
  // side still executes the complete pair pipeline (the slice
  // predicate sits above least/greatest, which Catalyst does not
  // rewrite into per-side pushdowns).
  private val Q85SliceMod = 8
  def q85(s: SparkSession, dir: String): DataFrame = {
    def inSlice(c: org.apache.spark.sql.Column) =
      pmod(graft.functions.ColFns.h60(c.cast("string")), lit(Q85SliceMod)) === 0
    Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text", "lang",
      n = 5, lenBand = 64, minJaccard = 0.05)
      .where(inSlice(col("id_a")) && inSlice(col("id_b")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q85Sql: String = q19SqlFor(
    s" WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % $Q85SliceMod = 0")

  // ---- Q20: embedding-cosine near-dup pairs (sign-LSH blocked) ----------
  // 4 planes / cos >= 0.35 tuned to the synthetic embeddings (max
  // pairwise cosine ~0.51) so the check exercises nonempty output.
  private val NearDupPlanes = 4
  private val NearDupMinCos = 0.35
  def q20(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(tbl(s, dir, "embeddings"), NearDupMinCos, NearDupPlanes, Dims)
      .orderBy("id_a", "id_b")
  val q20Sql: String =
    s"""WITH n AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT id, v, sqrt(${dotSql("v", "v")}) AS nrm,
       |    ${bucketSql("v", NearDupPlanes, Dims)} AS bkt FROM n)
       |SELECT a.id AS id_a, b.id AS id_b,
       |    round(${dotSql("a.v", "b.v")}/(a.nrm*b.nrm),6) AS cos
       |FROM nn a JOIN nn b ON a.bkt = b.bkt AND a.id < b.id
       |WHERE ${dotSql("a.v", "b.v")}/(a.nrm*b.nrm) >= $NearDupMinCos
       |ORDER BY id_a, id_b""".stripMargin

  // ---- Q21: language-ID (stopword-hit argmax, earliest lang wins ties) --
  def q21(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("lang"), TextOps.langIdCol(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  val q21Sql: String = {
    val hits = TextOps.StopWords.map { case (lang, ws) =>
      val in = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($in))) AS hits_$lang"
    }.mkString(",\n    ")
    val langs = TextOps.StopWords.map(_._1)
    val m = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
    val pred = langs.map(l => s"WHEN hits_$l = m THEN '$l'").mkString("CASE ", " ", " END")
    s"""WITH tok AS (SELECT lang, $toksSql AS toks FROM documents),
       |h AS (SELECT lang,
       |    $hits
       |  FROM tok),
       |p AS (SELECT lang, $pred AS predicted FROM (SELECT *, $m AS m FROM h))
       |SELECT lang, predicted, count(*) AS n FROM p
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }

  // ---- Q22: quality scoring, averaged per lang (exact decimal sums) -----
  def q22(s: SparkSession, dir: String): DataFrame = {
    def avg15(c: Column) =
      sum(c.cast("decimal(38,15)")).cast("double") / count(lit(1))
    withQuality(tbl(s, dir, "documents"), col("lang"))
      .groupBy("lang")
      .agg(sum(col("n_tokens")).as("sum_tokens"),
        round(avg15(col("mean_tok_len")), 6).as("avg_tok_len"),
        round(avg15(col("punct_ratio")), 6).as("avg_punct"),
        round(avg15(col("stopword_ratio")), 6).as("avg_stopword"),
        round(avg15(col("quality_score")), 6).as("avg_quality"))
      .orderBy("lang")
  }
  val q22Sql: String = {
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    def avg15(e: String) = s"round(CAST(sum(CAST($e AS DECIMAL(38,15))) AS DOUBLE)/count(*),6)"
    s"""WITH f AS (SELECT lang,
       |    len(toks) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM (SELECT lang, text, $toksSql AS toks FROM documents)),
       |g AS (SELECT lang, n_tokens, mean_tok_len, punct_ratio, stopword_ratio,
       |    stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
       |      + least(mean_tok_len / 8.0, 1.0) * 0.3 AS quality_score
       |  FROM f)
       |SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |    ${avg15("mean_tok_len")} AS avg_tok_len,
       |    ${avg15("punct_ratio")} AS avg_punct,
       |    ${avg15("stopword_ratio")} AS avg_stopword,
       |    ${avg15("quality_score")} AS avg_quality
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- Q23: token counting (whitespace + BPE-ish regex) -----------------
  def q23(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("lang"), TextOps.wsTokenCount(col("text")).as("ws"),
        TextOps.bpeTokenCount(col("text")).as("bpe"))
      .groupBy("lang")
      .agg(sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"))
      .orderBy("lang")
  val q23Sql: String =
    s"""SELECT lang,
       |  CAST(sum(len($toksSql)) AS BIGINT) AS ws_tokens,
       |  CAST(sum(len(regexp_extract_all(lower(text), '${TextOps.BpePattern}'))) AS BIGINT) AS bpe_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- Q24: rolling-hash fingerprint, distinct count per lang -----------
  def q24(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("lang"), TextOps.fingerprintCol(col("text")).as("fp"))
      .groupBy("lang").agg(countDistinct(col("fp")).as("n_fp"))
      .orderBy("lang")
  val q24Sql: String =
    s"""SELECT lang, count(DISTINCT fp) AS n_fp
       |FROM (SELECT lang,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($toksSql, t -> ${h60Sql("t")} % ${ColFns.FpMod})),
       |      (acc, x) -> (acc * ${ColFns.FpBase} + x) % ${ColFns.FpMod}) AS fp
       |  FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- Q25: window function (top-2 orders per status) -------------------
  def q25(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy("o_orderstatus", "rn")
  }
  val q25Sql: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice, rn
      |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 2 ORDER BY o_orderstatus, rn""".stripMargin

  // ---- Q26: broadcast join + aggregate ----------------------------------
  def q26(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .join(broadcast(tbl(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sumMoney(col("o_totalprice")), 6).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  val q26Sql: String =
    """SELECT c_mktsegment,
      | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),6) AS sum_price,
      | count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- Q27: set ops (EXCEPT = customers with no orders) -----------------
  def q27(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_custkey"))
      .except(tbl(s, dir, "orders").select(col("o_custkey")))
      .agg(count(lit(1)).as("n_no_orders"))
  val q27Sql: String =
    """SELECT count(*) AS n_no_orders FROM
      |(SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)""".stripMargin

  // ---- Q28: rollup (grouping-sets surface) ------------------------------
  def q28(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sumMoney(col("l_quantity")), 6).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  val q28Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),6) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---- Q29: multimodal REAL codec round trip, hash-checked --------------
  // The synthetic corpus images are genuine grayscale PNGs (ImageIO
  // encode) whose pixels follow a closed-form formula of the document
  // row; decode (ImageIO read) recovers width/height/channels/luma
  // from the RASTER, and DuckDB replays the same formula with
  // generate_series — so a real binary codec gets a full SQL oracle.
  // sum_luma is an exact integer (zero float risk); mean_luma rounds
  // at 6 decimals like every other float column in the gate.
  def q29(s: SparkSession, dir: String): DataFrame =
    Multimodal.withImageStats(Multimodal.syntheticMedia(s, dir))
      .select(col("media_id"),
        col("width_px").cast("long").as("width_px"),
        col("height_px").cast("long").as("height_px"),
        col("channels").cast("long").as("channels"),
        col("sum_luma"),
        round(col("mean_luma"), 6).as("mean_luma"))
      .orderBy("media_id")
  val q29Sql: String =
    """WITH dims AS (SELECT doc_id, (length(text) % 13) + 4 AS w,
      |    (length(text) % 11) + 4 AS h FROM documents),
      |xs AS (SELECT g FROM generate_series(0, 15) t(g)),
      |px AS (SELECT d.doc_id, d.w, d.h,
      |    CAST((d.doc_id*31 + x.g*7 + y.g*13) % 256 AS DOUBLE) AS v
      |  FROM dims d CROSS JOIN xs x CROSS JOIN xs y
      |  WHERE x.g < d.w AND y.g < d.h)
      |SELECT doc_id AS media_id, CAST(max(w) AS BIGINT) AS width_px,
      |  CAST(max(h) AS BIGINT) AS height_px, CAST(1 AS BIGINT) AS channels,
      |  CAST(sum(v) AS BIGINT) AS sum_luma, round(avg(v), 6) AS mean_luma
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ---- Q79: REAL audio codec round trip, hash-checked -------------------
  // The audio twin of q29: synthetic WAVs are genuine 16-bit PCM
  // (AudioSystem encode) whose samples follow a closed-form formula
  // of the document row; decode (AudioSystem read) recovers rate/
  // channels/frames/peak/energy from the PCM stream, and DuckDB
  // replays the same formula with generate_series.  peak/sum_sq are
  // exact integers; rms rounds at 6 decimals like every other float.
  def q79(s: SparkSession, dir: String): DataFrame =
    Multimodal.withAudioStats(Multimodal.syntheticAudio(s, dir))
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("audio_channels").cast("long").as("channels"),
        col("n_frames"), col("duration_ms"),
        col("peak").cast("long").as("peak"), col("sum_sq"),
        round(col("rms"), 6).as("rms"))
      .orderBy("media_id")
  val q79Sql: String =
    """WITH p AS (SELECT doc_id, (doc_id % 2) + 1 AS channels,
      |    8000 * ((doc_id % 3) + 1) AS rate,
      |    (length(text) % 50) + 20 AS frames FROM documents),
      |s AS (SELECT p.doc_id, p.channels, p.rate, p.frames,
      |    ((p.doc_id*31 + t.j*7919) % 65536) - 32768 AS v
      |  FROM p CROSS JOIN generate_series(0, 149) t(j)
      |  WHERE t.j < p.frames * p.channels)
      |SELECT doc_id AS media_id, CAST(max(rate) AS BIGINT) AS sample_rate,
      |  CAST(max(channels) AS BIGINT) AS channels,
      |  CAST(max(frames) AS BIGINT) AS n_frames,
      |  CAST(max(frames) * 1000 // max(rate) AS BIGINT) AS duration_ms,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(sum(v*v) AS BIGINT) AS sum_sq,
      |  round(sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)), 6) AS rms
      |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ---- Q86: multi-encoding audio codec round trip, hash-checked ---------
  // q79 over three genuinely different WAV layouts in one corpus:
  // 16-bit PCM, 24-bit PCM (samples ×256, decoded in native units),
  // and 32-bit IEEE float (samples /32768, exactly representable, so
  // the decoder's round(f·32768) recovers the base integers).  The
  // decoded `bits` column pins that each row really went through its
  // own encoding; one oracle formula with a per-row scale replays
  // peak/energy exactly.
  def q86(s: SparkSession, dir: String): DataFrame =
    Multimodal.withAudioStats(Multimodal.syntheticAudioMixed(s, dir))
      .select(col("media_id"), col("bits").cast("long").as("bits"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("audio_channels").cast("long").as("channels"),
        col("n_frames"), col("duration_ms"),
        col("peak").cast("long").as("peak"), col("sum_sq"),
        round(col("rms"), 6).as("rms"))
      .orderBy("media_id")
  val q86Sql: String =
    """WITH p AS (SELECT doc_id, (doc_id % 2) + 1 AS channels,
      |    8000 * ((doc_id % 3) + 1) AS rate,
      |    (length(text) % 50) + 20 AS frames,
      |    CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 32 END AS bits,
      |    CASE doc_id % 3 WHEN 1 THEN 256 ELSE 1 END AS scale
      |  FROM documents),
      |s AS (SELECT p.doc_id, p.channels, p.rate, p.frames, p.bits, p.scale,
      |    (((p.doc_id*31 + t.j*7919) % 65536) - 32768) * p.scale AS v
      |  FROM p CROSS JOIN generate_series(0, 149) t(j)
      |  WHERE t.j < p.frames * p.channels)
      |SELECT doc_id AS media_id, CAST(max(bits) AS BIGINT) AS bits,
      |  CAST(max(rate) AS BIGINT) AS sample_rate,
      |  CAST(max(channels) AS BIGINT) AS channels,
      |  CAST(max(frames) AS BIGINT) AS n_frames,
      |  CAST(max(frames) * 1000 // max(rate) AS BIGINT) AS duration_ms,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(sum(v*v) AS BIGINT) AS sum_sq,
      |  round(sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)), 6) AS rms
      |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ---- Q82: frame-level audio features, hash-checked --------------------
  // The frame-feature step of a speech pipeline: PCM split into
  // 16-frame windows, per window exact integer stats (sample count,
  // energy, peak, per-channel zero crossings — a crossing counts in
  // the later sample's window).  DuckDB replays the closed-form
  // samples and pairs each with its same-channel predecessor
  // (j - channels) to count sign flips.  All-integer, so hash-exact.
  def q82(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrameFeatures(Multimodal.syntheticAudio(s, dir), 16)
      .select(col("media_id"), col("win_no").cast("long").as("win_no"),
        col("n_samples"), col("sum_sq"),
        col("peak").cast("long").as("peak"), col("zero_crossings"))
      .orderBy("media_id", "win_no")
  val q82Sql: String =
    """WITH p AS (SELECT doc_id, (doc_id % 2) + 1 AS channels,
      |    (length(text) % 50) + 20 AS frames FROM documents),
      |s AS (SELECT p.doc_id, (t.j // p.channels) // 16 AS win_no,
      |    ((p.doc_id*31 + t.j*7919) % 65536) - 32768 AS v,
      |    CASE WHEN t.j >= p.channels THEN
      |      ((p.doc_id*31 + (t.j - p.channels)*7919) % 65536) - 32768
      |    END AS pv
      |  FROM p CROSS JOIN generate_series(0, 149) t(j)
      |  WHERE t.j < p.frames * p.channels)
      |SELECT doc_id AS media_id, CAST(win_no AS BIGINT) AS win_no,
      |  count(*) AS n_samples, CAST(sum(v*v) AS BIGINT) AS sum_sq,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(count(*) FILTER (pv IS NOT NULL AND pv*v < 0) AS BIGINT)
      |    AS zero_crossings
      |FROM s GROUP BY doc_id, win_no ORDER BY media_id, win_no""".stripMargin

  // ---- Q87: frame features across all three audio encodings --------------
  // q82's windowed decode over the mixed 16/24/float corpus: the
  // per-encoding sample reader must produce the same windows, scaled
  // by the 24-bit unit factor where applicable.  Zero crossings are
  // scale-invariant (sign flips survive a positive scale); energy
  // and peak scale by s² and s.  Exercises the float and 24-bit
  // readers through the streaming window loop, not just whole-file
  // stats (q86).
  def q87(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrameFeatures(Multimodal.syntheticAudioMixed(s, dir), 16)
      .select(col("media_id"), col("win_no").cast("long").as("win_no"),
        col("n_samples"), col("sum_sq"),
        col("peak").cast("long").as("peak"), col("zero_crossings"))
      .orderBy("media_id", "win_no")
  val q87Sql: String =
    """WITH p AS (SELECT doc_id, (doc_id % 2) + 1 AS channels,
      |    (length(text) % 50) + 20 AS frames,
      |    CASE doc_id % 3 WHEN 1 THEN 256 ELSE 1 END AS scale
      |  FROM documents),
      |s AS (SELECT p.doc_id, (t.j // p.channels) // 16 AS win_no, p.scale,
      |    ((p.doc_id*31 + t.j*7919) % 65536) - 32768 AS v,
      |    CASE WHEN t.j >= p.channels THEN
      |      ((p.doc_id*31 + (t.j - p.channels)*7919) % 65536) - 32768
      |    END AS pv
      |  FROM p CROSS JOIN generate_series(0, 149) t(j)
      |  WHERE t.j < p.frames * p.channels)
      |SELECT doc_id AS media_id, CAST(win_no AS BIGINT) AS win_no,
      |  count(*) AS n_samples,
      |  CAST(sum(v*v*scale*scale) AS BIGINT) AS sum_sq,
      |  CAST(max(abs(v)*scale) AS BIGINT) AS peak,
      |  CAST(count(*) FILTER (pv IS NOT NULL AND pv*v < 0) AS BIGINT)
      |    AS zero_crossings
      |FROM s GROUP BY doc_id, win_no ORDER BY media_id, win_no""".stripMargin

  // ---- Q88: video frame sampling over a REAL demuxed sequence -----------
  // The video twin of q29: synthetic videos are PNG frame sequences
  // (the pre-demuxed corpus shape — real containers need a transcode
  // upstream, see Multimodal's module doc) built from a closed-form
  // per-frame pixel formula; the Spark side runs the genuine
  // encode → demuxFrames (byte-structure walk) → even-stride sample
  // → ImageIO decode chain, and DuckDB replays the sampling
  // arithmetic and pixel formula with generate_series.  sum_luma is
  // an exact integer; mean_luma rounds at 6 decimals like every
  // other float in the gate.
  def q88(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameStats(Multimodal.syntheticVideo(s, dir), 4)
      .select(col("media_id"),
        col("frame_no").cast("long").as("frame_no"),
        col("width_px").cast("long").as("width_px"),
        col("height_px").cast("long").as("height_px"),
        col("sum_luma"),
        round(col("mean_luma"), 6).as("mean_luma"))
      .orderBy("media_id", "frame_no")
  val q88Sql: String =
    """WITH dims AS (SELECT doc_id, (length(text) % 13) + 4 AS w,
      |    (length(text) % 11) + 4 AS h, (length(text) % 5) + 2 AS f
      |  FROM documents),
      |sel AS (SELECT d.doc_id, d.w, d.h,
      |    CASE WHEN d.f <= 4 THEN t.i ELSE (t.i * d.f) // 4 END AS k
      |  FROM dims d CROSS JOIN generate_series(0, 3) t(i)
      |  WHERE t.i < least(d.f, 4)),
      |px AS (SELECT s.doc_id, s.k, s.w, s.h,
      |    CAST((s.doc_id*31 + s.k*17 + x.g*7 + y.g*13) % 256 AS DOUBLE) AS v
      |  FROM sel s CROSS JOIN generate_series(0, 15) x(g)
      |    CROSS JOIN generate_series(0, 15) y(g)
      |  WHERE x.g < s.w AND y.g < s.h)
      |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_no,
      |  CAST(max(w) AS BIGINT) AS width_px, CAST(max(h) AS BIGINT) AS height_px,
      |  CAST(sum(v) AS BIGINT) AS sum_luma, round(avg(v), 6) AS mean_luma
      |FROM px GROUP BY doc_id, k ORDER BY media_id, frame_no""".stripMargin

  // ---- Q83: small-file compaction, hash-checked --------------------------
  // A corpus accreted in per-batch appends becomes thousands of tiny
  // files; Tables.compactFiles rewrites them at a target file size.
  // The gate fragments documents into 64 tiny files, compacts to ~1
  // file, and fingerprints every row off the compacted copy — the
  // oracle reads the original parquet, so any dropped/duplicated/
  // mangled row flips a hash.  The file-count collapse is asserted
  // Spark-side (64 fragments in, 1 file out at this size).
  def q83(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("q83_compact")
    tbl(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(s"$base/frag")
    val fragFiles = new java.io.File(s"$base/frag")
      .listFiles.count(_.getName.endsWith(".parquet"))
    require(fragFiles == 64, s"expected 64 fragments, got $fragFiles")
    val n = graft.sources.Tables.compactFiles(s, s"$base/frag", s"$base/out")
    val outFiles = new java.io.File(s"$base/out")
      .listFiles.count(_.getName.endsWith(".parquet"))
    require(outFiles == n && n < 64,
      s"compaction must collapse 64 fragments, got $outFiles files (plan $n)")
    s.read.parquet(s"$base/out")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }
  val q83Sql: String =
    """SELECT doc_id, lang, n_chars, md5(text) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- Q84: PARTITION-AWARE compaction, layout + hash checked ------------
  // Same contract as q83 but over a Hive-partitioned tree (lang=
  // directories): Tables.compactPartitioned must compact every leaf
  // partition independently while preserving the directory layout
  // VERBATIM.  Layout identity and the per-partition file-count
  // collapse are asserted Spark-side; row fidelity (including the
  // partition column surviving the round trip) is the oracle hash.
  def q84(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("q84_compactp")
    tbl(s, dir, "documents").repartition(8)
      .write.mode("overwrite").partitionBy("lang").parquet(s"$base/frag")
    def langDirs(sub: String): Set[String] = new java.io.File(s"$base/$sub")
      .listFiles.filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .map(_.getName).toSet
    def filesIn(sub: String, d: String): Int = new java.io.File(s"$base/$sub/$d")
      .listFiles.count(_.getName.endsWith(".parquet"))
    val before = langDirs("frag")
    require(before.nonEmpty, "expected lang= partition dirs")
    require(before.forall(d => filesIn("frag", d) > 1),
      "every partition must start fragmented for the collapse to mean anything")
    val (nLeaves, _) = graft.sources.Tables.compactPartitioned(
      s, s"$base/frag", s"$base/out", parallelism = 4)
    require(nLeaves == before.size,
      s"leaf discovery found $nLeaves dirs, expected ${before.size}")
    val after = langDirs("out")
    require(after == before, s"partition layout must be preserved: $before vs $after")
    require(before.forall(d => filesIn("out", d) < filesIn("frag", d)),
      "every partition's file count must collapse")
    s.read.parquet(s"$base/out")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }
  val q84Sql: String = q83Sql

  // ---- Q81: JSONL corpus round trip, hash-checked ------------------------
  // LLM corpora ship as JSON-lines; this proves the graft JSONL
  // source/sink preserves every byte: documents → partitioned JSONL
  // (lang directories, like a real corpus export) → schema-pinned
  // read-back → per-doc md5 of the text.  Any escaping/unicode/
  // partition-column corruption in the round trip flips a
  // fingerprint; the oracle computes the same md5 straight off the
  // parquet.
  def q81(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("q81_jsonl")
    val docs = tbl(s, dir, "documents")
    graft.sources.Tables.writeJsonl(docs, out, partitionCols = Seq("lang"))
    graft.sources.Tables.json(s, out, docs.schema)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }
  val q81Sql: String =
    """SELECT doc_id, lang, source, n_chars, md5(text) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- Q30: event-time windowed aggregation (streaming surface on batch) -
  // `ts2` is the schema-adaptive micros timestamp (eventsTs2); tumble
  // it into 1-hour windows.
  def q30(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTs2(s, dir)
    StreamingAgg.windowedAgg(ev, "ts2", "0 seconds", "1 hour",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(38,15)")).cast("double"), 6).as("sum_value")))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")
  }
  val q30Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      | round(CAST(sum(CAST(value AS DECIMAL(38,15))) AS DOUBLE),6) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Shared MemoryStream harness for the STREAM-EXECUTED gate queries
    * (q40, q63): feed time-sorted rows in ascending chunks
    * (`processAllAvailable` between batches so the watermark
    * advances), close the trailing windows with a far-future
    * `sentinel` row, and return the Append-mode memory sink.  The
    * caller's collect is the TEST FEED — MemoryStream takes
    * driver-side batches by design; the aggregation under test is
    * fully distributed, and a production pipeline reads from a real
    * streaming source instead. */
  /** runStreamed variant for stateful operators that emit on data
    * (flatMapGroupsWithState Append / mapGroupsWithState Update)
    * rather than on watermark passage — no closing sentinel needed,
    * and the output mode is the operator's. */
  private def runStreamedMode[A <: Product : org.apache.spark.sql.Encoder](
      s: SparkSession, rows: Seq[A], sinkName: String,
      colNames: Seq[String], mode: String)(build: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[A]
    val agg = build(in.toDF().toDF(colNames: _*))
    val q = agg.writeStream.format("memory").queryName(sinkName)
      .outputMode(mode).start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { c =>
        in.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    s.table(sinkName)
  }

  private def runStreamed[A <: Product : org.apache.spark.sql.Encoder](
      s: SparkSession, rows: Seq[A], sentinel: A, sinkName: String,
      colNames: Seq[String])(build: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[A]
    val agg = build(in.toDF().toDF(colNames: _*))
    val q = agg.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { c =>
        in.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      in.addData(sentinel); q.processAllAvailable()
    } finally q.stop()
    s.table(sinkName)
  }

  // ---- Q40: the SAME windowed aggregation, STREAM-EXECUTED ---------------
  // q30 runs the streaming surface on a batch frame; this one actually
  // executes it through the runStreamed harness (Append mode — windows
  // emit only once the watermark passes them, the honest streaming
  // path).  The sink must match the same DuckDB oracle as the batch
  // run.
  def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(col("ts2"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(_._1.getTime)
    val sentinel =
      (new java.sql.Timestamp(ev.last._1.getTime + 2 * 3600 * 1000L), "__sentinel", 0.0)
    runStreamed(s, ev.toIndexedSeq, sentinel, "q40_stream_sink",
      Seq("ts2", "event_type", "value")) { df =>
      StreamingAgg.windowedAgg(df, "ts2", "0 seconds", "1 hour",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(38,15)")).cast("double"), 6).as("sum_value")))
        .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
    }.where(col("event_type") =!= "__sentinel")
      .orderBy("hour", "event_type")
  }
  // identical oracle to q30: stream execution must not change results
  val q40Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      | round(CAST(sum(CAST(value AS DECIMAL(38,15))) AS DOUBLE),6) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---- Q42: multimodal metadata aggregation (no bytes touched) ----------
  // Metadata lives beside the bytes; this aggregates meta WITHOUT
  // decoding content (column pruning — proven in MultimodalSpec).
  // Dimension formulas match Multimodal.syntheticMedia's PNG builder.
  def q42(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticMedia(s, dir)
      .groupBy(col("meta.kind").as("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("meta.width").cast("long")).as("sum_w"),
        sum(col("meta.height").cast("long")).as("sum_h"))
      .orderBy("kind")
  val q42Sql: String =
    """SELECT 'image' AS kind, count(*) AS n_media,
      | CAST(sum((length(text) % 13) + 4) AS BIGINT) AS sum_w,
      | CAST(sum((length(text) % 11) + 4) AS BIGINT) AS sum_h
      |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin

  // ---- Q43: approximate-quantile sketch fold (q12's scale-safe twin) ----
  // The KLL-style QSketch is exact (and merge-order independent)
  // while a group fits its capacity, so the gate checks it
  // hash-exactly against quantile_disc at sf0.01 (max group ~20k <
  // 32768); the compaction regime's error bound is pinned in
  // FoldSpec.  At 100 TB you'd drop capacity and accept ε rank error
  // — same plan, O(k log n) state instead of a whole buffered group.
  def q43(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val ds = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
    DatasetEngine.run(ds, Unpack.none[(String, Double)],
      Assign.of[(String, Double), String, Double](_._1)(_._2),
      Reduce.fromFold[String, Double, Double](
        Folds.approxQuantile(32768, 0.5)), ordered = true)
      .toDF("l_returnflag", "median_qty")
      .select(col("l_returnflag"), round(col("median_qty"), 6).as("median_qty"))
  }
  val q43Sql: String =
    """SELECT l_returnflag, round(quantile_disc(l_quantity, 0.5),6) AS median_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Q44: deterministic hash split (train/val/test) --------------------
  // Membership is a pure function of the id hash — reproducible on
  // any run/cluster/engine; sum(doc_id) pins the exact membership,
  // not just the split sizes.
  def q44(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(tbl(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  val q44Sql: String =
    s"""WITH h AS (SELECT doc_id,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |  FROM documents),
       |s AS (SELECT doc_id, CASE WHEN hb < 8000 THEN 'train'
       |    WHEN hb < 9000 THEN 'val' ELSE 'test' END AS split FROM h)
       |SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---- Q45: deterministic k-per-group sample (bounded top-k agg) ---------
  def q45(s: SparkSession, dir: String): DataFrame =
    Sampling.samplePerGroup(tbl(s, dir, "documents"), Seq("lang"), "doc_id", 7)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
      .orderBy("lang")
  val q45Sql: String =
    s"""WITH h AS (SELECT lang, doc_id,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hv FROM documents),
       |r AS (SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn FROM h)
       |SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM r WHERE rn <= 7 GROUP BY lang ORDER BY lang""".stripMargin

  // ---- Q46: end-to-end training-data pipeline composition ----------------
  // The flagship composition: exact dedup (hashed key) → per-doc
  // quality scoring → threshold filter → deterministic hash split →
  // per-split stats.  Every stage is a library operator; the whole
  // chain is one declarative plan whose only exchanges are the two
  // aggregations (dedup, per-split) plus the output sort — scoring,
  // filtering and splitting all fuse into the scan-side projection —
  // and it hash-checks against DuckDB.
  // sum(doc_id) pins exact membership through all four stages.
  def q46(s: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.exact(tbl(s, dir, "documents"), Seq("text"), "doc_id",
      hashKey = true)
    val scored = withQuality(deduped, col("doc_id"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(scored, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  val q46Sql: String = {
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |d AS (SELECT doc.doc_id, doc.text, $toksSql AS toks
       |      FROM documents doc JOIN surv ON doc.doc_id = surv.doc_id),
       |q AS (SELECT doc_id, len(toks) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM d),
       |f AS (SELECT doc_id, n_tokens FROM q
       |  WHERE stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
       |      + least(mean_tok_len / 8.0, 1.0) * 0.3 >= 0.5),
       |sp AS (SELECT doc_id, n_tokens,
       |    CASE WHEN hb < 8000 THEN 'train' WHEN hb < 9000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT *, ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |        FROM f))
       |SELECT split, count(*) AS n,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM sp GROUP BY split ORDER BY split""".stripMargin
  }

  // ---- Q47: sequence packing (token-budget context windows) --------------
  // Greedy no-split packing via one bucket-parallel windowed prefix
  // sum; pack-level stats then aggregate globally.  Deterministic in
  // the id hash, so DuckDB replays the identical packing.
  private val PackCapacity = 512L
  private val PackBuckets = 8
  def q47(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_tokens"))
    val packed = Packing.packBySize(docs, "doc_id", "n_tokens",
      PackCapacity, PackBuckets)
    packed.groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        max(col("pack_tokens")).as("max_pack_tokens"),
        round(sum(col("pack_tokens").cast("decimal(38,15)")).cast("double")
          / count(lit(1)), 6).as("avg_pack_tokens"))
  }
  val q47Sql: String =
    s"""WITH d AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |b AS (SELECT doc_id, n_tokens,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket FROM d),
       |p AS (SELECT bucket, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens AS prefix
       |  FROM b),
       |packs AS (SELECT bucket * ${1L << 32} + prefix // $PackCapacity AS pack_id,
       |    count(*) AS n_docs, sum(n_tokens) AS pack_tokens
       |  FROM p GROUP BY 1)
       |SELECT count(*) AS n_packs, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
       |  round(CAST(sum(CAST(pack_tokens AS DECIMAL(38,15))) AS DOUBLE)/count(*),6)
       |    AS avg_pack_tokens
       |FROM packs""".stripMargin

  // ---- Q48: session windows vs a gaps-and-islands oracle -----------------
  // Spark's session_window merges events whose gap to the previous
  // event is < gapDuration; the DuckDB twin is the classic islands
  // construction (lag → break flag → running session id).  Closes the
  // gate gap where session semantics were only spec-covered.
  def q48(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTs2(s, dir)
    StreamingAgg.sessionAgg(ev, "ts2", "0 seconds", "5 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .select(col("event_type"), col("session_window.start").as("sess_start"),
        col("n"))
      .orderBy("event_type", "sess_start")
  }
  val q48Sql: String =
    """WITH l AS (SELECT event_type, ts,
      |    lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
      |  FROM events),
      |f AS (SELECT event_type, ts,
      |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 5 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |g AS (SELECT event_type, ts,
      |    sum(brk) OVER (PARTITION BY event_type ORDER BY ts) AS sid
      |  FROM f)
      |SELECT event_type, min(ts) AS sess_start, count(*) AS n
      |FROM g GROUP BY event_type, sid ORDER BY event_type, sess_start""".stripMargin

  // ---- Q49: HyperLogLog distinct estimate vs exact -----------------------
  // Registers merge by max (order-independent); the register sum is
  // taken over DECIMAL(38,0) of exact powers of two, so the estimate
  // is bit-replayable in DuckDB.  ln() is the one libm call — rounded
  // to 2 decimals for cross-engine safety.
  private val HllP = 12
  private val HllM = 1 << HllP
  def q49(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val h = h60(col("text"))
    val msb = length(ltrim(bin(shiftrightunsigned(h, HllP)), "0"))
    val rho = lit(60 - HllP + 1) - msb
    val regs = docs
      .select(h.bitwiseAND(lit((HllM - 1).toLong)).as("bucket"), rho.as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("reg"))
    val mD = lit(HllM.toDouble)
    val two64d = pow(lit(2.0), lit(64.0))
    val agg = regs.agg(
      sum(pow(lit(2.0), lit(64) - col("reg")).cast("decimal(38,0)")).as("sp"),
      count(lit(1)).as("nb"))
    val sTotal = (col("sp") +
      (lit(HllM) - col("nb")).cast("decimal(38,0)") * two64d.cast("decimal(38,0)"))
      .cast("double")
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / mD) * mD * mD * two64d / sTotal
    val est = when(raw <= lit(2.5) * mD && col("nb") < lit(HllM),
      mD * log(mD / (mD - col("nb")))).otherwise(raw)
    docs.agg(countDistinct(col("text")).as("n_exact"))
      .crossJoin(agg.select(round(est, 2).as("hll_estimate")))
  }
  val q49Sql: String =
    s"""WITH h AS (SELECT ${h60Sql("text")} AS hv FROM documents),
       |b AS (SELECT hv & ${HllM - 1} AS bucket,
       |    ${60 - HllP + 1} - length(ltrim(bin(hv >> $HllP), '0')) AS rho FROM h),
       |r AS (SELECT bucket, max(rho) AS reg FROM b GROUP BY bucket),
       |a AS (SELECT sum(CAST(power(2, 64 - reg) AS DECIMAL(38,0))) AS sp,
       |    count(*) AS nb FROM r),
       |e AS (SELECT CAST(sp + CAST($HllM - nb AS DECIMAL(38,0))
       |        * CAST(power(2, 64) AS DECIMAL(38,0)) AS DOUBLE) AS st, nb FROM a),
       |est AS (SELECT CASE
       |    WHEN 0.7213/(1.0 + 1.079/$HllM.0) * $HllM.0 * $HllM.0 * power(2,64)/st
       |           <= 2.5 * $HllM.0 AND nb < $HllM
       |    THEN $HllM.0 * ln($HllM.0 / ($HllM.0 - nb))
       |    ELSE 0.7213/(1.0 + 1.079/$HllM.0) * $HllM.0 * $HllM.0 * power(2,64)/st
       |    END AS ev FROM e)
       |SELECT (SELECT count(DISTINCT text) FROM documents) AS n_exact,
       |  round(ev, 2) AS hll_estimate FROM est""".stripMargin

  // ---- Q50: as-of join (point-in-time lookup) ----------------------------
  // Each purchase gets the latest prior (or simultaneous) view's
  // value per user; checked against DuckDB's native ASOF LEFT JOIN.
  def q50(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTs2(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts2"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts2"))
      .agg(max(col("value")).as("r_value")) // unique per (key, ts) precondition
    graft.ext.AsOf.asOfJoin(purchases, views, Seq("user_id"), "ts2", "ts2")
      .groupBy((col("user_id") % 10).as("ug"))
      .agg(count(lit(1)).as("n"), count(col("r_value")).as("n_matched"),
        round(sum(col("r_value").cast("decimal(38,15)")).cast("double"), 6)
          .as("sum_rv"))
      .orderBy("ug")
  }
  val q50Sql: String =
    """WITH l AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, ts, max(value) AS r_value FROM events
      |      WHERE event_type = 'view' GROUP BY 1, 2),
      |j AS (SELECT l.user_id, r.r_value
      |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
      |SELECT user_id % 10 AS ug, count(*) AS n, count(r_value) AS n_matched,
      |  round(CAST(sum(CAST(r_value AS DECIMAL(38,15))) AS DOUBLE),6) AS sum_rv
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- Q51: binned range join (point-in-interval) ------------------------
  // Order dates joined into lineitem delivery windows
  // [shipdate, shipdate + orderkey%30 days] containing them — binned
  // equi-join (one shuffle), never a nested loop; the oracle is
  // DuckDB's native inequality join.
  def q51(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val pts = tbl(s, dir, "orders").select(col("o_orderdate").as("dt")).distinct()
      .withColumn("d", datediff(col("dt"), epoch).cast("long"))
    val iv = tbl(s, dir, "lineitem").select(
      datediff(col("l_shipdate"), epoch).cast("long").as("lo"),
      (datediff(col("l_shipdate"), epoch).cast("long")
        + col("l_orderkey") % 30).as("hi"))
    graft.ext.RangeJoin.pointInInterval(pts, "d", iv, "lo", "hi", binWidth = 16)
      .groupBy(year(col("dt")).cast("long").as("yr"),
        month(col("dt")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("yr", "mo")
  }
  val q51Sql: String =
    """WITH pts AS (SELECT DISTINCT o_orderdate AS dt FROM orders)
      |SELECT EXTRACT(YEAR FROM dt) AS yr, EXTRACT(MONTH FROM dt) AS mo,
      |  count(*) AS n_pairs
      |FROM pts JOIN lineitem
      |  ON CAST(dt AS DATE) BETWEEN CAST(l_shipdate AS DATE)
      |        AND CAST(l_shipdate AS DATE) + CAST(l_orderkey % 30 AS INTEGER)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- Q31: variance fold (Chan's mergeable one-pass update) ------------
  // Typed-engine path: Folds.variance compiled to an Aggregator —
  // per-partition partial (count, mean, M2) buffers merged exactly.
  def q31(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val ds = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
    DatasetEngine.run(ds, Unpack.none[(String, Double)],
      Assign.of[(String, Double), String, Double](_._1)(_._2),
      Reduce.fromFold[String, Double, Double](Folds.variance), ordered = true)
      .toDF("l_returnflag", "var_qty")
      .select(col("l_returnflag"), round(col("var_qty"), 6).as("var_qty"))
  }
  val q31Sql: String =
    """SELECT l_returnflag, round(var_pop(l_quantity),6) AS var_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Q32: top-k fold (bounded-buffer reduction, not a window sort) ----
  // Per event type, the 3 largest (value, event_id) pairs via
  // Folds.topK — merge keeps only k elements, so the shuffle carries
  // O(groups × k), not O(rows) (contrast with window row_number which
  // sorts every group).
  def q32(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val ds = tbl(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .as[(String, Double, Long)]
    val out = DatasetEngine.run(ds, Unpack.none[(String, Double, Long)],
      Assign.of[(String, Double, Long), String, (Double, Long)](_._1)(r => (r._2, r._3)),
      Reduce.fromFold[String, (Double, Long), List[(Double, Long)]](
        Folds.topK[(Double, Long)](3)), ordered = true)
    out.toDF("event_type", "top")
      .select(col("event_type"), explode(col("top")).as("p"))
      .select(col("event_type"), col("p._1").as("value"), col("p._2").as("event_id"))
      .orderBy(col("event_type"), col("value").desc, col("event_id").desc)
  }
  val q32Sql: String =
    """SELECT event_type, value, event_id
      |FROM (SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn <= 3 ORDER BY event_type, value DESC, event_id DESC""".stripMargin

  // ---- Q33: skew-resistant salted two-phase aggregation -----------------
  // Same result as a plain grouped mean (l_quantity is integer-valued,
  // so double sums are exact under ANY merge topology); the point is
  // the plan: hot keys spread over 16 salt buckets in phase 1, tiny
  // phase-2 merge — the aggregation-skew lever AQE doesn't provide.
  def q33(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val ds = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
    DatasetEngine.runSalted(ds, Unpack.none[(String, Double)],
      Assign.of[(String, Double), String, Double](_._1)(_._2),
      Folds.mean, saltBuckets = 16, ordered = true)
      .toDF("l_returnflag", "mean_qty")
      .select(col("l_returnflag"), round(col("mean_qty"), 6).as("mean_qty"))
  }
  val q33Sql: String =
    """SELECT l_returnflag, round(sum(l_quantity)/count(*),6) AS mean_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Q34: left-anti join (nations with customers but no suppliers) ----
  def q34(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
      .join(tbl(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct(),
        Seq("nk"), "left_anti")
      .agg(count(lit(1)).as("n_nations"))
  val q34Sql: String =
    """SELECT count(*) AS n_nations FROM
      |(SELECT DISTINCT c_nationkey AS nk FROM customer
      | WHERE c_nationkey NOT IN (SELECT DISTINCT s_nationkey FROM supplier))""".stripMargin

  // ---- Q35: cube (all grouping-set combinations) ------------------------
  def q35(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  val q35Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---- Q36: pivot (status columns per priority row) ---------------------
  def q36(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .orderBy("o_orderpriority")
  val q36Sql: String =
    """SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
      | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
      | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- Q37: IVF-flat ANN (k-means codebook, coarse cells, nProbe search) -
  // The codebook is deterministic (exact decimal dimension sums,
  // lowest-cid tie-breaks, empty cells keep their centroid), so the
  // oracle REPLAYS the two Lloyd rounds as unrolled CTEs and the
  // result hash-matches bit-for-bit.
  private val IvfCentroids = 16
  private val IvfProbe = 4
  private val IvfKmeansIters = 2
  def q37(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(tbl(s, dir, "embeddings"), Seq(1L, 2L, 3L, 4L, 5L), 3,
      IvfCentroids, IvfProbe, kmeansIters = IvfKmeansIters)
      .orderBy("vec_id", "neighbor_id")
  /** Shared CTE chain replaying the deterministic cosine k-means
    * codebook + cell assignment in DuckDB (seeds → unrolled Lloyd
    * rounds → `asg(vec_id, cid)`), bit-identical to
    * `Similarity.kmeansCodebook`/`assignCell` — used by q37's IVF
    * search and q57's semantic dedup. */
  private def kmeansAsgCtes: String = kmeansAsgCtesOver("nn", "kmeans")

  /** The k-means chain with TRAINING restricted to `trainSrc` (a CTE
    * name; `"nn"` = the whole corpus, reproducing the original chain
    * byte-for-byte) while `ac`/`asg` always assign the full corpus —
    * the frozen-quantizer shape q114's incremental ANN index uses
    * (train the codebook on the bootstrap slice, assign everything).
    * `shareName` must be distinct per distinct chain text (the
    * tools/check.py SHARED-cache contract). */
  private def kmeansAsgCtesOver(trainSrc: String, shareName: String): String = {
    // one Lloyd round: assign (argmax cosine, ties to lowest cid) →
    // exact per-dimension decimal means → empty cells keep centroid
    def round(i: Int): String = {
      val prev = s"c${i - 1}"
      val cvNew = "COALESCE(n.cv, o.cv)"
      s"""a$i AS (SELECT e.vec_id, e.v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.v", "c.cv")}/(e.nrm*c.cnrm) DESC, c.cid ASC) AS rn
         |       FROM $trainSrc e CROSS JOIN $prev c),
         |s$i AS (SELECT a.cid, d.i AS pos,
         |         CAST(sum(CAST(a.v[d.i] AS DECIMAL(38,15))) AS DOUBLE)/count(*) AS m
         |       FROM (SELECT * FROM a$i WHERE rn = 1) a
         |       CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i) d
         |       GROUP BY a.cid, d.i),
         |n$i AS (SELECT cid, list(m ORDER BY pos) AS cv FROM s$i GROUP BY cid),
         |c$i AS (SELECT o.cid, $cvNew AS cv,
         |         sqrt(${dotSql(cvNew, cvNew)}) AS cnrm
         |       FROM $prev o LEFT JOIN n$i n USING (cid))""".stripMargin
    }
    val rounds = (1 to IvfKmeansIters).map(round).mkString(",\n")
    val cFinal = s"c$IvfKmeansIters"
    val trainCte =
      if (trainSrc == "nn") ""
      else s"""$trainSrc AS (SELECT * FROM nn
              |         WHERE vec_id <= (SELECT min(vec_id)
              |           + (max(vec_id) - min(vec_id)) // 3 FROM nn)),
              |""".stripMargin
    sharedCtes(shareName, Seq("nn", "ac", "asg"),
      s"""n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM n),
         |${trainCte}c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM $trainSrc
         |         WHERE vec_id < $IvfCentroids),
         |$rounds,
         |ac AS (SELECT e.vec_id, c.cid,
         |         ${dotSql("e.v", "c.cv")}/(e.nrm*c.cnrm) AS cos
         |       FROM nn e CROSS JOIN $cFinal c),
         |asg AS (SELECT vec_id, cid FROM
         |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos DESC, cid ASC) AS rn FROM ac) WHERE rn = 1)""".stripMargin)
  }
  val q37Sql: String =
    s"""WITH $kmeansAsgCtes,
       |pcells AS (SELECT vec_id AS probe_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, cid ASC) AS rn FROM ac
       |         WHERE vec_id IN (1,2,3,4,5)) WHERE rn <= $IvfProbe),
       |sc AS (SELECT pc.probe_id AS vec_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.v", "e.v")}/(p.nrm*e.nrm) AS cos
       |       FROM pcells pc
       |       JOIN asg a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
       |       JOIN nn p ON p.vec_id = pc.probe_id
       |       JOIN nn e ON e.vec_id = a.vec_id),
       |rk AS (SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, neighbor_id) AS rn FROM sc)
       |SELECT vec_id, neighbor_id, round(cos,6) AS sim FROM rk WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin

  // ---- Q38: JSON scalar functions (semi-structured column access) -------
  // props is a JSON string; extract k, bucket it, aggregate — the
  // from_json path stays codegen'd and the parse cost is one pass.
  def q38(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("kmod"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "kmod")
  val q38Sql: String =
    """SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS kmod,
      | count(*) AS n
      |FROM events GROUP BY event_type, kmod ORDER BY event_type, kmod""".stripMargin

  // ---- Q39: date/time scalar functions ----------------------------------
  def q39(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
        quarter(col("l_shipdate")).cast("long").as("qtr"))
      .agg(count(lit(1)).as("n"),
        round(sumMoney(col("l_quantity")), 6).as("sum_qty"))
      .orderBy("yr", "qtr")
  val q39Sql: String =
    """SELECT EXTRACT(YEAR FROM l_shipdate) AS yr, EXTRACT(QUARTER FROM l_shipdate) AS qtr,
      | count(*) AS n,
      | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),6) AS sum_qty
      |FROM lineitem GROUP BY yr, qtr ORDER BY yr, qtr""".stripMargin

  // ---- Q52: near-dup CLUSTERS — LSH pairs → connected components --------
  // The missing tail of pair-producing dedup: transitive closure of
  // the near-dup pairs (alternating large-star/small-star, O(log n)
  // rounds of O(|E|) shuffles), every doc labeled with its cluster's
  // min doc_id.  Oracle: the same pairs replayed in DuckDB + a
  // recursive min-label closure.
  private val ClusterMinJaccard = 0.5
  def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      minJaccard = ClusterMinJaccard)
    graft.ext.Components.connectedComponents(
      pairs, "id_a", "id_b", docs, "doc_id")
      .orderBy("doc_id")
  }
  val q52Sql: String =
    s"""WITH RECURSIVE $lshPairsCtes,
       |dup AS (SELECT id_a, id_b FROM pairs
       |  GROUP BY id_a, id_b HAVING max(jac) >= $ClusterMinJaccard),
       |edges AS (SELECT id_a AS u, id_b AS v FROM dup
       |  UNION SELECT id_b, id_a FROM dup),
       |reach(n, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.c FROM reach r JOIN edges e ON e.u = r.n),
       |lbl AS (SELECT n, min(c) AS comp FROM reach GROUP BY n)
       |SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
       |FROM documents d LEFT JOIN lbl l ON l.n = d.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- Q89: INCREMENTAL cluster maintenance — batched closure ----------
  // The continuous-ingest tail of q52: the pair stream is split into
  // a "historical" share (one-shot closure → prior assignment) and an
  // arriving batch, folded in via Components.incrementalComponents —
  // which contracts the batch onto prior roots and closes over that
  // O(|batch|) root graph only, never replaying history.  The gate
  // pins the core claim: the incremental path's final assignment is
  // bit-identical to the one-shot closure over ALL pairs, so the
  // oracle is exactly q52's.
  def q89(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // cache: the pair pipeline feeds the split (materialized by the
    // eager closure rounds) AND the returned plan's final execution;
    // the block lives until session cleanup, like q52's prep tables
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      minJaccard = ClusterMinJaccard).cache()
    val phase = (col("id_a") + col("id_b")) % 3
    val hist = pairs.where(phase =!= 0)
    val batch = pairs.where(phase === 0)
    val histNodes = hist.select(col("id_a").as("doc_id"))
      .union(hist.select(col("id_b").as("doc_id"))).distinct()
    val prior = graft.ext.Components.connectedComponents(
      hist, "id_a", "id_b", histNodes, "doc_id")
    val updated = graft.ext.Components.incrementalComponents(
      prior, batch, "id_a", "id_b", "doc_id")
    docs.select("doc_id").join(updated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }
  // identical final state to the one-shot closure — q52's oracle IS
  // the incremental path's oracle
  def q89Sql: String = q52Sql

  // ---- Q90: DELTA-LOG cluster maintenance — append-only assignment -----
  // The write-optimized tail of q89: per batch, emit only the rows
  // whose assignment CHANGES (incrementalComponentsDelta), append
  // them batch-tagged to a log, and resolve latest-per-node on read —
  // the O(|changed|)-writes-per-batch shape a 10^9-node assignment
  // table needs, where q89's full remap output would mean an O(N)
  // rewrite every batch.  Three pair batches are folded as deltas
  // over a base; the resolved log must equal the one-shot closure
  // over all pairs, so the oracle is again exactly q52's.
  def q90(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Components
    val docs = tbl(s, dir, "documents")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      minJaccard = ClusterMinJaccard).cache()
    val phase = (col("id_a") + col("id_b")) % 3
    def slice(k: Int) = pairs.where(phase === k)
    val baseNodes = slice(0).select(col("id_a").as("doc_id"))
      .union(slice(0).select(col("id_b").as("doc_id"))).distinct()
    val base = Components.connectedComponents(
      slice(0), "id_a", "id_b", baseNodes, "doc_id")
    var log = base.withColumn("batch", lit(0L))
    for (k <- 1 to 2) {
      val assign = Components.resolveAssignments(log, "doc_id", "batch")
      val delta = Components.incrementalComponentsDelta(
        assign, slice(k), "id_a", "id_b", "doc_id")
      // the eager closure inside the delta call has already run; cut
      // the log's growing lineage so batch k+1 re-reads a snapshot,
      // like a real append-only table would
      log = log.union(delta.withColumn("batch", lit(k.toLong))).localCheckpoint()
    }
    docs.select("doc_id")
      .join(Components.resolveAssignments(log, "doc_id", "batch"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }
  // resolved delta log == one-shot closure: q52's oracle again
  def q90Sql: String = q52Sql

  // ---- Q91: cluster survivor selection — the dedup last mile -----------
  // pairs → clusters (q52) → ONE representative per cluster: the
  // member with the best quality score (q22's per-doc signal),
  // doc_id as the deterministic tie-break — exact duplicates tie on
  // quality, and near-dup clusters keep their best-written copy.
  // One max_by aggregation per component; the struct ordering
  // (quality, -doc_id) keeps the pick a single shuffle, no window
  // sort.  Output: every cluster with its survivor and size — the
  // frame a corpus-filtering semi-join consumes.
  def q91(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val scored = withQuality(docs, col("doc_id"))
      .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    q52(s, dir).join(scored, "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("q"), -col("doc_id")))
          .as("survivor_id"))
      .select(col("component"), col("survivor_id"), col("n_members"))
      .orderBy("component")
  }
  // built on the SAME qualityCtes text as q92/q94/q96/q97's oracles —
  // one definition of "quality" across every gate that pins it
  val q91Sql: String =
    s"""WITH RECURSIVE $lshPairsCtes,
       |dup AS (SELECT id_a, id_b FROM pairs
       |  GROUP BY id_a, id_b HAVING max(jac) >= $ClusterMinJaccard),
       |edges AS (SELECT id_a AS u, id_b AS v FROM dup
       |  UNION SELECT id_b, id_a FROM dup),
       |reach(n, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.c FROM reach r JOIN edges e ON e.u = r.n),
       |lbl AS (SELECT n, min(c) AS comp FROM reach GROUP BY n),
       |cmp AS (SELECT d.doc_id,
       |    CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
       |  FROM documents d LEFT JOIN lbl l ON l.n = d.doc_id),
       |$qualityCtes,
       |r AS (SELECT cmp.component, cmp.doc_id,
       |    row_number() OVER (PARTITION BY cmp.component
       |      ORDER BY round(qs.quality, 6) DESC, cmp.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cmp.component) AS nm
       |  FROM cmp JOIN qs ON qs.doc_id = cmp.doc_id)
       |SELECT component, doc_id AS survivor_id, CAST(nm AS BIGINT) AS n_members
       |FROM r WHERE rn = 1 ORDER BY component""".stripMargin

  // ---- Q92: survivor-filtered corpus — the dedup last mile COMPOSED ----
  // q46 upgraded from exact-text dedup to NEAR-dup-aware: LSH pairs →
  // connected components → per-cluster survivor (q91's exact pick) →
  // corpus keeps survivors only → quality gate → deterministic split.
  // Proves the parts compose end-to-end: near-duplicates with
  // perturbed text, which q46's exact dedup lets through, are
  // collapsed to their best-quality member before the gate.
  //
  // The corpus filter is a broadcast LEFT ANTI join on the LOSERS
  // (cluster members that are NOT their cluster's survivor): the
  // build side is bounded by the number of REMOVED duplicates —
  // ≪ corpus at any real dedup rate — whereas the equivalent
  // left_semi on survivor ids would build from one id per cluster
  // ≈ |corpus| rows (every singleton is its own survivor) and could
  // never broadcast at 100 TB.  Every cluster-machinery frame here
  // (pairs, labels, scored picks, losers) is O(pair-touched docs),
  // never O(corpus): the closure runs over thresholded-pair
  // endpoints only, and the pick scores only those docs.  The only
  // full-corpus work is the scan-side quality projection and the
  // final split aggregation — the same two passes q46 already pays.
  // Pinned in PlanShapeSpec: the anti-join broadcasts; the corpus
  // never shuffles for the filter.

  /** Pair-touched docs that lose to a better cluster member — the
    * broadcast-sized complement of q91's survivor pick (same rounded
    * quality, same (q, -doc_id) tie-break). */
  private def loserIds(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // materialize once: three plan branches consume the pairs (the
    // closure's canonical cut, the node set, and — through nodes —
    // the scored pick); without the cut the LSH band join + verify
    // re-executes per branch (measured r18: q92 spent ~2 of its 5.9 s
    // re-deriving pairs — guide §2.4, share one materialization).
    // Pair-count is O(near-dups) ≪ corpus, so the block is tiny.
    // The cut is reliable `checkpoint()` when the session has a
    // checkpoint dir configured (lost executor ⇒ recompute from file,
    // not job failure), localCheckpoint otherwise — Components' cut
    // dispatch (r19; bench/oracle sessions set no dir, so their plans
    // and timings are unchanged).
    val pairs = graft.ext.Components.materializeOnce(
      Dedup.lshPairs(docs, "doc_id", "text", minJaccard = ClusterMinJaccard))
    val nodes = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    val comp = graft.ext.Components.connectedComponents(
      pairs, "id_a", "id_b", nodes, "doc_id")
    // quality is computed for pair-touched docs only — the pick never
    // scans, scores, or shuffles the rest of the corpus
    val scored = withQuality(
        docs.join(broadcast(nodes), Seq("doc_id"), "left_semi"), col("doc_id"))
      .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    val surv = comp.join(scored, "doc_id")
      .groupBy("component")
      .agg(max_by(col("doc_id"), struct(col("q"), -col("doc_id")))
        .as("survivor_id"))
    // broadcast: one row per pair-touched component (≤ |nodes|, ≪
    // corpus at any dedup rate) — without the hint Catalyst has no
    // size estimate for the agg over the checkpointed pairs and
    // falls back to a sort-merge join of two tiny frames (r18 plan
    // audit: the only SMJ left in q92's plan)
    comp.join(broadcast(surv), "component")
      .where(col("doc_id") =!= col("survivor_id"))
      .select("doc_id")
  }

  def q92(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val kept = docs.join(broadcast(loserIds(s, dir)), Seq("doc_id"), "left_anti")
    val scored = withQuality(kept, col("doc_id"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(scored, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  /** DuckDB twin of [[TextOps.qualityColsRaw]] as a reusable CTE
    * chain: `feat` (per-doc features) and `qs` = (doc_id, n_tokens,
    * quality).  Embedded verbatim by every oracle that scores docs. */
  private def qualityCtes: String = {
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""feat AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)),
       |qs AS (SELECT doc_id, n_tokens, stopword_ratio * 0.4
       |    + (1.0 - punct_ratio) * 0.3
       |    + least(mean_tok_len / 8.0, 1.0) * 0.3 AS quality FROM feat)""".stripMargin
  }

  /** Shared oracle prefix for q92/q94: closure → per-cluster survivor
    * pick (q91's rounded-quality + doc_id tie-break) → quality gate.
    * Exports `f` = (doc_id, n_tokens) of the gated survivor corpus. */
  /** LSH pairs → closure → per-cluster survivor pick, ending at
    * `r` (doc_id, n_tokens, quality, rn) with rn = 1 marking each
    * cluster's survivor — the pick WITHOUT the quality gate, so
    * compositions can insert stages between pick and gate (q122). */
  private def survivorPickCtes: String = {
    s"""$lshPairsCtes,
       |dup AS (SELECT id_a, id_b FROM pairs
       |  GROUP BY id_a, id_b HAVING max(jac) >= $ClusterMinJaccard),
       |edges AS (SELECT id_a AS u, id_b AS v FROM dup
       |  UNION SELECT id_b, id_a FROM dup),
       |reach(n, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.c FROM reach r JOIN edges e ON e.u = r.n),
       |lbl AS (SELECT n, min(c) AS comp FROM reach GROUP BY n),
       |cmp AS (SELECT d.doc_id,
       |    CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
       |  FROM documents d LEFT JOIN lbl l ON l.n = d.doc_id),
       |$qualityCtes,
       |r AS (SELECT cmp.doc_id, qs.n_tokens, qs.quality,
       |    row_number() OVER (PARTITION BY cmp.component
       |      ORDER BY round(qs.quality, 6) DESC, cmp.doc_id ASC) AS rn
       |  FROM cmp JOIN qs ON qs.doc_id = cmp.doc_id)""".stripMargin
  }

  private def survivorGateCtes: String =
    s"""$survivorPickCtes,
       |f AS (SELECT doc_id, n_tokens FROM r WHERE rn = 1 AND quality >= 0.5)""".stripMargin
  val q92Sql: String =
    s"""WITH RECURSIVE $survivorGateCtes,
       |sp AS (SELECT doc_id, n_tokens,
       |    CASE WHEN hb < 8000 THEN 'train' WHEN hb < 9000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT *, ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |        FROM f))
       |SELECT split, count(*) AS n,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM sp GROUP BY split ORDER BY split""".stripMargin

  // ---- Q93: CONTINUOUS-INGEST loop — the production cycle COMPOSED -----
  // The loop a continuously-fed corpus runs, per arriving batch:
  // Tx-commit the batch's near-dup pairs + index append
  // (ingestBatchIntoIndexTx) → read THAT batch's pairs back
  // (TxLog.readBatch — one increment, not a log scan) → fold them
  // into the cluster assignment as an O(|changed|) delta
  // (incrementalComponentsDelta) → Tx-append the delta batch-tagged →
  // resolve latest-per-node on read.  Batch 1 is deliberately
  // REPLAYED mid-protocol (q80's crash trick: the index batch marker
  // is wiped after the full step): the replayed ingest must not
  // duplicate a pair (the pairs log skips its committed batch), and
  // the replayed closure step must not recompute or re-append (the
  // ASSIGNMENT log's own marker gates it — the same
  // marker-commits-last recovery shape, one layer up).  No DISTINCT
  // anywhere on the read path, so hash-equality with the one-shot
  // closure over ALL pairs (q52's oracle) is the exactly-once proof
  // for the whole loop, not just the ingest layer.  Promotes
  // ComponentsSpec's unit-scale integration case to the real-corpus
  // gate, with per-batch cost O(|batch| closure + |changed| writes).
  def q93(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Components
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val initial = docs.where(col("doc_id") < 300)
    Dedup.writeLshIndex(initial, "doc_id", "text", "q93_lsh_idx")
    graft.sources.Tables.dropWithLocation(s, "q93_lsh_idx_batches")
    val pairsDir = scratchDir("q93_pairs")
    val assignDir = scratchDir("q93_assign")
    // bootstrap: one-shot closure over the initial corpus's own pairs
    val basePairs = Dedup.lshPairs(initial, "doc_id", "text",
      minJaccard = ClusterMinJaccard)
    val baseNodes = basePairs.select(col("id_a").as("doc_id"))
      .union(basePairs.select(col("id_b").as("doc_id"))).distinct()
    TxLog.commitBatch(
      Components.connectedComponents(basePairs, "id_a", "id_b", baseNodes,
        "doc_id").withColumn("batch", lit(0L)),
      assignDir, 0L)
    def step(b: DataFrame, k: Long): Unit = {
      Dedup.ingestBatchIntoIndexTx(b, k, "doc_id", "text", "q93_lsh_idx",
        pairsDir, minJaccard = ClusterMinJaccard)
      // recovery guard, same shape as the ingest's own: a replayed
      // step must not recompute (or double-append) a committed delta
      if (!TxLog.isCommitted(s, assignDir, k)) {
        val prior = Components.resolveAssignments(
          TxLog.readCommitted(s, assignDir), "doc_id", "batch")
        val delta = Components.incrementalComponentsDelta(
          prior, TxLog.readBatch(s, pairsDir, k), "id_a", "id_b", "doc_id")
        TxLog.commitBatch(delta.withColumn("batch", lit(k)), assignDir, k)
      }
    }
    val b1 = docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .select(col("doc_id"), col("text"))
    val b2 = docs.where(col("doc_id") >= 400).select(col("doc_id"), col("text"))
    step(b1, 1L)
    // simulated crash AFTER the full batch-1 step: the index batch
    // marker is lost, so recovery replays the entire step
    graft.sources.Tables.dropWithLocation(s, "q93_lsh_idx_batches")
    step(b1, 1L)
    step(b2, 2L)
    docs.select("doc_id")
      .join(Components.resolveAssignments(
        TxLog.readCommitted(s, assignDir), "doc_id", "batch"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }
  // the loop's final state must equal the one-shot closure over all
  // pairs — q52's oracle, the same equivalence q89/q90 pin
  def q93Sql: String = q52Sql

  // ---- Q94: survivor-aware re-shard — corpus EMISSION after dedup ------
  // The last physical step of the pipeline: q92's gated survivor
  // corpus shuffled into training shards (Sampling.shuffleShard) and
  // LANDED on disk (Tables.writeShards: one directory per shard,
  // files internally pos-ordered — TablesSpec pins the in-file
  // order).  The gate reads the WRITTEN files back and checks per
  // shard: row count, exact membership (sum of ids) and the exact
  // permutation (sum of pos·id — any transposition changes it), plus
  // the token payload.  Closes pairs → clusters → survivors → gate →
  // shards end-to-end through a real write/read cycle.  Scale shape:
  // one broadcast anti-join over the corpus (q92's filter), one hash
  // exchange into shards with in-partition sort (q76's plan), one
  // partitioned write — nothing new materializes on the driver.
  def q94(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val kept = docs.join(broadcast(loserIds(s, dir)), Seq("doc_id"), "left_anti")
    val gated = withQuality(kept, col("doc_id"))
      .where(col("quality_score") >= 0.5)
      .select(col("doc_id"), col("n_tokens"))
    val out = scratchDir("q94_shards")
    graft.sources.Tables.writeShards(
      Sampling.shuffleShard(gated, "doc_id", 8), out)
    // read back what LANDED — the layout on disk is what's verified
    s.read.parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("pos") * col("doc_id")).as("ord_sig"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy("shard")
  }
  val q94Sql: String =
    s"""WITH RECURSIVE $survivorGateCtes,
       |sh AS (SELECT doc_id, n_tokens, hv % 8 AS shard,
       |    row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
       |  FROM (SELECT doc_id, n_tokens,
       |        ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hv FROM f))
       |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(pos * doc_id) AS BIGINT) AS ord_sig,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin

  // ---- Q95: priority-weighted corpus sample (DLT 2007) ------------------
  // Weighted sampling without replacement + unbiased subset-sum
  // estimation in ONE bounded top-(k+1) aggregation: priority
  // q = w·2^60/(h60(id)+1), top-k selected, tau = (k+1)-th priority,
  // w_hat = max(w, tau).  Both engines compute the priority with the
  // same two single-rounded IEEE ops (multiply by an exact power of
  // two, one divide), so the doubles — and therefore the selected
  // SET and the estimator — are bit-identical.  Scale shape: narrow
  // scan + map-side k+1-bounded partials + one O(partitions·k) merge;
  // no sort, no shuffle of the corpus.
  def q95(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(tbl(s, dir, "documents"), "doc_id", "n_chars",
      k = 200).orderBy("doc_id")
  val q95Sql: String = {
    val pri = s"CAST(n_chars AS DOUBLE) * 1152921504606846976.0 / " +
      s"CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)"
    s"""WITH p AS (SELECT doc_id, n_chars, $pri AS pri FROM documents),
       |r AS (SELECT *, row_number() OVER (ORDER BY pri DESC, doc_id ASC) AS rn
       |  FROM p),
       |t AS (SELECT coalesce(max(CASE WHEN rn = 201 THEN pri END), 0.0) AS tau
       |  FROM r)
       |SELECT doc_id, n_chars, pri,
       |  greatest(CAST(n_chars AS DOUBLE), (SELECT tau FROM t)) AS w_hat
       |FROM r WHERE rn <= 200 ORDER BY doc_id""".stripMargin
  }

  // ---- Q104: the SAME priority sample, STREAM-MAINTAINED ----------------
  // q95's weighted-without-replacement sample as CONTINUOUS state: the
  // topK(k+1) fold over the same priority items runs as a global
  // streaming aggregation (Complete mode), so after every micro-batch
  // the state IS the exact batch sample of the rows seen so far —
  // selection commutes with streaming because bounded top-k states
  // are mergeable.  Priorities are the same two single-rounded IEEE
  // column ops (Sampling.priorityItem, shared code), so the streamed
  // pick hash-equals q95's batch oracle bit-for-bit.  Per-trigger
  // cost: map-side partials ≤ k+1 items, one O(partitions × k) merge;
  // the corpus never sorts and never re-aggregates from scratch.
  // Independent-implementation check for free: the batch path runs
  // native CollectTopK partial aggregation, this one the fold-as-UDAF
  // bridge — both must land the identical 200 rows + estimator.
  def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = tbl(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect().sortBy(_._1).toIndexedSeq
    val tk = StreamingAgg.foldUdaf(Sampling.priorityTopKFold(200))
    val sink = runStreamedMode(s, rows, "q104_sink",
      Seq("doc_id", "n_chars"), "complete") { df =>
      df.select(Sampling.priorityItem(col("doc_id"), col("n_chars")).as("it"))
        .select(col("it.pri").as("pri"), col("it.nid").as("nid"),
          col("it.id").as("id"), col("it.w").as("w"))
        .agg(tk(col("pri"), col("nid"), col("id"), col("w")).as("arr"))
    }
    // the fold's List output lands as array<struct<_1.._4>> — rename
    // to the priorityItem field names the shared finisher expects
    Sampling.finishPriorityTopK(
      sink.select(transform(col("arr"), x =>
        struct(x.getField("_1").as("pri"), x.getField("_2").as("nid"),
          x.getField("_3").as("id"), x.getField("_4").as("w"))).as("arr")),
      "arr", "doc_id", "n_chars", 200)
      .orderBy("doc_id")
  }
  // same oracle as q95 — the streamed state must equal the one-shot pick
  val q104Sql: String = q95Sql

  // ---- Q105: BM25 top-k retrieval over the corpus -----------------------
  // The ranking layer on q62's inverted index: score docs against a
  // query workload with BM25 and keep the k best per query.  Query
  // terms broadcast and filter the exploded tokens BEFORE the tf
  // aggregation (the shuffle carries only query-term postings, not
  // the corpus vocabulary); scores sum as DECIMAL(38,15) so they are
  // independent of term merge order; the per-query top-k is a bounded
  // CollectTopK — no window sort over the scored postings.  The k1/b
  // constants are folded into BOTH engines from the same Scala
  // doubles (embedded via toString, which round-trips), the
  // minhash-table convention.
  private val Bm25K = 10
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    ("hash_join", Seq("hash", "join", "merge")),
    ("window_sort", Seq("window", "sort", "order")),
    ("stream_state", Seq("stream", "batch", "dup")))
  def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    graft.ext.Retrieval.bm25TopK(tbl(s, dir, "documents"), "doc_id",
        "text", queries, "query_id", "term", Bm25K, Bm25K1, Bm25B)
      .orderBy("query_id", "rank")
  }
  /** The q105 oracle parameterized on the corpus relation —
    * `"documents"` reproduces q105Sql byte-for-byte; q125 passes a
    * filtered CTE (corpus-minus-purged) so the purge gate's oracle is
    * the SAME scoring chain over the smaller corpus (the generator-
    * parameterization convention, not post-hoc string surgery). */
  private def q105SqlOver(corpus: String): String = {
    val qvals = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")
    // identical IEEE arithmetic: the derived constants are computed in
    // Scala and embedded (Double.toString round-trips), and the
    // expression tree parenthesizes exactly as the Column build does
    val k1p1 = (Bm25K1 + 1.0).toString
    val oneMb = (1.0 - Bm25B).toString
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       |t0 AS (SELECT doc_id, $toksSql AS toks FROM $corpus),
       |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
       |tok AS (SELECT doc_id, len(toks) AS l, unnest(toks) AS tok FROM t0),
       |tf AS (SELECT doc_id, tok, count(*) AS tf, max(l) AS l FROM tok
       |  WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, tok),
       |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |    sum(CAST(ln(1.0 + (CAST(st.n AS DOUBLE) - dfc.df + 0.5) / (dfc.df + 0.5))
       |      * (tf.tf * $k1p1) / (tf.tf + $Bm25K1 * ($oneMb + $Bm25B * tf.l / st.avgdl))
       |      AS DECIMAL(38,15))) AS score
       |  FROM tf JOIN q ON q.term = tf.tok JOIN dfc ON dfc.tok = tf.tok, st
       |  GROUP BY q.query_id, tf.doc_id),
       |rk AS (SELECT query_id, doc_id, score, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc)
       |SELECT query_id, doc_id, round(CAST(score AS DOUBLE), 6) AS score,
       |  CAST(rnk AS BIGINT) AS rank
       |FROM rk WHERE rnk <= $Bm25K ORDER BY query_id, rank""".stripMargin
  }
  val q105Sql: String = q105SqlOver("documents")

  // ---- Q108: the SAME retrieval, served from a PERSISTED index ----------
  // q105 scores off the raw corpus; this one builds the production
  // asset — tok-bucketed postings/vocab + stats tables — and probes
  // it.  The probe's isin literal filter prunes the scan to the
  // buckets holding the query terms (SelectedBucketsCount pinned in
  // PlanShapeSpec), so probe cost is O(query postings) independent of
  // corpus size.  Scoring tail is SHARED CODE with q105, and the
  // oracle is q105's verbatim: index round-trip must not change one
  // bit of any score.
  def q108(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val name = "q108_bm25_idx"
    graft.ext.Retrieval.writeBm25Index(tbl(s, dir, "documents"),
      "doc_id", "text", name)
    graft.ext.Retrieval.bm25TopKFromIndex(s, name, queries, "query_id",
        "term", Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .orderBy("query_id", "rank")
  }
  // index round-trip must reproduce q105's scores bit-for-bit
  val q108Sql: String = q105Sql

  // ---- Q109: BM25 index maintained INCREMENTALLY, one batch replayed ----
  // The retrieval index as a living asset: bootstrap on a third of
  // the corpus, append two ingest batches (each O(|batch| tokens) —
  // nothing stored is read or rewritten), then REPLAY one batch
  // mid-sequence (the crash-recovery case: dynamic partition
  // overwrite makes it a replace, not a duplicate).  The probe must
  // still reproduce q105's one-shot scores bit-for-bit — df and the
  // length totals are additive across disjoint batches, and totals
  // stay LONGS divided once at probe time.
  def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Retrieval
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val name = "q109_bm25_inc"
    val docs = tbl(s, dir, "documents")
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    Retrieval.writeBm25Index(docs.where(col("doc_id") <= c1),
      "doc_id", "text", name)
    def batch(n: Long, df: DataFrame) =
      Retrieval.appendBm25Batch(df, n, "doc_id", "text", name)
    batch(0L, docs.where(col("doc_id") > c1 && col("doc_id") <= c2))
    batch(1L, docs.where(col("doc_id") > c2))
    // mid-protocol replay: batch 0 lands again — must REPLACE
    batch(0L, docs.where(col("doc_id") > c1 && col("doc_id") <= c2))
    Retrieval.bm25TopKFromIndex(s, name, queries, "query_id", "term",
        Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .orderBy("query_id", "rank")
  }
  // incremental maintenance must not change one bit of any score
  val q109Sql: String = q105Sql

  // ---- Q110: BM25 index COMPACTED, batches replayed across the boundary -
  // q109 proves incremental appends; this proves the step that bounds
  // them: ingest through the MARKER gate (dynamic overwrite alone
  // stops protecting a replay once compaction folds the batch's
  // partition away), fold the index to one consolidated base —
  // postings relabeled, vocab df SUMMED to one row per term, stats to
  // one additive row — then replay a batch on EACH side of the
  // boundary.  Both must no-op at the seen gate (require()d here, so
  // a silent double-ingest fails the query, not just the hash), and
  // the probe off the folded base must still reproduce q105's
  // one-shot scores bit-for-bit.
  def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Retrieval
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val name = "q110_bm25_cmp"
    val docs = tbl(s, dir, "documents")
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    def slice(cond: Column) = docs.where(cond)
    Retrieval.writeBm25Index(slice(col("doc_id") <= c1), "doc_id", "text", name)
    def ingest(n: Long, df: DataFrame): Boolean =
      Retrieval.ingestBm25Batch(df, n, "doc_id", "text", name)
    val b0 = slice(col("doc_id") > c1 && col("doc_id") <= c2)
    val b1 = slice(col("doc_id") > c2)
    require(ingest(0L, b0) && ingest(1L, b1), "fresh batches must land")
    // replay BEFORE the fold: marked → no-op
    require(!ingest(0L, b0), "pre-compaction replay must no-op at the marker")
    Retrieval.compactBm25Index(s, name)
    // replay ACROSS the fold boundary: the partition is gone, only
    // the marker stands between this and a double-count
    require(!ingest(1L, b1), "post-compaction replay must no-op at the marker")
    Retrieval.bm25TopKFromIndex(s, name, queries, "query_id", "term",
        Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .orderBy("query_id", "rank")
  }
  // compaction + boundary replays must not change one bit of any score
  val q110Sql: String = q105Sql

  // ---- Q111: BM25 index maintained by a STREAM, redelivered, compacted --
  // The index as a continuously-maintained asset: a Structured
  // Streaming foreachBatch sink lands each micro-batch through the
  // marker-gated ingest.  The gate run feeds two batches, stops,
  // compacts the index mid-loop, then restarts WITHOUT a checkpoint —
  // the at-least-once shape where the source redelivers everything:
  // epochs 0 and 1 replay (no-ops at the seen gate, across the
  // compaction boundary) and epoch 2 is the only new data to land.
  // The probe must reproduce q105's one-shot scores bit-for-bit.
  def q111(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Retrieval
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val name = "q111_bm25_stream"
    val docs = tbl(s, dir, "documents")
    Retrieval.writeBm25Index(docs.where(lit(false)), "doc_id", "text", name)
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = rows.grouped((rows.length + 2) / 3).toIndexedSeq
    def runStream(feed: Seq[IndexedSeq[(Long, String)]]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAgg.bm25IndexSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", name)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(batches.take(2).map(_.toIndexedSeq)) // epochs 0, 1 land
    Retrieval.compactBm25Index(s, name)
    val postCompact = s.table(s"${name}_postings").count()
    // uncheckpointed restart: the source redelivers epochs 0 and 1
    // (same content, same ids — no-ops at the marker, across the
    // fold), then epoch 2 lands the genuinely new batch
    runStream(batches.map(_.toIndexedSeq))
    require(s.table(s"${name}_postings")
        .where(col("batch_id").isin(0L, 1L)).count() == 0L,
      "redelivered epochs must not re-land their folded partitions")
    require(s.table(s"${name}_postings").count() > postCompact,
      "the new epoch must land")
    Retrieval.bm25TopKFromIndex(s, name, queries, "query_id", "term",
        Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .orderBy("query_id", "rank")
  }
  // streamed maintenance + redelivery must not change one bit of any score
  val q111Sql: String = q105Sql

  // ---- Q112: decontamination BY RETRIEVAL -------------------------------
  // q59 removes exact n-gram overlap with a holdout; this is the
  // fuzzy complement every eval-hygiene pipeline also runs: treat
  // each benchmark prompt as a BM25 query, flag the top-k corpus
  // docs scoring above a floor (lexical contamination the n-gram
  // hash misses when the wording drifts), and emit the per-source
  // shape of the SURVIVING corpus.  The flagged set is bounded by
  // |benchmarks| × k, so the corpus-side filter is a broadcast
  // anti-join — the corpus never shuffles; the only shuffled rows
  // are the query-term postings inside the scorer (the q105 plan).
  private val DecontamQueries: Seq[(String, Seq[String])] = Seq(
    ("eval_sort", Seq("window", "order", "filter")),
    ("eval_join", Seq("merge", "join", "hash")),
    ("eval_stream", Seq("stream", "batch", "scan")))
  private val DecontamK = 25
  private val DecontamFloor = 1.0 // on the rounded (6-decimal) score
  def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = tbl(s, dir, "documents")
    val bench = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val flagged = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        bench, "query_id", "term", DecontamK, Bm25K1, Bm25B)
      .where(col("score") >= DecontamFloor)
      .select(col("doc_id")).distinct()
    docs.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("source")
  }
  val q112Sql: String = {
    val qvals = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")
    val k1p1 = (Bm25K1 + 1.0).toString
    val oneMb = (1.0 - Bm25B).toString
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       |t0 AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
       |tok AS (SELECT doc_id, len(toks) AS l, unnest(toks) AS tok FROM t0),
       |tf AS (SELECT doc_id, tok, count(*) AS tf, max(l) AS l FROM tok
       |  WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, tok),
       |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |    sum(CAST(ln(1.0 + (CAST(st.n AS DOUBLE) - dfc.df + 0.5) / (dfc.df + 0.5))
       |      * (tf.tf * $k1p1) / (tf.tf + $Bm25K1 * ($oneMb + $Bm25B * tf.l / st.avgdl))
       |      AS DECIMAL(38,15))) AS score
       |  FROM tf JOIN q ON q.term = tf.tok JOIN dfc ON dfc.tok = tf.tok, st
       |  GROUP BY q.query_id, tf.doc_id),
       |rk AS (SELECT query_id, doc_id, score, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc),
       |flag AS (SELECT DISTINCT doc_id FROM rk
       |  WHERE rnk <= $DecontamK
       |    AND round(CAST(score AS DOUBLE), 6) >= $DecontamFloor)
       |SELECT t0.source, count(*) AS n_docs,
       |  CAST(sum(len(t0.toks)) AS BIGINT) AS sum_tokens,
       |  CAST(sum(t0.doc_id) AS BIGINT) AS sum_id
       |FROM t0 WHERE t0.doc_id NOT IN (SELECT doc_id FROM flag)
       |GROUP BY t0.source ORDER BY t0.source""".stripMargin
  }

  // ---- Q113: IVF ANN search served from a PERSISTED index ---------------
  // q37 scores off a codebook trained inline; this builds the
  // production asset — the cid-bucketed cells table + frozen codebook
  // — and probes it.  The probes' candidate cell ids become isin
  // literals, so the cells scan bucket-prunes (the q108 contract for
  // vectors).  Oracle is q37's verbatim: the index round-trip must
  // not change one bit of any cosine.
  def q113(s: SparkSession, dir: String): DataFrame = {
    val name = "q113_ann_idx"
    graft.ext.AnnIndex.writeAnnIndex(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", name, IvfCentroids, IvfKmeansIters)
    graft.ext.AnnIndex.annTopKFromIndex(s, name, Seq(1L, 2L, 3L, 4L, 5L),
        k = 3, nProbe = IvfProbe)
      .orderBy("vec_id", "neighbor_id")
  }
  val q113Sql: String = q37Sql

  // ---- Q114: ANN index maintained INCREMENTALLY with a FROZEN codebook --
  // The FAISS-style production contract: train the coarse quantizer
  // ONCE on the bootstrap corpus, freeze it, assign every later batch
  // against it — appends are O(|batch|), nothing stored is touched.
  // The gate run bootstraps on the first third (where the quantizer
  // trains), ingests the rest as two marker-gated batches, replays
  // one pre-compaction, folds the cells to one base, then replays the
  // other ACROSS the boundary (both replays require()d no-ops).  The
  // oracle replays the same frozen-codebook semantics in SQL: k-means
  // CTEs restricted to the bootstrap slice, assignment over the full
  // corpus.
  def q114(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.AnnIndex
    val name = "q114_ann_inc"
    val emb = tbl(s, dir, "embeddings")
    val ids = emb.select(min(col("vec_id")), max(col("vec_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    AnnIndex.writeAnnIndex(emb.where(col("vec_id") <= c1), "vec_id",
      "embedding", name, IvfCentroids, IvfKmeansIters)
    def ingest(n: Long, df: DataFrame): Boolean =
      AnnIndex.ingestAnnBatch(df, n, "vec_id", "embedding", name)
    val b0 = emb.where(col("vec_id") > c1 && col("vec_id") <= c2)
    val b1 = emb.where(col("vec_id") > c2)
    require(ingest(0L, b0) && ingest(1L, b1), "fresh batches must land")
    require(!ingest(0L, b0), "pre-compaction replay must no-op at the marker")
    graft.ext.AnnIndex.compactAnnIndex(s, name)
    require(!ingest(1L, b1), "post-compaction replay must no-op at the marker")
    AnnIndex.annTopKFromIndex(s, name, Seq(1L, 2L, 3L, 4L, 5L),
        k = 3, nProbe = IvfProbe)
      .orderBy("vec_id", "neighbor_id")
  }
  val q114Sql: String =
    s"""WITH ${kmeansAsgCtesOver("tnn", "kmeans_boot")},
       |pcells AS (SELECT vec_id AS probe_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, cid ASC) AS rn FROM ac
       |         WHERE vec_id IN (1,2,3,4,5)) WHERE rn <= $IvfProbe),
       |sc AS (SELECT pc.probe_id AS vec_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.v", "e.v")}/(p.nrm*e.nrm) AS cos
       |       FROM pcells pc
       |       JOIN asg a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
       |       JOIN nn p ON p.vec_id = pc.probe_id
       |       JOIN nn e ON e.vec_id = a.vec_id),
       |rk AS (SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, neighbor_id) AS rn FROM sc)
       |SELECT vec_id, neighbor_id, round(cos,6) AS sim FROM rk WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin

  // ---- Q115: ANN index maintained by a STREAM, redelivered, compacted ---
  // The q111 lifecycle for vectors: bootstrap trains + freezes the
  // quantizer, a foreachBatch sink lands each embedding micro-batch
  // through the marker-gated ingest, the index compacts mid-loop,
  // and an uncheckpointed restart redelivers every epoch — only the
  // genuinely new one lands.  Probe must match q114's frozen-codebook
  // oracle bit-for-bit.
  def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.AnnIndex
    val name = "q115_ann_stream"
    val emb = tbl(s, dir, "embeddings")
    val ids = emb.select(min(col("vec_id")), max(col("vec_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val c1 = lo + (hi - lo) / 3
    AnnIndex.writeAnnIndex(emb.where(col("vec_id") <= c1), "vec_id",
      "embedding", name, IvfCentroids, IvfKmeansIters)
    val rows = emb.where(col("vec_id") > c1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val batches = rows.grouped((rows.length + 2) / 3).toIndexedSeq
    def runStream(feed: Seq[IndexedSeq[(Long, Seq[Double])]]): Unit = {
      val in = MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamingAgg.annIndexSink(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", name)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(batches.take(2).map(_.toIndexedSeq)) // epochs 0, 1 land
    AnnIndex.compactAnnIndex(s, name)
    val postCompact = s.table(s"${name}_cells").count()
    // uncheckpointed restart: epochs 0/1 redeliver (no-ops at the
    // marker, across the fold), epoch 2 is the only new data
    runStream(batches.map(_.toIndexedSeq))
    require(s.table(s"${name}_cells")
        .where(col("batch_id").isin(0L, 1L)).count() == 0L,
      "redelivered epochs must not re-land their folded partitions")
    require(s.table(s"${name}_cells").count() > postCompact,
      "the new epoch must land")
    AnnIndex.annTopKFromIndex(s, name, Seq(1L, 2L, 3L, 4L, 5L),
        k = 3, nProbe = IvfProbe)
      .orderBy("vec_id", "neighbor_id")
  }
  // streamed maintenance must reproduce the frozen-codebook oracle
  val q115Sql: String = q114Sql

  // ---- Q106: cross-document repeated-passage REMOVAL --------------------
  // q65 scores the exact-substring duplication; this one ACTS on it
  // (Lee et al. ACL 2022, ExactSubstr at word-8-gram granularity):
  // every token span covered by a gram that also occurs in an
  // EARLIER document (min-doc_id canonical copy) is dropped, so
  // exactly one copy of each repeated passage survives corpus-wide.
  // Two gram-hash shuffles (min-id agg + join back); only marked
  // positions aggregate; the per-doc mark lists broadcast back into
  // a per-row HOF rebuild — the corpus never shuffles.
  private val PassageN = 8 // shared with q65 (the scoring form)
  def q106(s: SparkSession, dir: String): DataFrame =
    graft.ext.Decontaminate.removeRepeatedPassages(
      tbl(s, dir, "documents"), "doc_id", "text", PassageN)
      .select(col("doc_id"), md5(col("clean_text").cast("binary")).as("fp"),
        col("n_kept"), col("n_removed"))
      .orderBy("doc_id")
  val q106Sql: String = {
    val grams = (0 until PassageN).map {
      case 0 => "toks[pos]"
      case j => s"toks[pos+$j]"
    }.mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(range(1, len(toks)-${PassageN - 2})) AS pos, toks
       |  FROM tok WHERE len(toks) >= $PassageN),
       |gh AS (SELECT doc_id, pos, ${h60Sql(grams)} AS h FROM g),
       |mn AS (SELECT h, min(doc_id) AS keeper FROM gh GROUP BY h),
       |mk AS (SELECT gh.doc_id, list(gh.pos) AS starts
       |  FROM gh JOIN mn USING (h) WHERE mn.keeper < gh.doc_id
       |  GROUP BY gh.doc_id),
       |r AS (SELECT t.doc_id, t.toks,
       |    coalesce(m.starts, CAST([] AS BIGINT[])) AS st
       |  FROM tok t LEFT JOIN mk m USING (doc_id)),
       |k AS (SELECT doc_id, toks, list_filter(range(1, len(toks)+1),
       |    i -> len(list_filter(st, s -> s <= i AND s + ${PassageN - 1} >= i)) = 0) AS keep
       |  FROM r)
       |SELECT doc_id,
       |  md5(coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '),
       |    '')) AS fp,
       |  CAST(len(keep) AS BIGINT) AS n_kept,
       |  CAST(len(toks) - len(keep) AS BIGINT) AS n_removed
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ---- Q107: stratified priority sample (per-source, unbiased) ----------
  // The per-stratum form of q95: an independent weighted sample of ≤ k
  // docs per source, each stratum with its own tau folded into the
  // unbiased w_hat — the "balanced mini-corpus with estimator" draw.
  // Same bounded shape as q96: map partials ≤ k+1 items per group,
  // shuffle O(sources × k), no per-group window sort (PlanShapeSpec
  // family); priorities bit-identical on both engines (q95's IEEE
  // argument, per group).
  private val StratK = 50
  def q107(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySamplePerGroup(tbl(s, dir, "documents"),
        Seq("source"), "doc_id", "n_chars", StratK)
      .orderBy("source", "doc_id")
  val q107Sql: String = {
    val pri = s"CAST(n_chars AS DOUBLE) * 1152921504606846976.0 / " +
      s"CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)"
    s"""WITH p AS (SELECT source, doc_id, n_chars, $pri AS pri FROM documents),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY source ORDER BY pri DESC, doc_id ASC) AS rn FROM p),
       |t AS (SELECT source,
       |    coalesce(max(CASE WHEN rn = ${StratK + 1} THEN pri END), 0.0) AS tau
       |  FROM r GROUP BY source)
       |SELECT r.source, doc_id, n_chars, pri,
       |  greatest(CAST(n_chars AS DOUBLE), t.tau) AS w_hat
       |FROM r JOIN t USING (source) WHERE rn <= $StratK
       |ORDER BY source, doc_id""".stripMargin
  }

  // ---- Q96: per-source cap by quality — bounded top-k per group ---------
  // "No domain may contribute more than k docs, keep its best" — the
  // anti-dominance cap every crawl corpus applies.  CollectTopK on
  // struct(rounded quality, -id): map-side partials ≤ k entries, the
  // shuffle carries O(sources × k), the picked ids broadcast back as
  // a semi-join (PlanShapeSpec pins it) — the full rows never move
  // for the ranking, and nothing ever window-sorts a whole source.
  def q96(s: SparkSession, dir: String): DataFrame = {
    val scored = withQuality(tbl(s, dir, "documents"),
      col("doc_id"), col("source"))
    Sampling.capPerGroup(scored, Seq("source"), "doc_id",
        round(col("quality_score"), 6), k = 10)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy("source")
  }
  val q96Sql: String =
    s"""WITH $qualityCtes,
       |r AS (SELECT d.source, q.doc_id, q.n_tokens,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY round(q.quality, 6) DESC, q.doc_id ASC) AS rn
       |  FROM qs q JOIN documents d USING (doc_id))
       |SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM r WHERE rn <= 10 GROUP BY source ORDER BY source""".stripMargin

  // ---- Q97: token-budget selection without a global sort ----------------
  // "Fill 40 % of the corpus token budget with the best documents":
  // greedy in (quality desc, id asc) order, a doc kept only if it
  // fits entirely.  Sampling.takeByBudget finds the quality threshold
  // from a ≤1001-bucket histogram (bounded driver reduce, the k-means
  // centroid contract) and sorts ONLY the boundary bucket —
  // ~1/1000th of the corpus — while the oracle runs the full
  // cumulative window, proving the histogram path computes the exact
  // greedy prefix.  Budget is 2/5 of total tokens in exact integer
  // arithmetic on both sides.
  def q97(s: SparkSession, dir: String): DataFrame = {
    // persisted: the total agg, takeByBudget's histogram, and its two
    // output branches otherwise each re-run the quality tokenization
    // (4 passes).  At corpus scale the narrow (id, q, n_tokens) frame
    // is what you'd materialize as a table column anyway.
    val scored = withQuality(tbl(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), round(col("quality_score"), 6).as("q"),
        col("n_tokens").cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = scored.agg(sum(col("n_tokens"))).first().getLong(0)
    // registered (not unpersisted inline — the result is lazy): the
    // caller releases via Dedup.unpersistInputsOf once materialized,
    // the module convention, so a long-lived session isn't pinned
    Dedup.registerCleanup(
      Sampling.takeByBudget(scored, "doc_id", "n_tokens", col("q"),
          budget = total * 2 / 5)
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          sum(col("n_tokens")).as("sum_tokens")),
      scored)
  }
  val q97Sql: String =
    s"""WITH $qualityCtes,
       |o AS (SELECT doc_id, n_tokens, round(quality, 6) AS q FROM qs),
       |c AS (SELECT *, sum(n_tokens) OVER (ORDER BY q DESC, doc_id ASC
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM o)
       |SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM c WHERE cum <= (SELECT CAST(sum(n_tokens) AS BIGINT) * 2 // 5
       |                     FROM qs)""".stripMargin

  // ---- Q98: intra-document repetition removal ---------------------------
  // The within-doc analog of corpus dedup: re-emit each document with
  // repeated 2-token chunks dropped, first occurrence kept IN ORDER
  // (nav-bar/footer/keyword-spam boilerplate).  Pure per-row HOFs on
  // both sides — zero shuffle, streams at scan speed; the chunk array
  // materializes as its own projection FIRST (the two-step TextOps
  // contract) so the dedup lambdas bind an attribute instead of
  // re-deriving the chunks per invocation; the tokens are projected
  // before it for the same reason (tokenChunks' lambda reads them).
  // The oracle rebuilds the same first-occurrence index filter with
  // list_position.
  def q98(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextOps.tokenChunks(col("toks"), width = 2).as("ch"))
      .select(col("doc_id"),
        TextOps.dedupChunks(col("ch")).as("kept_text"),
        TextOps.droppedChunkCount(col("ch")).as("n_dropped"))
      .orderBy("doc_id")
  val q98Sql: String = {
    val chunksOf = (t: String) =>
      s"CASE WHEN len($t) = 0 THEN CAST([] AS VARCHAR[]) ELSE " +
        s"list_transform(range(1, CAST(ceil(len($t) / 2.0) AS BIGINT) + 1), " +
        s"j -> array_to_string(list_slice($t, (j-1)*2 + 1, (j-1)*2 + 2), ' ')) END"
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |c AS (SELECT doc_id, ${chunksOf("toks")} AS ch FROM t),
       |k AS (SELECT doc_id, ch, list_transform(
       |    list_filter(range(1, len(ch) + 1), i -> list_position(ch, ch[i]) = i),
       |    i -> ch[i]) AS kept FROM c)
       |SELECT doc_id, array_to_string(kept, ' ') AS kept_text,
       |  CAST(len(ch) - len(kept) AS BIGINT) AS n_dropped
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ---- Q99: mixture calibration under a token budget --------------------
  // "Hit a uniform source mixture at 30 % of the corpus's tokens":
  // per-source token mass (one bounded agg) → keep-rate
  // min(1, target·budget / mass) per source → the deterministic
  // hash-rate filter of q67.  Both engines derive the 1/10000-bucket
  // thresholds from the same (mass, budget) longs with the same IEEE
  // ops + half-up rounding, so membership hash-matches.  Corpus
  // never shuffles: one ≤|sources|-row reduce + one codegen'd scan.
  def q99(s: SparkSession, dir: String): DataFrame = {
    // persisted: total agg + calibrateMixture's mass agg + the final
    // scan would otherwise tokenize the corpus three times (at scale
    // n_tokens would be a stored table column)
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = docs.agg(sum(col("n_tokens"))).first().getLong(0)
    val targets = (0 until 20).map(i => s"src$i" -> 0.05).toMap
    // registered for caller release (Dedup.unpersistInputsOf) — q97's
    // convention; the cache must outlive this lazy result, not the
    // session
    Dedup.registerCleanup(
      Sampling.calibrateMixture(docs, "source", "doc_id", "n_tokens",
          targets, budget = total * 3 / 10)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source"),
      docs)
  }
  val q99Sql: String = {
    val srcList = (0 until 20).map(i => s"'src$i'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
       |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 3 // 10 AS bud FROM t),
       |m AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS w FROM t
       |  WHERE source IN ($srcList) GROUP BY source),
       |r AS (SELECT source, CAST(floor(
       |    CASE WHEN w <= 0 THEN 0.0
       |         ELSE least(1.0, 0.05 * CAST((SELECT bud FROM b) AS DOUBLE)
       |                         / CAST(w AS DOUBLE)) END * 10000 + 0.5)
       |    AS BIGINT) AS thr FROM m),
       |k AS (SELECT t.source, t.doc_id, t.n_tokens FROM t
       |  JOIN r ON r.source = t.source
       |  WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod}
       |    < r.thr)
       |SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM k GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- Q100: incremental survivor maintenance ---------------------------
  // The third leg of the incremental dedup lifecycle, composed on the
  // real corpus: per batch, probe the LSH index for new pairs →
  // O(|batch|) delta closure → re-pick survivors for TOUCHED
  // components only (scores computed for touched members only, one
  // broadcast-probe stream of the assignment table).  After all
  // batches the maintained table must equal the one-shot q91 pick
  // over the full corpus — q91's oracle IS this query's oracle.
  // Untouched-by-any-pair docs surface as their own survivor at the
  // end (the same coalesce view q93 uses for assignments).
  def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Components
    val docs = tbl(s, dir, "documents")
    def scoresFor(ids: DataFrame): DataFrame =
      withQuality(docs.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
          "left_semi"), col("doc_id"))
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    val initial = docs.where(col("doc_id") < 300).select("doc_id", "text")
    Dedup.writeLshIndex(initial, "doc_id", "text", "q100_idx")
    val basePairs = Dedup.lshPairs(initial, "doc_id", "text",
      minJaccard = ClusterMinJaccard)
    val baseNodes = basePairs.select(col("id_a").as("doc_id"))
      .union(basePairs.select(col("id_b").as("doc_id"))).distinct()
    var assign = Components.connectedComponents(basePairs, "id_a", "id_b",
      baseNodes, "doc_id").localCheckpoint()
    // bootstrap pick = the one-shot q91 shape over the initial corpus
    var surv = assign.join(scoresFor(assign), "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("q"), -col("doc_id")))
          .as("survivor_id"))
      .select(col("component"), col("survivor_id"), col("n_members"))
      .localCheckpoint()
    for ((lo, hi, k) <- Seq((300L, 400L, 1L), (400L, Long.MaxValue, 2L))) {
      val batch = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id", "text")
      val pairs = Dedup.lshPairsAgainstIndex(batch, "doc_id", "text",
        "q100_idx", minJaccard = ClusterMinJaccard)
      val delta = Components.incrementalComponentsDelta(
        assign, pairs, "id_a", "id_b", "doc_id").localCheckpoint()
      Dedup.unpersistInputsOf(pairs)
      Dedup.appendToLshIndex(batch, k, "doc_id", "text", "q100_idx")
      // resolved after-batch assignment = prior ⊕ delta (latest wins)
      assign = Components.resolveAssignments(
        assign.withColumn("b", lit(0L))
          .unionByName(delta.withColumn("b", lit(1L))),
        "doc_id", "b").localCheckpoint()
      // scores must cover every member of a touched component — not
      // just the delta rows: the absorbing component's unmoved
      // members compete in the re-pick too (the operator fails
      // loudly on a gap)
      val touchedMembers = assign.join(
        broadcast(delta.select(col("component")).distinct()),
        Seq("component"), "left_semi")
      surv = Components.incrementalSurvivors(surv, assign, delta,
        scoresFor(touchedMembers), "doc_id", "q").localCheckpoint()
    }
    graft.sources.Tables.dropWithLocation(s, "q100_idx_bands")
    graft.sources.Tables.dropWithLocation(s, "q100_idx_shingles")
    // full-corpus view: never-paired docs are their own survivor
    val singletons = docs.select(col("doc_id"))
      .join(assign.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("component"), col("doc_id").as("survivor_id"),
        lit(1L).as("n_members"))
    surv.union(singletons).orderBy("component")
  }
  // the maintained table must equal the one-shot pick — q91's oracle
  def q100Sql: String = q91Sql

  // ---- Q101: cluster-aware (leakage-free) train/val/test split ----------
  // The classic eval-contamination hazard: a near-duplicate of a test
  // document sitting in train.  A doc-level hash split (q44) cannot
  // prevent it — two near-dups hash independently.  Splitting on the
  // near-dup CLUSTER root instead makes the split a pure function of
  // the cluster, so a whole cluster lands in exactly one split by
  // construction; the query also MEASURES that property from the data
  // (`leaked_clusters`, count of clusters observed in >1 split) so
  // the guarantee is certified in the output, not just asserted.
  //
  // 100 TB shape: the component table covers PAIR-TOUCHED docs only
  // (≪ corpus at any real dup rate) and broadcasts for the root
  // attach — the corpus never shuffles to learn its root; split
  // assignment is then a map-side hash.  Exact per-split cluster
  // counts avoid an O(corpus) distinct shuffle by decomposition:
  // n_clusters = (isolated docs in the split — a plain count, ids are
  // unique) + (distinct components landing in the split — an
  // O(pair-touched) aggregate).  The leak check likewise touches only
  // clustered rows: isolated docs cannot straddle.
  def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      minJaccard = ClusterMinJaccard)
    val nodes = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    val comp = graft.ext.Components.connectedComponents(
      pairs, "id_a", "id_b", nodes, "doc_id")
    val rooted = docs.join(broadcast(comp), Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("component"), col("doc_id")))
    val split = Sampling.hashSplit(rooted, "root", fractions)
    val docStats = split.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(when(col("component").isNull, 1L).otherwise(0L)).as("n_isolated"))
    val nComp = Sampling.hashSplit(
        comp.select(col("component")).distinct(), "component", fractions)
      .groupBy("split").agg(count(lit(1)).as("n_comp"))
    val leaked = split.where(col("component").isNotNull)
      .select(col("component"), col("split")).distinct()
      .groupBy("component").agg(count(lit(1)).as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("leaked_clusters"))
    docStats.join(nComp, Seq("split"), "left")
      .withColumn("n_clusters",
        col("n_isolated") + coalesce(col("n_comp"), lit(0L)))
      .select("split", "n_docs", "n_clusters", "sum_id")
      .crossJoin(leaked) // 3×1 scalar attach, same shape as q99
      .orderBy("split")
  }
  val q101Sql: String = {
    val thr = Seq(0.8, 0.9).map(c => math.round(c * Sampling.SplitMod))
    s"""WITH RECURSIVE $lshPairsCtes,
       |dup AS (SELECT id_a, id_b FROM pairs
       |  GROUP BY id_a, id_b HAVING max(jac) >= $ClusterMinJaccard),
       |edges AS (SELECT id_a AS u, id_b AS v FROM dup
       |  UNION SELECT id_b, id_a FROM dup),
       |reach(n, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v, r.c FROM reach r JOIN edges e ON e.u = r.n),
       |lbl AS (SELECT n, min(c) AS comp FROM reach GROUP BY n),
       |rooted AS (SELECT d.doc_id,
       |    CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS root
       |  FROM documents d LEFT JOIN lbl l ON l.n = d.doc_id),
       |sp AS (SELECT doc_id, root,
       |    CASE WHEN hb < ${thr(0)} THEN 'train'
       |         WHEN hb < ${thr(1)} THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, root,
       |      ${h60Sql("CAST(root AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |    FROM rooted)),
       |per AS (SELECT split, count(*) AS n_docs,
       |    count(DISTINCT root) AS n_clusters,
       |    CAST(sum(doc_id) AS BIGINT) AS sum_id FROM sp GROUP BY split),
       |leak AS (SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS leaked_clusters
       |  FROM (SELECT root, count(DISTINCT split) AS ns FROM sp GROUP BY root) g)
       |SELECT p.split, p.n_docs, p.n_clusters, p.sum_id, l.leaked_clusters
       |FROM per p CROSS JOIN leak l ORDER BY p.split""".stripMargin
  }

  // ---- Q102: the STREAMED curation loop in the gate ---------------------
  // q93 gates the maintenance loop's logic batch-wise; q102 runs it
  // as an actual Structured Streaming query
  // ([[graft.streaming.StreamingAgg.curationSink]]): the corpus
  // arrives in three micro-batches over MemoryStream, each batch
  // Tx-ingested into the LSH index, folded into the assignment delta
  // log, and survivor-delta'd (touched re-picks + tombstones) — then
  // the resolved survivor log, plus never-paired docs as their own
  // survivor, must hash-match q91's ONE-SHOT closure + pick oracle.
  // The driver-side collect feeds MemoryStream only (gate-harness
  // convention, q73).  Scores are the shared quality definition, so
  // the pick agrees with every other gate that pins it.
  def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Components
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q102_lsh_idx"
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    graft.sources.Tables.dropWithLocation(s, s"${name}_batches")
    val pairsDir = scratchDir("q102_pairs")
    val assignDir = scratchDir("q102_assign")
    val survDir = scratchDir("q102_surv")
    def scoresFor(ids: DataFrame): DataFrame =
      withQuality(docs.join(broadcast(ids.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"), col("doc_id"))
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingAgg.curationSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      scoresFor _, "q", name, pairsDir, assignDir, survDir,
      minJaccard = ClusterMinJaccard)
    try {
      val rows = docs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val per = (rows.length + 2) / 3
      rows.grouped(per).foreach { b =>
        in.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val surv = Components.resolveSurvivors(
      TxLog.readCommitted(s, survDir), "batch")
    val assigned = Components.resolveAssignments(
      TxLog.readCommitted(s, assignDir), "doc_id", "batch")
    val singles = docs.select(col("doc_id"))
      .join(assigned.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("component"),
        col("doc_id").as("survivor_id"), lit(1L).as("n_members"))
    surv.unionByName(singles).orderBy("component")
  }
  // the streamed loop's final state must equal the one-shot pick
  def q102Sql: String = q91Sql

  // ---- Q103: incremental corpus EMISSION + mid-loop compaction ----------
  // Closes the streamed loop's TAIL: q102 proves survivor STATE
  // streams, but a training job consumes the gated CORPUS — so the
  // sink's 4th layer emits the corpus-gate delta per micro-batch
  // ((doc_id, kept) for arriving docs + members of touched
  // components, O(touched) rows — Components.emissionDelta), and the
  // resolved emission log ⊕ quality gate ⊕ split must hash-equal the
  // one-shot batch composition (q92's oracle).  Mid-loop, after
  // batch 2, every log is COMPACTED — pairs fold raw
  // (TxLog.compact), assignment/survivor/emission fold SEMANTICALLY
  // (TxLog.compactWith + the log's own resolution as the fold, so
  // the base shrinks to live rows — the LSM step that bounds log
  // growth at a real batch cadence) — and batch 1 is then REPLAYED
  // through the full protocol: the compaction floor must answer
  // isCommitted at every layer (a pre-compaction batch id stays a
  // no-op across the boundary), and batch 3 must continue on the
  // folded base.  Hash-equality with q92 after all of that is the
  // proof that emission, compaction, and replay compose without
  // loss or double-count.  Read shape: the resolved eviction set —
  // bounded by removed duplicates — broadcasts into q92's LEFT ANTI
  // corpus filter; the corpus never shuffles.
  def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Components
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q103_lsh_idx"
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    graft.sources.Tables.dropWithLocation(s, s"${name}_batches")
    val pairsDir = scratchDir("q103_pairs")
    val assignDir = scratchDir("q103_assign")
    val survDir = scratchDir("q103_surv")
    val emitDir = scratchDir("q103_emit")
    def scoresFor(ids: DataFrame): DataFrame =
      withQuality(docs.join(broadcast(ids.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"), col("doc_id"))
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = rows.grouped((rows.length + 2) / 3).toIndexedSeq
    def runStream(feed: Seq[IndexedSeq[(Long, String)]], base: Long): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAgg.curationSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        scoresFor _, "q", name, pairsDir, assignDir, survDir,
        batchIdBase = base, minJaccard = ClusterMinJaccard,
        emitDir = Some(emitDir))
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(batches.take(2).map(_.toIndexedSeq), 1L) // batches 1, 2
    // mid-loop LSM maintenance: fold every log's committed batches
    // into one resolved base (markers 1-2 → c2)
    TxLog.compact(s, pairsDir)
    TxLog.compactWith(s, assignDir, (df, c) =>
      Components.resolveAssignments(df, "doc_id", "batch")
        .withColumn("batch", lit(c)))
    TxLog.compactWith(s, survDir, (df, c) =>
      Components.resolveSurvivors(df, "batch").withColumn("batch", lit(c)))
    TxLog.compactWith(s, emitDir, (df, c) =>
      df.groupBy(col("doc_id"))
        .agg(max_by(col("kept"), col("batch")).as("kept"))
        .withColumn("batch", lit(c)))
    // ... and the LSH index itself (the fifth log): per-batch appends
    // grow its file count without bound and the probe reads the whole
    // table, so the index fold is what actually bounds probe cost —
    // batch 1's replay below must ALSO no-op at the index's folded
    // seen gate, and batch 3 must probe correctly off the folded base.
    // Both fold levels run: the minor (leveled) fold collapses the
    // marked batches into a generation, the major fold collapses
    // generations + bootstrap into one base — the composition a real
    // cadence runs (minors often, majors rarely)
    Dedup.compactLshIndexMinor(s, name)
    Dedup.compactLshIndex(s, name)
    // replay batch 1 ACROSS the compaction boundary: its id is below
    // the fold ceiling, so every layer must no-op via the floor —
    // the final hash-equality is the no-double-count proof
    graft.streaming.StreamingAgg.curationStep(
      batches(0).toSeq.toDF("doc_id", "text"), 1L, "doc_id", "text",
      scoresFor _, "q", name, pairsDir, assignDir, survDir,
      emitDir = Some(emitDir), minJaccard = ClusterMinJaccard)
    // batch 3 continues on the folded base (fresh stream, ids resume
    // above the ceiling — the uncheckpointed-restart shape the sink's
    // batchIdBase guard validates)
    runStream(Seq(batches(2).toIndexedSeq), 3L)
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val evicted = Components.resolveEvicted(
      TxLog.readCommitted(s, emitDir), "doc_id", "batch")
    val kept = docs.join(broadcast(evicted), Seq("doc_id"), "left_anti")
    val scored = withQuality(kept, col("doc_id"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(scored, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  // the streamed emission, compacted mid-loop and replay-probed, must
  // equal the one-shot survivor-filtered corpus gate
  def q103Sql: String = q92Sql

  // ---- Q53: per-lang heavy hitters via the Misra–Gries fold -------------
  // Capacity 64 ≥ the corpus vocabulary → the EXACT regime (like
  // q43's sketch): reported counts equal true counts and the oracle
  // can hash-match plain GROUP BY counts.  At 100 TB you size
  // capacity to k×headroom and accept MG's n/(capacity+1) bound.
  def q53(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val ds = tbl(s, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .as[(String, String)]
    val out = DatasetEngine.run(ds, Unpack.none[(String, String)],
      Assign.of[(String, String), String, String](_._1)(_._2),
      Reduce.fromFold[String, String, Map[String, Long]](
        Folds.heavyHitters[String](64)), ordered = true)
    out.toDF("lang", "hh")
      .select(col("lang"), explode(col("hh")))
      .toDF("lang", "tok", "cnt")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))))
      .where(col("rn") <= 3).drop("rn")
      .orderBy("lang", "tok")
  }
  val q53Sql: String =
    s"""WITH tok AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
       |c AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
       |r AS (SELECT lang, tok, cnt,
       |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rn
       |  FROM c)
       |SELECT lang, tok, cnt FROM r WHERE rn <= 3 ORDER BY lang, tok""".stripMargin

  // ---- Q54: bloom-pruned semi join (runtime-filter pattern) -------------
  // Selective orders filter → bloom over o_orderkey (one distributed
  // pass, OR-merged) → lineitem pre-filtered BEFORE the join shuffle
  // → exact semi join removes bloom false positives.  Result is
  // bit-equal to a plain semi join; only the plan differs.
  private val BloomPriceMin = 400000.0
  def q54(s: SparkSession, dir: String): DataFrame = {
    val small = tbl(s, dir, "orders")
      .where(col("o_totalprice") > BloomPriceMin)
    graft.ext.Bloom.semiJoinPrune(
      tbl(s, dir, "lineitem"), "l_orderkey", small, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6)
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }
  val q54Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),6) AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN
       |  (SELECT o_orderkey FROM orders WHERE o_totalprice > $BloomPriceMin)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Q55: PII / noise scrub (email, URL, long digit runs) -------------
  // The documents corpus has no natural PII, so each row first gets a
  // deterministic contact line DERIVED FROM ITS OWN FIELDS (user<id>@…,
  // https://<source>…, id <id²·37> — the digit run crosses the 6-digit
  // scrub threshold only for doc_id ≥ 52, so both branches are
  // exercised).  Scrub = 3 chained codegen'd regexp_replace, per-row,
  // zero shuffle; md5 of the scrubbed text pins every byte.
  def q55(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(lit("user"), col("doc_id").cast("string"),
      lit("@example.com see https://"), col("source"), lit(".org/p id "),
      (col("doc_id") * col("doc_id") * lit(37L)).cast("string"),
      lit(" "), col("text"))
    tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.scrubCol(synth).as("sc"))
      .select(col("doc_id"),
        regexp_count(col("sc"), lit("<EMAIL>")).cast("long").as("n_email"),
        regexp_count(col("sc"), lit("<URL>")).cast("long").as("n_url"),
        regexp_count(col("sc"), lit("<NUM>")).cast("long").as("n_num"),
        md5(col("sc").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }
  val q55Sql: String = {
    val scrubbed = TextOps.ScrubPatterns.foldLeft("t") {
      case (e, (pat, repl)) => s"regexp_replace($e, '$pat', '$repl', 'g')"
    }
    s"""WITH synth AS (SELECT doc_id,
       |    'user' || CAST(doc_id AS VARCHAR) || '@example.com see https://'
       |      || source || '.org/p id ' || CAST(doc_id*doc_id*37 AS VARCHAR)
       |      || ' ' || text AS t
       |  FROM documents),
       |sc AS (SELECT doc_id, $scrubbed AS sc FROM synth)
       |SELECT doc_id,
       |  len(regexp_extract_all(sc, '<EMAIL>')) AS n_email,
       |  len(regexp_extract_all(sc, '<URL>')) AS n_url,
       |  len(regexp_extract_all(sc, '<NUM>')) AS n_num,
       |  md5(sc) AS fp
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---- Q56: repetition quality signals (Gopher-style) -------------------
  // Per-row HOFs only (duplicate-token fraction, top-bigram fraction):
  // embarrassingly parallel, no shuffle — the filter you run over
  // every document before training.  Tokens and bigrams materialize
  // as their own projections first (TextOps' two-step contract) so
  // the frequency lambdas scan bound attributes instead of
  // rebuilding the arrays per invocation.
  def q56(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        TextOps.bigramsOf(col("toks")).as("bg"))
      .select(col("doc_id"),
        round(TextOps.dupTokenFraction(col("toks")), 6).as("dup_tok_frac"),
        round(TextOps.topBigramFraction(col("bg")), 6).as("top_bigram_frac"))
      .orderBy("doc_id")
  val q56Sql: String =
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bg AS (SELECT doc_id, toks,
       |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bgs
       |  FROM tok)
       |SELECT doc_id,
       |  round(CASE WHEN len(toks) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
       |    AS dup_tok_frac,
       |  round(CASE WHEN len(bgs) = 0 THEN 0.0
       |    ELSE CAST(list_max(list_transform(list_distinct(bgs),
       |      b -> len(list_filter(bgs, x -> x = b)))) AS DOUBLE) / len(bgs) END, 6)
       |    AS top_bigram_frac
       |FROM bg ORDER BY doc_id""".stripMargin

  // ---- Q57: semantic dedup (SemDeDup): k-means cells → cosine edges →
  // connected components.  Blocking is the SEMANTIC cell (unlike q20's
  // sign-LSH buckets), and output is cluster labels, not pairs; the
  // oracle replays the identical codebook (shared kmeans CTEs with
  // q37) plus a recursive min-label closure.
  private val SemMinCos = 0.35
  def q57(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticClusters(tbl(s, dir, "embeddings"), SemMinCos,
      IvfCentroids, IvfKmeansIters).orderBy("vec_id")
  val q57Sql: String =
    s"""WITH RECURSIVE $kmeansAsgCtes,
       |prs AS (SELECT a.vec_id AS u, b.vec_id AS w
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN nn x ON x.vec_id = a.vec_id
       |  JOIN nn y ON y.vec_id = b.vec_id
       |  WHERE ${dotSql("x.v", "y.v")}/(x.nrm*y.nrm) >= $SemMinCos),
       |edges AS (SELECT u, w FROM prs UNION SELECT w, u FROM prs),
       |reach(nd, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.w, r.c FROM reach r JOIN edges e ON e.u = r.nd),
       |lbl AS (SELECT nd, min(c) AS comp FROM reach GROUP BY nd)
       |SELECT em.vec_id, CAST(coalesce(l.comp, em.vec_id) AS BIGINT) AS component
       |FROM embeddings em LEFT JOIN lbl l ON l.nd = em.vec_id
       |ORDER BY vec_id""".stripMargin

  // ---- Q116: INCREMENTAL semantic dedup against the frozen ANN index ----
  // q57 as a living pipeline, composing three families: per batch,
  // (1) the batch's within-cell near-dup pairs are emitted against
  // the persisted ANN index (frozen quantizer — the batch broadcasts
  // into the bucket-pruned stored cells, the stored table never
  // shuffles), (2) the batch lands through the marker-gated ingest,
  // (3) the pairs fold into the assignment table via the O(|batch|)
  // incremental closure.  Across disjoint batches each unordered
  // pair is emitted exactly once (when its later member arrives), so
  // the union of batch pair sets equals the one-shot within-cell
  // pair set and the final assignments must equal the one-shot
  // closure — the oracle replays frozen-codebook semantic clustering
  // in SQL (k-means trained on the bootstrap slice, assignment +
  // pairs + recursive closure over the full corpus).  At a real
  // cadence the assignment updates would flow through the q90 delta
  // log; the gate composes the in-memory form.
  def q116(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{AnnIndex, Components}
    val name = "q116_sem_idx"
    val emb = tbl(s, dir, "embeddings")
    val ids = emb.select(min(col("vec_id")), max(col("vec_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    AnnIndex.writeAnnIndex(emb.where(col("vec_id") <= c1), "vec_id",
      "embedding", name, IvfCentroids, IvfKmeansIters)
    // the bootstrap's own within-cell pairs, off its stored cells
    val cells0 = s.table(s"${name}_cells")
    val l = cells0.select(col("cid"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val r = cells0.select(col("cid"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs0 = l.join(r, Seq("cid")).where(col("id_a") < col("id_b"))
      .where(cosineWithNorms(dotD(col("va"), col("vb")),
        col("na"), col("nb")) >= SemMinCos)
      .select(col("id_a"), col("id_b"))
    var assign = Components.connectedComponents(pairs0, "id_a", "id_b",
      emb.where(col("vec_id") <= c1).select(col("vec_id")), "vec_id")
      .localCheckpoint(true)
    val batches = Seq(
      0L -> emb.where(col("vec_id") > c1 && col("vec_id") <= c2),
      1L -> emb.where(col("vec_id") > c2))
    for ((bid, batch) <- batches) {
      val pairs = AnnIndex.semanticPairsAgainstIndex(batch, "vec_id",
        "embedding", name, SemMinCos)
      require(AnnIndex.ingestAnnBatch(batch, bid, "vec_id", "embedding", name),
        s"fresh batch $bid must land")
      assign = Components.incrementalComponents(assign, pairs,
        "id_a", "id_b", "vec_id").localCheckpoint(true)
    }
    emb.select(col("vec_id")).join(assign, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .orderBy("vec_id")
  }
  val q116Sql: String =
    s"""WITH RECURSIVE ${kmeansAsgCtesOver("tnn", "kmeans_boot")},
       |prs AS (SELECT a.vec_id AS u, b.vec_id AS w
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN nn x ON x.vec_id = a.vec_id
       |  JOIN nn y ON y.vec_id = b.vec_id
       |  WHERE ${dotSql("x.v", "y.v")}/(x.nrm*y.nrm) >= $SemMinCos),
       |edges AS (SELECT u, w FROM prs UNION SELECT w, u FROM prs),
       |reach(nd, c) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.w, r.c FROM reach r JOIN edges e ON e.u = r.nd),
       |lbl AS (SELECT nd, min(c) AS comp FROM reach GROUP BY nd)
       |SELECT em.vec_id, CAST(coalesce(l.comp, em.vec_id) AS BIGINT) AS component
       |FROM embeddings em LEFT JOIN lbl l ON l.nd = em.vec_id
       |ORDER BY vec_id""".stripMargin

  // ---- Q117: HYBRID retrieval — RRF fusion of both persisted indexes ----
  // The two index families built for q108/q113 serving ONE query:
  // each benchmark query carries both a term set (BM25, lexical) and
  // a probe vector (IVF ANN, semantic — the synthetic corpus pairs
  // doc_id k with embedding vec_id k), and the two rank lists fuse by
  // reciprocal-rank: rrf(d) = Σ_sys 1/(60 + rank_sys(d)) — the
  // standard score-free fusion, robust to the incomparable BM25 vs
  // cosine scales.  Scale shape: both probes are index-served (the
  // postings scan bucket-prunes to the query terms, the cells scan to
  // the probed cells), so each rank list is bounded at |queries| × k
  // rows and the fusion — a full-outer join + re-rank over ≤ 2k rows
  // per query — never touches the corpus at all.  Probe cost is
  // independent of corpus size; the only corpus-sized work is the
  // one-time index builds.  Ranks are small exact integers, so the
  // fused double is bit-identical across engines; ties (symmetric
  // rank patterns) break by doc_id on both sides.
  private val HybridProbes: Seq[(String, Long)] =
    Seq(("hash_join", 1L), ("window_sort", 2L), ("stream_state", 3L))
  private val RrfK = 60
  def q117(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.{AnnIndex, Retrieval}
    val terms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val bmName = "q117_bm25_idx"
    val annName = "q117_ann_idx"
    Retrieval.writeBm25Index(tbl(s, dir, "documents"), "doc_id", "text",
      bmName)
    AnnIndex.writeAnnIndex(tbl(s, dir, "embeddings"), "vec_id", "embedding",
      annName, IvfCentroids, IvfKmeansIters)
    val bm = Retrieval.bm25TopKFromIndex(s, bmName, terms, "query_id",
        "term", Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .select(col("query_id"), col("doc_id"), col("rank").as("brank"))
    // selection inside the probe is by raw cosine (the q37/q113
    // contract); the fused rank re-ranks the k survivors on the
    // ROUNDED sim both here and in the oracle, so a beyond-6-decimal
    // cosine difference can never flip a fused rank between engines
    val awin = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val ann = AnnIndex.annTopKFromIndex(s, annName, HybridProbes.map(_._2),
        Bm25K, IvfProbe)
      .withColumn("arank", row_number().over(awin).cast("long"))
      .join(broadcast(HybridProbes.toDF("query_id", "probe_vec")),
        col("vec_id") === col("probe_vec"))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("arank"))
    Retrieval.rrfFuse(bm.withColumnRenamed("brank", "r"),
        ann.withColumnRenamed("arank", "r"),
        "query_id", "doc_id", "r", Bm25K, RrfK)
      .withColumn("rrf_score", round(col("rrf_score"), 6))
      .orderBy("query_id", "rank")
  }
  val q117Sql: String = {
    val qvals = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")
    val pvals = HybridProbes
      .map { case (q, v) => s"('$q', $v)" }.mkString(", ")
    val k1p1 = (Bm25K1 + 1.0).toString
    val oneMb = (1.0 - Bm25B).toString
    s"""WITH $kmeansAsgCtes,
       |q(query_id, term) AS (VALUES $qvals),
       |pm(query_id, probe_vec) AS (VALUES $pvals),
       |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
       |dtok AS (SELECT doc_id, len(toks) AS l, unnest(toks) AS tok FROM t0),
       |tfq AS (SELECT doc_id, tok, count(*) AS tf, max(l) AS l FROM dtok
       |  WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, tok),
       |dfcq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY tok),
       |bsc AS (SELECT q.query_id, tfq.doc_id,
       |    sum(CAST(ln(1.0 + (CAST(st.n AS DOUBLE) - dfcq.df + 0.5) / (dfcq.df + 0.5))
       |      * (tfq.tf * $k1p1) / (tfq.tf + $Bm25K1 * ($oneMb + $Bm25B * tfq.l / st.avgdl))
       |      AS DECIMAL(38,15))) AS score
       |  FROM tfq JOIN q ON q.term = tfq.tok JOIN dfcq ON dfcq.tok = tfq.tok, st
       |  GROUP BY q.query_id, tfq.doc_id),
       |brk AS (SELECT query_id, doc_id, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS brank
       |  FROM bsc),
       |b2 AS (SELECT query_id, doc_id, brank FROM brk WHERE brank <= $Bm25K),
       |pcells AS (SELECT vec_id AS probe_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, cid ASC) AS rn FROM ac
       |         WHERE vec_id IN (SELECT probe_vec FROM pm)) WHERE rn <= $IvfProbe),
       |asc0 AS (SELECT pc.probe_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.v", "e.v")}/(p.nrm*e.nrm) AS cos
       |       FROM pcells pc
       |       JOIN asg a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
       |       JOIN nn p ON p.vec_id = pc.probe_id
       |       JOIN nn e ON e.vec_id = a.vec_id),
       |ark AS (SELECT probe_id, neighbor_id, round(cos, 6) AS sim FROM
       |        (SELECT probe_id, neighbor_id, cos, row_number() OVER
       |           (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rn
       |         FROM asc0) WHERE rn <= $Bm25K),
       |ark2 AS (SELECT pm.query_id, ark.neighbor_id AS doc_id, row_number() OVER
       |    (PARTITION BY ark.probe_id ORDER BY ark.sim DESC, ark.neighbor_id) AS arank
       |  FROM ark JOIN pm ON pm.probe_vec = ark.probe_id),
       |f AS (SELECT coalesce(b2.query_id, ark2.query_id) AS query_id,
       |    coalesce(b2.doc_id, ark2.doc_id) AS doc_id,
       |    coalesce(CAST(1.0 AS DOUBLE)/(b2.brank + $RrfK), CAST(0.0 AS DOUBLE))
       |      + coalesce(CAST(1.0 AS DOUBLE)/(ark2.arank + $RrfK), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM b2 FULL OUTER JOIN ark2
       |    ON ark2.query_id = b2.query_id AND ark2.doc_id = b2.doc_id),
       |fr AS (SELECT query_id, doc_id, rrf, row_number() OVER
       |    (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
       |  FROM f)
       |SELECT query_id, doc_id, round(rrf, 6) AS rrf_score,
       |  CAST(rank AS BIGINT) AS rank
       |FROM fr WHERE rank <= $Bm25K ORDER BY query_id, rank""".stripMargin
  }

  // ---- Q118: INCREMENTAL decontamination — a flag log over the index ----
  // q112 decontaminates against a fixed benchmark set in one shot;
  // in production the benchmark suites ARRIVE over time, and
  // re-sweeping the corpus per suite is the O(N)-per-arrival rewrite
  // this library exists to avoid.  Here the corpus (and its persisted
  // BM25 index) is FROZEN; each arriving suite probes the index —
  // bucket-pruned to its own query terms, O(suite postings)
  // regardless of corpus size — and its flagged doc ids land as one
  // TxLog batch (≤ |suite| × k rows).  A replayed suite must no-op at
  // the commit marker (require()d).  Because flagging is per
  // query_id (top-k within the query, floor on the rounded score),
  // the union of per-suite flag sets IS the one-shot flag set over
  // the union query set, so resolving the log and anti-joining the
  // corpus must hash-equal q112 exactly — q112's oracle is this
  // query's oracle.  Decontamination state is the log, not a corpus
  // rewrite: the only corpus-sized work is the final broadcast
  // anti-join + per-source aggregate the consumer runs anyway.
  def q118(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Retrieval
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q118_bm25_idx"
    Retrieval.writeBm25Index(docs, "doc_id", "text", name)
    val flagDir = scratchDir("q118_flags")
    def flagsOf(suite: (String, Seq[String])): DataFrame = {
      val qdf = Seq(suite).flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term")
      Retrieval.bm25TopKFromIndex(s, name, qdf, "query_id", "term",
          DecontamK, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
        .where(col("score") >= DecontamFloor)
        .select(col("doc_id")).distinct()
    }
    for ((suite, k) <- DecontamQueries.zipWithIndex)
      require(TxLog.commitBatch(flagsOf(suite), flagDir, k.toLong),
        s"fresh suite $k must land")
    // a redelivered suite (crash-recovery replay) must no-op at the
    // marker — isCommitted short-circuits before the probe runs
    require(!TxLog.commitBatch(flagsOf(DecontamQueries(1)), flagDir, 1L),
      "replayed suite must no-op at the commit marker")
    val flagged = TxLog.readCommitted(s, flagDir)
      .select(col("doc_id")).distinct()
    docs.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("source")
  }
  // suite-at-a-time flag log resolved == one-shot decontamination
  val q118Sql: String = q112Sql

  // ---- Q119: decontamination maintained by a STREAM, log compacted ------
  // q118's loop as a continuously-running Structured Streaming query
  // (the q111/q115 shape for the read side of the index): benchmark
  // suites arrive as micro-batches, each probes the frozen index and
  // lands its flags as one TxLog batch.  The gate run feeds two
  // suites, stops, COMPACTS the flag log mid-loop, then restarts
  // WITHOUT a checkpoint — the at-least-once shape where the source
  // redelivers everything: suites 0 and 1 replay (no-ops at the
  // commit marker, ACROSS the compaction boundary — require()d by
  // row count, since the resolved distinct would mask a silent
  // double-land) and suite 2 is the only new probe.  The resolved
  // log ⊕ broadcast anti-join ⊕ per-source aggregate must still
  // hash-equal the one-shot decontamination — q112's oracle.
  def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Retrieval
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q119_bm25_idx"
    Retrieval.writeBm25Index(docs, "doc_id", "text", name)
    val flagDir = scratchDir("q119_flags")
    val epochs = DecontamQueries.map { case (q, ts) => ts.map(t => (q, t)) }
    def runStream(feed: Seq[Seq[(String, String)]]): Unit = {
      val in = MemoryStream[(String, String)]
      val q = StreamingAgg.decontamFlagSink(
        in.toDF().toDF("query_id", "term"), "query_id", "term", name,
        flagDir, DecontamK, DecontamFloor, idCol = "doc_id",
        k1 = Bm25K1, b = Bm25B)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(epochs.take(2)) // suites 0, 1 land
    TxLog.compact(s, flagDir) // fold the flag log mid-loop
    val afterCompact = TxLog.readCommitted(s, flagDir).count()
    // uncheckpointed restart: the source redelivers suites 0 and 1
    // (no-ops at the marker, across the fold), then suite 2 lands
    runStream(epochs)
    val suite2 = Retrieval.bm25TopKFromIndex(s, name,
        epochs(2).toDF("query_id", "term"), "query_id", "term",
        DecontamK, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .where(col("score") >= DecontamFloor)
      .select(col("doc_id")).distinct().count()
    require(TxLog.isCommitted(s, flagDir, 2L), "the new suite must land")
    require(TxLog.readCommitted(s, flagDir).count() == afterCompact + suite2,
      "redelivered suites must no-op across the compaction boundary")
    val flagged = TxLog.readCommitted(s, flagDir)
      .select(col("doc_id")).distinct()
    docs.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("source")
  }
  // streamed maintenance + redelivery + compaction must not change
  // the decontaminated corpus by one bit
  val q119Sql: String = q112Sql

  // ---- Q120: INCREMENTAL passage removal — the persisted keeper index ---
  // q106 recomputes global gram state per run; this is its living
  // form: keeper index bootstrapped on the first third (the
  // bootstrap's own cleaning = one-shot q106 over that slice,
  // committed as the clean log's batch 0), two id-monotone batches
  // ingested — each cleaned on arrival against the stored keepers
  // (the stored side scanned in place, never shuffled or rewritten;
  // marks decided ONCE, since a later id can never steal
  // keeper-ship) and folded in as new-only keeper rows.  One batch
  // replays before the index fold and one after (both require()d
  // no-ops at the marker), and the resolved clean log must
  // hash-equal the one-shot removal over the full corpus — q106's
  // oracle verbatim.
  def q120(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Decontaminate
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q120_passage_idx"
    val cleanDir = scratchDir("q120_clean")
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val boot = docs.where(col("doc_id") <= c1)
    Decontaminate.writePassageIndex(boot, "doc_id", "text", name, PassageN)
    TxLog.commitBatch(
      Decontaminate.removeRepeatedPassages(boot, "doc_id", "text", PassageN),
      cleanDir, 0L)
    def ingest(k: Long, b: DataFrame): Boolean =
      Decontaminate.ingestPassageBatch(b, k, "doc_id", "text", name,
        cleanDir, PassageN)
    val b1 = docs.where(col("doc_id") > c1 && col("doc_id") <= c2)
    val b2 = docs.where(col("doc_id") > c2)
    require(ingest(1L, b1) && ingest(2L, b2), "fresh batches must land")
    require(!ingest(1L, b1), "pre-compaction replay must no-op at the marker")
    Decontaminate.compactPassageIndex(s, name)
    require(!ingest(2L, b2), "post-compaction replay must no-op at the marker")
    TxLog.readCommitted(s, cleanDir)
      .select(col("doc_id"), md5(col("clean_text").cast("binary")).as("fp"),
        col("n_kept"), col("n_removed"))
      .orderBy("doc_id")
  }
  // resolved clean log == one-shot removal over the full corpus
  val q120Sql: String = q106Sql

  // ---- Q121: passage removal maintained by a STREAM ---------------------
  // q120's loop as a continuously-running query (`passageIndexSink`,
  // the q111/q115/q119 shape): documents arrive in id order, each
  // micro-batch is cleaned on arrival against the stored keepers and
  // folds its novel grams in.  The gate feeds two epochs, stops,
  // compacts the keeper index mid-loop, restarts WITHOUT a
  // checkpoint (full redelivery — epochs 0 and 1 no-op at the
  // marker, ACROSS the fold, require()d) and lands the final epoch;
  // the resolved clean log must hash-equal the one-shot removal.
  def q121(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Decontaminate
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val name = "q121_passage_idx"
    val cleanDir = scratchDir("q121_clean")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val boot = rows.take(rows.length / 3)
    val bootDf = boot.toSeq.toDF("doc_id", "text")
    Decontaminate.writePassageIndex(bootDf, "doc_id", "text", name, PassageN)
    TxLog.commitBatch(
      Decontaminate.removeRepeatedPassages(bootDf, "doc_id", "text", PassageN),
      cleanDir, 0L)
    // id-ordered epochs: the index's monotone first-arrival contract
    val epochs = rows.drop(rows.length / 3)
      .grouped((rows.length - rows.length / 3 + 1) / 2)
      .map(_.toIndexedSeq).toIndexedSeq
    def runStream(feed: Seq[IndexedSeq[(Long, String)]]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingAgg.passageIndexSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", name,
        cleanDir, PassageN, batchIdBase = 1L)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(epochs.take(1)) // epoch 0 lands (clean-log batch 1)
    Decontaminate.compactPassageIndex(s, name)
    val afterCompact = TxLog.readCommitted(s, cleanDir).count()
    // uncheckpointed restart: epoch 0 redelivers (no-op at the
    // marker, across the fold), epoch 1 is the only new data
    runStream(epochs)
    require(TxLog.isCommitted(s, cleanDir, 2L), "the new epoch must land")
    require(TxLog.readCommitted(s, cleanDir).count() ==
        afterCompact + epochs(1).length,
      "the redelivered epoch must no-op across the compaction boundary")
    TxLog.readCommitted(s, cleanDir)
      .select(col("doc_id"), md5(col("clean_text").cast("binary")).as("fp"),
        col("n_kept"), col("n_removed"))
      .orderBy("doc_id")
  }
  // streamed maintenance + redelivery + compaction must reproduce
  // the one-shot removal bit-for-bit
  val q121Sql: String = q106Sql

  // ---- Q122: the FULL corpus-hygiene pipeline, one plan, one oracle -----
  // Every hygiene family this library ships, composed in production
  // order and hash-checked as ONE query: near-dup survivor filter
  // (q92's LSH pairs → closure → best-quality pick → broadcast
  // anti-join on the losers) → cross-document passage removal over
  // the SURVIVING corpus (q106, keepers re-anchored to survivors) →
  // retrieval decontamination over the CLEANED text (q112 — BM25
  // scores move when passages vanish, so the probe must run on what
  // ships) → quality gate re-scored on the cleaned text → hash split
  // → per-split stats.  sum_id pins membership through all five
  // stages; sum_removed pins the passage stage's exact token edits;
  // sum_tokens pins the cleaned lengths.  Scale shape: the cluster
  // machinery is O(pair-touched docs), the flagged set is bounded by
  // |benchmarks| × k, and both corpus filters are broadcast
  // anti-joins — the corpus-sized work is the gram pass, the
  // scan-side quality projection, and the split aggregate.
  def q122(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.{Decontaminate, Retrieval}
    val docs = tbl(s, dir, "documents")
    val kept = docs.join(broadcast(loserIds(s, dir)), Seq("doc_id"), "left_anti")
    val cleaned = Decontaminate.removeRepeatedPassages(
      kept, "doc_id", "text", PassageN)
    val bench = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val flagged = Retrieval.bm25TopK(cleaned, "doc_id", "clean_text",
        bench, "query_id", "term", DecontamK, Bm25K1, Bm25B)
      .where(col("score") >= DecontamFloor)
      .select(col("doc_id")).distinct()
    val decon = cleaned.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_removed"), col("clean_text").as("text"))
    val gated = withQuality(decon, col("doc_id"), col("n_removed"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(gated, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_removed")).as("sum_removed"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  val q122Sql: String = {
    val grams = (0 until PassageN).map {
      case 0 => "toks[pos]"
      case j => s"toks[pos+$j]"
    }.mkString(" || ' ' || ")
    val qvals = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")
    val k1p1 = (Bm25K1 + 1.0).toString
    val oneMb = (1.0 - Bm25B).toString
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE $survivorPickCtes,
       |srv AS (SELECT doc_id FROM r WHERE rn = 1),
       |ptok AS (SELECT d.doc_id, $toksSql AS toks
       |  FROM documents d JOIN srv USING (doc_id)),
       |pg AS (SELECT doc_id, unnest(range(1, len(toks)-${PassageN - 2})) AS pos, toks
       |  FROM ptok WHERE len(toks) >= $PassageN),
       |pgh AS (SELECT doc_id, pos, ${h60Sql(grams)} AS h FROM pg),
       |pmn AS (SELECT h, min(doc_id) AS keeper FROM pgh GROUP BY h),
       |pmk AS (SELECT pgh.doc_id, list(pgh.pos) AS starts
       |  FROM pgh JOIN pmn USING (h) WHERE pmn.keeper < pgh.doc_id
       |  GROUP BY pgh.doc_id),
       |pr AS (SELECT t.doc_id, t.toks,
       |    coalesce(m.starts, CAST([] AS BIGINT[])) AS st
       |  FROM ptok t LEFT JOIN pmk m USING (doc_id)),
       |pk AS (SELECT doc_id, toks, list_filter(range(1, len(toks)+1),
       |    i -> len(list_filter(st, s -> s <= i AND s + ${PassageN - 1} >= i)) = 0) AS keep
       |  FROM pr),
       |cl AS (SELECT doc_id, list_transform(keep, i -> toks[i]) AS ctoks,
       |    coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '), '') AS ctext,
       |    CAST(len(toks) - len(keep) AS BIGINT) AS n_removed
       |  FROM pk),
       |q2(query_id, term) AS (VALUES $qvals),
       |st2 AS (SELECT count(*) AS n, avg(len(ctoks)) AS avgdl FROM cl),
       |tok2 AS (SELECT doc_id, len(ctoks) AS l, unnest(ctoks) AS tok FROM cl),
       |tf2 AS (SELECT doc_id, tok, count(*) AS tf, max(l) AS l FROM tok2
       |  WHERE tok IN (SELECT DISTINCT term FROM q2) GROUP BY doc_id, tok),
       |dfc2 AS (SELECT tok, count(*) AS df FROM tf2 GROUP BY tok),
       |sc2 AS (SELECT q2.query_id, tf2.doc_id,
       |    sum(CAST(ln(1.0 + (CAST(st2.n AS DOUBLE) - dfc2.df + 0.5) / (dfc2.df + 0.5))
       |      * (tf2.tf * $k1p1) / (tf2.tf + $Bm25K1 * ($oneMb + $Bm25B * tf2.l / st2.avgdl))
       |      AS DECIMAL(38,15))) AS score
       |  FROM tf2 JOIN q2 ON q2.term = tf2.tok JOIN dfc2 ON dfc2.tok = tf2.tok, st2
       |  GROUP BY q2.query_id, tf2.doc_id),
       |rk2 AS (SELECT query_id, doc_id, score, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc2),
       |flag2 AS (SELECT DISTINCT doc_id FROM rk2
       |  WHERE rnk <= $DecontamK
       |    AND round(CAST(score AS DOUBLE), 6) >= $DecontamFloor),
       |feat2 AS (SELECT doc_id, n_removed,
       |    CAST(len(ctoks) AS BIGINT) AS n_tokens,
       |    coalesce(CAST(list_sum(list_transform(ctoks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE), 0.0)
       |      / CAST(greatest(len(ctoks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(ctext) - length(regexp_replace(ctext, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(ctext), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(ctoks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(ctoks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM cl WHERE doc_id NOT IN (SELECT doc_id FROM flag2)),
       |f2 AS (SELECT doc_id, n_tokens, n_removed FROM feat2
       |  WHERE stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
       |      + least(mean_tok_len / 8.0, 1.0) * 0.3 >= 0.5),
       |sp2 AS (SELECT doc_id, n_tokens, n_removed,
       |    CASE WHEN hb < 8000 THEN 'train' WHEN hb < 9000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT *, ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |        FROM f2))
       |SELECT split, count(*) AS n,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(n_removed) AS BIGINT) AS sum_removed,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM sp2 GROUP BY split ORDER BY split""".stripMargin
  }

  // ---- Q123: the composed hygiene pipeline MAINTAINED BY A STREAM -------
  // q122 proves the five stages compose once; this proves the
  // composition SUSTAINS: documents arrive as a stream in id order,
  // and EACH micro-batch flows through survivor delta → passage clean
  // against the keeper index (with ownership-transfer repair for the
  // batch's demotions) → mutable-BM25 decontamination flag probe →
  // per-batch log commits, in one pass (`Hygiene.hygieneStep` via
  // `StreamingAgg.hygieneSink`).  The gate runs the full production
  // torture sequence: two streamed epochs, a mid-loop compaction of
  // ALL NINE state stores (five TxLogs + keeper/marks/BM25 tables +
  // the LSH index's minor+major folds), a replay of batch 1 ACROSS
  // the fold boundary (must no-op at the step marker, require()d),
  // and a final epoch streamed onto the folded base.  The resolved
  // logs then feed q122's exact consumer tail — and must hash-equal
  // the ONE-SHOT pipeline's oracle, which is the composition-level
  // exactly-once proof: no batch double-applied, no demotion cascade
  // missed, no score bit drifted across compactions and replays.
  def q123(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.Hygiene
    import graft.ext.Hygiene.HygieneState
    import graft.sources.TxLog
    val docs = tbl(s, dir, "documents")
    val st = HygieneState("q123_hyg", scratchDir("q123_pairs"),
      scratchDir("q123_assign"), scratchDir("q123_surv"),
      scratchDir("q123_emit"), scratchDir("q123_clean"),
      scratchDir("q123_flag"))
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text",
      st.lshName)
    graft.sources.Tables.dropWithLocation(s, s"${st.lshName}_batches")
    def scoresFor(ids: DataFrame): DataFrame =
      withQuality(docs.join(broadcast(ids.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"), col("doc_id"))
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    def rawTextFor(ids: DataFrame): DataFrame =
      docs.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
        "left_semi").select(col("doc_id"), col("text"))
    val bench = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = rows.grouped((rows.length + 2) / 3).toIndexedSeq
    def runStream(feed: Seq[IndexedSeq[(Long, String)]], base: Long): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAgg.hygieneSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
        DecontamK, DecontamFloor, passageN = PassageN,
        minJaccard = ClusterMinJaccard, batchIdBase = base)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(batches.take(2).map(_.toIndexedSeq), 0L) // batches 0, 1
    // mid-loop LSM maintenance across EVERY store the composition
    // owns, then a replay across the fold boundary: the step marker
    // survives the marker fold, so the whole batch no-ops before any
    // compute — the composition-level no-double-count proof
    Hygiene.compactHygiene(s, st)
    require(!Hygiene.hygieneStep(batches(1).toSeq.toDF("doc_id", "text"),
        1L, "doc_id", "text", scoresFor _, "q", rawTextFor _, st, bench,
        "query_id", "term", DecontamK, DecontamFloor,
        passageN = PassageN, minJaccard = ClusterMinJaccard),
      "a replayed batch must no-op at the step marker across the fold")
    runStream(Seq(batches(2).toIndexedSeq), 2L) // final epoch, folded base
    val resolved = Hygiene.resolveHygiene(s, st, "doc_id")
      .localCheckpoint() // cut before the state tables drop below
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    // q122's exact consumer tail over the resolved corpus
    val gated = withQuality(
      resolved.select(col("doc_id"), col("n_removed"),
        col("clean_text").as("text")),
      col("doc_id"), col("n_removed"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(gated, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_removed")).as("sum_removed"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  // the streamed composition, compacted mid-loop and replay-probed,
  // must equal the one-shot five-stage pipeline — q122's oracle
  def q123Sql: String = q122Sql

  // ---- Q124: TAKEDOWN — a mid-stream purge, erased and certified --------
  // The lifecycle op q123 lacks: after two streamed epochs, every doc
  // with doc_id % 17 == 3 among the ingested two-thirds is PURGED
  // (Purge.purgeDocs — survivor re-picks with promotions, component
  // splits, gram-ownership transfer/steal repairs, signed BM25
  // retraction, flag re-probe), a third epoch streams onto the
  // purged state (the ledger masking any pair against a purged doc's
  // stale LSH signature), the erasing compaction physically drops
  // the purged rows from all eleven stores (graceMs = 0: the
  // superseded files are reclaimed in-call), and the certificate
  // require()s zero occurrences everywhere.  The resolved state then
  // feeds q122's consumer tail and must hash-equal the ONE-SHOT
  // pipeline over corpus-minus-purged — right-to-erasure with the
  // composition's bit-equality discipline.
  def q124(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.ext.{Hygiene, Purge}
    import graft.ext.Hygiene.HygieneState
    val docs = tbl(s, dir, "documents")
    val st = HygieneState("q124_hyg", scratchDir("q124_pairs"),
      scratchDir("q124_assign"), scratchDir("q124_surv"),
      scratchDir("q124_emit"), scratchDir("q124_clean"),
      scratchDir("q124_flag"))
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text",
      st.lshName)
    graft.sources.Tables.dropWithLocation(s, s"${st.lshName}_batches")
    def scoresFor(ids: DataFrame): DataFrame =
      withQuality(docs.join(broadcast(ids.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"), col("doc_id"))
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
    def rawTextFor(ids: DataFrame): DataFrame =
      docs.join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
        "left_semi").select(col("doc_id"), col("text"))
    val bench = DecontamQueries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val n = rows.length
    require(n >= 3, s"q124 needs at least 3 documents, got $n")
    val b = (n + 2) / 3
    val batches = rows.grouped(b).toIndexedSeq
    // the takedown set: doc_id % 17 == 3 among the first two epochs
    // (ids at or below the ingested high-water, the purge contract) —
    // the oracle excludes exactly the same set
    val cutId = rows(math.min(2 * b, n) - 1)._1
    val purged = rows.map(_._1).filter(id => id % 17 == 3 && id <= cutId)
    val purgedDf = purged.toSeq.toDF("doc_id").localCheckpoint()
    def runStream(feed: Seq[IndexedSeq[(Long, String)]], base: Long): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAgg.hygieneSink(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
        DecontamK, DecontamFloor, passageN = PassageN,
        minJaccard = ClusterMinJaccard, batchIdBase = base)
      try feed.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    runStream(batches.take(2).map(_.toIndexedSeq), 0L) // batches 0, 1
    require(Purge.purgeDocs(purgedDf, 2L, "doc_id", "text", scoresFor _,
      "q", rawTextFor _, st, bench, "query_id", "term", DecontamK,
      DecontamFloor, passageN = PassageN), "the purge batch must run")
    // final epoch streams onto the purged state (batch 3)
    runStream(batches.drop(2).map(_.toIndexedSeq), 3L)
    // the erasing fold: physically drop the purged rows everywhere,
    // reclaim the superseded files in-call (quiesced, so grace 0 is
    // safe), then CERTIFY zero occurrences across all stores
    Hygiene.compactHygiene(s, st, graceMs = 0L)
    Purge.assertPurged(s, st, purgedDf, "doc_id")
    val resolved = Hygiene.resolveHygiene(s, st, "doc_id")
      .localCheckpoint() // cut before the state tables drop below
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    // q122's exact consumer tail over the resolved corpus
    val gated = withQuality(
      resolved.select(col("doc_id"), col("n_removed"),
        col("clean_text").as("text")),
      col("doc_id"), col("n_removed"))
      .where(col("quality_score") >= 0.5)
    Sampling.hashSplit(gated, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_removed")).as("sum_removed"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy("split")
  }
  // oracle: q122's one-shot SQL over corpus-minus-purged — the base
  // table is shadowed by a filtered CTE computing the same takedown
  // set (id % 17 == 3 within the first 2*ceil(n/3) ids).  The
  // shared-CTE OPENING tag is stripped (the dangling END marker is an
  // inert comment): the inherited pair chain now reads documents_p, a
  // CTE of THIS statement, so it can neither reuse a materialization
  // of q122's full-corpus chain nor be materialized standalone — the
  // oracle always runs raw and self-contained
  val q124Sql: String = {
    val body = q122Sql.stripPrefix("WITH RECURSIVE ")
      .replace("FROM documents", "FROM documents_p")
      .replace("/*SHARED lsh EXPORTS pairs*/", "")
    // surgery guard: the rewrite above is only complete while every
    // corpus reference in the q122 chain uses the exact `FROM
    // documents` form.  A future edit introducing `JOIN documents`, a
    // comma-join, or any other bare reference would silently leave
    // the oracle reading the UNFILTERED corpus — detected only as an
    // opaque gate-hash mismatch — so fail at class-init instead:
    // after the rewrite, no bare `documents` token may remain (the
    // \b boundary does not match `documents_p`), and exactly one
    // SHARED opening marker must have been stripped.
    val bare = """\bdocuments\b""".r.findAllIn(body).size
    require(bare == 0,
      s"q124Sql: $bare corpus reference(s) in the q122 chain escaped " +
        "the documents -> documents_p rewrite (a non-`FROM documents` " +
        "reference form was introduced); fix the rewrite or the chain")
    require(!body.contains("/*SHARED "),
      "q124Sql: a SHARED opening marker survived the strip — the " +
        "oracle would be materialized against the full corpus")
    s"""WITH RECURSIVE cutq124 AS (
       |  SELECT max(doc_id) AS cid FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
       |    FROM documents)
       |  WHERE rn <= 2 * ((SELECT count(*) + 2 FROM documents) // 3)),
       |documents_p AS (
       |  SELECT d.* FROM documents d, cutq124 c
       |  WHERE NOT (d.doc_id % 17 = 3 AND d.doc_id <= c.cid)),
       |$body""".stripMargin
  }

  // ---- Q125: takedown purge of a STANDALONE BM25 index ------------------
  // q124 proves the purge lifecycle for the hygiene composition; this
  // proves it for a deployment using the retrieval index DIRECTLY
  // (the q108–q111 shape).  Build the index incrementally (bootstrap
  // + two marker-gated batches), purge every doc_id % 13 == 5 as one
  // marker-gated retraction batch (replay require()d a no-op), probe
  // the RETRACTED index (postings masked by the ledger, N/avgdl/df
  // corrected by the purge's signed vocab/stats delta partitions),
  // then run the erasing compaction, require() the certificate (zero
  // stored postings, ledger emptied), probe again — and require() the
  // masked and the erased probe bit-identical.  Oracle: the one-shot
  // q105 scoring chain over corpus-minus-purged.
  def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.{Purge, Retrieval}
    val queries = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val name = "q125_bm25_prg"
    Seq(s"${name}_postings", s"${name}_vocab", s"${name}_stats",
      s"${name}_batches", s"${name}_purged").foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val docs = tbl(s, dir, "documents")
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    Retrieval.writeBm25Index(docs.where(col("doc_id") <= c1), "doc_id",
      "text", name)
    require(Retrieval.ingestBm25Batch(
      docs.where(col("doc_id") > c1 && col("doc_id") <= c2), 0L,
      "doc_id", "text", name), "fresh batch 0 must land")
    require(Retrieval.ingestBm25Batch(docs.where(col("doc_id") > c2), 1L,
      "doc_id", "text", name), "fresh batch 1 must land")
    val purged = docs.where(col("doc_id") % 13 === 5)
      .select(col("doc_id"), col("text")).localCheckpoint()
    require(Purge.purgeBm25Index(purged, 2L, "doc_id", "text", name),
      "the purge batch must land")
    require(!Purge.purgeBm25Index(purged, 2L, "doc_id", "text", name),
      "a purge replay must no-op at the marker")
    def probe(): DataFrame = Retrieval.bm25TopKFromIndex(s, name, queries,
        "query_id", "term", Bm25K, idCol = "doc_id", k1 = Bm25K1, b = Bm25B)
      .orderBy("query_id", "rank").localCheckpoint()
    val masked = probe() // retracted-but-not-erased: the mask path
    Retrieval.compactBm25Index(s, name)
    Purge.assertBm25Purged(s, name, purged.select("doc_id"), "doc_id")
    val erased = probe()
    require(masked.except(erased).isEmpty && erased.except(masked).isEmpty,
      "q125: the ledger-masked probe and the post-erasure probe must " +
        "be bit-identical — the two phases serve the same corpus")
    erased
  }
  val q125Sql: String =
    s"""WITH documents_p AS (
       |  SELECT * FROM documents WHERE doc_id % 13 <> 5),
       |${q105SqlOver("documents_p").stripPrefix("WITH ")}""".stripMargin

  // ---- Q126: takedown purge of a STANDALONE IVF-ANN index ---------------
  // The vector-side twin of q125 (the q113–q115 deployment shape):
  // build the index (codebook trained on the full bootstrap corpus
  // and FROZEN — a purge does not retrain the quantizer), purge every
  // vec_id % 13 == 7 (replay require()d a no-op), probe the retracted
  // index (cells masked), erase + certificate, probe again,
  // require() both probes bit-identical.  Oracle: q37's IVF replay
  // with the SAME full-corpus codebook chain (shared CTE — frozen
  // quantizer means the training set is NOT corpus-minus-purged),
  // excluding purged vectors from the candidate cells.
  def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{AnnIndex, Purge}
    val name = "q126_ann_prg"
    Seq(s"${name}_cells", s"${name}_codebook", s"${name}_batches",
      s"${name}_purged").foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val emb = tbl(s, dir, "embeddings")
    AnnIndex.writeAnnIndex(emb, "vec_id", "embedding", name,
      IvfCentroids, IvfKmeansIters)
    val purged = emb.where(col("vec_id") % 13 === 7)
      .select(col("vec_id")).localCheckpoint()
    require(Purge.purgeAnnIndex(s, name, purged, "vec_id", 0L),
      "the purge batch must land")
    require(!Purge.purgeAnnIndex(s, name, purged, "vec_id", 0L),
      "a purge replay must no-op at the marker")
    def probe(): DataFrame = AnnIndex.annTopKFromIndex(s, name,
        Seq(1L, 2L, 3L, 4L, 5L), k = 3, nProbe = IvfProbe)
      .orderBy("vec_id", "neighbor_id").localCheckpoint()
    val masked = probe()
    AnnIndex.compactAnnIndex(s, name)
    Purge.assertAnnPurged(s, name, purged, "vec_id")
    val erased = probe()
    require(masked.except(erased).isEmpty && erased.except(masked).isEmpty,
      "q126: the ledger-masked probe and the post-erasure probe must " +
        "be bit-identical — the two phases serve the same corpus")
    erased
  }
  val q126Sql: String =
    s"""WITH $kmeansAsgCtes,
       |pcells AS (SELECT vec_id AS probe_id, cid FROM
       |        (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, cid ASC) AS rn FROM ac
       |         WHERE vec_id IN (1,2,3,4,5)) WHERE rn <= $IvfProbe),
       |sc AS (SELECT pc.probe_id AS vec_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.v", "e.v")}/(p.nrm*e.nrm) AS cos
       |       FROM pcells pc
       |       JOIN asg a ON a.cid = pc.cid AND a.vec_id <> pc.probe_id
       |         AND a.vec_id % 13 <> 7
       |       JOIN nn p ON p.vec_id = pc.probe_id
       |       JOIN nn e ON e.vec_id = a.vec_id),
       |rk AS (SELECT vec_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, neighbor_id) AS rn FROM sc)
       |SELECT vec_id, neighbor_id, round(cos,6) AS sim FROM rk WHERE rn <= 3
       |ORDER BY vec_id, neighbor_id""".stripMargin

  // ---- Q127: takedown purge of a STANDALONE LSH dedup index -------------
  // The near-dup-side member (the q72/q73/q80 deployment shape), with
  // BOTH pair-output forms covered: ingest the corpus as three
  // marker-gated batches (empty bootstrap, so the pair outputs
  // accumulate every within-corpus pair) — batches 0 and 3 through
  // the pairs-TABLE form (ingestBatchIntoIndex), batch 1 through the
  // exactly-once TxLog form (ingestBatchIntoIndexTx) — purge every
  // doc_id % 17 == 3 among the first two thirds (replay require()d a
  // no-op), then ingest the THIRD batch onto the retracted index —
  // the stored signatures of purged docs are still physically present
  // and the probe's ledger mask must keep them out of the new batch's
  // candidates.  Erasing compaction (index tables + the pairs table +
  // the pairs LOG, both endpoints each) + certificate over all of
  // them, then emit the resolved pair set (table ∪ log).  Oracle: the
  // one-shot full-corpus LSH chain (SHARED — signatures are
  // per-document, so removing docs never changes another doc's bands)
  // restricted to pairs with BOTH endpoints live.
  def q127(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Purge
    val name = "q127_lsh_prg"
    val pairsT = "q127_lsh_pairs"
    val pairsDir = scratchDir("q127_lsh_pairs_tx")
    Seq(s"${name}_shingles", s"${name}_bands", s"${name}_batches",
      s"${name}_purged", pairsT).foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val docs = tbl(s, dir, "documents")
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).first()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    def ingest(n: Long, df: DataFrame): Boolean =
      Dedup.ingestBatchIntoIndex(df, n, "doc_id", "text", name, pairsT)
    require(ingest(0L, docs.where(col("doc_id") <= c1)), "batch 0 lands")
    // batch 1 through the TxLog pair form: its pairs commit to the
    // manifest log instead of the table, so the erasing compaction's
    // pairsTxDirs leg (and its certificate) is on the oracle path
    require(Dedup.ingestBatchIntoIndexTx(
      docs.where(col("doc_id") > c1 && col("doc_id") <= c2), 1L,
      "doc_id", "text", name, pairsDir), "batch 1 lands (Tx form)")
    val purged = docs
      .where(col("doc_id") % 17 === 3 && col("doc_id") <= c2)
      .select(col("doc_id")).localCheckpoint()
    require(Purge.purgeLshIndex(s, name, purged, "doc_id", 2L),
      "the purge batch must land")
    require(!Purge.purgeLshIndex(s, name, purged, "doc_id", 2L),
      "a purge replay must no-op at the marker")
    // post-purge, pre-erasure ingest: the ledger mask is load-bearing
    require(ingest(3L, docs.where(col("doc_id") > c2)), "batch 3 lands")
    Dedup.compactLshIndex(s, name, pairsTables = Seq(pairsT),
      pairsTxDirs = Seq(pairsDir), graceMs = 0L)
    Purge.assertLshPurged(s, name, purged, "doc_id", Seq(pairsT),
      Seq(pairsDir))
    s.table(pairsT).select(col("id_a"), col("id_b"), col("jaccard"))
      .unionByName(graft.sources.TxLog.readCommitted(s, pairsDir)
        .select(col("id_a"), col("id_b"), col("jaccard")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(max(col("jaccard")), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q127Sql: String =
    s"""WITH $lshPairsCtes,
       |cutq127 AS (SELECT min(doc_id) + 2 * (max(doc_id) - min(doc_id)) // 3
       |  AS cid FROM documents)
       |SELECT id_a, id_b, round(max(jac),6) AS jaccard FROM pairs, cutq127 c
       |WHERE NOT (id_a % 17 = 3 AND id_a <= c.cid)
       |  AND NOT (id_b % 17 = 3 AND id_b <= c.cid)
       |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin

  // ---- Q128: purge-aware TRAINING-SHARD repair ---------------------------
  // Training shards (q76/q94's writeShards output) hold full document
  // text and are what a training run actually reads — the
  // right-to-erasure boundary must cover them or a takedown means
  // "re-shard everything".  Land the corpus as 256 shards, purge
  // doc_id % 131 == 3, repair (Tables.repairShards): ONLY the shards
  // h60(id) % 256 selects are rewritten — require()d by a
  // (length, mtime) witness over every file of every untouched shard
  // — and the result must be row-identical to a FRESH reshard of
  // corpus-minus-purged, which is exactly what the oracle computes.
  // The per-shard ord_sig pins the recomputed dense positions (any
  // transposition changes it), sum_len pins the text payload.
  def q128(s: SparkSession, dir: String): DataFrame = {
    val nShards = 256
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val out = scratchDir("q128_shards")
    graft.sources.Tables.writeShards(
      Sampling.shuffleShard(docs, "doc_id", nShards), out)
    // (relative path -> (bytes, mtime)) witness of every landed file
    def fileState(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out)
      val walked = java.nio.file.Files.walk(root)
      try walked.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (root.relativize(f).toString,
          (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)))
        .toMap
      finally walked.close()
    }
    val before = fileState()
    val purged = docs.where(col("doc_id") % 131 === 3)
      .select(col("doc_id")).localCheckpoint()
    val affected = graft.sources.Tables
      .repairShards(s, out, purged, "doc_id", nShards).toSet
    require(affected.nonEmpty, "q128: the purge set must touch shards")
    val untouched = (0L until nShards.toLong).toSet -- affected
    require(untouched.nonEmpty,
      "q128: fixture must leave untouched shards, or the witness is " +
        "vacuous — shrink the purge set or grow nShards")
    val after = fileState()
    def shardOf(rel: String): Option[Long] = {
      val m = "shard=(\\d+)/".r.findFirstMatchIn(rel)
      m.map(_.group(1).toLong)
    }
    val dirty = before.keys.filter(f => shardOf(f).exists(untouched))
      .filter(f => after.get(f) != before.get(f))
    require(dirty.isEmpty,
      s"q128: repair rewrote file(s) of untouched shards: " +
        s"${dirty.take(5).mkString(", ")} — the repair must leave " +
        "unaffected shards byte-identical")
    s.read.parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("pos") * col("doc_id")).as("ord_sig"),
        sum(length(col("text")).cast("long")).as("sum_len"))
      .orderBy("shard")
  }
  val q128Sql: String =
    s"""WITH h AS (SELECT doc_id, length(text) AS tl,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hv
       |  FROM documents WHERE NOT (doc_id % 131 = 3)),
       |s AS (SELECT doc_id, tl, hv % 256 AS shard,
       |    row_number() OVER (PARTITION BY hv % 256 ORDER BY hv, doc_id)
       |      AS pos
       |  FROM h)
       |SELECT shard, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(pos * doc_id) AS BIGINT) AS ord_sig,
       |  CAST(sum(tl) AS BIGINT) AS sum_len
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  // ---- Q129: byte-level BPE token budget --------------------------------
  // The subword-tokenizer leg of the selection family: every budget
  // op takes its count COLUMN as a parameter, so Bpe.tokenCount plugs
  // straight into takeByBudget — docs ranked by hash priority, kept
  // while cumulative BPE tokens fit 2/5 of the corpus budget.  The
  // gate runs TWO fixed merge tables: the empty table (byte fallback
  // — count == non-space UTF-8 bytes, the oracle's arithmetic base)
  // and a two-merge table ("t"+"a", "b"+"l") chosen STRUCTURALLY
  // non-interacting (disjoint byte alphabets, so neither merge can
  // create or consume the other's occurrences in ANY corpus): under
  // that restriction BPE's greedy non-overlapping fusion count equals
  // what SQL replace() arithmetic computes, which is what makes a
  // DuckDB oracle possible at all.  Chained/interacting merges (where
  // no SQL twin exists) are pinned by BpeSpec goldens instead;
  // trainMerges determinism likewise.
  // CONTRACT PARAMETER (r19): tokenization carries a pre-tokenization
  // unit ceiling, maxWordBytes (declared default
  // Bpe.DefaultMaxWordBytes = 256) — words longer than it split at
  // the ceiling before merging.  This gate runs at the default, and
  // the oracle's replace() arithmetic is ceiling-free: valid because
  // the corpus' longest word is 8 bytes (audited via DuckDB
  // max(strlen) across every SF), far below 256.  A long-word corpus
  // would need the oracle taught the same ceiling (split words into
  // 256-byte units before counting occurrences).
  def q129(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    val merges: Bpe.Merges = Seq(("t", "a"), ("b", "l"))
    val scored = tbl(s, dir, "documents")
      .select(col("doc_id"),
        Bpe.tokenCount(col("text"), merges).as("n_bpe"),
        Bpe.tokenCount(col("text"), Nil).as("n_bytes"),
        // hash priority scaled into takeByBudget's [0, 1] score
        // domain; ties (same bucket of 10^4) break by id asc in both
        // engines
        ((h60(col("doc_id").cast("string")) % Sampling.SplitMod)
          .cast("double") / Sampling.SplitMod).as("pr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = scored.agg(sum(col("n_bpe"))).first().getLong(0)
    Dedup.registerCleanup(
      Sampling.takeByBudget(scored, "doc_id", "n_bpe", col("pr"),
          budget = total * 2 / 5)
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
          sum(col("n_bpe")).as("sum_bpe"),
          sum(col("n_bytes")).as("sum_bytes")),
      scored)
  }
  val q129Sql: String = {
    def occ(p: String): String =
      s"(strlen(text) - strlen(replace(text, '$p', ''))) / 2"
    s"""WITH b AS (SELECT doc_id,
       |    strlen(replace(text, ' ', ''))
       |      - ${occ("ta")} - ${occ("bl")} AS n_bpe,
       |    strlen(replace(text, ' ', '')) AS n_bytes,
       |    CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod}
       |      AS DOUBLE) / ${Sampling.SplitMod} AS pr
       |  FROM documents),
       |c AS (SELECT *, sum(n_bpe) OVER (ORDER BY pr DESC, doc_id ASC
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM b)
       |SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(n_bpe) AS BIGINT) AS sum_bpe,
       |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes
       |FROM c WHERE cum <= (SELECT CAST(sum(n_bpe) AS BIGINT) * 2 // 5
       |                     FROM b)""".stripMargin
  }

  // ---- Q130: concat-and-chunk token packing ------------------------------
  // The last mile of training-data prep: Bpe.encode turns text into
  // token-ID arrays (byte-fallback table here — the id stream the
  // oracle can reconstruct: ids == non-space byte values, EOS
  // appended per doc) and Packing.concatChunk cuts the per-bucket
  // concatenated stream into EXACT 256-token sequences, documents
  // splitting at chunk boundaries.  The digest is position-sensitive
  // (pos_sig = Σ (offset+1)·id), so a wrong slice boundary, a
  // misordered reassembly, or a dropped EOS all hash-mismatch.
  // Merge-table encoding (no SQL twin) is pinned by BpeSpec goldens;
  // chunk reassembly with merges by PackingSpec.
  // ORACLE SCOPE: the DuckDB twin tokenizes per Unicode CODE POINT
  // (string_split(…,'') + ord) while Bpe.encode(Nil) emits one token
  // per UTF-8 BYTE — equal only while documents.text is ASCII, which
  // this corpus is (measured: octet_length(encode(text)) ==
  // length(text) across every SF); a non-ASCII corpus would need a
  // byte-accurate oracle (unnest over the UTF-8 bytes via encode()).
  // The maxWordBytes contract parameter (see q129's note) is
  // irrelevant to THIS oracle twice over: the empty table's byte
  // fallback never runs the merge loop, and the corpus' words sit far
  // below the default ceiling anyway.
  private val ChunkCap = 256
  private val ChunkBuckets = 8
  private val ChunkEos = 999L
  def q130(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), Bpe.encode(col("text"), Nil).as("ids"))
    Packing.concatChunk(docs, "doc_id", "ids", ChunkCap, ChunkBuckets,
        ChunkEos)
      .select(col("seq_id"),
        size(col("input_ids")).cast("long").as("n_tokens"),
        expr("aggregate(input_ids, 0L, (a, x) -> a + x)").as("sum_ids"),
        expr("""aggregate(input_ids,
                named_struct('s', 0L, 'i', 1L),
                (a, x) -> named_struct('s', a.s + a.i * x, 'i', a.i + 1),
                a -> a.s)""").as("pos_sig"))
      .orderBy("seq_id")
  }
  val q130Sql: String =
    s"""WITH b AS (SELECT doc_id,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % $ChunkBuckets AS bucket,
       |    string_split(replace(text,' ',''),'') AS chs
       |  FROM documents),
       |d AS (SELECT doc_id, bucket, chs, len(chs) + 1 AS n_tok FROM b),
       |p AS (SELECT doc_id, bucket, chs, n_tok,
       |    sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tok
       |      AS prefix
       |  FROM d),
       |tok AS (
       |  SELECT bucket, prefix + u.s.p - 1 AS gpos, u.s.id AS id
       |  FROM p, unnest(list_transform(chs,
       |    (x,i) -> {'p': i, 'id': ord(x)})) AS u(s)
       |  UNION ALL
       |  SELECT bucket, prefix + n_tok - 1 AS gpos, $ChunkEos AS id FROM p),
       |c AS (SELECT bucket * ${1L << 32} + gpos // $ChunkCap AS seq_id,
       |    gpos % $ChunkCap AS off, id FROM tok)
       |SELECT CAST(seq_id AS BIGINT) AS seq_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(id) AS BIGINT) AS sum_ids,
       |  CAST(sum((off + 1) * id) AS BIGINT) AS pos_sig
       |FROM c GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // ---- Q58: TF-IDF top terms per document -------------------------------
  // Three hash aggregations (per-doc-term tf, per-doc length, corpus
  // df) + one shuffle join on term; the per-doc top-3 window is
  // scale-safe here because the partition key is doc_id — parallelism
  // is the corpus, and each partition sorts one document's vocabulary
  // (bounded by doc length), not the corpus.
  def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val nDocs = docs.count() // bounded driver scalar (one count job)
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val lens = tf.groupBy("doc_id").agg(sum(col("cnt")).as("len"))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(lens, "doc_id").join(dfc, "tok")
      .withColumn("score",
        (col("cnt").cast("double") / col("len").cast("double")) *
          log(lit(nDocs.toDouble) / col("df").cast("double")))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "tok")
  }
  val q58Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok),
       |lens AS (SELECT doc_id, sum(cnt) AS len FROM tf GROUP BY doc_id),
       |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT t.doc_id, t.tok,
       |    (CAST(t.cnt AS DOUBLE) / CAST(l.len AS DOUBLE)) *
       |      ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
       |         / CAST(d.df AS DOUBLE)) AS score
       |  FROM tf t JOIN lens l USING (doc_id) JOIN dfc d USING (tok)),
       |rk AS (SELECT doc_id, tok, score, row_number() OVER
       |    (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM sc)
       |SELECT doc_id, tok, round(score, 6) AS tfidf FROM rk WHERE rn <= 3
       |ORDER BY doc_id, tok""".stripMargin

  // ---- Q59: benchmark decontamination (n-gram overlap vs holdout) -------
  // Holdout = every 10th doc (the stand-in benchmark set); corpus docs
  // sharing any word 5-gram with it get flagged with the count of
  // distinct shared grams.  5-grams + this corpus → overlap only from
  // genuine near-duplicates (7 docs), not n-gram noise.
  private val DecontamN = 5
  private val DecontamMod = 10
  def q59(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.ext.Decontaminate.overlap(
      docs.where(col("doc_id") % DecontamMod =!= 0),
      docs.where(col("doc_id") % DecontamMod === 0),
      "doc_id", "text", DecontamN)
      .orderBy("doc_id")
  }
  val q59Sql: String = {
    val grams = (0 until DecontamN).map {
      case 0 => "toks[i]"
      case j => s"toks[i+$j]"
    }.mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= $DecontamN
       |    THEN list_transform(range(1, len(toks)-${DecontamN - 2}), i -> $grams)
       |    ELSE [] END) AS gr
       |  FROM tok),
       |hg AS (SELECT DISTINCT ${h60Sql("gs")} AS h FROM
       |    (SELECT unnest(gr) AS gs FROM g WHERE doc_id % $DecontamMod = 0)),
       |cg AS (SELECT doc_id, ${h60Sql("gs")} AS h FROM
       |    (SELECT doc_id, unnest(gr) AS gs FROM g WHERE doc_id % $DecontamMod <> 0))
       |SELECT doc_id, count(*) AS n_shared
       |FROM cg JOIN hg USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- Q60: per-source quality gate at a sketched percentile ------------
  // The standard corpus filter "keep each source's top 20% by quality
  // score", run the scale-safe way: per-source thresholds from the
  // mergeable QSketch fold (exact below capacity — the gate's regime —
  // ε-rank-error beyond), broadcast back, one codegen'd filter.  No
  // per-source sort, no window over the corpus.
  private val QualityPct = 0.8
  def q60(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val scored = withQuality(tbl(s, dir, "documents"), col("source"))
      .select(col("source"), col("quality_score"))
    val ds = scored.as[(String, Double)]
    val th = DatasetEngine.run(ds, Unpack.none[(String, Double)],
      Assign.of[(String, Double), String, Double](_._1)(_._2),
      Reduce.fromFold[String, Double, Double](
        Folds.approxQuantile(32768, QualityPct)), ordered = false)
      .toDF("source", "thresh")
    scored.join(broadcast(th), Seq("source"))
      .where(col("quality_score") >= col("thresh"))
      .groupBy(col("source"), round(col("thresh"), 6).as("thresh"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("source")
  }
  val q60Sql: String = {
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (SELECT source,
       |    CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM (SELECT source, text, $toksSql AS toks FROM documents)),
       |g AS (SELECT source, stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
       |    + least(mean_tok_len / 8.0, 1.0) * 0.3 AS q FROM f),
       |th AS (SELECT source, quantile_disc(q, $QualityPct) AS thresh
       |  FROM g GROUP BY source)
       |SELECT g.source, round(th.thresh, 6) AS thresh, count(*) AS n_kept
       |FROM g JOIN th USING (source) WHERE g.q >= th.thresh
       |GROUP BY g.source, th.thresh ORDER BY g.source""".stripMargin
  }

  // ---- Q61: salted equi-join (join-side skew lever) ---------------------
  // l_returnflag has 3 values over ~60k rows — the textbook hot-key
  // join.  The salted join splits each key into 8 sub-keys (positional
  // salt, `monotonically_increasing_id % buckets` — a content hash
  // would collapse hot keys with identical payloads onto one bucket;
  // position spreads them regardless), replicates the 3-row dim 8×,
  // and joins on
  // (key, salt); `.hint("merge")` models the small-side-too-big-to-
  // broadcast case the operator exists for.  Result is row-identical
  // to the plain join — which is exactly what the oracle runs.
  def q61(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
    val dim = tbl(s, dir, "lineitem").select(col("l_returnflag")).distinct()
      .withColumn("label", concat(col("l_returnflag"), lit("_class")))
      .hint("merge")
    graft.ext.SkewJoin.saltedJoin(li, dim, "l_returnflag", 8)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sumMoney(col("l_quantity")), 6).as("sum_qty"))
      .orderBy("label")
  }
  val q61Sql: String =
    """WITH dim AS (SELECT DISTINCT l_returnflag FROM lineitem),
      |d AS (SELECT l_returnflag, l_returnflag || '_class' AS label FROM dim)
      |SELECT d.label, count(*) AS n,
      |  round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE),6) AS sum_qty
      |FROM lineitem l JOIN d ON l.l_returnflag = d.l_returnflag
      |GROUP BY d.label ORDER BY d.label""".stripMargin

  // ---- Q62: capped inverted index (token → df + bounded postings) -------
  // The index-build every corpus QA/search layer needs, built the
  // scale-safe way: posting lists are k-BOUNDED CollectTopK buffers
  // (reverse = k smallest doc_ids), so map-side partials carry ≤ k ids
  // per token and the shuffle is O(vocab × k) — never an unbounded
  // collect_list that buffers a stopword's whole posting set.
  private val PostingsK = 5
  def q62(s: SparkSession, dir: String): DataFrame = {
    val post = tbl(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"), col("doc_id"))
      .distinct()
    post.groupBy("tok")
      .agg(count(lit(1)).as("df"),
        org.apache.spark.sql.graftshim.Bridge.collectTopK(
          col("doc_id"), PostingsK, reverse = true).as("top"))
      .select(col("tok"), col("df"),
        array_join(array_sort(col("top")), ",").as("postings"))
      .orderBy("tok")
  }
  val q62Sql: String =
    s"""WITH post AS (SELECT DISTINCT tok, doc_id FROM
       |    (SELECT unnest($toksSql) AS tok, doc_id FROM documents)),
       |w AS (SELECT tok, doc_id,
       |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn,
       |    count(*) OVER (PARTITION BY tok) AS df
       |  FROM post)
       |SELECT tok, CAST(max(df) AS BIGINT) AS df,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |    FILTER (WHERE rn <= $PostingsK) AS postings
       |FROM w GROUP BY tok ORDER BY tok""".stripMargin

  // ---- Q63: STREAM-EXECUTED heavy hitters per event-time window ---------
  // The Misra–Gries fold runs as a SQL UDAF inside a watermarked
  // tumbling-window streaming aggregation (MemoryStream feed, Append
  // mode, sentinel closes the last windows — the q40 harness), proving
  // the fold vocabulary composes with real streaming execution, not
  // just batch frames.  Capacity 128 ≥ the 100 distinct k values → the
  // exact regime, so the oracle is plain per-window counts; top-3 per
  // window by (cnt desc, k) for bounded output.  The watermark-closing
  // sentinel carries a DEDICATED marker column (grouped separately,
  // filtered after — the q40/q68 pattern) rather than reserving a
  // value in the kv domain, so a legitimate kv = -1 event would
  // survive; rows with a missing/null `$.k` are filtered explicitly
  // on BOTH sides (the non-nullable Long encoder would otherwise
  // crash the feed).
  def q63(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Folds
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(col("ts2"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .where(col("kv").isNotNull)
      .withColumn("sent", lit(false))
      .as[(java.sql.Timestamp, Long, Boolean)]
      .collect().sortBy(_._1.getTime)
    val mg = StreamingAgg.foldUdaf(Folds.heavyHitters[Long](128))
    val sentinel =
      (new java.sql.Timestamp(ev.last._1.getTime + 12 * 3600 * 1000L), 0L, true)
    runStreamed(s, ev.toIndexedSeq, sentinel, "q63_stream_sink",
      Seq("ts2", "kv", "sent")) { df =>
      StreamingAgg.windowedAgg(df, "ts2", "0 seconds", "6 hours",
        Seq(col("sent")), Seq(mg(col("kv")).as("hh")))
        .select(col("window.start").as("w"), col("sent"),
          explode(col("hh")).as(Seq("kv", "cnt")))
    }.where(!col("sent")).drop("sent")
      .withColumn("rn", row_number().over(
        Window.partitionBy("w").orderBy(col("cnt").desc, col("kv").asc)))
      .where(col("rn") <= 3).drop("rn")
      .orderBy("w", "kv")
  }
  val q63Sql: String =
    """WITH b AS (SELECT time_bucket(INTERVAL '6 hours', ts) AS w,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS kv
      |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
      |c AS (SELECT w, kv, count(*) AS cnt FROM b GROUP BY w, kv),
      |r AS (SELECT w, kv, cnt,
      |    row_number() OVER (PARTITION BY w ORDER BY cnt DESC, kv) AS rn FROM c)
      |SELECT w, kv, cnt FROM r WHERE rn <= 3 ORDER BY w, kv""".stripMargin

  // ---- Q64: per-source percentile rank via broadcast sketches -----------
  // Normalizing a score to its within-group percentile usually means
  // a percent_rank window — a full sort of every group.  The
  // scale-safe form: one mergeable QSketch per group (single
  // partial-agg shuffle of sketch buffers), sketches broadcast
  // (|sources|-bounded), percentile = rankOf(score)/n as a per-row
  // lookup.  Exact below sketch capacity (the gate's regime),
  // ε-rank-error beyond — same contract as q43/q60.
  def q64(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{Assign, Folds, QSketch, Reduce, Unpack}
    import graft.engine.DatasetEngine
    import s.implicits._
    val scored = withQuality(tbl(s, dir, "documents"),
        col("doc_id"), col("source"))
      .select(col("doc_id"), col("source"), col("quality_score"))
    val sk = DatasetEngine.run(
      scored.select(col("source"), col("quality_score")).as[(String, Double)],
      Unpack.none[(String, Double)],
      Assign.of[(String, Double), String, Double](_._1)(_._2),
      Reduce.fromFold[String, Double, QSketch](
        Folds.quantileSketch(32768)), ordered = false)
      .collect().toMap // |sources|-bounded driver table
    val bc = s.sparkContext.broadcast(sk)
    val pct = udf((src: String, q: Double) => {
      val sketch = bc.value(src)
      sketch.rankOf(q).toDouble / sketch.n.toDouble
    })
    scored
      .select(col("doc_id"), col("source"),
        round(pct(col("source"), col("quality_score")), 6).as("pct"))
      .orderBy("doc_id")
  }
  val q64Sql: String = {
    val allStops = TextOps.StopWords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (SELECT doc_id, source,
       |    CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_tok_len,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> t IN ($allStops))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio
       |  FROM (SELECT doc_id, source, text, $toksSql AS toks FROM documents)),
       |g AS (SELECT doc_id, source, stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
       |    + least(mean_tok_len / 8.0, 1.0) * 0.3 AS q FROM f),
       |r AS (SELECT doc_id, source, q,
       |    rank() OVER (PARTITION BY source ORDER BY q) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM g)
       |SELECT doc_id, source, round(CAST(rk - 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- Q65: within-corpus repeated passages (exact-substring dedup) -----
  // Every doc scored by how many of its distinct word 8-grams appear
  // in ≥ 1 other document — 0 for clean docs, high for near-dups and
  // boilerplate.  Two gram-hash shuffles, df>1 filtered before the
  // join back; never an all-pairs comparison.  (PassageN declared at
  // q106, the removal form.)
  def q65(s: SparkSession, dir: String): DataFrame =
    graft.ext.Decontaminate.repeatedPassages(
      tbl(s, dir, "documents"), "doc_id", "text", PassageN)
      .orderBy("doc_id")
  val q65Sql: String = {
    val grams = (0 until PassageN).map {
      case 0 => "toks[i]"
      case j => s"toks[i+$j]"
    }.mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, ${h60Sql("gs")} AS h FROM
       |    (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= $PassageN
       |       THEN list_transform(range(1, len(toks)-${PassageN - 2}), i -> $grams)
       |       ELSE [] END)) AS gs
       |     FROM tok)),
       |d AS (SELECT h, count(*) AS docs FROM g GROUP BY h),
       |c AS (SELECT doc_id, count(*) AS n_dup_grams
       |  FROM g JOIN d USING (h) WHERE d.docs > 1 GROUP BY doc_id)
       |SELECT t.doc_id, CAST(coalesce(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
       |FROM (SELECT DISTINCT doc_id FROM documents) t
       |LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // ---- Q66: int8 scalar quantization of embeddings ----------------------
  // Vector-store prep: per-vector symmetric scale, quantized ints
  // pinned byte-for-byte via a joined string, and the L2
  // reconstruction error as the audit column.  Pure per-row HOFs.
  def q66(s: SparkSession, dir: String): DataFrame =
    graft.ext.Quantize.int8(tbl(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        array_join(transform(col("qvec"), q => q.cast("string")), ",").as("qvec"),
        round(col("recon_err"), 6).as("recon_err"))
      .orderBy("vec_id")
  val q66Sql: String =
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
       |         ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
       |  FROM n),
       |z AS (SELECT vec_id, scale, v,
       |    list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) AS qv
       |  FROM sc)
       |SELECT vec_id, round(scale, 6) AS scale,
       |  array_to_string(qv, ',') AS qvec,
       |  round(sqrt(list_reduce(list_transform(list_zip(v, qv),
       |    p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)),
       |    (a, b) -> a + b)), 6) AS recon_err
       |FROM z ORDER BY vec_id""".stripMargin

  // ---- Q67: mixture-weighted sampling (data-mixing weights) -------------
  // Curated sources upweighted, crawl downweighted — membership via
  // the same deterministic id-hash threshold as q44/q45, rate chosen
  // by the row's source.  Per-row codegen'd; zero shuffle before the
  // presentation agg.
  private val MixRates = Map("src0" -> 1.0, "src1" -> 0.25, "src2" -> 0.5)
  private val MixDefault = 0.1
  def q67(s: SparkSession, dir: String): DataFrame =
    Sampling.sampleByGroupRate(tbl(s, dir, "documents"), "source", "doc_id",
      MixRates, MixDefault)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
      .orderBy("source")
  val q67Sql: String = {
    val cases = MixRates.toSeq.sortBy(_._1).map { case (g, r) =>
      s"WHEN source = '$g' THEN ${math.round(r * Sampling.SplitMod)}"
    }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, source,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % ${Sampling.SplitMod} AS hb
       |  FROM documents),
       |k AS (SELECT doc_id, source FROM h
       |  WHERE hb < CASE $cases ELSE ${math.round(MixDefault * Sampling.SplitMod)} END)
       |SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM k GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- Q68: the SAME session windows, STREAM-EXECUTED --------------------
  // q48 checks session semantics on a batch frame; this executes them
  // through the runStreamed harness (Append mode — a session emits
  // once the watermark passes its close) and must match the identical
  // gaps-and-islands oracle.  Completes the streamed-in-gate set:
  // tumbling (q40), heavy-hitter fold (q63), sessions (q68).
  def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(col("ts2"), col("event_type"))
      .as[(java.sql.Timestamp, String)]
      .collect().sortBy(_._1.getTime)
    val sentinel =
      (new java.sql.Timestamp(ev.last._1.getTime + 2 * 3600 * 1000L), "__sentinel")
    runStreamed(s, ev.toIndexedSeq, sentinel, "q68_stream_sink",
      Seq("ts2", "event_type")) { df =>
      StreamingAgg.sessionAgg(df, "ts2", "0 seconds", "5 minutes",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(col("event_type"), col("session_window.start").as("sess_start"),
          col("n"))
    }.where(col("event_type") =!= "__sentinel")
      .orderBy("event_type", "sess_start")
  }
  // identical oracle to q48: stream execution must not change results
  val q68Sql: String = q48Sql

  // ---- Q69: STREAM-STREAM interval join, executed ------------------------
  // Two MemoryStreams (even event_ids joined to each user's odd
  // events within the following 2 hours) fed in LOCKSTEP time
  // quartiles — the global watermark is the min across sources, so
  // neither side's state expires before the other side's in-bound
  // matches arrive.  Inner joins emit on match (no sentinel needed);
  // the watermark + interval bound is what keeps the join state
  // bounded on unbounded streams.  Oracle = the plain batch interval
  // join.
  def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = eventsTs2(s, dir)
      .select(col("ts2"), col("user_id"), col("event_id"))
      .as[(java.sql.Timestamp, Long, Long)]
      .collect().sortBy(_._1.getTime)
    val (lrows0, rrows0) = ev.partition(_._3 % 2 == 0)
    val inL = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val inR = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = StreamingAgg.intervalJoin(
      inL.toDF().toDF("ts2", "user_id", "eid_a"), "ts2",
      inR.toDF().toDF("ts2b", "user_id", "eid_b"), "ts2b",
      Seq("user_id"), "0 seconds", "2 hours", "0 seconds")
      .select(col("eid_a"), col("eid_b"))
    val sink = "q69_stream_sink"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      val t0 = ev.head._1.getTime
      val t1 = ev.last._1.getTime
      var lRest = lrows0
      var rRest = rrows0
      (1 to 4).foreach { i =>
        val cut = t0 + (t1 - t0) * i / 4
        val (la, lb) = lRest.partition(_._1.getTime <= cut); lRest = lb
        val (ra, rb) = rRest.partition(_._1.getTime <= cut); rRest = rb
        if (la.nonEmpty) inL.addData(la.toIndexedSeq)
        if (ra.nonEmpty) inR.addData(ra.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.table(sink).orderBy("eid_a", "eid_b")
  }
  val q69Sql: String =
    """SELECT a.event_id AS eid_a, b.event_id AS eid_b
      |FROM events a JOIN events b ON a.user_id = b.user_id
      | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
      |ORDER BY eid_a, eid_b""".stripMargin

  // ---- Q70: STATEFUL streaming exact-dedup (explicit state store) -------
  // The general state-store primitive the windowed/session queries
  // don't exercise: flatMapGroupsWithState with per-key TTL'd state
  // (StreamingAgg.statefulDedupFirst), emitting each key's first
  // occurrence.  The feed is sorted by (ts, value) so the emission is
  // the global min per key — exactly what the batch oracle computes.
  // TTL is effectively infinite here (nothing may expire mid-gate);
  // expiry behavior is exercised in StreamingSpec.
  def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("kv"),
        col("ts2"), col("value"))
      .where(col("kv").isNotNull)
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (StreamingAgg.eventTimeMicros(r._2), r._3))
    runStreamedMode(s, ev.toIndexedSeq, "q70_stream_sink",
      Seq("_1", "_2", "_3"), "append") { df =>
      StreamingAgg.statefulDedupFirst(
        df.as[(Long, java.sql.Timestamp, Double)],
        watermarkDelay = "0 seconds", ttlMs = Long.MaxValue / 4)
        .toDF("kv", "first_ts", "first_value")
    }
      .select(col("kv"), unix_millis(col("first_ts")).as("first_ms"),
        round(col("first_value"), 6).as("first_value"))
      .orderBy("kv")
  }
  val q70Sql: String =
    """WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS kv,
      |    ts, value FROM events
      |  WHERE json_extract(props, '$.k') IS NOT NULL),
      |r AS (SELECT kv, ts, value,
      |    row_number() OVER (PARTITION BY kv ORDER BY ts, value) AS rn FROM e)
      |SELECT kv, epoch_ms(ts) AS first_ms, round(value, 6) AS first_value
      |FROM r WHERE rn = 1 ORDER BY kv""".stripMargin

  // ---- Q77: q70 on transformWithState (arbitrary-state v2) --------------
  // The identical stateful-dedup contract executed through Spark 4's
  // transformWithState (named ValueState + explicit event-time
  // timers, RocksDB store) — same feed, same oracle as q70, so the
  // gate proves the two state APIs compute the same thing.  The
  // provider conf is set for the streaming query and restored after
  // (transformWithState refuses the default HDFS-backed store).
  def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = eventsTs2(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("kv"),
          col("ts2"), col("value"))
        .where(col("kv").isNotNull)
        .as[(Long, java.sql.Timestamp, Double)]
        .collect().sortBy(r => (StreamingAgg.eventTimeMicros(r._2), r._3))
      runStreamedMode(s, ev.toIndexedSeq, "q77_stream_sink",
        Seq("_1", "_2", "_3"), "append") { df =>
        StreamingAgg.statefulDedupFirstTws(
          df.as[(Long, java.sql.Timestamp, Double)],
          watermarkDelay = "0 seconds", ttlMs = Long.MaxValue / 4)
          .toDF("kv", "first_ts", "first_value")
      }
        .select(col("kv"), unix_millis(col("first_ts")).as("first_ms"),
          round(col("first_value"), 6).as("first_value"))
        .orderBy("kv")
    } finally prev match {
      case Some(p) => s.conf.set(provKey, p)
      case None    => s.conf.unset(provKey)
    }
  }
  val q77Sql: String = q70Sql

  // ---- Q71: per-key RUNNING fold emission (mapGroupsWithState) ----------
  // StreamingAgg.runningFold holds the mergeable fold buffer as keyed
  // state and emits the current done(buffer) per key on every trigger
  // (Update mode).  The sink accumulates one row per (key, trigger);
  // the LAST emission per key (max running count — count strictly
  // grows each time a key appears) must equal the batch fold, which
  // is what the oracle computes.  count/min/max are order-independent
  // and float-exact, so the snapshot hash-matches.
  def q71(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Folds
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("kv"),
        col("ts2"), col("value"))
      .where(col("kv").isNotNull)
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (StreamingAgg.eventTimeMicros(r._2), r._3))
      .map(r => (r._1, r._3))
    val fold = Folds.count[Double].zip(Folds.minD).zip(Folds.maxD)
    runStreamedMode(s, ev.toIndexedSeq, "q71_stream_sink",
      Seq("_1", "_2"), "update") { df =>
      StreamingAgg.runningFold(df.as[(Long, Double)], fold)
        .map { case (k, ((n, mn), mx)) => (k, n, mn.get, mx.get) }
        .toDF("kv", "n", "min_v", "max_v")
    }
      .withColumn("rn", row_number().over(
        Window.partitionBy("kv").orderBy(col("n").desc)))
      .where(col("rn") === 1).drop("rn")
      .select(col("kv"), col("n"),
        round(col("min_v"), 6).as("min_v"), round(col("max_v"), 6).as("max_v"))
      .orderBy("kv")
  }
  val q71Sql: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS kv,
      |  count(*) AS n, round(min(value), 6) AS min_v,
      |  round(max(value), 6) AS max_v
      |FROM events WHERE json_extract(props, '$.k') IS NOT NULL
      |GROUP BY kv ORDER BY kv""".stripMargin

  // ---- Q78: q71 on transformWithState (production runningFold) ----------
  // The identical running-fold contract executed through
  // StreamingAgg.runningFoldTws: the fold buffer is a named ValueState
  // under the fold's own Catalyst product encoder (a typed row in the
  // RocksDB store, not a Kryo blob) with TTLConfig available for key
  // expiry.  Same feed, same oracle as q71, so the gate proves the v1
  // and v2 state APIs compute the same running fold.  TTL is NONE here
  // (nothing may expire mid-gate); expiry is exercised in
  // StreamingSpec.
  def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Folds
    import s.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = eventsTs2(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("kv"),
          col("ts2"), col("value"))
        .where(col("kv").isNotNull)
        .as[(Long, java.sql.Timestamp, Double)]
        .collect().sortBy(r => (StreamingAgg.eventTimeMicros(r._2), r._3))
        .map(r => (r._1, r._3))
      val fold = Folds.count[Double].zip(Folds.minD).zip(Folds.maxD)
      runStreamedMode(s, ev.toIndexedSeq, "q78_stream_sink",
        Seq("_1", "_2"), "update") { df =>
        StreamingAgg.runningFoldTws(df.as[(Long, Double)], fold)
          .map { case (k, ((n, mn), mx)) => (k, n, mn.get, mx.get) }
          .toDF("kv", "n", "min_v", "max_v")
      }
        .withColumn("rn", row_number().over(
          Window.partitionBy("kv").orderBy(col("n").desc)))
        .where(col("rn") === 1).drop("rn")
        .select(col("kv"), col("n"),
          round(col("min_v"), 6).as("min_v"), round(col("max_v"), 6).as("max_v"))
        .orderBy("kv")
    } finally prev match {
      case Some(p) => s.conf.set(provKey, p)
      case None    => s.conf.unset(provKey)
    }
  }
  val q78Sql: String = q71Sql

  // ---- Q72: INCREMENTAL dedup index (persisted bands + shingles) --------
  // The production shape for a continuously-ingested corpus: the first
  // 400 docs are written once as a bucketed LSH index (bands bucketed
  // by bh — the probe side never reshuffles it; shingles bucketed by
  // id); the 100-doc "new batch" then joins the STORED bands instead
  // of recomputing the corpus.  The oracle is the full-corpus LSH
  // rerun restricted to pairs involving the batch — deterministic
  // signatures make the two partitions identical.
  def q72(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 400), "doc_id", "text",
      "q72_lsh_idx")
    Dedup.lshPairsAgainstIndex(docs.where(col("doc_id") >= 400), "doc_id",
      "text", "q72_lsh_idx")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q72Sql: String =
    s"""WITH $lshPairsCtes
       |SELECT id_a, id_b, round(max(jac),6) AS jaccard FROM pairs
       |WHERE id_a >= 400 OR id_b >= 400
       |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin

  // ---- Q74: sliding-window aggregation ----------------------------------
  // StreamingAgg.slidingAgg executed batch-shaped (like q30): 1-hour
  // windows advancing every 30 minutes, so each event lands in exactly
  // two windows — start = its 30-minute bucket b, and b - 30m.  The
  // oracle unnests those two starts per event; both engines' windows
  // are epoch-aligned, so the starts hash-match.
  /** The one definition of the q74/q75 sliding aggregation — batch
    * and stream execution MUST stay identical for the shared oracle
    * (`q75Sql = q74Sql`) to be valid. */
  private def slidingEventAgg(df: DataFrame): DataFrame =
    StreamingAgg.slidingAgg(df, "ts2", "0 seconds", "1 hour", "30 minutes",
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(38,15)")).cast("double"), 6).as("sum_value")))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  def q74(s: SparkSession, dir: String): DataFrame =
    slidingEventAgg(eventsTs2(s, dir))
      .orderBy("ws", "event_type")
  val q74Sql: String =
    """WITH e AS (SELECT event_type, value,
      |    time_bucket(INTERVAL '30 minutes', ts) AS b FROM events),
      |w AS (SELECT unnest([b, b - INTERVAL '30 minutes']) AS ws,
      |    event_type, value FROM e)
      |SELECT ws, event_type, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,15))) AS DOUBLE),6) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  // ---- Q75: the SAME sliding windows, STREAM-EXECUTED -------------------
  // q74's sliding aggregation through the runStreamed harness (the
  // q30→q40 pattern): overlapping windows emit as the watermark
  // passes each one; the far-future sentinel closes the tail.  Same
  // oracle as q74 — stream execution must not change results.
  def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsTs2(s, dir)
      .select(col("ts2"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(r => StreamingAgg.eventTimeMicros(r._1))
    if (ev.isEmpty)
      // empty feed: the batch shape on an empty frame yields the
      // schema-correct empty result (ev.last below would throw)
      return slidingEventAgg(
        s.emptyDataset[(java.sql.Timestamp, String, Double)]
          .toDF("ts2", "event_type", "value"))
        .orderBy("ws", "event_type")
    val sentinel =
      (new java.sql.Timestamp(ev.last._1.getTime + 2 * 3600 * 1000L), "__sentinel", 0.0)
    runStreamed(s, ev.toIndexedSeq, sentinel, "q75_stream_sink",
      Seq("ts2", "event_type", "value"))(slidingEventAgg)
      .where(col("event_type") =!= "__sentinel")
      .orderBy("ws", "event_type")
  }
  val q75Sql: String = q74Sql

  // ---- Q73: STREAMED index maintenance (foreachBatch ingest) ------------
  // The q72 index kept fresh by a stream: the first 300 docs are the
  // initial index; docs >= 300 arrive as two micro-batches through
  // StreamingAgg.lshIndexSink — each probes the stored bands for the
  // pairs it introduces, appends itself to the index, and marks its
  // batch id (replays are no-ops).  Union of per-batch pair sets is
  // disjoint by construction, so it equals the full-corpus LSH rerun
  // restricted to pairs touching the streamed half.  The collect is
  // the TEST FEED only (MemoryStream takes driver-side batches by
  // design); the probe/append under test is fully distributed.
  def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = tbl(s, dir, "documents")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text",
      "q73_lsh_idx")
    Seq("q73_pairs", "q73_lsh_idx_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(s, t))
    val in = MemoryStream[(Long, String)]
    val q = StreamingAgg.lshIndexSink(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", "q73_lsh_idx", "q73_pairs")
    try {
      val rows = docs.where(col("doc_id") >= 300)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val (b1, b2) = rows.partition(_._1 < 400)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    s.table("q73_pairs")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q73Sql: String =
    s"""WITH $lshPairsCtes
       |SELECT id_a, id_b, round(max(jac),6) AS jaccard FROM pairs
       |WHERE id_a >= 300 OR id_b >= 300
       |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin

  // ---- Q80: EXACTLY-ONCE index ingest under crash-replay ----------------
  // The q73 contract through the TxLog manifest commit, with a
  // DELIBERATE mid-protocol replay: batch 1 is ingested, its
  // `<name>_batches` marker is wiped (simulating a crash after the
  // pairs commit + index append but before the marker), and the same
  // batch is ingested again — the replay must not duplicate a single
  // pair (TxLog skips the committed batch) and must not duplicate a
  // single index row either (the replayed append OVERWRITES batch 1's
  // partition); batch 2 then probes the replayed index.  Hash-equality
  // with q73's oracle — with no DISTINCT or dedup anywhere on the
  // read path — is the end-to-end exactly-once proof.
  def q80(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text",
      "q80_lsh_idx")
    graft.sources.Tables.dropWithLocation(s, "q80_lsh_idx_batches")
    val pairsDir = scratchDir("q80_pairs")
    val b1 = docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .select(col("doc_id"), col("text"))
    val b2 = docs.where(col("doc_id") >= 400).select(col("doc_id"), col("text"))
    Dedup.ingestBatchIntoIndexTx(b1, 1L, "doc_id", "text", "q80_lsh_idx", pairsDir)
    // simulated crash: the run died before the batch marker landed —
    // recovery replays the whole ingest of batch 1
    graft.sources.Tables.dropWithLocation(s, "q80_lsh_idx_batches")
    Dedup.ingestBatchIntoIndexTx(b1, 1L, "doc_id", "text", "q80_lsh_idx", pairsDir)
    Dedup.ingestBatchIntoIndexTx(b2, 2L, "doc_id", "text", "q80_lsh_idx", pairsDir)
    graft.sources.TxLog.readCommitted(s, pairsDir)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }
  val q80Sql: String = q73Sql

  // ---- Q76: deterministic corpus shuffle into training shards ----------
  // Sampling.shuffleShard assigns shard = h60(id) % n and a dense
  // in-shard position by ascending hash — the reproducible "shuffle
  // the corpus before training" step.  sum(pos*doc_id) pins the
  // EXACT permutation (not just shard membership): any transposition
  // of two positions changes the signature.
  def q76(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShard(tbl(s, dir, "documents"), "doc_id", 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("pos") * col("doc_id")).as("ord_sig"))
      .orderBy("shard")
  val q76Sql: String =
    s"""WITH h AS (SELECT doc_id, ${h60Sql("CAST(doc_id AS VARCHAR)")} AS hv
       |  FROM documents),
       |s AS (SELECT doc_id, hv % 8 AS shard,
       |    row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
       |  FROM h)
       |SELECT shard, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(pos * doc_id) AS BIGINT) AS ord_sig
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_shuffle_shard" -> (q76 _),
    "q77_stateful_dedup_tws" -> (q77 _),
    "q78_running_fold_tws" -> (q78 _),
    "q70_stateful_dedup" -> (q70 _),
    "q71_running_fold" -> (q71 _),
    "q72_incremental_index" -> (q72 _),
    "q73_streamed_index" -> (q73 _),
    "q80_exactly_once_ingest" -> (q80 _),
    "q74_sliding_window" -> (q74 _),
    "q75_stream_sliding" -> (q75 _),
    "q69_stream_interval_join" -> (q69 _),
    "q68_stream_sessions" -> (q68 _),
    "q66_quantize" -> (q66 _),
    "q67_mixture_sample" -> (q67 _),
    "q65_repeated_passages" -> (q65 _),
    "q64_percentile_rank" -> (q64 _),
    "q63_stream_heavy_hitters" -> (q63 _),
    "q62_inverted_index" -> (q62 _),
    "q60_quality_gate" -> (q60 _),
    "q61_salted_join" -> (q61 _),
    "q59_decontaminate" -> (q59 _),
    "q55_scrub" -> (q55 _),
    "q56_repetition" -> (q56 _),
    "q57_semantic_dedup" -> (q57 _),
    "q58_tfidf" -> (q58 _),
    "q52_components" -> (q52 _),
    "q89_incremental_components" -> (q89 _),
    "q90_assignment_delta_log" -> (q90 _),
    "q91_cluster_survivors" -> (q91 _),
    "q92_survivor_filtered_corpus" -> (q92 _),
    "q93_continuous_ingest_loop" -> (q93 _),
    "q94_survivor_reshard" -> (q94 _),
    "q95_priority_sample" -> (q95 _),
    "q96_source_cap" -> (q96 _),
    "q97_token_budget" -> (q97 _),
    "q98_chunk_dedup" -> (q98 _),
    "q99_mixture_calibration" -> (q99 _),
    "q100_incremental_survivors" -> (q100 _),
    "q101_cluster_split" -> (q101 _),
    "q102_streamed_curation" -> (q102 _),
    "q103_emission_compaction" -> (q103 _),
    "q104_stream_priority_sample" -> (q104 _),
    "q105_bm25_topk" -> (q105 _),
    "q106_passage_removal" -> (q106 _),
    "q107_stratified_priority" -> (q107 _),
    "q108_bm25_from_index" -> (q108 _),
    "q109_bm25_incremental" -> (q109 _),
    "q110_bm25_compaction" -> (q110 _),
    "q111_bm25_streamed" -> (q111 _),
    "q112_retrieval_decontam" -> (q112 _),
    "q113_ann_from_index" -> (q113 _),
    "q114_ann_incremental" -> (q114 _),
    "q115_ann_streamed" -> (q115 _),
    "q116_incremental_semdedup" -> (q116 _),
    "q117_hybrid_rrf" -> (q117 _),
    "q118_incremental_decontam" -> (q118 _),
    "q119_streamed_decontam" -> (q119 _),
    "q120_incremental_passage" -> (q120 _),
    "q121_streamed_passage" -> (q121 _),
    "q122_hygiene_pipeline" -> (q122 _),
    "q123_streamed_hygiene" -> (q123 _),
    "q124_purge_takedown" -> (q124 _),
    "q125_bm25_purge" -> (q125 _),
    "q126_ann_purge" -> (q126 _),
    "q127_lsh_purge" -> (q127 _),
    "q128_shard_purge_repair" -> (q128 _),
    "q129_bpe_budget" -> (q129 _),
    "q130_concat_chunk" -> (q130 _),
    "q53_heavy_hitters" -> (q53 _),
    "q54_bloom_join" -> (q54 _),
    "q38_json_extract" -> (q38 _),
    "q39_date_parts" -> (q39 _),
    "q37_ann_ivf" -> (q37 _),
    "q34_anti_join" -> (q34 _),
    "q35_cube" -> (q35 _),
    "q36_pivot" -> (q36 _),
    "q29_multimodal" -> (q29 _),
    "q79_audio_codec" -> (q79 _),
    "q81_jsonl_roundtrip" -> (q81 _),
    "q82_audio_frames" -> (q82 _),
    "q83_compact_files" -> (q83 _),
    "q84_compact_partitioned" -> (q84 _),
    "q85_ngram_jaccard_sliced" -> (q85 _),
    "q86_audio_encodings" -> (q86 _),
    "q87_audio_frames_mixed" -> (q87 _),
    "q88_video_frames" -> (q88 _),
    "q30_stream_window" -> (q30 _),
    "q40_stream_exec" -> (q40 _),
    "q42_media_meta" -> (q42 _),
    "q43_quantile_sketch" -> (q43 _),
    "q44_hash_split" -> (q44 _),
    "q45_group_sample" -> (q45 _),
    "q46_pipeline_e2e" -> (q46 _),
    "q47_seq_pack" -> (q47 _),
    "q48_session_window" -> (q48 _),
    "q49_hll_distinct" -> (q49 _),
    "q50_asof_join" -> (q50 _),
    "q51_range_join" -> (q51 _),
    "q31_variance_fold" -> (q31 _),
    "q32_topk_fold" -> (q32 _),
    "q33_salted_mean" -> (q33 _),
    "q14_exact_dedup" -> (q14 _),
    "q15_ann_bruteforce" -> (q15 _),
    "q15b_ann_lsh" -> (q15b _),
    "q16_token_len_melt" -> (q16 _),
    "q17_minhash_lsh" -> (q17 _),
    "q18_simhash" -> (q18 _),
    "q19_ngram_jaccard" -> (q19 _),
    "q20_embed_neardup" -> (q20 _),
    "q21_langid" -> (q21 _),
    "q22_quality" -> (q22 _),
    "q23_token_counts" -> (q23 _),
    "q24_fingerprint" -> (q24 _),
    "q25_window_topn" -> (q25 _),
    "q26_join_agg" -> (q26 _),
    "q27_set_except" -> (q27 _),
    "q28_rollup" -> (q28 _))

  val oracles: Map[String, String] = Map(
    "q29_multimodal" -> q29Sql,
    "q79_audio_codec" -> q79Sql,
    "q81_jsonl_roundtrip" -> q81Sql,
    "q82_audio_frames" -> q82Sql,
    "q83_compact_files" -> q83Sql,
    "q84_compact_partitioned" -> q84Sql,
    "q85_ngram_jaccard_sliced" -> q85Sql,
    "q86_audio_encodings" -> q86Sql,
    "q87_audio_frames_mixed" -> q87Sql,
    "q88_video_frames" -> q88Sql,
    "q76_shuffle_shard" -> q76Sql,
    "q77_stateful_dedup_tws" -> q77Sql,
    "q78_running_fold_tws" -> q78Sql,
    "q70_stateful_dedup" -> q70Sql,
    "q71_running_fold" -> q71Sql,
    "q72_incremental_index" -> q72Sql,
    "q73_streamed_index" -> q73Sql,
    "q80_exactly_once_ingest" -> q80Sql,
    "q74_sliding_window" -> q74Sql,
    "q75_stream_sliding" -> q75Sql,
    "q69_stream_interval_join" -> q69Sql,
    "q68_stream_sessions" -> q68Sql,
    "q66_quantize" -> q66Sql,
    "q67_mixture_sample" -> q67Sql,
    "q65_repeated_passages" -> q65Sql,
    "q64_percentile_rank" -> q64Sql,
    "q63_stream_heavy_hitters" -> q63Sql,
    "q62_inverted_index" -> q62Sql,
    "q60_quality_gate" -> q60Sql,
    "q61_salted_join" -> q61Sql,
    "q59_decontaminate" -> q59Sql,
    "q55_scrub" -> q55Sql,
    "q56_repetition" -> q56Sql,
    "q57_semantic_dedup" -> q57Sql,
    "q58_tfidf" -> q58Sql,
    "q52_components" -> q52Sql,
    "q89_incremental_components" -> q89Sql,
    "q90_assignment_delta_log" -> q90Sql,
    "q91_cluster_survivors" -> q91Sql,
    "q92_survivor_filtered_corpus" -> q92Sql,
    "q93_continuous_ingest_loop" -> q93Sql,
    "q94_survivor_reshard" -> q94Sql,
    "q95_priority_sample" -> q95Sql,
    "q96_source_cap" -> q96Sql,
    "q97_token_budget" -> q97Sql,
    "q98_chunk_dedup" -> q98Sql,
    "q99_mixture_calibration" -> q99Sql,
    "q100_incremental_survivors" -> q100Sql,
    "q101_cluster_split" -> q101Sql,
    "q102_streamed_curation" -> q102Sql,
    "q103_emission_compaction" -> q103Sql,
    "q104_stream_priority_sample" -> q104Sql,
    "q105_bm25_topk" -> q105Sql,
    "q106_passage_removal" -> q106Sql,
    "q107_stratified_priority" -> q107Sql,
    "q108_bm25_from_index" -> q108Sql,
    "q109_bm25_incremental" -> q109Sql,
    "q110_bm25_compaction" -> q110Sql,
    "q111_bm25_streamed" -> q111Sql,
    "q112_retrieval_decontam" -> q112Sql,
    "q113_ann_from_index" -> q113Sql,
    "q114_ann_incremental" -> q114Sql,
    "q115_ann_streamed" -> q115Sql,
    "q116_incremental_semdedup" -> q116Sql,
    "q117_hybrid_rrf" -> q117Sql,
    "q118_incremental_decontam" -> q118Sql,
    "q119_streamed_decontam" -> q119Sql,
    "q120_incremental_passage" -> q120Sql,
    "q121_streamed_passage" -> q121Sql,
    "q122_hygiene_pipeline" -> q122Sql,
    "q123_streamed_hygiene" -> q123Sql,
    "q124_purge_takedown" -> q124Sql,
    "q125_bm25_purge" -> q125Sql,
    "q126_ann_purge" -> q126Sql,
    "q127_lsh_purge" -> q127Sql,
    "q128_shard_purge_repair" -> q128Sql,
    "q129_bpe_budget" -> q129Sql,
    "q130_concat_chunk" -> q130Sql,
    "q53_heavy_hitters" -> q53Sql,
    "q54_bloom_join" -> q54Sql,
    "q30_stream_window" -> q30Sql,
    "q40_stream_exec" -> q40Sql,
    "q42_media_meta" -> q42Sql,
    "q43_quantile_sketch" -> q43Sql,
    "q44_hash_split" -> q44Sql,
    "q45_group_sample" -> q45Sql,
    "q46_pipeline_e2e" -> q46Sql,
    "q47_seq_pack" -> q47Sql,
    "q48_session_window" -> q48Sql,
    "q49_hll_distinct" -> q49Sql,
    "q50_asof_join" -> q50Sql,
    "q51_range_join" -> q51Sql,
    "q31_variance_fold" -> q31Sql,
    "q32_topk_fold" -> q32Sql,
    "q33_salted_mean" -> q33Sql,
    "q34_anti_join" -> q34Sql,
    "q37_ann_ivf" -> q37Sql,
    "q38_json_extract" -> q38Sql,
    "q39_date_parts" -> q39Sql,
    "q35_cube" -> q35Sql,
    "q36_pivot" -> q36Sql,
    "q14_exact_dedup" -> q14Sql,
    "q15_ann_bruteforce" -> q15Sql,
    "q15b_ann_lsh" -> q15bSql,
    "q16_token_len_melt" -> q16Sql,
    "q17_minhash_lsh" -> q17Sql,
    "q18_simhash" -> q18Sql,
    "q19_ngram_jaccard" -> q19Sql,
    "q20_embed_neardup" -> q20Sql,
    "q21_langid" -> q21Sql,
    "q22_quality" -> q22Sql,
    "q23_token_counts" -> q23Sql,
    "q24_fingerprint" -> q24Sql,
    "q25_window_topn" -> q25Sql,
    "q26_join_agg" -> q26Sql,
    "q27_set_except" -> q27Sql,
    "q28_rollup" -> q28Sql)
}
