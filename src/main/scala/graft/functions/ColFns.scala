package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable Catalyst `Column` builders for the engine's scalar surface.
  *
  * Everything here compiles to native Spark SQL expressions (whole-stage
  * codegen, no UDFs — SURVEY §4).  Where an operator also needs a DuckDB
  * oracle, the companion [[OracleSql]] generates the SQL text from the
  * SAME constants, so Spark results and the oracle stay bit-identical.
  *
  * Numeric-determinism policy (so results hash-match any engine):
  *  - money columns (2-decimal doubles) are summed exactly: the
  *    defining form is `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`
  *    (what the oracles run), computed by [[sumMoney]] as long cents.
  *    Fast path: `cents = rint(x·100)` when `|x| < 2^44` and
  *    `rint(x·100)/100 == x` — below 2^44 doubles are spaced at most
  *    2^-9 < 0.005 apart, so the cast's HALF_UP rounding of x is that
  *    integer.  Fallback: every other row (more decimals, NaN, ±Inf,
  *    |x| ≥ 1e16) takes the unscaled value of the same decimal cast,
  *    errors and nulls included ([[graft.functions.cat.MoneySum]]);
  *  - float vectors are cast to double and reduced strictly
  *    left-to-right (`aggregate` with 0.0 init ≡ DuckDB `list_reduce`);
  *  - hashes are md5-derived (md5 is identical everywhere), truncated
  *    to 60 bits so they stay positive in signed int64 arithmetic.
  *
  * Lambda-capture rule: a `transform`/`filter`/`aggregate`/`exists`/
  * `zip_with` lambda must reference only its own variables, attributes
  * and literals.  An outside expression named in the body (say
  * `tokens(text)` inside `transform(idx, i -> element_at(toks, i))`)
  * is re-evaluated on every lambda call — HOFs run interpreted, so no
  * codegen CSE shares it — which makes a linear prep quadratic.
  * Project the captured expression as its own column first, or use a
  * native kernel that evaluates its input once ([[wordShingles]],
  * [[charShingles]]).  A column referenced ONCE by the next
  * projection is collapsed back into it by the optimizer, so a
  * projection only helps when the lambda's input is referenced at
  * least twice there.
  */
object ColFns {

  /** Exact sum of a 2-decimal-valued double column, value-identical
    * to `sum(c.cast("decimal(18,2)")).cast("double")`: a native
    * aggregate over long cents ([[graft.functions.cat.MoneySum]]), so
    * the hash aggregate stays codegen'd with a fixed-width buffer.
    * Integer addition is exact, so the result is independent of
    * partitioning/merge order — unlike a naive double sum, which
    * differs in final ulps between engines. */
  def sumMoney(c: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.MoneySum(Bridge.expression(c)).toAggregateExpression())
  }

  /** Exact mean built from [[sumMoney]] / count — deterministic. */
  def avgMoney(c: Column): Column = sumMoney(c) / count(c)

  private def md5Slice(c: Column, start: Int, len: Int): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.Md5HexSlice(
      Bridge.expression(c), start, len))
  }

  /** 60-bit positive hash of a string: first 15 hex chars of md5
    * (md5 is bit-identical across Spark/DuckDB/everything), computed
    * natively off the digest bytes — no hex string, no conv parse
    * ([[graft.functions.cat.Md5HexSlice]]). */
  def h60(c: Column): Column = md5Slice(c, 1, 15)

  /** 32-bit halves of md5 (for 64-bit simhash assembly). */
  def h32hi(c: Column): Column = md5Slice(c, 1, 8)
  def h32lo(c: Column): Column = md5Slice(c, 9, 8)

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Word n-gram shingles of a token array (empty if fewer than n
    * tokens or null): native one-walk kernel
    * ([[graft.functions.cat.WordShingles]]), value-identical to the
    * composed `transform(sequence(...), i -> concat_ws(...))` form. */
  def wordShingles(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.WordShingles(Bridge.expression(toks), n))
  }

  /** Character n-gram shingles of a string (empty if shorter than n
    * code points or null): native one-walk kernel
    * ([[graft.functions.cat.CharShingles]]), value-identical to the
    * composed `transform(sequence(...), i -> substr(text, i, n))` form. */
  def charShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.CharShingles(Bridge.expression(text), n))
  }

  /** Strict left-to-right double dot product of two array<double>
    * columns — native codegen'd Catalyst expression
    * ([[graft.functions.cat.DotProductD]]); bit-identical to
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` and to DuckDB's
    * init-less `list_reduce` sum, but runs as a tight compiled loop
    * instead of interpreted higher-order lambdas. */
  def dotD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.DotProductD(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Cast a float vector column to array<double> (exact widening). */
  def vecD(c: Column): Column = c.cast("array<double>")

  /** `|A ∩ B|` of two SORTED DISTINCT null-free arrays — native
    * merge-walk ([[graft.functions.cat.SortedIntersectCount]]):
    * O(n+m) comparisons, zero per-pair allocation, vs
    * `size(array_intersect(...))`'s per-pair hash set + discarded
    * output array.  Callers must sort+distinct at prep time. */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** L2 norm, computed from [[dotD]] so it parenthesizes identically
    * to the oracle. */
  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Cosine similarity given precomputed norms: dot / (na * nb). */
  def cosineWithNorms(dot: Column, na: Column, nb: Column): Column =
    dot / (na * nb)

  // ---- MinHash ----------------------------------------------------------
  /** Mersenne prime 2^31-1; permutation slopes/offsets are fixed odd
    * constants < p shared with the oracle generator. */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(
    1103515245L, 1299709L, 1689487L, 2038074743L, 65537L, 971L,
    179424673L, 32452843L, 15485863L, 49979687L, 86028121L, 67867967L,
    122949829L, 141650939L, 160481183L, 198491317L)
  val MinhashB: Seq[Long] = Seq(
    12345L, 9973L, 7919L, 104729L, 130363L, 499979L,
    982451653L, 57885161L, 74207281L, 30402457L, 20996011L, 6972593L,
    3021377L, 2976221L, 1398269L, 859433L)

  /** Per-shingle base hashes, reduced mod p (so a*h fits in int64).
    * Materialize this ONCE per document — md5 is the expensive part,
    * and the k permutations below only do cheap modular arithmetic
    * over it (16× fewer md5 evaluations than hashing inside each
    * permutation). */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => h60(s) % MinhashP)

  /** One-pass native k-minhash signature array over prehashed
    * shingles ([[shingleHashes]]): `element_at(sig, i+1)` =
    * min over h of (a_i*h+b_i)%p, value-identical to the composed
    * `array_min(transform(...))` form but a single traversal
    * ([[graft.functions.cat.MinhashSig]]); null on empty input like
    * `array_min` on empty.  Materialize it in its own projection
    * before fanning out to per-permutation columns — CollapseProject
    * keeps the non-cheap signature from being inlined per use. */
  def minhashSigArray(hs: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.functions.cat.MinhashSig(Bridge.expression(hs)))
  }

  /** k-minhash signature (k columns) over prehashed shingles
    * ([[shingleHashes]]): permutation i = min over h of (a_i*h+b_i)%p.
    * Backed by the one-pass [[minhashSigArray]] (codegen CSE shares
    * the single signature computation across the k extracts). */
  def minhashColsFromHashes(hs: Column): Seq[Column] = {
    val sig = minhashSigArray(hs)
    MinhashA.indices.map(i => element_at(sig, i + 1).as(s"m$i"))
  }

  /** k-minhash signature of a raw shingle array (hashes inline; for
    * one-shot use — pipelines should materialize [[shingleHashes]]
    * first so the md5 pass runs once, not k times). */
  def minhashCols(shingles: Column): Seq[Column] =
    minhashColsFromHashes(shingleHashes(shingles))

  /** LSH band hash over a slice of minhash columns. */
  def bandHash(ms: Seq[Column]): Column = md5(concat_ws(",", ms.map(_.cast("string")): _*))

  // ---- Rolling-hash fingerprint ----------------------------------------
  val FpMod: Long = 1048573L // prime < 2^20 so acc*B + x never overflows
  val FpBase: Long = 31L

  /** Polynomial rolling hash over token hashes — document fingerprint
    * (order-sensitive, unlike minhash). */
  def fingerprint(toks: Column): Column =
    aggregate(transform(toks, t => h60(t) % FpMod), lit(0L),
      (acc, x) => (acc * FpBase + x) % FpMod)
}
