package graft.functions.cat

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full k-permutation minhash signature in ONE traversal of the
  * shingle-hash array: element i (1-based i+1 for `element_at`) is
  * `min over h of (A(i)*h + B(i)) % p` — value-identical to the
  * composed `array_min(transform(hs, h => (a*h+b) % p))` per
  * permutation (which is what every DuckDB oracle still computes),
  * but one pass over the input with a k-long on-stack accumulator
  * instead of k HOF passes each materializing a same-size array.
  * This is the dominant cost of LSH signature prep
  * (stage 3 of the r18 LSH profile,
  * `git show 6936f95:src/main/scala/graft/tools/ProfileLsh.scala`).
  *
  * Returns NULL for an empty input array — matching `array_min`'s
  * null on empty, so downstream band hashes see the same values as
  * the composed form.  Constants live in
  * [[graft.functions.ColFns.MinhashA]]/`MinhashB`/`MinhashP`, shared
  * with the oracle SQL generators.  PRECONDITION (caller-enforced):
  * input hashes are pre-reduced mod p (so `a*h + b` never overflows
  * int64) and element-null-free.
  */
case class MinhashSig(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.cat.MinhashSig.compute($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  // referenced lazily (method call time), so no init-order cycle with
  // ColFns, which builds Columns from this expression
  private lazy val A: Array[Long] = graft.functions.ColFns.MinhashA.toArray
  private lazy val B: Array[Long] = graft.functions.ColFns.MinhashB.toArray
  private lazy val P: Long = graft.functions.ColFns.MinhashP

  /** Static per-row kernel (called from generated code); null on
    * empty input. */
  def compute(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val a = A; val b = B; val p = P
    val k = a.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
