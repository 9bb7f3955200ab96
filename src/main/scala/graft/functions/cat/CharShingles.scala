package graft.functions.cat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Character `n`-gram shingles of a string in one walk: element i is
  * `substr(text, i, n)` by code point — value-identical to the
  * composed `transform(sequence(1, length(text)-n+1), i ->
  * substr(text, i, n))` form (which the DuckDB twin `charShinglesSql`
  * in PipelineQueries still computes), including its edges: an empty
  * array for a null input or one shorter than `n` code points, and
  * the same `dataType` and nullability.
  *
  * The composed form re-evaluated `text` (e.g. `lower(col)`) once per
  * shingle, and every `substr` counted the string's characters and
  * then sought its start from byte 0 — O(length²) per row.  Here the
  * child is evaluated once and two cursors slide over its bytes with
  * the code-point stepping `UTF8String` itself uses
  * (`numBytesForFirstByte`).  On malformed UTF-8 whose last sequence
  * is cut short, the final shingles end at the string's last byte
  * (`substr` would copy past it).
  */
case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_char_shingles"

  override def eval(input: InternalRow): Any =
    CharShingles.compute(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.cat.CharShingles.compute(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

object CharShingles {
  /** Static per-row kernel (called from generated code). */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val chars = if (s == null) 0 else s.numChars()
    if (chars < n) return new GenericArrayData(Array.empty[Any])
    val numBytes = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    def step(at: Int): Int = UTF8String.numBytesForFirstByte(s.getByte(at))
    // [lo, hi) spans code points i .. i+n-1
    var lo = 0
    var hi = 0
    var k = 0
    while (k < n) { hi += step(hi); k += 1 }
    val out = new Array[Any](chars - n + 1)
    var i = 0
    while (i < out.length) {
      val len = math.min(hi, numBytes) - lo
      val bytes = new Array[Byte](len)
      Platform.copyMemory(base, offset + lo, bytes, Platform.BYTE_ARRAY_OFFSET, len)
      out(i) = UTF8String.fromBytes(bytes)
      i += 1
      if (i < out.length) { lo += step(lo); hi += step(hi) }
    }
    new GenericArrayData(out)
  }
}
