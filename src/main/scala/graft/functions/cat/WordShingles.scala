package graft.functions.cat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word `n`-gram shingles of a token array in one walk: element i is
  * `concat_ws(' ', toks[i], …, toks[i+n-1])` — value-identical to the
  * composed `transform(sequence(1, size(toks)-n+1), i ->
  * concat_ws(' ', element_at(toks, i), …))` form (which the DuckDB
  * twin `shingles3Sql` in PipelineQueries still computes), including
  * its edges: an empty array for a null input or one shorter than
  * `n`, null tokens skipped the way `concat_ws` skips them, and the
  * same `dataType` and nullability.
  *
  * The composed form put the token expression inside an interpreted
  * lambda, so Spark re-evaluated it (`split(lower(text))` and all)
  * `n` times per shingle; here the child is evaluated once per row.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_shingles"

  override def eval(input: InternalRow): Any =
    WordShingles.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.cat.WordShingles.compute(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  /** Static per-row kernel (called from generated code). */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val size = if (toks == null) 0 else toks.numElements()
    if (size < n) return new GenericArrayData(Array.empty[Any])
    val t = new Array[UTF8String](size)
    var k = 0
    while (k < size) {
      if (!toks.isNullAt(k)) t(k) = toks.getUTF8String(k)
      k += 1
    }
    val out = new Array[Any](size - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = joinWindow(t, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `concat_ws(' ', t(from), …, t(from+n-1))`: nulls skipped, "" when
    * every token is null (as `UTF8String.concatWs`). */
  private def joinWindow(t: Array[UTF8String], from: Int, n: Int): UTF8String = {
    var bytes = 0
    var parts = 0
    var j = from
    while (j < from + n) {
      if (t(j) != null) { bytes += t(j).numBytes(); parts += 1 }
      j += 1
    }
    if (parts == 0) return UTF8String.EMPTY_UTF8
    val buf = new Array[Byte](bytes + parts - 1)
    var pos = 0
    var first = true
    j = from
    while (j < from + n) {
      val s = t(j)
      if (s != null) {
        if (!first) { buf(pos) = ' '; pos += 1 }
        first = false
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += s.numBytes()
      }
      j += 1
    }
    UTF8String.fromBytes(buf)
  }
}
