package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** text → array of 32-bit hashes of its distinct word k-shingles, as ONE
  * compiled kernel.
  *
  * Semantically identical to the composable-HOF pipeline it replaces —
  *   hash32(shingles(tokens(text), k)) =
  *   transform(array_distinct(k-grams of split(trim(text), "\\s+")),
  *             x -> conv(substring(md5(x),1,8),16,10))
  * — and therefore identical to the DuckDB oracle. The HOF chain pays
  * interpreted lambda dispatch per shingle plus three intermediate
  * arrays; this runs the whole tokenize→shingle→dedup→md5 loop in one
  * JVM method per row (the md5 calls themselves are the irreducible
  * cost, they define the oracle hash).
  */
case class ShingleHash32(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    ShingleHash32.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHash32.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHash32 {
  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The row kernel. Replicates exactly: SQL trim (space 0x20 only, both
    * ends) → Java regex split "\\s+" (limit -1) → k-gram join with " " →
    * first-occurrence dedup (array_distinct) → md5 → first 4 bytes as
    * unsigned big-endian int.
    */
  def compute(text: UTF8String, k: Int): ArrayData = {
    var s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)
    val toks = s.split("\\s+", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[String]((toks.length - k + 1) * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val md = digest.get()
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) {
      md.reset()
      val h = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(n) = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Column builder. */
  def apply(c: Column, k: Int): Column =
    ColumnShim.column(ShingleHash32(ColumnShim.expr(c), k))
}
