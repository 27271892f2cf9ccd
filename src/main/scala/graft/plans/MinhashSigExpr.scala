package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 8-slot MinHash signature.
  *
  * Semantically identical to the declarative formulation in
  * `graft.functions.TextFunctions.minhashSig8(shingles(words(text), k))` —
  * element j = min over k-word shingles of
  * `substring(md5((j<4 ? "0|" : "1|") + shingle), 1 + 8*(j%4), 8)` — and
  * verified against the same DuckDB oracle.
  *
  * Why a custom Expression: Spark's higher-order functions evaluate
  * interpreted (no whole-stage codegen), allocating per-element Catalyst
  * structures for the shingle array, two md5 arrays, and the fold state.
  * Here the whole signature is one compiled per-row loop with two MessageDigest
  * updates per shingle and zero intermediate arrays. `doGenCode` emits a
  * direct `compute(value)` call (null result = fewer than k words), keeping
  * the expression inside the WholeStageCodegen span instead of forcing the
  * CodegenFallback row-materialization path.
  */
case class MinhashSigExpr(child: Expression, k: Int = 3)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig8"

  @transient private lazy val hexDigits = "0123456789abcdef".toCharArray
  // per-deserialized-instance (= per task) digest: thread-confined reuse
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  def compute(input: UTF8String): ArrayData = {
    val text = input.toString
    val words = Tokenize.words(text)
    if (words.length < k) return null
    val md = md5
    // mins(j) holds the 8-char hex min for slot j
    val mins = Array.fill(8)("~~~~~~~~")
    Tokenize.eachShingle(words, k) { shingle =>
      var seed = 0
      while (seed < 2) {
        md.reset()
        md.update((seed + "|").getBytes("UTF-8"))
        md.update(shingle.getBytes("UTF-8"))
        val digest = md.digest()
        // hex-encode 16 bytes -> 32 chars; compare 8-char slots in place
        val hex = new Array[Char](32)
        var b = 0
        while (b < 16) {
          hex(2 * b) = hexDigits((digest(b) >> 4) & 0xf)
          hex(2 * b + 1) = hexDigits(digest(b) & 0xf)
          b += 1
        }
        var slot = 0
        while (slot < 4) {
          val s = new String(hex, slot * 8, 8)
          val j = seed * 4 + slot
          if (s.compareTo(mins(j)) < 0) mins(j) = s
          slot += 1
        }
        seed += 1
      }
    }
    new GenericArrayData(mins.map(UTF8String.fromString): Array[Any])
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinhashSigExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.compute($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSigExpr {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column API: 8-slot minhash signature of a text column. */
  def minhashSig8Native(text: Column, k: Int = 3): Column =
    GraftSqlBridge.column(MinhashSigExpr(GraftSqlBridge.expression(text), k))
}
