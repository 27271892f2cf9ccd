package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native ODIM object-key parse: one walk over a key such as
  * `baltrad/hdf5/bejab/2022/11/11/bejab_vp_20221111T233000Z_0x9.h5` gives
  * every part the inventory and the path algebra read
  * ([[OdimKeyExpr.Schema]]), where the declarative form needs three
  * `split`s and one `regexp_extract` per name part, each a `.*`-prefixed
  * backtracking match.
  *
  * `source` and `file_type` are elements 1 and 2 of `split(key, "/")`
  * (`file_type` is null for a key without `/`, as `try_element_at` gives).
  * The name parts keep `regexp_extract(key, OdimPaths.FileNameRegex, i)`'s
  * semantics, radar lower-cased: the regex's leading greedy `.*` makes
  * `find()` return the last name position in the first line that holds a
  * match, where a match is a name followed, on the same line, by `.h5`;
  * `.` does not cross the line terminators `\n`, `\r`, U+0085, U+2028 and
  * U+2029; `\d` and `[a-zA-Z]` are ASCII; no match gives `""` for every
  * name part. The key is read as UTF-8 bytes: every byte the pattern
  * matches is ASCII, and no byte of a multi-byte character is.
  */
case class OdimKeyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = OdimKeyExpr.Schema
  override def prettyName: String = "odim_key"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.catalogString}")
  }

  def compute(key: UTF8String): InternalRow = OdimKeyExpr.parse(key)

  override def nullSafeEval(key: Any): Any = compute(key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("odimKey", this, classOf[OdimKeyExpr].getName)
    nullSafeCodeGen(ctx, ev, k => s"${ev.value} = $ref.compute($k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OdimKeyExpr {
  import org.apache.spark.sql.GraftSqlBridge

  /** Field order of the result; `file_type` is the only nullable one. */
  val Schema: StructType = StructType(
    Seq("source", "file_type", "radar", "data_type", "yyyy", "mm", "dd", "hour", "minute")
      .map(n => StructField(n, StringType, nullable = n == "file_type")))

  /** Column API: the parsed parts of an object key, as a struct. */
  def odimKey(key: Column): Column =
    GraftSqlBridge.column(OdimKeyExpr(GraftSqlBridge.expression(key)))

  // shortest name: 5 letters, `_`, empty type, `_`, 8 digits, no `T`, 4 digits
  private val MinNameBytes = 19

  def parse(key: UTF8String): InternalRow = {
    val b = key.getBytes
    val row = new GenericInternalRow(Schema.length)
    val slash = indexOf(b, '/', 0)
    if (slash < 0) {
      row.update(0, key)
      row.setNullAt(1)
    } else {
      val slash2 = indexOf(b, '/', slash + 1)
      row.update(0, UTF8String.fromBytes(b, 0, slash))
      row.update(1, UTF8String.fromBytes(b, slash + 1,
        (if (slash2 < 0) b.length else slash2) - slash - 1))
    }
    val p = namePosition(b)
    if (p < 0) {
      var i = 2
      while (i < Schema.length) { row.update(i, UTF8String.EMPTY_UTF8); i += 1 }
    } else {
      val q = typeEnd(b, p, b.length)
      val r = if (b(q + 9) == 'T') q + 10 else q + 9
      val radar = java.util.Arrays.copyOfRange(b, p, p + 5)
      var i = 0
      while (i < 5) { if (radar(i) <= 'Z') radar(i) = (radar(i) + 32).toByte; i += 1 }
      row.update(2, UTF8String.fromBytes(radar))
      row.update(3, UTF8String.fromBytes(b, p + 6, q - p - 6))
      row.update(4, UTF8String.fromBytes(b, q + 1, 4))
      row.update(5, UTF8String.fromBytes(b, q + 5, 2))
      row.update(6, UTF8String.fromBytes(b, q + 7, 2))
      row.update(7, UTF8String.fromBytes(b, r, 2))
      row.update(8, UTF8String.fromBytes(b, r + 2, 2))
    }
    row
  }

  private def indexOf(b: Array[Byte], c: Char, from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != c) i += 1
    if (i < b.length) i else -1
  }

  /** Length of the line terminator at `i`, or 0. */
  private def terminator(b: Array[Byte], i: Int): Int = {
    val c = b(i) & 0xFF
    if (c == '\n' || c == '\r') 1
    else if (c == 0xC2 && i + 1 < b.length && (b(i + 1) & 0xFF) == 0x85) 2 // U+0085
    else if (c == 0xE2 && i + 2 < b.length && (b(i + 1) & 0xFF) == 0x80 &&
        ((b(i + 2) & 0xFF) == 0xA8 || (b(i + 2) & 0xFF) == 0xA9)) 3 // U+2028, U+2029
    else 0
  }

  /** Start of the radar code `find()` reports, or -1 for no match. */
  private def namePosition(b: Array[Byte]): Int = {
    var start = 0
    while (start <= b.length) {
      var end = start
      var term = 0
      while (end < b.length && { term = terminator(b, end); term == 0 }) end += 1
      // the last `.h5` of the line bounds every name that matches in it
      var h = end - 3
      while (h >= start && !(b(h) == '.' && b(h + 1) == 'h' && b(h + 2) == '5')) h -= 1
      var p = h - MinNameBytes
      while (p >= start) {
        if (typeEnd(b, p, h) >= 0) return p
        p -= 1
      }
      start = end + math.max(term, 1)
    }
    -1
  }

  private def isLetter(c: Byte): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  private def digits(b: Array[Byte], from: Int, n: Int): Boolean = {
    var i = from
    while (i < from + n) { if (!isDigit(b(i))) return false; i += 1 }
    true
  }

  /** When `[a-zA-Z]{5}_([a-z]*)_\d{8}T?\d{4}` matches at `p` and ends at or
    * before `limit`: the index of its second `_`; else -1. Each part
    * matches in one way only (the type run stops at `_`, and a `T` can
    * never be a digit), so no backtracking is needed.
    */
  private def typeEnd(b: Array[Byte], p: Int, limit: Int): Int = {
    if (p + MinNameBytes > limit) return -1
    var i = p
    while (i < p + 5) { if (!isLetter(b(i))) return -1; i += 1 }
    if (b(i) != '_') return -1
    i += 1
    while (i < limit && b(i) >= 'a' && b(i) <= 'z') i += 1
    val q = i
    if (q + 13 > limit || b(q) != '_' || !digits(b, q + 1, 8)) return -1
    val r = if (b(q + 9) == 'T') q + 10 else q + 9
    if (r + 4 > limit || !digits(b, r, 4)) -1 else q
  }
}
