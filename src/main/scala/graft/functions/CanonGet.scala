package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Typed lookup of ONE column in the engine's canonical row string
  * (`namevalue` pairs joined by `` — [[graft.streaming.DeltaEngine.canon]]),
  * as a native codegen'd expression.
  *
  * The previous spelling, `str_to_map(row, FS, KV)[name]`, builds an
  * ArrayBasedMapData PER ROW (split into per-pair strings, map builder
  * with duplicate-key checks, then one lookup) — allocation-heavy work
  * in the hottest path of every compiled incremental entry's
  * aggregate/presentation fold, repeated for each extracted column
  * because each getItem's map is only shared via codegen subexpression
  * elimination. This expression scans the row's UTF-8 bytes directly
  * (KV/FS are single bytes; names are identifiers, so byte comparison
  * is exact) and slices the value out of the existing buffer — no map,
  * no per-pair allocation.
  *
  * Semantics match `str_to_map(row)[name]` on canonical rows exactly:
  * first-match wins (canon rows never carry duplicate names), an
  * absent name is SQL NULL, an empty value is the empty string. */
case class CanonGet(child: Expression, name: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"canon_get expects STRING, got ${child.dataType}")

  @transient private lazy val nameUtf8 = UTF8String.fromString(name)

  override def nullSafeEval(input: Any): Any =
    CanonGet.get(input.asInstanceOf[UTF8String], nameUtf8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nameRef = ctx.addReferenceObj("canonName", nameUtf8,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.CanonGet.get($c, $nameRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CanonGet =
    copy(child = newChild)
  override def prettyName: String = s"canon_get[$name]"
}

object CanonGet {
  import graft.streaming.DeltaEngine
  require(DeltaEngine.KV < 0x80 && DeltaEngine.FS < 0x80,
    "the byte scan needs single-byte (ASCII) canon delimiters")
  private val KV: Byte = DeltaEngine.KV.toByte
  private val FS: Byte = DeltaEngine.FS.toByte

  /** First value stored under `name`, or null when absent. Pure byte
    * scan over the row's UTF-8 buffer (KV/FS are single bytes; a
    * multi-byte character can never alias them — UTF-8 continuation
    * bytes have the high bit set). */
  def get(row: UTF8String, name: UTF8String): UTF8String = {
    val KV = CanonGet.KV
    val FS = CanonGet.FS
    val r = row.getBytes
    val nm = name.getBytes
    val n = r.length
    var start = 0
    while (start < n) {
      var end = start
      while (end < n && r(end) != FS) end += 1
      var kv = start
      while (kv < end && r(kv) != KV) kv += 1
      if (kv < end && kv - start == nm.length) {
        var i = 0
        while (i < nm.length && r(start + i) == nm(i)) i += 1
        if (i == nm.length)
          return UTF8String.fromBytes(r, kv + 1, end - kv - 1)
      }
      start = end + 1
    }
    null
  }

  import org.apache.spark.sql.GraftBridge

  /** Column API: `canon_get($"row", "o_orderdate")`. */
  def canon_get(row: Column, name: String): Column =
    GraftBridge.toColumn(CanonGet(GraftBridge.toExpression(row), name))
}
