package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.RedoSqlParser

/**
 * A12 as a native Catalyst expression: `parse_redo(sql_redo)` returning
 * `struct<operation, owner, table, data map<string,string>, before map<string,string>, ok>`.
 *
 * [[graft.cdc.ParseRedo.parse]] plans it by name. Compared to a Scala UDF over
 * [[RedoSqlParser]], it skips the Catalyst<->Scala converters on both sides (the maps are
 * built directly as [[ArrayBasedMapData]]) and needs no nondeterminism workaround — it is
 * honest about determinism, foldable-safe, and null-propagating like any builtin.
 * Evaluation is CodegenFallback: the parse is a branchy tokenizer that would not benefit
 * from inline Java generation, and the fallback keeps the surrounding projection inside
 * whole-stage codegen. Registered as `parse_redo` and `parse_redo_noescape` in
 * [[Registrations.all]].
 */
case class ParseRedoExpr(child: Expression, unescape: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ParseRedoExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "parse_redo"

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Statement order preserved, duplicate columns last-wins (Map semantics), and SQL-NULL
    * values kept as EXPLICIT null map entries — the reference envelope carries null struct
    * fields (Utils:392,397,405), and a consumer applying an `UPDATE SET col = NULL` must be
    * able to distinguish "column nulled" from "column untouched". */
  private def mapData(kvs: Seq[(String, Option[String])]): ArrayBasedMapData = {
    val dedup = mutable.LinkedHashMap.empty[String, Option[String]]
    kvs.foreach { case (k, v) => dedup(k) = v }
    new ArrayBasedMapData(
      new GenericArrayData(dedup.keysIterator.map(k => utf8(k): Any).toArray),
      new GenericArrayData(dedup.valuesIterator.map(v => v.map(utf8).orNull: Any).toArray))
  }

  override def eval(input: InternalRow): Any = {
    val raw = child.eval(input)
    val parsed = if (raw == null) None else RedoSqlParser.parseOpt(raw.toString, unescape)
    parsed match {
      case Some(p) =>
        InternalRow(utf8(p.operation), utf8(p.owner), utf8(p.table),
          mapData(p.data), mapData(p.before), true)
      case None =>
        InternalRow(utf8(""), utf8(""), utf8(""), mapData(Nil), mapData(Nil), false)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ParseRedoExpr =
    copy(child = newChild)
}

object ParseRedoExpr {
  val schema: StructType = StructType(Seq(
    StructField("operation", StringType, nullable = false),
    StructField("owner", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("data", MapType(StringType, StringType, valueContainsNull = true), nullable = false),
    StructField("before", MapType(StringType, StringType, valueContainsNull = true), nullable = false),
    StructField("ok", BooleanType, nullable = false)))
}
