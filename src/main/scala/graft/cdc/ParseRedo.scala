package graft.cdc

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

import graft.functions.Registrations

/**
 * Spark surface of [[RedoSqlParser]] (A12): `parse(col)` plans the NATIVE Catalyst
 * expression [[graft.functions.ParseRedoExpr]] — `parse_redo(sql_redo)` — producing the
 * parsed struct `(operation, owner, table, data, before, ok)` with `data`/`before` as
 * `map<string,string>`, exactly the `parseSql` output shape of the reference
 * (OracleSourceConnectorUtils2.java:270-271,354-357).
 *
 * SQL-NULL column values are EXPLICIT null-valued map entries (valueContainsNull = true),
 * matching the reference's null struct fields (Utils:392,397,405): a consumer can
 * distinguish `SET col = NULL` (key present, value null) from "column untouched" (key
 * absent) — [[EnvelopeApply]] relies on exactly that distinction for its overlay/merge.
 *
 * Why an Expression and not a UDF: a deterministic struct-returning UDF gets inlined by
 * CollapseProject into every extracted field, re-running the whole parse per field; the
 * workaround (`asNondeterministic`) pins one evaluation but blinds Catalyst to pushdown.
 * The native expression needs neither — it is honest about determinism, skips the
 * Catalyst<->Scala converters, and evaluates once per row under CollapseProject's
 * `ExtractValue` handling.
 *
 * [[parse]] is one of the two lazy registration points of [[Registrations]] (the other is
 * `graft.SparkEntry.queries`): callers that plan the CDC chain directly, on a session
 * built without [[graft.functions.GraftExtensions]], still resolve the function. It
 * registers the whole list, so `envelope_fold` is there too for [[EnvelopeApply]] over
 * the parsed envelope.
 */
object ParseRedo {

  /** `parse(sql_redo)` as a column: struct(operation, owner, table, data, before, ok).
    * `unescape` maps the reference's map.unescaped.strings knob (Config:29). */
  def parse(sqlRedo: Column, unescape: Boolean = true): Column = {
    Registrations.ensure(SparkSession.active)
    call_function(if (unescape) "parse_redo" else "parse_redo_noescape", sqlRedo)
  }
}
