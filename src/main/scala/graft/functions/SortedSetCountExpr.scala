package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * `sorted_set_count(array<long>)` — membership count of an array's elements against a
 * LARGE static long set that rides a TORRENT BROADCAST, not the query plan: the sorted
 * index array is shipped to executors once as an immutable broadcast block and probed
 * per row by binary search.
 *
 * This is what lets the streaming winnow admission gate scale: funneling the
 * rare-fingerprint set into ONE `collect_list` row and probing it with `array_intersect`
 * caps the index at whatever a single UnsafeRow array can hold (a 10M-entry guard) — on
 * a high-entropy corpus where most fingerprints are rare, such a gate has to refuse. A
 * broadcast VARIABLE has none of that row-shape ceiling: 200M longs is a 1.6 GB
 * primitive array, distributed once, shared by every micro-batch without per-batch
 * re-planning or re-serialization cost (a plan-embedded array literal would pay both
 * on every micro-batch). The probe stays IN-ROW — a projection, no join, no shuffle,
 * no state store — so the admission plan remains provably stateless
 * (WinnowAdmitStateSpec asserts zero state operators from the progress metrics).
 *
 * Count semantics: the number of array elements present in the set. Callers that need
 * DISTINCT-match counts (the admission gate's `n_rare_matched`) apply `array_distinct`
 * upstream — kept out of the kernel so the expression composes. Null elements never
 * match; a null array yields null (UnaryExpression's default null propagation).
 *
 * Because the broadcast handle is a constructor field, the expression cannot be built from
 * SQL text; [[SortedSetCount.columnFor]] registers a one-off builder closure over the
 * handle in the session registry (built by [[Registrations.entry]], so it shares the arity
 * check of the fixed-name functions) under a unique name and returns the `call_function`
 * column. `CodegenFallback` is the right tier for the same reason as `winnow_select`: one
 * call per row does all the work (k·log n probes), there is no per-element interpretation
 * for codegen to remove.
 */
case class SortedSetCount(child: Expression, index: Broadcast[Array[Long]])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_set_count"

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val set = index.value
    var n = 0L
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (!arr.isNullAt(i) && java.util.Arrays.binarySearch(set, arr.getLong(i)) >= 0)
        n += 1L
      i += 1
    }
    n
  }

  override protected def withNewChildInternal(newChild: Expression): SortedSetCount =
    copy(child = newChild)
}

object SortedSetCount {
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** A Column probing `fps` (array<long>) against the broadcast sorted index. Registers
    * a builder closure over the broadcast under a process-unique function name (the
    * handle cannot travel through SQL text); [[dropFor]] removes the entry once the
    * consuming query is done, so long-lived sessions don't accumulate registrations. */
  def columnFor(spark: org.apache.spark.sql.SparkSession,
                index: Broadcast[Array[Long]], fps: Column): (Column, String) = {
    val name = s"graft_sorted_set_count_${counter.incrementAndGet()}"
    val (ident, info, builder) =
      Registrations.entry(name, classOf[SortedSetCount], 1)(c => SortedSetCount(c.head, index))
    Registrations.registry(spark).registerFunction(ident, info, builder)
    (call_function(name, fps), name)
  }

  /** Deregister a [[columnFor]] entry (idempotent). */
  def dropFor(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    Registrations.registry(spark).dropFunction(new FunctionIdentifier(name))
}
