package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `winnow_select(text)` — the winnowing document-fingerprint selection
 * (Schleimer–Wilkerson–Aiken, "Winnowing: Local Algorithms for Document
 * Fingerprinting", SIGMOD'03) as a NATIVE Catalyst expression: per document, hash
 * every k-char gram with a Karp–Rabin base-B polynomial mod M, slide a w-window over
 * the hash sequence, select each window's minimum with the RIGHTMOST-position tie
 * rule, and return the distinct `(pos, fp)` selections as `array<struct<pos, fp>>`.
 *
 * Why a native expression (the option-(b) ladder): the Column-algebra forms all hit a
 * measured wall —
 *  - per-gram `substr` re-scans the UTF-8 prefix: O(len²)/doc, 12 s at sf0.1;
 *  - an aliased gram array referenced inside the window lambda is inlined by
 *    projection collapse and re-evaluated per element: 300 s timeout at sf0.01;
 *  - exploding grams to rows and windowing with a `rowsBetween` frame is linear but
 *    shuffles every GRAM: 452M rows / 83 GB of window-sort spill at sf10;
 *  - nested let-bound higher-order functions avoid all of the above but evaluate
 *    INTERPRETED per window (slice + struct array_min allocations): ~6× slower than
 *    the exploded form at sf0.1.
 * Here the whole kernel is one tight JVM loop per document — O(len·k) hashing plus an
 * O(len) monotonic-deque sliding minimum — with no shuffle, no per-window allocation,
 * and no lambda dispatch. `CodegenFallback` (not `doGenCode`) is the right tier: the
 * expression runs ONCE per row and does all its work inside that call, so there is no
 * per-element interpretation overhead for codegen to remove (unlike `vec_dot`, which
 * sits in a per-join-pair hot loop).
 *
 * Semantics are BIT-IDENTICAL to the oracle SQL (TextOps.winnowSelectSql) the
 * sf0.01/sf0.1 gates replay in DuckDB: characters are Unicode CODE POINTS (`split(text,
 * '')` / `ascii` parity in both engines), documents shorter than k select nothing,
 * documents with fewer than w gram hashes winnow over the single window of whatever
 * exists, and the deque's pop-on->= makes the rightmost minimal position survive ties
 * exactly like `row_number() OVER (ORDER BY hv ASC, i DESC)`.
 */
case class WinnowSelect(child: Expression)
    extends UnaryExpression with StringArgument with CodegenFallback {
  import WinnowSelect._

  override def dataType: DataType = OutType
  override def prettyName: String = "winnow_select"

  protected override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length
    val nh = n - (K - 1)
    if (nh <= 0) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      var acc = 0L
      var t = 0
      while (t < K) { acc = (acc * B + cps(i + t)) % M; t += 1 }
      hs(i) = acc
      i += 1
    }
    val w = math.min(W, nh)
    // monotonic deque of candidate positions: back-pop on >= so that among equal
    // minima the RIGHTMOST (newest) position survives — the winnowing tie rule
    val deque = new Array[Int](nh)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < nh) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      val j = i - w + 1 // window start; emit once the first full window closes
      if (j >= 0) {
        while (deque(head) < j) head += 1
        val sel = deque(head)
        // packed distinct key: hash < 2^30 by the modulus, position < 2^32 always
        if (seen.add(hs(sel) << 32 | sel.toLong)) out += InternalRow(sel.toLong, hs(sel))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  /** Gram length k, window width w, and the Karp–Rabin base/modulus — the CANONICAL
    * winnowing constants; `graft.ext.TextOps` aliases these for its oracle SQL. */
  val K = 6
  val W = 4
  val B = 256L
  val M = 1000000007L

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
}
