package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-key fold state of [[EnvelopeFold]]: the last event's (ord, op), the last
  * INSERT/DELETE boundary ord, and one winner per payload COLUMN — so the buffer is
  * bounded by the table's column count no matter how many events hit the key. Winners
  * strictly below the boundary are pruned eagerly on every boundary advance, keeping
  * both the in-memory buffer and the shuffled serialized form minimal. */
final class EnvelopeFoldBuffer {
  var hasLast = false
  var lcs, lscn, lseq = 0L
  var lastOp: Byte = 0 // EnvelopeFold.{OpIns,OpUpd,OpDel}, 0 = none
  var hasB = false
  var bcs, bscn, bseq = 0L
  // column -> winner; UTF8String keys/values are CLONED out of the scan's reused buffers
  val winners = new java.util.HashMap[UTF8String, EnvelopeFoldBuffer.Winner]()
}

object EnvelopeFoldBuffer {
  /** One column's latest value and the ord it was set at; `v` null = explicit SQL NULL. */
  final class Winner(var cs: Long, var scn: Long, var seq: Long, var v: UTF8String)
}

/**
 * `envelope_fold(commit_scn, scn, seq, operation, data)` — the CDC envelope MERGE fold
 * as a NATIVE Catalyst aggregate ([[TypedImperativeAggregate]]): per key, returns
 * `struct<deleted: boolean, m: map<string,string>, replaced: boolean>` — exactly the
 * `f` struct [[graft.cdc.EnvelopeApply.applyChanges]] consumes.
 *
 * The fold has a closed form — last op, last INSERT/DELETE boundary B, per-column last
 * value at-or-after B — so the aggregate keeps exactly that, imperatively, in a buffer
 * bounded by the COLUMN COUNT rather than the key's change history (a million-update hot
 * key stays small). The buffer serializes per entry, so map-side partial aggregation
 * ships at most one winner per (key, column), and the apply plan needs ONE exchange.
 *
 * Order-insensitive by construction: update/merge keep maxima under the total order
 * `(commit_scn, scn, seq)`, so no sort is needed and events may arrive in any order.
 * EnvelopeApplySpec's 300-history property test pins it against a sequential fold model.
 *
 * Semantics (reference Utils:389-415 null rules): winners come from INSERT/UPDATE
 * payload entries only; the boundary advances on INSERT/DELETE; an explicit null-valued
 * entry IS a winner (SET col = NULL); `deleted` = the key's last event was a DELETE;
 * `replaced` = a boundary exists.
 */
case class EnvelopeFold(
    csE: Expression, scnE: Expression, seqE: Expression, opE: Expression, dataE: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[EnvelopeFoldBuffer] {
  import EnvelopeFold._

  override def children: Seq[Expression] = Seq(csE, scnE, seqE, opE, dataE)
  override def nullable: Boolean = false
  override def dataType: DataType = ResultType
  override def prettyName: String = "envelope_fold"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(csE, scnE, seqE).forall(_.dataType == LongType) &&
      opE.dataType == StringType &&
      (dataE.dataType match {
        case MapType(StringType, StringType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires (bigint, bigint, bigint, " +
      "string, map<string,string>), got " + children.map(_.dataType.simpleString).mkString(", "))
  }

  override def createAggregationBuffer(): EnvelopeFoldBuffer = new EnvelopeFoldBuffer

  // (cs, scn, seq) lexicographic: the reference's commit-ordered emission key
  private def lt(acs: Long, ascn: Long, aseq: Long, bcs: Long, bscn: Long, bseq: Long): Boolean =
    acs < bcs || (acs == bcs && (ascn < bscn || (ascn == bscn && aseq < bseq)))

  override def update(b: EnvelopeFoldBuffer, input: InternalRow): EnvelopeFoldBuffer = {
    val csV = csE.eval(input); val scnV = scnE.eval(input); val seqV = seqE.eval(input)
    val opV = opE.eval(input).asInstanceOf[UTF8String]
    if (csV == null || scnV == null || seqV == null || opV == null) return b // defensive: not an ordered DML event
    val cs = csV.asInstanceOf[Long]; val scn = scnV.asInstanceOf[Long]; val seq = seqV.asInstanceOf[Long]
    val code: Byte =
      if (opV.equals(InsU)) OpIns else if (opV.equals(UpdU)) OpUpd
      else if (opV.equals(DelU)) OpDel else 0
    // a non-DML op (code 0) still counts as the key's LAST event — a trailing unknown op
    // is not-a-DELETE, so `deleted` must clear here too, matching the streaming apply's
    // overlay branch on envelopes that carry DDL rows (the default dmlTypes admits them).
    // It contributes no winners and no boundary.
    if (!b.hasLast || lt(b.lcs, b.lscn, b.lseq, cs, scn, seq)) {
      b.hasLast = true; b.lcs = cs; b.lscn = scn; b.lseq = seq; b.lastOp = code
    }
    if (code == 0) return b
    if (code == OpIns || code == OpDel) advanceBoundary(b, cs, scn, seq)
    if (code == OpIns || code == OpUpd) {
      val data = dataE.eval(input).asInstanceOf[MapData]
      if (data != null && (!b.hasB || !lt(cs, scn, seq, b.bcs, b.bscn, b.bseq))) {
        val ks = data.keyArray(); val vs = data.valueArray(); var i = 0
        while (i < data.numElements()) {
          val k = ks.getUTF8String(i)
          val w = b.winners.get(k)
          if (w == null) {
            val v = if (vs.isNullAt(i)) null else vs.getUTF8String(i).clone()
            b.winners.put(k.clone(), new EnvelopeFoldBuffer.Winner(cs, scn, seq, v))
          } else if (lt(w.cs, w.scn, w.seq, cs, scn, seq)) {
            w.cs = cs; w.scn = scn; w.seq = seq
            w.v = if (vs.isNullAt(i)) null else vs.getUTF8String(i).clone()
          }
          i += 1
        }
      }
    }
    b
  }

  private def advanceBoundary(b: EnvelopeFoldBuffer, cs: Long, scn: Long, seq: Long): Unit = {
    if (!b.hasB || lt(b.bcs, b.bscn, b.bseq, cs, scn, seq)) {
      b.hasB = true; b.bcs = cs; b.bscn = scn; b.bseq = seq
      // eager prune: a winner strictly below the boundary can never resurface (the
      // boundary only grows) — keeps the buffer and its serialized shuffle form minimal
      val it = b.winners.values().iterator()
      while (it.hasNext) {
        val w = it.next()
        if (lt(w.cs, w.scn, w.seq, cs, scn, seq)) it.remove()
      }
    }
  }

  override def merge(b: EnvelopeFoldBuffer, in: EnvelopeFoldBuffer): EnvelopeFoldBuffer = {
    if (in.hasLast && (!b.hasLast || lt(b.lcs, b.lscn, b.lseq, in.lcs, in.lscn, in.lseq))) {
      b.hasLast = true; b.lcs = in.lcs; b.lscn = in.lscn; b.lseq = in.lseq; b.lastOp = in.lastOp
    }
    if (in.hasB) advanceBoundary(b, in.bcs, in.bscn, in.bseq)
    val it = in.winners.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!b.hasB || !lt(e.getValue.cs, e.getValue.scn, e.getValue.seq, b.bcs, b.bscn, b.bseq)) {
        val w = b.winners.get(e.getKey)
        if (w == null) b.winners.put(e.getKey, e.getValue)
        else if (lt(w.cs, w.scn, w.seq, e.getValue.cs, e.getValue.scn, e.getValue.seq)) {
          w.cs = e.getValue.cs; w.scn = e.getValue.scn; w.seq = e.getValue.seq; w.v = e.getValue.v
        }
      }
    }
    b
  }

  override def eval(b: EnvelopeFoldBuffer): Any = {
    // survivors = winners at-or-after the boundary (update() and merge() prune below-B
    // entries opportunistically; this is the authoritative filter), key-sorted so the
    // emitted map is deterministic across partitionings
    val entries = new java.util.ArrayList[java.util.Map.Entry[UTF8String, EnvelopeFoldBuffer.Winner]]()
    val it = b.winners.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!b.hasB || !lt(e.getValue.cs, e.getValue.scn, e.getValue.seq, b.bcs, b.bscn, b.bseq))
        entries.add(e)
    }
    entries.sort((a, c) => a.getKey.compareTo(c.getKey))
    val n = entries.size()
    val keys = new Array[Any](n); val vals = new Array[Any](n)
    var i = 0
    while (i < n) { keys(i) = entries.get(i).getKey; vals(i) = entries.get(i).getValue.v; i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      b.hasLast && b.lastOp == OpDel,
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals)),
      b.hasB))
  }

  override def serialize(b: EnvelopeFoldBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(b.hasLast)
    if (b.hasLast) { out.writeLong(b.lcs); out.writeLong(b.lscn); out.writeLong(b.lseq); out.writeByte(b.lastOp) }
    out.writeBoolean(b.hasB)
    if (b.hasB) { out.writeLong(b.bcs); out.writeLong(b.bscn); out.writeLong(b.bseq) }
    out.writeInt(b.winners.size())
    val it = b.winners.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      out.writeInt(kb.length); out.write(kb)
      val w = e.getValue
      out.writeLong(w.cs); out.writeLong(w.scn); out.writeLong(w.seq)
      if (w.v == null) out.writeInt(-1)
      else { val vb = w.v.getBytes; out.writeInt(vb.length); out.write(vb) }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): EnvelopeFoldBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new EnvelopeFoldBuffer
    b.hasLast = in.readBoolean()
    if (b.hasLast) { b.lcs = in.readLong(); b.lscn = in.readLong(); b.lseq = in.readLong(); b.lastOp = in.readByte() }
    b.hasB = in.readBoolean()
    if (b.hasB) { b.bcs = in.readLong(); b.bscn = in.readLong(); b.bseq = in.readLong() }
    var n = in.readInt()
    while (n > 0) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      val cs = in.readLong(); val scn = in.readLong(); val seq = in.readLong()
      val vlen = in.readInt()
      val v = if (vlen < 0) null else { val vb = new Array[Byte](vlen); in.readFully(vb); UTF8String.fromBytes(vb) }
      b.winners.put(UTF8String.fromBytes(kb), new EnvelopeFoldBuffer.Winner(cs, scn, seq, v))
      n -= 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EnvelopeFold =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EnvelopeFold =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): EnvelopeFold =
    copy(csE = newChildren(0), scnE = newChildren(1), seqE = newChildren(2),
      opE = newChildren(3), dataE = newChildren(4))
}

object EnvelopeFold {
  private[functions] val OpIns: Byte = 1
  private[functions] val OpUpd: Byte = 2
  private[functions] val OpDel: Byte = 3
  private val InsU = UTF8String.fromString(graft.cdc.RedoEvent.Insert)
  private val UpdU = UTF8String.fromString(graft.cdc.RedoEvent.Update)
  private val DelU = UTF8String.fromString(graft.cdc.RedoEvent.Delete)

  val ResultType: StructType = StructType(Seq(
    StructField("deleted", BooleanType, nullable = false),
    StructField("m", MapType(StringType, StringType, valueContainsNull = true), nullable = false),
    StructField("replaced", BooleanType, nullable = false)))

  private def build(name: String)(children: Seq[Expression]): Expression = {
    if (children.size != 5)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name, "expectedNum" -> "5",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    EnvelopeFold(children(0), children(1), children(2), children(3), children(4))
  }

  private[graft] val registrations
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("envelope_fold"),
      new ExpressionInfo(classOf[EnvelopeFold].getName, "envelope_fold"),
      build("envelope_fold") _))

  /** Idempotent session-registry registration — same mechanism as
    * [[VecDot.ensureRegistered]]; callers pass the session that will ANALYZE the plan
    * (ADVICE r6: never rely on the thread-local active session). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    Registrations.ensure(spark, registrations)
}
