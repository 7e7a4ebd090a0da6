package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `text_scan(text)` — the fused surface-feature scan behind the curation quality
 * queries: ONE pass over the document's UTF-8 bytes computing every count the linear
 * scorer and the boolean gates need, returned as
 * `struct<n_toks, stop_cnt, punct_cnt, digit_cnt>`.
 *
 * Why a native expression (the WinnowSelect lesson applied to a pure map-side scan): the
 * Column-algebra form of `text_quality_model` was the most expensive registered query
 * at sf100 (376.8 s) and PURE map-side — per document it paid
 *  - `split(trim(text), "\\s+")` + a filter lambda: a regex pass that ALLOCATES one
 *    String per token plus the array;
 *  - `size(filter(toks, 6-way equality))`: six UTF8String comparisons per token over
 *    that array;
 *  - `length(regexp_replace(text, "[a-z0-9\\s]", ""))`: a full regex pass that builds
 *    a stripped COPY of the document just to count its length;
 *  - `length(regexp_replace(text, "[^0-9]", ""))`: a second such pass and copy.
 * Here all four counts come out of one allocation-free byte loop. `CodegenFallback`
 * (not `doGenCode`) is the right tier, as with `winnow_select`: the expression runs
 * once per row and does all its work inside that call.
 *
 * Semantics are BIT-IDENTICAL to the Column form (and the DuckDB oracle SQL, which
 * still computes the regex way — the 179-query hash gate is the proof):
 *  - tokens are maximal runs of non-whitespace CODE POINTS, whitespace being Java
 *    regex `\s` = the six ASCII chars `[ \t\n\x0B\f\r]` — exactly what
 *    `filter(split(trim(text), "\\s+"), _ =!= "")` yields (trim only strips spaces;
 *    the empty-token filter makes leading/trailing/multiple separators equivalent);
 *  - `stop_cnt` counts tokens byte-equal to one of the six fixed stopwords
 *    (the/a/of/and/to/in — all ASCII, so byte equality IS string equality);
 *  - `punct_cnt` counts code points outside `[a-z0-9\s]`: non-ASCII code points are
 *    never lowercase-ASCII/digit/`\s`, so each LEADER byte (not `10xxxxxx`) above
 *    0x7F counts exactly one, matching `length()`'s code-point count of the
 *    regex-stripped copy;
 *  - `digit_cnt` counts `[0-9]` code points.
 */
case class TextScan(child: Expression)
    extends UnaryExpression with StringArgument with CodegenFallback {
  import TextScan._

  override def dataType: DataType = OutType
  override def prettyName: String = "text_scan"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var nToks = 0L
    var stopCnt = 0L
    var punctCnt = 0L
    var digitCnt = 0L
    var tokStart = -1 // byte index of the current token's first byte, -1 outside tokens
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { // ASCII
        val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
        if (ws) {
          if (tokStart >= 0) {
            nToks += 1
            if (isStopword(s, tokStart, i - tokStart)) stopCnt += 1
            tokStart = -1
          }
        } else {
          if (b >= '0' && b <= '9') digitCnt += 1
          else if (b < 'a' || b > 'z') punctCnt += 1
          if (tokStart < 0) tokStart = i
        }
      } else { // non-ASCII: every leader byte is one code point, never \s/digit/[a-z]
        if ((b & 0xC0) != 0x80) punctCnt += 1
        if (tokStart < 0) tokStart = i
      }
      i += 1
    }
    if (tokStart >= 0) {
      nToks += 1
      if (isStopword(s, tokStart, n - tokStart)) stopCnt += 1
    }
    InternalRow(nToks, stopCnt, punctCnt, digitCnt)
  }

  override protected def withNewChildInternal(newChild: Expression): TextScan =
    copy(child = newChild)
}

/**
 * `text_bpe_count(text)` — the BPE-pretokenizer token count
 * `size(regexp_extract_all(text, "[a-z]+|[0-9]+|[^a-z0-9\s]"))` as one pass over the
 * UTF-8 bytes (the same fusion as [[TextScan]]: at sf100 the regex form was a
 * 69.4 s pure map stage). Match semantics of the Java alternation, replicated
 * exactly: at each scan position the matcher takes a GREEDY maximal `[a-z]+` run, else
 * a maximal `[0-9]+` run, else — if the code point is not `\s` — one single-code-point
 * symbol match; whitespace advances without matching. So the count is
 * (#maximal letter runs) + (#maximal digit runs) + (#other non-whitespace code
 * points), which one previous-class state machine computes per byte; non-ASCII
 * leader bytes are symbol code points (never `[a-z]`/`[0-9]`/`\s`), continuation
 * bytes count nothing. The DuckDB oracle still runs the regex — the hash gate is
 * the value-identity proof; TextScanSpec property-sweeps this against the JVM
 * regex on the hostile alphabet.
 */
case class TextBpeCount(child: Expression)
    extends UnaryExpression with StringArgument with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "text_bpe_count"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var cnt = 0L
    // previous byte's class for run folding: 0 = none/ws/symbol, 1 = letter, 2 = digit
    var prev = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) {
        if (b >= 'a' && b <= 'z') { if (prev != 1) cnt += 1; prev = 1 }
        else if (b >= '0' && b <= '9') { if (prev != 2) cnt += 1; prev = 2 }
        else if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r')
          prev = 0
        else { cnt += 1; prev = 0 } // single-symbol match
      } else {
        if ((b & 0xC0) != 0x80) cnt += 1 // one symbol per non-ASCII code point
        prev = 0
      }
      i += 1
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): TextBpeCount =
    copy(child = newChild)
}

/**
 * `text_langid_scan(text)` — the four language-marker vote counts of `text_langid`
 * (`size(filter(tokens(text), t => words.map(t === _).reduce(_ || _)))` per language)
 * as one pass over the UTF-8 bytes, returned as
 * `struct<en_score, de_score, fr_score, es_score>` (the filter-lambda form was a
 * 17.9 s map stage at sf100 — four token-array traversals per doc on top of the
 * split). Tokenization is [[TextScan]]'s: maximal non-`\s` code-point runs. Marker
 * sets are the fixed en/de/fr/es triples (all ASCII, byte equality) — the canonical
 * list lives here as [[TextLangIdScan.Markers]] and the spec pins it against
 * TextOps' own langMarkers.
 */
case class TextLangIdScan(child: Expression)
    extends UnaryExpression with StringArgument with CodegenFallback {
  import TextLangIdScan._

  override def dataType: DataType = OutType
  override def prettyName: String = "text_langid_scan"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    val scores = new Array[Long](4)
    var tokStart = -1
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val ws = b >= 0 &&
        (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r')
      if (ws) {
        if (tokStart >= 0) { vote(s, tokStart, i - tokStart, scores); tokStart = -1 }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    if (tokStart >= 0) vote(s, tokStart, n - tokStart, scores)
    InternalRow(scores(0), scores(1), scores(2), scores(3))
  }

  override protected def withNewChildInternal(newChild: Expression): TextLangIdScan =
    copy(child = newChild)
}

object TextLangIdScan {
  val OutType: DataType = StructType(Seq(
    StructField("en_score", LongType, nullable = false),
    StructField("de_score", LongType, nullable = false),
    StructField("fr_score", LongType, nullable = false),
    StructField("es_score", LongType, nullable = false)))

  /** The four marker triples, in en/de/fr/es score order — pinned against
    * `TextOps`' lists by TextScanSpec. */
  val Markers: Seq[Seq[String]] = Seq(
    Seq("the", "and", "of"), Seq("der", "und", "die"),
    Seq("le", "et", "la"), Seq("el", "y", "los"))

  /** Adds this token's marker votes (a token can only match one language's set —
    * the twelve markers are distinct words). ASCII-only words: byte equality. */
  private def vote(s: UTF8String, off: Int, len: Int, scores: Array[Long]): Unit = {
    (len: @annotation.switch) match {
      case 1 =>
        if (s.getByte(off) == 'y') scores(3) += 1
      case 2 =>
        val b0 = s.getByte(off); val b1 = s.getByte(off + 1)
        if (b0 == 'o' && b1 == 'f') scores(0) += 1
        else if (b0 == 'l' && b1 == 'e') scores(2) += 1
        else if (b0 == 'e' && b1 == 't') scores(2) += 1
        else if (b0 == 'l' && b1 == 'a') scores(2) += 1
        else if (b0 == 'e' && b1 == 'l') scores(3) += 1
      case 3 =>
        val b0 = s.getByte(off); val b1 = s.getByte(off + 1); val b2 = s.getByte(off + 2)
        if ((b0 == 't' && b1 == 'h' && b2 == 'e') ||
            (b0 == 'a' && b1 == 'n' && b2 == 'd')) scores(0) += 1
        else if ((b0 == 'd' && b1 == 'e' && b2 == 'r') ||
            (b0 == 'u' && b1 == 'n' && b2 == 'd') ||
            (b0 == 'd' && b1 == 'i' && b2 == 'e')) scores(1) += 1
        else if (b0 == 'l' && b1 == 'o' && b2 == 's') scores(3) += 1
      case _ => ()
    }
  }
}

/**
 * `text_tri_rep(text)` — `text_repetition`'s per-document trigram-repetition counts
 * as one pass per document: `struct<tri_cnt, max_cnt>` where `tri_cnt` is the number
 * of (non-distinct) token trigrams and `max_cnt` the largest per-document count after
 * grouping trigrams by the 32-bit md5-prefix hash — NULL when the document has fewer
 * than 3 tokens (such documents produce no exploded rows in the Column form and are
 * absent from the output; callers filter nulls).
 *
 * Why: the Column form exploded ~85 trigram rows per document (~450M at sf100),
 * computed `conv(substr(md5(tri),1,8),16,10)` per OCCURRENCE, and shuffled every row
 * for a (doc_id, h) groupBy — 73.3 s and 10 GB of window/agg spill at sf100 for an
 * aggregation that never leaves the document. Here the trigram hash counts fold in a
 * small per-doc map (the grouping is BY HASH, exactly the oracle's semantics — two
 * distinct trigrams whose 32-bit prefixes collide merge in both engines), the md5
 * runs over the token spans without building trigram strings, and the only shuffle
 * left in the query is the final presentation sort.
 */
case class TextTriRep(child: Expression)
    extends UnaryExpression with StringArgument with CodegenFallback {
  import TextTriRep._

  override def dataType: DataType = OutType
  override def nullable: Boolean = true
  override def prettyName: String = "text_tri_rep"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    // token spans: maximal runs of non-\s bytes (TextScan's tokenization)
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    val n = bytes.length
    var inTok = false
    while (i < n) {
      val b = bytes(i)
      val ws = b >= 0 &&
        (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r')
      if (ws) { if (inTok) { ends += i; inTok = false } }
      else if (!inTok) { starts += i; inTok = true }
      i += 1
    }
    if (inTok) ends += n
    val nt = starts.length
    if (nt < 3) return null
    val md = digest.get()
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var maxCnt = 0L
    var t = 0
    while (t + 2 < nt) {
      md.reset()
      md.update(bytes, starts(t), ends(t) - starts(t)); md.update(' '.toByte)
      md.update(bytes, starts(t + 1), ends(t + 1) - starts(t + 1)); md.update(' '.toByte)
      md.update(bytes, starts(t + 2), ends(t + 2) - starts(t + 2))
      val d = md.digest()
      // first 8 hex chars of the md5 = the first 4 bytes, big-endian, unsigned —
      // exactly conv(substr(md5(tri),1,8),16,10)
      val h: java.lang.Long = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val c = counts.merge(h, 1L, (a, b2) => a + b2)
      if (c > maxCnt) maxCnt = c
      t += 1
    }
    InternalRow((nt - 2).toLong, maxCnt)
  }

  override protected def withNewChildInternal(newChild: Expression): TextTriRep =
    copy(child = newChild)
}

object TextTriRep {
  val OutType: DataType = StructType(Seq(
    StructField("tri_cnt", LongType, nullable = false),
    StructField("max_cnt", LongType, nullable = false)))

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

object TextScan {
  val OutType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("stop_cnt", LongType, nullable = false),
    StructField("punct_cnt", LongType, nullable = false),
    StructField("digit_cnt", LongType, nullable = false)))

  /** The fixed curation stopword set (mirrors `TextOps.stopwords` — the specs pin the
    * two lists against each other so they cannot drift). All ASCII, lengths 1–3. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Byte-equality stopword test on the token's byte span (ASCII-only words, so byte
    * equality is string equality; a multi-byte-prefixed token can never match because
    * its leader byte is negative). */
  private def isStopword(s: UTF8String, off: Int, len: Int): Boolean = (len: @annotation.switch) match {
    case 1 => s.getByte(off) == 'a'
    case 2 =>
      val b0 = s.getByte(off); val b1 = s.getByte(off + 1)
      (b0 == 'o' && b1 == 'f') || (b0 == 't' && b1 == 'o') || (b0 == 'i' && b1 == 'n')
    case 3 =>
      val b0 = s.getByte(off); val b1 = s.getByte(off + 1); val b2 = s.getByte(off + 2)
      (b0 == 't' && b1 == 'h' && b2 == 'e') || (b0 == 'a' && b1 == 'n' && b2 == 'd')
    case _ => false
  }
}
