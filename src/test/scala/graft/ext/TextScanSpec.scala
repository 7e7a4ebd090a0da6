package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the fused `text_scan` byte loop (functions/TextScanExpr.scala) against the
 * exact Column-algebra formulas it replaced in `text_quality` / `text_quality_model`
 * (r19, VERDICT r18 #5): tokens = `filter(split(trim(text), "\\s+"), _ != "")`,
 * stopwords = the six fixed words, punct = code points outside `[a-z0-9\s]`,
 * digits = `[0-9]`. Three pins:
 *  1. a 2000-case property sweep vs a JVM-regex reference over strings drawn from a
 *     hostile alphabet (all six `\s` chars, digits, letters, punctuation, multi-byte
 *     code points incl. a supplementary-plane emoji, stopwords at boundaries);
 *  2. the expression's stopword list is byte-for-byte `TextOps.stopwords` (the two
 *     definitions cannot drift);
 *  3. the Spark plans of the old and new forms agree row-for-row on a corpus slice.
 */
class TextScanSpec extends AnyFunSuite {
  import graft.functions.TextScan

  private val ws = "\t\n\f\r "
  private def refCounts(text: String): (Long, Long, Long, Long) = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val nToks = toks.length.toLong
    val stopCnt = toks.count(TextOps.stopwords.contains).toLong
    val punctCnt = text.replaceAll("[a-z0-9\\s]", "").codePointCount(0,
      text.replaceAll("[a-z0-9\\s]", "").length).toLong
    val digitCnt = text.replaceAll("[^0-9]", "").length.toLong
    (nToks, stopCnt, punctCnt, digitCnt)
  }

  private def evalScan(text: String): (Long, Long, Long, Long) = {
    val row = TextScan(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(text),
      org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  test("property sweep: text_scan == the regex reference on a hostile alphabet") {
    val alphabet: Array[String] =
      (ws.map(_.toString) ++ "abcxyz019".map(_.toString) ++
        Seq(".", ",", "!", "_", "é", "ß", "世", "界", new String(Character.toChars(0x1F600))) ++
        TextOps.stopwords).toArray
    val rnd = new scala.util.Random(19191919L)
    val cases = Seq("", " ", "a", "the", "the the", " the ", "a\tof\nin", "x1y2",
      "é世😀", "no stop words here?!", ws, "0123456789") ++
      (1 to 2000).map(_ => (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    cases.foreach { t =>
      assert(evalScan(t) === refCounts(t), s"diverged on ${t.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("the expression's stopword list IS TextOps.stopwords") {
    assert(TextScan.Stopwords === TextOps.stopwords)
  }

  test("property sweep: text_bpe_count == size(regexp_extract_all) on the hostile alphabet") {
    import graft.functions.TextBpeCount
    val re = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")
    def refBpe(text: String): Long = {
      val m = re.matcher(text); var c = 0L; while (m.find()) c += 1; c
    }
    def evalBpe(text: String): Long =
      TextBpeCount(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text),
        org.apache.spark.sql.types.StringType)).eval(null).asInstanceOf[Long]
    val alphabet: Array[String] =
      (ws.map(_.toString) ++ "abcxyz019".map(_.toString) ++
        Seq(".", ",", "!", "_", "é", "ß", "世", new String(Character.toChars(0x1F600)))).toArray
    val rnd = new scala.util.Random(20202020L)
    val cases = Seq("", " ", "a1b2", "abc 123", "a.b,c", "..!!", "1 2 3", "é世😀x9",
      ws, "run0n9letters") ++
      (1 to 2000).map(_ => (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    cases.foreach { t =>
      assert(evalBpe(t) === refBpe(t), s"diverged on ${t.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("text_langid_scan: marker table pinned and fused scores equal the filter-lambda form") {
    import graft.functions.TextLangIdScan
    // the expression's en/de/fr/es triples, flattened in score order, ARE TextOps'
    // canonical marker list (the funnel's "language identified" signal) — no drift
    assert(TextLangIdScan.Markers.flatten === TextOps.langMarkers)
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.Registrations.ensure(s)
    val docs = graft.engine.Tables(s, "/root/testdata/sf0.001", "documents").limit(400)
    val toks = TextOps.tokens($"text")
    def score(words: Seq[String]) =
      size(filter(toks, t => words.map(t === _).reduce(_ || _))).cast("long")
    val old = docs.select($"doc_id",
      score(Seq("the", "and", "of")).as("en_score"),
      score(Seq("der", "und", "die")).as("de_score"),
      score(Seq("le", "et", "la")).as("fr_score"),
      score(Seq("el", "y", "los")).as("es_score"))
    val fused = docs.select($"doc_id", call_function("text_langid_scan", $"text").as("sc"))
      .select($"doc_id", $"sc.en_score".as("en_score"), $"sc.de_score".as("de_score"),
        $"sc.fr_score".as("fr_score"), $"sc.es_score".as("es_score"))
    assert(old.exceptAll(fused).isEmpty && fused.exceptAll(old).isEmpty)
    // and on hostile inputs (markers at boundaries, multi-byte neighbours, all-ws)
    val hostile = Seq("", "the", " the ", "thé the und y los l e t", "le.et,la",
      "y y y", "the_fr und", "世 the 界 et", "losla el").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val h1 = hostile.select($"doc_id", score(Seq("the", "and", "of")).as("en"),
      score(Seq("der", "und", "die")).as("de"), score(Seq("le", "et", "la")).as("fr"),
      score(Seq("el", "y", "los")).as("es"))
    val h2 = hostile.select($"doc_id", call_function("text_langid_scan", $"text").as("sc"))
      .select($"doc_id", $"sc.en_score".as("en"), $"sc.de_score".as("de"),
        $"sc.fr_score".as("fr"), $"sc.es_score".as("es"))
    assert(h1.exceptAll(h2).isEmpty && h2.exceptAll(h1).isEmpty)
  }

  test("text_tri_rep equals the exploded md5-hash-grouped Column form, incl. <3-token nulls") {
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.Registrations.ensure(s)
    // real corpus slice PLUS hostile rows: <3 tokens (must be NULL/absent), exact
    // repeats, all-same-token (max repetition), multi-byte tokens, separators
    val hostile = Seq("", "a", "a b", "a b c", "a b a b a b a b", "x x x x x",
      "é世 é世 é世 wow", "one two three two three four").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id() + 1000000L)
    val docs = graft.engine.Tables(s, "/root/testdata/sf0.001", "documents")
      .limit(300).select($"doc_id", $"text").unionByName(hostile.select($"doc_id", $"text"))
    val toksC = $"toks"
    val tris = slice(
      transform(toksC, (t, i) =>
        concat_ws(" ", t, try_element_at(toksC, i + lit(2)), try_element_at(toksC, i + lit(3)))),
      lit(1), greatest(size(toksC) - 2, lit(0)))
    val old = docs.select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", explode(tris).as("tri"))
      .groupBy($"doc_id", TextOps.hash32($"tri").as("h")).agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id").agg(max($"cnt").as("max_cnt"), sum($"cnt").as("tri_cnt"))
      .select($"doc_id", $"tri_cnt", $"max_cnt")
    val fused = docs.select($"doc_id", call_function("text_tri_rep", $"text").as("sc"))
      .filter($"sc".isNotNull)
      .select($"doc_id", $"sc.tri_cnt".as("tri_cnt"), $"sc.max_cnt".as("max_cnt"))
    assert(old.exceptAll(fused).isEmpty && fused.exceptAll(old).isEmpty)
    assert(fused.count() === old.count())
  }

  test("old Column form and fused form agree row-for-row on the sf0.001 corpus") {
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.Registrations.ensure(s)
    val docs = graft.engine.Tables(s, "/root/testdata/sf0.001", "documents").limit(400)
    val toks = TextOps.tokens($"text")
    val old = docs.select($"doc_id",
      size(toks).cast("long").as("n_toks"),
      size(filter(toks, t => TextOps.stopwords.map(t === _).reduce(_ || _)))
        .cast("long").as("stop_cnt"),
      length(regexp_replace($"text", "[a-z0-9\\s]", "")).cast("long").as("punct_cnt"),
      length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("digit_cnt"))
    val fused = docs.select($"doc_id", call_function("text_scan", $"text").as("sc"))
      .select($"doc_id", $"sc.n_toks".as("n_toks"), $"sc.stop_cnt".as("stop_cnt"),
        $"sc.punct_cnt".as("punct_cnt"), $"sc.digit_cnt".as("digit_cnt"))
    assert(old.exceptAll(fused).isEmpty && fused.exceptAll(old).isEmpty)
  }
}
