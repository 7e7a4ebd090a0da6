package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines, over the `documents`
 * table: tokenization/token counting, quality scoring (length/punctuation/stopword ratios),
 * n-gram-heuristic language ID, content fingerprinting, deterministic hash + stratified
 * corpus-mix sampling, and training sequence packing (per-shard token-budget packs).
 *
 * All are narrow, codegen'd Column expressions (no UDFs) — they scale linearly with the scan
 * and keep the parquet reader's column pruning (only `text`/`lang`/`n_chars` are read).
 *
 * Cross-engine notes: token split is `\s+` on trimmed text with empty tokens filtered, which
 * behaves identically in Spark `split` and DuckDB `string_split_regex`; the 32-bit content
 * hash is the first 8 hex chars of md5, identical in both engines.
 */
object TextOps {

  /** Tokens of `c`: split on whitespace, empties removed. */
  def tokens(c: Column): Column = filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Deterministic cross-engine 32-bit hash of a string column (md5-prefix as unsigned int). */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Winnowing parameters — aliases of the canonical constants on
    * [[graft.functions.WinnowSelect]] (gram length k, window width w, Karp–Rabin
    * base/modulus), kept here so the oracle-SQL builder and the specs share one
    * source of truth with the native expression. */
  private[ext] val WinnowK: Int = graft.functions.WinnowSelect.K
  private[ext] val WinnowW: Int = graft.functions.WinnowSelect.W
  private[ext] val WinnowB: Long = graft.functions.WinnowSelect.B
  private[ext] val WinnowM: Long = graft.functions.WinnowSelect.M

  /** (doc_id, pos, fp) winnowing fingerprints of a `(doc_id, text)` frame — the MOSS
    * fingerprinting kernel, evaluated by the native
    * [[graft.functions.WinnowSelect]] expression (one tight JVM rolling-hash +
    * monotonic-deque loop per document — see its scaladoc for the measured wall every
    * Column-algebra formulation hit). The selection happens entirely inside the scan
    * projection: no gram explosion, NO shuffle, distinct-per-document by
    * construction; only the selected ~2/(w+1) density of fingerprints ever becomes
    * rows. Callers aggregate or join the output and pay only their own exchanges. */
  private[ext] def winnowFingerprints(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.WinnowSelect.ensureRegistered(s) // analyze against THIS session
    docs.select(col("doc_id"), explode(call_function("winnow_select", col("text"))).as("_wn_s"))
      .select(col("doc_id"), col("_wn_s.pos").as("pos"), col("_wn_s.fp").as("fp"))
  }

  /** Broadcast-side cardinality ceiling for corpus-derived small sides (the
    * decontamination benchmark shingle set). ~10M short strings is well inside
    * the broadcast limit; a corpus pathological enough to exceed it must fail loudly
    * (see [[guardBroadcast]]) instead of OOMing the driver during broadcast build. */
  private[ext] val MaxBroadcastRows = 10000000L

  /** Guard a frame that is about to BROADCAST: raise a loud executor-side error if its
    * row count exceeds `max`, instead of letting a pathological corpus OOM the driver
    * (r6 verdict #7). Implemented as an unbounded-window count + conditional
    * `raise_error` over the key column, so the guard stays LAZY (builders return plans,
    * not actions) and the guarded frame evaluates exactly once; the single-partition
    * window costs nothing beyond what the broadcast build already pays — the same rows
    * already funnel to one place. */
  private[ext] def guardBroadcast(df: DataFrame, keyCol: String, max: Long,
                                  what: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.withColumn("_bg_n", count(lit(1)).over(w))
      .withColumn(keyCol,
        when(col("_bg_n") > max, raise_error(concat(
          lit(s"$what exceeds the $max-row broadcast bound ("),
          col("_bg_n").cast("string"),
          lit(" rows) — threshold or pre-aggregate the corpus instead of broadcasting"))))
          .otherwise(col(keyCol)))
      .drop("_bg_n")
  }

  private[ext] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Marker tokens of the four language heuristics — the "language identified" signal
    * shared by the funnel and the composed curation pipeline (and their oracles). */
  private[ext] val langMarkers =
    Seq("the", "and", "of", "der", "und", "die", "le", "et", "la", "el", "y", "los")
  private val langMarkerSql = langMarkers.map(w => s"x = '$w'").mkString(" OR ")

  /** Curation-quality thresholds, shared by text_quality, the funnel, the composed
    * pipeline AND their oracles — one definition so the gates cannot drift apart. */
  private val MinChars = 200L
  private val MinToks = 30
  private val DiversityBp = 3000
  private val PackBudget = 256
  /** Merge rules emitted per BPE pair-count round. */
  private val BpeTopPairs = 20
  // line-dedup segmentation: 4-token windows are this corpus's "lines" (the flat synthetic
  // text has no newlines); a segment seen 2+ times anywhere in the corpus is boilerplate
  private val LineDedupWindow = 4
  private val LineDedupMinRepeats = 2

  private def stopwordCount(toks: Column): Column =
    size(filter(toks, t => stopwords.map(w => t === w).reduce(_ || _)))

  /** Fixed weights of the [[text_quality_model]] linear scorer, in integer milli-logit
    * units so Spark and the oracle compute bit-identical scores. Signs encode the usual
    * curation priors: length and stopword density (naturalness) reward; symbol soup,
    * digit load, and word-shape distance from ~5.5 chars/word penalize. The threshold
    * (keep = logit >= 0) is folded into the bias. */
  private[ext] object QualityWeights {
    val bias = -3000L
    val wTok = 25L      // per token, capped at tokCap (diminishing returns past a page)
    val tokCap = 200
    val wStop = 2L      // per basis point of stopword density
    val wPunct = -40L   // per non-alphanumeric character
    val wDigit = -15L   // per digit character
    val wlenCenter = 550L // |avg word length - 5.5 chars| in centichars, weight -1
  }

  /** CORPUS-LEVEL LINE DEDUP — the CCNet/RefinedWeb boilerplate-removal step behind
    * `text_line_dedup_rel`. Documents segment into fixed [[LineDedupWindow]]-token
    * windows (this corpus's "lines" — the flat synthetic text has no newlines); any
    * segment whose exact text repeats [[LineDedupMinRepeats]]+ times ACROSS the corpus is
    * dropped everywhere, and survivors reassemble in document order (empty docs kept,
    * text='').
    *
    * ONE map-side-combined shuffle builds the segment spectrum. The boilerplate
    * membership test is a sort-merge anti-join on `seg`: both sides shuffle once on the
    * segment key (the boiler side is already combined down to distinct repeated
    * segments by its aggregate; AQE splits skewed probe partitions), so no side is
    * bounded by a broadcast and the plan survives any corpus size. The join hint pins
    * the shuffled plan against small-corpus auto-broadcast. The only other exchange is
    * the per-doc rebuild on the uniform doc_id key. */
  private[ext] def lineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = LineDedupWindow
    val toks = $"toks"
    val segsOf = transform(
      sequence(lit(0), floor((size(toks) - 1) / W).cast("int")),
      i => array_join(slice(toks, i * W + 1, lit(W)), " "))
    val segs = graft.engine.Tables(s, dir, "documents")
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id", posexplode(segsOf))
      .withColumnRenamed("col", "seg")
    val boiler0 = segs.groupBy($"seg").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= LineDedupMinRepeats).select($"seg")
    val pruned = segs.join(boiler0.hint("shuffle_merge"), Seq("seg"), "left_anti")
    val rebuilt = pruned
      .groupBy($"doc_id").agg(
        array_join(transform(array_sort(collect_list(struct($"pos", $"seg"))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("kept_segs"))
    graft.engine.Tables(s, dir, "documents")
      .select($"doc_id",
        (floor((size(tokens($"text")) - 1) / W).cast("long") + 1L).as("total_segs"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"clean_text", lit("")).as("clean_text"),
        coalesce($"kept_segs", lit(0L)).as("kept_segs"),
        ($"total_segs" - coalesce($"kept_segs", lit(0L))).as("dropped_segs"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting + length stats per language partition
    "text_stats" -> { (s, dir) =>
      import s.implicits._
      graft.engine.Tables(s, dir, "documents")
        .select($"lang", $"n_chars", size(tokens($"text")).as("tok_cnt"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("doc_cnt"),
          sum($"n_chars").as("sum_chars"),
          sum($"tok_cnt").cast("long").as("sum_tokens"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"))
        .orderBy($"lang")
    },
    // quality scoring: per-doc boolean flags aggregated to exact counts per language.
    // Flags come from the fused text_scan byte loop (r19 — see text_quality_model;
    // same single-pass replacement for split+filter+regexp_replace, oracle unchanged).
    "text_quality" -> { (s, dir) =>
      import s.implicits._
      graft.functions.TextScan.ensureRegistered(s)
      graft.engine.Tables(s, dir, "documents")
        .select($"lang", $"n_chars", call_function("text_scan", $"text").as("sc"))
        .select($"lang",
          ($"n_chars" >= MinChars).cast("int").as("long_enough"),
          ($"sc.n_toks" >= MinToks).cast("int").as("enough_tokens"),
          ($"sc.stop_cnt" * 10 >= $"sc.n_toks").cast("int").as("stopword_heavy"),
          ($"sc.punct_cnt" > 0).cast("int").as("has_punct"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("doc_cnt"),
          sum($"long_enough").cast("long").as("long_cnt"),
          sum($"enough_tokens").cast("long").as("token_rich_cnt"),
          sum($"stopword_heavy").cast("long").as("stopword_heavy_cnt"),
          sum($"has_punct").cast("long").as("punct_cnt"))
        .orderBy($"lang")
    },
    // LINEAR QUALITY MODEL — the fasttext-style document scorer every curation pipeline
    // runs after the boolean gates: a fixed-weight linear model over cheap surface
    // features (length, stopword density, symbol/digit load, word-shape), thresholded to
    // a keep/drop decision. Weights live in [[QualityWeights]] (one definition, shared
    // with the oracle); the score is INTEGER milli-logits — classifier semantics with
    // none of the float-drift that would break a cross-engine hash gate. The plan is a
    // single narrow projection over the scan (codegen'd Column algebra, no UDF, no
    // shuffle before the per-doc emit): at 100 TB this is a pure map stage that rides
    // the same pass as tokenization — the model upgrade path (real learned weights,
    // more features) keeps this exact plan shape.
    //
    // FUSED SCAN (r19, VERDICT r18 #5): the Column form paid two regexp_replace
    // passes (each allocating a stripped copy of the document) plus split+filter
    // tokenization per doc — the most expensive registered query at sf100 (376.8 s),
    // pure map-side CPU. All four counts now come out of ONE allocation-free byte
    // loop (functions/TextScanExpr.scala, the WinnowSelect pattern); the oracle SQL
    // still computes the regex way, so the hash gate proves value identity. The
    // struct lands in its own projection (CollapseProject keeps a non-cheap
    // multi-referenced producer separate), so the scan runs once per row.
    "text_quality_model" -> { (s, dir) =>
      import s.implicits._
      graft.functions.TextScan.ensureRegistered(s)
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars",
          call_function("text_scan", $"text").as("sc"))
        .select($"doc_id", $"n_chars",
          $"sc.n_toks".as("n_toks"),
          $"sc.stop_cnt".as("stop_cnt"),
          $"sc.punct_cnt".as("punct_cnt"),
          $"sc.digit_cnt".as("digit_cnt"))
        .select($"doc_id",
          expr("cast(stop_cnt as bigint) * 10000 div greatest(n_toks, 1)").as("stop_bp"),
          expr("cast(n_chars as bigint) * 100 div greatest(n_toks, 1)").as("wlen_c"),
          $"n_toks", $"punct_cnt", $"digit_cnt")
        .select($"doc_id",
          (lit(QualityWeights.bias) +
            lit(QualityWeights.wTok) * least($"n_toks", lit(QualityWeights.tokCap)) +
            lit(QualityWeights.wStop) * $"stop_bp" +
            lit(QualityWeights.wPunct) * $"punct_cnt" +
            lit(QualityWeights.wDigit) * $"digit_cnt" -
            abs($"wlen_c" - lit(QualityWeights.wlenCenter))).cast("long").as("logit_milli"))
        .select($"doc_id", $"logit_milli",
          ($"logit_milli" >= 0L).cast("int").as("keep"))
        .orderBy($"doc_id")
    },
    // language ID by marker-token voting with deterministic tie-break (en > de > fr > es).
    // Scores come from the fused text_langid_scan byte loop (r19 — the four
    // filter-lambda traversals were a 17.9 s map at sf100; oracle still votes the
    // regex/list way, hash gate proves identity).
    "text_langid" -> { (s, dir) =>
      import s.implicits._
      graft.functions.TextLangIdScan.ensureRegistered(s)
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", $"lang", call_function("text_langid_scan", $"text").as("sc"))
        .select($"doc_id", $"lang",
          $"sc.en_score".as("en_score"), $"sc.de_score".as("de_score"),
          $"sc.fr_score".as("fr_score"), $"sc.es_score".as("es_score"))
        .withColumn("lang_guess",
          when($"en_score" >= $"de_score" && $"en_score" >= $"fr_score" && $"en_score" >= $"es_score", "en")
            .when($"de_score" >= $"fr_score" && $"de_score" >= $"es_score", "de")
            .when($"fr_score" >= $"es_score", "fr")
            .otherwise("es"))
        .groupBy($"lang", $"lang_guess")
        .agg(count(lit(1)).as("doc_cnt"))
        .orderBy($"lang", $"lang_guess")
    },
    // BPE-ish regex tokenization: letter runs / digit runs / single non-space symbols —
    // the pre-tokenizer split a byte-pair encoder sees, counted per language. The
    // count comes from the fused text_bpe_count byte loop (r19 — the regex form was a
    // 69.4 s pure map at sf100; the DuckDB oracle still runs the regex, so the hash
    // gate proves value identity).
    "text_token_regex" -> { (s, dir) =>
      import s.implicits._
      graft.functions.TextBpeCount.ensureRegistered(s)
      graft.engine.Tables(s, dir, "documents")
        .select($"lang", call_function("text_bpe_count", $"text").as("tok_cnt"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("doc_cnt"),
          sum($"tok_cnt").cast("long").as("sum_regex_tokens"),
          min($"tok_cnt").cast("long").as("min_regex_tokens"),
          max($"tok_cnt").cast("long").as("max_regex_tokens"))
        .orderBy($"lang")
    },
    // deterministic hash sampling: keep ~10% of documents by content-hash bucket — the
    // reproducible train/eval split primitive (same rows on any cluster, any run)
    "text_sample_hash" -> { (s, dir) =>
      import s.implicits._
      graft.engine.Tables(s, dir, "documents")
        .filter(hash32($"text") % 100 < 10)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    },
    // STRATIFIED corpus-mixing sample — the data-balancing step of a training mix: each
    // language stratum keeps a different deterministic hash fraction (permille weights —
    // zh upsampled, es downsampled), driven by a tiny weights table BROADCAST against the
    // corpus scan (at 100 TB the mixing weights are always the broadcast side; the corpus
    // never shuffles — the filter runs inside the scan stage). Deterministic hash
    // sampling keeps the sample reproducible across runs and engines, unlike rand().
    "text_sample_stratified" -> { (s, dir) =>
      import s.implicits._
      val rates = Seq(("en", 300), ("de", 150), ("fr", 100), ("es", 50), ("zh", 500))
        .toDF("lang", "permille")
      graft.engine.Tables(s, dir, "documents")
        .join(broadcast(rates), Seq("lang"), "left_outer")
        .filter(hash32($"text") % 1000 < coalesce($"permille", lit(0)))
        .groupBy($"lang")
        .agg(count(lit(1)).as("sampled_cnt"), sum($"n_chars").as("sampled_chars"))
        .orderBy($"lang")
    },
    // REPETITION quality signal — the repetitive-document filter of web-corpus pipelines
    // (boilerplate, keyword-stuffed and template pages score high): the share of the
    // document's trigram occurrences taken by its single most frequent trigram, in
    // integer basis points. Trigrams are counted by their 32-bit md5-prefix hash —
    // identical in both engines, so even hash collisions (which merge a pair of distinct
    // trigrams) reproduce bit-exactly in the oracle.
    // NON-distinct trigram repetition per doc (repetition is exactly what
    // array_distinct would erase), grouped by the 32-bit md5-prefix hash. FUSED (r19):
    // the aggregation never leaves the document, so the exploded form's ~85 trigram
    // rows/doc, per-occurrence conv(substr(md5)) and corpus-sized (doc_id, h) shuffle
    // collapse into the text_tri_rep byte loop — per-doc hash counts in a small map,
    // md5 over token spans without building trigram strings, ZERO shuffle before the
    // presentation sort (73.3 s → 23.0 s at sf100 with the 10 GB spill gone — the
    // retained cost is the md5 per trigram, which IS the declared grouping semantics;
    // BASELINE.md r19). Docs with <3
    // tokens yield NULL ≡ the exploded form's absent rows; grouping is BY HASH in
    // both forms, so the oracle (unchanged) proves value identity.
    "text_repetition" -> { (s, dir) =>
      import s.implicits._
      graft.functions.TextTriRep.ensureRegistered(s)
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", call_function("text_tri_rep", $"text").as("sc"))
        .filter($"sc".isNotNull)
        .select($"doc_id", $"sc.tri_cnt".as("tri_cnt"),
          expr("sc.max_cnt * 10000 div sc.tri_cnt").as("rep_bp"))
        .orderBy($"doc_id")
    },
    // SNAPSHOT DIFF — the corpus-versioning primitive: classify every document across two
    // snapshot versions as added / removed / changed / unchanged by comparing CONTENT
    // HASHES in a full-outer join on doc_id. The snapshots here are carved
    // deterministically from the documents table (doc_id%10==0 absent from old = ADDED,
    // %10==1 absent from new = REMOVED, %10==2 text-suffixed in new = CHANGED). SCALE:
    // each side projects (doc_id, hash32(text), n_chars) BEFORE the join, so the shuffle
    // ships 24-byte rows, never document text; at 100 TB both snapshots bucket on doc_id
    // and the diff join is exchange-free (the q_bucketed_join layout).
    "corpus_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val docs = graft.engine.Tables(s, dir, "documents")
      // chars derives from the (possibly mutated) text, not the carried n_chars column:
      // a changed doc must report the NEW snapshot's size (ADVICE r6 — the carried column
      // silently reported the pre-change length)
      def proj(d: org.apache.spark.sql.DataFrame) =
        d.select($"doc_id", hash32($"text").as("h"),
          length($"text").cast("long").as("n_chars"))
      val old  = proj(docs.filter($"doc_id" % 10 =!= 0))
      val neu  = proj(docs.filter($"doc_id" % 10 =!= 1)
        .withColumn("text", when($"doc_id" % 10 === 2, concat($"text", lit(" v2")))
          .otherwise($"text")))
      old.select($"doc_id", $"h".as("old_h"), $"n_chars".as("old_chars"))
        .join(neu.select($"doc_id", $"h".as("new_h"), $"n_chars".as("new_chars")),
          Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"old_h".isNull, "added")
            .when($"new_h".isNull, "removed")
            .when($"old_h" =!= $"new_h", "changed")
            .otherwise("unchanged").as("status"),
          coalesce($"new_chars", $"old_chars").as("chars"))
        .groupBy($"status")
        .agg(count(lit(1)).as("doc_cnt"), sum($"chars").as("sum_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy($"status")
    },
    // EXACT-SUBSTRING DUPLICATION SPANS (the ExactSubstr shape of Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): find token windows of
    // length K=16 repeated across ≥2 DOCUMENTS, merge overlapping windows into maximal
    // duplicated spans per document, and report per-doc span counts / duplicated-token
    // totals / ratio — the memorization-risk measurement and the cut list substring-level
    // dedup operates on (line-dedup catches boilerplate lines; this catches arbitrary
    // repeated passages that cross line structure). 100 TB shape: windows shuffle ONCE on
    // the 32-bit window hash (the distinct-doc count partial-aggregates map-side; the
    // window frame is cached so the dup-hash semi-join re-reads it instead of
    // re-tokenizing the corpus), only windows whose hash is cross-doc duplicated flow to
    // the span merge (bounded by the duplicate structure, not the corpus), and span-merge
    // is one per-doc window sort. At petabyte scale the O(K) slice hash becomes a rolling
    // hash (see text_fingerprint) — same plan shape.
    "text_dup_spans" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val K = 16
      val wins = graft.engine.Tables.par(s, dir, "documents")
        .select($"doc_id", tokens($"text").as("toks"))
        // NARROW window frame (r18 sf100 probe: 18×/decade, 111 GB of in-memory spill
        // mass): the cached/shuffled per-window row is (doc_id, start, h) ONLY — the
        // constant-per-doc n_toks used to ride every one of the ~85 window rows per
        // doc through the cache, the dup-hash shuffle AND the span windows; it now
        // joins back once per DOC after span aggregation (a ~85× narrower frame
        // re-derived from the scan — cheaper than widening 10⁸ window rows by a column)
        .filter(size($"toks") >= K)
        .select($"doc_id", explode(sequence(lit(0), size($"toks") - K)).as("start"), $"toks")
        .select($"doc_id", $"start",
          hash32(concat_ws("\u0001", slice($"toks", $"start" + 1, lit(K)))).as("h"))
      // cross-doc duplication as min(doc_id) < max(doc_id) over the h-partition —
      // row-equivalent to the r18 form's groupBy(h)+filter+join-back-on-h (an inner
      // join on duplicated hashes keeps exactly the rows whose h-group spans two
      // docs), but in ONE pass over ONE exchange (r21 session 2, guide §2.4): the
      // old shape cached `wins` and fed it to both the aggregate and the join probe
      // side, and under AQE the two concurrently-submitted map stages raced the lazy
      // cache through the tokenize+explode+hash scan (event log: two overlapping
      // equal-duration 32-task stages contending for the 32 local task slots). The
      // window computes the same min/max on the h-exchange the join would have
      // needed anyway, so the scan runs once, nothing is cached, and the aggregate
      // exchange + join drop out. Same skew posture: a boilerplate 16-gram
      // concentrated one h either way (join build side before, window group now).
      val wH = Window.partitionBy($"h")
      val w = Window.partitionBy($"doc_id").orderBy($"start")
      val spans = wins
        .withColumn("mn", min($"doc_id").over(wH))
        .withColumn("mx", max($"doc_id").over(wH))
        .filter($"mn" < $"mx")
        .select($"doc_id", $"start")
        .withColumn("end", $"start" + K)
        .withColumn("prev_max_end",
          max($"end").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_span",
          ($"prev_max_end".isNull || $"start" > $"prev_max_end").cast("long"))
        .withColumn("span_id", sum($"new_span").over(w))
        .groupBy($"doc_id", $"span_id")
        .agg(min($"start").as("s"), max($"end").as("e"))
      val perDoc = spans.groupBy($"doc_id")
        .agg(count(lit(1)).as("dup_span_cnt"), sum($"e" - $"s").as("dup_tokens"))
      graft.engine.Tables.par(s, dir, "documents")
        .select($"doc_id", size(tokens($"text")).cast("long").as("n_toks"))
        .filter($"n_toks" >= K)
        .join(perDoc, Seq("doc_id"))
        .select($"doc_id", $"n_toks", $"dup_span_cnt", $"dup_tokens",
          expr("dup_tokens * 10000 div n_toks").as("dup_ratio_bp"))
        .orderBy($"doc_id")
    },
    // RAG CHUNKING — overlapping fixed-size token windows (64 tokens, stride 48) with
    // stable chunk ids and a content hash per chunk: the retrieval-index preprocessing
    // step between curation and embedding. Entirely narrow map-side work: tokenize once,
    // derive the start offsets from the token count (sequence + explode — no join, no
    // shuffle before the final ORDER BY), slice each window from the SAME tokenized
    // array. Zero-token documents produce no chunks by construction (sequence over an
    // empty span). At 100 TB chunking is embarrassingly parallel; output size is
    // input/stride-bounded and each chunk carries provenance (doc_id, chunk_idx, start).
    "text_chunk_windows" -> { (s, dir) =>
      import s.implicits._
      val W = 64; val S = 48
      val toks = $"toks"
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", tokens($"text").as("toks"))
        .filter(size(toks) > 0)
        .select($"doc_id", toks,
          explode(sequence(lit(0), size(toks) - 1, lit(S))).as("start"))
        .select($"doc_id", ($"start" / S).cast("long").as("chunk_idx"),
          // sequence() yields int; the oracle's generate_series yields BIGINT — emit long
          // so the typed hash gate compares like with like
          $"start".cast("long").as("start"),
          slice(toks, $"start" + 1, lit(W)).as("chunk"))
        .select($"doc_id", $"chunk_idx", $"start",
          size($"chunk").as("n_toks"),
          element_at($"chunk", 1).as("first_tok"),
          element_at($"chunk", -1).as("last_tok"),
          hash32(concat_ws(" ", $"chunk")).as("chunk_h32"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    // TF-IDF TOP TERMS — the per-document salient-term extraction of search indexing and
    // topic labeling, in PURE INTEGER math: terms rank by (tf DESC, df ASC, term ASC) —
    // exactly the tf·idf ordering for terms within one document (idf is monotone
    // decreasing in df) without computing a single float, so the oracle is bit-exact.
    // 100 TB shape: one (doc, term) aggregate shuffle builds tf; df derives from tf's
    // output (each (doc, term) appears once — no second corpus scan); the df table is
    // VOCABULARY-sized, so it BROADCASTS back onto tf (same posture as the ngram-jaccard
    // df table — the skewed term key never shuffles); top-3 is one row_number window
    // partitioned by doc_id.
    "text_tfidf_topterms" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // cached: tf feeds BOTH the df derivation and the join's left side — uncached, the
      // tokenize+explode+aggregate pipeline (the expensive part) would run twice; the
      // cache spills to disk if the doc-term table outgrows memory, still cheaper than a
      // second corpus scan
      val tf = graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("tf"))
        .cache()
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id").orderBy($"tf".desc, $"df", $"tok")
      tf.join(broadcast(df), Seq("tok"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"rnk", $"tok", $"tf", $"df")
        .orderBy($"doc_id", $"rnk")
    },
    // CORPUS-LEVEL LINE DEDUP (boilerplate removal), see [[lineDedup]]. `text_line_dedup`
    // named a retired broadcast-join twin and stays registered as an alias of the same
    // builder, gated by the same oracle.
    "text_line_dedup" -> lineDedup _,
    "text_line_dedup_rel" -> lineDedup _,
    // TRAINING SEQUENCE PACKING — the step that turns a filtered corpus into fixed-budget
    // training sequences: docs are laid out in a deterministic order and each is assigned
    // to the pack its running token offset falls in (pack = floor(prev_cumsum / budget),
    // the standard streaming-packing approximation; docs can straddle a boundary, exactly
    // like token-level packing with document breaks). 100 TB shape: the window partitions
    // by `source` (the shard key), so packing is embarrassingly parallel per shard and no
    // global single-partition sort exists; budget 256 tokens keeps multiple docs per pack
    // at this corpus size.
    // BPE PAIR COUNTING — the inner loop of tokenizer TRAINING: the merge rule each BPE
    // round adds is the corpus's most frequent adjacent symbol pair. The scalable shape
    // is the whole point: first collapse the corpus to its word-frequency SPECTRUM (one
    // shuffle; the working set becomes vocabulary-sized, the classic BPE-training trick),
    // then count character pairs over DISTINCT words weighted by word frequency — the
    // pair explode runs |vocab|·|word| wide, not corpus-wide. Top pairs by (count desc,
    // pair asc) are the next merges. 100 TB shape: corpus-sized work is exactly one
    // map-side-combined word count; everything after is vocabulary-scale.
    "text_bpe_pair_counts" -> { (s, dir) =>
      import s.implicits._
      val words = graft.engine.Tables(s, dir, "documents")
        .select(explode(tokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("freq"))
      words.filter(length($"w") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("pair_cnt"))
        .orderBy($"pair_cnt".desc, $"pair")
        .limit(BpeTopPairs)
    },
    // WEIGHTED CORPUS MIXING — the data-mixing step of LLM training: each source gets a
    // deterministic weight (here (suffix mod 3)+1, standing in for a tuned mixture), and
    // the global training order interleaves sources in weighted round-robin — a weight-w
    // source contributes w documents per round, so the realized ratio IS the weight
    // ratio at every prefix of the stream (what curriculum/mixture schedules need; a
    // global shuffle only gets the ratio in expectation). The order key is fully
    // declarative: (round, source, rank) with round = (rank-1) div weight. 100 TB shape:
    // the per-source rank is the same per-source running-order window text_pack uses
    // (one shuffle on source; at petabyte scale the rank derives from per-shard count
    // offsets instead — documented trade, same keys); the final orderBy is the point of
    // the operator (a training order is a total order).
    "text_mix_weighted" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", $"source")
        // a source without a trailing digit suffix gets the DEFAULT weight 1 on BOTH
        // sides (ADVICE r7): Spark's regexp_extract yields "" → cast NULL on no match,
        // while DuckDB's CAST('') errors — coalesce(…, 0) + TRY_CAST make the two
        // engines agree (and fail neither) on malformed source names
        .withColumn("wgt",
          coalesce(regexp_extract($"source", "(\\d+)$", 1).cast("long"), lit(0L)) % 3 + 1)
        .withColumn("src_rank", row_number().over(w).cast("long"))
        .withColumn("round", expr("(src_rank - 1) div wgt"))
        .select($"round", $"source", $"src_rank", $"doc_id", $"wgt")
        .orderBy($"round", $"source", $"src_rank")
    },
    "text_pack_sequences" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", $"source", size(tokens($"text")).cast("long").as("n_toks"))
        .withColumn("cum", sum($"n_toks").over(w))
        .withColumn("pack_id", expr(s"(cum - n_toks) div $PackBudget"))
        .groupBy($"source", $"pack_id")
        .agg(count(lit(1)).as("doc_cnt"), sum($"n_toks").as("pack_toks"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"pack_id")
    },
    // CORPUS CURATION FUNNEL — the end-to-end report every training-data pipeline keeps:
    // how many documents survive each cumulative filter stage (language identified ->
    // quality -> lexical diversity -> exact dedup). Runs over the corpus doubled with
    // byte-identical copies so the dedup stage measurably halves the survivors. ONE scan
    // and ONE single-row aggregate: each stage is a conditional sum, and the dedup stage
    // is a conditional DISTINCT count of the content hash — no per-stage passes, no
    // intermediate materialization; at 100 TB this is a single map-side-combined
    // aggregation over the scan (the distinct-count shuffles only (fp) partials).
    "corpus_funnel" -> { (s, dir) =>
      import s.implicits._
      val d = graft.engine.Tables(s, dir, "documents").select($"doc_id", $"text", $"n_chars")
      val doubled = d.union(d.select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"n_chars"))
      val markers = langMarkers
      // same generator barrier as the composed pipeline: one split per row, not one per flag
      val flagged = doubled
        .select($"text", $"n_chars", explode(array(tokens($"text"))).as("toks"))
        .select($"text",
          (size(filter($"toks", t => markers.map(t === _).reduce(_ || _))) > 0).as("f1"),
          ($"n_chars" >= MinChars && size($"toks") >= MinToks).as("f2"),
          (size(array_distinct($"toks")) * 10000 >= size($"toks") * DiversityBp).as("f3"))
      val agg = flagged.agg(
        count(lit(1)).as("n0"),
        sum($"f1".cast("long")).as("n1"),
        sum(($"f1" && $"f2").cast("long")).as("n2"),
        sum(($"f1" && $"f2" && $"f3").cast("long")).as("n3"),
        count_distinct(when($"f1" && $"f2" && $"f3", md5($"text"))).as("n4"))
      val stages = Seq("0_raw" -> "n0", "1_lang_id" -> "n1", "2_quality" -> "n2",
        "3_diversity" -> "n3", "4_dedup" -> "n4")
      agg.select(explode(array(stages.map { case (nm, c) =>
          struct(lit(nm).as("stage"), col(c).as("surviving_docs")) }: _*)).as("r"))
        .select($"r.*")
        .orderBy($"stage")
    },
    // THE COMPOSED CURATION PIPELINE, end to end — the LLM-data sibling of
    // cdc_pipeline_e2e: raw (doubled) corpus -> language/quality/diversity filters ->
    // exact dedup (keep-min-id per content hash) -> per-source training-sequence packing,
    // in ONE lazy plan. A green hash proves the stages compose (the funnel's survivors
    // are exactly what packs, pack offsets shift with every dropped doc), not just each
    // stage alone. Plan shape: scan -> map-side flags -> one dedup shuffle (fp) -> one
    // pack window per source shard -> pack aggregate; nothing materializes in between.
    "corpus_to_training_e2e" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val d = graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", $"text", $"source", $"n_chars")
      val doubled = d.union(d.select(($"doc_id" + 1000000L).as("doc_id"), $"text",
        $"source", $"n_chars"))
      val markers = langMarkers
      // explode(array(...)) barrier: toks is referenced by three filters, and inlined the
      // regex split would re-run per reference (the text_repetition lesson — a generator
      // output is materialized once per row)
      val kept = doubled
        .select($"doc_id", $"text", $"source", $"n_chars",
          explode(array(tokens($"text"))).as("toks"))
        .withColumn("n_toks", size($"toks").cast("long"))
        .filter(size(filter($"toks", t => markers.map(t === _).reduce(_ || _))) > 0)
        .filter($"n_chars" >= MinChars && $"n_toks" >= lit(MinToks).cast("long"))
        .filter(size(array_distinct($"toks")) * 10000 >= $"n_toks" * DiversityBp)
      val deduped = kept
        .withColumn("keep_id", min($"doc_id").over(Window.partitionBy(md5($"text"))))
        .filter($"doc_id" === $"keep_id")
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      deduped
        .withColumn("cum", sum($"n_toks").over(w))
        .withColumn("pack_id", expr(s"(cum - n_toks) div $PackBudget"))
        .groupBy($"source", $"pack_id")
        .agg(count(lit(1)).as("doc_cnt"), sum($"n_toks").as("pack_toks"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"pack_id")
    },
    // PII-style scrubbing: digit runs masked, emails-ish tokens dropped; counts prove the
    // rewrite touched exactly the documents it should
    "text_scrub" -> { (s, dir) =>
      import s.implicits._
      val scrubbed = regexp_replace($"text", "[0-9]+", "#")
      graft.engine.Tables(s, dir, "documents")
        .select($"lang", (scrubbed =!= $"text").cast("int").as("changed"),
          length($"text").cast("long").as("len_before"),
          length(scrubbed).cast("long").as("len_after"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("doc_cnt"),
          sum($"changed").cast("long").as("changed_cnt"),
          sum($"len_before").as("sum_len_before"),
          sum($"len_after").as("sum_len_after"))
        .orderBy($"lang")
    },
    // document fingerprinting: full md5 + 32-bit prefix hash per document
    "text_fingerprint" -> { (s, dir) =>
      import s.implicits._
      graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", md5($"text").as("fp"), hash32($"text").as("fp32"), $"n_chars")
        .orderBy($"doc_id")
    },
    // LOCAL document fingerprints via winnowing (r13): the rolling-hash scheme the
    // whole-doc hash above cannot replace — robust to position shifts, guarantees any
    // shared substring of length >= WinnowW + WinnowK - 1 shares a selected
    // fingerprint, at ~2/(w+1) density. One codegen'd pass per doc; the oracle replays
    // gram hashing, window minima and the rightmost tie rule in plain SQL.
    "text_winnow_fingerprint" -> { (s, dir) =>
      import s.implicits._
      winnowFingerprints(s, graft.engine.Tables.par(s, dir, "documents").select($"doc_id", $"text"))
        .orderBy($"doc_id", $"pos")
    },
    // EXACT length quantiles per language via rank arithmetic (value at ceil(q*n)) —
    // bit-identical across engines, unlike interpolating percentile functions. At lake
    // scale the per-lang full sort here is the WRONG default (5 langs → 5 fat sort
    // partitions); text_len_quantiles_approx below is the production path, and
    // TextApproxSpec validates the sketch against this exact query within its rank bound.
    "text_len_quantiles" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ranked = graft.engine.Tables(s, dir, "documents")
        .select($"lang", length($"text").cast("long").as("len"), $"doc_id")
        .withColumn("rn",
          row_number().over(Window.partitionBy($"lang").orderBy($"len", $"doc_id")).cast("long"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"lang")))
      ranked.groupBy($"lang")
        .agg(max($"cnt").as("n"),
          max(when($"rn" === ceil($"cnt" * 0.5), $"len")).as("p50"),
          max(when($"rn" === ceil($"cnt" * 0.9), $"len")).as("p90"),
          max(when($"rn" === ceil($"cnt" * 0.99), $"len")).as("p99"))
        .orderBy($"lang")
    },
    // The PRODUCTION quantile path: percentile_approx's mergeable Greenwald-Khanna sketch —
    // one hash aggregate with map-side partial sketches, no per-lang sort, no fat
    // partitions, O(accuracy) state per group at any data volume. A sketch result is
    // rank-bounded (±n/accuracy), not bit-exact, so this entry has NO oracle SQL (the
    // driver records rows/schema only); TextApproxSpec asserts each value sits within the
    // sketch's guaranteed rank window of the exact text_len_quantiles answer.
    "text_len_quantiles_approx" -> { (s, dir) =>
      import s.implicits._
      graft.engine.Tables(s, dir, "documents")
        .select($"lang", length($"text").cast("long").as("len"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          percentile_approx($"len", array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("p"))
        .select($"lang", $"n", $"p"(0).as("p50"), $"p"(1).as("p90"), $"p"(2).as("p99"))
        .orderBy($"lang")
    },
    // VOCABULARY COVERAGE CURVE — the tokenizer-sizing question ("what does a 10k vocab
    // buy?") as a query: corpus token counts ranked by frequency (deterministic
    // (cnt desc, tok) order), then for each ladder size k the share of all token
    // OCCURRENCES covered by the top-k types, in integer basis points. Plan: ONE
    // tokenize+count pass at vocabulary cardinality with map-side combine, a global rank
    // window over the VOCAB frame (types, not occurrences), and a 3-literal ladder
    // explode joined by rank range — the corpus scan is never touched twice.
    "text_vocab_coverage" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val counts = graft.engine.Tables(s, dir, "documents")
        .select(explode(tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val ranked = counts
        .withColumn("rnk", row_number().over(
          Window.partitionBy().orderBy($"cnt".desc, $"tok")).cast("long"))
        .withColumn("total", sum($"cnt").over(Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      ranked
        .select($"rnk", $"cnt", $"total",
          explode(array(VocabLadder.map(lit): _*)).as("k"))
        .filter($"rnk" <= $"k")
        .groupBy($"k")
        .agg(count(lit(1)).as("vocab_tokens"),
          expr("sum(cnt) * 10000 div max(total)").as("covered_bp"))
        .orderBy($"k")
    },
    // TEMPERATURE-SCALED SOURCE MIXING — the multilingual-LM sampling rule (p_s ∝ n_s^α,
    // the "temperature" that upsamples small sources): α = 0.5 via floor(sqrt(n)) keeps
    // the weights INTEGER-exact cross-engine (IEEE sqrt is correctly rounded, so the
    // floor is bit-identical in Spark and DuckDB — no pow() ULP hazard), and the fixed
    // sampling budget allocates by largest remainder in pure integer window algebra.
    // The global windows run over the per-SOURCE frame (source cardinality, a handful of
    // rows at any corpus size), never the documents scan.
    "corpus_mix_temperature" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val byRem = Window.partitionBy().orderBy($"rem".desc, $"source")
      graft.engine.Tables(s, dir, "documents")
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .withColumn("wgt", floor(sqrt($"n_docs")).cast("long"))
        .withColumn("wtot", sum($"wgt").over(all))
        .withColumn("base", expr(s"($MixBudget * wgt) div wtot"))
        .withColumn("rem", expr(s"($MixBudget * wgt) % wtot"))
        .withColumn("rr", row_number().over(byRem).cast("long"))
        .withColumn("btot", sum($"base").over(all))
        .select($"source", $"n_docs", $"wgt",
          ($"base" + when($"rr" <= lit(MixBudget) - $"btot", 1L).otherwise(0L)).as("quota"))
        .orderBy($"source")
    },
    // BIGRAM-LM SCORE — the CCNet-style fluency filter: train bigram statistics on the
    // corpus itself, then score every document by how well the corpus model predicts it
    // (a cheap perplexity proxy; real pipelines swap in a held-out KenLM, same plan
    // shape). Per-bigram credit is the conditional frequency C(a b)/C(a ·) in integer
    // basis points — INTEGER math end to end, so the per-doc sum is order-independent
    // and the cross-engine hash gate holds. Plan: ONE explode of the tokenized scan into
    // bigrams (zip_with over two slices — no self-join), a partial-aggregated model
    // build (distinct-bigram cardinality, not corpus cardinality), the model closed
    // under its prefix marginals, then one equi shuffle join of doc-bigrams to the model
    // and a per-doc sum. At 100 TB every stage is a hash shuffle on a uniform-ish token
    // key with map-side combine; nothing driver-side, nothing quadratic.
    "text_lm_score" -> { (s, dir) =>
      import s.implicits._
      val docs = graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
      val bigrams = docs.select($"doc_id",
        explode(zip_with(
          slice($"toks", lit(1), size($"toks") - 1),
          slice($"toks", lit(2), size($"toks") - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      val bgCounts = bigrams.groupBy($"bg").agg(count(lit(1)).as("c_bg"))
      // prefix marginal C(a ·) from the bigram counts themselves (sum, not a re-scan)
      val model = bgCounts
        .withColumn("pref", split($"bg", " ").getItem(0))
        .withColumn("c_pref",
          sum($"c_bg").over(org.apache.spark.sql.expressions.Window.partitionBy($"pref")))
        .select($"bg", $"c_bg", $"c_pref")
      bigrams.join(model, Seq("bg"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr(s"c_bg * $LmScaleBp div c_pref")).as("lm_bp_sum"))
        .select($"doc_id", $"n_bigrams", $"lm_bp_sum",
          expr("lm_bp_sum div n_bigrams").as("lm_bp_avg"))
        .orderBy($"doc_id")
    },
  )

  /** Integer basis-point scale of the [[text_lm_score]] conditional frequencies —
    * shared with the oracle so the gates cannot drift. */
  private val LmScaleBp = 10000L

  /** Sampling budget of [[corpus_mix_temperature]]'s largest-remainder allocation —
    * shared with the oracle so the gates cannot drift. */
  private val MixBudget = 10000L

  /** Vocabulary-size ladder of [[text_vocab_coverage]] — shared with the oracle. */
  private val VocabLadder = Seq(10L, 100L, 1000L)

  private val stopwordSql = stopwords.map(w => s"x = '$w'").mkString(" OR ")

  /** The winnowing selection replayed in plain SQL over an arbitrary `(doc_id, text)`
    * source query: gram hashes via the md5-prefix hash32, per-window minima via a rank
    * over (hash ASC, position DESC) — the rightmost tie rule — ending in a CTE `sel`
    * of DISTINCT (doc_id, i, hv) selections. Shared by the `text_winnow_fingerprint`
    * and `dedup_winnow_pairs` oracles. */
  private[ext] def winnowSelectSql(source: String): String =
    "WITH " + winnowSelectCtes(source, "")

  /** The same CTE chain WITHOUT the leading `WITH` and with every CTE name prefixed —
    * so two winnowing pipelines (e.g. existing corpus + incoming feed in
    * `dedup_winnow_admit_stream`'s oracle) can compose in one statement. */
  private[ext] def winnowSelectCtes(source: String, p: String): String = {
    val gramHash = (0 until WinnowK).foldLeft("0::BIGINT") { (acc, t) =>
      s"(($acc) * $WinnowB + ascii(substr(text, (i + ${t + 1})::INT, 1))) % $WinnowM"
    }
    s"""${p}d AS ($source),
      |${p}g AS (SELECT doc_id, text, greatest(length(text) - ${WinnowK - 1}, 0) AS nh FROM ${p}d),
      |${p}h0 AS (SELECT doc_id, text, unnest(range(0, nh)) AS i FROM ${p}g),
      |${p}h AS (SELECT doc_id, i, $gramHash AS hv FROM ${p}h0),
      |${p}w0 AS (SELECT doc_id, unnest(range(0, CASE WHEN nh >= $WinnowW THEN nh - ${WinnowW - 1}
      |  WHEN nh > 0 THEN 1 ELSE 0 END)) AS j FROM ${p}g),
      |${p}sel0 AS (SELECT w0.doc_id, h.hv, h.i,
      |    row_number() OVER (PARTITION BY w0.doc_id, w0.j ORDER BY h.hv ASC, h.i DESC) AS rn
      |  FROM ${p}w0 w0 JOIN ${p}h h ON h.doc_id = w0.doc_id AND h.i BETWEEN w0.j AND w0.j + ${WinnowW - 1}),
      |${p}sel AS (SELECT DISTINCT doc_id, i, hv FROM ${p}sel0 WHERE rn = 1)""".stripMargin
  }

  /** The line-dedup oracle, shared by `text_line_dedup_rel` and its alias. */
  private val lineDedupOracleSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '') AS w
       |  FROM documents),
       |idx AS (SELECT doc_id, w,
       |  unnest(range(((len(w) - 1) // $LineDedupWindow) + 1)) AS i FROM t),
       |segs AS (SELECT doc_id, i, array_to_string(
       |  list_slice(w, i * $LineDedupWindow + 1, i * $LineDedupWindow + $LineDedupWindow),
       |  ' ') AS seg FROM idx),
       |boiler AS (SELECT seg FROM segs GROUP BY seg
       |  HAVING count(*) >= $LineDedupMinRepeats),
       |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)),
       |reb AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS clean_text,
       |  cast(count(*) AS BIGINT) AS kept_segs FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(reb.clean_text, '') AS clean_text,
       |  coalesce(reb.kept_segs, cast(0 AS BIGINT)) AS kept_segs,
       |  cast(((len(t.w) - 1) // $LineDedupWindow) + 1
       |    - coalesce(reb.kept_segs, 0) AS BIGINT) AS dropped_segs
       |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id ORDER BY t.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // the same ranked-counts cumulative coverage
    "text_vocab_coverage" ->
      s"""WITH toks AS (SELECT unnest(list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, cast(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
         |r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
         |        cast(sum(cnt) OVER () AS BIGINT) AS total FROM c),
         |l AS (SELECT unnest([${VocabLadder.mkString(", ")}]) AS k)
         |SELECT k, cast(count(*) AS BIGINT) AS vocab_tokens,
         |  cast(sum(cnt) * 10000 // max(total) AS BIGINT) AS covered_bp
         |FROM l JOIN r ON r.rnk <= l.k
         |GROUP BY k ORDER BY k""".stripMargin,
    // the same sqrt-temperature weights and largest-remainder allocation
    "corpus_mix_temperature" ->
      s"""WITH s AS (SELECT source, cast(count(*) AS BIGINT) AS n_docs
         |           FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs, cast(floor(sqrt(n_docs)) AS BIGINT) AS wgt FROM s),
         |t AS (SELECT *, cast(sum(wgt) OVER () AS BIGINT) AS wtot FROM w),
         |q AS (SELECT *, ($MixBudget * wgt) // wtot AS base,
         |        ($MixBudget * wgt) % wtot AS rem FROM t),
         |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
         |        cast(sum(base) OVER () AS BIGINT) AS btot FROM q)
         |SELECT source, n_docs, wgt,
         |  cast(base + CASE WHEN rr <= $MixBudget - btot THEN 1 ELSE 0 END AS BIGINT) AS quota
         |FROM r ORDER BY source""".stripMargin,
    // the same bigram model stated with unnest + window marginals
    "text_lm_score" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '') AS l
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
         |      FROM toks WHERE len(l) >= 2),
         |b0 AS (SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
         |       FROM t),
         |b AS (SELECT doc_id, bg FROM b0 WHERE bg IS NOT NULL),
         |cb AS (SELECT bg, cast(count(*) AS BIGINT) AS c_bg FROM b GROUP BY bg),
         |m AS (SELECT bg, c_bg,
         |        cast(sum(c_bg) OVER (PARTITION BY split_part(bg, ' ', 1)) AS BIGINT) AS c_pref
         |      FROM cb)
         |SELECT b.doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
         |  cast(sum(m.c_bg * $LmScaleBp // m.c_pref) AS BIGINT) AS lm_bp_sum,
         |  cast(sum(m.c_bg * $LmScaleBp // m.c_pref) // count(*) AS BIGINT) AS lm_bp_avg
         |FROM b JOIN m USING (bg)
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT lang, cast(count(*) AS BIGINT) AS doc_cnt,
        | cast(sum(n_chars) AS BIGINT) AS sum_chars,
        | cast(sum(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> ''))) AS BIGINT) AS sum_tokens,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      s"""WITH d AS (SELECT lang, n_chars, text,
         |  list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '') AS toks FROM documents)
         |SELECT lang, cast(count(*) AS BIGINT) AS doc_cnt,
         | cast(sum(CASE WHEN n_chars >= $MinChars THEN 1 ELSE 0 END) AS BIGINT) AS long_cnt,
         | cast(sum(CASE WHEN len(toks) >= $MinToks THEN 1 ELSE 0 END) AS BIGINT) AS token_rich_cnt,
         | cast(sum(CASE WHEN len(list_filter(toks, x -> $stopwordSql)) * 10 >= len(toks) THEN 1 ELSE 0 END) AS BIGINT) AS stopword_heavy_cnt,
         | cast(sum(CASE WHEN length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS punct_cnt
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality_model" -> {
      import QualityWeights._
      val tokSql = """list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')"""
      s"""WITH f AS (SELECT doc_id, n_chars,
         |  len($tokSql) AS n_toks,
         |  len(list_filter($tokSql, x -> $stopwordSql)) AS stop_cnt,
         |  length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct_cnt,
         |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_cnt FROM documents),
         |g AS (SELECT doc_id, n_toks, punct_cnt, digit_cnt,
         |  stop_cnt * 10000 // greatest(n_toks, 1) AS stop_bp,
         |  n_chars * 100 // greatest(n_toks, 1) AS wlen_c FROM f),
         |sc AS (SELECT doc_id,
         |  $bias + $wTok * least(n_toks, $tokCap) + $wStop * stop_bp
         |    + ($wPunct) * punct_cnt + ($wDigit) * digit_cnt
         |    - abs(wlen_c - $wlenCenter) AS logit FROM g)
         |SELECT doc_id, cast(logit AS BIGINT) AS logit_milli,
         |  cast(CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "text_langid" ->
      """WITH d AS (SELECT doc_id, lang,
        |  list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x = 'the' OR x = 'and' OR x = 'of')) AS en_score,
        |  len(list_filter(toks, x -> x = 'der' OR x = 'und' OR x = 'die')) AS de_score,
        |  len(list_filter(toks, x -> x = 'le' OR x = 'et' OR x = 'la')) AS fr_score,
        |  len(list_filter(toks, x -> x = 'el' OR x = 'y' OR x = 'los')) AS es_score FROM d)
        |SELECT lang,
        |  CASE WHEN en_score >= de_score AND en_score >= fr_score AND en_score >= es_score THEN 'en'
        |       WHEN de_score >= fr_score AND de_score >= es_score THEN 'de'
        |       WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS lang_guess,
        |  cast(count(*) AS BIGINT) AS doc_cnt
        |FROM sc GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin,
    "text_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |tri AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tri FROM toks),
        |cnts AS (SELECT doc_id, ('0x' || substr(md5(tri), 1, 8))::BIGINT AS h,
        |  count(*) AS cnt FROM tri GROUP BY 1, 2)
        |SELECT doc_id, cast(sum(cnt) AS BIGINT) AS tri_cnt,
        |  cast(max(cnt) * 10000 // sum(cnt) AS BIGINT) AS rep_bp
        |FROM cnts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_line_dedup" -> lineDedupOracleSql,
    "text_line_dedup_rel" -> lineDedupOracleSql,
    "text_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source,
        |  len(list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')) AS n_toks
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_toks,
        |  sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT source, cast((cum - n_toks) // $PackBudget AS BIGINT) AS pack_id,
        |  cast(count(*) AS BIGINT) AS doc_cnt, cast(sum(n_toks) AS BIGINT) AS pack_toks,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,
    "text_bpe_pair_counts" ->
      s"""WITH w0 AS (SELECT unnest(list_filter(string_split_regex(trim(text),'\\s+'),
         |  x -> x <> '')) AS w FROM documents),
         |f AS (SELECT w, count(*) AS freq FROM w0 GROUP BY w),
         |p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
         |  i -> w[i:i+1])) AS pair, freq FROM f WHERE length(w) >= 2)
         |SELECT pair, cast(sum(freq) AS BIGINT) AS pair_cnt FROM p
         |GROUP BY pair ORDER BY pair_cnt DESC, pair LIMIT $BpeTopPairs""".stripMargin,
    "text_mix_weighted" ->
      """WITH r AS (SELECT doc_id, source,
        |  (coalesce(TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT), 0) % 3) + 1 AS wgt,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank
        |  FROM documents)
        |SELECT (src_rank - 1) // wgt AS round, source, src_rank, doc_id, wgt
        |FROM r ORDER BY round, source, src_rank""".stripMargin,
    "text_sample_stratified" ->
      """WITH r AS (SELECT * FROM (VALUES ('en', 300), ('de', 150), ('fr', 100),
        |                                 ('es', 50), ('zh', 500)) AS t(lang, permille))
        |SELECT d.lang, cast(count(*) AS BIGINT) AS sampled_cnt,
        |  cast(sum(n_chars) AS BIGINT) AS sampled_chars
        |FROM documents d LEFT JOIN r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < coalesce(permille, 0)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "corpus_funnel" -> {
      val markerSql = langMarkerSql
      s"""WITH d0 AS (SELECT doc_id, text, n_chars FROM documents
         |            UNION ALL SELECT doc_id + 1000000, text, n_chars FROM documents),
         |f AS (SELECT text, n_chars,
         |  list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '') AS toks FROM d0),
         |flags AS (SELECT text,
         |  len(list_filter(toks, x -> $markerSql)) > 0 AS f1,
         |  (n_chars >= $MinChars AND len(toks) >= $MinToks) AS f2,
         |  len(list_distinct(toks)) * 10000 >= len(toks) * $DiversityBp AS f3 FROM f),
         |agg AS (SELECT cast(count(*) AS BIGINT) AS n0,
         |  cast(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  cast(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  cast(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |  cast(count(DISTINCT CASE WHEN f1 AND f2 AND f3 THEN md5(text) END) AS BIGINT) AS n4
         |  FROM flags)
         |SELECT '0_raw' AS stage, n0 AS surviving_docs FROM agg
         |UNION ALL SELECT '1_lang_id', n1 FROM agg
         |UNION ALL SELECT '2_quality', n2 FROM agg
         |UNION ALL SELECT '3_diversity', n3 FROM agg
         |UNION ALL SELECT '4_dedup', n4 FROM agg
         |ORDER BY stage""".stripMargin
    },
    "corpus_to_training_e2e" -> {
      val markerSql = langMarkerSql
      s"""WITH d0 AS (SELECT doc_id, text, source, n_chars FROM documents
         |            UNION ALL SELECT doc_id + 1000000, text, source, n_chars FROM documents),
         |t AS (SELECT doc_id, text, source, n_chars,
         |  list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '') AS toks FROM d0),
         |kept AS (SELECT doc_id, text, source, len(toks) AS n_toks FROM t
         |  WHERE len(list_filter(toks, x -> $markerSql)) > 0
         |    AND n_chars >= $MinChars AND len(toks) >= $MinToks
         |    AND len(list_distinct(toks)) * 10000 >= len(toks) * $DiversityBp),
         |ded AS (SELECT * FROM (SELECT doc_id, source, n_toks,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM kept)
         |  WHERE doc_id = keep_id),
         |c AS (SELECT doc_id, source, n_toks,
         |  sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |                    ROWS UNBOUNDED PRECEDING) AS cum FROM ded)
         |SELECT source, cast((cum - n_toks) // $PackBudget AS BIGINT) AS pack_id,
         |  cast(count(*) AS BIGINT) AS doc_cnt, cast(sum(n_toks) AS BIGINT) AS pack_toks,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin
    },
    "text_scrub" ->
      """WITH d AS (SELECT lang, text, regexp_replace(text, '[0-9]+', '#', 'g') AS scrubbed FROM documents)
        |SELECT lang, cast(count(*) AS BIGINT) AS doc_cnt,
        | cast(sum(CASE WHEN scrubbed <> text THEN 1 ELSE 0 END) AS BIGINT) AS changed_cnt,
        | cast(sum(length(text)) AS BIGINT) AS sum_len_before,
        | cast(sum(length(scrubbed)) AS BIGINT) AS sum_len_after
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "text_token_regex" ->
      """WITH t AS (SELECT lang, len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok_cnt
        |           FROM documents)
        |SELECT lang, cast(count(*) AS BIGINT) AS doc_cnt,
        | cast(sum(tok_cnt) AS BIGINT) AS sum_regex_tokens,
        | min(tok_cnt) AS min_regex_tokens, max(tok_cnt) AS max_regex_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "corpus_snapshot_diff" ->
      """WITH old AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h, length(text) AS n_chars
        |  FROM documents WHERE doc_id % 10 <> 0),
        |neu AS (SELECT doc_id,
        |    ('0x' || substr(md5(CASE WHEN doc_id % 10 = 2 THEN text || ' v2'
        |                             ELSE text END), 1, 8))::BIGINT AS h,
        |    length(CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END) AS n_chars
        |  FROM documents WHERE doc_id % 10 <> 1),
        |diff AS (SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |    CASE WHEN old.h IS NULL THEN 'added'
        |         WHEN neu.h IS NULL THEN 'removed'
        |         WHEN old.h <> neu.h THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    coalesce(neu.n_chars, old.n_chars) AS chars
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id)
        |SELECT status, cast(count(*) AS BIGINT) AS doc_cnt,
        |  cast(sum(chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM diff GROUP BY status ORDER BY status""".stripMargin,
    "text_dup_spans" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
        |  FROM d WHERE len(toks) >= 16),
        |w AS (SELECT doc_id, n_toks, u.start,
        |    ('0x' || substr(md5(array_to_string(list_slice(toks, u.start+1, u.start+16), chr(1))), 1, 8))::BIGINT AS h
        |  FROM dd, LATERAL (SELECT unnest(generate_series(0, len(toks)-16)) AS start) u),
        |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM w GROUP BY h)
        |  WHERE nd >= 2),
        |m AS (SELECT w.doc_id, w.n_toks, w.start, w.start + 16 AS e FROM w JOIN dup USING (h)),
        |sp AS (SELECT doc_id, n_toks, start, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY start
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM m),
        |sp2 AS (SELECT *, CASE WHEN prev_max_end IS NULL OR start > prev_max_end
        |                       THEN 1 ELSE 0 END AS new_span FROM sp),
        |sp3 AS (SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM sp2),
        |spans AS (SELECT doc_id, n_toks, span_id, min(start) AS s, max(e) AS e
        |  FROM sp3 GROUP BY doc_id, n_toks, span_id)
        |SELECT doc_id, n_toks, cast(count(*) AS BIGINT) AS dup_span_cnt,
        |  cast(sum(e - s) AS BIGINT) AS dup_tokens,
        |  cast(sum(e - s) AS BIGINT) * 10000 // n_toks AS dup_ratio_bp
        |FROM spans GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,
    "text_chunk_windows" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |starts AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, len(toks)-1, 48)) AS start
        |  FROM d WHERE len(toks) > 0),
        |chunks AS (SELECT doc_id, start // 48 AS chunk_idx, start,
        |    list_slice(toks, start+1, start+64) AS chunk
        |  FROM starts)
        |SELECT doc_id, chunk_idx, start, cast(len(chunk) AS INTEGER) AS n_toks,
        |  chunk[1] AS first_tok, chunk[-1] AS last_tok,
        |  ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 8))::BIGINT AS chunk_h32
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, cast(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, cast(count(*) AS BIGINT) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, rnk, tok, tf, df FROM (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    cast(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df, tf.tok) AS INTEGER) AS rnk
        |  FROM tf JOIN df USING (tok))
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        | ('0x' || substr(md5(text), 1, 8))::BIGINT AS fp32, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_winnow_fingerprint" -> (winnowSelectSql("SELECT doc_id, text FROM documents") +
      "\nSELECT doc_id, i AS pos, hv AS fp FROM sel ORDER BY doc_id, pos"),
    "text_len_quantiles" ->
      """WITH d AS (SELECT lang, length(text) AS len, doc_id FROM documents),
        |ranked AS (SELECT lang, len,
        |  row_number() OVER (PARTITION BY lang ORDER BY len, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS cnt FROM d)
        |SELECT lang, max(cnt) AS n,
        |  max(CASE WHEN rn = ceil(cnt * 0.5) THEN len END) AS p50,
        |  max(CASE WHEN rn = ceil(cnt * 0.9) THEN len END) AS p90,
        |  max(CASE WHEN rn = ceil(cnt * 0.99) THEN len END) AS p99
        |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
