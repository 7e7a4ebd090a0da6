package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Derived-scale dataset generator: writes a K× copy of a testdata dir by unioning K
 * key-shifted copies of each fact table (sf1 posture evidence, r6 verdict #6 — no sf1
 * dir ships with the driver, and /root/testdata is read-only).
 *
 * Referential integrity holds per copy: orders/lineitem shift o_orderkey together,
 * orders/customer shift custkey together, embeddings shift vec_id with documents'
 * doc_id (the vec_id = doc_id joins keep per-copy integrity); dimension tables
 * (region/nation/supplier/part) copy through unchanged, so dim joins keep their
 * original fan-out. Embedding copies are norm-preserving sign/permutation remixes
 * (see the inline note) so the ANN/near-dup pair structure scales by K, not K².
 *
 * `documents.text` gets a PER-COPY token suffix (`tok` → `tok_i`): a verbatim copy would
 * make every cross-copy pair an exact/near duplicate and the LSH pair graph would grow
 * O(K²) — an input-distribution change masquerading as engine super-linearity. Suffixed
 * tokens keep copies mutually disjoint in shingle space, so the duplicate structure (and
 * every dedup workload) scales by exactly K. `n_chars` is recomputed from the new text.
 *
 * Usage: runMain graft.GenScale <srcSfDir> <outDir> <K> [tables]
 * `tables` (optional, comma-separated) restricts the derivation — a decade-beyond
 * probe of one family (e.g. K=1000 documents-only for the dedup matrix) shouldn't
 * pay for 600M lineitem rows it never reads.
 */
object GenScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: GenScale <srcSfDir> <outDir> <K> [tables]")
    val src = args(0); val out = args(1)
    val k = args(2).toInt
    val knownTables = Set("region", "nation", "supplier", "part", "customer",
      "orders", "lineitem", "events", "embeddings", "documents")
    val only: Option[Set[String]] = args.lift(3).map(_.split(",").toSet)
    // fail fast on a typo'd table name: an unknown name makes want() false for every
    // real table and GenScale would silently write NOTHING, which a decade-probe
    // script could misread as a completed derivation (ADVICE r15 #4)
    only.foreach { ts =>
      val unknown = ts -- knownTables
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.mkString(",")}; known: ${knownTables.toSeq.sorted.mkString(",")}")
    }
    def want(t: String): Boolean = only.forall(_.contains(t))
    val spark = LocalSession(shufflePartitions = Some(32))
    import spark.implicits._

    // via Tables: `ts` arrives as the canonical nanos-long whatever the source dir's
    // physical form (nanos, micros-LTZ, or the round-10 driver dirs' micros-NTZ)
    def read(t: String) = graft.engine.Tables(spark, src, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims pass through unchanged
    Seq("region", "nation", "supplier", "part").filter(want)
      .foreach(t => write(read(t), t))

    def scaled(t: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      if (want(t)) write((0 until k).map(i => shift(read(t), i)).reduce(_ union _), t)

    val OrderShift = 100000000L
    // >= the ceiling of any CDC-script insert-key offset (CdcQueries.customerScript
    // inserts at custkey+20M): a 10M shift made copy-0's inserted key collide with
    // copy-2's existing custkey, and the apply-vs-oracle gate hash-diverged (ADVICE r7)
    val CustShift = 100000000L
    val DocShift = 10000000L
    scaled("customer")((d, i) => d.withColumn("c_custkey", $"c_custkey" + i * CustShift))
    scaled("orders")((d, i) => d
      .withColumn("o_orderkey", $"o_orderkey" + i * OrderShift)
      .withColumn("o_custkey", $"o_custkey" + i * CustShift))
    scaled("lineitem")((d, i) => d.withColumn("l_orderkey", $"l_orderkey" + i * OrderShift))
    scaled("events")((d, i) => d
      .withColumn("event_id", $"event_id" + i * 1000000000L)
      .withColumn("user_id", $"user_id" + i * CustShift)
      // restore TIMESTAMP fidelity (r8 verdict #4): the source column is TIMESTAMP(NANOS),
      // read here as nanos-long under nanosAsLong; writing that long back verbatim
      // degraded the derived file to plain BIGINT, which no time-typed oracle (e.g.
      // events_retention's CAST(ts AS DATE)) can read. Spark cannot EMIT nanos, so the
      // derived file carries TIMESTAMP micros — engine.Tables normalizes both physical
      // forms back to the canonical nanos-long on read.
      .withColumn("ts", timestamp_micros(expr("ts div 1000"))))
    // embeddings scale WITH documents (r14 verdict #1: passing them through unchanged
    // made every sf10 simsearch number ≈ sf0.1): copy i shifts vec_id by the SAME
    // DocShift as documents, so the vec_id = doc_id join (simsearch_filtered,
    // rag_context_pack) keeps per-copy referential integrity. Copy i > 0 vectors are a
    // deterministic NORM-PRESERVING remix of the originals — coordinates rotate by
    // 7·i positions (7 coprime to 64) and each position's sign flips by a
    // multiplicative-hash parity — so derived corpora keep the original norm/scale
    // distribution while copies decorrelate (a random sign pattern drives cross-copy
    // dots toward 0, i.e. cross-copy distances ≈ random-pair distances). VERBATIM
    // copies would instead plant 99 exact duplicates of every vector: the semantic
    // dedup / near-dup pair structure would grow O(K²) — an input-distribution change
    // masquerading as engine super-linearity, same rationale as the documents token
    // suffix. Pure element permutation + float negation: no float arithmetic, so the
    // written file (which both engines read) is the single source of truth.
    // VECTORIZED copy fan-out (r18): a K-way union plan is fine to a few thousand
    // children but super-linear to ANALYZE past that (the sf1000e probe needs
    // K = 10000), so the copy index becomes a COLUMN — one scan, one explode of
    // sequence(0, K-1), the same shift/rotation/sign math evaluated per (row, copy).
    // Value-identical to the per-copy loop: every `i` below is the exploded column
    // where the loop form had a literal.
    if (want("embeddings")) {
      val iCol = $"_copy"
      val remixed = transform(sequence(lit(0), lit(63)), j => {
        val src = element_at($"embedding",
          (pmod(j + lit(7) * iCol, lit(64)) + 1).cast("int"))
        // parity of a middle-mixed multiplicative hash over the (copy, position)
        // pair — NOT (j + i) % 2, whose sign pattern would repeat every 2 copies
        val h = pmod((iCol * 64L + j + 1L) * lit(2654435761L), lit(1000000007L))
        when(pmod(h, lit(97)) < 48, -src).otherwise(src)
      })
      val d = read("embeddings")
      val rest = d.columns.filterNot(Set("vec_id", "embedding")).toSeq
        .map(org.apache.spark.sql.functions.col)
      write(d
        .select(Seq($"vec_id", $"embedding") ++ rest :+
          explode(sequence(lit(0L), lit(k.toLong - 1L))).as("_copy"): _*)
        .select(Seq(($"vec_id" + iCol * DocShift).as("vec_id"),
          when(iCol === 0L, $"embedding").otherwise(remixed).as("embedding")) ++
          rest: _*),
        "embeddings")
    }
    // VECTORIZED documents fan-out (r19, same rationale as embeddings above): the
    // K-way union chokes analysis at the sf1000 probe's K = 10000, so the copy index
    // is a COLUMN. Value-identical per (row, copy) to the r18 loop form — copy 0
    // passes through verbatim, copy i > 0 shifts doc_id and suffixes every token with
    // `_i` (the same split/trim/filter pipeline, `i` now a cast column instead of an
    // interpolated literal) and recomputes n_chars from the new text. Set-equality vs
    // the loop-built target/sf10e documents validated at K=100 (BASELINE.md r19);
    // only row ORDER in the written file differs (copies interleave per source row).
    if (want("documents")) {
      val iCol = $"_copy"
      val suffixed = array_join(
        transform(filter(split(trim($"text"), "\\s+"), t => t =!= ""),
          t => concat(t, lit("_"), iCol.cast("string"))), " ")
      val d = read("documents")
      val srcCols = d.columns.toSeq
      write(d
        .select(srcCols.map(org.apache.spark.sql.functions.col) :+
          explode(sequence(lit(0L), lit(k.toLong - 1L))).as("_copy"): _*)
        .withColumn("doc_id", $"doc_id" + iCol * DocShift)
        .withColumn("text", when(iCol === 0L, $"text").otherwise(suffixed))
        .withColumn("n_chars",
          when(iCol === 0L, $"n_chars").otherwise(length($"text").cast("long")))
        .select(srcCols.map(org.apache.spark.sql.functions.col): _*),
        "documents")
    }
    spark.stop()
  }
}
