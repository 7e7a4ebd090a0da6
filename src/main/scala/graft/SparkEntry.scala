package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry aggregated from the engine modules:
  *  - [[graft.engine.Relational]] — Layer-B semantics (B1-B10) + TPC-H-style analytics
  *  - [[graft.engine.CdcQueries]] — end-to-end CDC slices (parse/assemble/filter/envelope)
  *  - [[graft.ext.TextOps]]       — text analysis / fingerprinting
  *  - [[graft.ext.Dedup]]         — exact + MinHash-LSH + SimHash + Jaccard dedup
  *  - [[graft.ext.Similarity]]    — cosine top-k + LSH bucketing over embeddings
  *  - [[graft.ext.Multimodal]]    — binary media columns + WAV/BMP/AVI container codecs
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.engine.Relational.queries ++
      graft.engine.Skew.queries ++
      graft.engine.Temporal.queries ++
      graft.engine.CdcQueries.queries ++
      graft.ext.TextOps.queries ++
      graft.ext.Dedup.queries ++
      graft.ext.Similarity.queries ++
      graft.ext.Multimodal.queries

  /** Queries whose CONSTRUCTION executes a streaming harness (MemoryStream feed +
    * processAllAvailable): plan printers and other construct-only callers should skip
    * these unless explicitly requested. */
  val streamingHarness: Set[String] =
    Set("cdc_txn_reconstruct_stream", "cdc_pipeline_e2e", "cdc_apply_merge_stream",
      "events_window_stream", "events_dedup_stream", "events_dedup_stream_wm",
      "events_join_stream", "events_session_stream", "cdc_status_feed",
      "dedup_incremental_stream", "events_enrich_stream", "cdc_txn_timeout",
      "cdc_scd2_stream", "events_topk_stream", "events_heavy_hitters_stream",
      "dedup_winnow_admit_stream", "dedup_winnow_admit_stream_incr", "simsearch_stream",
      "simsearch_stream_ivfpq", "simsearch_stream_ivfpq_cells", "simsearch_stream_append",
      "dedup_image_admit_stream", "dedup_audio_admit_stream", "dedup_video_admit_stream",
      "dedup_image_admit_stream_incr",
      "cdc_pipeline_restart") // runs runBatchesWithRestarts (checkpointed restarts) at construction

  /** BATCH queries whose CONSTRUCTION nonetheless executes actions (the restart-artifact
    * gates persist + reload an index mid-build, so "constructing" them runs a full corpus
    * fold AND clobbers the on-disk artifact — ADVICE r15 #1). Plan printers and sweep
    * specs must skip these like the streaming harnesses. */
  val constructActions: Set[String] =
    Set("dedup_winnow_admit_persist", "dedup_image_admit_persist")

  /** Everything a construct-only caller (Explain, PlanSweepSpec) should skip. */
  val constructSkip: Set[String] = streamingHarness ++ constructActions

  /** MACHINE-READABLE SCALE PATHS (r17, VERDICT r16 #2): base operator → the
    * hash-verified substitute a large-corpus user should run instead. Three keys are
    * MEASURED-FATAL at sf100 (their probes died: 1200 s timeout / 75 GB shuffle kill /
    * disk-full — BASELINE.md r15/r16) and now carry a corpus-count `raise_error` gate
    * ([[graft.engine.ScaleGuard]]); the rest are documented-expensive parity anchors
    * (fixed-parameter or n²-CPU shapes whose substitute is the measured sub-quadratic
    * path). Every key and value resolves in [[queries]]; ScalePathSpec pins that, the
    * gate wiring, and each pair's output contract. */
  val scalePath: Map[String, String] = Map(
    // measured-fatal at sf100, count-gated:
    "dedup_embedding_cosine" -> "dedup_embedding_cosine_rel",
    "simsearch_stream_ivfpq" -> "simsearch_stream_ivfpq_cells",
    "dedup_image_phash33" -> "dedup_image_phash_stars",
    // documented-expensive anchors (complete at sf100, but a worse curve than the
    // substitute: flat SemDeDup 765 s vs tiered 130 s; exact serving priced ~3 h):
    "dedup_semantic" -> "dedup_semantic_tiered",
    "simsearch_stream" -> "simsearch_stream_ivfpq_cells",
    // absolute-cap → relative-cap pairs (fixed df/pair caps degenerate as the corpus
    // grows; the _rel forms size their caps from the corpus — r14/r15):
    "dedup_winnow_pairs" -> "dedup_winnow_pairs_rel",
    "dedup_video_partial" -> "dedup_video_partial_rel",
    // all-pairs output → star output (same knee as phash33 — the all-pairs OUTPUT
    // shape at saturated fingerprint cardinality; the star closure is the scale form):
    "dedup_image_phash" -> "dedup_image_phash_stars",
    "dedup_image_phash3" -> "dedup_image_phash_stars",
    // r17 sf100 probe, measured-fatal (disk watchdog kill), count-gated: the batch
    // assembly's feed-sized xid shuffle → the streaming assembler (whose wire-to-replica
    // chain the perfbench cdc_drain workload drives):
    "cdc_txn_reconstruct" -> "cdc_txn_reconstruct_stream",
    // r17 in-place fix shipped for events_range_join (prefix-sum form, value-identical,
    // 1500 s timeout → 14.6 s at sf100), so it needs no scale-path entry; the
    // documented-expensive cdc_scd2_incremental anchor reuses its persisted prior
    // (fingerprint-validated) rather than substituting an operator.
    // cdc_scd2_history stays the rebuild anchor:
    "cdc_scd2_history" -> "cdc_scd2_incremental")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.engine.Relational.oracle ++
      graft.engine.Skew.oracle ++
      graft.engine.Temporal.oracle ++
      graft.engine.CdcQueries.oracle ++
      graft.ext.TextOps.oracle ++
      graft.ext.Dedup.oracle ++
      graft.ext.Similarity.oracle ++
      graft.ext.Multimodal.oracle
}
