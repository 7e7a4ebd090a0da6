package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-count gates for base operators with a MEASURED scale knee (r15–r19 decade
  * probes, BASELINE.md). Four registered queries died at sf100 in their probes —
  * `dedup_embedding_cosine` (fixed 10 planes → quadratic verify pair mass, killed at
  * its 1200 s timeout), `simsearch_stream_ivfpq` (fixed 8-cell quantizer → 75 GB of
  * per-wave ADC shuffle, killed), `dedup_image_phash33` (all-pairs output at saturated
  * fingerprint cardinality → ~2.5·10⁹ output rows, disk-full), and the CDC batch
  * assembly `cdc_txn_reconstruct` (feed-sized xid shuffle, disk-watchdog-killed) —
  * plus `dedup_image_phash` / `dedup_image_phash3`, which share phash33's measured
  * knee exactly (the death is the all-pairs OUTPUT shape, not the banding scheme;
  * all three emit ~85M rows at sf10 — VERDICT r17 #1) — and each has a
  * hash-verified substitute named in [[graft.SparkEntry.scalePath]]. The base ops stay
  * registered (they are the parity anchors their oracles pin), but a 100 TB user who
  * picks one from the registry must get a NAMED error at the measured-fatal scale, not
  * the silent death the probe measured — the `guardBroadcast` discipline applied to
  * plan choice. The r19 additions are the two FLAT ANCHORS (`dedup_semantic`,
  * `simsearch_stream`): both pass at sf100 (documented-expensive — 736.8 s / priced
  * ~3 h) and are measured-fatal one decade up at sf1000 (VERDICT r18 #2), so their
  * gate sits a decade HIGHER than the r16 embedding gates. Both stay registered as
  * the ≤sf100 parity oracles of their substitutes (the phash33 pattern).
  *
  * Thresholds sit between each gate's largest measured-passing scale and its
  * measured-death scale (per-gate bounds spec-pinned in ScalePathSpec), so nothing
  * green today can trip, and the probe-fatal scale reliably does. */
object ScaleGuard {
  /** Largest embeddings corpus (base-table rows) the fixed-parameter embedding ops may
    * see: sf10 (200k) passed both probes; sf100 (2M) killed both. */
  val EmbeddingKneeRows = 1000000L

  /** Largest documents corpus for the all-pairs image near-dup output: sf10 (500k docs,
    * 85M output rows) completed; sf100 (5M docs, ~2.5·10⁹ output rows) filled the disk.
    * The knee is the OUTPUT shape (saturated fingerprint cardinality → all-pairs
    * expansion), identical across the three phash banding schemes — sf10 outputs are
    * 84.3M / 85.0M / 85.0M rows for phash / phash3 / phash33 — so all three carry the
    * gate even though the r15 probe measured the death on phash33 (VERDICT r17 #1). */
  val ImageAllPairsKneeRows = 2500000L

  /** Largest orders corpus for the disk-fatal CDC batch assembly (r17 probe): sf10
    * (15M orders) completed with a 1.45 GB disk spill; sf100 (150M orders) was killed
    * by the disk watchdog (the batch assembly shuffles the feed-sized wire history on
    * xid, ~250 GB at sf100). */
  val CdcBatchKneeRows = 50000000L

  /** Largest embeddings corpus for the two FLAT anchors (r19 probe, VERDICT r18 #2):
    * sf100 (2M vectors) completed both — flat SemDeDup in 736.8 s, exact serving
    * priced ~3 h; sf1000 (20M) is measured-fatal for both (the flat n²/k assignment
    * and the per-batch full-corpus exact scan — BASELINE.md r19). One decade above
    * their documented-expensive sf100 evidence, a decade under the measured death. */
  val FlatAnchorKneeRows = 6000000L

  /** Measured-fatal base op → (gated table, knee threshold, probe evidence). The probe
    * string names the BASELINE.md round whose measurement set the threshold, carried per
    * gate so the operator-facing error cites the right evidence (ADVICE r17 #4).
    * Spec-pinned against [[graft.SparkEntry.scalePath]]: every key here must have a
    * named substitute. */
  val gates: Map[String, (String, Long, String)] = Map(
    "dedup_embedding_cosine" -> (("embeddings", EmbeddingKneeRows, "r16 probe")),
    "simsearch_stream_ivfpq" -> (("embeddings", EmbeddingKneeRows, "r16 probe")),
    "dedup_image_phash33" -> (("documents", ImageAllPairsKneeRows, "r15 probe")),
    "dedup_image_phash" ->
      (("documents", ImageAllPairsKneeRows, "r15 probe of phash33, identical output shape")),
    "dedup_image_phash3" ->
      (("documents", ImageAllPairsKneeRows, "r15 probe of phash33, identical output shape")),
    "cdc_txn_reconstruct" -> (("orders", CdcBatchKneeRows, "r17 probe")),
    "dedup_semantic" -> (("embeddings", FlatAnchorKneeRows, "r19 probe (sf1000)")),
    "simsearch_stream" -> (("embeddings", FlatAnchorKneeRows, "r19 probe (sf1000)")))

  /** In-plan gate: one metadata-cheap `count` of the base table, folded into the plan
    * as a broadcast single-row frame whose `raise_error` fires while the broadcast is
    * built — i.e. within seconds of the action, long before the knee's hours of work.
    * Lazy and side-effect-free at construction (the plan-sweep discipline); the join
    * is a 1-row broadcast, never a CartesianProduct; output rows/schema unchanged. */
  def gate(df: DataFrame, s: SparkSession, dir: String, op: String): DataFrame = {
    val (table, maxRows, probe) = gates(op)
    gateAt(df, s, dir, table, maxRows, op, probe)
  }

  /** [[gate]] with an explicit threshold — the spec hook (maxRows = 0 makes any corpus
    * trip, proving the raise_error path without a million-row fixture). */
  private[graft] def gateAt(df: DataFrame, s: SparkSession, dir: String,
      table: String, maxRows: Long, op: String, probe: String = "probe"): DataFrame = {
    import s.implicits._
    // The raise_error must live in a FILTER, not a projected-then-dropped column —
    // column pruning would eliminate a dead projection (and its error) entirely. The
    // filter always passes below the knee (the when yields 0), so the guard is one row
    // and the cross join is an identity; past the knee the predicate evaluation itself
    // raises. Either way the expression cannot be pruned.
    val guard = Tables(s, dir, table).groupBy().count()
      .select(when($"count" > maxRows, raise_error(concat(
          lit(s"$op: $table corpus of "), $"count".cast("string"),
          lit(s" rows is past this operator's measured scale knee (> $maxRows; " +
            s"BASELINE.md $probe) — use its scale path " +
            s"'${graft.SparkEntry.scalePath(op)}' (SparkEntry.scalePath)"))))
        .otherwise(lit(0L)).as("_scale_gate"))
      .filter($"_scale_gate" === 0L)
    df.crossJoin(broadcast(guard)).drop("_scale_gate")
  }

  /** Driver-side form for the streaming harness (whose CONSTRUCTION runs the stream —
    * an in-plan gate on the collected output frame would fire after the death). */
  def require(s: SparkSession, dir: String, op: String): Unit = {
    val (table, maxRows, probe) = gates(op)
    requireAt(s, dir, table, maxRows, op, probe)
  }

  private[graft] def requireAt(s: SparkSession, dir: String, table: String,
      maxRows: Long, op: String, probe: String = "probe"): Unit = {
    val n = Tables(s, dir, table).count()
    if (n > maxRows) throw new IllegalArgumentException(
      s"$op: $table corpus of $n rows is past this operator's measured scale knee " +
        s"(> $maxRows; BASELINE.md $probe) — use its scale path " +
        s"'${graft.SparkEntry.scalePath(op)}' (SparkEntry.scalePath)")
  }
}
