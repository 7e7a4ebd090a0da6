package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over the `embeddings` table (`embedding: array<float>`, 64-dim).
 *
 *  - brute-force cosine top-k: broadcast the (small) query set, score every base vector with
 *    the native codegen'd `vec_dot` expression, rank per query with a window. The
 *    scan side stays partition-parallel and never shuffles the base vectors — only the
 *    (n_queries × k) winners move. This is the exact baseline;
 *  - sign-random-projection LSH bucketing: 4 hyperplanes → 16 buckets; the scale path probes
 *    only matching buckets instead of all vectors. Hyperplanes are taken from fixed base
 *    vectors so both engines (and any future run) derive identical planes.
 *
 * Floats are cast to double before any arithmetic: both Spark's `aggregate` fold and
 * DuckDB's list_dot_product then produce bit-identical sequential double sums, so cosine
 * scores round identically and the oracle hash-compare is exact.
 */
object Similarity {

  /** Sequential-fold dot product of two double- OR long-array columns — the NATIVE
    * codegen'd [[graft.functions.VecDot]] expression (the HOF `aggregate(zip_with(...))`
    * fold evaluates interpreted; `vec_dot` emits the primitive loop into whole-stage
    * codegen with bit-identical sequential-sum + null semantics; the long variant keeps
    * overflow loud via multiplyExact/addExact like the ANSI fold). */
  // Pure Column combinator: `call_function` resolves by NAME at analysis time, so the
  // session that will analyze the plan must have `vec_dot` registered — every builder in
  // this file calls `VecDot.ensureRegistered(s)` on its explicit session (directly or via
  // `milliQ`/`pqAdcRanked`) before constructing Columns. Registration deliberately does
  // NOT happen here: `SparkSession.active` is the thread-active session, which is not
  // necessarily the session the caller will run the query on (ADVICE r7).
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def toDouble(c: Column): Column = transform(c, _.cast("double"))

  private[ext] val NumQueries = 3
  private val TopK = 10
  private val PlaneIds = Seq(10L, 11L, 12L, 13L)
  // near-dup path: more planes -> smaller buckets -> pairs ~ n^2 / (2 * 2^planes)
  private val DupPlaneIds = (10L to 19L).toSeq
  private[ext] val DupIdOffset = 1000000L
  // IVF: fixed "centroid" set (base vectors 20..27), nprobe = 1
  private val CentroidIds = (20L to 27L).toSeq
  private val IvfTopK = 5
  // PQ: M subspaces x SubDim dims (= the 64-dim embedding), K codewords per subspace
  // drawn from fixed base vectors (code = seed vec_id - PqSeedBase)
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 4
  private val PqSeedBase = 30L
  // trained-IVF chain (r6 verdict #5): cells trained by one Lloyd round, 2 cells probed
  private[ext] val IvfNProbe = 2
  // recall-vs-nprobe sweep points (r7 verdict #5): the quality/cost curve of the index
  private val RecallCurveNProbes = Seq(1, 2, 4)
  /** Shortlist depth of the PQ→exact two-stage rank: 3× the final k. */
  private val PqRerankR = 30
  /** RRF constant (the standard k=60) and the integer scale that keeps 1/(k+rank)
    * exact under `div`. */
  private val RrfK = 60
  private val RrfScale = 1000000000L
  /** Context-window token budget of the `rag_context_pack` greedy prefix pack —
    * shared with the oracle so the gates cannot drift. */
  private val RagPackBudget = 256L
  /** `vec_id % 11` residue of the `simsearch_ivf_append` incoming batch — chosen so the
    * Lloyd seed ids (20..27 ≡ 9,10,0,1,2,3,4,5 mod 11) ALL stay in the base corpus. */
  private[ext] val IvfAppendResidue = 6L
  /** SemDeDup near-dup radius in integer milli² units — far below the ~1.3e8 distance of
    * a random 64-dim pair, so only genuine copies fall inside. */
  private val SemDedupEpsMilli = 1000000L
  /** SemDeDup cluster-count scaling (r15, the r14 relative-cap discipline applied to the
    * semantic dedup family): cells = max(8, n_embeddings / 250), i.e. one cell per ~500
    * rows of the DOUBLED dedup corpus. A FIXED cell count is the absolute-cap shape that
    * degenerates at scale — at 100× the corpus, 8 cells hold 50k rows each and the
    * within-cell pair join quadratic-blows (≈2·10¹⁰ candidates); scaling k with n keeps
    * Σ C(cell, 2) ≈ n·cellTarget/2, i.e. LINEAR in the corpus, which is exactly the
    * SemDeDup paper's k ∝ n posture. At every driver gate scale (≤2000 embeddings) the
    * formula floors at 8 — bit-identical to the fixed-seed behavior it replaces. */
  private val SemDedupCellDivisor = 250L
  /** Seed vectors for the scaled cell set: the lowest `nCents` vec_ids ≥ this base
    * present in the corpus (= [[CentroidIds]].head, so the floor case selects exactly
    * the fixed IVF seed set). Selection by order-and-limit, not an id-range assumption —
    * derived corpora (GenScale) have non-contiguous id blocks. */
  private val SemDedupSeedBase = CentroidIds.head
  /** Per-batch arrival bound of the streaming search servers (r15): every per-batch
    * broadcast side — the arrival id set, its (q_id, qv, vv) lookup, probe cells,
    * ADC LUTs, the R-deep shortlist — is arrivals-sized or arrivals × constant, and
    * the widest (the vector lookup at ~520 B/row) stays ~100 MB at this bound. A
    * batch past it fails LOUDLY (TextOps.guardBroadcast) instead of OOMing the
    * driver mid-broadcast; at that scale re-batch upstream or move the arrival side
    * to a shuffle join. sf10's feed is 2,000/batch — 100× headroom. */
  private val StreamQueryMaxBatch = 200000L

  /** Compaction period of [[ivfPqStreamAppend]]'s base+deltas serving layout: after
    * this many delta checkpoints accumulate, base ∪ deltas folds into a fresh base.
    * Bounds the serving union's width (scan fan-in and per-wave planning stay flat)
    * while amortizing the full-store materialization to 1/K waves — the knob trading
    * read amplification against write amplification; 8 keeps the union shallower
    * than the shuffle partition count while cutting the r19 per-wave fold 8×. */
  private[ext] val AppendCompactEvery = 8

  /** Milli-quantized integer embeddings `(vec_id, qv, vv = |qv|²)` — the exact-arithmetic
    * domain shared by the k-means, PQ and trained-IVF chains. */
  private def milliQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.VecDot.ensureRegistered(s)
    graft.engine.Tables(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => (x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("vv", dot($"qv", $"qv"))
  }

  /** One Lloyd update from the fixed seed set: assign every vector to its max-dot seed,
    * then per-(cid, dim) integer floor-mean → the round-1 centroids `(cid, cvec)`.
    * Shared by `simsearch_kmeans_iter` (which then re-assigns and reports inertia) and
    * `simsearch_ivf_trained` (which builds the probe index from them) — one definition,
    * so "the centroids the IVF probes" and "the centroids k-means trains" cannot drift. */
  private def lloydOnce(s: SparkSession, q: DataFrame): DataFrame = {
    import s.implicits._
    lloydOnceFrom(s, q, q.filter($"vec_id".isin(CentroidIds: _*))
      .select($"vec_id".as("cid"), $"qv".as("cvec")))
  }

  /** [[lloydOnce]] with an explicit seed frame `(cid, cvec)` — `dedup_semantic` scales
    * its seed COUNT with the corpus (SemDeDup's quadratic term is bounded per cell, so
    * the cell count must grow as the corpus does); the fixed-seed IVF/k-means chains
    * keep the [[CentroidIds]] default above. */
  private def lloydOnceFrom(s: SparkSession, q: DataFrame, cent0: DataFrame): DataFrame = {
    import s.implicits._
    // assignment aggregates NARROW packed rows, never the 512-byte vector (r15: wide
    // first(qv) through the corpus × cells agg spilled ~1 TB; r16: the packed-argmax
    // HashAggregate of assignCells replaced the narrow max_by, whose SortAggregate
    // fallback died at sf100 — see assignCells' scaladoc for both measurements)
    val cellOf = assignCells(q, cent0).withColumnRenamed("cell", "cid")
    q.join(cellOf, Seq("vec_id"))
      .select($"cid", posexplode($"qv").as(Seq("pos", "v")))
      .groupBy($"cid", $"pos")
      .agg(floor(sum($"v").cast("double") / count(lit(1))).cast("long").as("cd"))
      .groupBy($"cid")
      .agg(transform(array_sort(collect_list(struct($"pos", $"cd"))),
        x => x.getField("cd")).as("cvec"))
  }

  /** The PQ compressed-domain (ADC) ranking shared by `simsearch_pq` (top-k straight
    * from approximate distances) and `simsearch_pq_rerank` (deeper shortlist, then exact
    * re-rank): M×K codebook from fixed seed vectors, nearest-codeword encoding by exact
    * integer L2, per-query flat lookup maps broadcast to the candidates, `row_number`
    * rank over the summed per-subspace contributions. Callers filter `rnk` immediately,
    * so Spark's rank-limit pushdown (WindowGroupLimit) still bounds the sort. */
  private def pqAdcRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (codes, lut) = pqCodesAndLut(s, dir)
    val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id")
    codes.crossJoin(broadcast(lut))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", adcDist)
      .withColumn("rnk", row_number().over(w))
  }

  /** The M-map-probe ADC score of a `codes` row against the joined query's `lut` —
    * UNROLLED over the M fixed subspaces as a sum of native element_at probes (r15):
    * the previous `aggregate(zip_with(...))` fold is a nested HOF that evaluates
    * INTERPRETED per row (the r13 winnow lesson), which dominated the streaming
    * server's ~1e8-candidate-per-batch ADC scan; the unrolled form is whole-stage
    * codegen end to end and value-identical (same integer adds, same key arithmetic,
    * same ANSI missing-key semantics — M is a compile-time constant). */
  private def adcDist: Column =
    (0 until PqM).map { sIdx =>
      element_at(col("lut"),
        (lit(sIdx * PqK) + element_at(col("codes"), sIdx + 1)).cast("int"))
    }.reduce(_ + _)

  /** The PQ index artifacts shared by the flat-ADC chain ([[pqAdcRanked]]) and the
    * IVF-composed chain (`simsearch_ivfpq`): the M×K codebook from fixed seed
    * vectors, nearest-codeword integer-L2 encoding of every vector into one codes
    * array, and the per-query flat ADC lookup map. One definition, so "the codes the
    * flat scan ranks" and "the codes the cell-probed scan ranks" cannot drift. */
  private def pqCodesAndLut(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val (subs, cb, codes) = pqArtifacts(s, dir)
    // ADC lookup tables: per query ONE flat map (sub*K + code -> exact contribution),
    // so scoring a candidate is M map probes instead of a join or a dot product
    val lut = pqLutFrom(
      subs.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"sub", $"sv", $"svv"), cb)
    (codes, lut)
  }

  /** The raw PQ index artifacts: `subs` (one row per (vector, subspace): sv = the
    * contiguous PqSubDim-slice, svv = |sv|²), the M×K codebook `cb`, and the encoded
    * corpus `codes` (nearest codeword per (vector, subspace) by exact
    * L2² = svv - 2·sv·cw + cc, tie-break lowest code, assembled into one array per
    * vector in subspace order). */
  private def pqArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
    pqArtifactsOver(graft.engine.Tables(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => (x.cast("double") * 1000).cast("long")).as("qv")))
  }

  /** [[pqArtifacts]] over an explicit `(vec_id, qv)` corpus frame — the streaming
    * append server and its spec build the same artifacts over corpora that are not a
    * plain table scan (base ∪ already-appended copies); one definition, so "the codes
    * the batch chain ranks" and "the codes the fold appends" cannot drift. The seed
    * rows (PqSeedBase..+PqK-1) must be present in `q`. */
  private def pqArtifactsOver(q: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val s = q.sparkSession
    import s.implicits._
    val subs = pqSubs(q)
    val cb = subs.filter($"vec_id".between(PqSeedBase, PqSeedBase + PqK - 1))
      .select($"sub", ($"vec_id" - PqSeedBase).cast("int").as("code"),
        $"sv".as("cw"), $"svv".as("cc"))
    (subs, cb, pqEncodeSubs(subs, cb))
  }

  /** One row per (vector, subspace) of a `(vec_id, qv, …)` frame: `sv` = the contiguous
    * PqSubDim-slice, `svv` = |sv|². */
  private def pqSubs(q: DataFrame): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    q.select($"vec_id", posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          i => slice($"qv", i * PqSubDim + 1, lit(PqSubDim)))).as(Seq("sub", "sv")))
      .withColumn("svv", dot($"sv", $"sv"))
  }

  /** Nearest-codeword encoding of a subspace frame against a codebook: exact integer
    * L2² = svv - 2·sv·cw + cc per (vector, subspace, codeword), tie-break lowest code,
    * assembled into one codes array per vector in subspace order. The codebook
    * broadcasts (M×K rows). */
  private def pqEncodeSubs(subs: DataFrame, cb: DataFrame): DataFrame = {
    val s = subs.sparkSession
    import s.implicits._
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("d", $"svv" - lit(2L) * dot($"sv", $"cw") + $"cc")
      .groupBy($"vec_id", $"sub")
      .agg(min_by($"code", struct($"d", $"code")).as("code"))
      .groupBy($"vec_id")
      .agg(transform(array_sort(collect_list(struct($"sub", $"code"))),
        x => x.getField("code")).as("codes"))
  }

  /** Low-field width of the packed argmax (see [[assignCells]]): up to 2^30 cell ids,
    * leaving 33 high bits for the dot. Milli-quantized 64-dim dots are bounded by
    * 64·(|q|·|c|) ≤ 64·(2^13)² = 2^32 < 2^33, so the product can never overflow.
    *
    * WIDTH (r18): 21 bits sufficed for dense group indices and bench-scale seed ids,
    * but seed CIDs are raw vec_ids and GenScale strides copies 10M apart — at sf100
    * the k = n/250 SemDeDup seed set already spans ids ≈ 2·10⁷ > 2²¹, so the r17
    * cid-direct pack would refuse (a latent guard-fire found by the r18 sf1000 probe
    * prep, confirmed at sf100). The dot only needs 33 of the 63 magnitude bits, so the
    * cid field takes the other 30: ids to ~1.07·10⁹ pack directly (sf1000's ~2·10⁸
    * included), the argmax key stays order-isomorphic to (dot, −cid) — same winners,
    * same tie-breaks, every oracle unchanged — and past 2³⁰ the guard still refuses
    * loudly. */
  private[ext] val CellIdxBits = 30
  private[ext] val CellIdxMask = (1L << CellIdxBits) - 1L

  /** Loud capacity guard on a tiny candidate frame before a packed argmax: every `cid`
    * must fit the low field, i.e. sit in `[0, 2^30)`. All current centroid frames carry
    * seed vec_ids (GenScale-strided, ≤ ~2·10⁸ at sf1000) or dense group indices, so the
    * guard never fires in practice — it exists so a caller whose ids exceed the field
    * fails with a NAMED error instead of a silently corrupted argmax (negative low
    * field breaks both the max ordering and the `& mask` decode). Shared by
    * [[assignCells]] and the tiered fine stage (r16 ADVICE: the inline pack there
    * previously skipped the guard). */
  private[ext] def guardCellIds(cands: DataFrame): DataFrame = {
    val s = cands.sparkSession
    import s.implicits._
    guardDotMagnitude(cands, "cvec")
      .withColumn("cid", when($"cid" < 0L || $"cid" > CellIdxMask,
        raise_error(concat(lit("packed-argmax: cell id outside [0, " +
          s"${CellIdxMask + 1}) at cid="), $"cid".cast("string"))))
      .otherwise($"cid"))
  }

  /** Squared-norm bound for the packed argmax's dot field: with `|v|² ≤ 2^32` on BOTH
    * sides of every dot, Cauchy–Schwarz bounds every cross dot by `√(2^32·2^32) = 2^32
    * < 2^33`, the high field's capacity. */
  private[ext] val DotNormSqBound = 1L << 32

  /** Loud capacity guard on the dot-magnitude side of the packed argmax (r18 ADVICE):
    * widening the cid field to 30 bits shrank dot headroom to 2^33, and the
    * milli-component magnitude assumption (`|x|·1000 ≤ 2^13`, so 64-dim |v|² ≤ 2^32)
    * was comment-only — a corpus with larger components would silently corrupt the
    * pack. This checks `v·v ≤ 2^32` per row as a FILTER predicate (a projected-then-
    * dropped guard column gets column-pruned and never fires), placed BELOW the
    * cross/equi join so it runs once per input row, not once per candidate pair —
    * one extra 64-mult dot against the k dots the row is about to do.
    *
    * Null handling (ADVICE r19 #2): a null vector (or a vector with null components)
    * makes `v·v` null — that row gets its OWN named error via the first CaseWhen
    * branch rather than a misleading "> 2^32 overflow" message, and the branch
    * structure (CaseWhen evaluates arms conditionally by contract) removes the
    * previous implicit reliance on `Or`'s left-to-right short-circuit to keep
    * `raise_error` from firing on valid rows. */
  private[ext] def guardDotMagnitude(df: DataFrame, vec: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val vv = dot(col(vec), col(vec))
    df.filter(
      when(vv.isNull, raise_error(lit(
          s"packed-argmax: $vec is null or contains null components — " +
            "no squared-norm bound can be established for the packed dot field"))
          .cast("boolean"))
        .when(vv <= lit(DotNormSqBound), lit(true))
        .otherwise(raise_error(concat(lit("packed-argmax: |" + vec + "|^2 > 2^32 " +
          "(dot headroom 2^33 with the 30-bit cid field) — squared norm "),
          vv.cast("string"))).cast("boolean")))
  }

  /** The packed argmax key: `dot·2^30 + (mask − cid)` — one BIGINT whose plain `max`
    * is bit-identical to `max_by(cid, struct(dot, −cid))` (highest dot, ties to the
    * LOWEST cid: lower cid → larger low field). `cid` must be pre-guarded into
    * `[0, 2^30)` via [[guardCellIds]]. */
  private def packCell(dotCol: Column, cid: Column): Column =
    dotCol * (CellIdxMask + 1L) + (lit(CellIdxMask) - cid)

  /** Decode of [[packCell]]'s winner back to its cid. The low field is non-negative,
    * so two's-complement `& mask` decodes it for negative dots too. */
  private def unpackCell(pack: Column): Column =
    (lit(CellIdxMask) - pack.bitwiseAND(CellIdxMask)).cast("long")

  /** Max-dot cell assignment of `(vec_id, qv, …)` rows against a tiny `(cid, cvec)`
    * centroid frame (broadcast; ties to the lower cid) → `(vec_id, cell)`.
    *
    * PACKED-ARGMAX FORM (r16, measured): `max_by(cid, struct(dot, -cid))` is a
    * declarative aggregate with a STRUCT buffer, which UnsafeRow cannot mutate in
    * place, so Spark plans a **SortAggregate** — every (vector × centroid) narrow row
    * is sorted per task before the partial collapse. With cells ∝ n (`dedup_semantic`)
    * that sort input is quadratic: at sf100 (4M vectors × 8k cells = 3.2·10¹⁰ rows)
    * the partial sort wrote >100 GB of spill in two minutes and died
    * SPILL_OUT_OF_MEMORY, where sf10 (100× fewer rows) completed with a 3 GB spill.
    * Packing the monotone key into ONE BIGINT (see [[packCell]]) turns the aggregate
    * into plain `max` over a mutable long buffer → HashAggregate, fully pipelined with
    * the broadcast nested-loop join: zero sort, zero materialization, bit-identical
    * argmax.
    *
    * CID-DIRECT FORM (r17): r16 packed a dense `row_number` index and joined the
    * winner's index back to its cid — two extra tiny-frame stages whose fixed
    * ~0.1–0.35 s per assignment was the round's only bench regression (isolated by a
    * committed min-of-5 A/B, BASELINE.md r16). Every caller's cids are small seed
    * vec_ids or dense group indices, all far below the 2^30 field, so the pack now
    * carries `cid` itself under [[guardCellIds]]'s loud capacity check — the window
    * and the decode join are gone. The argmax winner is unchanged: the r16 index was
    * `row_number() over (order by cid)`, order-isomorphic to cid, so "lowest index
    * wins" ≡ "lowest cid wins". */
  private def assignCells(q: DataFrame, cents: DataFrame): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    guardDotMagnitude(q, "qv").crossJoin(broadcast(guardCellIds(cents)))
      .select($"vec_id", packCell(dot($"qv", $"cvec"), $"cid").as("pack"))
      .groupBy($"vec_id")
      .agg(max($"pack").as("pack"))
      .select($"vec_id", unpackCell($"pack").as("cell"))
  }

  /** TWO-LEVEL (tiered) max-dot assignment of `(vec_id, qv, …)` rows against a `(cid,
    * cvec)` seed frame of k rows — the n^1.25 assignment path shared by
    * `dedup_semantic_tiered` and the √N-cell server's offline index build (r17,
    * VERDICT r16 #4). The k seeds split into g = ⌈√k⌉ balanced groups (cidx % g, cidx
    * the rank of cid), each group's integer floor-mean is its coarse rep, and every
    * vector assigns coarse-first (N·g dots) then fine WITHIN its group (N·k/g dots) —
    * N·2√k total instead of flat's N·k. Both levels are the guarded packed argmax
    * (max dot, ties to the lower grp/cid). Identical vectors take identical paths at
    * both levels, so planted copies always share a cell; the assignment is NOT
    * guaranteed equal to the flat argmax (a vector's best seed can sit outside its
    * coarse group) — callers' oracles replicate this exact two-level rule. */
  private def assignCellsTiered(q: DataFrame, seeds: DataFrame, k: Long): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val g = math.ceil(math.sqrt(k.toDouble)).toLong
    val wIdx = Window.orderBy($"cid") // k rows: single-partition window is fine
    val seedsIdx = seeds
      .withColumn("cidx", row_number().over(wIdx).cast("long") - 1L)
      .withColumn("grp", $"cidx" % g)
    // coarse reps: per-group integer floor-mean of the member seeds (g × 64 rows)
    val coarse = seedsIdx.select($"grp", posexplode($"cvec").as(Seq("pos", "v")))
      .groupBy($"grp", $"pos")
      .agg(floor(sum($"v").cast("double") / count(lit(1))).cast("long").as("cd"))
      .groupBy($"grp")
      .agg(transform(array_sort(collect_list(struct($"pos", $"cd"))),
        x => x.getField("cd")).as("cvec"))
      .select($"grp".as("cid"), $"cvec")
    val grpOf = assignCells(q, coarse).withColumnRenamed("cell", "grp")
    // fine assignment within the chosen group: the same guarded packed argmax as
    // assignCells (cid-direct), candidate seeds bounded to k/g ≈ √k per vector by the
    // grp equi-join
    guardDotMagnitude(q, "qv").join(grpOf, Seq("vec_id"))
      .join(broadcast(guardCellIds(seedsIdx.select($"grp", $"cid", $"cvec"))), Seq("grp"))
      .select($"vec_id", packCell(dot($"qv", $"cvec"), $"cid").as("pack"))
      .groupBy($"vec_id").agg(max($"pack").as("pack"))
      .select($"vec_id", unpackCell($"pack").as("cell"))
  }

  /** The flat per-query ADC lookup map from a `(q_id, sub, sv, svv)` subspace frame —
    * ONE rendering shared by the fixed-query chains (corpus `subs` filtered to the
    * query ids) and the streaming server (the arriving batch's slices). */
  private def pqLutFrom(qsubs: DataFrame, cb: DataFrame): DataFrame = {
    val s = qsubs.sparkSession
    import s.implicits._
    qsubs.join(broadcast(cb), Seq("sub"))
      .withColumn("d", $"svv" - lit(2L) * dot($"sv", $"cw") + $"cc")
      .groupBy($"q_id")
      .agg(map_from_entries(collect_list(
        struct(($"sub" * PqK + $"code").cast("int"), $"d"))).as("lut"))
  }

  /** The composed IVF→PQ-ADC→exact-re-rank serving chain behind `simsearch_ivfpq`
    * (IVFADC-R, Jégou et al.: coarse quantizer restricts the scan, PQ scores the
    * survivors in the compressed domain, the shortlist re-ranks exactly), with
    * `nprobe` exposed so IvfPqSpec can set it to |cells| and prove the full-coverage
    * degeneration: probing every cell must reproduce `simsearch_pq_rerank` exactly. */
  private[ext] def ivfPqRanked(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfPqRankedOver(s, milliQ(s, dir).cache(), nprobe)

  /** [[ivfPqRanked]] over an explicit `(vec_id, qv, vv)` corpus frame — the streaming
    * append spec replays the chain over base ∪ already-appended copies to prove the
    * fold computes exactly what a batch recompute would. Seed/centroid/query rows must
    * be present in `q` (they are: appended copies shift ids by +DupIdOffset). */
  private[ext] def ivfPqRankedOver(s: SparkSession, q: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    // coarse quantizer: fixed seed centroids, max-dot assignment (the integer-IVF
    // discipline, packed-argmax HashAggregate — see assignCells); the probe list
    // re-scores only the query rows
    val cents = q.filter($"vec_id".isin(CentroidIds: _*))
      .select($"vec_id".as("cid"), $"qv".as("cvec"))
    val assigned = assignCells(q, cents)
    val scoredC = q.crossJoin(broadcast(cents))
      .withColumn("dot", dot($"qv", $"cvec"))
    val wProbe = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"cid")
    val probes = scoredC.filter($"vec_id" < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"vec_id".as("q_id"), $"cid".as("p_cell"))
    val (subs, cb, codes) = pqArtifactsOver(q.select($"vec_id", $"qv"))
    val lut = pqLutFrom(
      subs.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"sub", $"sv", $"svv"), cb)
    // cell gate BEFORE any scoring: only vectors in a probed cell meet the ADC scan
    // (each vector lives in exactly one cell, so one probe row per query can match —
    // no dedup stage); the probe list (queries × nprobe rows) broadcasts, the corpus
    // side never shuffles for it
    val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id")
    val shortlist = codes.join(assigned, Seq("vec_id"))
      .join(broadcast(probes), $"cell" === $"p_cell" && $"vec_id" =!= $"q_id")
      .join(broadcast(lut), Seq("q_id"))
      .withColumn("adist", adcDist)
      .withColumn("rnk", row_number().over(wAdc))
      .filter($"rnk" <= PqRerankR)
      .select($"q_id", $"vec_id", $"adist")
    // exact integer-L2 re-rank over full quantized vectors, shortlist rows only
    val qs = q.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"qv".as("eqv"), $"vv".as("evv"))
    val w = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    q.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("d", $"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= TopK)
      .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"d", $"adist")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-batch IVFADC-R serving behind `simsearch_stream_ivfpq` (r15, VERDICT r14 #5):
    * the composed IVF→PQ-ADC→exact-re-rank chain of [[ivfPqRanked]] applied per
    * micro-batch of arriving query ids. The corpus-level index artifacts — the
    * (cell, codes) frame and the M×K codebook — are built ONCE before the stream
    * starts and snapshotted (localCheckpoint, released in finally): the serving
    * posture is offline index build, online probes; the corpus is never re-encoded
    * per batch. Per batch only arrival-sized work happens: the arrivals' probe cells
    * (arrivals × k dots against the broadcast centroids) and flat ADC LUTs
    * (arrivals × M·K), the cell-gated compressed-domain scan of the snapshot, and the
    * exact re-rank of the PqRerankR-deep shortlist against the cached quantized
    * corpus. STATELESS across batches — IvfPqStreamSpec pins the two-wave cut
    * row-identical to one wave and the nprobe = |cells| degeneration equal to the
    * batch [[ivfPqRanked]] chain on the same query set. */
  private[ext] def ivfPqStream(s: SparkSession, dir: String, nprobe: Int,
      waves: Seq[Seq[Long]],
      onWaveDone: (Long, Double) => Unit = (_, _) => (),
      scaledCells: Boolean = false): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val q = milliQ(s, dir).cache()
    // scaledCells (r16, the measured sf100 knee): the fixed 8-seed coarse quantizer
    // makes every query's compressed-domain scan N/8 rows, and the arrival feed is a
    // fixed corpus SLICE (∝ n), so per-wave ADC mass grows QUADRATICALLY per decade —
    // at sf100 (2M vectors, 20k arrivals/wave) the scan wrote 75 GB of shuffle before
    // the run was killed. k = ⌈√N⌉ cells (the classic IVF sizing) makes the per-query
    // scan nprobe·√N and the offline assignment N·√N — both n^1.5 per decade, the
    // measured path past the knee. Seeds: the lowest k ids ≥ SemDedupSeedBase, raw
    // (FROZEN, no Lloyd round) — `dedup_semantic`'s seed discipline.
    //
    // TIERED OFFLINE BUILD (r17, VERDICT r16 #4): the r16 flat assignment was N·√N
    // dots — n^1.5 per decade, the projected next knee at sf1000 (81.9 s at sf100).
    // The index assignment now goes through assignCellsTiered (dedup_semantic_tiered's
    // two-level rule over the SAME frozen seeds): N·2·N^¼ dots, n^1.25 per decade. The
    // per-batch SERVING path is untouched (same probe rule — per-query exact top-nprobe
    // over the k cents — same ADC scan, same re-rank). Note the tiered cell of a vector
    // is NOT always its flat-argmax cell (the best seed can sit outside the coarse
    // group), so this moves the operator's quality/cost point exactly as introducing
    // √N cells did in r16 — the oracle defines the exact semantics and replicates the
    // two-level rule; identical vectors still share cells by construction.
    val scaledK =
      if (scaledCells) math.max(8L, math.ceil(math.sqrt(
        graft.engine.Tables(s, dir, "embeddings").count().toDouble)).toLong)
      else 0L
    val cents =
      if (scaledCells)
        q.filter($"vec_id" >= SemDedupSeedBase).orderBy($"vec_id").limit(scaledK.toInt)
          .select($"vec_id".as("cid"), $"qv".as("cvec"))
      else q.filter($"vec_id".isin(CentroidIds: _*))
        .select($"vec_id".as("cid"), $"qv".as("cvec"))
    val (_, cb0, codes) = pqArtifacts(s, dir)
    val cb = cb0.localCheckpoint() // M×K rows; frozen codebook for the stream's LUTs
    val assignedCell =
      if (scaledCells) assignCellsTiered(q, cents, scaledK)
      else assignCells(q, cents)
    val index = codes
      .join(assignedCell, Seq("vec_id"))
      .localCheckpoint() // (vec_id, codes, cell) — the offline-built serving index
    val wProbe = Window.partitionBy($"q_id").orderBy($"dot".desc, $"cid")
    val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id")
    val wEx = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    val out = try graft.engine.StreamGate.runBatchesForeach(s, Encoders.scalaLong,
        waves, onWaveDone) { (ids, _) =>
      val arrivals = TextOps.guardBroadcast(ids.toDF("q_id"), "q_id",
        StreamQueryMaxBatch, "simsearch_stream_ivfpq arrival batch")
      // arrival-sized artifacts only: qv/vv lookup, probe cells, flat ADC LUT
      val arrQ = q.join(broadcast(arrivals), $"vec_id" === $"q_id")
        .select($"q_id", $"qv", $"vv")
      val probes = arrQ.crossJoin(broadcast(cents))
        .withColumn("dot", dot($"qv", $"cvec"))
        .withColumn("rn", row_number().over(wProbe))
        .filter($"rn" <= nprobe)
        .select($"q_id", $"cid".as("p_cell"))
      val lut = pqLutFrom(
        arrQ.select($"q_id", posexplode(
            transform(sequence(lit(0), lit(PqM - 1)),
              i => slice($"qv", i * PqSubDim + 1, lit(PqSubDim)))).as(Seq("sub", "sv")))
          .withColumn("svv", dot($"sv", $"sv")), cb)
      val shortlist = index
        .join(broadcast(probes), $"cell" === $"p_cell" && $"vec_id" =!= $"q_id")
        .join(broadcast(lut), Seq("q_id"))
        .withColumn("adist", adcDist)
        .withColumn("rnk", row_number().over(wAdc))
        .filter($"rnk" <= PqRerankR)
        .select($"q_id", $"vec_id", $"adist")
      val qs = arrQ.select($"q_id", $"qv".as("eqv"), $"vv".as("evv"))
      val res = q.join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("d", $"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv")
        .withColumn("rnk", row_number().over(wEx))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"d", $"adist")
      (res, () => ())
    } finally {
      graft.ext.Dedup.releaseLocalCheckpoint(index)
      graft.ext.Dedup.releaseLocalCheckpoint(cb)
      q.unpersist(blocking = false)
    }
    out.orderBy($"q_id", $"rnk")
  }

  /** The `simsearch_stream` / `simsearch_stream_ivfpq` arrival feed — the `% 50`
    * query-id slice split into two waves by `% 100` parity — factored out so the
    * latency harness ([[graft.StreamLatency]]) can re-split the same population into
    * many waves. */
  private[ext] def streamFeedWaves(s: SparkSession, dir: String): Seq[Seq[Long]] = {
    import s.implicits._
    val feed = graft.engine.Tables(s, dir, "embeddings")
      .filter($"vec_id" % 50 === 7).select($"vec_id")
      .as[Long].collect().toSeq.sorted // driver-side feed is inherent to MemoryStream
    val (b1, b2) = feed.partition(_ % 100 < 50)
    Seq(b1, b2)
  }

  /** The exact-serving stream behind `simsearch_stream` (r14) — per micro-batch, the
    * arriving query ids answer with the exact integer-L2 top-k against the static
    * corpus; stateless across batches. Factored out of the registry entry (r16) so the
    * latency harness can drive it with many waves and a per-wave timing probe. */
  private[ext] def exactStream(s: SparkSession, dir: String, waves: Seq[Seq[Long]],
      onWaveDone: (Long, Double) => Unit = (_, _) => ()): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val q = milliQ(s, dir).cache()
    val w = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    val out = graft.engine.StreamGate.runBatchesForeach(s, Encoders.scalaLong,
        waves, onWaveDone) { (ids, _) =>
      val arrivals = TextOps.guardBroadcast(ids.toDF("q_id"), "q_id",
        StreamQueryMaxBatch, "simsearch_stream arrival batch")
      val qs = q.join(broadcast(arrivals), $"vec_id" === $"q_id")
        .select($"q_id", $"qv".as("eqv"), $"vv".as("evv"))
      val res = q.join(broadcast(qs), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          ($"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv").as("d"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"d")
      (res, () => ())
    }
    out.orderBy($"q_id", $"rnk")
  }

  /** STREAMING IVF INDEX MAINTENANCE behind `simsearch_stream_append` (r16, VERDICT
    * r15 #6): [[ivfPqStream]]'s serving posture, but arriving VECTORS append to the
    * serving store INSIDE the stream — the winnow-admission fold discipline
    * (Dedup.scala `dedup_winnow_admit_stream_incr`) applied to the ANN index. Each
    * micro-batch of `waves` carries ids of vectors to ingest (id − DupIdOffset names
    * the corpus vector being copied in); the batch first SERVES the fixed query set
    * against the store as folded through the PREVIOUS waves, then (post-collect hook)
    * encodes its arrivals against the FROZEN codebook/centroids — nothing retrains,
    * the `simsearch_ivf_append` posture — and folds them in via a localCheckpoint
    * swap, releasing the superseded generation. A vector appended in batch k is
    * therefore served from batch k+1 on: the feed plants copies of the queries
    * themselves in wave 1, so wave 2 MUST rank each planted copy at rnk 1 with d = 0
    * (SimStreamAppendSpec pins that, plus wave-by-wave equality with the batch chain
    * [[ivfPqRankedOver]] recomputed over base ∪ appended-so-far).
    *
    * 100 TB shape (r20, VERDICT r19 #1/"What's wrong #1"): the store is the
    * corpus-sized serving artifact every vector store maintains, laid out as an
    * INCREMENTALLY-APPENDED generation — one corpus-sized base checkpoint built once,
    * plus one arrival-sized DELTA checkpoint per wave; serving reads the union. The
    * r19 20-wave sf1000 measurement attributed the ~50 s per-wave floor (p95 156 s at
    * 20M vectors) to the previous layout's `store.union(delta).localCheckpoint()`
    * RE-MATERIALIZING the whole ~11 GB store every wave — per-wave cost ∝ corpus, a
    * scale killer at 2B vectors. Now a wave materializes only its own arrivals
    * (arrivals × M·K codebook probes + arrivals × k centroid dots against broadcast
    * artifacts, then an arrival-sized checkpoint); every [[AppendCompactEvery]] waves
    * the accumulated deltas COMPACT into a new base (the organize-on-write trade of
    * `q_bucketed_join` — the full-store fold still happens, but 1/K as often and its
    * price is attributable to compaction, not serving). Decisions are bit-identical
    * to the monolithic layout: serving ranks with fully deterministic sort keys, so
    * union order cannot change any answer (SimStreamAppendSpec pins wave-by-wave
    * equality with the batch chain). Serving work per batch is the cell-gated
    * compressed-domain scan — identical to [[ivfPqStream]]. */
  private[ext] def ivfPqStreamAppend(s: SparkSession, dir: String, nprobe: Int,
      waves: Seq[Seq[Long]],
      onWaveDone: (Long, Double) => Unit = (_, _) => ()): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val q = milliQ(s, dir).cache()
    val cents = q.filter($"vec_id".isin(CentroidIds: _*))
      .select($"vec_id".as("cid"), $"qv".as("cvec"))
    val (_, cb0, codes) = pqArtifacts(s, dir)
    val cb = cb0.localCheckpoint() // M×K rows; frozen codebook — appends never retrain
    // the combined serving store: codes+cell gate the compressed scan, qv+vv feed the
    // exact re-rank (appended vectors must be re-rankable too, so the store carries
    // the full row — the artifact a production vector store persists). Base + deltas
    // layout: `storeBase` is the one corpus-sized checkpoint; each wave appends an
    // arrival-sized delta checkpoint; `serving` is their lazy union (see scaladoc).
    var storeBase = codes
      .join(assignCells(q, cents), Seq("vec_id"))
      .join(q, Seq("vec_id"))
      .select($"vec_id", $"codes", $"cell", $"qv", $"vv")
      .localCheckpoint()
    var deltas = Vector.empty[org.apache.spark.sql.DataFrame]
    def serving = (storeBase +: deltas).reduce(_ unionByName _)
    // the query set is FIXED across waves — its probes, ADC LUTs and exact-side
    // vectors are stream-constant artifacts (only the store changes per batch)
    val wProbe = Window.partitionBy($"q_id").orderBy($"dot".desc, $"cid")
    val arrQ = q.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"qv", $"vv")
    val probes = arrQ.crossJoin(broadcast(cents))
      .withColumn("dot", dot($"qv", $"cvec"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"q_id", $"cid".as("p_cell"))
      .localCheckpoint()
    val lut = pqLutFrom(
      pqSubs(arrQ.select($"q_id".as("vec_id"), $"qv"))
        .select($"vec_id".as("q_id"), $"sub", $"sv", $"svv"), cb)
      .localCheckpoint()
    val qs = arrQ.select($"q_id", $"qv".as("eqv"), $"vv".as("evv")).localCheckpoint()
    val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id")
    val wEx = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    val out = try graft.engine.StreamGate.runBatchesForeach(s, Encoders.scalaLong,
        waves, onWaveDone) { (ids, waveIdx) =>
      val arrivals = TextOps.guardBroadcast(ids.toDF("app_id"), "app_id",
        StreamQueryMaxBatch, "simsearch_stream_append arrival batch")
      // serve FIRST, against the store as folded through waves < this one — the
      // batch's own arrivals become visible from the NEXT wave (the hook ordering)
      val store = serving
      val shortlist = store
        .join(broadcast(probes), $"cell" === $"p_cell" && $"vec_id" =!= $"q_id")
        .join(broadcast(lut), Seq("q_id"))
        .withColumn("adist", adcDist)
        .withColumn("rnk", row_number().over(wAdc))
        .filter($"rnk" <= PqRerankR)
        .select($"q_id", $"vec_id", $"adist")
      val res = store.join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("d", $"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv")
        .withColumn("rnk", row_number().over(wEx))
        .filter($"rnk" <= TopK)
        .select($"q_id", lit(waveIdx + 1L).as("wave"),
          $"rnk".cast("long").as("rnk"), $"vec_id", $"d", $"adist")
      (res, () => {
        // post-collect: encode the arrivals (copies of corpus vectors, id-shifted by
        // +DupIdOffset) against the frozen artifacts and APPEND them as a delta —
        // only the arrival-sized frame materializes; the corpus-sized base is
        // untouched (the r20 incremental layout, VERDICT r19 "What's wrong #1")
        val vecs = q.join(broadcast(arrivals), $"vec_id" === $"app_id" - DupIdOffset)
          .select($"app_id".as("vec_id"), $"qv", $"vv")
        deltas :+= pqEncodeSubs(pqSubs(vecs), cb)
          .join(assignCells(vecs, cents), Seq("vec_id"))
          .join(vecs, Seq("vec_id"))
          .select($"vec_id", $"codes", $"cell", $"qv", $"vv")
          .localCheckpoint()
        // compaction: every AppendCompactEvery waves, fold base ∪ deltas into a fresh
        // base so the serving union stays shallow — the one full-store materialization,
        // paid 1/K as often as the old per-wave fold and priced as compaction
        if (deltas.size >= AppendCompactEvery) {
          val generation = storeBase +: deltas
          val newBase = generation.reduce(_ unionByName _).localCheckpoint()
          generation.foreach(graft.ext.Dedup.releaseLocalCheckpoint)
          storeBase = newBase
          deltas = Vector.empty
        }
      })
    // finally, not success-path-only: a stream failure mid-run must not leak the
    // current store generation's checkpoint blocks; base + live deltas always form
    // the latest generation — superseded ones release at compaction
    } finally {
      (storeBase +: deltas).foreach(graft.ext.Dedup.releaseLocalCheckpoint)
      graft.ext.Dedup.releaseLocalCheckpoint(cb)
      graft.ext.Dedup.releaseLocalCheckpoint(probes)
      graft.ext.Dedup.releaseLocalCheckpoint(lut)
      graft.ext.Dedup.releaseLocalCheckpoint(qs)
      q.unpersist(blocking = false)
    }
    out.orderBy($"q_id", $"wave", $"rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-k for a fixed query set (vec_id < NumQueries).
    // Norms are computed ONCE per vector in the scan pass — not re-folded per candidate
    // pair: at n vectors × q queries that saves 2·n·q of the 3·n·q dot products (the
    // numerator is the only per-pair fold left). Bit-identical: sqrt(dot(v,v)) is the
    // same double whether folded once or per pair.
    "simsearch_topk" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
      val emb = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
        .withColumn("nrm", sqrt(dot($"v", $"v")))
      val q = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      val scored = emb.join(broadcast(q), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"v", $"qv") / ($"nrm" * $"qnrm"), 6).as("sim"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"sim")
        .orderBy($"q_id", $"rnk")
    },
    // sign-random-projection LSH: 4 fixed hyperplanes -> 16 buckets
    "simsearch_lsh_buckets" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
      val emb = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
      val planes = emb.filter($"vec_id".isin(PlaneIds: _*))
        .select($"vec_id".as("p_id"), $"v".as("pv"))
      val signs = emb.crossJoin(broadcast(planes))
        .select($"vec_id", ($"p_id" - PlaneIds.head).cast("int").as("bit"), dot($"v", $"pv").as("d"))
        .select($"vec_id", when($"d" >= 0, expr("cast(shiftleft(1, bit) as bigint)")).otherwise(0L).as("bitval"))
      signs.groupBy($"vec_id").agg(sum($"bitval").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("vec_cnt"), min($"vec_id").as("min_vec_id"))
        .orderBy($"bucket")
    },
    // IVF-style ANN: assign every vector to its nearest "centroid" (a fixed base-vector
    // set stands in for trained centroids — deterministic, oracle-checkable), then answer
    // queries by probing ONLY the query's cell (nprobe=1). The scan-side work drops from
    // n to n/cells per query; assignment is one broadcast pass. This is the scale path
    // next to the brute-force baseline.
    "simsearch_ivf" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
      val base = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
        .withColumn("nrm", sqrt(dot($"v", $"v"))) // folded once, reused across centroids AND probes
      val cents = base.filter($"vec_id".isin(CentroidIds: _*))
        .select($"vec_id".as("c_id"), $"v".as("cv"), $"nrm".as("cnrm"))
      // nearest-centroid assignment as a max_by hash aggregate (map-side partial agg, no
      // per-key window sort); tie-break struct(csim, -c_id) == the oracle's
      // row_number() ORDER BY csim DESC, c_id. Cached because it feeds BOTH the base and
      // query sides of the cell-probe join — without it the dominant assignment pass
      // (full scan x centroids) executes twice (the round-2 plan audit's finding).
      val assigned = base.crossJoin(broadcast(cents))
        .select($"vec_id", $"v", $"nrm", $"c_id",
          round(dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("csim"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"v", $"nrm", $"c_id"), struct($"csim", -$"c_id")).as("best"))
        .select($"vec_id", $"best.v".as("v"), $"best.nrm".as("nrm"), $"best.c_id".as("cell"))
        .cache()
      val queries = assigned.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"), $"cell".as("q_cell"))
      val wTopK = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      assigned.join(broadcast(queries), $"cell" === $"q_cell" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"v", $"qv") / ($"nrm" * $"qnrm"), 6).as("sim"))
        .withColumn("rnk", row_number().over(wTopK))
        .filter($"rnk" <= IvfTopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"sim")
        .orderBy($"q_id", $"rnk")
    },
    // METADATA-FILTERED vector search — the RAG-retrieval shape: neighbors must also
    // satisfy a document-metadata predicate (language + length here). PRE-filter design:
    // the predicate applies via an id equi-join BEFORE any scoring, so excluded vectors
    // are never scored (post-filtering a top-k instead can starve k after the filter —
    // the classic filtered-ANN failure). At 100 TB both tables bucket on the id, making
    // the metadata join co-located; the query set stays the broadcast side.
    "simsearch_filtered" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
      val meta = graft.engine.Tables(s, dir, "documents")
        .filter($"lang".isin("en", "de") && $"n_chars" >= 200L)
        .select($"doc_id".as("vec_id"))
      val emb = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
        .withColumn("nrm", sqrt(dot($"v", $"v")))
      val q = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      val scored = emb.join(meta, "vec_id")
        .join(broadcast(q), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"v", $"qv") / ($"nrm" * $"qnrm"), 6).as("sim"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"sim")
        .orderBy($"q_id", $"rnk")
    },
    // ANN index EVALUATION — recall@k of the IVF path against the exact brute-force
    // baseline, per query: the measurement every production ANN deployment runs before
    // trusting an index (and after every re-train). Composes the two registered plans
    // (exact top-k truncated to IVF's k; IVF nprobe=1) and reduces the overlap to integer
    // basis points. Plan shape: both sides end (n_queries × k) rows, so the semi-join and
    // aggregate are driver-trivial at any corpus size — the cost IS the two searches.
    // K-MEANS LLOYD ITERATION — the training primitive behind the IVF index: one full
    // assign → update-centroids → reassign round, seeded from the IVF centroid vectors.
    // All arithmetic runs over INTEGER milli-quantized embeddings: sums, centroid means
    // (explicit floor division) and inertia are exact 64-bit math in ANY aggregation
    // order — the property double means cannot give across engines (a double mean is
    // order-dependent; Spark's partial aggregation and DuckDB's serial fold would drift
    // in the last bits and break the hash gate). 100 TB shape: both assignment passes
    // are broadcast crossJoins against K=8 centroids (vectors never shuffle, only their
    // K-row scored expansion aggregates back per vec_id with map-side combine), and the
    // centroid update is a (cid, dim) aggregate whose output is K×64 rows.
    "simsearch_kmeans_iter" -> { (s, dir) =>
      import s.implicits._
      val q = milliQ(s, dir).cache()
      q.crossJoin(broadcast(lloydOnce(s, q)))
        .withColumn("dot", dot($"qv", $"cvec"))
        .withColumn("cc", dot($"cvec", $"cvec"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"cid", $"dot", $"cc"), struct($"dot", -$"cid")).as("w"),
          first($"vv").as("vv"))
        .select($"vec_id", $"vv", $"w.cid".as("cid"), $"w.dot".as("dot"), $"w.cc".as("cc"))
        .groupBy($"cid").agg(
          count(lit(1)).as("member_cnt"),
          min($"cc").as("centroid_cc"),
          sum($"vv" - lit(2L) * $"dot" + $"cc").as("inertia"))
        .orderBy($"cid")
    },
    // TRAINED-IVF chain (r6 verdict #5): the k-means round's centroids BECOME the IVF
    // index — assignment by max integer dot against the trained centroids, queries probe
    // their nprobe=2 nearest cells, candidates score by exact integer L2, and the output
    // is per-query recall@k against the exact integer-L2 top-k over the whole corpus.
    // A green hash pins the whole train → index → probe → evaluate composition; the
    // recall floor vs the fixed-centroid simsearch_ivf is asserted in SimilarityChainSpec.
    // 100 TB shape: centroids and probes broadcast (K=8 and 3×2 rows), vectors never
    // shuffle except the per-vec_id assignment aggregate (map-side combined), and the
    // recall join moves only (n_queries × k) winner rows.
    "simsearch_ivf_trained" -> { (s, dir) =>
      ivfRecallInteger(s, dir, trained = true, nprobe = IvfNProbe, k = IvfTopK)
    },
    // RECALL-vs-NPROBE CURVE (r7 verdict #5): the trained index's quality/cost trade
    // documented as data instead of one operating point — the SAME train → index → probe
    // → evaluate chain as simsearch_ivf_trained, swept over nprobe ∈ {1, 2, 4} in ONE
    // plan: centroid scoring, cell assignment and the exact baseline run once; each probe
    // row fans out only to the sweep points it serves (rn <= nprobe), and candidate
    // ranking re-partitions by (nprobe, q_id). Monotone recall in nprobe (more cells
    // probed can only add candidates) is pinned by SimilarityChainSpec. 100 TB shape
    // identical to the single-point chain: the sweep multiplies only the probe rows
    // (queries × |sweep|), never the corpus side.
    "simsearch_recall_curve" -> { (s, dir) =>
      ivfRecallCurve(s, dir, RecallCurveNProbes, IvfTopK)
    },
    "simsearch_recall" -> { (s, dir) =>
      import s.implicits._
      val exact = queries("simsearch_topk")(s, dir)
        .filter($"rnk" <= IvfTopK).select($"q_id", $"vec_id")
      val approx = queries("simsearch_ivf")(s, dir).select($"q_id", $"vec_id")
      val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("hits"))
      exact.groupBy($"q_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("q_id"), "left_outer")
        .select($"q_id", $"k",
          coalesce($"hits", lit(0L)).as("hits"),
          expr("coalesce(hits, 0) * 10000 div k").as("recall_bp"))
        .orderBy($"q_id")
    },
    // PRODUCT-QUANTIZATION ANN (ADC scan) — the compressed-index scale path next to IVF:
    // vectors are encoded as PqM one-byte codes (nearest codeword per contiguous
    // subspace), queries precompute a per-subspace lookup table of exact distances to
    // every codeword, and the scan scores a candidate with M map probes over the
    // broadcast LUT — no per-candidate dot product, and the 100 TB corpus is read as
    // M bytes/vector instead of 256 bytes of floats (the memory-bandwidth win that makes
    // PQ the standard billion-vector layout). All arithmetic is exact 64-bit integer L2
    // over milli-quantized vectors (the simsearch_kmeans_iter discipline), so encoding,
    // LUTs and ADC distances reproduce bit-identically in the oracle. Plan shape: the
    // codebook (M×K = 32 rows) and per-query LUTs broadcast; the only full-corpus
    // shuffles are the per-(vec,sub) argmin and per-vec code assembly (both map-side
    // combined); the final top-k is the same per-query window as every search here.
    "simsearch_pq" -> { (s, dir) =>
      import s.implicits._
      pqAdcRanked(s, dir)
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"adist")
        .orderBy($"q_id", $"rnk")
    },
    // PQ SHORTLIST + EXACT RE-RANK — the standard two-stage ANN serving pattern: the
    // compressed-domain ADC scan produces a PqRerankR-deep shortlist per query (cheap:
    // M map probes per candidate), then ONLY the shortlist rows fetch their full
    // quantized vectors for an exact integer-L2 re-rank, and the top-k after re-ranking
    // is emitted with both distances. 100 TB shape: the exact-scoring cost collapses
    // from O(queries × corpus × dim) to O(queries × R × dim); the shortlist (queries × R
    // rows) BROADCASTS into the full-vector join, so the corpus-sized side never
    // shuffles — the re-rank reads exactly R full vectors per query, which is the whole
    // point of PQ-then-rerank (Jégou et al.'s IVFADC-R refinement).
    "simsearch_pq_rerank" -> { (s, dir) =>
      import s.implicits._
      val shortlist = pqAdcRanked(s, dir)
        .filter($"rnk" <= PqRerankR)
        .select($"q_id", $"vec_id", $"adist")
      val full = milliQ(s, dir)
      val qs = full.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"qv".as("eqv"), $"vv".as("evv"))
      val w = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
      full.join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("d", $"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv")
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"d", $"adist")
        .orderBy($"q_id", $"rnk")
    },
    // IVF + PQ + EXACT RE-RANK — the COMPOSED production ANN serving shape (IVFADC-R,
    // Jégou et al. "Product Quantization for Nearest Neighbor Search", §V): the coarse
    // quantizer (fixed-seed integer IVF, nprobe=2) gates which vectors meet the scan
    // at all, PQ-ADC scores ONLY the gated cells in the compressed domain (M map
    // probes per candidate), and the PqRerankR-deep shortlist re-ranks with exact
    // integer L2. 100 TB shape: this is the only chain where BOTH axes of sub-linearity
    // compose — candidate COUNT drops to the probed cells' share of the corpus (IVF)
    // and per-candidate COST drops to M map probes (PQ); the full-vector read touches
    // R rows per query. Probe list, codebook, LUT and shortlist all broadcast; the
    // corpus-sized side shuffles only for its own groupBys, never per query. The
    // full-coverage degeneration (nprobe = |cells| ⇒ identical to simsearch_pq_rerank)
    // is pinned by IvfPqSpec.
    "simsearch_ivfpq" -> { (s, dir) =>
      ivfPqRanked(s, dir, nprobe = IvfNProbe)
    },
    // ONLINE ANN SERVING (r14, the LLM-2 × streaming bridge): query ids ARRIVE AS A
    // STREAM and each micro-batch answers with the exact integer-L2 top-k against the
    // static corpus — the serving-tier shape. The per-batch plan runs under
    // foreachBatch (full batch semantics: a window rank is unsupported on a streaming
    // frame by design, and serving wants the batch plan anyway) and is STATELESS
    // across batches: an answer depends only on the static corpus, so the two-wave
    // cut must be row-identical to one wave — SimStreamSpec pins that, plus equality
    // with the directly-computed batch reference. 100 TB shape: the arriving batch
    // (and its fetched vectors) broadcasts; the corpus side is the scan, and swapping
    // the exact scorer for the ivfPqRanked chain is a per-batch plan change, not an
    // architecture change.
    "simsearch_stream" -> { (s, dir) =>
      // count-gated (r19, VERDICT r18 #2), driver-side: constructing this query RUNS
      // the stream, and each batch's exact scorer reads the FULL corpus per arrival
      // wave — priced ~3 h at sf100 and measured-fatal at sf1000 (BASELINE.md r19).
      // The √N-cell server is the serving path at scale.
      graft.engine.ScaleGuard.require(s, dir, "simsearch_stream")
      exactStream(s, dir, streamFeedWaves(s, dir))
    },
    // ONLINE IVFADC-R SERVING (r15, VERDICT r14 #5): `simsearch_stream` swaps its
    // per-batch exact scan for the composed IVF+PQ+exact-re-rank chain — the
    // scaladoc'd "per-batch plan change", proven. Same arrival feed and wave split as
    // simsearch_stream; the serving index is built offline (once, pre-stream) and
    // each batch does only arrival-sized probe work — see [[ivfPqStream]].
    "simsearch_stream_ivfpq" -> { (s, dir) =>
      // count-gated (r17), driver-side: constructing this query RUNS the stream, so
      // the fixed 8-cell quantizer's measured sf100 knee (75 GB per-wave ADC shuffle,
      // killed) must be refused BEFORE the harness starts — named error pointing at
      // simsearch_stream_ivfpq_cells
      graft.engine.ScaleGuard.require(s, dir, "simsearch_stream_ivfpq")
      ivfPqStream(s, dir, IvfNProbe, streamFeedWaves(s, dir))
    },
    // SCALED-CELL IVFADC-R SERVING — the measured path past simsearch_stream_ivfpq's
    // sf100 knee (see ivfPqStream's scaledCells note): k = ⌈√N⌉ frozen seed cells
    // instead of 8, so the per-query compressed scan is nprobe·√N rows, not nprobe·N/8.
    // Same feed, same chain, same output shape; recall at a given nprobe differs (the
    // quality/cost point moves with k — the oracle defines the exact semantics).
    "simsearch_stream_ivfpq_cells" -> { (s, dir) =>
      ivfPqStream(s, dir, IvfNProbe, streamFeedWaves(s, dir), scaledCells = true)
    },
    // STREAMING IVF INDEX MAINTENANCE (r16, VERDICT r15 #6): the serving server of
    // `simsearch_stream_ivfpq`, but the arriving stream carries VECTORS TO INGEST —
    // id-shifted copies of the `% 11` append slice (the `simsearch_ivf_append`
    // corpus) PLUS copies of the query vectors themselves. Each batch serves the
    // fixed query set against the store as folded through the previous batches, then
    // folds its own arrivals in (frozen centroids + codebook — nothing retrains).
    // Wave 1 plants copies of queries 0 and 2, so wave 2's serve MUST surface each
    // planted copy at rnk 1 / d 0 — the fold is load-bearing by construction, not by
    // data luck. Decisions ≡ a per-wave batch recompute over base ∪ appended-so-far
    // (the oracle re-runs the whole chain per wave; SimStreamAppendSpec pins the
    // engine-side equality with ivfPqRankedOver too). See [[ivfPqStreamAppend]].
    "simsearch_stream_append" -> { (s, dir) =>
      import s.implicits._
      val feed = graft.engine.Tables(s, dir, "embeddings")
        .filter($"vec_id" % 11 === IvfAppendResidue || $"vec_id" < NumQueries)
        .select(($"vec_id" + DupIdOffset).as("app_id"))
        .as[Long].collect().toSeq.sorted // driver-side feed is inherent to MemoryStream
      val (b1, b2) = feed.partition(id => (id - DupIdOffset) % 2 == 0)
      ivfPqStreamAppend(s, dir, IvfNProbe, Seq(b1, b2))
    },
    // HYBRID RANK FUSION (reciprocal-rank fusion, Cormack et al.): ensemble the two
    // heterogeneous rankers — exact cosine top-k and compressed-domain PQ L2 — by
    // summing scaled-integer 1/(60+rank) contributions over their truncated lists, the
    // standard trick for fusing rankers whose raw scores are incomparable (here: cosine
    // in [-1,1] vs integer L2 distances). Integer `div` keeps the oracle bit-exact.
    // 100 TB shape: fusion touches only the two queries×k rank lists (a bounded
    // full-outer join), never the corpus — the heavy lifting stays in the underlying
    // index scans, which is the point of fusing ranks instead of scores.
    "simsearch_rrf_fusion" -> { (s, dir) =>
      import s.implicits._
      val a = queries("simsearch_topk")(s, dir).select($"q_id", $"vec_id", $"rnk".as("rnk_cos"))
      val b = queries("simsearch_pq")(s, dir).select($"q_id", $"vec_id", $"rnk".as("rnk_pq"))
      val w = Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id")
      a.join(b, Seq("q_id", "vec_id"), "full_outer")
        .withColumn("score",
          coalesce(expr(s"${RrfScale}L div ($RrfK + rnk_cos)"), lit(0L)) +
            coalesce(expr(s"${RrfScale}L div ($RrfK + rnk_pq)"), lit(0L)))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"vec_id", $"score",
          $"rnk_cos", $"rnk_pq")
        .orderBy($"q_id", $"rnk")
    },
    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): cluster the corpus (one Lloyd round
    // from the fixed seeds — the same trained centroids the IVF chain probes), then look
    // for near-duplicates ONLY within a cluster: a vector is dropped when a same-cell
    // neighbor with a smaller vec_id sits within integer-L2 epsilon. The corpus is
    // doubled with id-shifted exact copies so the duplicate structure is known. 100 TB
    // shape: clustering bounds the quadratic term — all-pairs runs per CELL (O(n²/k)
    // total), never across the corpus, and k SCALES WITH n (SemDedupCellDivisor, r15:
    // a fixed k is the absolute-cap degeneration — at 100× the corpus 8 cells hold 50k
    // rows each and the pair join blows to ~2·10¹⁰ candidates; k ∝ n keeps candidate
    // mass ≈ n·500/2, linear, the SemDeDup paper's own posture). The centroid set is
    // k rows and broadcasts; epsilon (1e6 milli²) sits orders of magnitude below
    // random-pair distances (~1.3e8 at 64 dims), so only genuine copies pair up.
    "dedup_semantic" -> { (s, dir) =>
      import s.implicits._
      val q0 = milliQ(s, dir)
      val q = q0.union(q0.select(($"vec_id" + DupIdOffset).as("vec_id"), $"qv", $"vv"))
      // k ∝ n (see SemDedupCellDivisor): one count action at construct time sizes the
      // cell set; ≤2000-row corpora floor at the fixed 8-seed set (bit-identical to r14)
      val nCents = math.max(8L,
        graft.engine.Tables(s, dir, "embeddings").count() / SemDedupCellDivisor)
      val seeds = q.filter($"vec_id" >= SemDedupSeedBase)
        .orderBy($"vec_id").limit(nCents.toInt)
        .select($"vec_id".as("cid"), $"qv".as("cvec"))
      val cents = lloydOnceFrom(s, q, seeds)
      // packed-argmax assignment + join-back for the vectors (r15 killed the wide
      // first(qv) agg's ~1 TB sf10 spill; r16's packed HashAggregate killed the
      // narrow max_by's SortAggregate, which died SPILL_OUT_OF_MEMORY at sf100 —
      // measurements in assignCells' scaladoc). localCheckpoint (r21, VERDICT r20
      // #6): `assigned` feeds THREE consumers — both sides of the per-cell pair
      // join and the final dropped-flag join — so without it the N·k assignment
      // (the documented n²/250 dominant cost at sf100) re-derived per consumer.
      // The checkpoint is (vec_id, cell, qv, vv) — ~150 MB at sf100, bounded and
      // scale-safe below the gate's knee; blocks released by the bench sweep.
      val assigned = q.join(assignCells(q, cents), Seq("vec_id"))
        .select($"vec_id", $"cell", $"qv", $"vv").localCheckpoint()
      val dropped = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
        .filter(col("a.vv") - lit(2L) * dot(col("a.qv"), col("b.qv")) + col("b.vv")
          <= SemDedupEpsMilli)
        .select(col("a.vec_id").as("vec_id")).distinct()
      // count-gated (r19, VERDICT r18 #2): the flat N·k assignment with k ∝ n is
      // n²/250 dots — measured 736.8 s at sf100 and measured-FATAL at sf1000 (20M
      // vectors: watchdog-killed in the Lloyd round, BASELINE.md r19). The gate sits
      // BELOW the final orderBy (a crossJoin above it would un-sort the output);
      // ≤sf100 corpora pass untouched, so this stays the tiered path's parity oracle.
      graft.engine.ScaleGuard.gate(
          assigned.join(dropped.withColumn("dropped", lit(true)), Seq("vec_id"), "left_outer")
            .select($"vec_id", $"cell", coalesce($"dropped", lit(false)).as("dropped")),
          s, dir, "dedup_semantic")
        .orderBy($"vec_id")
    },
    // TIERED SemDeDup — the n^1.5 path past dedup_semantic's measured n² assignment
    // (r16 sf100: packed-argmax fixed the SPILL death, but the flat corpus × cells
    // scan is still N·k dots with k ∝ n — 765 s at sf100, 100× per decade). The
    // classic hierarchical-quantizer move (IMI / hierarchical k-means): the k raw
    // seeds split into g = ⌈√k⌉ balanced groups (cidx % g), each group's integer
    // floor-mean is its coarse rep, and every vector assigns coarse-first
    // (N·g dots) then fine WITHIN its group (N·k/g dots) — N·2√k total. The
    // two-level rule is deterministic (max dot, ties to the lower grp/cid at each
    // level — the packed-argmax tie rule) and replicated exactly by the oracle;
    // cells differ from dedup_semantic's single-level Lloyd cells by design (no
    // Lloyd round either — the serving discipline: raw frozen seeds). Identical
    // vectors take identical paths at both levels, so planted copies always share
    // a cell; the per-cell pair verify + epsilon tail is dedup_semantic's.
    "dedup_semantic_tiered" -> { (s, dir) =>
      import s.implicits._
      val q0 = milliQ(s, dir)
      val q = q0.union(q0.select(($"vec_id" + DupIdOffset).as("vec_id"), $"qv", $"vv"))
      val k = math.max(8L,
        graft.engine.Tables(s, dir, "embeddings").count() / SemDedupCellDivisor)
      val seeds = q.filter($"vec_id" >= SemDedupSeedBase)
        .orderBy($"vec_id").limit(k.toInt)
        .select($"vec_id".as("cid"), $"qv".as("cvec"))
      // the shared two-level guarded packed argmax (assignCellsTiered, r17 — the seeds
      // frame now passes guardCellIds, closing the r16 ADVICE gap where the inline
      // pack skipped the capacity check)
      val fine = assignCellsTiered(q, seeds, k)
      // localCheckpoint: same three-consumer reuse as dedup_semantic (r21)
      val assigned = q.join(fine, Seq("vec_id"))
        .select($"vec_id", $"cell", $"qv", $"vv").localCheckpoint()
      val dropped = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
        .filter(col("a.vv") - lit(2L) * dot(col("a.qv"), col("b.qv")) + col("b.vv")
          <= SemDedupEpsMilli)
        .select(col("a.vec_id").as("vec_id")).distinct()
      assigned.join(dropped.withColumn("dropped", lit(true)), Seq("vec_id"), "left_outer")
        .select($"vec_id", $"cell", coalesce($"dropped", lit(false)).as("dropped"))
        .orderBy($"vec_id")
    },
    // embedding-cosine near-dup: double the corpus with identical copies, bucket by
    // 10 sign-projections (identical vectors land together by construction), verify by
    // exact cosine within buckets only — never an all-pairs crossJoin. Norms precomputed
    // per vector so each candidate pair costs one dot product.
    "dedup_embedding_cosine" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session (ADVICE r6)
      val base = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
      val emb = base.union(base.select(($"vec_id" + DupIdOffset).as("vec_id"), $"v"))
      val planes = base.filter($"vec_id".isin(DupPlaneIds: _*))
        .select($"vec_id".as("p_id"), $"v".as("pv"))
      val bucketed = emb.crossJoin(broadcast(planes))
        .select($"vec_id", $"v", ($"p_id" - DupPlaneIds.head).cast("int").as("bit"), dot($"v", $"pv").as("d"))
        .select($"vec_id", $"v", when($"d" >= 0, expr("cast(shiftleft(1, bit) as bigint)")).otherwise(0L).as("bitval"))
        .groupBy($"vec_id").agg(sum($"bitval").as("bucket"), first($"v").as("v"))
        .withColumn("norm", sqrt(dot($"v", $"v")))
        .cache()
      // count-gated (r17): the fixed 10 planes are a MEASURED sf100 knee (quadratic
      // verify pair mass, killed at the 1200 s probe timeout) — past the knee the
      // query raises a named error pointing at dedup_embedding_cosine_rel. The gate
      // sits BELOW the final orderBy (a join above a Sort un-sorts the output).
      graft.engine.ScaleGuard.gate(
        bucketed.as("a").join(bucketed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6).as("sim"))
          .filter($"sim" >= 0.999),
        s, dir, "dedup_embedding_cosine")
        .orderBy($"vec_a", $"vec_b")
    },
    // RELATIVE-PLANE embedding near-dup — the scale path past dedup_embedding_cosine's
    // measured knee (r16 sf100 probe): the base operator's FIXED 10 planes mean 1,024
    // buckets whatever the corpus, so per-bucket occupancy grows ∝ n and the verify
    // pair mass (Σ C(occ,2) per bucket ≈ n²/2^(p+1)) grows QUADRATICALLY per decade —
    // 7.6·10⁷ pairs at sf10 becomes 7.6·10⁹ at sf100. Here the plane count scales with
    // the corpus: the smallest p ≥ 10 with 2^(p+1) ≥ n (integer rule, replicated
    // exactly by the DuckDB oracle) keeps occupancy ≈ constant (≈4 at sf0.1, ≈3.4 at
    // sf10, ≈3.8 at sf100), so pair mass stays LINEAR — the same relative-cap
    // discipline as dedup_winnow_pairs_rel / dedup_video_partial_rel. At bench scale
    // (n ≤ 2,000) p floors at 10 and the output ≡ dedup_embedding_cosine. The planted
    // exact copies collide at ANY p (identical signs); genuinely-near 0.999 pairs pay
    // the standard sign-LSH recall factor (1-θ/π)^p ≈ 0.75 at p = 20 — the documented
    // trade; a banded multi-probe (the dedup_image (6,3) scheme) is the recall path if
    // it is ever needed. The bucket agg is NARROW (vec_id, bitval only — the base
    // query's first(v) plans a wide SortAggregate, the exact sf100 killer assignCells
    // documents); vectors join back by vec_id for the verify dots.
    // FLOAT-CARRIED shuffle rows (r18 sf1000 probe: the 20M-vector corpus was killed
    // by the disk watchdog — the pair mass is linear as designed (occupancy ≈ const),
    // but the 64-DOUBLE `v` rode the cache AND both sides of the bucket self-join,
    // ~70-90 GB of scratch at 40M doubled rows). The raw float32 vectors now ride the
    // cache/shuffles (half the bytes) and every dot casts float→double AT USE — an
    // EXACT conversion, so dots, norms, sims and the oracle hashes are bit-identical
    // to the double-carried form. The same 100 TB rule as the narrow-bitval agg:
    // never widen a vector before an exchange.
    "dedup_embedding_cosine_rel" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s)
      val n = graft.engine.Tables(s, dir, "embeddings").count()
      val p = (10 to 61).find(b => (1L << (b + 1)) >= n).getOrElse(
        sys.error(s"dedup_embedding_cosine_rel: corpus $n exceeds 2^62 bucket space"))
      val planeIds = (DupPlaneIds.head until DupPlaneIds.head + p).map(Long.box)
      val base = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", $"embedding".as("vf"))
      val emb = base.union(base.select(($"vec_id" + DupIdOffset).as("vec_id"), $"vf"))
      val planes = base.filter($"vec_id".isin(planeIds: _*))
        .select($"vec_id".as("p_id"), toDouble($"vf").as("pv"))
      val buckets = emb.crossJoin(broadcast(planes))
        .select($"vec_id",
          when(dot(toDouble($"vf"), $"pv") >= 0,
            expr(s"cast(shiftleft(1L, cast(p_id - ${DupPlaneIds.head} as int)) as bigint)"))
            .otherwise(0L).as("bitval"))
        .groupBy($"vec_id").agg(sum($"bitval").as("bucket"))
      val bucketed = emb.join(buckets, Seq("vec_id"))
        .withColumn("norm", sqrt(dot(toDouble($"vf"), toDouble($"vf"))))
        .cache()
      bucketed.as("a").join(bucketed.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(dot(toDouble(col("a.vf")), toDouble(col("b.vf"))) /
            (col("a.norm") * col("b.norm")), 6).as("sim"))
        .filter($"sim" >= 0.999)
        .orderBy($"vec_a", $"vec_b")
    },
    // IVF INDEX MAINTENANCE — the append path every vector store needs between retrains:
    // centroids train on the EXISTING corpus only (one Lloyd round, then FROZEN), and the
    // new batch (a disjoint %11 slice; the seed ids all live in the base) is assigned to
    // the frozen cells without touching the index or the corpus — the incremental
    // ingestion that keeps an ANN index serving while it grows. At 100 TB the append
    // batch streams through one broadcast of k constant centroids; nothing recomputes,
    // nothing shuffles the corpus. Gate: per-cell appended counts + id checksum.
    "simsearch_ivf_append" -> { (s, dir) =>
      import s.implicits._
      val q = milliQ(s, dir)
      val base = q.filter($"vec_id" % 11 =!= IvfAppendResidue)
      val appended = q.filter($"vec_id" % 11 === IvfAppendResidue)
      val assigned = assignCells(appended, lloydOnce(s, base))
      assigned.groupBy($"cell")
        .agg(count(lit(1)).as("n_appended"), sum($"vec_id").as("vec_id_sum"))
        .orderBy($"cell")
    },
    // RAG CONTEXT PACKING — the retrieval SERVING shape end to end: brute-force cosine
    // shortlist per query (the exact baseline every ANN variant here approximates), the
    // bounded rank list BROADCAST into the documents scan (the big side never shuffles;
    // a 100 TB corpus is probed by a hash join against 3×k rows), per-doc token counts
    // on the same split used corpus-wide, then the greedy prefix pack: a running token
    // cumsum over the rank order, cut at the context budget — retrieved docs fill the
    // window best-first until it is full. Monotone cumsum ⇒ the filter keeps a PREFIX,
    // which is exactly the packing a serving stack performs.
    "rag_context_pack" -> { (s, dir) =>
      import s.implicits._
      graft.functions.VecDot.ensureRegistered(s) // analyze against THIS session
      val emb = graft.engine.Tables(s, dir, "embeddings")
        .select($"vec_id", toDouble($"embedding").as("v"))
        .withColumn("nrm", sqrt(dot($"v", $"v")))
      val q = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
      val shortlist = emb.join(broadcast(q), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          round(dot($"v", $"qv") / ($"nrm" * $"qnrm"), 6).as("sim"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= TopK)
      val docs = graft.engine.Tables(s, dir, "documents")
        .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("tok_cnt"))
      val wPack = Window.partitionBy($"q_id").orderBy($"rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(shortlist), $"vec_id" === $"doc_id")
        .withColumn("cum_tokens", sum($"tok_cnt").over(wPack))
        .filter($"cum_tokens" <= RagPackBudget)
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"doc_id", $"tok_cnt",
          $"cum_tokens", $"sim")
        .orderBy($"q_id", $"rnk")
    },
    // INT8 SCALAR QUANTIZATION — the storage-scale path PQ doesn't cover: per-DIMENSION
    // global [min,max] ranges train the codec (the classic symmetric scalar quantizer
    // every vector store ships), every milli-quantized vector compresses 8→1 bytes/dim,
    // and the gate pins BOTH the exact codes (an index-weighted checksum) and the
    // reconstruction error, all in integer arithmetic so the hash holds cross-engine.
    // Plan: one posexplode pass → 64-row per-dim stats → folded to ONE broadcast row of
    // [mins, maxs] arrays (the trained codec artifact) → a single narrow map stage
    // quantizes/reconstructs inside codegen'd array lambdas. At 100 TB the stats pass is
    // a map-side-combined agg over 64 keys and the encode is embarrassingly parallel;
    // the only product join is the 1-row codec broadcast (allowlisted).
    "simsearch_quantize_int8" -> { (s, dir) =>
      import s.implicits._
      val q = milliQ(s, dir).select($"vec_id", $"qv")
      val codec = q.select(posexplode($"qv").as(Seq("pos", "v")))
        .groupBy($"pos").agg(min($"v").as("mn"), max($"v").as("mx"))
        .agg(
          transform(array_sort(collect_list(struct($"pos", $"mn"))),
            x => x.getField("mn")).as("mins"),
          transform(array_sort(collect_list(struct($"pos", $"mx"))),
            x => x.getField("mx")).as("maxs"))
        .select($"mins", $"maxs",
          expr("transform(maxs, (m, i) -> greatest(m - element_at(mins, i + 1), 1L))")
            .as("rng"))
      q.crossJoin(broadcast(codec))
        .withColumn("codes", expr(
          "transform(qv, (x, i) -> ((x - element_at(mins, i + 1)) * 255) div element_at(rng, i + 1))"))
        .withColumn("recon", expr(
          "transform(codes, (c, i) -> element_at(mins, i + 1) + ((c * element_at(rng, i + 1)) div 255))"))
        .select($"vec_id",
          expr("aggregate(zip_with(qv, recon, (a, b) -> abs(a - b)), 0L, (acc, e) -> acc + e)")
            .as("err_sum"),
          expr("aggregate(transform(codes, (c, i) -> c * (cast(i as bigint) + 1)), 0L, (acc, e) -> acc + e)")
            .as("code_checksum"))
        .orderBy($"vec_id")
    },
  )

  /** The integer-L2 IVF recall protocol behind `simsearch_ivf_trained`, parameterized so
    * SimilarityChainSpec can hold the metric fixed and vary ONLY the index: trained
    * centroids vs raw seeds, and how many cells each query probes. Cross-metric recall
    * comparisons (the cosine-based `simsearch_recall` vs this chain) say nothing about
    * what training bought. */
  private[ext] def ivfRecallInteger(s: SparkSession, dir: String,
                                    trained: Boolean, nprobe: Int,
                                    k: Int = IvfTopK): DataFrame = {
    import s.implicits._
    val q = milliQ(s, dir).cache()
    val cents =
      if (trained) lloydOnce(s, q)
      else q.filter($"vec_id".isin(CentroidIds: _*))
        .select($"vec_id".as("cid"), $"qv".as("cvec"))
    val scoredC = q.crossJoin(broadcast(cents))
      .withColumn("dot", dot($"qv", $"cvec"))
    // packed-argmax assignment + join-back (see assignCells): the wide first(qv)
    // variant planned a SortAggregate over every corpus × cells row
    val assigned = q.join(assignCells(q, cents), Seq("vec_id"))
      .select($"vec_id", $"cell", $"qv", $"vv")
    val wProbe = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"cid")
    val probes = scoredC.filter($"vec_id" < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"vec_id".as("q_id"), $"qv".as("pqv"), $"vv".as("pvv"), $"cid".as("p_cell"))
    val wTop = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    // every vector lives in exactly ONE cell, so probing distinct cells cannot produce
    // duplicate (q_id, vec_id) candidates — no dedup stage needed
    val approx = assigned
      .join(broadcast(probes), $"cell" === $"p_cell" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        ($"vv" - lit(2L) * dot($"qv", $"pqv") + $"pvv").as("d"))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id")
    val qs = q.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"qv".as("eqv"), $"vv".as("evv"))
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        ($"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv").as("d"))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id")
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("hits"))
    exact.groupBy($"q_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left_outer")
      .select($"q_id", $"k",
        coalesce($"hits", lit(0L)).as("hits"),
        expr("coalesce(hits, 0) * 10000 div k").as("recall_bp"))
      .orderBy($"q_id")
  }

  /** The nprobe SWEEP of [[ivfRecallInteger]] (trained index), one plan for the whole
    * curve: train, assignment and the exact baseline are computed once; a probe row at
    * probe-rank `rn` serves every sweep point with `nprobe >= rn` (the fan-out is a
    * constant-size `explode` over the sweep literals, applied to the queries×nprobe_max
    * probe rows only), and candidate ranking/recall partition by `(nprobe, q_id)`. */
  private[ext] def ivfRecallCurve(s: SparkSession, dir: String,
                                  nprobes: Seq[Int], k: Int): DataFrame = {
    import s.implicits._
    val q = milliQ(s, dir).cache()
    val cents = lloydOnce(s, q)
    val scoredC = q.crossJoin(broadcast(cents))
      .withColumn("dot", dot($"qv", $"cvec"))
    // packed-argmax assignment + join-back (see assignCells)
    val assigned = q.join(assignCells(q, cents), Seq("vec_id"))
      .select($"vec_id", $"cell", $"qv", $"vv")
    val wProbe = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"cid")
    val sweep = array(nprobes.map(n => lit(n.toLong)): _*)
    val probes = scoredC.filter($"vec_id" < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobes.max)
      .select($"vec_id".as("q_id"), $"qv".as("pqv"), $"vv".as("pvv"), $"cid".as("p_cell"),
        explode(filter(sweep, np => np >= $"rn")).as("nprobe"))
    val wTop = Window.partitionBy($"nprobe", $"q_id").orderBy($"d".asc, $"vec_id")
    val approx = assigned
      .join(broadcast(probes), $"cell" === $"p_cell" && $"vec_id" =!= $"q_id")
      .select($"nprobe", $"q_id", $"vec_id",
        ($"vv" - lit(2L) * dot($"qv", $"pqv") + $"pvv").as("d"))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= k)
      .select($"nprobe", $"q_id", $"vec_id")
    val qs = q.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"qv".as("eqv"), $"vv".as("evv"))
    val wExact = Window.partitionBy($"q_id").orderBy($"d".asc, $"vec_id")
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        ($"vv" - lit(2L) * dot($"qv", $"eqv") + $"evv").as("d"))
      .withColumn("rnk", row_number().over(wExact))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id")
    val hits = exact.join(approx, Seq("q_id", "vec_id"))
      .groupBy($"nprobe", $"q_id").agg(count(lit(1)).as("hits"))
    // the (nprobe × q_id) grid keeps zero-hit sweep points visible in the curve
    val grid = exact.groupBy($"q_id").agg(count(lit(1)).as("k"))
      .crossJoin(nprobes.map(_.toLong).toDF("nprobe"))
    grid.join(hits, Seq("nprobe", "q_id"), "left_outer")
      .select($"nprobe", $"q_id", $"k",
        coalesce($"hits", lit(0L)).as("hits"),
        expr("coalesce(hits, 0) * 10000 div k").as("recall_bp"))
      .orderBy($"nprobe", $"q_id")
  }

  private val qSetSql = s"vec_id < $NumQueries"
  private val planeSetSql = PlaneIds.mkString("(", ", ", ")")
  private val dupPlaneSetSql = DupPlaneIds.mkString("(", ", ", ")")

  /** Shared CTE prefix of the trained-IVF oracles (`simsearch_ivf_trained` and the
    * nprobe sweep): milli-quantize → one Lloyd round from the fixed seeds (c1) →
    * re-score/assign every vector against the trained centroids (s2, a2). */
  private val trainedChainPrefixSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM q),
       |c0 AS (SELECT vec_id AS cid, qv AS cvec FROM q
       |  WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}),
       |s1 AS (SELECT qq.vec_id, qq.qv, c0.cid,
       |  CAST(list_dot_product(qq.qv, c0.cvec) AS BIGINT) AS dot FROM qq CROSS JOIN c0),
       |a1 AS (SELECT vec_id, qv, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
       |  FROM s1) WHERE rn = 1),
       |u AS (SELECT cid, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1),
       |cd AS (SELECT cid, pos,
       |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
       |  FROM u GROUP BY cid, pos),
       |c1 AS (SELECT cid, list(cd ORDER BY pos) AS cvec FROM cd GROUP BY cid),
       |s2 AS (SELECT qq.vec_id, qq.qv, qq.vv, c1.cid,
       |  CAST(list_dot_product(qq.qv, c1.cvec) AS BIGINT) AS dot FROM qq CROSS JOIN c1),
       |a2 AS (SELECT vec_id, qv, vv, cid AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
       |  FROM s2) WHERE rn = 1)""".stripMargin

  /** Shared CTE suffix: the exact integer-L2 top-k ground truth (`exact`). */
  private val exactIntegerTopKSql: String =
    s"""qs AS (SELECT vec_id AS q_id, qv AS eqv, vv AS evv FROM qq WHERE vec_id < $NumQueries),
       |ex0 AS (SELECT qs.q_id, qq.vec_id,
       |  qq.vv - 2 * CAST(list_dot_product(qq.qv, qs.eqv) AS BIGINT) + qs.evv AS d
       |  FROM qq CROSS JOIN qs WHERE qq.vec_id <> qs.q_id),
       |exact AS (SELECT q_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM ex0)
       |  WHERE rnk <= $IvfTopK)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the same one-Lloyd-round chain, trained on the base slice only, assigning the
    // disjoint append slice to the frozen centroids
    "simsearch_ivf_append" ->
      s"""WITH q AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |qq AS (SELECT vec_id, qv FROM q),
         |b AS (SELECT * FROM qq WHERE vec_id % 11 <> 6),
         |ap AS (SELECT * FROM qq WHERE vec_id % 11 = 6),
         |c0 AS (SELECT vec_id AS cid, qv AS cvec FROM b
         |  WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}),
         |s1 AS (SELECT b.vec_id, b.qv, c0.cid,
         |  CAST(list_dot_product(b.qv, c0.cvec) AS BIGINT) AS dot FROM b CROSS JOIN c0),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |u AS (SELECT cid, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1),
         |cd AS (SELECT cid, pos,
         |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
         |  FROM u GROUP BY cid, pos),
         |c1 AS (SELECT cid, list(cd ORDER BY pos) AS cvec FROM cd GROUP BY cid),
         |s2 AS (SELECT ap.vec_id, c1.cid,
         |  CAST(list_dot_product(ap.qv, c1.cvec) AS BIGINT) AS dot FROM ap CROSS JOIN c1),
         |a2 AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1)
         |SELECT cell, cast(count(*) AS BIGINT) AS n_appended,
         |  cast(sum(vec_id) AS BIGINT) AS vec_id_sum
         |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin,
    // same exact-cosine shortlist as simsearch_topk, joined to per-doc token counts and
    // prefix-packed by a rank-ordered running sum cut at the budget
    "rag_context_pack" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $qSetSql),
         |scored AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM e, q WHERE vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM scored),
         |d AS (SELECT doc_id,
         |  cast(len(list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')) AS BIGINT) AS tok_cnt
         |  FROM documents),
         |j AS (SELECT r.q_id, r.rnk, d.doc_id, d.tok_cnt, r.sim,
         |  cast(sum(d.tok_cnt) OVER (PARTITION BY r.q_id ORDER BY r.rnk) AS BIGINT) AS cum_tokens
         |  FROM ranked r JOIN d ON r.vec_id = d.doc_id WHERE r.rnk <= $TopK)
         |SELECT q_id, rnk, doc_id, tok_cnt, cum_tokens, sim FROM j
         |WHERE cum_tokens <= $RagPackBudget ORDER BY q_id, rnk""".stripMargin,
    // per-dim [min,max] codec over the same trunc(x*1000) integer domain; // matches
    // Spark's div on the non-negative numerators; pos is 1-based like Spark's i+1 weight
    "simsearch_quantize_int8" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |d AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q),
        |st AS (SELECT pos, min(v) AS mn, greatest(max(v) - min(v), 1) AS rng
        |       FROM d GROUP BY pos),
        |c AS (SELECT d.vec_id, d.pos, d.v, st.mn, st.rng,
        |        ((d.v - st.mn) * 255) // st.rng AS code
        |      FROM d JOIN st USING (pos))
        |SELECT vec_id,
        |  cast(sum(abs(v - (mn + (code * rng) // 255))) AS BIGINT) AS err_sum,
        |  cast(sum(code * pos) AS BIGINT) AS code_checksum
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // exact-integer Lloyd round: trunc(x*1000) quantization matches Spark's
    // double->long cast (both truncate toward zero); list_dot_product over the BIGINT
    // lists is exact below 2^53; floor division matches Spark's floor(cast/cnt)
    "simsearch_kmeans_iter" ->
      s"""WITH q AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM q),
         |c0 AS (SELECT vec_id AS cid, qv AS cvec FROM q
         |  WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}),
         |s1 AS (SELECT qq.vec_id, qq.qv, c0.cid,
         |  CAST(list_dot_product(qq.qv, c0.cvec) AS BIGINT) AS dot FROM qq CROSS JOIN c0),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |u AS (SELECT cid, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1),
         |cd AS (SELECT cid, pos,
         |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
         |  FROM u GROUP BY cid, pos),
         |c1 AS (SELECT cid, list(cd ORDER BY pos) AS cvec FROM cd GROUP BY cid),
         |s2 AS (SELECT qq.vec_id, qq.vv, c1.cid,
         |  CAST(list_dot_product(qq.qv, c1.cvec) AS BIGINT) AS dot,
         |  CAST(list_dot_product(c1.cvec, c1.cvec) AS BIGINT) AS cc
         |  FROM qq CROSS JOIN c1),
         |a2 AS (SELECT vec_id, vv, cid, dot, cc FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1)
         |SELECT cid, cast(count(*) AS BIGINT) AS member_cnt, min(cc) AS centroid_cc,
         |  cast(sum(vv - 2 * dot + cc) AS BIGINT) AS inertia
         |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    "simsearch_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $qSetSql),
         |scored AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM e, q WHERE vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM scored)
         |SELECT q_id, rnk, vec_id, sim FROM ranked WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    "simsearch_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |p AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id IN $planeSetSql),
         |signs AS (SELECT vec_id,
         |  CASE WHEN list_dot_product(v, pv) >= 0 THEN (1::BIGINT << (p_id - ${PlaneIds.head})::INT) ELSE 0 END AS bitval
         |  FROM e, p),
         |buckets AS (SELECT vec_id, cast(sum(bitval) AS BIGINT) AS bucket FROM signs GROUP BY vec_id)
         |SELECT bucket, cast(count(*) AS BIGINT) AS vec_cnt, min(vec_id) AS min_vec_id
         |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin,
    "simsearch_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}),
         |asim AS (SELECT vec_id, v, c_id,
         |  round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
         |  FROM e, c),
         |assigned AS (SELECT vec_id, v, c_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn FROM asim)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell FROM assigned WHERE vec_id < $NumQueries),
         |scored AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM assigned JOIN q ON cell = q_cell AND vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM scored)
         |SELECT q_id, rnk, vec_id, sim FROM ranked WHERE rnk <= $IvfTopK ORDER BY q_id, rnk""".stripMargin,
    "simsearch_filtered" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |m AS (SELECT doc_id AS vec_id FROM documents WHERE lang IN ('en','de') AND n_chars >= 200),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $qSetSql),
         |scored AS (SELECT q_id, e.vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM e JOIN m ON e.vec_id = m.vec_id, q WHERE e.vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM scored)
         |SELECT q_id, rnk, vec_id, sim FROM ranked WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    "simsearch_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |qx AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $qSetSql),
         |sx AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM e, qx WHERE vec_id <> q_id),
         |rx AS (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM sx),
         |exact AS (SELECT q_id, vec_id FROM rx WHERE rnk <= $IvfTopK),
         |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}),
         |asim AS (SELECT vec_id, v, c_id,
         |  round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
         |  FROM e, c),
         |assigned AS (SELECT vec_id, v, c_id AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rn FROM asim)
         |  WHERE rn = 1),
         |qi AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell FROM assigned WHERE vec_id < $NumQueries),
         |si AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM assigned JOIN qi ON cell = q_cell AND vec_id <> q_id),
         |ri AS (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM si),
         |approx AS (SELECT q_id, vec_id FROM ri WHERE rnk <= $IvfTopK),
         |h AS (SELECT exact.q_id, cast(count(*) AS BIGINT) AS hits FROM exact
         |      JOIN approx ON exact.q_id = approx.q_id AND exact.vec_id = approx.vec_id
         |      GROUP BY exact.q_id),
         |kx AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact GROUP BY q_id)
         |SELECT kx.q_id, kx.k, coalesce(h.hits, 0) AS hits,
         |  coalesce(h.hits, 0) * 10000 // kx.k AS recall_bp
         |FROM kx LEFT JOIN h ON kx.q_id = h.q_id
         |ORDER BY kx.q_id""".stripMargin,
    // the trained-IVF chain: the SAME Lloyd-round CTEs as the kmeans oracle produce c1,
    // which then serves as the probe index — nprobe=2 cells per query, exact integer L2
    // candidate scoring, recall vs the exact integer-L2 top-k over the whole corpus
    "simsearch_ivf_trained" ->
      s"""$trainedChainPrefixSql,
         |probes AS (SELECT vec_id AS q_id, qv AS pqv, vv AS pvv, cid AS p_cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s2 WHERE vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
         |cand AS (SELECT p.q_id, a.vec_id,
         |  a.vv - 2 * CAST(list_dot_product(a.qv, p.pqv) AS BIGINT) + p.pvv AS d
         |  FROM a2 a JOIN probes p ON a.cell = p.p_cell AND a.vec_id <> p.q_id),
         |approx AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM cand)
         |  WHERE rnk <= $IvfTopK),
         |$exactIntegerTopKSql,
         |h AS (SELECT exact.q_id, cast(count(*) AS BIGINT) AS hits FROM exact
         |      JOIN approx ON exact.q_id = approx.q_id AND exact.vec_id = approx.vec_id
         |      GROUP BY exact.q_id),
         |kx AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact GROUP BY q_id)
         |SELECT kx.q_id, kx.k, coalesce(h.hits, 0) AS hits,
         |  coalesce(h.hits, 0) * 10000 // kx.k AS recall_bp
         |FROM kx LEFT JOIN h ON kx.q_id = h.q_id
         |ORDER BY kx.q_id""".stripMargin,
    // the nprobe sweep of the trained chain: same prefix CTEs, probe rows fan out to
    // every sweep point with nprobe >= probe-rank, ranking partitions by (nprobe, q_id)
    "simsearch_recall_curve" ->
      s"""$trainedChainPrefixSql,
         |np AS (SELECT CAST(n AS BIGINT) AS nprobe FROM (VALUES ${RecallCurveNProbes.map(n => s"($n)").mkString(", ")}) t(n)),
         |pr AS (SELECT vec_id AS q_id, qv AS pqv, vv AS pvv, cid AS p_cell, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s2 WHERE vec_id < $NumQueries) WHERE rn <= ${RecallCurveNProbes.max}),
         |probes AS (SELECT np.nprobe, pr.q_id, pr.pqv, pr.pvv, pr.p_cell
         |  FROM np JOIN pr ON pr.rn <= np.nprobe),
         |cand AS (SELECT p.nprobe, p.q_id, a.vec_id,
         |  a.vv - 2 * CAST(list_dot_product(a.qv, p.pqv) AS BIGINT) + p.pvv AS d
         |  FROM a2 a JOIN probes p ON a.cell = p.p_cell AND a.vec_id <> p.q_id),
         |approx AS (SELECT nprobe, q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY nprobe, q_id ORDER BY d, vec_id) AS rnk
         |  FROM cand) WHERE rnk <= $IvfTopK),
         |$exactIntegerTopKSql,
         |h AS (SELECT approx.nprobe, exact.q_id, cast(count(*) AS BIGINT) AS hits FROM exact
         |      JOIN approx ON exact.q_id = approx.q_id AND exact.vec_id = approx.vec_id
         |      GROUP BY approx.nprobe, exact.q_id),
         |kx AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact GROUP BY q_id),
         |grid AS (SELECT np.nprobe, kx.q_id, kx.k FROM np CROSS JOIN kx)
         |SELECT grid.nprobe, grid.q_id, grid.k, coalesce(h.hits, 0) AS hits,
         |  coalesce(h.hits, 0) * 10000 // grid.k AS recall_bp
         |FROM grid LEFT JOIN h ON grid.nprobe = h.nprobe AND grid.q_id = h.q_id
         |ORDER BY grid.nprobe, grid.q_id""".stripMargin,
    // same milli-quantization + exact integer L2 as the kmeans oracle; list_slice is
    // end-INCLUSIVE (Spark's slice takes a LENGTH) — both cut the same PqSubDim window
    "simsearch_pq" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (SELECT vec_id, s, list_slice(qv, s*$PqSubDim + 1, s*$PqSubDim + $PqSubDim) AS sv
         |  FROM e, (SELECT unnest(range($PqM)) AS s) ss),
         |svv AS (SELECT vec_id, s, sv, CAST(list_dot_product(sv, sv) AS BIGINT) AS svv FROM sub),
         |cb AS (SELECT s, CAST(vec_id - $PqSeedBase AS INT) AS code, sv AS cw, svv AS cc
         |  FROM svv WHERE vec_id BETWEEN $PqSeedBase AND ${PqSeedBase + PqK - 1}),
         |enc0 AS (SELECT v.vec_id, v.s, cb.code,
         |  v.svv - 2 * CAST(list_dot_product(v.sv, cb.cw) AS BIGINT) + cb.cc AS d
         |  FROM svv v JOIN cb ON v.s = cb.s),
         |enc AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc0) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, s, code, d FROM enc0 WHERE vec_id < $NumQueries),
         |adist AS (SELECT lut.q_id, enc.vec_id, CAST(sum(lut.d) AS BIGINT) AS adist
         |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
         |  WHERE enc.vec_id <> lut.q_id
         |  GROUP BY lut.q_id, enc.vec_id),
         |ranked AS (SELECT q_id, vec_id, adist,
         |  row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rnk FROM adist)
         |SELECT q_id, rnk, vec_id, adist FROM ranked WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    // same ADC chain as simsearch_pq, shortlist deepened to PqRerankR, then the exact
    // integer-L2 re-rank over full quantized vectors picks the final top-k
    "simsearch_pq_rerank" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (SELECT vec_id, s, list_slice(qv, s*$PqSubDim + 1, s*$PqSubDim + $PqSubDim) AS sv
         |  FROM e, (SELECT unnest(range($PqM)) AS s) ss),
         |svv AS (SELECT vec_id, s, sv, CAST(list_dot_product(sv, sv) AS BIGINT) AS svv FROM sub),
         |cb AS (SELECT s, CAST(vec_id - $PqSeedBase AS INT) AS code, sv AS cw, svv AS cc
         |  FROM svv WHERE vec_id BETWEEN $PqSeedBase AND ${PqSeedBase + PqK - 1}),
         |enc0 AS (SELECT v.vec_id, v.s, cb.code,
         |  v.svv - 2 * CAST(list_dot_product(v.sv, cb.cw) AS BIGINT) + cb.cc AS d
         |  FROM svv v JOIN cb ON v.s = cb.s),
         |enc AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc0) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, s, code, d FROM enc0 WHERE vec_id < $NumQueries),
         |adist AS (SELECT lut.q_id, enc.vec_id, CAST(sum(lut.d) AS BIGINT) AS adist
         |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
         |  WHERE enc.vec_id <> lut.q_id
         |  GROUP BY lut.q_id, enc.vec_id),
         |shortl AS (SELECT q_id, vec_id, adist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rnk
         |  FROM adist) WHERE rnk <= $PqRerankR),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM e),
         |qs AS (SELECT vec_id AS q_id, qv AS eqv, vv AS evv FROM qq WHERE vec_id < $NumQueries),
         |rr AS (SELECT sl.q_id, sl.vec_id, sl.adist,
         |  q.vv - 2 * CAST(list_dot_product(q.qv, qs.eqv) AS BIGINT) + qs.evv AS d
         |  FROM shortl sl JOIN qq q ON sl.vec_id = q.vec_id JOIN qs ON sl.q_id = qs.q_id)
         |SELECT q_id, rnk, vec_id, d, adist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM rr)
         |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    // the exact-arm CTEs restricted to the streamed feed set: serving answers are
    // batch-invariant, so the whole two-wave run reduces to one batch query
    "simsearch_stream" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM e),
         |qs AS (SELECT vec_id AS q_id, qv AS eqv, vv AS evv FROM qq WHERE vec_id % 50 = 7),
         |dd AS (SELECT qs.q_id, qq.vec_id,
         |  qq.vv - 2 * CAST(list_dot_product(qq.qv, qs.eqv) AS BIGINT) + qs.evv AS d
         |  FROM qq CROSS JOIN qs WHERE qq.vec_id <> qs.q_id)
         |SELECT q_id, rnk, vec_id, d FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM dd)
         |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    // the pq_rerank oracle's CTE chain with the IVF cell gate spliced in: fixed-seed
    // centroid assignment (max dot, ties to the lower cid), per-query top-nprobe
    // probe cells, and the adist aggregation restricted to vectors whose cell is
    // probed by that query — then the same shortlist + exact re-rank tail
    "simsearch_ivfpq" -> ivfPqOracleSql(qSetSql),
    // the SAME chain over the streaming feed's query set: the serving output is
    // batch-invariant (stateless per batch, index frozen pre-stream), so the oracle
    // is the static IVFADC-R computation on the arrival ids
    "simsearch_stream_ivfpq" -> ivfPqOracleSql("vec_id % 50 = 7"),
    // same chain, √N-cell quantizer, and (r17) the TIERED offline index assignment —
    // the two-level rule spliced into the a1 CTE (tieredA1); probes/ADC/re-rank tail
    // unchanged. This oracle defines the operator's exact semantics, as it did when
    // √N cells replaced the fixed 8 in r16.
    "simsearch_stream_ivfpq_cells" ->
      (ivfPqChainSql("vec_id % 50 = 7", milliCorpusSql, scaledC0Sql, tieredA1 = true) +
        " ORDER BY q_id, rnk"),
    // per-wave batch recompute of the whole IVFADC-R chain over the store as it stood
    // at that wave's serve time — see streamAppendOracleSql
    "simsearch_stream_append" -> streamAppendOracleSql,
    // both ranker chains restated (cosine with c-prefixed CTEs, PQ-ADC with the pq
    // oracle's CTEs), fused by scaled-integer reciprocal ranks over a full outer join
    "simsearch_rrf_fusion" ->
      s"""WITH ce AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cq AS (SELECT vec_id AS q_id, v AS qv FROM ce WHERE $qSetSql),
         |cs AS (SELECT q_id, vec_id,
         |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
         |  FROM ce, cq WHERE vec_id <> q_id),
         |ca AS (SELECT q_id, vec_id, rnk_cos FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk_cos
         |  FROM cs) WHERE rnk_cos <= $TopK),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (SELECT vec_id, s, list_slice(qv, s*$PqSubDim + 1, s*$PqSubDim + $PqSubDim) AS sv
         |  FROM e, (SELECT unnest(range($PqM)) AS s) ss),
         |svv AS (SELECT vec_id, s, sv, CAST(list_dot_product(sv, sv) AS BIGINT) AS svv FROM sub),
         |cb AS (SELECT s, CAST(vec_id - $PqSeedBase AS INT) AS code, sv AS cw, svv AS cc
         |  FROM svv WHERE vec_id BETWEEN $PqSeedBase AND ${PqSeedBase + PqK - 1}),
         |enc0 AS (SELECT v.vec_id, v.s, cb.code,
         |  v.svv - 2 * CAST(list_dot_product(v.sv, cb.cw) AS BIGINT) + cb.cc AS d
         |  FROM svv v JOIN cb ON v.s = cb.s),
         |enc AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc0) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, s, code, d FROM enc0 WHERE vec_id < $NumQueries),
         |adist AS (SELECT lut.q_id, enc.vec_id, CAST(sum(lut.d) AS BIGINT) AS adist
         |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
         |  WHERE enc.vec_id <> lut.q_id
         |  GROUP BY lut.q_id, enc.vec_id),
         |pa AS (SELECT q_id, vec_id, rnk_pq FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rnk_pq
         |  FROM adist) WHERE rnk_pq <= $TopK),
         |fused AS (SELECT coalesce(ca.q_id, pa.q_id) AS q_id,
         |  coalesce(ca.vec_id, pa.vec_id) AS vec_id, ca.rnk_cos, pa.rnk_pq,
         |  coalesce($RrfScale // ($RrfK + ca.rnk_cos), 0)
         |    + coalesce($RrfScale // ($RrfK + pa.rnk_pq), 0) AS score
         |  FROM ca FULL JOIN pa ON ca.q_id = pa.q_id AND ca.vec_id = pa.vec_id)
         |SELECT q_id, rnk, vec_id, cast(score AS BIGINT) AS score, rnk_cos, rnk_pq FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
         |  FROM fused) WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    // SemDeDup: the trained-IVF oracle's Lloyd CTE chain over the DOUBLED corpus, then
    // within-cell near-dup pairs under the integer-L2 epsilon
    "dedup_semantic" ->
      s"""WITH q0 AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |qd AS (SELECT vec_id, qv FROM q0
         |  UNION ALL SELECT vec_id + $DupIdOffset AS vec_id, qv FROM q0),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM qd),
         |c0 AS (SELECT cid, cvec FROM (
         |  SELECT vec_id AS cid, qv AS cvec, row_number() OVER (ORDER BY vec_id) AS rn
         |  FROM qd WHERE vec_id >= $SemDedupSeedBase)
         |  WHERE rn <= greatest(8, (SELECT count(*) FROM embeddings) // $SemDedupCellDivisor)),
         |s1 AS (SELECT qq.vec_id, qq.qv, c0.cid,
         |  CAST(list_dot_product(qq.qv, c0.cvec) AS BIGINT) AS dot FROM qq CROSS JOIN c0),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |u AS (SELECT cid, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1),
         |cd AS (SELECT cid, pos,
         |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
         |  FROM u GROUP BY cid, pos),
         |c1 AS (SELECT cid, list(cd ORDER BY pos) AS cvec FROM cd GROUP BY cid),
         |s2 AS (SELECT qq.vec_id, qq.qv, qq.vv, c1.cid,
         |  CAST(list_dot_product(qq.qv, c1.cvec) AS BIGINT) AS dot FROM qq CROSS JOIN c1),
         |a2 AS (SELECT vec_id, qv, vv, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1),
         |pr AS (SELECT DISTINCT a.vec_id FROM a2 a JOIN a2 b
         |  ON a.cell = b.cell AND a.vec_id > b.vec_id
         |  AND a.vv - 2 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT) + b.vv
         |      <= $SemDedupEpsMilli)
         |SELECT a2.vec_id, a2.cell, (pr.vec_id IS NOT NULL) AS dropped
         |FROM a2 LEFT JOIN pr ON a2.vec_id = pr.vec_id
         |ORDER BY a2.vec_id""".stripMargin,
    // tiered: raw seeds (no Lloyd) split into g = ceil(sqrt(k)) balanced groups
    // (cidx % g), coarse = per-group floor-mean, assignment coarse-first then fine
    // within the group; ties to the lower grp/cid at each level
    "dedup_semantic_tiered" ->
      s"""WITH q0 AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |qd AS (SELECT vec_id, qv FROM q0
         |  UNION ALL SELECT vec_id + $DupIdOffset AS vec_id, qv FROM q0),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM qd),
         |kk AS (SELECT greatest(8, (SELECT count(*) FROM embeddings) // $SemDedupCellDivisor) AS k),
         |gg AS (SELECT CAST(ceil(sqrt(k)) AS BIGINT) AS g FROM kk),
         |c0 AS (SELECT cid, cvec, rn - 1 AS cidx, (rn - 1) % (SELECT g FROM gg) AS grp FROM (
         |  SELECT vec_id AS cid, qv AS cvec, row_number() OVER (ORDER BY vec_id) AS rn
         |  FROM qd WHERE vec_id >= $SemDedupSeedBase)
         |  WHERE rn <= (SELECT k FROM kk)),
         |gu AS (SELECT grp, unnest(cvec) AS v, generate_subscripts(cvec, 1) AS pos FROM c0),
         |gd AS (SELECT grp, pos,
         |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
         |  FROM gu GROUP BY grp, pos),
         |gc AS (SELECT grp, list(cd ORDER BY pos) AS gvec FROM gd GROUP BY grp),
         |sg AS (SELECT qq.vec_id, gc.grp,
         |  CAST(list_dot_product(qq.qv, gc.gvec) AS BIGINT) AS dot FROM qq CROSS JOIN gc),
         |ag AS (SELECT vec_id, grp FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, grp ASC) AS rn
         |  FROM sg) WHERE rn = 1),
         |sf AS (SELECT qq.vec_id, qq.qv, qq.vv, c0.cid,
         |  CAST(list_dot_product(qq.qv, c0.cvec) AS BIGINT) AS dot
         |  FROM qq JOIN ag ON qq.vec_id = ag.vec_id JOIN c0 ON c0.grp = ag.grp),
         |a2 AS (SELECT vec_id, qv, vv, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
         |  FROM sf) WHERE rn = 1),
         |pr AS (SELECT DISTINCT a.vec_id FROM a2 a JOIN a2 b
         |  ON a.cell = b.cell AND a.vec_id > b.vec_id
         |  AND a.vv - 2 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT) + b.vv
         |      <= $SemDedupEpsMilli)
         |SELECT a2.vec_id, a2.cell, (pr.vec_id IS NOT NULL) AS dropped
         |FROM a2 LEFT JOIN pr ON a2.vec_id = pr.vec_id
         |ORDER BY a2.vec_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id + $DupIdOffset AS vec_id, v FROM e0),
         |p AS (SELECT vec_id AS p_id, v AS pv FROM e0 WHERE vec_id IN $dupPlaneSetSql),
         |signs AS (SELECT e.vec_id,
         |  CASE WHEN list_dot_product(v, pv) >= 0 THEN (1::BIGINT << (p_id - ${DupPlaneIds.head})::INT) ELSE 0 END AS bitval
         |  FROM e, p),
         |bk AS (SELECT vec_id, cast(sum(bitval) AS BIGINT) AS bucket FROM signs GROUP BY vec_id),
         |bv AS (SELECT bk.vec_id, bucket, v, sqrt(list_dot_product(v, v)) AS norm
         |       FROM bk JOIN e ON bk.vec_id = e.vec_id)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS sim
         |FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.999
         |ORDER BY vec_a, vec_b""".stripMargin,
    // the relative-plane variant: plane count = smallest p >= 10 with 2^(p+1) >= n
    // (pure-integer rule — no LOG2 float boundary risk), planes = base vectors
    // [head, head+p); otherwise identical to dedup_embedding_cosine
    "dedup_embedding_cosine_rel" ->
      s"""WITH pc AS (SELECT MIN(p) AS p FROM range(10, 62) t(p)
         |  WHERE (1::BIGINT << ((p + 1)::INT)) >= (SELECT COUNT(*) FROM embeddings)),
         |e0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id + $DupIdOffset AS vec_id, v FROM e0),
         |p AS (SELECT vec_id AS p_id, v AS pv FROM e0
         |  WHERE vec_id >= ${DupPlaneIds.head} AND vec_id < ${DupPlaneIds.head} + (SELECT p FROM pc)),
         |signs AS (SELECT e.vec_id,
         |  CASE WHEN list_dot_product(v, pv) >= 0 THEN (1::BIGINT << (p_id - ${DupPlaneIds.head})::INT) ELSE 0 END AS bitval
         |  FROM e, p),
         |bk AS (SELECT vec_id, cast(sum(bitval) AS BIGINT) AS bucket FROM signs GROUP BY vec_id),
         |bv AS (SELECT bk.vec_id, bucket, v, sqrt(list_dot_product(v, v)) AS norm
         |       FROM bk JOIN e ON bk.vec_id = e.vec_id)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS sim
         |FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.999
         |ORDER BY vec_a, vec_b""".stripMargin,
  )

  /** The `simsearch_ivfpq` / `simsearch_stream_ivfpq` oracle — the pq_rerank chain
    * with the IVF cell gate spliced in: fixed-seed centroid assignment (max dot, ties
    * to the lower cid), per-query top-nprobe probe cells, the adist aggregation
    * restricted to vectors whose cell is probed by that query, then the shortlist +
    * exact re-rank tail. Parameterized by the query-id predicate (`vec_id < 3` for
    * the fixed chain, the streaming feed's `vec_id % 50 = 7` for the server — the
    * serving output is batch-invariant, so the static computation IS the oracle). */
  private def ivfPqOracleSql(qSet: String): String =
    ivfPqChainSql(qSet, milliCorpusSql) + " ORDER BY q_id, rnk"

  /** The milli-quantized corpus scan every similarity oracle opens with — also the
    * base term of the append server's per-wave corpus bodies. A `def`, NOT a `val`:
    * the `oracle` map val initializes before this point in the file, and a forward
    * val reference would silently interpolate null into every chain oracle. */
  private def milliCorpusSql: String =
    s"""SELECT vec_id,
       |  list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings""".stripMargin

  /** The scaled-cell centroid CTE body (simsearch_stream_ivfpq_cells): the lowest
    * ⌈√N⌉ (floor 8) corpus ids ≥ SemDedupSeedBase, raw — exactly the engine's
    * scaledCells seed rule. IEEE-correctly-rounded SQRT never crosses an integer
    * boundary wrongly, so CEIL(SQRT(n)) agrees with the engine's math.ceil(math.sqrt). */
  private def scaledC0Sql: String =
    s"""SELECT cid, cvec FROM (
       |  SELECT vec_id AS cid, qv AS cvec, row_number() OVER (ORDER BY vec_id) AS crn
       |  FROM e WHERE vec_id >= $SemDedupSeedBase)
       |  WHERE crn <= (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
       |                FROM embeddings)""".stripMargin

  /** [[ivfPqOracleSql]] with the corpus CTE body as a parameter (no final ORDER BY, so
    * callers can compose per-wave chains under a UNION): the streaming append oracle
    * re-runs this whole chain once per wave with e := base ∪ appended-so-far. The
    * coarse-quantizer CTE body is also parameterizable ([[scaledC0Sql]]); it defaults
    * to the fixed 8-seed set. `tieredA1` swaps the index-assignment CTE for the
    * two-level rule (the `_cells` r17 offline build — groups of cidx % ⌈√k⌉, per-group
    * floor-mean coarse reps, coarse-then-fine max-dot with the lower-grp/lower-cid tie
    * rule, exactly [[assignCellsTiered]]); the probe CTE is untouched, and the corpus ×
    * cells cross join shrinks to corpus × ⌈√k⌉ reps + corpus × k/⌈√k⌉ group members —
    * which is also what lets DuckDB run this oracle at sf10 without staging. */
  private def ivfPqChainSql(qSet: String, eBody: String, c0Body: String = "",
      tieredA1: Boolean = false): String = {
      val c0 = if (c0Body.nonEmpty) c0Body
        else s"""SELECT vec_id AS cid, qv AS cvec FROM e
           |  WHERE vec_id IN ${CentroidIds.mkString("(", ", ", ")")}""".stripMargin
      val assign = if (!tieredA1)
        s"""s1 AS (SELECT e.vec_id, c0.cid,
           |  CAST(list_dot_product(e.qv, c0.cvec) AS BIGINT) AS dot FROM e CROSS JOIN c0),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
           |  FROM s1) WHERE rn = 1),""".stripMargin
      else
        s"""gg AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS g FROM c0),
           |c0i AS (SELECT cid, cvec, rn - 1 AS cidx, (rn - 1) % (SELECT g FROM gg) AS grp
           |  FROM (SELECT cid, cvec, row_number() OVER (ORDER BY cid) AS rn FROM c0)),
           |gu AS (SELECT grp, unnest(cvec) AS v, generate_subscripts(cvec, 1) AS pos FROM c0i),
           |gd AS (SELECT grp, pos,
           |  CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cd
           |  FROM gu GROUP BY grp, pos),
           |gc AS (SELECT grp, list(cd ORDER BY pos) AS gvec FROM gd GROUP BY grp),
           |sg AS (SELECT e.vec_id, gc.grp,
           |  CAST(list_dot_product(e.qv, gc.gvec) AS BIGINT) AS dot FROM e CROSS JOIN gc),
           |ag AS (SELECT vec_id, grp FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, grp ASC) AS rn
           |  FROM sg) WHERE rn = 1),
           |sf AS (SELECT e.vec_id, c0i.cid,
           |  CAST(list_dot_product(e.qv, c0i.cvec) AS BIGINT) AS dot
           |  FROM e JOIN ag ON e.vec_id = ag.vec_id JOIN c0i ON c0i.grp = ag.grp),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
           |  FROM sf) WHERE rn = 1),
           |s1 AS (SELECT e.vec_id, c0.cid,
           |  CAST(list_dot_product(e.qv, c0.cvec) AS BIGINT) AS dot
           |  FROM e CROSS JOIN c0 WHERE $qSet),""".stripMargin
      s"""WITH e AS ($eBody),
         |sub AS (SELECT vec_id, s, list_slice(qv, s*$PqSubDim + 1, s*$PqSubDim + $PqSubDim) AS sv
         |  FROM e, (SELECT unnest(range($PqM)) AS s) ss),
         |svv AS (SELECT vec_id, s, sv, CAST(list_dot_product(sv, sv) AS BIGINT) AS svv FROM sub),
         |cb AS (SELECT s, CAST(vec_id - $PqSeedBase AS INT) AS code, sv AS cw, svv AS cc
         |  FROM svv WHERE vec_id BETWEEN $PqSeedBase AND ${PqSeedBase + PqK - 1}),
         |enc0 AS (SELECT v.vec_id, v.s, cb.code,
         |  v.svv - 2 * CAST(list_dot_product(v.sv, cb.cw) AS BIGINT) + cb.cc AS d
         |  FROM svv v JOIN cb ON v.s = cb.s),
         |enc AS (SELECT vec_id, s, code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |  FROM enc0) WHERE rn = 1),
         |lut AS (SELECT vec_id AS q_id, s, code, d FROM enc0 WHERE $qSet),
         |c0 AS ($c0),
         |$assign
         |probes AS (SELECT vec_id AS q_id, cid AS p_cell FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM s1 WHERE $qSet) WHERE rn <= $IvfNProbe),
         |adist AS (SELECT lut.q_id, enc.vec_id, CAST(sum(lut.d) AS BIGINT) AS adist
         |  FROM enc JOIN a1 ON enc.vec_id = a1.vec_id
         |  JOIN probes pr ON a1.cid = pr.p_cell
         |  JOIN lut ON enc.s = lut.s AND enc.code = lut.code AND lut.q_id = pr.q_id
         |  WHERE enc.vec_id <> pr.q_id
         |  GROUP BY lut.q_id, enc.vec_id),
         |shortl AS (SELECT q_id, vec_id, adist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rnk
         |  FROM adist) WHERE rnk <= $PqRerankR),
         |qq AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS vv FROM e),
         |qs AS (SELECT vec_id AS q_id, qv AS eqv, vv AS evv FROM qq WHERE $qSet),
         |rr AS (SELECT sl.q_id, sl.vec_id, sl.adist,
         |  q.vv - 2 * CAST(list_dot_product(q.qv, qs.eqv) AS BIGINT) + qs.evv AS d
         |  FROM shortl sl JOIN qq q ON sl.vec_id = q.vec_id JOIN qs ON sl.q_id = qs.q_id)
         |SELECT q_id, rnk, vec_id, d, adist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rnk FROM rr)
         |WHERE rnk <= $TopK""".stripMargin
  }

  /** The `simsearch_stream_append` oracle: the [[ivfPqChainSql]] chain re-run once per
    * wave with the corpus as the server's store stood at that wave's SERVE time —
    * wave 1 sees the base corpus only, wave 2 sees base ∪ wave-1 appends (orig % 2 = 0
    * of the `% 11` slice plus the planted query copies). A wave's own arrivals fold in
    * AFTER its serve, so they never appear in their own wave — exactly the engine's
    * hook ordering. */
  private def streamAppendOracleSql: String = {
    val appPred =
      s"(vec_id % 11 = $IvfAppendResidue OR vec_id < $NumQueries)"
    val wave2Body =
      s"""$milliCorpusSql
         |UNION ALL
         |SELECT vec_id + $DupIdOffset AS vec_id, qv
         |FROM ($milliCorpusSql) WHERE $appPred AND vec_id % 2 = 0""".stripMargin
    s"""SELECT CAST(1 AS BIGINT) AS wave, * FROM (
       |${ivfPqChainSql(qSetSql, milliCorpusSql)})
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS wave, * FROM (
       |${ivfPqChainSql(qSetSql, wave2Body)})
       |ORDER BY q_id, wave, rnk""".stripMargin
  }
}
