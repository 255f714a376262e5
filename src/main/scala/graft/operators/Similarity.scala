package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.FeatureFrame
import graft.estimators.KNeighborsClassifier
import graft.functions.dec4
import graft.sources.Tables._

/** Similarity search over the embeddings table (SURVEY.md §2 D1/D2/D4).
  *
  * Scale posture:
  * - Every probe search, exact or approximate (D1, D3/D5 LSH, D6/D17/
  *   D31/D32 IVF, D8 PQ, D16 SQ, D22 matryoshka, D24/D27 binary, the
  *   D11/D18–D20 first passes), is ONE pipeline: [[heapScan]] →
  *   optionally [[exactRerank]] → [[globalTopK]]. The probe set is
  *   SMALL and broadcast; `heapScan` streams the corpus once, each
  *   partition keeping a bounded heap set per arm that the caller's
  *   scorer fills (cosine, cell-routed cosine, PQ/SQ/binary codes), and
  *   emits only partitions×probes×depth candidate rows. `exactRerank`
  *   cuts a budgeted search's candidates, looks their raw vectors up
  *   through a broadcast join and scores exact cosine; `globalTopK`
  *   merges per (arm,) probe. Only a few thousand rows ever shuffle,
  *   never the corpus. The callers own only their algorithm's scoring.
  * - The helpers own the rules every oracle depends on: dots and norms
  *   accumulate index-ascending ([[dot]]); every heap, cut and merge
  *   orders by (sim DESC, vec_id) ([[TopKHeaps]], [[rankCut]]); and
  *   `embeddings.embedding` is non-null by contract — a null fails with
  *   `non-null embeddings.embedding violated at vec_id N` ([[vectorAt]])
  *   instead of an NPE, and an empty partition emits no rows.
  * - D2 exact near-dup runs all-pairs via broadcast nested-loop (exact
  *   by construction); it is the small-corpus exact baseline — the
  *   LSH-bucketed ANN (D3, SURVEY) is the 100 TB path.
  * - D4 nearest-centroid: centroids are a 10×64 aggregate (one shuffle
  *   of 640 scalars), then classification reuses the broadcast kNN
  *   kernel with k=1 — no shuffle on the corpus side.
  */
object Similarity {

  /** Deterministic Gaussian hyperplanes via md5 + Box-Muller: component
    * (p,j) draws u1,u2 from the first 13 hex chars (52 bits) of
    * md5("p|j|1") / md5("p|j|2"), z = sqrt(-2 ln u1) cos(2π u2). An
    * engine-neutral derivation (unlike a JVM RNG) lets the DuckDB
    * oracle rebuild the identical planes; sign decisions agree across
    * engines unless |dot| is within libm's ulp noise (~1e-13 —
    * probability ~0 for 64-dim random data).
    */
  private[operators] def gaussianPlanes(nPlanes: Int, dim: Int,
                                        tag: String = ""): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex13(s0: String): Long = graft.functions.TextKernels.md5Prefix52(md, s0)
    val denom = 4503599627370496.0 // 16^13 = 2^52
    Array.tabulate(nPlanes, dim) { (p, j) =>
      val u1 = (hex13(s"$tag$p|$j|1") + 1.0) / denom
      val u2 = hex13(s"$tag$p|$j|2") / denom
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  /** Index-ascending dot product over `v`'s length: THE accumulation
    * order of every cosine, norm and cell score here (the oracles'
    * list functions sum in the same order; a reordered sum is a
    * different double).
    */
  private def dot(a: Array[Double], v: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < v.length) { d += a(j) * v(j); j += 1 }
    d
  }

  private def norm(v: Array[Double]): Double = math.sqrt(dot(v, v))

  /** Sign signature over the hyperplane set — the ONE implementation
    * used for both query (driver) and corpus (executor) vectors; any
    * divergence would silently collapse recall.
    */
  private def planeSig(planes: Array[Array[Double]], v: Array[Double]): Int = {
    var sig = 0; var p = 0
    while (p < planes.length) {
      if (dot(planes(p), v) > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  /** A kernel row's corpus vector (column `at`). Null policy:
    * `embeddings.embedding` is non-null by contract, and a null fails
    * loudly with its vec_id instead of an NPE deep in a kernel.
    */
  private def vectorAt(row: Row, at: Int, vid: Long): Array[Double] = {
    requireVector(!row.isNullAt(at), vid)
    row.getSeq[Double](at).toArray
  }

  private def requireVector(present: Boolean, vid: Long): Unit =
    require(present, s"non-null embeddings.embedding violated at vec_id $vid")

  /** `(vec_id, v)` of a frame from [[emb]] as a typed Dataset, under
    * [[vectorAt]]'s null policy.
    */
  private def idVectors(e: DataFrame): Dataset[(Long, Array[Double])] = {
    import e.sparkSession.implicits._
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) => requireVector(v != null, id); (id, v) }
  }

  /** Broadcast state for the top-k kernels: query ids (sorted), vectors,
    * and their norms (computed once, driver-side).
    */
  private final class QueryState(
      val qids: Array[Long],
      val qv: Array[Array[Double]]
  ) extends Serializable {
    val qnorm: Array[Double] = qv.map(norm)

    /** Cosine of probe `qi` against a corpus vector of norm `vNorm`. */
    def cosine(qi: Int, v: Array[Double], vNorm: Double): Double =
      dot(qv(qi), v) / (qnorm(qi) * vNorm)
  }

  /** Probe-set contract: the query side is a BOUNDED explicit table —
    * every 50th vec_id, capped at [[MaxProbes]] probes — so the driver
    * collect is O(MaxProbes·d) regardless of corpus size (a corpus
    * FRACTION like `vec_id % 50` alone would grow the collect 100× at
    * 100× data). In production the probe table arrives as its own
    * small DataFrame; this fixed derivation keeps the oracles
    * reproducible.
    */
  private val ProbeEvery = 50
  private val MaxProbes = 100

  /** Exact-contract slice bound: the exact O(slice²) pair queries (D2
    * near-dup pairs, the D12 kNN graph and its D26/D33 consumers) run
    * over the first [[ExactSliceMax]] vec_ids — a scan-level predicate
    * Parquet prunes before anything shuffles. The bound covers the
    * ENTIRE corpus at gate scales (max vec_id is 499 at sf0.01, 1999
    * at sf0.1), so the gate exercises the full exact contract; past it
    * the quadratic cost FREEZES at the bound instead of growing with
    * the corpus (at 10×/100× data these queries would otherwise be
    * ~100×/10000× — the one family whose cost is pairs, not rows; the
    * ANN/LSH families D3–D29 are the corpus-scale path and are gated
    * against this exact slice by D13). Production opt-in: raise the
    * bound, or feed a pre-sliced frame.
    */
  private val ExactSliceMax = 2048L

  /** The D37 sweep's own slice: the sweep re-runs BOTH quantizers over
    * 4 widths against a fresh exact graph every time, so its gate
    * budget is paid 8 arms deep — half the contract slice keeps the
    * capacity-planning curve (same knees, same monotonicity) at a
    * quarter of the exact-graph and pair-kernel cost. D35/D36 keep the
    * full [[ExactSliceMax]] contract.
    */
  private val SweepSliceMax = 1024L

  /** The D38 DBSCAN gate's contract slice: a vec_id cap INACTIVE at
    * gate scales (sf0.1 vec_ids stop at 1,999; ScaleData replica ids
    * start at 10,000) and FROZEN beyond — the hash-stable bound rule
    * (StreamFactMaxKey's posture) applied to the one oracle whose
    * within-cell pairwise-similarity replica grows quadratically in
    * replica-inflated cell sizes at 10×.
    */
  private val DbscanSliceMaxVec = 10000L

  /** THE query-side collect: every ANN/exact variant builds its
    * broadcast state here so the norm accumulation order (index
    * ascending — bit-sensitive to the oracles) cannot drift between
    * copies.
    */
  private def collectQueries(e: DataFrame): QueryState = {
    val qRows = e
      .filter(col("vec_id") % ProbeEvery === 0 &&
              col("vec_id") < ProbeEvery.toLong * MaxProbes)
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
    new QueryState(qRows.map(_.getLong(0)), qRows.map(_.getSeq[Double](1).toArray))
  }

  /** Per-partition bounded top-k buffers, one per query: keeps the k
    * best (sim desc, vid asc) entries via insertion into sorted arrays.
    * Shared by the exact and ANN kernels so tie-break fixes apply to
    * both.
    */
  private[graft] final class TopKHeaps(nq: Int, k: Int) {
    val sim = Array.fill(nq)(new Array[Double](k))
    val vid = Array.fill(nq)(new Array[Long](k))
    val cnt = new Array[Int](nq)

    def insert(qi: Int, s: Double, id: Long): Unit = {
      val c = cnt(qi)
      val better = c < k || s > sim(qi)(c - 1) ||
        (s == sim(qi)(c - 1) && id < vid(qi)(c - 1))
      if (better) {
        var p = math.min(c, k - 1)
        while (p > 0 && (sim(qi)(p - 1) < s ||
               (sim(qi)(p - 1) == s && vid(qi)(p - 1) > id))) {
          sim(qi)(p) = sim(qi)(p - 1); vid(qi)(p) = vid(qi)(p - 1); p -= 1
        }
        sim(qi)(p) = s; vid(qi)(p) = id
        if (c < k) cnt(qi) = c + 1
      }
    }

    /** The kept entries as local top-k rows (arm, q_id, vec_id, sim),
      * query by query, best first. */
    def emit(arm: Int, qids: Array[Long]): Iterator[Row] =
      (0 until nq).iterator.flatMap { qi =>
        (0 until cnt(qi)).map(p => Row(arm, qids(qi), vid(qi)(p), sim(qi)(p)))
      }
  }

  /** The one local top-k row shape. A search with a single heap set
    * emits arm 0; multi-arm searches (prefixes, probe widths, budgets)
    * number their arms from 0.
    */
  private val localTopKSchema = StructType(Seq(
    StructField("arm", IntegerType, nullable = false),
    StructField("q_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  /** Run a per-partition kernel that emits local top-k rows. */
  private def topKRows(df: DataFrame)(kernel: Iterator[Row] => Iterator[Row]): DataFrame =
    df.mapPartitions(kernel)(Encoders.row(localTopKSchema))

  /** Phase 1 of every probe search: ONE pass over the corpus
    * (vec_id, v). Each partition keeps one bounded heap set per arm —
    * arm a keeps `depths(a)` entries per probe — filled by the caller's
    * scorer, and emits them as local top-k rows. `scorer` runs once per
    * non-empty partition (read broadcasts and allocate buffers there)
    * and returns the per-vector step; an empty partition emits no rows
    * and reads no broadcast.
    */
  private[operators] def heapScan(e: DataFrame, qids: Array[Long], depths: Seq[Int])(
      scorer: Array[TopKHeaps] => (Long, Array[Double]) => Unit): DataFrame =
    topKRows(fanOut(e.select(col("vec_id"), col("v")))) { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val heaps = depths.map(new TopKHeaps(qids.length, _)).toArray
        val score = scorer(heaps)
        it.foreach { row =>
          val vid = row.getLong(0)
          score(vid, vectorAt(row, 1, vid))
        }
        heaps.indices.iterator.flatMap(a => heaps(a).emit(a, qids))
      }
    }

  /** The D1 exact scorer: every corpus vector's cosine against every
    * probe into one depth-`k` heap set. */
  private def cosineScan(e: DataFrame, qs: QueryState, k: Int): DataFrame = {
    val bc = e.sparkSession.sparkContext.broadcast(qs)
    heapScan(e, qs.qids, Seq(k)) { heaps =>
      val q = bc.value
      (vid, v) => {
        val nrm = norm(v)
        var qi = 0
        while (qi < q.qids.length) {
          heaps(0).insert(qi, q.cosine(qi, v, nrm), vid)
          qi += 1
        }
      }
    }
  }

  /** The merge key: the query, or with `byArm` the (arm, query). */
  private def queryKey(byArm: Boolean): Seq[Column] =
    (if (byArm) Seq(col("arm")) else Nil) :+ col("q_id")

  /** Each key's best `n` local rows by (sim DESC, vec_id), numbered
    * `rank`. */
  private def rankCut(locals: DataFrame, n: Int, byArm: Boolean): DataFrame = {
    val w = Window.partitionBy(queryKey(byArm): _*).orderBy(col("sim").desc, col("vec_id"))
    locals.withColumn("rank", row_number().over(w)).filter(col("rank") <= n)
  }

  /** Merge local top-k rows into the global per-query top-k
    * (q_id, vec_id, rank, sim); with `byArm` per (arm, query), the arm
    * kept as the first column. */
  private[operators] def globalTopK(locals: DataFrame, k: Int, byArm: Boolean = false): DataFrame =
    rankCut(locals, k, byArm).select(queryKey(byArm) ++ Seq(col("vec_id"),
      col("rank").cast("long").as("rank"), dec4(col("sim")).as("sim")): _*)

  /** Phase 2 of the budgeted ANN searches: cut each (arm,) query's
    * candidates to its best `nCand`, look their raw vectors up through
    * a broadcast join of the small candidate set (the corpus side is a
    * point lookup, never shuffled), score exact cosine and keep the
    * global top `k`.
    */
  private def exactRerank(e: DataFrame, qs: QueryState, locals: DataFrame,
                          nCand: Int, k: Int, byArm: Boolean = false): DataFrame = {
    val bc = e.sparkSession.sparkContext.broadcast(qs)
    val cands = rankCut(locals, nCand, byArm)
      .select(col("arm"), col("q_id"), col("vec_id"))
    val joined = e.select(col("vec_id"), col("v")).join(broadcast(cands), "vec_id")
      .select(col("arm"), col("q_id"), col("vec_id"), col("v"))
    val scored = topKRows(joined) { it =>
      val q = bc.value
      val qIdx = q.qids.zipWithIndex.toMap
      it.map { row =>
        val vid = row.getLong(2)
        val v = vectorAt(row, 3, vid)
        Row(row.getInt(0), row.getLong(1), vid,
          q.cosine(qIdx(row.getLong(1)), v, norm(v)))
      }
    }
    globalTopK(scored, k, byArm)
  }

  /** The recall block of the D13 contracts: per arm, the hits of its
    * top-k (q_id, vec_id) rows in the exact top-k over the exact row
    * count, as exact integers — (arm, n_hits, n_exact, recall_ppm),
    * one row per arm.
    */
  private def recallRows(exact: DataFrame, arms: Seq[(Column, DataFrame)]): DataFrame = {
    val total = broadcast(exact.agg(count(lit(1)).as("n_exact")))
    arms.map { case (arm, top) =>
      top.select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(total)
        .select(arm.as("arm"), col("n_hits"), col("n_exact"),
          expr("CAST((n_hits * 1000000) div n_exact AS BIGINT)").as("recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** D1: brute-force cosine top-k of every corpus vector against each
    * broadcast query vector. Two-phase: per-partition bounded heaps →
    * tiny global reduction.
    */
  def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    globalTopK(cosineScan(e, collectQueries(e), k), k)
  }

  /** D30: FILTERED vector search + the post-filter-loss census — the
    * metadata-constrained query every production vector store serves
    * ("top-k among vectors with label = X") and the classic failure
    * mode it exists to avoid: filtering the unconstrained top-k after
    * the fact loses results whenever the filter is selective (~10%
    * per label here, so naive post-filtering keeps ~1 of 10). One
    * corpus pass feeds TWO bounded heap sets per query (the D1 exact
    * kernel, label predicate applied INSIDE the scan — the pre-filter
    * arm), and each published filtered hit carries `in_unfiltered`
    * (would naive post-filtering have found it?) plus the label's
    * selectivity census. At 100 TB: same cost as D1 (one pass,
    * O(q·k) state per task) + a ≤|labels|-key broadcast census; with
    * a label-partitioned layout the filter prunes partitions before
    * the scan (the G7 DPP posture).
    */
  def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val st = collectQueries(e)
    // query labels: the same bounded probe frame and vec_id order
    val qLabels: Array[Int] = e
      .filter(col("vec_id") % ProbeEvery === 0 &&
              col("vec_id") < ProbeEvery.toLong * MaxProbes)
      .select(col("vec_id"), col("label")).collect()
      .sortBy(_.getLong(0)).map(_.getInt(1))
    val bc = s.sparkContext.broadcast((st, qLabels))
    // the label predicate runs INSIDE the scan, so this kernel reads its
    // own (vec_id, v, label) rows instead of heapScan's (vec_id, v)
    val locals = topKRows(fanOut(e.select(col("vec_id"), col("v"), col("label")))) { it =>
      val (q, ql) = bc.value
      val nq = q.qids.length
      val heaps = Array.fill(2)(new TopKHeaps(nq, k)) // arm 0 unfiltered, 1 label-filtered
      it.foreach { row =>
        val vid = row.getLong(0)
        val v = vectorAt(row, 1, vid)
        val lab = row.getInt(2)
        val nrm = norm(v)
        var qi = 0
        while (qi < nq) {
          val sim = q.cosine(qi, v, nrm)
          heaps(0).insert(qi, sim, vid)
          if (lab == ql(qi)) heaps(1).insert(qi, sim, vid)
          qi += 1
        }
      }
      heaps.indices.iterator.flatMap(a => heaps(a).emit(a, q.qids))
    }
    val ranked = graft.core.Materialize.pin(globalTopK(locals, k, byArm = true))
    val filteredTop = ranked.filter(col("arm") === 1).drop("arm")
    val unfTop = ranked.filter(col("arm") === 0)
      .select(col("q_id").as("u_q"), col("vec_id").as("u_v"))
    import scala.jdk.CollectionConverters._
    val qlab = s.createDataFrame(
      st.qids.zip(qLabels).map { case (id, l) =>
        Row(id, l.toLong) }.toSeq.asJava,
      StructType(Seq(StructField("q_id", LongType, nullable = false),
                     StructField("q_label", LongType, nullable = false))))
    val nLab = e.groupBy(col("label").cast("long").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    filteredTop
      .join(broadcast(unfTop),
        col("q_id") === col("u_q") && col("vec_id") === col("u_v"), "left")
      .join(broadcast(qlab), Seq("q_id"))
      .join(broadcast(nLab), Seq("q_label"))
      .select(col("q_id"), col("q_label"), col("rank"), col("vec_id"),
        col("sim"),
        when(col("u_v").isNull, 0L).otherwise(1L).as("in_unfiltered"),
        col("n_label"))
  }

  /** D13: the ANN recall CONTRACT (B51's sketch-vs-exact idiom for
    * similarity search): every approximate variant's top-10 must hit at
    * least its documented recall floor against the exact D1 brute-force
    * top-10 over the same probe set, emitting 1-flags the oracle
    * expects all-true. Floors are the measured sf0.01/sf0.1 recalls
    * minus margin — they LOCK the candidate-generation quality against
    * regression (a banding/cell/codebook bug that silently degrades
    * recall fails the hash gate even though every ANN result row stays
    * individually "valid"):
    *
    *   hnsw ≥ 0.85  (sharded graph, D29 — measured 1.00 / 0.9975)
    *   lsh ≥ 0.60   (measured 0.78 @ sf0.01, 0.75 @ sf0.1)
    *   multiprobe ≥ 0.90   (measured 1.00 both)
    *   ivf ≥ 0.25   (nProbe=2/16 cells, measured 0.31 / 0.40)
    *   pq ≥ 0.04    (UNTRAINED random codebooks + 1% rerank budget,
    *                 measured 0.17 / 0.06 — the honest strawman number)
    *   pq_trained ≥ 0.20   (D8b: one-Lloyd-trained codebooks + 3%
    *                 rerank budget, measured 0.50 / 0.24)
    *
    * Cost shape per row: one exact baseline pass (pinned — it feeds
    * the semi join and the denominator) + the family's own corpus
    * pass + a broadcast-semi hit count. No pairwise blowup.
    *
    * One per-family recall-contract row (r12: the seven-family
    * composite q_ann_recall split so a regression NAMES its family in
    * both the correctness gate and the bench — the composite was the
    * slowest, noisiest registry query and hid which family moved).
    * Where the family's candidate generation is SQL-expressible the
    * row pins n_hits/n_exact/recall_ppm as exact integers (stronger
    * than the composite's boolean); the HNSW graph walk is not, so its
    * row keeps the flag-only posture (its structural invariants are
    * value-pinned by D29's own gate).
    */
  private def annRecallRow(s: SparkSession, dir: String, name: String,
                           floor: Double, ann: DataFrame,
                           pinValues: Boolean): DataFrame = {
    // pinned: the exact baseline subtree feeds the semi join AND the
    // denominator agg — unpinned it would brute-force the corpus twice
    val exact = graft.core.Materialize.pin(
      qCosineTopK(s, dir).select(col("q_id"), col("vec_id")))
    val row = recallRows(exact, Seq(lit(name) -> ann))
    val ok = (col("n_hits").cast("double") / col("n_exact") >= lit(floor))
      .cast("int").as("recall_ok")
    if (pinValues)
      row.select(col("arm").as("method"), col("n_hits"), col("n_exact"),
        col("recall_ppm"), ok)
    else
      row.select(col("arm").as("method"), ok)
  }

  /** D13 (split): per-family recall contracts — floors are the r11
    * measured recalls minus margin, unchanged by the split. */
  def qAnnRecallHnsw(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "hnsw", 0.85, annHnswTopK(s, dir), pinValues = false)
  def qAnnRecallIvf(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "ivf", 0.25, qAnnIvf(s, dir), pinValues = true)
  def qAnnRecallLsh(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "lsh", 0.60, qAnnLsh(s, dir), pinValues = true)
  def qAnnRecallMultiprobe(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "multiprobe", 0.90, qAnnMultiprobe(s, dir), pinValues = true)
  def qAnnRecallPq(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "pq", 0.04, qAnnPq(s, dir), pinValues = true)
  def qAnnRecallPqTrained(s: SparkSession, dir: String): DataFrame =
    annRecallRow(s, dir, "pq_trained", 0.20, qAnnPqTrained(s, dir), pinValues = true)

  /** D2: exact embedding near-dup pairs (cosine ≥ 0.4) as a
    * block-partitioned self-join (triangle join): vectors are hashed
    * into B blocks, every vector is shuffled to each of its B
    * block-pair groups, and each (i ≤ j) group computes its cross
    * pairs exactly once. No driver collect and no full-corpus
    * broadcast — task memory is two blocks (O(n/B·d)), shuffle volume
    * is O(n·B), and the B(B+1)/2 groups spread over all executors.
    * Exact all-pairs is inherently O(n²) flops; at larger n raise B
    * (memory stays bounded) or switch to the LSH/IVF ANN path (D3/D6)
    * — sign-hash banding cannot be used HERE because no banding has
    * 100% recall at τ=0.4, and this query's contract (and oracle) is
    * exact. Per-pair dot/norm accumulate in index order, so results
    * are bit-identical to the previous broadcast formulation.
    */
  /** D14: embedding-space decontamination — C17's exact n-gram rule
    * generalized to SEMANTIC leakage: flag every corpus vector whose
    * max cosine against ANY held-out eval vector reaches 0.4 (a
    * paraphrased eval question shares no 4-gram but lands next to it
    * in embedding space). Same eval-slice convention as C17
    * (id % 97 == 0). Scale shape: the eval side is small BY CONTRACT
    * (it's an eval set), so it broadcasts; the corpus streams through
    * one BroadcastNestedLoopJoin scoring with the native codegen'd
    * graft_cosine expression, then a partial max-aggregate — the
    * corpus is never shuffled, never self-joined, and the flag
    * compares on the 4dp-rounded value so the verdict is bit-portable
    * cross-engine.
    */
  /** The D18/D19 retrieval arms' shared depth. */
  private val ArmK = 50

  /** Exact-cosine top-k of the corpus against ONE broadcast probe
    * vector — the D1 kernel shape (per-partition bounded heaps → tiny
    * global merge) for an explicit query vector. Shared by the D18/D19
    * semantic arm and D20's two retrieval passes.
    */
  private def singleProbeTopK(e: DataFrame, probe: Array[Double],
                              k: Int): DataFrame =
    globalTopK(cosineScan(e, new QueryState(Array(0L), Array(probe)), k), k)

  /** The D18–D20 probe: vector 0, an O(d) driver collect. */
  private def probe0(e: DataFrame): Array[Double] =
    e.filter(col("vec_id") === 0L).select(col("v"))
      .collect().head.getSeq[Double](0).toArray

  /** The SEMANTIC arm shared by D18/D19: exact-cosine top-50 of the
    * corpus against the single broadcast probe (vector 0).
    */
  private def semArm(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    singleProbeTopK(e, probe0(e), ArmK)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_sem"))
  }

  /** The LEXICAL arm shared by D18/D19: C35's BM25 top-50 ranked on
    * the exact 6dp-DECIMAL score with the doc_id tie-break. The global
    * row_number runs AFTER TakeOrdered shrank the frame to ≤50 rows —
    * never a single-partition window over the corpus.
    */
  private def lexArm(s: SparkSession, dir: String): DataFrame = {
    val lexTop = graft.operators.TextOps.qBm25(s, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(ArmK)
    val wl = Window.orderBy(col("bm25").desc, col("doc_id"))
    lexTop
      .withColumn("rank_lex", row_number().over(wl).cast("long"))
      .select(col("doc_id"), col("rank_lex"))
  }

  /** D18: reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09 —
    * the hybrid-retrieval staple every production search stack runs:
    * merge a LEXICAL ranking and a SEMANTIC ranking without score
    * calibration): the lexical arm is C35's BM25 top-50 (rank by the
    * 6dp-DECIMAL score — EXACT cross-engine by the C33 rounding rule,
    * doc_id tie-break), the semantic arm is the exact-cosine top-50
    * against a single broadcast probe (vector 0, the D1 kernel shape:
    * per-partition bounded heaps → tiny global merge), and the fused
    * score is Σ 10⁹ div (60 + rank) over the lists a doc appears in —
    * an EXACT integral-division PPB (k=60, the paper's constant), so
    * fusion arithmetic is float-free. Both arms reach their top-50 via
    * distributed TakeOrdered (never a global sort); the fusion join
    * runs on two ≤50-row frames. At 100 TB: two corpus passes (one
    * per arm), a broadcast probe, and O(k) fusion work.
    */
  def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = lexArm(s, dir)
    val sem = semArm(s, dir)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
        (coalesce(expr("1000000000 div (60 + rank_lex)"), lit(0L)) +
         coalesce(expr("1000000000 div (60 + rank_sem)"), lit(0L))).as("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
      .limit(20)
  }

  /** D22: matryoshka dimension-truncation evaluation (Kusupati
    * NeurIPS'22 — the "how few leading dimensions can we keep"
    * question behind every modern embedding-cost tradeoff): exact
    * top-10 retrieval repeated over the 8/16/32-dim PREFIXES of the
    * same vectors, each scored for recall against the full 64-dim
    * exact top-10 (the D13 contract shape: exact integral recall_ppm,
    * not a float). The synthetic embeddings carry no matryoshka
    * training, so the curve is the honest un-nested baseline — the
    * diagnostic a pipeline runs BEFORE trusting truncation. Cost:
    * one probe collect + 4 corpus passes (one per prefix), recall
    * joins on the ≤1000-row top-k frames.
    */
  def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §1.2 "remove unnecessary passes"): the
    // four per-prefix corpus passes (8/16/32/64, each its own
    // mapPartitions kernel over the full embedding table) fuse into
    // ONE pass that maintains four heap sets. Prefix norms and dots
    // accumulate index-ascending with checkpoints at 8/16/32/64, so
    // every per-prefix float value is the IDENTICAL ADD SEQUENCE the
    // fresh per-prefix loop produced — same sims, same heaps, same
    // rows; the recall arms then run over the pinned ≤4k-row top-k
    // frame instead of re-scanning the corpus.
    val k = 10
    val dimsList = Array(8, 16, 32, 64)
    val e = emb(s, dir)
    val st = collectQueries(e)
    val bc = s.sparkContext.broadcast(st)
    // arm a is the prefix dimsList(a)
    val locals = heapScan(e, st.qids, dimsList.toSeq.map(_ => k)) { heaps =>
      val q = bc.value
      val nq = q.qids.length
      // per-prefix query norms: ascending accumulation == fresh loop
      val qn = dimsList.map { d =>
        q.qv.map { a =>
          var s2 = 0.0; var i = 0
          while (i < d) { s2 += a(i) * a(i); i += 1 }
          math.sqrt(s2)
        }
      }
      val nrm = new Array[Double](dimsList.length)
      (vid, v) => {
        var n2 = 0.0; var i = 0; var ci = 0
        while (i < 64) {
          n2 += v(i) * v(i); i += 1
          if (ci < dimsList.length && i == dimsList(ci)) {
            nrm(ci) = math.sqrt(n2); ci += 1
          }
        }
        var qi = 0
        while (qi < nq) {
          val qvv = q.qv(qi)
          var d = 0.0; var j = 0; var cj = 0
          while (j < 64) {
            d += qvv(j) * v(j); j += 1
            if (cj < dimsList.length && j == dimsList(cj)) {
              heaps(cj).insert(qi, d / (qn(cj)(qi) * nrm(cj)), vid)
              cj += 1
            }
          }
          qi += 1
        }
      }
    }
    // global per-(prefix, q_id) top-k; only (arm, q_id, vec_id) survive
    val topk = graft.core.Materialize.pin(
      globalTopK(locals, k, byArm = true).select(col("arm"), col("q_id"), col("vec_id")))
    val exact = topk.filter(col("arm") === dimsList.length - 1)
      .select(col("q_id"), col("vec_id"))
    val arms = (0 until dimsList.length - 1).map(a =>
      lit(dimsList(a).toLong) -> topk.filter(col("arm") === a))
    val pinned = graft.core.Materialize.pin(recallRows(exact, arms)
      .select(col("arm").as("dims"), col("n_hits").as("hits"), col("n_exact"),
        col("recall_ppm")))
    graft.core.Materialize.release(topk)
    pinned
  }

  /** D21 distance — each dimension's squared difference e6-quantizes
    * BEFORE the sum, so the distance is an exact integer built from an
    * ORDER-FREE integer sum (no float accumulation order to diverge
    * cross-engine; the oracle sums the same per-dim integers). */
  private val kcDistSql =
    "aggregate(zip_with(v, cv, (a, b) -> " +
      "CAST(ROUND((a - b) * (a - b) * 1000000, 0) AS BIGINT)), " +
      "0L, (acc, x) -> acc + x)"

  /** D21: k-center greedy coreset (farthest-point sampling — Gonzalez
    * '85, the diversity-selection workhorse of modern training-data
    * curation: pick the k points that COVER the embedding space, the
    * opposite of D10's balanced sampling and D9's near-dup removal):
    * seed with vector 0, then k−1 rounds of "farthest point from the
    * chosen set" — each round ONE linear pass updating the running
    * min-distance-to-centers and taking the global argmax via
    * TakeOrdered (never a sort). Cross-engine determinism: each
    * round's min-distance e6-QUANTIZES before the argmax, so the pick
    * decision is an exact (md_e6 DESC, vec_id) integer order both
    * engines share; the published coverage radius is the final
    * quantized max-min. At 100 TB: k linear passes, centers broadcast
    * — the standard coreset cost shape.
    */
  def qKCenter(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val e = graft.core.Materialize.pin(
      emb(s, dir).select(col("vec_id"), col("v")))
    // running state: per-vector min distance² to the chosen centers,
    // e6-quantized after every round (the exact pick contract)
    var md = graft.core.Materialize.pin(
      e.crossJoin(broadcast(e.filter(col("vec_id") === 0L)
          .select(col("v").as("cv"))))
        .select(col("vec_id"), col("v"), expr(kcDistSql).as("md_e6")))
    var picks = Vector((0L, 1, 0L)) // (vec_id, round, md_e6 at pick)
    for (round <- 2 to k) {
      val far = md.orderBy(col("md_e6").desc, col("vec_id")).limit(1)
        .collect().head
      val pickId = far.getLong(0)
      picks :+= ((pickId, round, far.getLong(2)))
      val cv = broadcast(md.filter(col("vec_id") === pickId)
        .select(col("v").as("cv")))
      val next = graft.core.Materialize.pin(
        md.crossJoin(cv)
          .select(col("vec_id"), col("v"),
            least(col("md_e6"), expr(kcDistSql)).as("md_e6")))
      graft.core.Materialize.release(md)
      md = next
    }
    val radius = md.agg(max(col("md_e6")).as("radius_e6"))
    import s.implicits._
    val out = graft.core.Materialize.pin(
      picks.toDF("vec_id", "pick_round", "md_e6_at_pick")
        .crossJoin(broadcast(radius))
        .select(col("vec_id"), col("pick_round").cast("long").as("pick_round"),
                col("md_e6_at_pick"), col("radius_e6")))
    graft.core.Materialize.release(md)
    graft.core.Materialize.release(e)
    out
  }

  /** D20: Rocchio pseudo-relevance feedback (the classic query
    * expansion every IR stack grew up on, Rocchio '71 / modern RM3
    * intent): retrieve the exact-cosine top-10 for the probe, expand
    * the query q' = q + 0.75·mean(top-10 docs), re-retrieve with q',
    * and publish the re-ranked top-10 with each doc's pre-feedback
    * rank (NULL = pulled in by feedback — the interesting rows).
    * Cross-engine determinism of q': every doc component quantizes to
    * an exact e9 integer FIRST (Spark round == DuckDB ROUND, both
    * half-away-from-zero), the feedback term is the exact integral
    * 3·Σc div 40 with the acPpm sign-split (div truncates, // floors —
    * they differ on negatives), and both engines divide the SAME e9
    * long by 1e9 into the SAME double before the cosine kernel runs.
    * Cost: two corpus passes + one ≤10-row driver meet — the PRF
    * shape at any scale.
    */
  def qRocchio(s: SparkSession, dir: String): DataFrame = {
    val e = graft.core.Materialize.pin(emb(s, dir))
    val q0 = probe0(e)
    val before = graft.core.Materialize.pin(
      singleProbeTopK(e, q0, 10)
        .select(col("vec_id"), col("rank").as("rank_before")))
    // exact e9 feedback sum per dimension over the top-10 docs
    val contrib = e.join(broadcast(before.select(col("vec_id"))), "vec_id")
      .select(posexplode(col("v")))
      .groupBy(col("pos"))
      .agg(sum(round(col("col") * 1e9, 0).cast("long")).as("c"))
      .select(col("pos"),
        expr("CAST(CASE WHEN 3*c >= 0 THEN (3*c) div 40 " +
             "ELSE -((-(3*c)) div 40) END AS BIGINT)").as("fb"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qpE9 = q0.indices.map { i =>
      BigDecimal(q0(i) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong +
        contrib.getOrElse(i, 0L)
    }.toArray
    val qp = qpE9.map(_.toDouble / 1e9)
    val after = singleProbeTopK(e, qp, 10)
      .select(col("vec_id"), col("rank").as("rank_after"), col("sim"))
    // pin the 10-row result (forces both retrieval passes) so the
    // corpus/before checkpoints can be released before the caller
    // evaluates the returned frame
    val out = graft.core.Materialize.pin(
      after.join(broadcast(before), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("rank_after"), col("rank_before"),
                col("sim").as("sim_after")))
    graft.core.Materialize.release(before)
    graft.core.Materialize.release(e)
    out
  }

  /** D19 weights: w_d = round(0.1 · 0.9^(d−1) · 10¹²) for d = 1..50,
    * generated ONCE here and embedded as literals in BOTH the engine
    * frame and the oracle's VALUES list — identical by construction,
    * so no runtime `pow` whose last-ulp could diverge cross-engine.
    */
  private[operators] val rboWeights: Seq[(Int, Long)] =
    (1 to ArmK).map(d => d -> Math.round(0.1 * math.pow(0.9, d - 1) * 1e12))

  /** D19: rank-biased overlap (Webber/Moffat/Zobel TOIS'10, p = 0.9,
    * truncated at depth 50) between the lexical and semantic arms —
    * THE ranking-agreement diagnostic of hybrid retrieval (how much do
    * BM25 and the embedding space agree before fusion? a collapse to
    * ~0 flags a broken arm; D13 plays the same tripwire role for ANN
    * recall): X_d = |A₁..d ∩ B₁..d| counts via each shared doc's
    * dmin = max(rank_lex, rank_sem) ≤ d, and the truncated
    * RBO = Σ w_d·X_d/d is computed ENTIRELY in exact integers —
    * w_d·X_d div d over the pre-generated e12 weight literals
    * ([[rboWeights]]) — float-free end to end. All frames ≤50 rows
    * after the arms' TakeOrdered; at 100 TB the cost is the two arm
    * passes, the overlap join is O(k²) constant.
    */
  def qRankOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = rboWeights.toDF("d", "w")
      .select(col("d").cast("long").as("d"), col("w"))
    val both = lexArm(s, dir).join(semArm(s, dir), "doc_id")
      .select(greatest(col("rank_lex"), col("rank_sem")).as("dmin"))
    val terms = ws.crossJoin(broadcast(both))
      .filter(col("dmin") <= col("d"))
      .groupBy(col("d"), col("w"))
      .agg(count(lit(1)).as("x_d"))
      .select(expr("(w * x_d) div d").as("contrib"), col("x_d"), col("d"))
    terms.agg(
        coalesce(max(when(col("d") === ArmK.toLong, col("x_d"))), lit(0L))
          .as("n_both"),
        coalesce(sum(col("contrib")), lit(0L)).as("rbo_e12"))
      .select(col("n_both").cast("long").as("n_both"),
              col("rbo_e12").cast("long").as("rbo_e12"))
  }

  def qEmbedDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val corpus = e.filter(col("vec_id") % 97 =!= 0).select(col("vec_id"), col("v"))
    val ev = e.filter(col("vec_id") % 97 === 0).select(col("v").as("ev"))
    corpus.join(broadcast(ev))
      .select(col("vec_id"), expr("graft_cosine(v, ev)").as("sim"))
      .groupBy(col("vec_id"))
      .agg(dec4(max(col("sim"))).as("max_eval_sim"))
      .select(col("vec_id"), col("max_eval_sim"),
        (col("max_eval_sim") >= 0.4).cast("int").as("contaminated"))
  }

  /** D2: exact embedding near-dup PAIRS (cosine ≥ τ) over the
    * [[ExactSliceMax]] contract slice — block-partitioned triangle
    * self-join (every pair computed in exactly ONE block-pair group,
    * task memory = two blocks). The slice bound is what lets an exact
    * all-pairs CONTRACT exist at 100 TB: cost freezes at the bound
    * while the corpus-scale near-dup path is LSH/SemDeDup (D3/D9),
    * which D13-style contracts audit against slices like this one.
    */
  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tau = 0.4
    val nBlocks = 16 // at 100 TB: ~ sliceBytes / per-task block budget
    val ds = idVectors(emb(s, dir).filter(col("vec_id") < ExactSliceMax))
    val repl = ds.flatMap { case (id, v) =>
      val b = (id % nBlocks).toInt
      (0 until nBlocks).map(o => (math.min(b, o), math.max(b, o), id, v))
    }
    val pairs = repl
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double])]) =>
        val (bi, bj) = key
        val rows = it.toArray.sortBy(_._3)
        val m = rows.length
        val ids = rows.map(_._3)
        val home = rows.map(t => (t._3 % nBlocks).toInt)
        val nrm = rows.map { t =>
          var s2 = 0.0; var j = 0
          while (j < t._4.length) { s2 += t._4(j) * t._4(j); j += 1 }
          math.sqrt(s2)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var p = 0
        while (p < m) {
          val vp = rows(p)._4
          var q = p + 1
          while (q < m) {
            // same-block groups (bi == bj) pair everything; cross-block
            // groups pair only across homes (same-home pairs belong to
            // that home's diagonal group); ids(p) < ids(q) mirrors the
            // oracle's a.vec_id < b.vec_id (degenerate duplicate ids
            // never self-pair)
            if ((bi == bj || home(p) != home(q)) && ids(p) < ids(q)) {
              val vq = rows(q)._4
              var d = 0.0; var j = 0
              while (j < vp.length) { d += vp(j) * vq(j); j += 1 }
              val sim = d / (nrm(p) * nrm(q))
              if (sim >= tau) out += ((ids(p), ids(q), sim))
            }
            q += 1
          }
          p += 1
        }
        out
      }
      .toDF("a_id", "b_id", "sim")
    pairs
      .select(col("a_id"), col("b_id"), dec4(col("sim")).as("cosine"))
  }

  /** D12: k-nearest-neighbor GRAPH (top-3 cosine neighbors per vector)
    * over the [[ExactSliceMax]] contract slice — the construction step
    * behind graph-based dedup/clustering (SemDeDup-style) and
    * NN-descent ANN. Same block-partitioned triangle self-join as D2
    * (every pair computed in exactly ONE block-pair group, task memory
    * = two blocks), but each group emits its LOCAL per-vector top-k
    * (both pair directions) and a vec_id-keyed window reduces the
    * ≤ B·k candidates per vector to the global top-k — the top-k of
    * per-group top-ks is exact. Shuffle volume O(slice·B·k), never
    * O(slice²) rows, and the slice bound freezes total pair work
    * corpus-independently (the 100× posture; D29 HNSW is the
    * corpus-scale graph path).
    */
  def qKnnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphTopK(s, dir, 3)
      .select(col("vec_id"), col("rank"), col("nb_id"),
              dec4(col("simd")).as("sim"))

  /** Shared D12 kernel: the exact top-k cosine graph as
    * (vec_id, rank, nb_id, simd-double) — D12 formats it, D33 mutual-NN
    * self-joins it. One frame, one plan shape, two consumers.
    */
  private def knnGraphTopK(s: SparkSession, dir: String, k: Int,
                           slice: Long = ExactSliceMax): DataFrame = {
    import s.implicits._
    val nBlocks = 16
    val ds = idVectors(emb(s, dir).filter(col("vec_id") < slice))
    val repl = ds.flatMap { case (id, v) =>
      val b = (id % nBlocks).toInt
      (0 until nBlocks).map(o => (math.min(b, o), math.max(b, o), id, v))
    }
    val locals = repl
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double])]) =>
        val (bi, bj) = key
        val rows = it.toArray.sortBy(_._3)
        val m = rows.length
        val ids = rows.map(_._3)
        val home = rows.map(t => (t._3 % nBlocks).toInt)
        val nrm = rows.map { t =>
          var s2 = 0.0; var j = 0
          while (j < t._4.length) { s2 += t._4(j) * t._4(j); j += 1 }
          math.sqrt(s2)
        }
        val cands = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[(Double, Long)])
        var p = 0
        while (p < m) {
          val vp = rows(p)._4
          var q = p + 1
          while (q < m) {
            if ((bi == bj || home(p) != home(q)) && ids(p) != ids(q)) {
              val vq = rows(q)._4
              var d = 0.0; var j = 0
              while (j < vp.length) { d += vp(j) * vq(j); j += 1 }
              val sim = d / (nrm(p) * nrm(q))
              cands(p) += ((sim, ids(q)))
              cands(q) += ((sim, ids(p)))
            }
            q += 1
          }
          p += 1
        }
        (0 until m).iterator.flatMap { i =>
          cands(i).sortBy { case (sim, nb) => (-sim, nb) }.take(k)
            .map { case (sim, nb) => (ids(i), nb, sim) }
        }
      }
      .toDF("vec_id", "nb_id", "sim")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nb_id"))
    locals.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
              col("nb_id"), col("sim").as("simd"))
  }

  /** D33: RECIPROCAL (mutual) nearest-neighbor pairs — a is in b's
    * top-k AND b is in a's top-k. The high-precision subset of the kNN
    * graph: one-directional edges include hub attraction (everything
    * points at a dense-region centroid doc that points back at none of
    * them); mutuality filters exactly that, which is why RNN pairs are
    * the seed set for cluster-merge dedup (SemDeDup keeps one of each
    * mutual pair first) and for NN-descent convergence checks. Engine:
    * the D12 kernel's (vec_id → nb_id) frame self-joined on the
    * REVERSED key pair — an equi-join of two O(n·k) frames, shuffle on
    * (vec_id, nb_id); payload vectors never move, the graph edges do.
    * Publishes each mutual pair once (a_id < b_id) with both direction
    * ranks and the dec4 cosine, plus rank_ab ≤ rank_ba asymmetry
    * preserved for the census reader. At 100 TB the cost is the D12
    * graph build itself; this join adds O(n·k) rows.
    */
  def qMutualNn(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphTopK(s, dir, 3)
    val a = g.select(col("vec_id").as("a_id"), col("nb_id").as("b_id"),
                     col("rank").as("rank_ab"), col("simd"))
    val b = g.select(col("vec_id").as("b_id"), col("nb_id").as("a_id"),
                     col("rank").as("rank_ba"))
    a.join(b, Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("rank_ab"), col("rank_ba"),
              dec4(col("simd")).as("sim"))
  }

  /** D4: nearest-centroid classification — per-label mean vectors via a
    * posexplode aggregate, then k=1 kNN against the 10 broadcast
    * centroids (Euclidean; ties to the lowest label).
    */
  def qCentroidCls(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val e = emb(s, dir)
    val cent = e
      .select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("c"))
    val wide = cent
      .groupBy(col("label"))
      .pivot("pos", (0 until dim).map(i => i: Any))
      .agg(first(col("c")))
      .toDF("label" +: (0 until dim).map(i => s"f$i"): _*)

    val model = KNeighborsClassifier(k = 1, orderBy = Seq("label"))
      .fit(wide, (0 until dim).map(i => s"f$i"), Seq("label"))

    val input = e.select(
      col("vec_id") +: (0 until dim).map(i => element_at(col("v"), i + 1).as(s"f$i")): _*)
    model.predict(FeatureFrame(input, Seq("vec_id"), (0 until dim).map(i => s"f$i")))
      .select(col("vec_id"), col("prediction").cast("int").as("prediction"))
  }

  /** D3: random-hyperplane LSH-bucketed approximate nearest neighbors —
    * the 100 TB path for similarity search. 32 deterministic Gaussian
    * hyperplanes (seeded) give each vector a 32-bit sign signature,
    * split into 8 bands of 4 bits; a corpus vector is a candidate for a
    * query iff they share a band. Exact cosine is computed ONLY for
    * candidates, inside the same single-pass bounded-heap kernel as D1 —
    * no shuffle of the corpus, no candidate materialization. Recall vs
    * brute force is asserted in SimilaritySpec; the DuckDB oracle
    * rebuilds the md5-derived planes and band joins in SQL.
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    annLsh(s, dir, multiProbe = false)

  /** D5: multi-probe LSH ANN — each query also probes every band key
    * within Hamming distance 1 of its own (4 flips per 4-bit band), so
    * a near neighbor that disagrees on ONE hyperplane of a band still
    * collides. Probe expansion happens on the tiny query side; the
    * corpus pass is unchanged (each corpus vector still looks up its
    * exact keys once). Standard recall/candidate trade-off: ~5x the
    * candidate rate of single-probe for this banding, bought without
    * extra tables or corpus passes (Lv et al., VLDB'07).
    */
  def qAnnMultiprobe(s: SparkSession, dir: String): DataFrame =
    annLsh(s, dir, multiProbe = true)

  /** D7: k-means clustering (2 unrolled Lloyd iterations, k=8) — the
    * sklearn KMeans shape made engine-deterministic: init centroids are
    * the embeddings of 8 fixed vec_ids, assignment is nearest-centroid
    * (ties to the lowest cluster id) with the D4 kernel's exact
    * distance arithmetic, fused with the mean accumulation. Each
    * iteration = ONE pass over the corpus emitting per-partition
    * (cluster, count, sum) partials + a (cluster × dim)-sized final
    * aggregate — the textbook distributed Lloyd step with map-side
    * combine. Output: per-cluster size and the first two centroid
    * coordinates at 4dp (rounding absorbs partial-aggregation ulp).
    */
  def qKmeans(s: SparkSession, dir: String): DataFrame = {
    val kC = 8
    val dim = 64
    val e = emb(s, dir)
    val initIds = (0 until kC).map(_ * 60L)

    // r16 optimization (guide §1.2 — the q_matryoshka fusion pattern):
    // each Lloyd round used to cost one broadcast-kNN assignment scan
    // PLUS a corpus-side vec_id join + posexplode(v) aggregate to turn
    // the assignment back into centroids (round 2 additionally re-read
    // the pinned assignment for the size count) — per round, the 64-dim
    // vectors crossed a shuffle just so each could meet its own cluster
    // id again. One fused mapPartitions kernel now does assignment AND
    // per-cluster partial (count, sum) accumulation in the same pass:
    // only partitions×kC partial rows ever shuffle. The assignment
    // arithmetic replays KnnKernel.topK with k=1 exactly (per-feature
    // left-to-right diff² accumulation, strict-< replacement = ties to
    // the lowest cluster id; the nan_euclidean factor is d/d = 1.0, a
    // bit-identity). Centroid means keep the declared quantization
    // gates (dec6 into round 2, dec4 on output) which absorb partial-
    // aggregation order exactly as they did for the old avg() — the old
    // pipeline stays as the byte-for-byte reference in
    // R16OptimizationParitySpec.
    //
    // cents: (clusterId, centroid), sorted by clusterId ascending
    // (= training-row id order in the old fit). nDims: leading
    // dimensions to accumulate (round 1 feeds all 64 into the next
    // round's centroids; round 2 only publishes c0/c1).
    def roundPartials(cents: Array[(Long, Array[Double])], nDims: Int): DataFrame = {
      val bc = s.sparkContext.broadcast(cents)
      val schema = StructType(Seq(
        StructField("cluster", LongType, nullable = false),
        StructField("pcnt", LongType, nullable = false),
        StructField("psum", ArrayType(DoubleType, containsNull = false),
          nullable = false)))
      fanOut(e.select(col("vec_id"), col("v"))).mapPartitions { it =>
        val cs = bc.value
        val nc = cs.length
        val cnt = new Array[Long](nc)
        val sums = Array.fill(nc)(new Array[Double](nDims))
        it.foreach { row =>
          val v = vectorAt(row, 1, row.getLong(0))
          var best = 0; var bestD = Double.PositiveInfinity
          var ci = 0
          while (ci < nc) {
            val cv = cs(ci)._2
            var d2 = 0.0; var j = 0
            while (j < dim) { val diff = v(j) - cv(j); d2 += diff * diff; j += 1 }
            if (d2 < bestD) { bestD = d2; best = ci }
            ci += 1
          }
          cnt(best) += 1
          val sb = sums(best)
          var j = 0
          while (j < nDims) { sb(j) += v(j); j += 1 }
        }
        (0 until nc).iterator.filter(cnt(_) > 0).map(ci =>
          Row(cs(ci)._1, cnt(ci), sums(ci).toSeq))
      }(Encoders.row(schema))
    }

    // init centroids: the embeddings of 8 fixed vec_ids (a ≤kC-row
    // bounded fit artifact — the old widen()+fit path collected the
    // same rows through a pivot)
    val init: Array[(Long, Array[Double])] =
      e.filter(col("vec_id").isInCollection(initIds))
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0) / 60L, r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    // iteration-1 centroids are QUANTIZED to 6dp before feeding the
    // round-2 assignment: raw means differ in ulps between accumulation
    // orders (Spark's partial aggregation is itself run-to-run
    // nondeterministic), and an unquantized centroid would let a
    // near-boundary point flip clusters between engines — the same
    // cross-engine accumulation rule every other oracle follows
    val cent1 = roundPartials(init, dim)
      .select(col("cluster"), col("pcnt"), posexplode(col("psum")))
      .groupBy(col("cluster"), col("pos"))
      .agg(graft.functions.dec6(sum(col("col")) / sum(col("pcnt"))).as("c"))
      .collect()
    val cents2: Array[(Long, Array[Double])] = cent1
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map { case (cl, rows) =>
        val v = new Array[Double](dim)
        rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
        (cl, v)
      }
    roundPartials(cents2, 2)
      .groupBy(col("cluster"))
      .agg(sum(col("pcnt")).as("n"),
        sum(element_at(col("psum"), 1)).as("s0"),
        sum(element_at(col("psum"), 2)).as("s1"))
      .select(col("cluster"), col("n"),
        dec4(col("s0") / col("n")).as("c0"),
        dec4(col("s1") / col("n")).as("c1"))
  }

  /** D6: IVF-style partitioned ANN — the production path when the
    * corpus is too big even for per-band LSH buckets: a coarse
    * quantizer (16 deterministic unit-norm centroids) assigns every
    * vector to one Voronoi cell; each query probes only its nProbe=2
    * nearest cells, so a cell-partitioned corpus reads ~1/8 of the data
    * per query. Cells are computed corpus-side in the same single pass
    * that reranks exact cosine for candidate queries — at 100 TB the
    * cell id becomes a partition column and probing = partition
    * pruning. Centroids derive from the md5/Box-Muller draw (tag
    * "ivf|"), so the oracle rebuilds the exact cells.
    */
  /** The IVF coarse quantizer: nCells unit-norm deterministic centroids
    * (tag "ivf|"), normalized COMPONENT-WISE first (x / sqrt(sum x²),
    * sum in index order) — the oracle transforms the list the same way;
    * dotting first and dividing after would be a different float
    * sequence. Public so the streaming upsert path (F6) indexes into
    * the IDENTICAL cells as the batch D6 query.
    */
  def ivfCentroids(nCells: Int = 16, dim: Int = 64): Array[Array[Double]] =
    gaussianPlanes(nCells, dim, tag = "ivf|").map { c =>
      val nrm = norm(c)
      c.map(_ / nrm)
    }

  /** Cell assignment: argmax centroid dot, ties to the lowest cell id —
    * the ONE rule shared by the batch corpus pass and streaming upserts.
    */
  def ivfCell(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val d = dot(cents(ci), v)
      if (d > bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** A vector's `n` nearest cells by (dot DESC, cell id) — the D6 probe
    * rule, and the D35 multi-assignment rule. */
  private def topCells(cents: Array[Array[Double]], v: Array[Double], n: Int): Array[Int] = {
    val dots = cents.map(dot(_, v))
    cents.indices.sortBy(ci => (-dots(ci), ci)).take(n).toArray
  }

  /** IVF probing: cell -> the probes (query indexes, ascending) whose
    * `nProbe` nearest cells include it. */
  private def cellProbes(cents: Array[Array[Double]], qv: Array[Array[Double]],
                         nProbe: Int): Array[Array[Int]] = {
    val probing = Array.fill(cents.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    qv.zipWithIndex.foreach { case (v, qi) =>
      topCells(cents, v, nProbe).foreach(c => probing(c) += qi)
    }
    probing.map(_.toArray)
  }

  /** PQ layout (D8/D8b/D17): 8 subspaces of 8 dims, 16 codes each. */
  private val PqSub = 8
  private val PqSubDim = 8
  private val PqCodes = 16

  /** The code of `x`'s subspace `sIdx`: the nearest of its 16 codes by
    * squared distance, strict < so ties keep the LOWEST code index —
    * mirrors the oracle's ROW_NUMBER (ORDER BY d, ci); ranking by d²
    * equals ranking by the oracle's sqrt (monotone).
    */
  private def pqCode(cb: Array[Array[Double]], x: Array[Double], sIdx: Int): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var ci = 0
    while (ci < PqCodes) {
      val cv = cb(sIdx * PqCodes + ci)
      var d2 = 0.0; var j = 0
      while (j < PqSubDim) {
        val diff = x(sIdx * PqSubDim + j) - cv(j)
        d2 += diff * diff
        j += 1
      }
      if (d2 < bestD) { bestD = d2; best = ci }
      ci += 1
    }
    best
  }

  /** PQ encode + reconstruct: `recon` becomes x's codes' centroids. */
  private def pqReconstruct(cb: Array[Array[Double]], x: Array[Double],
                            recon: Array[Double]): Unit = {
    var sIdx = 0
    while (sIdx < PqSub) {
      System.arraycopy(cb(sIdx * PqCodes + pqCode(cb, x, sIdx)), 0, recon,
        sIdx * PqSubDim, PqSubDim)
      sIdx += 1
    }
  }

  /** ADC score: minus the Euclidean distance of a query (or query
    * residual) to a reconstruction, index-ascending — TopKHeaps orders
    * sim DESC, so desc(-d) == asc(d) with ties still to the lower
    * vec_id; the sqrt is list_distance parity with the oracle. */
  private def adcSim(q: Array[Double], recon: Array[Double]): Double = {
    var d2 = 0.0; var j = 0
    while (j < recon.length) {
      val diff = q(j) - recon(j)
      d2 += diff * diff
      j += 1
    }
    -math.sqrt(d2)
  }

  /** D17: IVF-PQ composite ANN (IVFADC, Jégou et al. TPAMI'11 §IV) —
    * the index layout production vector stores actually deploy (FAISS
    * `IVFx,PQy`): the D6 coarse quantizer partitions the corpus into
    * Voronoi cells, and WITHIN each probed cell candidates rank by PQ
    * codes of the RESIDUAL v − centroid(cell) (residual energy is far
    * below vector energy, so the same 8-byte code budget quantizes
    * much finer than flat PQ — the whole point of the composite).
    * One corpus pass does cell-assign + residual-encode + ADC against
    * the per-(query, probed-cell) residuals (precomputed driver-side,
    * broadcast); per-partition bounded heaps → global top-50 → the
    * shared exact-cosine rerank emits top-10. At 100 TB: cell id is a
    * partition column (probing = partition pruning, the D6 posture)
    * AND the scanned payload is the 8-byte code column (the D8
    * posture) — the two savings compose.
    */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val nProbe = 2
    val dim = 64
    val e = emb(s, dir)
    val nCand = scaledCand(e, 50)
    val cents = ivfCentroids(16, dim)
    val cb = gaussianPlanes(PqSub * PqCodes, PqSubDim, tag = "pq|")
    val qs = collectQueries(e)
    // cell -> (query index, query residual vs THAT cell's centroid)
    val probing = cellProbes(cents, qs.qv, nProbe).zipWithIndex.map { case (qis, c) =>
      qis.map(qi => (qi, Array.tabulate(dim)(j => qs.qv(qi)(j) - cents(c)(j))))
    }
    val bc = s.sparkContext.broadcast((cents, cb, probing))
    val locals = heapScan(e, qs.qids, Seq(nCand)) { heaps =>
      val (bCents, bCb, bProbing) = bc.value
      val res   = new Array[Double](dim)
      val recon = new Array[Double](dim)
      (vid, v) => {
        val cell = ivfCell(bCents, v)
        val plist = bProbing(cell)
        if (plist.nonEmpty) {
          var j = 0
          while (j < dim) { res(j) = v(j) - bCents(cell)(j); j += 1 }
          pqReconstruct(bCb, res, recon) // the D8 kernel on the residual
          plist.foreach { case (qi, qres) => heaps(0).insert(qi, adcSim(qres, recon), vid) }
        }
      }
    }
    exactRerank(e, qs, locals, nCand, k)
  }

  /** D31: IVF with MULTI-ASSIGNMENT (spilled assignment — the modern
    * recall lever on the D6 index, the idea behind ScaNN's SOAR and
    * Faiss' IVF spilling): each corpus vector is indexed under its
    * TOP-2 coarse cells instead of one, so a query probing nProbe
    * cells sees every vector whose first OR second cell matches —
    * boundary vectors stop falling through the cracks. Cost contract:
    * the index doubles (2 entries/vector), the query-time scan grows
    * by the same factor, recall strictly dominates D6's (same probes,
    * superset candidates — SimilaritySpec pins the dominance). Same
    * deterministic centroids, same tie rules (dot DESC, cell id) as
    * D6, so the oracle extends the shared cell CTE with `rn <= 2`. At
    * 100 TB: identical plan shape to D6 — cell id stays the partition
    * column; multi-assignment is an ingest-side fan-out of (id, code)
    * pairs, never a query-side blowup beyond the 2× scan.
    */
  /** D35: approximate nearest-neighbor JOIN — the corpus-to-corpus
    * top-k twin of the probe-side ANN queries, i.e. what a 100 TB
    * dedup-by-embedding actually runs (every vector gets neighbors, no
    * privileged probe set). Blocking by IVF cells: each vector is
    * MULTI-ASSIGNED to its top-m coarse cells (the D31 widening — a
    * pair straddling a cell boundary still meets in the shared cell;
    * m chosen from the D37 recall-vs-cost sweep), each cell group
    * computes its members' cell-local exact top-k in one task (cost
    * Σ|cell·m|², never corpus²; at 100 TB nCells scales with the
    * corpus so cell size — and so task cost — stays bounded, the D28
    * balance audit's job), duplicate pairs from multiply-shared cells
    * collapse by (q, nb) max (identical sims), and a per-vector
    * window keeps the global top-3. GATED against the exact
    * [[ExactSliceMax]] slice graph (D12): every published edge carries
    * `in_exact`, and the engine REFUSES (loud, not silent) if recall
    * vs the exact top-3 drops below the documented floor — the D13
    * posture applied to the join. The gate feeds the slice (= the full
    * corpus at gate scales, cost-frozen beyond); production feeds the
    * full corpus with a corpus-scaled quantizer.
    */
  def qAnnJoin(s: SparkSession, dir: String): DataFrame =
    // top-5 assignment (the D37 sweep's knee for the RANDOM quantizer:
    // measured recall 0.981 @ sf0.01 / 0.987 @ sf0.1, vs 0.46/0.50 at
    // the r11 top-2) — floor 0.90, production-credible with margin
    annJoinCore(s, dir, ivfCentroids(16, 64), assignWidth = 5,
      recallFloor = 0.90)

  /** D36: the D35 join with a TRAINED coarse quantizer — one Lloyd-style
    * pass (the D8→D8b move applied to the join): assign the corpus to
    * the random cells, recompute each non-empty cell's centroid as the
    * 6dp-quantized per-dimension mean (the q_kmeans cross-engine
    * accumulation rule) L2-normalized, and run the identical cell join
    * against the trained cells. Data-shaped cells raise the boundary-
    * pair hit rate, so the recall floor is HIGHER than D35's — the
    * measured training dividend, locked by the same contract. Empty
    * cells keep their random centroid (both engines, same rule). Train
    * cost at 100 TB: one corpus pass + a (cells×dims) aggregate —
    * noise next to the join itself.
    */
  def qAnnJoinTrained(s: SparkSession, dir: String): DataFrame =
    // top-4 assignment (the D37 sweep's knee for the TRAINED quantizer:
    // measured recall 0.938 @ sf0.01 / 0.943 @ sf0.1 at ~64% of D35's
    // pair cost — the Lloyd pass buys one assignment width) — floor 0.85
    annJoinCore(s, dir, trainedJoinCentroids(s, dir), assignWidth = 4,
      recallFloor = 0.85)

  /** The D36 one-Lloyd-pass coarse quantizer fit (shared with the D37
    * sweep's trained arms): assign the corpus to the random cells,
    * recompute each non-empty cell's centroid as the 6dp-quantized
    * per-dimension mean (the q_kmeans cross-engine accumulation rule)
    * L2-normalized; empty cells keep their random centroid.
    */
  private def trainedJoinCentroids(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    val nCells = 16
    val dim = 64
    val rand = ivfCentroids(nCells, dim)
    val bcR = s.sparkContext.broadcast(rand)
    val means = idVectors(emb(s, dir))
      .map { case (_, v) => (ivfCell(bcR.value, v), v) }
      .toDF("cell", "v")
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(graft.functions.dec6(avg(col("col"))).as("c"))
      .collect() // ≤ cells×dims rows — the fit artifact
    val byCell = means.groupBy(_.getInt(0))
    Array.tabulate(nCells) { ci =>
      byCell.get(ci) match {
        case Some(rows) =>
          val c = new Array[Double](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
          var n2 = 0.0; var j = 0
          while (j < dim) { n2 += c(j) * c(j); j += 1 }
          val nrm = math.sqrt(n2)
          c.map(_ / nrm)
        case None => rand(ci) // empty cell keeps its random centroid
      }
    }
  }

  /** D37: the ANN-join recall-vs-cost SWEEP — the D32 tuning-curve
    * idiom applied to the JOIN's blocking knob: the assignment width m
    * (each vector indexed under its top-m coarse cells) swept over
    * {2, 3, 4, 5} for BOTH quantizers (random / one-Lloyd-trained),
    * every arm scored against the one pinned exact top-3 slice graph
    * (D12). Published per arm: the candidate-pair count (the join's
    * actual work — cost grows ~m²) and recall as exact integral ppm —
    * reading the curve picks the cheapest width above the recall
    * target, the capacity-planning decision D35/D36 bake in (their
    * floors cite this sweep's knee). Recall is non-decreasing in m BY
    * CONSTRUCTION (assignment sets are nested); the oracle pins every
    * value, so a widening that stops paying fails loudly.
    */
  def qAnnJoinSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 3
    val widths = Array(2, 3, 4, 5)
    val maxW = widths.max
    val exact = graft.core.Materialize.pin(
      knnGraphTopK(s, dir, k, SweepSliceMax)
        .select(col("vec_id").as("x_q"), col("nb_id").as("x_nb")))
    val total = broadcast(exact.agg(count(lit(1)).as("n_exact")))
    val quantizers: Array[(String, Array[Array[Double]])] = Array(
      ("random", ivfCentroids(16, 64)),
      ("trained", trainedJoinCentroids(s, dir)))
    val bcQ = s.sparkContext.broadcast(quantizers)

    // Assignment sets are NESTED in m (top-2 ⊂ top-3 ⊂ … ⊂ top-maxW), so
    // ONE slice scan emitting the top-maxW cells WITH their assignment
    // rank serves every swept arm for both quantizers — the r11 shape
    // (8 arms × [edge pass + cost pass] = 16 slice scans) collapses to
    // two scans and one cell-local pair kernel.
    def assigned = idVectors(emb(s, dir).filter(col("vec_id") < SweepSliceMax))
      .flatMap { case (id, v) =>
        bcQ.value.iterator.flatMap { case (qn, cs) =>
          val dots = Array.tabulate(cs.length) { ci =>
            val cv = cs(ci); var d = 0.0; var j = 0
            while (j < v.length) { d += cv(j) * v(j); j += 1 }
            d
          }
          (0 until cs.length).sortBy(ci => (-dots(ci), ci)).take(maxW)
            .zipWithIndex.map { case (c, r) => (qn, c, r + 1, id, v) }
        }
      }

    // Cell-local pair sims computed ONCE on the width-maxW population;
    // arm m filters both endpoints to rank ≤ m and takes the same
    // per-member (sim DESC, nb) top-k. Lossless vs the global window,
    // exactly as in annJoinEdges: a cell-locally pruned pair has ≥ k
    // better candidates for that member in every shared cell, and those
    // candidates are global candidates too.
    val edges = assigned
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (String, Int),
                        it: Iterator[(String, Int, Int, Long, Array[Double])]) =>
        val qn = key._1
        val rows = it.toArray.sortBy(_._4)
        val n = rows.length
        val ids = rows.map(_._4)
        val ranks = rows.map(_._3)
        val vs = rows.map(_._5)
        val nrm = vs.map { v =>
          var s2 = 0.0; var j = 0
          while (j < v.length) { s2 += v(j) * v(j); j += 1 }
          math.sqrt(s2)
        }
        // per member × per arm, a bounded primitive top-k ordered by
        // (sim DESC, nb ASC) — O(n·arms·k) state instead of O(n²) boxed
        // candidate tuples, which made the kernel GC-bound
        val nArms = widths.length
        val hSim = Array.ofDim[Double](n, nArms * k)
        val hNb = Array.ofDim[Long](n, nArms * k)
        val hCnt = Array.ofDim[Int](n, nArms)
        def offer(i: Int, arm: Int, sim: Double, nb: Long): Unit = {
          val sims = hSim(i); val nbs = hNb(i)
          val base = arm * k
          val c = hCnt(i)(arm)
          // find insertion point among the kept (sim DESC, nb ASC) run
          var pos = 0
          while (pos < c && (sims(base + pos) > sim ||
            (sims(base + pos) == sim && nbs(base + pos) < nb))) pos += 1
          if (pos < k) {
            val last = math.min(c, k - 1)
            var j = last
            while (j > pos) {
              sims(base + j) = sims(base + j - 1)
              nbs(base + j) = nbs(base + j - 1)
              j -= 1
            }
            sims(base + pos) = sim
            nbs(base + pos) = nb
            if (c < k) hCnt(i)(arm) = c + 1
          }
        }
        var p = 0
        while (p < n) {
          val vp = vs(p)
          var q = p + 1
          while (q < n) {
            if (ids(p) != ids(q)) {
              val vq = vs(q)
              var d = 0.0; var j = 0
              while (j < vp.length) { d += vq(j) * vp(j); j += 1 }
              val sim = d / (nrm(p) * nrm(q))
              // candidate q is visible to member p at widths ≥ rank(q)
              var arm = math.max(ranks(q), widths(0)) - widths(0)
              while (arm < nArms) { offer(p, arm, sim, ids(q)); arm += 1 }
              arm = math.max(ranks(p), widths(0)) - widths(0)
              while (arm < nArms) { offer(q, arm, sim, ids(p)); arm += 1 }
            }
            q += 1
          }
          p += 1
        }
        (0 until n).iterator.flatMap { i =>
          widths.iterator.zipWithIndex.filter(ranks(i) <= _._1)
            .flatMap { case (m, arm) =>
              val base = arm * k
              (0 until hCnt(i)(arm)).iterator.map { j =>
                (qn, m, ids(i), hNb(i)(base + j), hSim(i)(base + j))
              }
            }
        }
      }
      .toDF("quantizer", "assign_width", "q_id", "nb_id", "sim")

    // per-arm duplicate-pair collapse + global top-k (the annJoinEdges
    // tail, widened with the (quantizer, assign_width) arm key)
    val w = Window
      .partitionBy(col("quantizer"), col("assign_width"), col("q_id"))
      .orderBy(col("sim").desc, col("nb_id"))
    val ann = edges
      .groupBy(col("quantizer"), col("assign_width"), col("q_id"), col("nb_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)

    val hits = ann
      .join(exact, col("q_id") === col("x_q") && col("nb_id") === col("x_nb"),
        "left_semi")
      .groupBy(col("quantizer"), col("assign_width"))
      .agg(count(lit(1)).as("n_hits"))

    // The D37 cost axis from the SAME nested assignment: candidate pairs
    // the cell-blocked join examines at width m — Σ over cells of
    // n_m(n_m−1)/2 where n_m counts members with rank ≤ m (a pair
    // sharing several cells is examined once per shared cell: that IS
    // the work done). Exact integers, one scan for all arms.
    val cost = assigned.map(t => (t._1, t._2, t._3))
      .toDF("quantizer", "cell", "rnk")
      .join(broadcast(widths.toSeq.toDF("assign_width")),
        col("rnk") <= col("assign_width"))
      .groupBy(col("quantizer"), col("assign_width"), col("cell"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("quantizer"), col("assign_width"))
      .agg(sum(expr("n * (n - 1) div 2")).cast("long").as("n_cand_pairs"))

    // LEFT join + coalesce: an arm with ZERO recall has no hits row —
    // it must publish n_hits=0 (the "widening that stops paying fails
    // loudly" contract), not vanish as a missing-row hash mismatch
    cost.join(hits, Seq("quantizer", "assign_width"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(total)
      .select(col("quantizer"),
        col("assign_width").cast("long").as("assign_width"),
        col("n_cand_pairs"),
        col("n_hits").cast("long").as("n_hits"),
        col("n_exact").cast("long").as("n_exact"),
        expr("CAST((n_hits * 1000000) div n_exact AS BIGINT)")
          .as("recall_ppm"))
  }

  /** The D35/D36/D37 edge kernel: top-`assignWidth` cell
    * multi-assignment ((dot DESC, cell id ASC) — the D6/D31 rule,
    * widened from the fixed top-2 to the SWEPT width), cell-local
    * exact top-k, duplicate-pair collapse, per-vector global top-k
    * window. Returns the ranked edges (q_id, nb_id, sim, rank ≤ k);
    * the callers add the exact-graph flag + recall refusal (D35/D36)
    * or score the arms against the pinned exact graph (D37).
    */
  private def annJoinEdges(s: SparkSession, dir: String,
                           cents: Array[Array[Double]],
                           assignWidth: Int, k: Int): DataFrame = {
    import s.implicits._
    val bcC = s.sparkContext.broadcast(cents)
    val ds = idVectors(emb(s, dir).filter(col("vec_id") < ExactSliceMax))
    // each cell's member triangle is block-partitioned (the D2/D12
    // decomposition applied INSIDE the cell): every unordered member
    // pair is computed in exactly one (cell, block-pair) group, so 16
    // one-task-per-cell groups become 16·C(nB+1,2) balanced tasks that
    // actually fill the cluster, and each member keeps a primitive
    // bounded top-k (same (sim DESC, nb ASC) rule the sort had) instead
    // of buffering every candidate. Per-group partial top-k unions
    // cover the cell-local top-k, and the existing (q, nb) max-collapse
    // + global window make the published edges IDENTICAL.
    val nB = 4
    val assigned = ds.flatMap { case (id, v) =>
      val home = (id % nB).toInt
      topCells(bcC.value, v, assignWidth).toSeq
        .flatMap(c => (0 until nB).map(o =>
          ((c, math.min(home, o), math.max(home, o)), id, v)))
    }
    val localTop = assigned
      .groupByKey(_._1)
      .flatMapGroups { (key: (Int, Int, Int),
                        it: Iterator[((Int, Int, Int), Long, Array[Double])]) =>
        val (_, bi, bj) = key
        val rows = it.toArray.sortBy(_._2)
        val m = rows.length
        val ids = rows.map(_._2)
        val home = rows.map(t => (t._2 % nB).toInt)
        val nrm = rows.map { t =>
          var s2 = 0.0; var j = 0
          while (j < t._3.length) { s2 += t._3(j) * t._3(j); j += 1 }
          math.sqrt(s2)
        }
        val heaps = new TopKHeaps(m, k)
        var p = 0
        while (p < m) {
          val vp = rows(p)._3
          var q = p + 1
          while (q < m) {
            // diagonal groups (bi == bj) pair everything; cross-block
            // groups pair only across homes (same-home pairs belong to
            // the home's diagonal group); ids(p) < ids(q) pairs each
            // unordered pair once and never self-pairs
            if ((bi == bj || home(p) != home(q)) && ids(p) < ids(q)) {
              val vq = rows(q)._3
              var d = 0.0; var j = 0
              while (j < vp.length) { d += vq(j) * vp(j); j += 1 }
              val sim = d / (nrm(p) * nrm(q))
              heaps.insert(p, sim, ids(q))
              heaps.insert(q, sim, ids(p))
            }
            q += 1
          }
          p += 1
        }
        heaps.emit(0, ids).map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      .toDF("q_id", "nb_id", "sim")
    // a pair sharing several assigned cells appears once per shared
    // cell with an identical sim — collapse before ranking or the
    // window would count it as multiple candidates
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("nb_id"))
    localTop.groupBy(col("q_id"), col("nb_id")).agg(max(col("sim")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def annJoinCore(s: SparkSession, dir: String,
                          cents: Array[Array[Double]],
                          assignWidth: Int,
                          recallFloor: Double): DataFrame = {
    val k = 3
    val ann = graft.core.Materialize.pin(
      annJoinEdges(s, dir, cents, assignWidth, k))
    // pinned: the exact graph feeds BOTH the edge-flag join and the
    // recall denominator count — unpinned it would run its triangle
    // join twice (once per action)
    val exact = graft.core.Materialize.pin(
      knnGraphTopK(s, dir, k)
        .select(col("vec_id").as("x_q"), col("nb_id").as("x_nb")))
    val flagged = ann
      .join(exact, col("q_id") === col("x_q") && col("nb_id") === col("x_nb"), "left")
      .select(col("q_id").as("vec_id"), col("rank").cast("long").as("rank"),
        col("nb_id"), dec4(col("sim")).as("sim"),
        when(col("x_nb").isNull, 0L).otherwise(1L).as("in_exact"))
    // the recall CONTRACT: |ann ∩ exact| / |exact| — refuse loudly below floor
    val Array(hits, nExact) = Array(
      flagged.agg(sum(col("in_exact"))).collect()(0).getLong(0),
      exact.count())
    require(nExact > 0 && hits.toDouble / nExact >= recallFloor,
      s"ANN-join recall ${hits.toDouble / nExact} below floor $recallFloor " +
        s"($hits/$nExact exact edges recovered)")
    flagged
  }

  def qAnnIvfMulti(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val cents = ivfCentroids()
    val qs = collectQueries(e)
    val bc = s.sparkContext.broadcast((qs, cents, cellProbes(cents, qs.qv, 2)))
    val locals = heapScan(e, qs.qids, Seq(k)) { heaps =>
      val (q, bCents, bProbing) = bc.value
      (vid, v) => {
        // corpus top-2 cells: (dot DESC, cell id) — the D6 tie rule
        var c1 = -1; var d1 = Double.NegativeInfinity
        var c2 = -1; var d2 = Double.NegativeInfinity
        var ci = 0
        while (ci < bCents.length) {
          val d = dot(bCents(ci), v)
          if (d > d1) { d2 = d1; c2 = c1; d1 = d; c1 = ci }
          else if (d > d2) { d2 = d; c2 = ci }
          ci += 1
        }
        val q1 = bProbing(c1)
        val q2 = if (c2 >= 0) bProbing(c2) else Array.empty[Int]
        if (q1.nonEmpty || q2.nonEmpty) {
          val nrm = norm(v)
          // merge the two qi-sorted probe lists, deduping queries
          // that probe BOTH cells (a double insert would duplicate
          // the vector in that query's heap)
          var i1 = 0; var i2 = 0
          while (i1 < q1.length || i2 < q2.length) {
            val qi =
              if (i2 >= q2.length || (i1 < q1.length && q1(i1) <= q2(i2))) {
                val x = q1(i1); i1 += 1
                if (i2 < q2.length && q2(i2) == x) i2 += 1
                x
              } else { val x = q2(i2); i2 += 1; x }
            heaps(0).insert(qi, q.cosine(qi, v, nrm), vid)
          }
        }
      }
    }
    globalTopK(locals, k)
  }

  /** D6 at the production probe width nProbe = 2 (D32 sweeps it). */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val cents = ivfCentroids()
    val qs = collectQueries(e)
    // cell -> query indexes probing it
    val bc = s.sparkContext.broadcast((qs, cents, cellProbes(cents, qs.qv, 2)))
    val locals = heapScan(e, qs.qids, Seq(k)) { heaps =>
      val (q, bCents, bProbing) = bc.value
      (vid, v) => {
        val qis = bProbing(ivfCell(bCents, v))
        if (qis.nonEmpty) {
          val nrm = norm(v)
          qis.foreach(qi => heaps(0).insert(qi, q.cosine(qi, v, nrm), vid))
        }
      }
    }
    globalTopK(locals, k)
  }

  /** D32: IVF probe-width recall sweep — the nprobe TUNING CURVE every
    * IVF deployment publishes (the latency/recall dial: more probed
    * cells = more candidates = higher recall; FAISS's nprobe, Milvus's
    * probe parameter): the D6 kernel at nProbe ∈ {1, 2, 4} scored
    * against the PINNED exact top-10 baseline (one exact run shared by
    * all arms — the D27 budget-sweep posture), recall as exact integral
    * ppm. Reading the curve picks the cheapest probe width above the
    * recall floor — the capacity-planning decision. Recall is
    * non-decreasing in nProbe BY CONSTRUCTION (probe sets are nested);
    * the oracle pins each arm's exact value, so a candidate-generation
    * regression in any arm breaks the gate. At 100 TB each arm is the
    * D6 scan shape (cell-pruned, probe sets bounded); the baseline is
    * the one expensive exact pass, paid once.
    */
  def qIvfProbeSweep(s: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §1.2 "remove unnecessary passes"): the
    // exact baseline + three IVF arms were FOUR full corpus passes;
    // probe sets are nested and the exact arm computes every
    // query·vector dot anyway, so one pass maintains all four heap
    // sets — the exact arm's dot products are computed once and the
    // probe arms reuse them (identical float values: same index-
    // ascending dot/norm sequences as the per-arm kernels, same
    // (sim DESC, vec_id) heap comparator).
    val k = 10
    val probeWidths = Array(1, 2, 4)
    val e = emb(s, dir)
    val cents = ivfCentroids()
    val qs = collectQueries(e)
    val nq = qs.qids.length
    // per cell: qi-ascending (query, armMask) lists — bit a set when
    // arm a's probe set (width probeWidths(a)) contains the cell
    val maskByCell = Array.fill(cents.length)(new Array[Int](nq))
    for (ai <- probeWidths.indices;
         (qis, c) <- cellProbes(cents, qs.qv, probeWidths(ai)).zipWithIndex; qi <- qis)
      maskByCell(c)(qi) |= (1 << ai)
    val cellLists: Array[(Array[Int], Array[Int])] = maskByCell.map { m =>
      val qis = (0 until nq).filter(m(_) != 0).toArray
      (qis, qis.map(m))
    }
    val bc = s.sparkContext.broadcast((qs, cents, cellLists))
    val ExactArm = probeWidths.length
    val locals = heapScan(e, qs.qids, Seq.fill(ExactArm + 1)(k)) { heaps =>
      val (q, bCents, bCellLists) = bc.value
      val dBuf = new Array[Double](nq)
      (vid, v) => {
        val nrm = norm(v)
        // exact arm: every query, cosines cached for the probe arms
        var qi = 0
        while (qi < nq) {
          dBuf(qi) = q.cosine(qi, v, nrm)
          heaps(ExactArm).insert(qi, dBuf(qi), vid)
          qi += 1
        }
        val (qis, masks) = bCellLists(ivfCell(bCents, v))
        var p = 0
        while (p < qis.length) {
          val qj = qis(p); val m = masks(p)
          var ai = 0
          while (ai < ExactArm) {
            if ((m & (1 << ai)) != 0) heaps(ai).insert(qj, dBuf(qj), vid)
            ai += 1
          }
          p += 1
        }
      }
    }
    val topk = graft.core.Materialize.pin(
      globalTopK(locals, k, byArm = true).select(col("arm"), col("q_id"), col("vec_id")))
    val exact = topk.filter(col("arm") === ExactArm).select(col("q_id"), col("vec_id"))
    val arms = probeWidths.indices.map(ai =>
      lit(probeWidths(ai).toLong) -> topk.filter(col("arm") === ai))
    val pinned = graft.core.Materialize.pin(recallRows(exact, arms)
      .select(col("arm").as("n_probe"), col("n_hits"), col("n_exact"), col("recall_ppm")))
    graft.core.Materialize.release(topk)
    pinned
  }

  /** D8: product-quantization ANN with exact rerank — the memory-bound
    * production path: each 64-dim vector compresses to 8 one-byte codes
    * (8 subspaces × 16 deterministic sub-centroids, tag "pq|"), ADC
    * (asymmetric distance: query vs the code's reconstructed vector)
    * ranks candidates from codes alone, and only the top-`nCand` per
    * query are reranked with exact cosine against the raw vectors.
    * Phase 1 scans codes (at scale: the 8-byte code column, 32× smaller
    * than raw vectors, no shuffle); phase 2 is a broadcast semi-join
    * point-lookup of candidate rows (partition-prunable). Sub-centroid
    * assignment ties break to the lowest code index; the oracle
    * replicates codes, reconstruction, ADC (list_distance — the same
    * index-ordered sqrt-of-squares sequence as the kernel) and the
    * rerank (Jégou et al., TPAMI'11).
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame =
    annPqWith(s, dir, gaussianPlanes(PqSub * PqCodes, PqSubDim, tag = "pq|"),
      nCand = scaledCand(emb(s, dir), 50))

  /** D8b: PQ with TRAINED codebooks — the production form of D8
    * (Jégou et al. train sub-codebooks with k-means; random codebooks
    * are the known-bad strawman). One Lloyd refinement per subspace
    * over the full corpus: assign every subvector to its nearest init
    * code (same strict-< lowest-index tie rule as encoding), replace
    * each code with the 6dp-quantized component mean of its assigned
    * subvectors (the D7 kmeans cross-engine accumulation rule; codes
    * that attract nothing keep their init centroid). Training is ONE
    * extra corpus pass + a (128 × 8)-row aggregate — fit state is
    * dim-scale, broadcast back. The rerank budget rises to nCand=150
    * (3% of the sf0.1 corpus — the knob a deployment tunes). Measured
    * recall@10 vs exact: 0.17 → 0.50 at sf0.01, 0.06 → 0.24 at sf0.1
    * (untrained/50 → trained/150); `q_ann_recall_pq_trained` locks the floor.
    */
  def qAnnPqTrained(s: SparkSession, dir: String): DataFrame =
    annPqWith(s, dir, trainPqCodebook(emb(s, dir)),
      nCand = scaledCand(emb(s, dir), 150))

  // ---------------- D29: HNSW-style graph ANN ----------------

  /** One in-memory HNSW shard (Malkov & Yashunin, TPAMI'20 — the graph
    * index family next to IVF/PQ/SQ/binary): layered proximity graph
    * with geometric level assignment, greedy 1-NN descent on upper
    * layers, best-first beam (ef) on layer 0. Deterministic end to
    * end: levels derive from md5("hw|vec_id") (P(level ≥ l) = 4^-l,
    * capped at 3), nodes insert in vec_id order, and every
    * candidate/neighbor order is the (sim DESC, vec_id ASC) total
    * order. Degree caps: M on upper layers, 2M on layer 0 (pruned to
    * the cap by similarity-to-owner on overflow — the simple-prune
    * variant of the paper's SELECT-NEIGHBORS heuristic).
    */
  private final class HnswShard(val vids: Array[Long],
                                vecs: Array[Array[Double]],
                                mlinks: Int, efC: Int) {
    private val n = vids.length
    private val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    private def sim(i: Int, q: Array[Double], qn: Double): Double = {
      val v = vecs(i); var d = 0.0; var j = 0
      while (j < v.length) { d += v(j) * q(j); j += 1 }
      d / (norms(i) * qn)
    }

    private val MaxLevel = 3
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val level: Array[Int] = vids.map { vid =>
      val h = graft.functions.TextKernels.md5Prefix52(md, s"hw|$vid")
      var l = 0; var x = h
      while (l < MaxLevel && (x & 3L) == 0L) { l += 1; x >>= 2 }
      l
    }
    private val adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      Array.tabulate(n)(i =>
        Array.fill(level(i) + 1)(scala.collection.mutable.ArrayBuffer.empty[Int]))
    private var entry = -1
    var maxVisited = 0

    private def cap(l: Int): Int = if (l == 0) 2 * mlinks else mlinks

    /** (sim DESC, vec_id ASC) — the shared candidate total order. */
    private val better: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Long)] { case (s0, i) => (-s0, vids(i)) }

    /** Best-first beam at one level; returns the ef best indices in
      * rank order. Work is bounded by the beam: expansion stops once
      * the best open candidate ranks below the worst kept result. */
    private def searchLayer(q: Array[Double], qn: Double, ep: Int,
                            ef: Int, l: Int): Array[Int] = {
      val visited = scala.collection.mutable.HashSet[Int](ep)
      val seed = (sim(ep, q, qn), ep)
      val cand = scala.collection.mutable.TreeSet[(Double, Int)](seed)(better)
      val best = scala.collection.mutable.TreeSet[(Double, Int)](seed)(better)
      var open = true
      while (open && cand.nonEmpty) {
        val c = cand.head; cand.remove(c)
        if (best.size >= ef && better.gt(c, best.last)) open = false
        else adj(c._2)(l).foreach { nb =>
          if (visited.add(nb)) {
            val e0 = (sim(nb, q, qn), nb)
            if (best.size < ef || better.lt(e0, best.last)) {
              cand.add(e0); best.add(e0)
              if (best.size > ef) best.remove(best.last)
            }
          }
        }
      }
      if (visited.size > maxVisited) maxVisited = visited.size
      best.toArray.map(_._2)
    }

    /** Incremental insert (the paper's Algorithm 1). */
    def insert(i: Int): Unit = {
      if (entry < 0) { entry = i; return }
      val li = level(i)
      val topL = level(entry)
      val q = vecs(i); val qn = norms(i)
      var ep = entry
      var l = topL
      while (l > li) { ep = searchLayer(q, qn, ep, 1, l).head; l -= 1 }
      var lc = math.min(li, topL)
      while (lc >= 0) {
        val cands = searchLayer(q, qn, ep, efC, lc)
        cands.take(mlinks).foreach { nb =>
          adj(i)(lc) += nb
          adj(nb)(lc) += i
          if (adj(nb)(lc).length > cap(lc)) {
            val kept = adj(nb)(lc).toArray
              .map(x => (sim(x, vecs(nb), norms(nb)), x))
              .sorted(better).take(cap(lc)).map(_._2)
            adj(nb)(lc).clear(); adj(nb)(lc) ++= kept
          }
        }
        ep = cands.head
        lc -= 1
      }
      if (li > topL) entry = i
    }

    /** k-NN query (Algorithm 5): greedy descent, then a layer-0 beam. */
    def query(q: Array[Double], qn: Double, k: Int, ef: Int): Array[(Long, Double)] = {
      if (entry < 0) return Array.empty
      var ep = entry
      var l = level(entry)
      while (l > 0) { ep = searchLayer(q, qn, ep, 1, l).head; l -= 1 }
      searchLayer(q, qn, ep, math.max(ef, k), 0)
        .take(k).map(i => (vids(i), sim(i, q, qn)))
    }

    def maxDeg0: Int =
      (0 until n).map(i => adj(i)(0).length).foldLeft(0)(math.max)
    def maxDegUpper: Int =
      (0 until n).flatMap(i => (1 to level(i)).map(adj(i)(_).length))
        .foldLeft(0)(math.max)
  }

  private val HnswShards = 32
  private val HnswM = 8
  private val HnswEf = 32
  private val HnswRecallFloor = 0.85

  private val hnswLocalSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false),
    StructField("n_nodes", LongType, nullable = false),
    StructField("max_deg0", IntegerType, nullable = false),
    StructField("max_degu", IntegerType, nullable = false),
    StructField("max_visited", IntegerType, nullable = false)))

  /** The D29 candidate pass: SHARDED HNSW — the production posture for
    * a distributed graph index (FAISS/Vespa-style: each shard owns an
    * independent in-memory graph over ITS vectors; queries fan out and
    * the per-shard top-k merge exactly). Shard assignment is vec_id %
    * [[HnswShards]] — FIXED shard count, layout- and
    * parallelism-independent, so results are deterministic under any
    * partitioning (rows are vec_id-sorted before the build). At 100 TB
    * the shard count scales with executors while each shard's graph
    * stays RAM-sized — graph build cost is per-shard O(n·ef·M), never
    * a corpus shuffle; only probe×k candidate rows leave a shard.
    * Returns (q_id, vec_id, sim, stats…) rows; stats rows carry
    * q_id = −1.
    */
  private def hnswLocals(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val st = collectQueries(e)
    val bc = s.sparkContext.broadcast(st)
    e.select(col("vec_id"), col("v"))
      .repartition(HnswShards, pmod(col("vec_id"), lit(HnswShards.toLong)))
      .mapPartitions { it =>
        val rows = it.map { r => val vid = r.getLong(0); (vid, vectorAt(r, 1, vid)) }
          .toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val g = new HnswShard(rows.map(_._1), rows.map(_._2), HnswM, HnswEf)
          var i = 0
          while (i < rows.length) { g.insert(i); i += 1 }
          val q = bc.value
          val cands = q.qids.indices.iterator.flatMap { qi =>
            g.query(q.qv(qi), q.qnorm(qi), 10, HnswEf).iterator
              .map { case (vid, s0) => Row(q.qids(qi), vid, s0, 0L, 0, 0, 0) }
          }
          cands ++ Iterator.single(Row(-1L, -1L, 0.0, rows.length.toLong,
            g.maxDeg0, g.maxDegUpper, g.maxVisited))
        }
      }(Encoders.row(hnswLocalSchema))
  }

  /** The D29 top-k (for the D13 recall panel): per-shard HNSW
    * candidates merged to the global per-query top-10. */
  def annHnswTopK(s: SparkSession, dir: String): DataFrame =
    globalTopK(hnswLocals(s, dir)
      .filter(col("q_id") >= 0)
      .select(col("q_id"), col("vec_id"), col("sim")), 10)

  /** D29: HNSW-style graph ANN contract — graph search results are
    * path-dependent (greedy walks over an incrementally built graph),
    * so no row-level SQL oracle can replay them; the gate instead
    * locks the CONTRACT flags the index must satisfy (the D13 idiom,
    * constant-table oracle): recall@10 vs the exact D1 baseline over
    * the shared probe set ≥ [[HnswRecallFloor]] (measured 1.00 @
    * sf0.01, 0.9975 @ sf0.1), every corpus vector present in exactly one
    * shard graph, per-level degree caps honored (≤ 2M layer 0, ≤ M
    * above — the RAM-budget contract), and beam-bounded search work
    * (max visited nodes per query ≤ 4096 — the log-ish search cost
    * that is HNSW's point; a broken stop condition degrades to a scan
    * and trips the flag).
    */
  def qAnnHnsw(s: SparkSession, dir: String): DataFrame = {
    val locals = graft.core.Materialize.pin(hnswLocals(s, dir))
    val topk = globalTopK(locals.filter(col("q_id") >= 0)
      .select(col("q_id"), col("vec_id"), col("sim")), 10)
    val exact = qCosineTopK(s, dir).select(col("q_id"), col("vec_id"))
    val totals = exact.agg(count(lit(1)).cast("double").as("n_exact"))
    val hits = topk.select(col("q_id"), col("vec_id"))
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("hits"))
    val stats = locals.filter(col("q_id") === -1)
      .agg(sum(col("n_nodes")).as("n_nodes"),
           max(col("max_deg0")).as("d0"),
           max(col("max_degu")).as("du"),
           max(col("max_visited")).as("mv"))
    val corpus = emb(s, dir).agg(count(lit(1)).as("n_corpus"))
    hits.crossJoin(broadcast(totals)).crossJoin(broadcast(stats))
      .crossJoin(broadcast(corpus))
      .select(
        (col("hits") / col("n_exact") >= lit(HnswRecallFloor))
          .cast("int").as("recall_ok"),
        (col("n_nodes") === col("n_corpus")).cast("int").as("covers_corpus"),
        (col("d0") <= lit(2 * HnswM)).cast("int").as("degree0_ok"),
        (col("du") <= lit(HnswM)).cast("int").as("degree_upper_ok"),
        (col("mv") <= lit(4096)).cast("int").as("visited_bounded"))
  }

  /** One-Lloyd-iteration PQ codebook training (see [[qAnnPqTrained]]). */
  def trainPqCodebook(e: DataFrame): Array[Array[Double]] = {
    val cb0 = gaussianPlanes(PqSub * PqCodes, PqSubDim, tag = "pq|")
    val sess = e.sparkSession
    val bc = sess.sparkContext.broadcast(cb0)
    val assignSchema = StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("sub", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val assigns = e.select(col("vec_id"), col("v"))
      .mapPartitions { it =>
        val cb = bc.value
        it.flatMap { row =>
          val v = vectorAt(row, 1, row.getLong(0))
          (0 until PqSub).map { sIdx =>
            Row(sIdx * PqCodes + pqCode(cb, v, sIdx),
              java.util.Arrays.copyOfRange(v, sIdx * PqSubDim, (sIdx + 1) * PqSubDim).toSeq)
          }
        }
      }(Encoders.row(assignSchema))
    // (code, component) means: ≤ PqSub·PqCodes·PqSubDim = 1024 rows — a
    // bounded fit collect, the scale posture of every other estimator
    val means = assigns.select(col("p"), posexplode(col("sub")))
      .groupBy(col("p"), col("pos"))
      .agg(graft.functions.dec6(avg(col("col"))).as("m"))
      .collect()
    val cb1 = cb0.map(_.clone)
    means.foreach(r => cb1(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    cb1
  }

  /** Rerank-budget scale rule (the r10 sf1 finding: a FIXED candidate
    * budget makes recall decay as the corpus grows — the untrained-PQ
    * floor tripped at 10× sf0.1): every budgeted variant's nCand is
    * corpus-PROPORTIONAL (base·corpus/2000 — the sf0.1 fraction) with
    * the gate-scale value as the FLOOR, so results at ≤ sf0.1 are
    * bit-unchanged while the budget fraction — and so recall — stays
    * stable at any corpus size. The oracles carry the identical
    * GREATEST(base, …) expression. D27's q_binary_budget keeps FIXED
    * arms on purpose (it measures the budget↔recall trade-off).
    */
  private def scaledCand(e: DataFrame, base: Int): Int = {
    val n = e.agg(count(lit(1))).collect()(0).getLong(0)
    math.max(base.toLong, base.toLong * n / 2000L).toInt
  }

  private def annPqWith(s: SparkSession, dir: String, cb: Array[Array[Double]],
                        nCand: Int): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val qs = collectQueries(e)
    val bc = s.sparkContext.broadcast((qs, cb))
    // phase 1: encode + reconstruct + ADC per query, bounded heaps of
    // the nCand best (smallest ADC); phase 2: the exact-cosine rerank
    // of candidate rows only
    val locals = heapScan(e, qs.qids, Seq(nCand)) { heaps =>
      val (q, bCb) = bc.value
      val recon = new Array[Double](PqSub * PqSubDim)
      (vid, v) => {
        pqReconstruct(bCb, v, recon)
        var qi = 0
        while (qi < q.qids.length) {
          heaps(0).insert(qi, adcSim(q.qv(qi), recon), vid)
          qi += 1
        }
      }
    }
    exactRerank(e, qs, locals, nCand, k)
  }

  /** D16 quantizer — ONE shared derivation for probes (driver) and
    * corpus (executors), the planeSig single-implementation rule: the
    * oracle replicates `floor(((v − mn) · 255.0) / (mx − mn))` with the
    * SAME parenthesization, so both engines floor identical doubles.
    */
  private def sqQuantize(mins: Array[Double], maxs: Array[Double],
                         v: Array[Double]): Array[Int] =
    Array.tabulate(v.length) { j =>
      val den = maxs(j) - mins(j)
      if (den == 0.0) 0
      else {
        val q = math.floor(((v(j) - mins(j)) * 255.0) / den).toInt
        if (q < 0) 0 else if (q > 255) 255 else q
      }
    }

  /** D16: scalar-quantized (SQ8) ANN — the third production
    * quantization family next to IVF (D6) and PQ (D8/D8b), and the
    * vector-store default (FAISS/Milvus SQ8): each dimension
    * affine-maps to an 8-bit code via the per-dim corpus [min, max].
    * Fit is ONE map-side-combined 64-row min/max aggregate — exact
    * SELECTION, no float accumulation, engine-identical by
    * construction. Candidate scoring is the INTEGER code dot-product
    * (exact cross-engine; score ≤ 255²·64 ≈ 4.2·10⁶ is double-exact in
    * the shared heaps — no float ADC at all), per-partition bounded
    * heaps → global top-50 (WindowGroupLimit prunes map-side), then
    * the shared exact-cosine rerank emits top-10. At 100 TB the codes
    * are an 8×-smaller scan-side payload and the fit stays a 64-row
    * broadcast.
    */
  def qAnnSq(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val nCand = scaledCand(e, 50)
    // order kept: mins/maxs are indexed by dimension d
    val stats = e.select(posexplode(col("v")).as(Seq("d", "xv")))
      .groupBy(col("d")).agg(min(col("xv")).as("mn"), max(col("xv")).as("mx"))
      .orderBy(col("d")).collect()
    val mins = stats.map(_.getDouble(1))
    val maxs = stats.map(_.getDouble(2))
    val qs = collectQueries(e)
    val pCodes = qs.qv.map(sqQuantize(mins, maxs, _))
    val bc = s.sparkContext.broadcast((pCodes, mins, maxs))
    val locals = heapScan(e, qs.qids, Seq(nCand)) { heaps =>
      val (bPc, bMn, bMx) = bc.value
      (vid, v) => {
        val cv = sqQuantize(bMn, bMx, v)
        var qi = 0
        while (qi < bPc.length) {
          val pc = bPc(qi)
          var sc = 0L
          var j = 0
          while (j < cv.length) { sc += pc(j).toLong * cv(j); j += 1 }
          heaps(0).insert(qi, sc.toDouble, vid)
          qi += 1
        }
      }
    }
    exactRerank(e, qs, locals, nCand, k)
  }

  /** D26: nearest-neighbor similarity histogram — the τ-CALIBRATION
    * curve for every similarity threshold in the dedup stack (D9's
    * 0.35, D23's 0.3 were picked by looking at exactly this: "how
    * much near-duplication exists at which similarity"): each
    * vector's rank-1 neighbor similarity (the D12 exact kNN graph —
    * block-partitioned triangle join over the ExactSliceMax contract
    * slice, a corpus-independent cost) buckets
    * into 0.05-wide cells on the PUBLISHED dec4 value (both engines
    * FLOOR the identical rounded double — double floor is a true
    * floor on negatives in both), and the histogram publishes exact counts
    * + integral-ppm shares per bucket. At 100 TB: the D12 plan + one
    * ≤40-key aggregate.
    */
  def qNnDistHist(s: SparkSession, dir: String): DataFrame = {
    val nn1 = qKnnGraph(s, dir).filter(col("rank") === 1)
    val tot = nn1.agg(count(lit(1)).as("n"))
    nn1
      .withColumn("bucket",
        expr("CAST(FLOOR(sim * 20.0) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_vectors"),
        expr("CAST((n_vectors * 1000000) div n AS BIGINT)").as("share_ppm"))
  }

  /** D28: IVF index-health audit — cell-size imbalance for the D6
    * coarse quantizer (the ANN ops metric: a skewed cell map means
    * some probes scan 10× the vectors — tail latency — and empty
    * cells waste the cell budget): one broadcast-centroid corpus pass
    * assigns cells (the EXACT D6 quantizer), the ≤nCells count frame
    * publishes per-cell sizes, and the single summary row carries
    * n_cells used/empty, min/max cell size, and the skew factor
    * max·nCells·e6 div n (1e6 = perfectly balanced) — all exact
    * integers. At 100 TB: one corpus pass + a 16-key aggregate.
    */
  def qIvfBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nCells = 16
    val cents = ivfCentroids(nCells)
    val bc = s.sparkContext.broadcast(cents)
    val cellsDf = idVectors(emb(s, dir))
      .map { case (_, v) => ivfCell(bc.value, v).toLong }
      .toDF("cell")
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
    cellsDf.agg(
        count(lit(1)).as("n_used"),
        sum(col("c")).as("n_vectors"),
        min(col("c")).as("min_cell"),
        max(col("c")).as("max_cell"))
      .select(
        lit(nCells.toLong).as("n_cells"),
        col("n_used").cast("long").as("n_used"),
        (lit(nCells.toLong) - col("n_used")).cast("long").as("n_empty"),
        col("n_vectors").cast("long").as("n_vectors"),
        col("min_cell").cast("long").as("min_cell"),
        col("max_cell").cast("long").as("max_cell"),
        expr(s"CAST((max_cell * $nCells * 1000000) div n_vectors AS BIGINT)")
          .as("skew_e6"))
  }

  /** D25: embedding-centroid drift between the even/odd vec_id cohorts
    * — the embedding-space DISTRIBUTION-SHIFT monitor (the D-family
    * twin of B88's PSI: "did the new batch of embeddings move"):
    * every component FLOOR-quantizes to an e6 integer per row BEFORE
    * any sum (floor of the identical IEEE product both engines — the
    * round-before-sum rule, so the per-(dim, cohort) sums are exact
    * and layout-independent), cohort means are sign-split integral
    * divisions, and the published L1 drift, squared-L2 drift, max
    * per-dim drift and its argmax (drift DESC, dim tie-break via
    * struct ordering) are ALL exact integers — float-free. At 100 TB:
    * one explode + ONE ≤64-key map-side-combined aggregate.
    */
  def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val comp = emb(s, dir)
      .select((col("vec_id") % 2 === 0).as("ev"),
        posexplode(col("v")).as(Seq("d", "x")))
      .select(col("ev"), col("d"),
        expr("CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))").as("q"))
    val perDim = comp.groupBy(col("d"))
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).cast(dec).as("n0"),
           sum(when(col("ev"), col("q")).otherwise(lit(0))).cast(dec).as("s0"),
           sum(when(!col("ev"), 1L).otherwise(0L)).cast(dec).as("n1"),
           sum(when(!col("ev"), col("q")).otherwise(lit(0))).cast(dec).as("s1"))
      .withColumn("m0", expr(
        "CASE WHEN s0 >= 0 THEN abs(s0) div n0 ELSE -(abs(s0) div n0) END"))
      .withColumn("m1", expr(
        "CASE WHEN s1 >= 0 THEN abs(s1) div n1 ELSE -(abs(s1) div n1) END"))
      .withColumn("drift", abs(col("m1") - col("m0")))
    perDim.agg(
      max(col("n0")).cast("long").as("n_even"),
      max(col("n1")).cast("long").as("n_odd"),
      sum(col("drift")).cast("long").as("l1_drift_e6"),
      sum(col("drift") * col("drift")).cast("long").as("l2sq_drift"),
      // packed argmax key: d < 64 is a DOMAIN bound (posexplode of a
      // 64-dim array), so drift·64 + (63−d) is a total order — higher
      // drift wins, ties go to the lower dim (DuckDB arg_max rejects
      // struct keys, hence the pack; the bound is structural, not a
      // fixture assumption)
      expr("CAST(max_by(d, drift * 64 + (63 - d)) AS BIGINT)").as("max_dim"),
      max(col("drift")).cast("long").as("max_drift_e6"))
  }

  /** D34: per-dimension ENERGY SPECTRUM — the tuning table behind
    * every truncation decision in the D family (D22 matryoshka "how
    * many prefix dims", D8 PQ subspace sizing, D16 SQ range fit):
    * per dim the exact sign-split integral mean (D25 convention:
    * components FLOOR-quantize to e6 integers PER ROW, so sums are
    * exact and layout-independent) and the raw second-moment energy
    * Σq² — an exact DECIMAL(38,0) integer — plus the cumulative
    * energy fraction in permille over the dim order, i.e. the curve
    * you read "the first k dims carry X‰ of corpus energy" off.
    * One explode + ONE ≤64-key aggregate; the cumulative windows run
    * over the 64-row domain frame (Aggregate output — the exempt,
    * bounded window class), never the fact.
    */
  def qDimEnergy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val comp = emb(s, dir)
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .select(col("d"),
        expr("CAST(FLOOR(x * 1000000.0) AS DECIMAL(38,0))").as("q"))
    val perDim = comp.groupBy(col("d"))
      .agg(count(lit(1)).cast(dec).as("n"),
           sum(col("q")).cast(dec).as("sv"),
           sum(col("q") * col("q")).cast(dec).as("ss"))
    val cumW = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDim
      .withColumn("cum", sum(col("ss")).over(cumW))
      .withColumn("tot", sum(col("ss")).over(totW))
      .select(col("d").cast("long").as("d"),
        col("n").cast("long").as("n"),
        expr("CAST(CASE WHEN sv >= 0 THEN abs(sv) div n " +
             "ELSE -(abs(sv) div n) END AS BIGINT)").as("mean_e6"),
        col("ss").cast("long").as("energy_e12"),
        expr("CAST((cum * 1000) div tot AS BIGINT)").as("cum_energy_permille"))
  }

  /** D24 code: the 64-dim sign mask packed into ONE long (bit j set ⟺
    * v_j > 0) — shared by probes (driver) and corpus (executors). */
  private def signCode(v: Array[Double]): Long = {
    var code = 0L; var j = 0
    val n = math.min(v.length, 64)
    while (j < n) { if (v(j) > 0) code |= (1L << j); j += 1 }
    code
  }

  /** D24: binary (1-bit) quantization ANN — the EXTREME end of the
    * memory-bound quantization family (SQ8 D16 stores 64 B/vector, PQ
    * D8 8 B, this 8 B in ONE machine word): each vector's 64 sign bits
    * pack into a long, candidate generation is popcount-Hamming on
    * XOR (one ALU op per comparison — the reason binary codes are the
    * production first-pass filter at billion scale), top-50 by
    * (hamming ASC, vec_id) rerank with exact cosine, top-10 published.
    * Same plan as D16: one corpus pass with broadcast probe codes +
    * bounded heaps, a ≤(probes·50)-row rerank join, never an
    * all-pairs. Cross-engine: Long.bitCount(xor) ≡ DuckDB
    * bit_count(xor) on two's-complement BIGINT (probed), and the
    * oracle folds its HUGEINT bit sum into the same signed word.
    */
  def qAnnBinary(s: SparkSession, dir: String): DataFrame =
    annBinary(s, dir, nCand = scaledCand(emb(s, dir), 50))

  private def annBinary(s: SparkSession, dir: String, nCand: Int): DataFrame = {
    val k = 10
    val e = emb(s, dir)
    val qs = collectQueries(e)
    val bc = s.sparkContext.broadcast(qs.qv.map(signCode))
    val locals = heapScan(e, qs.qids, Seq(nCand)) { heaps =>
      val bPc = bc.value
      (vid, v) => {
        val cv = signCode(v)
        var qi = 0
        while (qi < bPc.length) {
          heaps(0).insert(qi, -java.lang.Long.bitCount(bPc(qi) ^ cv).toDouble, vid)
          qi += 1
        }
      }
    }
    exactRerank(e, qs, locals, nCand, k)
  }

  /** D27: candidate-budget recall sweep for the D24 binary index —
    * the TUNING CURVE behind every "how many candidates do we rerank"
    * knob (the D13 posture applied to the budget axis instead of the
    * method axis): the binary pipeline runs at nCand ∈ {10, 25, 50}
    * against the PINNED exact top-10 (one materialization, reused by
    * all three arms — the qAnnRecall idiom), publishing hits and
    * EXACT integral-ppm recall per budget. At 100 TB: three bounded
    * candidate sweeps + one exact baseline, all sharing the corpus
    * scan shape; the curve tells you where recall saturates so you
    * stop paying for rerank you don't need.
    */
  def qBinaryBudget(s: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §1.2): exact baseline + three annBinary
    // arms were 4 corpus passes + 3 rerank joins. The budget arms are
    // NESTED (global hamming top-10 ⊂ top-25 ⊂ top-50 under the same
    // deterministic (sim DESC, vec_id) order), so ONE corpus pass
    // computes the exact cosine heaps AND the hamming top-50
    // candidates; one shared rerank scores the 50-set, and each arm's
    // top-10 is the rank-≤nc slice reranked — identical sets and
    // floats to the per-arm pipelines.
    val k = 10
    val budgets = Seq(10, 25, 50)
    val ncMax = budgets.max
    val e = emb(s, dir)
    val qs = collectQueries(e)
    val bc = s.sparkContext.broadcast((qs, qs.qv.map(signCode)))
    // arm 0: hamming candidates, arm 1: the exact cosine baseline
    val locals = heapScan(e, qs.qids, Seq(ncMax, k)) { heaps =>
      val (q, bPc) = bc.value
      (vid, v) => {
        val cv = signCode(v)
        val nrm = norm(v)
        var qi = 0
        while (qi < bPc.length) {
          heaps(0).insert(qi, -java.lang.Long.bitCount(bPc(qi) ^ cv).toDouble, vid)
          heaps(1).insert(qi, q.cosine(qi, v, nrm), vid)
          qi += 1
        }
      }
    }
    val ranked = graft.core.Materialize.pin(globalTopK(locals, ncMax, byArm = true))
    val exact = ranked.filter(col("arm") === 1 && col("rank") <= k)
      .select(col("q_id"), col("vec_id"))
    // budget nc reranks the hamming rank-≤nc slice: one candidate row
    // per budget it falls in, the budget as its arm
    val cands = ranked.filter(col("arm") === 0)
      .withColumn("arm", explode(array(budgets.map(lit(_)): _*)))
      .filter(col("rank") <= col("arm"))
      .select(col("arm"), col("q_id"), col("vec_id"), col("sim"))
    val top = graft.core.Materialize.pin(
      exactRerank(e, qs, cands, ncMax, k, byArm = true))
    val arms = budgets.map(nc => lit(nc.toLong) -> top.filter(col("arm") === nc))
    val pinned = graft.core.Materialize.pin(recallRows(exact, arms)
      .select(col("arm").as("n_cand"), col("n_hits"), col("n_exact"), col("recall_ppm")))
    graft.core.Materialize.release(top)
    graft.core.Materialize.release(ranked)
    pinned
  }

  private def annLsh(s: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    val k = 10
    val nBands = 8
    val bandBits = 4 // 8 bands × 4 bits: banding theory S-curve tuned so
    //                  mid-cosine neighbors still collide on some band
    val nPlanes = nBands * bandBits
    val e = emb(s, dir)
    val dim = 64
    val planes = gaussianPlanes(nPlanes, dim)

    def bandKeys(sig: Int): Seq[Int] =
      (0 until nBands).map(b => (b << 16) | ((sig >>> (b * bandBits)) & ((1 << bandBits) - 1)))

    val qs = collectQueries(e)
    // band-key -> query indexes sharing that band
    val buckets = new java.util.HashMap[Int, Array[Int]]()
    qs.qv.zipWithIndex.foreach { case (v, qi) =>
      bandKeys(planeSig(planes, v)).foreach { key =>
        val probes =
          if (!multiProbe) Seq(key)
          else key +: (0 until bandBits).map(t => key ^ (1 << t))
        probes.foreach { pk =>
          val prev = buckets.getOrDefault(pk, Array.empty)
          if (!prev.contains(qi)) buckets.put(pk, prev :+ qi)
        }
      }
    }
    val bc = s.sparkContext.broadcast((qs, buckets, planes))
    val locals = heapScan(e, qs.qids, Seq(k)) { heaps =>
      val (q, bBuckets, bPlanes) = bc.value
      val nq = q.qids.length
      val cand = new Array[Boolean](nq)
      (vid, v) => {
        val sig = planeSig(bPlanes, v)
        java.util.Arrays.fill(cand, false)
        var any = false
        var b = 0
        while (b < nBands) {
          val key = (b << 16) | ((sig >>> (b * bandBits)) & ((1 << bandBits) - 1))
          val qis = bBuckets.get(key)
          if (qis != null) { qis.foreach(cand(_) = true); any = true }
          b += 1
        }
        if (any) {
          val nrm = norm(v)
          var qi = 0
          while (qi < nq) {
            if (cand(qi)) heaps(0).insert(qi, q.cosine(qi, v, nrm), vid)
            qi += 1
          }
        }
      }
    }
    globalTopK(locals, k)
  }

  /** D3 oracle: rebuilds the md5/Box-Muller hyperplanes in SQL, derives
    * each vector's per-band 4-bit sign key, joins queries to corpus
    * vectors sharing any band, and ranks exact cosine over candidates
    * only — the same candidate semantics as the kernel's bucket scan.
    */
  /** The D13-split oracle: the family's own top-10 replica (famSql —
    * the SAME string its individual gate query pins) joined against
    * the exact brute-force top-10, hits/denominator/ppm as exact
    * integers, the floor verdict as the literal CASE.
    */
  private def annRecallRowSql(name: String, floor: Double, famSql: String): String =
    s"""WITH fam AS (SELECT q_id, vec_id FROM ($famSql)),
      |q2 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
      |exs AS (SELECT q_id, e.vec_id,
      |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM q2 CROSS JOIN embeddings e),
      |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM exs) WHERE rank <= 10),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
      |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM fam JOIN ex USING (q_id, vec_id))
      |SELECT '$name' AS method, h.n_hits, t.n_exact,
      |  CAST((h.n_hits * 1000000) // t.n_exact AS BIGINT) AS recall_ppm,
      |  CAST(CASE WHEN CAST(h.n_hits AS DOUBLE) / t.n_exact >= $floor
      |    THEN 1 ELSE 0 END AS INT) AS recall_ok
      |FROM h, tot t""".stripMargin

  private def annLshSql(probe1: Boolean): String = {
    val cond =
      if (probe1) "bit_count(xor(q.bkey, c.bkey)) <= 1" else "q.bkey = c.bkey"
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5(p||'|'||j||'|$t')")
    s"""WITH pz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(32)) AS p), (SELECT unnest(range(64)) AS j)),
      |planes AS (SELECT p, list(z ORDER BY j) AS pv FROM pz GROUP BY p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bands AS (SELECT vec_id, p // 4 AS band,
      |    CAST(SUM(CASE WHEN list_dot_product(pv, v) > 0
      |        THEN CAST(2^(p % 4) AS INT) ELSE 0 END) AS BIGINT) AS bkey
      |  FROM e CROSS JOIN planes GROUP BY 1, 2),
      |q AS (SELECT * FROM bands WHERE vec_id % 50 = 0 AND vec_id < 5000),
      |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
      |  FROM q JOIN bands c ON q.band = c.band AND ${cond}),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** D6 oracle: rebuild the tagged centroid draw, normalize component-
    * wise, assign cells by ranked centroid dot, probe each query's top-2
    * cells, rerank exact cosine over cell members only.
    */
  /** IVF coarse-quantizer CTE chain shared by q_ann_ivf and
    * q_cluster_sample: centroid rebuild (`cnorm`), per-vector cell
    * ranks (`cellr`), final cell assignment (`cell`).
    */
  /** [[ivfCellCteSql]] with the vector set parameterized — the F6
    * streaming-upsert gate scores a REMAPPED corpus (latest accepted
    * version per vec_id) through the identical quantizer chain.
    */
  private[operators] def ivfCellCteSqlFor(eSql: String): String = {
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5('ivf|'||p||'|'||j||'|$t')")
    s"""pz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(16)) AS p), (SELECT unnest(range(64)) AS j)),
      |cents AS (SELECT p, list(z ORDER BY j) AS cv FROM pz GROUP BY p),
      |cnorm AS (SELECT p,
      |    list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y*y)))) AS cv
      |  FROM cents),
      |e AS ($eSql),
      |cd AS (SELECT vec_id, p, list_dot_product(cv, v) AS dt FROM e CROSS JOIN cnorm),
      |cellr AS (SELECT vec_id, p,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, p) AS rn
      |  FROM cd),
      |cell AS (SELECT vec_id, p FROM cellr WHERE rn = 1)""".stripMargin
  }

  private val ivfCellCteSql: String = ivfCellCteSqlFor(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")

  /** D31 oracle: the shared cell CTE with corpus assignment widened to
    * rn <= 2 (multi-assignment); probes and rerank identical to D6.
    */
  private val annIvfMultiSql: String = {
    s"""WITH $ivfCellCteSql,
      |cell2 AS (SELECT vec_id, p FROM cellr WHERE rn <= 2),
      |probes AS (SELECT vec_id, p FROM cellr
      |  WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 5000),
      |cand AS (SELECT DISTINCT pr.vec_id AS q_id, c.vec_id
      |  FROM probes pr JOIN cell2 c ON pr.p = c.p),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  private val annIvfSql: String = {
    s"""WITH $ivfCellCteSql,
      |probes AS (SELECT vec_id, p FROM cellr
      |  WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 5000),
      |cand AS (SELECT DISTINCT pr.vec_id AS q_id, c.vec_id
      |  FROM probes pr JOIN cell c ON pr.p = c.p),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** D17 oracle: the D6 cell CTEs + the D8 code CTEs composed on the
    * RESIDUAL — corpus residuals vs the assigned cell's centroid,
    * query residuals vs each probed cell's centroid, ADC joined on
    * cell equality (a query's two probed cells see disjoint corpus
    * slices, so no DISTINCT is needed), then the shared exact-cosine
    * rerank tail.
    */
  private val annIvfPqSql: String = {
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5('pq|'||p||'|'||j||'|$t')")
    s"""WITH $ivfCellCteSql,
      |pqz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(128)) AS p), (SELECT unnest(range(8)) AS j)),
      |cb AS (SELECT p // 16 AS s2, p % 16 AS ci, list(z ORDER BY j) AS cv
      |  FROM pqz GROUP BY p),
      |rese AS (SELECT e.vec_id, cell.p AS cp,
      |    list_transform(range(1, 65), i -> e.v[i] - cn.cv[i]) AS rv
      |  FROM e JOIN cell USING (vec_id) JOIN cnorm cn ON cn.p = cell.p),
      |sub AS (SELECT vec_id, cp, s2, ci, cb.cv,
      |    list_distance(rv[s2*8+1 : s2*8+8], cb.cv) AS d
      |  FROM rese CROSS JOIN cb),
      |codes AS (SELECT vec_id, cp, s2, cv FROM (
      |  SELECT vec_id, cp, s2, cv,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, s2 ORDER BY d, ci) AS rn FROM sub)
      |  WHERE rn = 1),
      |recon AS (SELECT vec_id, cp, flatten(list(cv ORDER BY s2)) AS rv
      |  FROM codes GROUP BY vec_id, cp),
      |probes AS (SELECT vec_id AS q_id, p FROM cellr
      |  WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 5000),
      |qres AS (SELECT q_id, probes.p,
      |    list_transform(range(1, 65), i -> e.v[i] - cn.cv[i]) AS qrv
      |  FROM probes JOIN e ON e.vec_id = probes.q_id
      |  JOIN cnorm cn ON cn.p = probes.p),
      |adc AS (SELECT q_id, recon.vec_id, list_distance(qrv, recon.rv) AS ad
      |  FROM qres JOIN recon ON recon.cp = qres.p),
      |cand AS (SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rn FROM adc)
      |  WHERE rn <= GREATEST(50, 50 * (SELECT COUNT(*) FROM embeddings) // 2000)),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** D7 oracle: the same two unrolled Lloyd iterations — seed centroids
    * from fixed vec_ids, ranked-distance assignment (ties to lowest
    * cluster), per-(cluster, dim) means between iterations.
    */
  private val kmeansSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dims AS (SELECT unnest(range(1,65)) AS i),
      |c0 AS (SELECT CAST(vec_id // 60 AS BIGINT) AS cl, i, v[i] AS c
      |  FROM e, dims WHERE vec_id % 60 = 0 AND vec_id <= 420),
      |d1 AS (SELECT e.vec_id, c0.cl, SUM((v[i]-c)*(v[i]-c)) AS d2
      |  FROM e CROSS JOIN c0 GROUP BY 1,2),
      |a1 AS (SELECT vec_id, cl FROM (
      |  SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      |  FROM d1) WHERE rn = 1),
      |c1 AS (SELECT cl, i, CAST(ROUND(AVG(v[i]),6) AS DECIMAL(18,6))::DOUBLE AS c
      |  FROM e JOIN a1 USING (vec_id), dims GROUP BY 1,2),
      |d2_ AS (SELECT e.vec_id, c1.cl, SUM((v[i]-c)*(v[i]-c)) AS d2
      |  FROM e CROSS JOIN c1 GROUP BY 1,2),
      |a2 AS (SELECT vec_id, cl FROM (
      |  SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      |  FROM d2_) WHERE rn = 1),
      |c2 AS (SELECT cl, i, AVG(v[i]) AS c
      |  FROM e JOIN a2 USING (vec_id), dims GROUP BY 1,2)
      |SELECT a2n.cl AS cluster, a2n.n,
      |  CAST(ROUND(MAX(CASE WHEN i = 1 THEN c END),4) AS DECIMAL(18,4))::DOUBLE AS c0,
      |  CAST(ROUND(MAX(CASE WHEN i = 2 THEN c END),4) AS DECIMAL(18,4))::DOUBLE AS c1
      |FROM (SELECT cl, COUNT(*) AS n FROM a2 GROUP BY 1) a2n
      |JOIN c2 ON a2n.cl = c2.cl
      |GROUP BY 1,2 ORDER BY 1""".stripMargin

  /** D8 oracle: rebuild the tagged sub-codebooks, assign each vector's
    * per-subspace code by ranked distance (ties to the lowest code),
    * reconstruct, rank ADC (list_distance — the kernel's exact float
    * sequence), then exact-cosine rerank over the candidate set only.
    */
  private val annPqSql: String = {
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5('pq|'||p||'|'||j||'|$t')")
    s"""WITH pz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(128)) AS p), (SELECT unnest(range(8)) AS j)),
      |cb AS (SELECT p // 16 AS s, p % 16 AS ci, list(z ORDER BY j) AS cv
      |  FROM pz GROUP BY p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sub AS (SELECT vec_id, s, ci, cv,
      |    list_distance(v[s*8+1 : s*8+8], cv) AS d
      |  FROM e CROSS JOIN cb),
      |codes AS (SELECT vec_id, s, cv FROM (
      |  SELECT vec_id, s, cv,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, ci) AS rn FROM sub)
      |  WHERE rn = 1),
      |recon AS (SELECT vec_id, flatten(list(cv ORDER BY s)) AS rv
      |  FROM codes GROUP BY vec_id),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < 5000),
      |adc AS (SELECT q_id, r.vec_id, list_distance(qv, rv) AS ad
      |  FROM q CROSS JOIN recon r),
      |cand AS (SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rn FROM adc)
      |  WHERE rn <= GREATEST(50, 50 * (SELECT COUNT(*) FROM embeddings) // 2000)),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** [[annPqSql]] with the one-Lloyd-step codebook refinement of
    * [[trainPqCodebook]] replayed in SQL: assign on the init codebook,
    * 6dp-quantized per-(code, component) means (the D7 rule), empty
    * codes COALESCE back to init — then the identical encode/ADC/
    * rerank tail.
    */
  private val annPqTrainedSql: String = {
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5('pq|'||p||'|'||j||'|$t')")
    s"""WITH pz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(128)) AS p), (SELECT unnest(range(8)) AS j)),
      |cb AS (SELECT p // 16 AS s, p % 16 AS ci, list(z ORDER BY j) AS cv
      |  FROM pz GROUP BY p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sub0 AS (SELECT vec_id, s, ci, cv,
      |    list_distance(v[s*8+1 : s*8+8], cv) AS d
      |  FROM e CROSS JOIN cb),
      |a0 AS (SELECT vec_id, s, ci FROM (
      |  SELECT vec_id, s, ci,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, ci) AS rn FROM sub0)
      |  WHERE rn = 1),
      |mu AS (SELECT a0.s, a0.ci, j,
      |    CAST(ROUND(AVG(e.v[a0.s*8 + j]),6) AS DECIMAL(18,6))::DOUBLE AS m
      |  FROM a0 JOIN e USING (vec_id), (SELECT unnest(range(1,9)) AS j)
      |  GROUP BY 1, 2, 3),
      |cbt AS (SELECT s, ci, list(m ORDER BY j) AS cv FROM mu GROUP BY 1, 2),
      |cb1 AS (SELECT cb.s, cb.ci, COALESCE(cbt.cv, cb.cv) AS cv
      |  FROM cb LEFT JOIN cbt ON cb.s = cbt.s AND cb.ci = cbt.ci),
      |sub AS (SELECT vec_id, s, ci, cv,
      |    list_distance(v[s*8+1 : s*8+8], cv) AS d
      |  FROM e CROSS JOIN cb1),
      |codes AS (SELECT vec_id, s, cv FROM (
      |  SELECT vec_id, s, cv,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, ci) AS rn FROM sub)
      |  WHERE rn = 1),
      |recon AS (SELECT vec_id, flatten(list(cv ORDER BY s)) AS rv
      |  FROM codes GROUP BY vec_id),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < 5000),
      |adc AS (SELECT q_id, r.vec_id, list_distance(qv, rv) AS ad
      |  FROM q CROSS JOIN recon r),
      |cand AS (SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rn FROM adc)
      |  WHERE rn <= GREATEST(150, 150 * (SELECT COUNT(*) FROM embeddings) // 2000)),
      |sims AS (SELECT q_id, cand.vec_id,
      |    list_cosine_similarity(qe.v, ce.v) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
      |  JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
      |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** D9: SemDeDup (Abbas et al., 2023) — semantic near-duplicate
    * pruning, the embedding-space analogue of MinHash-LSH dedup: a
    * coarse quantizer (`nCells` deterministic unit-norm centroids, tag
    * "sem|" — same md5/Box-Muller draw the IVF oracle rebuilds)
    * assigns every vector to one cell, and near-dup pairs are searched
    * ONLY within cells — never across the whole corpus. A vector is a
    * duplicate when a LOWER-id vector in its cell has cosine ≥ τ; its
    * `dup_of` is the lowest such partner (the cluster keeper rule).
    *
    * Scale posture: one corpus pass assigns cells (broadcast
    * centroids, no shuffle), then ONE shuffle co-partitions each cell;
    * per-task memory is one cell and the pair scan is O(Σ cell²) —
    * the SemDeDup paper's point is that nCells grows with the corpus
    * (cells stay ~constant size), so the quadratic term never sees
    * the full n. Since r6 nCells is a PARAMETER ([[semDedup]]) sized
    * by [[semCellsFor]] (corpusRows / targetCellSize); the oracled
    * query pins 16, the sf0.01 value of that rule. Cross-cell
    * near-dups are missed by design (the paper's recall trade-off);
    * the exact-recall alternative is the D2 triangle join.
    */
  /** D11: MMR-diversified retrieval (Carbonell & Goldstein) — from each
    * probe's brute-force top-20, greedily pick 5 maximizing
    * `0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s)` (ties → lowest vec_id):
    * the diversified-sampling step that keeps a retrieved training
    * batch from being 5 copies of the same neighborhood. Scale shape:
    * phase 1 is the D1 kernel (broadcast probes, bounded heaps); the
    * greedy runs per probe over its own ≤20 candidates grouped into
    * ONE row — O(probes · 20² · d) work spread across executors, never
    * a cross-probe shuffle. Oracle: 4 unrolled greedy steps in SQL
    * (the q_kmeans unrolling idiom).
    */
  def qMmr(s: SparkSession, dir: String): DataFrame = {
    val kCand = 20
    val kPick = 5
    val e = emb(s, dir)
    val st = collectQueries(e)
    val bc = s.sparkContext.broadcast(st)
    val cand = rankCut(cosineScan(e, st, kCand), kCand, byArm = false)
      .select(col("q_id"), col("vec_id"))
    val grouped = cand
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("cands"))
    val outSchema = StructType(Seq(
      StructField("q_id", LongType, nullable = false),
      StructField("pick", IntegerType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    grouped.mapPartitions { it =>
      val q = bc.value
      val qIndex = q.qids.zipWithIndex.toMap
      it.flatMap { row =>
        val qid = row.getLong(0)
        val qi = qIndex(qid)
        val (qv, qn) = (q.qv(qi), q.qnorm(qi))
        // vec_id-ascending candidate order makes "first strict max" the
        // lowest-id tie-break, mirroring the oracle's (score DESC, vec_id)
        val cands = row.getSeq[Row](1)
          .map { r => val vid = r.getLong(0); (vid, vectorAt(r, 1, vid)) }
          .sortBy(_._1).toArray
        val m = cands.length
        val norms = cands.map { case (_, v) => norm(v) }
        val qsim = Array.tabulate(m)(i => dot(qv, cands(i)._2) / (qn * norms(i)))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        (1 to math.min(kPick, m)).map { pick =>
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < m) {
            if (!selected.contains(i)) {
              // true max over S (can be negative), not a 0-floored max —
              // the oracle's MAX(cc.s) has no floor; first pick has no
              // diversity term at all
              val score =
                if (selected.isEmpty) 0.7 * qsim(i)
                else {
                  var maxPrev = Double.NegativeInfinity
                  selected.foreach { j =>
                    val sij = dot(cands(i)._2, cands(j)._2) / (norms(i) * norms(j))
                    if (sij > maxPrev) maxPrev = sij
                  }
                  0.7 * qsim(i) - 0.3 * maxPrev
                }
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          selected += best
          Row(qid, pick, cands(best)._1, bestScore)
        }
      }
    }(Encoders.row(outSchema))
      .select(col("q_id"), col("pick"), col("vec_id"),
              dec4(col("score")).as("mmr_score"))
  }

  /** D10: cluster-balanced sampling — the curation counterpart of IVF:
    * draw ~`quota` vectors per coarse-quantizer cell so a training
    * subset covers embedding space instead of mirroring its density
    * (dense regions are down-weighted, sparse ones kept). Cell
    * assignment reuses the EXACT D6 quantizer (ivfCentroids/ivfCell);
    * the draw is the same deterministic hash-threshold rule as the
    * stratified text sampler — no per-cell window, no skew, one 16-row
    * broadcast aggregate; the corpus streams through the assignment
    * kernel twice (count pass + keep pass), never shuffles.
    */
  def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    val quota = 40
    val cents = ivfCentroids()
    val bc = s.sparkContext.broadcast(cents)
    val cellSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false)))
    val cells = fanOut(emb(s, dir).select(col("vec_id"), col("v")))
      .mapPartitions { it =>
        val c = bc.value
        it.map { row => val vid = row.getLong(0); Row(vid, ivfCell(c, vectorAt(row, 1, vid))) }
      }(Encoders.row(cellSchema))
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    cells.join(broadcast(counts), "cell")
      .filter(graft.functions.TextFunctions.hexPrefix52(
        concat(lit("cs|"), col("vec_id"))) % col("n_cell") < quota)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** Cell-count sizing rule for [[semDedup]]: nCells grows linearly
    * with the corpus so cells stay ~`targetCellSize` vectors and the
    * within-cell O(cell²) pair scan stays constant per task as the
    * corpus scales — the SemDeDup paper's scaling argument, made a
    * parameter instead of a literal. At 100 TB you pass the (known)
    * corpus row count from table stats; there is no extra count job
    * unless you want one.
    */
  def semCellsFor(corpusRows: Long, targetCellSize: Int = 32): Int =
    math.max(1L, math.min(Int.MaxValue.toLong,
      (corpusRows + targetCellSize - 1) / targetCellSize)).toInt

  /** Parameterized SemDeDup kernel: quantize to `nCells` deterministic
    * unit-norm centroids (tag "sem|"), search near-dup pairs ONLY
    * within cells. `qSemDedup` pins nCells=16 (the value the static
    * DuckDB oracle rebuilds — 500 sf0.01 vectors / 32-per-cell target);
    * real deployments derive it via [[semCellsFor]]. SimilaritySpec
    * checks the kernel at two other cell counts against a local
    * reference.
    */
  /** The D9 coarse quantizer: nCells unit-norm deterministic centroids
    * (tag "sem|"), normalized component-wise with index-order sums
    * (oracle parity). Public so the streaming twin (F14) quantizes into
    * the IDENTICAL cells; assignment uses the same argmax/lowest-id
    * rule as [[ivfCell]].
    */
  def semCentroids(nCells: Int, dim: Int = 64): Array[Array[Double]] =
    gaussianPlanes(nCells, dim, tag = "sem|").map { c =>
      var n2 = 0.0; var j = 0
      while (j < dim) { n2 += c(j) * c(j); j += 1 }
      val nrm = math.sqrt(n2)
      c.map(_ / nrm)
    }

  /** The D9 within-cell scan, shared verbatim by the batch query and
    * the F14 streaming twin: `ids` ascending with parallel `vecs`;
    * returns (vec_id, dup_of, cosine) for every vector whose LOWEST-id
    * partner at cosine ≥ tau precedes it. Index-order accumulation
    * throughout, so stream and batch are bit-identical.
    */
  private[graft] def cellDupScan(
      ids: Array[Long],
      vecs: Array[Array[Double]],
      tau: Double): Seq[(Long, Long, Double)] = {
    val m = ids.length
    val nrm = vecs.map { v =>
      var s2 = 0.0; var j = 0
      while (j < v.length) { s2 += v(j) * v(j); j += 1 }
      math.sqrt(s2)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var q = 0
    while (q < m) {
      val vq = vecs(q)
      var found = false
      var p = 0
      // ids ascend, so the FIRST qualifying p is the lowest dup_of
      while (p < q && !found) {
        if (ids(p) < ids(q)) {
          val vp = vecs(p)
          var d = 0.0; var j = 0
          while (j < vq.length) { d += vp(j) * vq(j); j += 1 }
          val sim = d / (nrm(p) * nrm(q))
          if (sim >= tau) {
            out += ((ids(q), ids(p), sim))
            found = true
          }
        }
        p += 1
      }
      q += 1
    }
    out.toSeq
  }

  def semDedup(s: SparkSession, dir: String, nCells: Int, tau: Double = 0.35): DataFrame = {
    import s.implicits._
    val dim = 64
    val cents = semCentroids(nCells, dim)
    val bc = s.sparkContext.broadcast(cents)
    val ds = idVectors(emb(s, dir))
    val byCell = ds.map { case (id, v) =>
      val cs = bc.value
      var best = 0; var bestD = Double.NegativeInfinity
      var ci = 0
      while (ci < cs.length) {
        val cv = cs(ci)
        var d = 0.0; var j = 0
        while (j < v.length) { d += cv(j) * v(j); j += 1 }
        // strict > keeps the LOWEST cell id on ties (oracle ROW_NUMBER
        // ORDER BY dt DESC, p)
        if (d > bestD) { bestD = d; best = ci }
        ci += 1
      }
      (best, id, v)
    }
    val dups = byCell
      .groupByKey(_._1)
      .flatMapGroups { (cell: Int, it: Iterator[(Int, Long, Array[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        cellDupScan(rows.map(_._2), rows.map(_._3), tau)
          .iterator.map { case (id, dupOf, sim) => (id, cell.toLong, dupOf, sim) }
      }
    dups.toDF("vec_id", "cell", "dup_of", "sim")
      .select(col("vec_id"), col("cell"), col("dup_of"), dec4(col("sim")).as("cosine"))
  }

  /** The ORACLED query pins nCells = 16 — the value the static DuckDB
    * SQL rebuilds (500 sf0.01 vectors / 32-per-cell target), so the
    * gate matches at any sf the harness runs it at, and the query pays
    * no extra count job. Real deployments call [[semDedup]] with
    * [[semCellsFor]](corpus row count from table stats) so cells stay
    * ~32 vectors as the corpus scales — SemDedupSpec covers that
    * parameterization at two other cell counts.
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    semDedup(s, dir, nCells = 16)

  /** D23: DBSCAN within coarse-quantizer cells — the DENSITY member of
    * the clustering family (D7 k-means is centroid-based, A43's GMM
    * parametric; DBSCAN finds arbitrary-shape dense regions and labels
    * sparse vectors noise — the curation screen for "which embedding
    * regions are dense enough to subsample, which points are
    * outliers"): ε-neighbors (cosine ≥ τ=0.3) are searched ONLY within
    * the D9 "sem|" cells (one broadcast-centroid corpus pass to
    * assign, ONE cell shuffle; per-task work O(cell²) — constant as
    * the corpus scales under semCellsFor; cross-cell density is missed
    * by design, the SemDeDup recall trade-off), cores need ≥ 3
    * neighbors, clusters are MIN-CORE-ID connected components of the
    * core–core graph — cell-local union-find, NO driver iteration,
    * because edges cannot leave a cell — borders join the minimum
    * cluster among their core neighbors, the rest is noise (−1).
    * Scale posture: identical to D9 — assignment is shuffle-free, the
    * only exchange is the cell co-partition, and per-task memory is
    * one ~32-vector cell at any corpus size. Input is the
    * [[DbscanSliceMaxVec]] contract slice (inactive at gate scales,
    * frozen at 10×+) so the within-cell pairwise oracle replica stays
    * verifiable at any sf.
    */
  def qDbscan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nCells = 16; val dim = 64; val tau = 0.3; val minPts = 3
    val cents = semCentroids(nCells, dim)
    val bc = s.sparkContext.broadcast(cents)
    val ds = idVectors(emb(s, dir).filter(col("vec_id") < DbscanSliceMaxVec))
    val byCell = ds.map { case (id, v) =>
      val cs = bc.value
      var best = 0; var bestD = Double.NegativeInfinity
      var ci = 0
      while (ci < cs.length) {
        val cv = cs(ci)
        var d = 0.0; var j = 0
        while (j < v.length) { d += cv(j) * v(j); j += 1 }
        // strict > keeps the LOWEST cell id on ties (oracle ROW_NUMBER
        // ORDER BY dt DESC, p)
        if (d > bestD) { bestD = d; best = ci }
        ci += 1
      }
      (best, id, v)
    }
    val out = byCell.groupByKey(_._1)
      .flatMapGroups { (cellId: Int, it: Iterator[(Int, Long, Array[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        val ids = rows.map(_._2); val vecs = rows.map(_._3)
        val m = ids.length
        val nrm = vecs.map { v =>
          var s2 = 0.0; var j = 0
          while (j < v.length) { s2 += v(j) * v(j); j += 1 }
          math.sqrt(s2)
        }
        val adj = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
        var p = 0
        while (p < m) {
          var q = p + 1
          while (q < m) {
            val vp = vecs(p); val vq = vecs(q)
            var d = 0.0; var j = 0
            while (j < vp.length) { d += vp(j) * vq(j); j += 1 }
            if (d / (nrm(p) * nrm(q)) >= tau) { adj(p) += q; adj(q) += p }
            q += 1
          }
          p += 1
        }
        val isCore = adj.map(_.length >= minPts)
        // union-find over the core-core edges; cluster = min core id
        val parent = Array.tabulate(m)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        var i = 0
        while (i < m) {
          if (isCore(i)) adj(i).foreach { j =>
            if (isCore(j)) parent(find(i)) = find(j)
          }
          i += 1
        }
        val minId = scala.collection.mutable.Map.empty[Int, Long]
        i = 0
        while (i < m) {
          if (isCore(i)) {
            val r = find(i)
            minId.get(r) match {
              case Some(cur) if cur <= ids(i) => ()
              case _ => minId(r) = ids(i)
            }
          }
          i += 1
        }
        (0 until m).iterator.map { x =>
          val cluster =
            if (isCore(x)) minId(find(x))
            else {
              val coreNbrs = adj(x).filter(isCore(_))
              if (coreNbrs.isEmpty) -1L
              else coreNbrs.map(j => minId(find(j))).min
            }
          (ids(x), cellId.toLong, adj(x).length.toLong,
           if (isCore(x)) 1 else 0, cluster)
        }
      }
    out.toDF("vec_id", "cell", "n_neighbors", "is_core", "cluster")
  }

  /** The D9/D23 shared cell-assignment CTE chain (16 "sem|" unit-norm
    * centroids → per-vector argmax cell) — ONE text so the two oracles
    * cannot drift from each other. */
  private val semCellsCteSql: String = {
    val u = (t: String) =>
      graft.functions.TextFunctions.hexPrefix52Sql(s"md5('sem|'||p||'|'||j||'|$t')")
    s"""pz AS (
      |  SELECT p, j,
      |    sqrt(-2*ln((${u("1")} + 1.0)/4503599627370496.0))
      |      * cos(2*pi()*(${u("2")}/4503599627370496.0)) AS z
      |  FROM (SELECT unnest(range(16)) AS p), (SELECT unnest(range(64)) AS j)),
      |cents AS (SELECT p, list(z ORDER BY j) AS cv FROM pz GROUP BY p),
      |cnorm AS (SELECT p,
      |    list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y*y)))) AS cv
      |  FROM cents),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cd AS (SELECT vec_id, p, list_dot_product(cv, v) AS dt FROM e CROSS JOIN cnorm),
      |cellr AS (SELECT vec_id, p,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, p) AS rn
      |  FROM cd),
      |cell AS (SELECT vec_id, p FROM cellr WHERE rn = 1)""".stripMargin
  }

  /** The D9 oracle restricted to vec_id < maxVecId — the F14 stream
    * gate's count-bounded arrival set (same cap on engine and oracle).
    */
  private[operators] def semDedupCappedOracleSql(maxVecId: Long): String =
    semDedupSql.replace("FROM embeddings)",
      s"FROM embeddings WHERE vec_id < $maxVecId)")

  private val semDedupSql: String =
    s"""WITH $semCellsCteSql,
      |prs AS (SELECT cb.vec_id AS vec_id, cb.p AS cell, ca.vec_id AS dup_of,
      |    list_cosine_similarity(ea.v, eb.v) AS sim
      |  FROM cell ca JOIN cell cb ON ca.p = cb.p AND ca.vec_id < cb.vec_id
      |  JOIN e ea ON ea.vec_id = ca.vec_id
      |  JOIN e eb ON eb.vec_id = cb.vec_id
      |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.35),
      |r AS (SELECT vec_id, cell, dup_of, sim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_of) AS rn FROM prs)
      |SELECT vec_id, cell, dup_of,
      |  CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS cosine
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** D11 oracle: 4 unrolled greedy MMR steps (the q_kmeans idiom) —
    * step k scores the unselected candidates against the selected set
    * via the symmetric candidate-pair sims and picks the
    * (score DESC, vec_id) winner.
    */
  private val mmrSql: String = {
    val steps = (2 to 5).map { k =>
      s"""sc$k AS (SELECT c.q_id, c.vec_id, 0.7*c.sim - 0.3*MAX(cc.s) AS score
        |  FROM cand c
        |  JOIN selu${k - 1} s ON s.q_id = c.q_id
        |  JOIN cc ON cc.q_id = c.q_id AND cc.a_id = c.vec_id AND cc.b_id = s.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM selu${k - 1} x
        |                    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
        |  GROUP BY c.q_id, c.vec_id, c.sim),
        |sel$k AS (SELECT q_id, vec_id, score FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM sc$k) WHERE rn = 1),
        |selu$k AS (SELECT * FROM selu${k - 1}
        |  UNION ALL SELECT q_id, vec_id, score, $k AS pick FROM sel$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sims AS (SELECT q_id, e.vec_id, list_cosine_similarity(qv, v) AS sim
      |  FROM q CROSS JOIN e),
      |cand AS (SELECT q_id, vec_id, sim FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
      |  FROM sims) WHERE rn <= 20),
      |cc AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_cosine_similarity(ea.v, eb.v) AS s
      |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
      |sel1 AS (SELECT q_id, vec_id, 0.7*sim AS score FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY 0.7*sim DESC, vec_id) AS rn
      |  FROM cand) WHERE rn = 1),
      |selu1 AS (SELECT q_id, vec_id, score, 1 AS pick FROM sel1),
      |$steps
      |SELECT q_id, CAST(pick AS INT) AS pick, vec_id,
      |  CAST(ROUND(score,4) AS DECIMAL(18,4))::DOUBLE AS mmr_score
      |FROM selu5 ORDER BY q_id, pick""".stripMargin
  }

  /** D15: simplified silhouette (Hruschka et al.'s centroid variant,
    * on SQUARED Euclidean distances) — the clustering-quality audit
    * for any labeled/clustered embedding corpus: per point,
    * a² = d²(point, own centroid), b² = min d²(point, other
    * centroids), s = (b² − a²)/max(a², b²) ∈ [−1, 1]; reported as the
    * per-cluster mean. The full silhouette is an all-pairs O(n²)
    * scan; the centroid form is the one that survives 100 TB — one
    * centroid aggregate + one broadcast of k·dim doubles + one
    * corpus-partition-local pass, no pairwise join anywhere. Float
    * determinism: per-point s is scaled to integer PPM first (the C33
    * rule), so the per-cluster sum is exact and the published mean is
    * a division of engine-identical integers.
    */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cent = e.select(col("label").as("clabel"), posexplode(col("v")))
      .groupBy(col("clabel"), col("pos")).agg(avg(col("col")).as("c"))
      .groupBy(col("clabel"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
      .select(col("clabel"), transform(col("ps"), p => p("c")).as("cv"))
    val d2 = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        aggregate(zip_with(col("v"), col("cv"), (x, y) => (x - y) * (x - y)),
                  lit(0.0), (acc, x) => acc + x).as("d2"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(sum(when(col("clabel") === col("label"), col("d2"))).as("a2"),
           min(when(col("clabel") =!= col("label"), col("d2"))).as("b2"))
    val sil = when(greatest(col("a2"), col("b2")) <= lit(0.0), lit(0.0))
      .otherwise((col("b2") - col("a2")) / greatest(col("a2"), col("b2")))
    ab.select(col("label"), round(sil * lit(1000000.0), 0).cast("long").as("s_ppm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("s_ppm")).as("ppm"))
      .select(col("label"), col("n"),
              dec4(col("ppm").cast("double") / col("n") / lit(1000000.0)).as("mean_sil"))
  }

  val oracles: Map[String, String] = Map(
    "q_kmeans" -> kmeansSql,
    "q_semdedup" -> semDedupSql,
    "q_dbscan" ->
      s"""WITH RECURSIVE ${semCellsCteSql.replace("FROM embeddings)",
             s"FROM embeddings WHERE vec_id < $DbscanSliceMaxVec)")},
        |prs AS (SELECT ca.vec_id AS a, cb.vec_id AS b
        |  FROM cell ca JOIN cell cb ON ca.p = cb.p AND ca.vec_id < cb.vec_id
        |  JOIN e ea ON ea.vec_id = ca.vec_id
        |  JOIN e eb ON eb.vec_id = cb.vec_id
        |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.3),
        |nbr AS (SELECT a AS v, b AS w FROM prs
        |  UNION ALL SELECT b, a FROM prs),
        |cnt AS (SELECT c.vec_id, c.p AS cell, COALESCE(n.nn, 0) AS n_nbr
        |  FROM cell c LEFT JOIN
        |    (SELECT v, COUNT(*) AS nn FROM nbr GROUP BY v) n
        |    ON n.v = c.vec_id),
        |core AS (SELECT vec_id FROM cnt WHERE n_nbr >= 3),
        |ce AS (SELECT v, w FROM nbr
        |  WHERE v IN (SELECT vec_id FROM core)
        |    AND w IN (SELECT vec_id FROM core)),
        |reach(v, r) AS (
        |  SELECT vec_id, vec_id FROM core
        |  UNION
        |  SELECT ce.w, reach.r FROM reach JOIN ce ON ce.v = reach.v),
        |clu AS (SELECT v AS vec_id, MIN(r) AS cl FROM reach GROUP BY v),
        |border AS (SELECT n.v AS vec_id, MIN(c.cl) AS cl
        |  FROM nbr n JOIN clu c ON c.vec_id = n.w
        |  WHERE n.v NOT IN (SELECT vec_id FROM core)
        |  GROUP BY n.v)
        |SELECT cnt.vec_id, CAST(cnt.cell AS BIGINT) AS cell,
        |  CAST(cnt.n_nbr AS BIGINT) AS n_neighbors,
        |  CAST(CASE WHEN cr.vec_id IS NOT NULL THEN 1 ELSE 0 END
        |    AS INTEGER) AS is_core,
        |  CAST(COALESCE(cu.cl, bo.cl, -1) AS BIGINT) AS cluster
        |FROM cnt
        |LEFT JOIN core cr ON cr.vec_id = cnt.vec_id
        |LEFT JOIN clu cu ON cu.vec_id = cnt.vec_id
        |LEFT JOIN border bo ON bo.vec_id = cnt.vec_id
        |ORDER BY cnt.vec_id""".stripMargin,
    "q_silhouette" ->
      """WITH ct AS (SELECT label AS clabel, i, AVG(embedding[i]) AS c
        |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) GROUP BY 1,2),
        |d AS (SELECT e.vec_id, e.label, ct.clabel,
        |    SUM((embedding[i]-c)*(embedding[i]-c)) AS d2
        |  FROM embeddings e CROSS JOIN ct GROUP BY 1,2,3),
        |ab AS (SELECT vec_id, label,
        |    SUM(CASE WHEN clabel = label THEN d2 END) AS a2,
        |    MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
        |  FROM d GROUP BY 1,2),
        |sp AS (SELECT label,
        |    CAST(ROUND(CASE WHEN GREATEST(a2, b2) <= 0 THEN 0
        |      ELSE (b2 - a2) / GREATEST(a2, b2) END * 1000000, 0) AS BIGINT) AS s_ppm
        |  FROM ab)
        |SELECT label, COUNT(*) AS n,
        |  CAST(ROUND(CAST(SUM(s_ppm) AS DOUBLE) / COUNT(*) / 1000000, 4)
        |    AS DECIMAL(18,4))::DOUBLE AS mean_sil
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ann_pq" -> annPqSql,
    "q_ann_pq_trained" -> annPqTrainedSql,
    "q_ann_sq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |st AS (SELECT d, MIN(v[d + 1]) AS mn, MAX(v[d + 1]) AS mx
        |  FROM e, (SELECT unnest(range(64)) AS d) GROUP BY 1),
        |cd AS (SELECT e.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE LEAST(255, GREATEST(0,
        |           CAST(FLOOR(((v[s.d + 1] - s.mn) * 255.0) / (s.mx - s.mn)) AS BIGINT)))
        |    END AS c
        |  FROM e, st s),
        |pc AS (SELECT vec_id AS q_id, d, c FROM cd
        |  WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |sc AS (SELECT p.q_id, c.vec_id, SUM(c.c * p.c) AS score
        |  FROM cd c JOIN pc p USING (d) GROUP BY 1, 2),
        |t50 AS (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM sc),
        |rr AS (SELECT t.q_id, t.vec_id,
        |    list_cosine_similarity(q.v, e2.v) AS sim
        |  FROM t50 t JOIN e q ON q.vec_id = t.q_id JOIN e e2 ON e2.vec_id = t.vec_id
        |  WHERE t.rn <= GREATEST(50, 50 * (SELECT COUNT(*) FROM embeddings) // 2000)),
        |rk AS (SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM rr)
        |SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank,
        |  CAST(ROUND(sim, 4) AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_nn_dist_hist" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 2048),
        |sims AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id)
        |      AS rank
        |  FROM sims),
        |nn1 AS (SELECT vec_id,
        |    CAST(ROUND(sim, 4) AS DECIMAL(18,4))::DOUBLE AS sim
        |  FROM r WHERE rank = 1),
        |tot AS (SELECT COUNT(*) AS n FROM nn1)
        |SELECT CAST(FLOOR(sim * 20.0) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST((COUNT(*) * 1000000) // MAX(tot.n) AS BIGINT) AS share_ppm
        |FROM nn1 CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dim_energy" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT d, CAST(FLOOR(v[d + 1] * 1000000.0) AS HUGEINT) AS q
        |  FROM e, (SELECT unnest(range(64)) AS d)),
        |pd AS (SELECT d, COUNT(*) AS n, SUM(q) AS sv, SUM(q * q) AS ss
        |  FROM comp GROUP BY 1),
        |w AS (SELECT d, n, sv, ss,
        |    SUM(ss) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    SUM(ss) OVER () AS tot
        |  FROM pd)
        |SELECT CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN sv >= 0 THEN abs(sv) // n
        |    ELSE -(abs(sv) // n) END AS BIGINT) AS mean_e6,
        |  CAST(ss AS BIGINT) AS energy_e12,
        |  CAST((cum * 1000) // tot AS BIGINT) AS cum_energy_permille
        |FROM w ORDER BY d""".stripMargin,
    "q_embed_drift" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT (vec_id % 2 = 0) AS ev, d,
        |    CAST(FLOOR(v[d + 1] * 1000000.0) AS HUGEINT) AS q
        |  FROM e, (SELECT unnest(range(64)) AS d)),
        |pd AS (SELECT d,
        |    SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS n0,
        |    SUM(CASE WHEN ev THEN q ELSE 0 END) AS s0,
        |    SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN NOT ev THEN q ELSE 0 END) AS s1
        |  FROM comp GROUP BY 1),
        |m AS (SELECT d, n0, n1,
        |    CASE WHEN s0 >= 0 THEN abs(s0) // n0
        |      ELSE -(abs(s0) // n0) END AS m0,
        |    CASE WHEN s1 >= 0 THEN abs(s1) // n1
        |      ELSE -(abs(s1) // n1) END AS m1
        |  FROM pd),
        |dr AS (SELECT d, n0, n1, abs(m1 - m0) AS drift FROM m)
        |SELECT CAST(MAX(n0) AS BIGINT) AS n_even,
        |  CAST(MAX(n1) AS BIGINT) AS n_odd,
        |  CAST(SUM(drift) AS BIGINT) AS l1_drift_e6,
        |  CAST(SUM(drift*drift) AS BIGINT) AS l2sq_drift,
        |  CAST(arg_max(d, drift * 64 + (63 - d)) AS BIGINT) AS max_dim,
        |  CAST(MAX(drift) AS BIGINT) AS max_drift_e6
        |FROM dr""".stripMargin,
    "q_ann_binary" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cd AS (SELECT vec_id,
        |    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
        |      AS code
        |  FROM (SELECT vec_id,
        |      COALESCE(SUM(CASE WHEN v[d + 1] > 0
        |        THEN (1::HUGEINT << d) ELSE 0::HUGEINT END), 0) AS s
        |    FROM e, (SELECT unnest(range(64)) AS d) GROUP BY 1)),
        |pc AS (SELECT vec_id AS q_id, code FROM cd
        |  WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |hm AS (SELECT p.q_id, c.vec_id, bit_count(xor(c.code, p.code)) AS h
        |  FROM cd c CROSS JOIN pc p),
        |t50 AS (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY h, vec_id) AS rn
        |  FROM hm),
        |rr AS (SELECT t.q_id, t.vec_id,
        |    list_cosine_similarity(q.v, e2.v) AS sim
        |  FROM t50 t JOIN e q ON q.vec_id = t.q_id JOIN e e2 ON e2.vec_id = t.vec_id
        |  WHERE t.rn <= GREATEST(50, 50 * (SELECT COUNT(*) FROM embeddings) // 2000)),
        |rk AS (SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM rr)
        |SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank,
        |  CAST(ROUND(sim, 4) AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_ivf_balance" ->
      s"""WITH $ivfCellCteSql,
        |cc AS (SELECT p AS cell, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM cell GROUP BY 1)
        |SELECT CAST(16 AS BIGINT) AS n_cells,
        |  CAST(COUNT(*) AS BIGINT) AS n_used,
        |  CAST(16 - COUNT(*) AS BIGINT) AS n_empty,
        |  CAST(SUM(c) AS BIGINT) AS n_vectors,
        |  CAST(MIN(c) AS BIGINT) AS min_cell,
        |  CAST(MAX(c) AS BIGINT) AS max_cell,
        |  CAST((MAX(c) * 16 * 1000000) // SUM(c) AS BIGINT) AS skew_e6
        |FROM cc""".stripMargin,
    "q_binary_budget" -> {
      val arms = Seq(10, 25, 50).map { nc =>
        s"""rr$nc AS (SELECT t.q_id, t.vec_id,
          |    list_cosine_similarity(q.v, e2.v) AS sim
          |  FROM tr t JOIN e q ON q.vec_id = t.q_id
          |  JOIN e e2 ON e2.vec_id = t.vec_id WHERE t.rn <= $nc),
          |tk$nc AS (SELECT q_id, vec_id FROM (SELECT *,
          |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
          |      AS rank FROM rr$nc) WHERE rank <= 10),
          |h$nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
          |  FROM tk$nc JOIN ex USING (q_id, vec_id))""".stripMargin
      }.mkString(",\n")
      val sel = Seq(10, 25, 50).map { nc =>
        s"""SELECT CAST($nc AS BIGINT) AS n_cand, hits AS n_hits,
          |  n_exact, CAST((hits * 1000000) // n_exact AS BIGINT)
          |    AS recall_ppm
          |FROM h$nc CROSS JOIN tot""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cd AS (SELECT vec_id,
        |    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
        |      AS code
        |  FROM (SELECT vec_id,
        |      COALESCE(SUM(CASE WHEN v[d + 1] > 0
        |        THEN (1::HUGEINT << d) ELSE 0::HUGEINT END), 0) AS s
        |    FROM e, (SELECT unnest(range(64)) AS d) GROUP BY 1)),
        |pc AS (SELECT vec_id AS q_id, code FROM cd
        |  WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |hm AS (SELECT p.q_id, c.vec_id, bit_count(xor(c.code, p.code)) AS h
        |  FROM cd c CROSS JOIN pc p),
        |tr AS (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY h, vec_id) AS rn
        |  FROM hm),
        |exs AS (SELECT p.q_id, e2.vec_id,
        |    list_cosine_similarity(q.v, e2.v) AS sim
        |  FROM pc p JOIN e q ON q.vec_id = p.q_id CROSS JOIN e e2),
        |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
        |      AS rank FROM exs) WHERE rank <= 10),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
        |$arms
        |$sel
        |ORDER BY n_cand""".stripMargin
    },
    "q_ivf_probe_sweep" -> {
      val arms = Seq(1, 2, 4).map { np =>
        s"""pr$np AS (SELECT vec_id, p FROM cellr
          |  WHERE rn <= $np AND vec_id % 50 = 0 AND vec_id < 5000),
          |cand$np AS (SELECT DISTINCT pr.vec_id AS q_id, c.vec_id
          |  FROM pr$np pr JOIN cell c ON pr.p = c.p),
          |sims$np AS (SELECT q_id, cand$np.vec_id,
          |    list_cosine_similarity(qe.v, ce.v) AS sim
          |  FROM cand$np JOIN e qe ON qe.vec_id = cand$np.q_id
          |  JOIN e ce ON ce.vec_id = cand$np.vec_id),
          |tk$np AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
          |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
          |      AS rank FROM sims$np) WHERE rank <= 10),
          |h$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
          |  FROM tk$np JOIN ex USING (q_id, vec_id))""".stripMargin
      }.mkString(",\n")
      val sel = Seq(1, 2, 4).map { np =>
        s"""SELECT CAST($np AS BIGINT) AS n_probe, hits AS n_hits,
          |  n_exact, CAST((hits * 1000000) // n_exact AS BIGINT)
          |    AS recall_ppm
          |FROM h$np CROSS JOIN tot""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ivfCellCteSql,
        |exs AS (SELECT p.q_id, e2.vec_id,
        |    list_cosine_similarity(q.v, e2.v) AS sim
        |  FROM (SELECT vec_id AS q_id FROM e
        |    WHERE vec_id % 50 = 0 AND vec_id < 5000) p
        |  JOIN e q ON q.vec_id = p.q_id CROSS JOIN e e2),
        |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
        |      AS rank FROM exs) WHERE rank <= 10),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
        |$arms
        |$sel
        |ORDER BY n_probe""".stripMargin
    },
    "q_ann_recall_hnsw" ->
      "SELECT 'hnsw' AS method, 1 AS recall_ok",
    "q_ann_recall_ivf" -> annRecallRowSql("ivf", 0.25, annIvfSql),
    "q_ann_recall_lsh" -> annRecallRowSql("lsh", 0.60, annLshSql(probe1 = false)),
    "q_ann_recall_multiprobe" ->
      annRecallRowSql("multiprobe", 0.90, annLshSql(probe1 = true)),
    "q_ann_recall_pq" -> annRecallRowSql("pq", 0.04, annPqSql),
    "q_ann_recall_pq_trained" ->
      annRecallRowSql("pq_trained", 0.20, annPqTrainedSql),
    "q_ann_hnsw" ->
      """SELECT 1 AS recall_ok, 1 AS covers_corpus, 1 AS degree0_ok,
        |  1 AS degree_upper_ok, 1 AS visited_bounded""".stripMargin,
    "q_ann_lsh" -> annLshSql(probe1 = false),
    "q_ann_multiprobe" -> annLshSql(probe1 = true),
    "q_ann_join" ->
      s"""WITH $ivfCellCteSql,
        |cell2 AS (SELECT vec_id, p FROM cellr WHERE rn <= 5 AND vec_id < 2048),
        |cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS nb_id
        |  FROM cell2 a JOIN cell2 b ON a.p = b.p AND a.vec_id <> b.vec_id),
        |sims AS (SELECT q_id, nb_id,
        |    list_cosine_similarity(qe.v, ce.v) AS sim
        |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
        |  JOIN e ce ON ce.vec_id = cand.nb_id),
        |r AS (SELECT q_id, nb_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sims),
        |ann AS (SELECT q_id, nb_id, sim, rank FROM r WHERE rank <= 3),
        |es AS (SELECT vec_id, v FROM e WHERE vec_id < 2048),
        |sx AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM es a JOIN es b ON a.vec_id <> b.vec_id),
        |rx AS (SELECT vec_id, nb_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sx),
        |exact AS (SELECT vec_id, nb_id FROM rx WHERE rank <= 3)
        |SELECT ann.q_id AS vec_id, CAST(ann.rank AS BIGINT) AS rank, ann.nb_id,
        |  CAST(ROUND(ann.sim,4) AS DECIMAL(18,4))::DOUBLE AS sim,
        |  CAST(CASE WHEN x.nb_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
        |FROM ann LEFT JOIN exact x
        |  ON ann.q_id = x.vec_id AND ann.nb_id = x.nb_id
        |ORDER BY vec_id, rank""".stripMargin,
    "q_ann_join_trained" ->
      s"""WITH $ivfCellCteSql,
        |dims AS (SELECT unnest(range(1,65)) AS i),
        |tm AS (SELECT c.p, d.i,
        |    CAST(ROUND(AVG(v[d.i]),6) AS DECIMAL(18,6))::DOUBLE AS c
        |  FROM cell c JOIN e USING (vec_id), dims d GROUP BY 1,2),
        |tl AS (SELECT p, list(c ORDER BY i) AS cv FROM tm GROUP BY p),
        |tn AS (SELECT p,
        |    list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y*y)))) AS cv
        |  FROM tl),
        |allc AS (SELECT cn.p, COALESCE(tn.cv, cn.cv) AS cv
        |  FROM cnorm cn LEFT JOIN tn ON cn.p = tn.p),
        |cd2 AS (SELECT vec_id, p, list_dot_product(cv, v) AS dt
        |  FROM e CROSS JOIN allc),
        |cr2 AS (SELECT vec_id, p,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, p) AS rn
        |  FROM cd2),
        |c2 AS (SELECT vec_id, p FROM cr2 WHERE rn <= 4 AND vec_id < 2048),
        |cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS nb_id
        |  FROM c2 a JOIN c2 b ON a.p = b.p AND a.vec_id <> b.vec_id),
        |sims AS (SELECT q_id, nb_id,
        |    list_cosine_similarity(qe.v, ce.v) AS sim
        |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
        |  JOIN e ce ON ce.vec_id = cand.nb_id),
        |r AS (SELECT q_id, nb_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sims),
        |ann AS (SELECT q_id, nb_id, sim, rank FROM r WHERE rank <= 3),
        |es AS (SELECT vec_id, v FROM e WHERE vec_id < 2048),
        |sx AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM es a JOIN es b ON a.vec_id <> b.vec_id),
        |rx AS (SELECT vec_id, nb_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sx),
        |exact AS (SELECT vec_id, nb_id FROM rx WHERE rank <= 3)
        |SELECT ann.q_id AS vec_id, CAST(ann.rank AS BIGINT) AS rank, ann.nb_id,
        |  CAST(ROUND(ann.sim,4) AS DECIMAL(18,4))::DOUBLE AS sim,
        |  CAST(CASE WHEN x.nb_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
        |FROM ann LEFT JOIN exact x
        |  ON ann.q_id = x.vec_id AND ann.nb_id = x.nb_id
        |ORDER BY vec_id, rank""".stripMargin,
    "q_ann_join_sweep" ->
      s"""WITH $ivfCellCteSql,
        |dims AS (SELECT unnest(range(1,65)) AS i),
        |tm AS (SELECT c.p, d.i,
        |    CAST(ROUND(AVG(v[d.i]),6) AS DECIMAL(18,6))::DOUBLE AS c
        |  FROM cell c JOIN e USING (vec_id), dims d GROUP BY 1,2),
        |tl AS (SELECT p, list(c ORDER BY i) AS cv FROM tm GROUP BY p),
        |tn AS (SELECT p,
        |    list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y*y)))) AS cv
        |  FROM tl),
        |allc AS (SELECT cn.p, COALESCE(tn.cv, cn.cv) AS cv
        |  FROM cnorm cn LEFT JOIN tn ON cn.p = tn.p),
        |cd2 AS (SELECT vec_id, p, list_dot_product(cv, v) AS dt
        |  FROM e CROSS JOIN allc),
        |cr2 AS (SELECT vec_id, p,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dt DESC, p) AS rn
        |  FROM cd2),
        |ranks AS (
        |  SELECT 'random' AS quantizer, vec_id, p, rn FROM cellr WHERE vec_id < 1024
        |  UNION ALL
        |  SELECT 'trained' AS quantizer, vec_id, p, rn FROM cr2 WHERE vec_id < 1024),
        |ms AS (SELECT unnest([2,3,4,5]) AS m),
        |cellm AS (SELECT quantizer, m, vec_id, p
        |  FROM ranks CROSS JOIN ms WHERE rn <= m),
        |cost AS (SELECT quantizer, m,
        |    CAST(SUM(c*(c-1)//2) AS BIGINT) AS n_cand_pairs
        |  FROM (SELECT quantizer, m, p, COUNT(*) AS c
        |    FROM cellm GROUP BY 1,2,3) GROUP BY 1,2),
        |cand AS (SELECT DISTINCT a.quantizer, a.m, a.vec_id AS q_id, b.vec_id AS nb_id
        |  FROM cellm a JOIN cellm b
        |    ON a.quantizer = b.quantizer AND a.m = b.m AND a.p = b.p
        |   AND a.vec_id <> b.vec_id),
        |sims AS (SELECT quantizer, m, q_id, nb_id,
        |    list_cosine_similarity(qe.v, ce.v) AS sim
        |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
        |  JOIN e ce ON ce.vec_id = cand.nb_id),
        |r AS (SELECT quantizer, m, q_id, nb_id,
        |    ROW_NUMBER() OVER (PARTITION BY quantizer, m, q_id
        |      ORDER BY sim DESC, nb_id) AS rank
        |  FROM sims),
        |ann AS (SELECT quantizer, m, q_id, nb_id FROM r WHERE rank <= 3),
        |es AS (SELECT vec_id, v FROM e WHERE vec_id < 1024),
        |sx AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM es a JOIN es b ON a.vec_id <> b.vec_id),
        |rx AS (SELECT vec_id, nb_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sx),
        |exact AS (SELECT vec_id, nb_id FROM rx WHERE rank <= 3),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
        |hits AS (SELECT quantizer, m, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM ann JOIN exact x ON ann.q_id = x.vec_id AND ann.nb_id = x.nb_id
        |  GROUP BY 1,2)
        |SELECT c.quantizer, CAST(c.m AS BIGINT) AS assign_width, c.n_cand_pairs,
        |  COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
        |  CAST((COALESCE(h.n_hits, 0) * 1000000) // t.n_exact AS BIGINT) AS recall_ppm
        |FROM cost c LEFT JOIN hits h ON c.quantizer = h.quantizer AND c.m = h.m, tot t
        |ORDER BY c.quantizer, assign_width""".stripMargin,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_ivf_multi" -> annIvfMultiSql,
    "q_ann_ivfpq" -> annIvfPqSql,
    "q_mmr" -> mmrSql,
    "q_mutual_nn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 2048),
        |sims AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, nb_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sims),
        |g AS (SELECT vec_id, nb_id, sim, rank FROM r WHERE rank <= 3)
        |SELECT a.vec_id AS a_id, a.nb_id AS b_id,
        |  CAST(a.rank AS BIGINT) AS rank_ab, CAST(b.rank AS BIGINT) AS rank_ba,
        |  CAST(ROUND(a.sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM g a JOIN g b ON a.vec_id = b.nb_id AND a.nb_id = b.vec_id
        |WHERE a.vec_id < a.nb_id ORDER BY a_id, b_id""".stripMargin,
    "q_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 2048),
        |sims AS (SELECT a.vec_id, b.vec_id AS nb_id,
        |    list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT vec_id, nb_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
        |  FROM sims)
        |SELECT vec_id, CAST(rank AS BIGINT) AS rank, nb_id,
        |  CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    "q_cluster_sample" ->
      s"""WITH $ivfCellCteSql,
        |cnt AS (SELECT p, COUNT(*) AS n_cell FROM cell GROUP BY 1)
        |SELECT c.vec_id, CAST(c.p AS BIGINT) AS cell
        |FROM cell c JOIN cnt ON c.p = cnt.p
        |WHERE CAST(${graft.functions.TextFunctions.hexPrefix52Sql("md5('cs|' || c.vec_id)")} AS BIGINT) % n_cell < 40
        |ORDER BY c.vec_id""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |sims AS (SELECT q_id, e.vec_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN embeddings e),
        |r AS (SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM sims)
        |SELECT q_id, vec_id, rank, CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim
        |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label,
        |    CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |f AS (SELECT q_id, q_label, e.vec_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings e ON CAST(e.label AS BIGINT) = q_label),
        |fr AS (SELECT q_id, q_label, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id) AS rank
        |  FROM f),
        |u AS (SELECT q_id, e.vec_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN embeddings e),
        |ut AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id) AS r FROM u)
        |  WHERE r <= 10),
        |nl AS (SELECT CAST(label AS BIGINT) AS q_label,
        |    CAST(COUNT(*) AS BIGINT) AS n_label
        |  FROM embeddings GROUP BY 1)
        |SELECT fr.q_id, fr.q_label, CAST(rank AS BIGINT) AS rank,
        |  fr.vec_id,
        |  CAST(ROUND(sim,4) AS DECIMAL(18,4))::DOUBLE AS sim,
        |  CAST(CASE WHEN ut.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS in_unfiltered,
        |  nl.n_label
        |FROM fr LEFT JOIN ut ON fr.q_id = ut.q_id AND fr.vec_id = ut.vec_id
        |JOIN nl USING (q_label)
        |WHERE rank <= 10 ORDER BY fr.q_id, rank""".stripMargin,
    "q_rrf_fusion" ->
      s"""WITH lex0 AS (${graft.operators.TextOps.bm25OracleSql}),
        |lexr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        |  FROM lex0 QUALIFY rank_lex <= 50),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |sims AS (SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |semr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank_sem
        |  FROM sims QUALIFY rank_sem <= 50),
        |f AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, rank_lex, rank_sem,
        |    COALESCE(1000000000 // (60 + rank_lex), 0)
        |      + COALESCE(1000000000 // (60 + rank_sem), 0) AS rrf_ppb
        |  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(rank_lex AS BIGINT) AS rank_lex,
        |  CAST(rank_sem AS BIGINT) AS rank_sem,
        |  CAST(rrf_ppb AS BIGINT) AS rrf_ppb
        |FROM f ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin,
    "q_matryoshka" -> {
      def block(d: Int): String =
        s"""s$d AS (SELECT q_id, e.vec_id,
           |    list_cosine_similarity(qv[1:$d],
           |      CAST(e.embedding AS DOUBLE[])[1:$d]) AS sim
           |  FROM q CROSS JOIN embeddings e),
           |r$d AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY sim DESC, vec_id) AS rank FROM s$d)
           |  WHERE rank <= 10),
           |h$d AS (SELECT CAST($d AS BIGINT) AS dims,
           |    CAST(COUNT(*) AS BIGINT) AS hits
           |  FROM r$d SEMI JOIN rf USING (q_id, vec_id))""".stripMargin
      val blocks = Seq(8, 16, 32).map(block).mkString(",\n")
      val union = Seq(8, 16, 32)
        .map(d => s"SELECT dims, hits FROM h$d").mkString("\nUNION ALL ")
      s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |sf AS (SELECT q_id, e.vec_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q CROSS JOIN embeddings e),
        |rf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id) AS rank FROM sf)
        |  WHERE rank <= 10),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM rf),
        |$blocks
        |SELECT dims, hits, n_exact,
        |  CAST((hits * 1000000) // n_exact AS BIGINT) AS recall_ppm
        |FROM ($union) CROSS JOIN tt ORDER BY dims""".stripMargin
    },
    "q_kcenter" -> {
      def dSql(src: String, cent: String): String =
        s"""SELECT m.vec_id,
           |    SUM(CAST(ROUND((m.v[CAST(ix AS INT)] - $cent.cv[CAST(ix AS INT)]) *
           |      (m.v[CAST(ix AS INT)] - $cent.cv[CAST(ix AS INT)]) * 1000000)
           |      AS BIGINT)) AS d
           |  FROM $src m CROSS JOIN $cent, (SELECT unnest(range(1, 65)) AS ix)
           |  GROUP BY 1""".stripMargin
      def roundCte(i: Int): String = {
        val prev = s"m${i - 1}"
        s"""p$i AS (SELECT vec_id, md FROM $prev ORDER BY md DESC, vec_id LIMIT 1),
           |c$i AS (SELECT e.v AS cv FROM e JOIN p$i USING (vec_id)),
           |d$i AS (${dSql(prev, s"c$i")}),
           |m$i AS (SELECT m.vec_id, m.v, LEAST(m.md, d$i.d) AS md
           |  FROM $prev m JOIN d$i USING (vec_id))""".stripMargin
      }
      val rounds = (2 to 5).map(roundCte).mkString(",\n")
      val pickUnion = (2 to 5)
        .map(i => s"SELECT vec_id, $i AS pick_round, md FROM p$i")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |c1 AS (SELECT v AS cv FROM e WHERE vec_id = 0),
        |d1 AS (${dSql("e", "c1")}),
        |m1 AS (SELECT e.vec_id, e.v, d1.d AS md FROM e JOIN d1 USING (vec_id)),
        |$rounds,
        |picks AS (SELECT CAST(0 AS BIGINT) AS vec_id, 1 AS pick_round,
        |    CAST(0 AS BIGINT) AS md
        |  UNION ALL $pickUnion),
        |r AS (SELECT MAX(md) AS radius FROM m5)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(pick_round AS BIGINT) AS pick_round,
        |  CAST(md AS BIGINT) AS md_e6_at_pick,
        |  CAST(radius AS BIGINT) AS radius_e6
        |FROM picks CROSS JOIN r ORDER BY pick_round""".stripMargin
    },
    "q_rocchio" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |sims AS (SELECT e.vec_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |bef AS (SELECT vec_id,
        |    ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rank_before
        |  FROM sims QUALIFY rank_before <= 10),
        |fb AS (SELECT i, CAST(SUM(ROUND(e.embedding[i] * 1e9)) AS HUGEINT) AS c
        |  FROM embeddings e JOIN bef USING (vec_id),
        |    (SELECT unnest(range(1, 65)) AS i)
        |  GROUP BY 1),
        |qe AS (SELECT fb.i,
        |    CAST(ROUND(qv[fb.i] * 1e9) AS HUGEINT) +
        |    (CASE WHEN 3*c >= 0 THEN (3*c) // 40
        |          ELSE -((-(3*c)) // 40) END) AS qp_e9
        |  FROM fb CROSS JOIN q),
        |qp AS (SELECT list(CAST(qp_e9 AS DOUBLE) / 1e9 ORDER BY i) AS qpl FROM qe),
        |sims2 AS (SELECT e.vec_id,
        |    list_cosine_similarity(qpl, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN qp),
        |aft AS (SELECT vec_id, sim,
        |    ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rank_after
        |  FROM sims2 QUALIFY rank_after <= 10)
        |SELECT aft.vec_id, CAST(rank_after AS BIGINT) AS rank_after,
        |  CAST(rank_before AS BIGINT) AS rank_before,
        |  CAST(ROUND(aft.sim, 4) AS DECIMAL(18,4))::DOUBLE AS sim_after
        |FROM aft LEFT JOIN bef ON aft.vec_id = bef.vec_id
        |ORDER BY rank_after""".stripMargin,
    "q_rank_overlap" -> {
      val valuesList = rboWeights.map { case (d, w) => s"($d, $w)" }.mkString(", ")
      s"""WITH lex0 AS (${graft.operators.TextOps.bm25OracleSql}),
        |lexr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        |  FROM lex0 QUALIFY rank_lex <= 50),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |sims AS (SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |semr AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank_sem
        |  FROM sims QUALIFY rank_sem <= 50),
        |b AS (SELECT GREATEST(rank_lex, rank_sem) AS dmin
        |  FROM lexr JOIN semr USING (doc_id)),
        |wt(d, w) AS (SELECT * FROM (VALUES $valuesList)),
        |t AS (SELECT d, w, CAST(COUNT(*) AS HUGEINT) AS x_d
        |  FROM wt JOIN b ON b.dmin <= wt.d GROUP BY 1, 2),
        |f AS (SELECT (w * x_d) // d AS contrib, x_d, d FROM t)
        |SELECT CAST(COALESCE(MAX(CASE WHEN d = 50 THEN x_d END), 0) AS BIGINT) AS n_both,
        |  CAST(COALESCE(SUM(contrib), 0) AS BIGINT) AS rbo_e12
        |FROM f""".stripMargin
    },
    "q_embed_decontam" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 97 <> 0),
        |ev AS (SELECT CAST(embedding AS DOUBLE[]) AS ev
        |  FROM embeddings WHERE vec_id % 97 = 0),
        |m AS (SELECT vec_id,
        |    CAST(ROUND(MAX(list_cosine_similarity(v, ev)),4)
        |      AS DECIMAL(18,4))::DOUBLE AS max_eval_sim
        |  FROM c CROSS JOIN ev GROUP BY 1)
        |SELECT vec_id, max_eval_sim,
        |  CASE WHEN max_eval_sim >= 0.4 THEN 1 ELSE 0 END AS contaminated
        |FROM m ORDER BY vec_id""".stripMargin,
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2048)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])),4) AS DECIMAL(18,4))::DOUBLE AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY 1,2""".stripMargin,
    "q_centroid_cls" ->
      """WITH ct AS (SELECT label, i, AVG(embedding[i]) AS c
        |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) GROUP BY 1,2),
        |d AS (SELECT e.vec_id, ct.label AS clabel,
        |    SUM((embedding[i]-c)*(embedding[i]-c)) AS d2
        |  FROM embeddings e CROSS JOIN ct GROUP BY 1,2),
        |r AS (SELECT vec_id, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM d)
        |SELECT vec_id, clabel AS prediction FROM r WHERE rn=1 ORDER BY vec_id""".stripMargin
  )
}
