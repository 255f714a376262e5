package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables._

/** Spatial operators (SURVEY.md §2 B81): distance joins over point
  * data by GRID BLOCKING — the partitioned-spatial-join shape (cell =
  * radius-sized tile; candidates only inside the 3×3 neighborhood, so
  * per-task work is bounded by local point density and the shuffle is
  * O(9·n) cell-keyed rows, never the O(n²) cross join a naive distance
  * predicate plans). Coordinates are exact integer micro-units
  * synthesized deterministically from event ids (the C19/C20 fixture
  * convention), distances exact integer squares — no floats anywhere.
  */
object Spatial {

  private val R = 500L // radius in integer units; also the cell size

  /** World side for the point cloud: the AREA scales linearly with the
    * event count (side ∝ √n, anchored so sf0.1's 100k events keep the
    * original 100k × 100k world) — CONSTANT point density at every
    * scale factor, so the radius join's true pair count, and with it
    * the fixture's cost, grows ~linearly with the corpus instead of
    * quadratically (the r10 sf1 run measured 49.8× on the fixed-size
    * world — a fixture artifact: 10× the points in the same area is
    * 100× the true pairs, which no plan can avoid emitting). One
    * count(*) pass; both engines derive the side from the SAME integer
    * count with the same double op sequence (IEEE sqrt is correctly
    * rounded, so the floor is bit-identical).
    */
  private def worldSide(s: SparkSession, dir: String): Long = {
    val n = events(s, dir).count()
    math.floor(math.sqrt(n / 100000.0) * 100000.0).toLong
  }

  /** Deterministic point cloud: (event_id, x, y) on a side × side
    * integer grid ([[worldSide]]), positions md5-derived so both
    * engines rebuild the identical cloud at any scale factor.
    */
  private def points(s: SparkSession, dir: String): DataFrame = {
    val side = worldSide(s, dir)
    events(s, dir).select(
      col("event_id"),
      (TF.hexPrefix52(concat(lit("px|"), col("event_id").cast("string"))) % side).as("x"),
      (TF.hexPrefix52(concat(lit("py|"), col("event_id").cast("string"))) % side).as("y"))
  }

  /** B81: radius self-join (all pairs within distance R) via grid
    * blocking. Build side keyed by its own cell; probe side replicated
    * to the 3×3 neighborhood (constant 9× fan-out — each pair meets in
    * EXACTLY one (build-cell, probe-offset) combination, and the
    * id-order filter keeps one orientation, so no dedup pass is
    * needed). Equi-join on the cell key → a plain shuffled hash join
    * on a composite integer key; the residual exact-distance filter
    * runs codegen'd inside the join. Output: the 20 closest pairs
    * (deterministic by (d², id, id)) + the global pair count on a
    * 1-row broadcast crossed back. The pairs subtree is PINNED
    * ([[Materialize.pin]]) before fan-out to count + top-20 — without
    * it both consumers re-run the scan+9×-explode+shuffle, the
    * dominant cost at scale; with it the join runs once and the two
    * readers scan the materialized (id_a, id_b, d2) projection only.
    */
  def qSpatialJoin(s: SparkSession, dir: String): DataFrame = {
    // pinned (r15, guide §2.4): the md5-derived point cloud feeds both
    // join sides — unpinned, the 2×md5-per-point derivation ran twice
    // (plus once more in worldSide's count)
    val p = graft.core.Materialize.pin(points(s, dir)
      .withColumn("cx", expr(s"x div $R"))
      .withColumn("cy", expr(s"y div $R")))
    val build = p.select(col("event_id").as("id_a"), col("x").as("xa"),
                         col("y").as("ya"), col("cx"), col("cy"))
    val probe = p
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("event_id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
              (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val pairs = Materialize.pin(
      build.join(probe, Seq("cx", "cy"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("d2", (col("xa") - col("xb")) * (col("xa") - col("xb")) +
                          (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .filter(col("d2") <= R * R)
        .select(col("id_a"), col("id_b"), col("d2")))
    val total = broadcast(pairs.agg(count(lit(1)).as("n_pairs")))
    val out = graft.core.Materialize.pin(
      pairs
        .crossJoin(total)
        .orderBy(col("d2"), col("id_a"), col("id_b"))
        .limit(20))
    graft.core.Materialize.release(pairs)
    graft.core.Materialize.release(p)
    out
  }

  /** B83: per-point nearest neighbor within radius R — the spatial kNN
    * (k=1) via the SAME grid blocking as B81: all ordered neighbor
    * pairs inside the 3×3 cells, then one `min_by` aggregate per point
    * over the (d², id) STRUCT order key — Spark orders structs
    * lexicographically, so the argmin and its tie rule are exact at
    * ANY id domain (the earlier packed d²·10⁷ + id bled ties once ids
    * reached 10⁷). The ORACLE still packs: its fixture ids are bounded
    * (event_id ≪ 10⁷ at every tested SF), where packed and struct
    * orders coincide — the KernelProps bounded-domain property. Points
    * with no neighbor inside R survive via a LEFT join with NULL nn —
    * the A15 NoData contract shape. Window-free: the per-point
    * reduction is a map-side-combinable aggregate, never a rank window
    * over pairs.
    */
  def qSpatialNn(s: SparkSession, dir: String): DataFrame = {
    // r15: left UNPINNED deliberately — a pin here forces full
    // materialization, while consumers that only need the spine (e.g.
    // a bare count) let the optimizer prune the whole neighbor join
    // away; pinning measured 0.4s → 2.9s on the bench's count() action
    // for zero real benefit to Verify's full write.
    val p = points(s, dir)
      .withColumn("cx", expr(s"x div $R"))
      .withColumn("cy", expr(s"y div $R"))
    val build = p.select(col("event_id").as("id_a"), col("x").as("xa"),
                         col("y").as("ya"), col("cx"), col("cy"))
    val probe = p
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("event_id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
              (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val nn = build.join(probe, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("d2", (col("xa") - col("xb")) * (col("xa") - col("xb")) +
                        (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= R * R)
      .withColumn("ok", struct(col("d2"), col("id_b")))
      .groupBy(col("id_a"))
      .agg(min_by(col("id_b"), col("ok")).as("nn_id"), min(col("d2")).as("nn_d2"))
    points(s, dir).select(col("event_id"))
      .join(nn, col("event_id") === col("id_a"), "left")
      .select(col("event_id"), col("nn_id"), col("nn_d2"))
  }

  val oracles: Map[String, String] = Map(
    "q_spatial_nn" ->
      s"""WITH w AS (SELECT CAST(FLOOR(SQRT(COUNT(*) / 100000.0) * 100000.0)
        |    AS BIGINT) AS side FROM events),
        |p AS (SELECT event_id,
        |    ${TF.hexPrefix52Sql("md5('px|' || event_id)")} % w.side AS x,
        |    ${TF.hexPrefix52Sql("md5('py|' || event_id)")} % w.side AS y
        |  FROM events CROSS JOIN w),
        |c AS (SELECT *, x // $R AS cx, y // $R AS cy FROM p),
        |probe AS (SELECT event_id AS id_b, x AS xb, y AS yb,
        |    cx + dx.v AS cx, cy + dy.v AS cy
        |  FROM c CROSS JOIN (VALUES (-1), (0), (1)) dx(v)
        |         CROSS JOIN (VALUES (-1), (0), (1)) dy(v)),
        |pairs AS (SELECT a.event_id AS id_a, probe.id_b,
        |    (a.x - xb)*(a.x - xb) + (a.y - yb)*(a.y - yb) AS d2
        |  FROM c a JOIN probe ON a.cx = probe.cx AND a.cy = probe.cy
        |    AND a.event_id <> probe.id_b
        |  WHERE (a.x - xb)*(a.x - xb) + (a.y - yb)*(a.y - yb) <= ${R * R}),
        |nn AS (SELECT id_a, arg_min(id_b, d2 * 10000000 + id_b) AS nn_id,
        |    CAST(MIN(d2) AS BIGINT) AS nn_d2
        |  FROM pairs GROUP BY 1)
        |SELECT p.event_id, nn.nn_id, nn.nn_d2
        |FROM p LEFT JOIN nn ON p.event_id = nn.id_a
        |ORDER BY p.event_id""".stripMargin,
    "q_spatial_join" ->
      s"""WITH w AS (SELECT CAST(FLOOR(SQRT(COUNT(*) / 100000.0) * 100000.0)
        |    AS BIGINT) AS side FROM events),
        |p AS (SELECT event_id,
        |    ${TF.hexPrefix52Sql("md5('px|' || event_id)")} % w.side AS x,
        |    ${TF.hexPrefix52Sql("md5('py|' || event_id)")} % w.side AS y
        |  FROM events CROSS JOIN w),
        |c AS (SELECT *, x // $R AS cx, y // $R AS cy FROM p),
        |probe AS (SELECT event_id AS id_b, x AS xb, y AS yb,
        |    cx + dx.v AS cx, cy + dy.v AS cy
        |  FROM c CROSS JOIN (VALUES (-1), (0), (1)) dx(v)
        |         CROSS JOIN (VALUES (-1), (0), (1)) dy(v)),
        |pairs AS (SELECT a.event_id AS id_a, probe.id_b,
        |    (a.x - xb)*(a.x - xb) + (a.y - yb)*(a.y - yb) AS d2
        |  FROM c a JOIN probe ON a.cx = probe.cx AND a.cy = probe.cy
        |    AND a.event_id < probe.id_b
        |  WHERE (a.x - xb)*(a.x - xb) + (a.y - yb)*(a.y - yb) <= ${R * R}),
        |t AS (SELECT COUNT(*) AS n_pairs FROM pairs)
        |SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2, n_pairs
        |FROM pairs CROSS JOIN t
        |ORDER BY d2, id_a, id_b LIMIT 20""".stripMargin)
}
