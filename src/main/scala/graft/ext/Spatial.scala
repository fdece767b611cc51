package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.tables.Tables

/** Spatial proximity join over planar points — the geo operator family the
  * reference's domain implies (it syncs GIS shapefiles,
  * DataWarehouse.js:34) but never computes itself.
  *
  * The scale shape is the classic uniform-grid spatial join: bucket both
  * sides by cell = (x div R, y div R), replicate the SMALL side to its
  * 3×3 neighbor cells, hash-join on the cell pair, then apply the exact
  * distance predicate. With search radius ≤ cell size, every true pair
  * shares a (probe-cell, replicated-neighbor-cell) key, so the grid join
  * is lossless — which is exactly what the oracle states: the naive
  * all-pairs distance filter, not the grid construction. Candidate work is
  * Σ |probe-cell| × |build-neighborhood|, never |A|×|B|; the 9× row
  * replication lands on the small side only.
  *
  * All geometry is integer (coordinates derived from keys, squared
  * distances compared against R²) so both engines evaluate it exactly —
  * no trig, no float drift. Haversine-on-doubles would be the real-world
  * variant; the plumbing (cell bucketing, neighbor replication, bounded
  * join) is identical.
  */
object Spatial {

  /** Search radius; also the grid cell size (radius ≤ cell ⟹ 3×3
    * neighborhood covers the search disc).
    */
  val Radius = 250L
  private val Span = 10000L // coordinate space [0, Span)²

  /** Deterministic planar point from a key: x = low digits of key*5761
    * (5761 coprime to 10⁴ → a permutation), y = the next four digits of
    * the same product (decorrelated from x). Stays well inside int64 for
    * any fixture key.
    */
  private def point(key: String): (Column, Column) = (
    expr(s"($key * 5761) % $Span"),
    expr(s"(($key * 5761) div $Span) % $Span"))

  /** Customers as probe-side sites. */
  def sites(spark: SparkSession, dir: String): DataFrame = {
    val (x, y) = point("c_custkey")
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("site_id"), x.as("x"), y.as("y"))
  }

  /** Suppliers as build-side facilities (the small side — it carries the
    * 9× neighbor replication and broadcasts).
    */
  def facilities(spark: SparkSession, dir: String): DataFrame = {
    val (x, y) = point("s_suppkey")
    Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("fac_id"), x.as("fx"), y.as("fy"))
  }

  /** Grid proximity join: every (site, facility) pair within `radius`,
    * with its exact squared distance. Equi-join on the cell pair — no
    * cross product anywhere in the plan (asserted in SpatialSpec).
    */
  def gridJoin(sites: DataFrame, facilities: DataFrame,
               radius: Long = Radius): DataFrame = {
    val offsets = for (dx <- -1L to 1L; dy <- -1L to 1L)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val build = facilities
      .select(col("*"), explode(array(offsets: _*)).as("o"))
      .select(col("fac_id"), col("fx"), col("fy"),
        (col("fx") / radius).cast("long") + col("o.dx") as "cx",
        (col("fy") / radius).cast("long") + col("o.dy") as "cy")
    val probe = sites
      .withColumn("cx", (col("x") / radius).cast("long"))
      .withColumn("cy", (col("y") / radius).cast("long"))
    probe.join(broadcast(build), Seq("cx", "cy"))
      .withColumn("dist2",
        (col("x") - col("fx")) * (col("x") - col("fx")) +
          (col("y") - col("fy")) * (col("y") - col("fy")))
      .filter(col("dist2") <= lit(radius * radius))
      .select("site_id", "fac_id", "dist2")
  }

  /** The oracled fixture instantiation (customer sites × supplier
    * facilities within [[Radius]]).
    */
  def proximityQuery(spark: SparkSession, dir: String): DataFrame =
    gridJoin(sites(spark, dir), facilities(spark, dir))
      .orderBy("site_id", "fac_id")

  /** Nearest facility per site (spatial argmin, radius-bounded): top-1 of
    * the grid join's candidates by (dist², fac_id) — sites with no
    * facility in range are absent, exactly like a bounded-radius NN
    * query. The window reuses the join's site_id partitioning; ties
    * break on fac_id so the result is total-order deterministic.
    */
  def nearestFacility(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("site_id").orderBy("dist2", "fac_id")
    gridJoin(sites(spark, dir), facilities(spark, dir))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("site_id"), col("fac_id").as("nearest_fac"), col("dist2"))
      .orderBy("site_id")
  }

  /** X135: grid-density clustering — the scalable DBSCAN relative
    * (CLIQUE/D-Stream family): bucket points into eps-sized grid cells,
    * call a cell DENSE when it holds ≥ `minPts` points, and merge
    * 8-adjacent dense cells into clusters by connected components.
    * Points in dense cells inherit the cluster; sparse cells are noise.
    * Exact-DBSCAN differs at borders, but the grid variant is what
    * actually runs at scale: density is ONE map-side-combinable count
    * (never a per-point neighborhood query), adjacency is an equi-join
    * on replicated neighbor keys (the X37 3×3 trick — no theta join),
    * and the component merge runs on the CELL graph, thousands of nodes
    * out of any point volume. CC uses the O(log n) star machinery with
    * lineage cuts; the fixture's key-derived cells form 39-cell chains,
    * exactly the adversarial-diameter case star rewiring exists for
    * (min-label propagation would need 39 rounds — the oracle instead
    * states a recursive-CTE reachability closure, engine-side).
    */
  def gridClusters(spark: SparkSession, dir: String,
                   minPts: Long = 4L): DataFrame = {
    val dim = Span / Radius // 40 cells per axis
    GraftSession.scoped(spark,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false") { loop =>
      val dense = sites(loop, dir)
        .select(expr(s"x div $Radius").as("cx"), expr(s"y div $Radius").as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("n_points"))
        .filter(col("n_points") >= minPts)
        .withColumn("id", col("cx") * dim + col("cy"))
      val nbr = dense.select(col("id").as("nid"),
          explode(expr("sequence(-1, 1)")).as("dx"), col("cx"), col("cy"))
        .select(col("nid"), col("dx"), explode(expr("sequence(-1, 1)")).as("dy"),
          col("cx"), col("cy"))
        // clamp to the grid BEFORE linearizing: a wrapped (cx-1, cy+1)
        // would alias another row's linear id
        .filter(col("cx") + col("dx") >= 0 && col("cx") + col("dx") < dim &&
          col("cy") + col("dy") >= 0 && col("cy") + col("dy") < dim)
        .select(col("nid"), ((col("cx") + col("dx")) * dim + col("cy") + col("dy"))
          .as("id"))
        .filter(col("nid") =!= col("id"))
      val edges = dense.select("id")
        .join(nbr, Seq("id")) // only neighbor keys that ARE dense survive
        .select(col("id").as("a"), col("nid").as("b"))
      val comp = Components.starComponents(edges).labels
      GraftSession.bind(spark, dense.join(comp, Seq("id"), "left"))
    }.select(col("cx"), col("cy"), col("n_points"),
        coalesce(col("comp"), col("id")).as("cluster_id"))
      .orderBy("cx", "cy")
  }
}
