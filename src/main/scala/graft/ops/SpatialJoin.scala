package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.functions._

/** Distributed filter-refine spatial joins (SURVEY.md §2.3).
  *
  * Shape: geometry side explodes to covering cell ids at a fixed level
  * (coarse global index — the distributed replacement for the reference's
  * per-layer spatial indexes), point side computes its single cell, the
  * cell is an ordinary long equi-join key (Catalyst picks broadcast/SMJ,
  * AQE handles skewed hot cells), and the exact PIP expression refines —
  * the two-phase contract of OGRLayer::FilterGeometry
  * (ogrlayer.cpp:4004-4072).
  *
  * Each (point, polygon) pair meets on exactly one cell (the point's);
  * two-sided envelope joins keep each pair only on its canonical cell
  * ([[envPairs]]). Neither needs a post-join dedup.
  */
object SpatialJoin {

  /** points(…, lonCol, latCol) ⋈ polys(…, wkbCol) on exact containment. */
  def pipJoin(points: DataFrame, polys: DataFrame, level: Int = 7,
              lonCol: String = "lon", latCol: String = "lat",
              wkbCol: String = "wkb"): DataFrame =
    pipOn(points, polys, cell_of(col(lonCol), col(latCol), level),
      cells_at(st_env(col(wkbCol)), level), lonCol, latCol, wkbCol)

  /** [[pipJoin]] keyed on HEXAGONAL cells (core.Hex) instead of quadkey
    * cells — the cell-system-agnostic claim made concrete: the polygon
    * side explodes to `hex_cover` of its envelope (center-in-expanded-box
    * rule, a recall-safe superset by the circumradius bound), the point
    * side computes its single hex, and the same exact PIP refine
    * restores equality. Results are identical to [[pipJoin]] by
    * construction — the q172 oracle is the direct theta join. Hexes
    * trade ~30% lower cover cardinality per area (better candidate
    * selectivity) against no hierarchical parent/child relation (no
    * multi-level pruning). */
  def hexPipJoin(points: DataFrame, polys: DataFrame, size: Double = 4.0,
                 lonCol: String = "lon", latCol: String = "lat",
                 wkbCol: String = "wkb"): DataFrame =
    pipOn(points, polys, hex_of(col(lonCol), col(latCol), size),
      hex_cover(st_env(col(wkbCol)), size), lonCol, latCol, wkbCol)

  /** The PIP body shared by both cell systems: the point side carries its
    * one cell, the polygon side explodes its cover, and the exact PIP
    * refine rides the cell equi-join. A hot cell is split at runtime by
    * AQE's skew join (spark.sql.adaptive.skewJoin), not by a salt. */
  private def pipOn(points: DataFrame, polys: DataFrame, pointCell: Column, cover: Column,
                    lonCol: String, latCol: String, wkbCol: String): DataFrame =
    points.withColumn("__cell", pointCell)
      .join(polys.withColumn("__cell", explode(cover)), Seq("__cell"))
      .filter(st_contains_point(col(wkbCol), col(lonCol), col(latCol)))
      .drop("__cell")

  /** envelope(geom) ⋈ polys on exact polygon×box intersection — the
    * footprint×region join (Clip/Intersection-style layer algebra seed).
    * Left side must carry an `envCol` array<double>[4]. One row per
    * intersecting pair (see [[envPairs]]). */
  def envJoin(lefts: DataFrame, polys: DataFrame, level: Int = 6,
              envCol: String = "env", wkbCol: String = "wkb"): DataFrame =
    envPairs(lefts, polys, col(envCol), st_env(col(wkbCol)), level,
      st_intersects_env(col(wkbCol), col(envCol)))

  /** The two-sided cell join under [[envJoin]] and LayerAlgebra.pairGeoms:
    * both sides explode their envelope covers and equi-join on the cell,
    * and a pair is kept only on its canonical cell (graft.expr.CanonicalCell),
    * so each pair surfaces once with no dedup shuffle. `refine`, the
    * caller's exact test, must imply envelope intersection. It sits in
    * one filter behind the canonical test, so Catalyst pushes both into
    * the join condition in that order and never refines a duplicate. */
  private[ops] def envPairs(a: DataFrame, b: DataFrame, aEnv: Column, bEnv: Column, level: Int,
                            refine: Column): DataFrame =
    a.withColumn("__cell", explode(cells_at(aEnv, level)))
      .join(b.withColumn("__cell", explode(cells_at(bEnv, level))), Seq("__cell"))
      .filter(col("__cell") === canonical_cell(aEnv, bEnv, level) && refine)
      .drop("__cell")

  /** Broadcast-indexed PIP join: the polygon side is collected, bulk-
    * loaded into a packed STR R-tree (core.StrTree — the per-partition
    * local-index plan of SURVEY §4: coarse cells globally, fine R-tree
    * locally), broadcast, and each point partition probes the tree then
    * refines exactly. No shuffle AT ALL on the point side — the
    * alternative physical plan to pipJoin when the polygon side fits in
    * memory (dims, region tables); semantics identical. */
  def pipJoinIndexed(points: DataFrame, polys: DataFrame,
                     lonCol: String = "lon", latCol: String = "lat",
                     wkbCol: String = "wkb", maxPolys: Int = 1000000): DataFrame = {
    val spark = points.sparkSession
    // fail fast instead of OOMing the driver on an oversized build side:
    // collect at most maxPolys+1 rows and reject if the cap is exceeded
    val polyRows = polys.limit(maxPolys + 1).collect()
    require(polyRows.length <= maxPolys,
      s"pipJoinIndexed: polygon side exceeds maxPolys=$maxPolys rows; " +
        "it must fit in driver/executor memory to broadcast — use " +
        "SpatialJoin.pipJoin (cell-keyed shuffle join) for large polygon layers")
    val wkbIdx = polys.schema.fieldIndex(wkbCol)
    val envs = polyRows.map { r =>
      val (a, b, c, d) = graft.core.Wkb.envelope(r.getAs[Array[Byte]](wkbIdx))
      (a, b, c, d)
    }
    val treeBc = spark.sparkContext.broadcast(
      (graft.core.StrTree.build(envs), polyRows))
    val outSchema = org.apache.spark.sql.types.StructType(points.schema ++ polys.schema)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val lonIdx = points.schema.fieldIndex(lonCol)
    val latIdx = points.schema.fieldIndex(latCol)
    val wkbIdxLocal = wkbIdx
    points.mapPartitions { it =>
      val (tree, rows) = treeBc.value
      it.flatMap { p =>
        val lon = p.getDouble(lonIdx)
        val lat = p.getDouble(latIdx)
        tree.queryPoint(lon, lat).iterator
          .filter(i => graft.core.Pip.contains(rows(i).getAs[Array[Byte]](wkbIdxLocal), lon, lat))
          .map(i => org.apache.spark.sql.Row.merge(p, rows(i)))
      }
    }(enc)
  }

  /** Broadcast-indexed envelope match: each left row gains `n_regions` =
    * #polygons its envelope intersects, via a codegen'd probe of a
    * driver-built STR-tree over the polygon layer ([[graft.expr.EnvIndex]]
    * — pipJoinIndexed's envelope×polygon sibling). ZERO shuffle on the
    * left side and no dedup pass: the semi-join filter is
    * `n_regions >= 1`. Use for dim-sized polygon layers; the fail-fast
    * cap names [[envJoin]] (cell-keyed shuffle join) as the alternative
    * when the polygon side is corpus-sized. */
  def envMatchIndexed(lefts: DataFrame, polys: DataFrame, wkbCol: String = "wkb",
                      envCol: String = "env", maxPolys: Int = 1000000): DataFrame = {
    // null geometries match nothing (envJoin's null-intolerant filter
    // semantics), and an empty layer yields n_regions = 0 everywhere
    // rather than an executor-side empty-STR-tree failure
    val polyRows = polys.select(col(wkbCol)).filter(col(wkbCol).isNotNull)
      .limit(maxPolys + 1).collect()
    require(polyRows.length <= maxPolys,
      s"envMatchIndexed: polygon side exceeds maxPolys=$maxPolys rows; " +
        "use SpatialJoin.envJoin (cell-keyed shuffle join) for large polygon layers")
    if (polyRows.isEmpty) lefts.withColumn("n_regions", lit(0))
    else {
      val idx = graft.expr.EnvIndex(polyRows.map(_.getAs[Array[Byte]](0)))
      lefts.withColumn("n_regions", graft.expr.functions.env_match_count(col(envCol), idx))
    }
  }

  /** Spatial semi-join: rows of `points` whose point falls in ANY polygon
    * (Clip §2.3); anti = rows in none (Erase §2.3). A native left
    * semi/anti join on the point's cell with the exact PIP test in the
    * join condition, so every input row lands on exactly one side and
    * keeps its multiplicity. */
  def pipSemi(points: DataFrame, polys: DataFrame, level: Int = 7,
              lonCol: String = "lon", latCol: String = "lat", wkbCol: String = "wkb",
              anti: Boolean = false): DataFrame = {
    val cells = polys.select(explode(cells_at(st_env(col(wkbCol)), level)).as("__cell"),
      col(wkbCol).as("__wkb"))
    points.join(cells,
      cell_of(col(lonCol), col(latCol), level) === col("__cell")
        && st_contains_point(col("__wkb"), col(lonCol), col(latCol)),
      if (anti) "left_anti" else "left_semi")
  }
}
