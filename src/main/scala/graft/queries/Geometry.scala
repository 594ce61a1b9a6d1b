package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.LayerAlgebra

/** Geometry measures + geometry-output layer algebra under the DuckDB
  * oracle (SURVEY.md §2.3 layer algebra, §2.7 measures; reference:
  * ogrlayer.cpp:5385-7900, ogrgeometry.cpp:3818/4449/6526).
  *
  * EXACTNESS DISCIPLINE: areas compare as `st_area2_q` integers (every
  * vertex quantized to round(coord·1e6) and shoelace run in exact int64 —
  * order-free, so any box-overlay area is exactly additive on both
  * engines); doubles (perimeter) mirror the kernel's IEEE op sequence in
  * the SQL; transcendental outputs (Mercator y) compare after floor();
  * centroids/distances compare as round(v·1e6) with quantization margins
  * ≫ double error (fixture coordinates live on a 5·10⁻⁴ grid).
  */
object Geometry {

  /** Region box CTE — must mirror Fixtures.regionBoxesSpec verbatim.
    * Every literal is CAST to DOUBLE: DuckDB parses bare decimals as
    * DECIMAL and would otherwise do exact-decimal arithmetic whose
    * rounding differs from the Scala kernel's IEEE doubles. */
  private[queries] val BoxCte =
    """box AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS region_id,
      |         (((n_nationkey % 5) * CAST(72.0 AS DOUBLE)) - CAST(180.0 AS DOUBLE)) + CAST(0.0005 AS DOUBLE) AS minx,
      |         (((((n_nationkey - (n_nationkey % 5)) / 5) * CAST(34.0 AS DOUBLE)) - CAST(85.0 AS DOUBLE)) + CAST(0.0005 AS DOUBLE)) AS miny
      |  FROM nation),
      |boxes AS (
      |  SELECT region_id, minx, miny, (minx + CAST(57.6 AS DOUBLE)) AS maxx, (miny + CAST(27.2 AS DOUBLE)) AS maxy FROM box)""".stripMargin

  /** Image envelope CTE (4326 branch), mirroring Fixtures.genImage —
    * same derivation as Geospatial.ImgCte. */
  private val EnvCte =
    """img AS (
      |  SELECT p_partkey AS key,
      |    CASE (p_partkey % 4) WHEN 0 THEN 16 WHEN 1 THEN 20 WHEN 2 THEN 64 ELSE 256 END AS sz,
      |    (CAST(0.01 AS DOUBLE) * (1 + (p_partkey % 499))) AS span,
      |    ((((p_partkey * 9973) % 350000) / 1000.0) - 180.0) AS lon0,
      |    ((((p_partkey * 7919) % 160000) / 1000.0) - 80.0) AS lat0
      |  FROM part WHERE (p_partkey % 8) <> 1),
      |env AS (
      |  SELECT key, lon0 AS aminx, (lat0 + (sz * (-(span / sz)))) AS aminy,
      |         (lon0 + (sz * (span / sz))) AS amaxx, lat0 AS amaxy
      |  FROM img)""".stripMargin

  private def q(v: String) = s"CAST(round($v * 1000000.0) AS BIGINT)"

  /** 4326 image-envelope boxes as a WKB layer (key, wkb_a). */
  private def imageBoxes(s: SparkSession, dir: String): DataFrame =
    Fixtures.imagesFromParts(s, dir)
      .filter(col("srid") === 4326)
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .withColumn("wkb_a", st_make_box(col("env")(0), col("env")(1), col("env")(2), col("env")(3)))
      .select(col("key"), col("wkb_a"))

  private def regionLayer(s: SparkSession, dir: String): DataFrame =
    Fixtures.regionBoxes(s, dir).withColumnRenamed("wkb", "wkb_b")

  val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // §2.7 measures: area (exact int), perimeter (IEEE-mirrored double),
    // centroid (quantized), vertex count
    ("q60_geom_measures", (s: SparkSession, dir: String) => {
      Fixtures.regionBoxes(s, dir).select(
        col("region_id"),
        st_area2_q(col("wkb"), lit(1e6)).as("area2q"),
        st_length(col("wkb")).as("perim"),
        round(st_centroid(col("wkb"))(0) * 1e6).cast("bigint").as("cx_q"),
        round(st_centroid(col("wkb"))(1) * 1e6).cast("bigint").as("cy_q"),
        st_num_points(col("wkb")).as("npoints"))
    }, Some(s"""
      WITH $BoxCte
      SELECT region_id,
        ((${q("maxx")} - ${q("minx")}) * (${q("maxy")} - ${q("miny")})) * 2 AS area2q,
        ((sqrt(((maxx - minx) * (maxx - minx)) + ((miny - miny) * (miny - miny)))
           + sqrt(((maxx - maxx) * (maxx - maxx)) + ((maxy - miny) * (maxy - miny))))
           + sqrt(((minx - maxx) * (minx - maxx)) + ((maxy - maxy) * (maxy - maxy))))
           + sqrt(((minx - minx) * (minx - minx)) + ((miny - maxy) * (miny - maxy))) AS perim,
        CAST(round(((minx + maxx) / 2.0) * 1000000.0) AS BIGINT) AS cx_q,
        CAST(round(((miny + maxy) / 2.0) * 1000000.0) AS BIGINT) AS cy_q,
        5 AS npoints
      FROM boxes""")),

    // §2.3 Intersection with geometry output: image envelopes × region
    // boxes; per-pair clipped geometry, exact quantized area
    ("q61_layer_intersection", (s: SparkSession, dir: String) => {
      LayerAlgebra.intersection(imageBoxes(s, dir), regionLayer(s, dir), level = 5)
        .select(col("key"), col("region_id"), st_area2_q(col("geom"), lit(1e6)).as("iarea2q"))
    }, Some(s"""
      WITH $EnvCte, $BoxCte
      SELECT e.key AS key, b.region_id AS region_id,
        ((${q("least(e.amaxx, b.maxx)")} - ${q("greatest(e.aminx, b.minx)")})
         * (${q("least(e.amaxy, b.maxy)")} - ${q("greatest(e.aminy, b.miny)")})) * 2 AS iarea2q
      FROM env e, boxes b
      WHERE greatest(e.aminx, b.minx) < least(e.amaxx, b.maxx)
        AND greatest(e.aminy, b.miny) < least(e.amaxy, b.maxy)""")),

    // §2.3 Erase with geometry output: remainder area is exactly
    // env − Σ(disjoint region overlaps) in quantized units
    ("q62_layer_erase", (s: SparkSession, dir: String) => {
      LayerAlgebra.erase(imageBoxes(s, dir), regionLayer(s, dir), "key", level = 5)
        .select(col("key"), st_area2_q(col("geom"), lit(1e6)).as("rem2q"))
    }, Some(s"""
      WITH $EnvCte, $BoxCte,
      cover AS (
        SELECT e.key,
          CAST(SUM(((${q("least(e.amaxx, b.maxx)")} - ${q("greatest(e.aminx, b.minx)")})
               * (${q("least(e.amaxy, b.maxy)")} - ${q("greatest(e.aminy, b.miny)")})) * 2) AS BIGINT) AS c2q
        FROM env e, boxes b
        WHERE greatest(e.aminx, b.minx) < least(e.amaxx, b.maxx)
          AND greatest(e.aminy, b.miny) < least(e.amaxy, b.maxy)
        GROUP BY e.key)
      SELECT e.key AS key,
        CAST((((${q("e.amaxx")} - ${q("e.aminx")}) * (${q("e.amaxy")} - ${q("e.aminy")})) * 2
          - COALESCE(c.c2q, 0)) AS BIGINT) AS rem2q
      FROM env e LEFT JOIN cover c ON e.key = c.key
      WHERE (((${q("e.amaxx")} - ${q("e.aminx")}) * (${q("e.amaxy")} - ${q("e.aminy")})) * 2
          - COALESCE(c.c2q, 0)) > 0""")),

    // §2.7 Distance: kNN targets to region boxes (point→polygon min
    // distance; 0 when inside)
    ("q63_geom_distance", (s: SparkSession, dir: String) => {
      val t = Fixtures.targetsFromRegions(s, dir)
        .withColumn("pt", st_make_point(col("t_lon"), col("t_lat")))
      t.crossJoin(Fixtures.regionBoxes(s, dir))
        .select(col("t_id"), col("region_id"),
          round(st_distance(col("pt"), col("wkb")) * 1e6).cast("bigint").as("dist_q"))
    }, Some(s"""
      WITH $BoxCte,
      tgt AS (
        SELECT CAST(r_regionkey AS BIGINT) AS t_id,
               ((((r_regionkey * 67) % 360) - 180) + 0.5) AS t_lon,
               ((((r_regionkey * 43) % 160) - 80) + 0.5) AS t_lat
        FROM region)
      SELECT t.t_id, b.region_id,
        CAST(round(sqrt((greatest(greatest(b.minx - t.t_lon, 0.0), t.t_lon - b.maxx)
                         * greatest(greatest(b.minx - t.t_lon, 0.0), t.t_lon - b.maxx))
                      + (greatest(greatest(b.miny - t.t_lat, 0.0), t.t_lat - b.maxy)
                         * greatest(greatest(b.miny - t.t_lat, 0.0), t.t_lat - b.maxy)))
                   * 1000000.0) AS BIGINT) AS dist_q
      FROM tgt t, boxes b""")),

    // §2.8 Dissolve: group regions by column, union geometry (disjoint
    // boxes ⇒ additive area), count members
    ("q64_dissolve", (s: SparkSession, dir: String) => {
      LayerAlgebra.dissolve(
        Fixtures.regionBoxes(s, dir).withColumn("grp", (col("region_id") % 5).cast("int")),
        Seq("grp"), "wkb")
        .select(col("grp"), st_area2_q(col("geom"), lit(1e6)).as("area2q"), col("n_features"))
    }, Some(s"""
      WITH $BoxCte
      SELECT CAST(region_id % 5 AS INT) AS grp,
             CAST(SUM(((${q("maxx")} - ${q("minx")}) * (${q("maxy")} - ${q("miny")})) * 2) AS BIGINT) AS area2q,
             count(*) AS n_features
      FROM boxes GROUP BY 1""")),

    // §2.8 st_transform over WKB geometry (OGRWarpedLayer analog):
    // reproject region boxes to 3857, floor-quantized envelope
    ("q65_transform_geom", (s: SparkSession, dir: String) => {
      Fixtures.regionBoxes(s, dir)
        .withColumn("e", st_env(st_transform(col("wkb"), lit(4326), lit(3857))))
        .select(col("region_id"),
          floor(col("e")(0)).cast("bigint").as("mx0"),
          floor(col("e")(1)).cast("bigint").as("my0"),
          floor(col("e")(2)).cast("bigint").as("mx1"),
          floor(col("e")(3)).cast("bigint").as("my1"))
    }, Some(s"""
      WITH $BoxCte
      SELECT region_id,
        CAST(floor(minx * ((6378137.0 * pi()) / 180.0)) AS BIGINT) AS mx0,
        CAST(floor(6378137.0 * ln(tan((pi() / 4.0) + ((miny * (pi() / 180.0)) / 2.0)))) AS BIGINT) AS my0,
        CAST(floor(maxx * ((6378137.0 * pi()) / 180.0)) AS BIGINT) AS mx1,
        CAST(floor(6378137.0 * ln(tan((pi() / 4.0) + ((maxy * (pi() / 180.0)) / 2.0)))) AS BIGINT) AS my1
      FROM boxes""")),

    // §2.8 geometry ETL steps: swap_xy (exact coordinate copies),
    // segmentize (vertex count closed-form: ceil(L/maxLen) parts per
    // edge), simplify (Douglas–Peucker drops the inserted collinear
    // vertices, restoring the 5-point box with area intact)
    ("q84_geom_etl", (s: SparkSession, dir: String) => {
      Fixtures.regionBoxes(s, dir)
        .withColumn("sw", st_env(st_swap_xy(col("wkb"))))
        .withColumn("seg", st_segmentize(col("wkb"), lit(5.0)))
        .withColumn("simp", st_simplify(col("seg"), lit(1e-9)))
        .select(col("region_id"),
          col("sw")(0).as("sminx"), col("sw")(1).as("sminy"),
          col("sw")(2).as("smaxx"), col("sw")(3).as("smaxy"),
          st_num_points(col("seg")).as("seg_npts"),
          st_num_points(col("simp")).as("simp_npts"),
          st_area2_q(col("simp"), lit(1e6)).as("simp_area2q"))
    }, Some(s"""
      WITH $BoxCte
      SELECT region_id,
        miny AS sminx, minx AS sminy, maxy AS smaxx, maxx AS smaxy,
        CAST((2 * ceil((maxx - minx) / 5.0)) + (2 * ceil((maxy - miny) / 5.0)) + 1 AS INT) AS seg_npts,
        5 AS simp_npts,
        ((${q("maxx")} - ${q("minx")}) * (${q("maxy")} - ${q("miny")})) * 2 AS simp_area2q
      FROM boxes""")),

    // §2.8 SimplifyPreserveTopology (ogrgeometry.cpp:6856): the
    // topology-preserving DP variant — on the sliver fixture (height
    // 1/4 ≪ tolerance 1) plain st_simplify drops BOTH mid corners and
    // collapses the ring to its zero-area chord (np=3, area 0); the topo
    // variant restores one corner → a valid w·h/2 triangle (np=4, area
    // w/8). Tall odd-key boxes (height 3 > tol) pass through unchanged
    // on both paths. Vertex counts and areas are exact dyadic SQL
    // arithmetic; the engine's validity predicate is pinned TRUE per row.
    ("q160_simplify_topo", (s: SparkSession, dir: String) => {
      Fixtures.sliverBoxesFromNation(s, dir)
        .withColumn("topo", st_simplify_topo(col("wkb"), lit(1.0)))
        .withColumn("plain", st_simplify(col("wkb"), lit(1.0)))
        .select(col("geom_id"),
          st_num_points(col("topo")).as("topo_np"),
          st_area(col("topo")).as("topo_area"),
          st_is_valid(col("topo")).as("topo_valid"),
          st_num_points(col("plain")).as("plain_np"),
          st_area(col("plain")).as("plain_area"))
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS geom_id,
        CAST(CASE WHEN n_nationkey % 2 = 0 THEN 4 ELSE 5 END AS INT) AS topo_np,
        CASE WHEN n_nationkey % 2 = 0
             THEN CAST(4 + (n_nationkey % 5) * 2 AS DOUBLE) / CAST(8 AS DOUBLE)
             ELSE CAST(4 + (n_nationkey % 5) * 2 AS DOUBLE) * CAST(3 AS DOUBLE) END AS topo_area,
        TRUE AS topo_valid,
        CAST(CASE WHEN n_nationkey % 2 = 0 THEN 3 ELSE 5 END AS INT) AS plain_np,
        CASE WHEN n_nationkey % 2 = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(4 + (n_nationkey % 5) * 2 AS DOUBLE) * CAST(3 AS DOUBLE) END AS plain_area
      FROM nation""")),

    // §2.7 ConvexHull: hull of each horizontally-adjacent region-box pair
    // (same-row boxes ⇒ hull is their bounding rectangle, closed-form)
    ("q66_convexhull", (s: SparkSession, dir: String) => {
      val b = Fixtures.regionBoxes(s, dir)
      val a = b.filter(col("region_id") % 5 < 4)
      val partner = b.withColumnRenamed("wkb", "wkb2").withColumnRenamed("region_id", "rid2")
      a.join(partner, col("region_id") + 1 === col("rid2"))
        .withColumn("hull", st_convexhull(st_collect(array(col("wkb"), col("wkb2")))))
        .select(col("region_id"),
          st_area2_q(col("hull"), lit(1e6)).as("hull2q"),
          st_num_points(col("hull")).as("npoints"))
    }, Some(s"""
      WITH $BoxCte
      SELECT a.region_id AS region_id,
        ((${q("b.maxx")} - ${q("a.minx")}) * (${q("a.maxy")} - ${q("a.miny")})) * 2 AS hull2q,
        5 AS npoints
      FROM boxes a JOIN boxes b ON a.region_id + 1 = b.region_id
      WHERE a.region_id % 5 < 4""")),

    // §2.8 ConcaveHull (gdalalg_vector_concave_hull.cpp / GEOS ratio
    // contract; chi-shape over the Delaunay core). Fixture: per nation
    // key, the integer lattice points of a plus/cross (arms half-width w,
    // half-length l); at ratio 0.05 the carve provably recovers the exact
    // cross outline (boundary unit edges ≤ threshold < √2 diagonal of the
    // reentrant corners; empirically verified over the full key range in
    // ConcaveHullSpec) — so area and ring vertex count are closed-form:
    // area = 8lw − 4w², perimeter points = 8l.
    ("q102_concave_hull", (s: SparkSession, dir: String) => {
      val pts = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("int").as("k"))
        .withColumn("l", lit(4) + col("k") % 3)
        .withColumn("w", lit(1) + col("k") % 2)
        .withColumn("x", explode(sequence(-col("l"), col("l"))))
        .withColumn("y", explode(sequence(-col("l"), col("l"))))
        .filter((abs(col("y")) <= col("w") && abs(col("x")) <= col("l"))
          || (abs(col("x")) <= col("w") && abs(col("y")) <= col("l")))
        .withColumn("pt", st_make_point(col("x").cast("double"), col("y").cast("double")))
      pts.groupBy(col("k"))
        .agg(st_concave_hull(st_collect(collect_list(col("pt"))), lit(0.05)).as("hull"))
        .select(col("k"),
          st_area2_q(col("hull"), lit(1e6)).as("hull2q"),
          st_num_points(col("hull")).as("npoints"))
    }, Some("""
      SELECT CAST(n_nationkey AS INT) AS k,
        CAST(2 * (8 * l * w - 4 * w * w) AS BIGINT) * 1000000000000 AS hull2q,
        CAST(8 * l + 1 AS INT) AS npoints
      FROM (SELECT n_nationkey, 4 + n_nationkey % 3 AS l, 1 + n_nationkey % 2 AS w
            FROM nation)""")),

    // §2.3/§2.10 SQL-surface geometry×geometry join: a plain
    // `JOIN ... ON st_intersects(a,b)` that the CellJoinRule optimizer
    // rewrite turns into a cell-keyed equi-join (both-sides explode +
    // canonical-cell dedup) — the q61 pair set and quantized areas must
    // come back identical through the SQL path
    ("q85_sql_intersects_join", (s: SparkSession, dir: String) => {
      graft.expr.GraftExtensions.register(s)
      imageBoxes(s, dir).createOrReplaceTempView("imgbox_q85")
      regionLayer(s, dir).createOrReplaceTempView("regbox_q85")
      s.sql(
        """SELECT a.key AS key, b.region_id AS region_id,
          |       st_area2_q(st_intersection(a.wkb_a, b.wkb_b), 1e6) AS iarea2q
          |FROM imgbox_q85 a JOIN regbox_q85 b
          |  ON st_intersects(a.wkb_a, b.wkb_b)""".stripMargin)
        .filter(col("iarea2q") > 0)
    }, Some(s"""
      WITH $EnvCte, $BoxCte
      SELECT e.key AS key, b.region_id AS region_id,
        ((${q("least(e.amaxx, b.maxx)")} - ${q("greatest(e.aminx, b.minx)")})
         * (${q("least(e.amaxy, b.maxy)")} - ${q("greatest(e.aminy, b.miny)")})) * 2 AS iarea2q
      FROM env e, boxes b
      WHERE greatest(e.aminx, b.minx) < least(e.amaxx, b.maxx)
        AND greatest(e.aminy, b.miny) < least(e.amaxy, b.maxy)""")),

    // §2.3 line×polygon layer algebra: slope-1 customer segments clipped
    // to region boxes through the Liang–Barsky kernel; clipped endpoints
    // re-derived in closed-form greatest/least SQL (geometry-type-generic
    // Intersection, ogrlayer.cpp:5385)
    ("q86_line_clip", (s: SparkSession, dir: String) => {
      LayerAlgebra.intersection(Fixtures.linesFromCustomers(s, dir), regionLayer(s, dir), level = 5)
        .withColumn("cenv", st_env(col("geom")))
        .select(col("line_id"), col("region_id"),
          round(col("cenv")(0) * 1e6).cast("bigint").as("x0q"),
          round(col("cenv")(1) * 1e6).cast("bigint").as("y0q"),
          round(col("cenv")(2) * 1e6).cast("bigint").as("x1q"),
          round(col("cenv")(3) * 1e6).cast("bigint").as("y1q"))
    }, Some(s"""
      WITH $BoxCte,
      ln AS (
        SELECT CAST(c_custkey AS BIGINT) AS line_id,
          ((((c_custkey * 37) % 340) - 170) + CAST(0.2101 AS DOUBLE)) AS ax,
          ((((c_custkey * 53) % 150) - 75) + CAST(0.37 AS DOUBLE)) AS ay,
          (CAST(5.0 AS DOUBLE) + ((c_custkey % 37) * CAST(2.0 AS DOUBLE))) AS len
        FROM customer),
      clip AS (
        SELECT l.line_id, b.region_id, l.ax, l.ay,
          greatest(l.ax, b.minx, l.ax + (b.miny - l.ay)) AS xlo,
          least(l.ax + l.len, b.maxx, l.ax + (b.maxy - l.ay)) AS xhi
        FROM ln l, boxes b)
      SELECT line_id, region_id,
        CAST(round(xlo * 1000000.0) AS BIGINT) AS x0q,
        CAST(round(((xlo - ax) + ay) * 1000000.0) AS BIGINT) AS y0q,
        CAST(round(xhi * 1000000.0) AS BIGINT) AS x1q,
        CAST(round(((xhi - ax) + ay) * 1000000.0) AS BIGINT) AS y1q
      FROM clip WHERE xlo < xhi""")),

    // §2.8 Buffer (ogrgeometry.cpp:4949): region boxes grown by r (round
    // joins ⇒ area = A + P·r + 16·r²·sin(π/16) at quadsegs=8, the N-gon
    // correction exact in SQL) and eroded by r (exact inset rectangle);
    // quantized at 1e4 with margins ≫ cross-engine libm drift
    ("q87_buffer", (s: SparkSession, dir: String) => {
      val r = (lit(0.5) + (col("region_id") % 4).cast("double") * lit(0.25))
      Fixtures.regionBoxes(s, dir)
        .select(col("region_id"),
          round(st_area(st_buffer(col("wkb"), r, lit(8))) * 1e4).cast("bigint").as("grow_q"),
          round(st_area(st_buffer(col("wkb"), -r, lit(8))) * 1e4).cast("bigint").as("shrink_q"))
    }, Some(s"""
      WITH $BoxCte,
      withr AS (
        SELECT region_id, (maxx - minx) AS w, (maxy - miny) AS h,
               (CAST(0.5 AS DOUBLE) + ((region_id % 4) * CAST(0.25 AS DOUBLE))) AS r
        FROM boxes)
      SELECT region_id,
        CAST(round(((w * h) + ((2.0 * (w + h)) * r) + ((16.0 * (r * r)) * sin(pi() / 16.0))) * 10000.0) AS BIGINT) AS grow_q,
        CAST(round(((w - (2.0 * r)) * (h - (2.0 * r))) * 10000.0) AS BIGINT) AS shrink_q
      FROM withr""")),

    // §2.8 MakeValid (ogrgeometry.cpp:4183, even-odd linework rebuild):
    // bowties repair to two lobes of area w·h/2; valid boxes pass through
    // byte-identical. All repair coordinates are dyadic-exact, so the
    // quantized shoelace (2·area·scale²) is pure integer SQL.
    ("q92_make_valid", (s: SparkSession, dir: String) => {
      Fixtures.invalidPolysFromNation(s, dir)
        .select(col("geom_id"),
          st_is_valid(col("wkb")).as("was_valid"),
          st_area2_q(st_make_valid(col("wkb")), lit(1e6)).as("area2_q"))
    }, Some("""
      WITH mv AS (
        SELECT CAST(n_nationkey AS BIGINT) AS geom_id,
               (n_nationkey % 2) = 1 AS was_valid,
               CAST(2 + ((n_nationkey % 5) * 2) AS BIGINT) AS w,
               CAST(2 + ((n_nationkey % 3) * 2) AS BIGINT) AS h
        FROM nation)
      SELECT geom_id, was_valid,
        CASE WHEN was_valid THEN ((2 * w) * h) * 1000000000000
             ELSE (w * h) * 1000000000000 END AS area2_q
      FROM mv""")),

    // §2.3 point-subject layer algebra (completes the type-generic
    // overlay: polygon q61/q62, line q86, point here — ogrlayer.cpp
    // :4004-4072 filter-refine over arbitrary geometry pairs). Points ride
    // the same cell equi-join; the kernel keeps the members inside the
    // method geometry (even-odd PIP). Boxes sit on a +0.0005° offset vs
    // the 10⁻³ point grid, so no point ever ties a boundary.
    ("q96_point_overlay", (s: SparkSession, dir: String) => {
      val pts = Fixtures.pointsFromOrders(s, dir)
        .select(col("point_id"), st_make_point(col("lon"), col("lat")).as("wkb_a"))
      LayerAlgebra.intersection(pts, regionLayer(s, dir), level = 5)
        .withColumn("env", st_env(col("geom")))
        .select(col("point_id"), col("region_id"),
          round(col("env")(0) * 1000000.0).cast("bigint").as("xq"),
          round(col("env")(1) * 1000000.0).cast("bigint").as("yq"))
    }, Some(s"""
      WITH $BoxCte,
      pts AS (
        SELECT o_orderkey AS point_id,
               ((((o_orderkey * 9973) % 360000) / 1000.0) - 180.0) AS lon,
               ((((o_orderkey * 7919) % 170000) / 1000.0) - 85.0) AS lat
        FROM orders)
      SELECT point_id, region_id,
        CAST(round(lon * 1000000.0) AS BIGINT) AS xq,
        CAST(round(lat * 1000000.0) AS BIGINT) AS yq
      FROM pts p JOIN boxes b
        ON p.lon > b.minx AND p.lon < b.maxx AND p.lat > b.miny AND p.lat < b.maxy""")),

    // Voronoi tessellation (Delaunay dual, core/Voronoi.scala) verified
    // FUNCTIONALLY: probes are assigned to cells by the broadcast-STR-tree
    // PIP join — geometry only, no distance math — and the oracle
    // recomputes each probe's nearest site by exact int64 argmin over
    // milli-degree coordinates. If any cell boundary were wrong, some
    // strict-interior probe would land in the wrong cell and the hash
    // would diverge. Probes whose two nearest sites tie exactly sit ON a
    // Voronoi edge (assignment genuinely ambiguous) and are excluded by
    // the same integer-strictness rule on both sides. The strictness
    // window is oracle support, not the operator: the operator itself is
    // the guarded driver Voronoi build (site count capped like
    // pipJoinIndexed) + the broadcast PIP join, with the per-tile
    // ghost-margin construction as the documented big-site-layer path.
    ("q140_voronoi_assign", (s: SparkSession, dir: String) => {
      import s.implicits._
      val siteRows = Fixtures.nodesFromSuppliers(s, dir)
        .filter(col("t_id") <= 300).orderBy("t_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      require(siteRows.length <= 100000, "voronoi site layer must fit the driver")
      val wkbs = graft.core.Voronoi.cells(
        siteRows.map(_._2), siteRows.map(_._3), -180.0, -85.0, 180.0, 85.0)
      val cellsDf = siteRows.map(_._1).zip(wkbs).toSeq.toDF("site_id", "wkb")
      // exact-integer strict-margin filter (milli-degrees; mirrors oracle):
      // the site set is already a guarded driver collect, so the
      // second-nearest-strictly-greater test is one codegen'd O(|sites|)
      // register loop per probe — map-only, BEFORE the PIP join. (The
      // first version shipped this as a 45M-row crossJoin + per-probe
      // window: a full shuffle+sort for a probe-local predicate.)
      val packed = siteRows.flatMap { case (id, _, _) =>
        Array(((id * 31) % 360 - 180) * 1000 + 250, ((id * 17) % 160 - 80) * 1000 + 250)
      }
      val strictProbes = Fixtures.pointsFromOrders(s, dir)
        .filter(nearest_site_strict(
          (col("point_id") * 9973) % 360000 - 180000,
          (col("point_id") * 7919) % 170000 - 85000, packed))
      graft.ops.SpatialJoin.pipJoinIndexed(strictProbes, cellsDf)
        .select(col("point_id"), col("site_id"))
    }, Some("""
      WITH sites AS (SELECT s_suppkey AS sid,
              ((((s_suppkey * 31) % 360) - 180) * 1000 + 250) AS sx,
              ((((s_suppkey * 17) % 160) - 80) * 1000 + 250) AS sy
             FROM supplier WHERE s_suppkey <= 300),
      probes AS (SELECT o_orderkey AS pid,
              (((o_orderkey * 9973) % 360000) - 180000) AS px,
              (((o_orderkey * 7919) % 170000) - 85000) AS py
             FROM orders),
      d AS (SELECT p.pid, s.sid,
             (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) AS d2
            FROM probes p CROSS JOIN sites s),
      r AS (SELECT pid, sid, d2,
             row_number() OVER (PARTITION BY pid ORDER BY d2, sid) AS rn,
             lead(d2) OVER (PARTITION BY pid ORDER BY d2, sid) AS d2n
            FROM d)
      SELECT pid AS point_id, CAST(sid AS BIGINT) AS site_id
      FROM r WHERE rn = 1 AND d2n > d2"""))
  )
}
