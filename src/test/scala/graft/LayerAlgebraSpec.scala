package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Clip, GeomOps, Wkb}
import graft.expr.functions._
import graft.ops.LayerAlgebra

/** Geometry-output layer algebra over DataFrames (reference semantics:
  * ogrlayer.cpp Intersection :5385 / Union :5803 / SymDifference :6340 /
  * Identity :6770 / Update :7188 / Clip :7537 / Erase :7846) + dissolve
  * (gdalalg_vector_dissolve.cpp). */
class LayerAlgebraSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // layer A: 4 unit-ish boxes in a row; layer B: one big box covering the
  // middle two and half of the edges
  private def layerA = Seq(
    (1L, Wkb.writeBox(0, 0, 2, 2)),
    (2L, Wkb.writeBox(3, 0, 5, 2)),
    (3L, Wkb.writeBox(6, 0, 8, 2)),
    (4L, Wkb.writeBox(9, 0, 11, 2))).toDF("a_id", "wkb_a")
  private def layerB = Seq(
    (10L, Wkb.writeBox(1, -1, 7, 3)),
    (11L, Wkb.writeBox(10, 1, 12, 4))).toDF("b_id", "wkb_b")

  test("intersection emits one row per intersecting pair with exact areas") {
    // beside layer A: a box spanning ~11×15 level-6 cells, and one whose
    // min corner sits on a level-6 cell corner (5.625, 2.8125)
    val a = layerA.union(Seq(
      (5L, Wkb.writeBox(-30, -20, 30, 20)),
      (6L, Wkb.writeBox(5.625, 2.8125, 8, 3.5))).toDF("a_id", "wkb_a"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_id"), col("b_id"), st_area(col("geom")).as("area"))
        .as[(Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    val out = rows(LayerAlgebra.intersection(a, layerB))
    val brute = rows(a.crossJoin(layerB)
      .withColumn("geom", st_intersection(col("wkb_a"), col("wkb_b")))
      .filter(col("geom").isNotNull))
    val expect = Seq(
      (1L, 10L, 2.0), // [1,2]×[0,2]
      (2L, 10L, 4.0), // fully inside
      (3L, 10L, 2.0), // [6,7]×[0,2]
      (4L, 11L, 1.0), // [10,11]×[1,2]
      (5L, 10L, 24.0), // b10 fully inside
      (5L, 11L, 6.0), // b11 fully inside
      (6L, 10L, 1.375 * 0.1875)) // [5.625,7]×[2.8125,3]
    for (got <- Seq(out, brute)) {
      assert(got.map(r => (r._1, r._2)) == expect.map(r => (r._1, r._2)))
      assert(got.zip(expect).forall { case (g, e) => math.abs(g._3 - e._3) < 1e-9 }, got)
    }
  }

  test("q61 plan has no pair-dedup aggregate") {
    val df = SparkEntry.queries("q61_layer_intersection")(spark, TestSpark.Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate"), s"q61 must not aggregate:\n$plan")
  }

  test("erase removes covered parts, drops swallowed features, passes untouched") {
    val out = LayerAlgebra.erase(layerA, layerB, "a_id")
      .select(col("a_id"), st_area(col("geom")).as("area"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // a2 is fully inside b10 → dropped
    assert(out.keySet == Set(1L, 3L, 4L))
    assert(math.abs(out(1L) - 2.0) < 1e-9)
    assert(math.abs(out(3L) - 2.0) < 1e-9)
    assert(math.abs(out(4L) - 3.0) < 1e-9)
  }

  test("clip crops each input feature to the method coverage") {
    val out = LayerAlgebra.clip(layerA, layerB, "a_id")
      .select(col("a_id"), st_area(col("geom")).as("area"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(math.abs(out(1L) - 2.0) < 1e-9 && math.abs(out(2L) - 4.0) < 1e-9)
    assert(math.abs(out(3L) - 2.0) < 1e-9 && math.abs(out(4L) - 1.0) < 1e-9)
  }

  test("union = pieces + A-only + B-only; total area = |A| + |B| − |A∩B|") {
    val rows = LayerAlgebra.union(layerA, layerB, "a_id", "b_id")
      .select(col("a_id"), col("b_id"), st_area(col("geom")).as("area")).collect()
    val total = rows.map(_.getDouble(2)).sum
    val aArea = 4 * 4.0
    val bArea = 24.0 + 6.0
    val iArea = 2 + 4 + 2 + 1.0
    assert(math.abs(total - (aArea + bArea - iArea)) < 1e-9)
    // composition: 4 intersection pieces, 3 a-remainders, 2 b-remainders
    assert(rows.count(r => !r.isNullAt(0) && !r.isNullAt(1)) == 4)
    assert(rows.count(r => !r.isNullAt(0) && r.isNullAt(1)) == 3)
    assert(rows.count(r => r.isNullAt(0) && !r.isNullAt(1)) == 2)
  }

  test("identity = pieces + A remainders only; update = A−B + B features") {
    val id = LayerAlgebra.identity(layerA, layerB, "a_id").collect()
    assert(id.length == 4 + 3)
    val up = LayerAlgebra.update(layerA, layerB, "a_id")
      .select(st_area(col("geom")).as("area")).collect().map(_.getDouble(0)).sum
    // A minus B (2+2+3) plus B itself (24+6)
    assert(math.abs(up - (7.0 + 30.0)) < 1e-9)
  }

  test("symdifference covers exactly the non-shared area") {
    val total = LayerAlgebra.symDifference(layerA, layerB, "a_id", "b_id")
      .select(st_area(col("geom")).as("area")).collect().map(_.getDouble(0)).sum
    assert(math.abs(total - (16.0 + 30.0 - 2 * 9.0)) < 1e-9)
  }

  test("dissolve unions per group with additive area for overlaps") {
    val df = Seq(
      ("g1", Wkb.writeBox(0, 0, 10, 10)),
      ("g1", Wkb.writeBox(5, 5, 15, 15)), // overlaps → union area 175
      ("g2", Wkb.writeBox(0, 0, 1, 1)),
      ("g2", Wkb.writeBox(2, 2, 3, 3))).toDF("g", "wkb")
    val m = LayerAlgebra.dissolve(df, Seq("g")).collect()
      .map(r => r.getString(0) -> ((GeomOps.area(r.getAs[Array[Byte]]("geom")), r.getLong(2)))).toMap
    assert(math.abs(m("g1")._1 - 175.0) < 1e-9 && m("g1")._2 == 2L)
    assert(math.abs(m("g2")._1 - 2.0) < 1e-9 && m("g2")._2 == 2L)
  }

  test("dissolve is partitioning-invariant in area (map-side combine safe)") {
    val rnd = new scala.util.Random(3)
    val boxes = (0 until 40).map { i =>
      val x = rnd.nextDouble() * 20; val y = rnd.nextDouble() * 20
      ("g", Wkb.writeBox(x, y, x + 1 + rnd.nextDouble() * 3, y + 1 + rnd.nextDouble() * 3))
    }
    val a1 = LayerAlgebra.dissolve(boxes.toDF("g", "wkb").repartition(1), Seq("g"))
      .collect().map(r => GeomOps.area(r.getAs[Array[Byte]]("geom"))).head
    val a8 = LayerAlgebra.dissolve(boxes.toDF("g", "wkb").repartition(8), Seq("g"))
      .collect().map(r => GeomOps.area(r.getAs[Array[Byte]]("geom"))).head
    assert(math.abs(a1 - a8) < 1e-6)
    // sanity vs direct kernel union
    val direct = Clip.unionArea(boxes.map(_._2))
    assert(math.abs(a1 - direct) < 1e-6)
  }

  test("dissolve of a 10k-feature group finishes fast with exact additive area") {
    // 10k grid boxes: 9.5k disjoint cells + 500 exact duplicates (add zero
    // area) + 100 half-overlapping shifted boxes with closed-form overlap.
    // Additive oracle: disjoint cells are 1×1; each shifted box adds 0.5.
    val cells = (0 until 9500).map { i =>
      val x = (i % 100) * 2.0; val y = (i / 100) * 2.0
      ("g", Wkb.writeBox(x, y, x + 1.0, y + 1.0))
    }
    val dups = (0 until 500).map { i =>
      val x = (i % 100) * 2.0; val y = (i / 100) * 2.0
      ("g", Wkb.writeBox(x, y, x + 1.0, y + 1.0))
    }
    val shifted = (0 until 100).map { i =>
      val x = (i % 100) * 2.0; val y = 0.0 // overlap row 0 cells by half
      ("g", Wkb.writeBox(x + 0.5, y, x + 1.5, y + 1.0))
    }
    val expect = 9500.0 * 1.0 + 100 * 0.5
    val t0 = System.nanoTime()
    val area = LayerAlgebra.dissolve((cells ++ dups ++ shifted).toDF("g", "wkb"), Seq("g"))
      .collect().map(r => GeomOps.area(r.getAs[Array[Byte]]("geom"))).head
    val sec = (System.nanoTime() - t0) / 1e9
    assert(math.abs(area - expect) < 1e-6, s"area $area != $expect")
    assert(sec < 30.0, s"10k dissolve took $sec s — cascaded merge must keep this in seconds")
  }

  test("st_intersection/st_difference usable from SQL") {
    val n = spark.sql(
      """SELECT st_area(st_intersection(st_make_box(0D, 0D, 10D, 10D),
        |                              st_make_box(5D, 5D, 20D, 20D))) AS a""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(n - 25.0) < 1e-9)
  }

  test("point subjects: intersection keeps inside members, erase the outside ones") {
    val box = Wkb.writeBox(0, 0, 10, 10)
    val single = Wkb.writePoint(5, 5)
    val outside = Wkb.writePoint(15, 5)
    val multi = Wkb.writeMultiPoint(Array(1, 1, 15, 5, 9, 9, -3, 2))
    // kernel level
    assert(Clip.intersection(single, box).map(Wkb.read(_).points.toSeq).contains(Seq(5.0, 5.0)))
    assert(Clip.intersection(outside, box).isEmpty)
    assert(Clip.difference(outside, box).map(Wkb.read(_).points.toSeq).contains(Seq(15.0, 5.0)))
    assert(Clip.intersection(multi, box).map(Wkb.read(_).points.toSeq).contains(Seq(1.0, 1.0, 9.0, 9.0)))
    assert(Clip.difference(multi, box).map(Wkb.read(_).points.toSeq).contains(Seq(15.0, 5.0, -3.0, 2.0)))
    // holes: a point inside the hole is NOT inside the polygon
    val holed = Wkb.writePolygon(Array(
      Array(0.0, 0, 10, 0, 10, 10, 0, 10, 0, 0),
      Array(4.0, 4, 4, 6, 6, 6, 6, 4, 4, 4)))
    assert(Clip.intersection(Wkb.writePoint(5, 5), holed).isEmpty)
    assert(Clip.intersection(Wkb.writePoint(2, 2), holed).isDefined)
    // operator level: one row per (point, region) containment
    val pts = Seq((1L, Wkb.writePoint(5, 5)), (2L, Wkb.writePoint(15, 5)),
      (3L, Wkb.writePoint(25, 5))).toDF("pid", "wkb_a")
    val regions = Seq((10L, Wkb.writeBox(0, 0, 10, 10)), (20L, Wkb.writeBox(12, 0, 22, 10)))
      .toDF("rid", "wkb_b")
    val got = LayerAlgebra.intersection(pts, regions, level = 3)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L)))
    val erased = LayerAlgebra.erase(pts, regions, "pid", level = 3)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(erased == Set(3L))
  }

  test("multipoint WKB roundtrips through write/read/envelope") {
    val coords = Array(1.5, -2.5, 30.25, 40.75, -5.0, 6.0)
    val wkb = Wkb.writeMultiPoint(coords)
    assert(Wkb.geomType(wkb) == Wkb.MultiPointType)
    assert(Wkb.read(wkb).points.toSeq == coords.toSeq)
    assert(Wkb.envelope(wkb) == ((-5.0, -2.5, 30.25, 40.75)))
  }
}
