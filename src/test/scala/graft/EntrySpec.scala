package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("driver flagship entry returns rows at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every registered query has distinct name and runs at sf0.001") {
    // SparkEntry.queries is built with toMap, which keeps only the last of
    // two defs sharing a name: check the concatenated defs themselves
    val names = (graft.queries.Relational.defs ++ graft.queries.Geospatial.defs ++
      graft.queries.TrainingData.defs ++ graft.queries.Geometry.defs).map(_._1)
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
    assert(names.toSet == SparkEntry.queries.keySet)
    // spot-run the newest additions end to end
    for (q <- Seq("q35_focal_dem", "q36_sample_at", "q37_intersect_except")) {
      assert(SparkEntry.queries(q)(spark, TestSpark.Sf).count() > 0, q)
    }
  }

  test("Bench.Headline is 111 distinct registered query names") {
    val h = Bench.Headline
    assert(h.length == 111)
    assert(h.diff(h.distinct).isEmpty, "duplicate headline names")
    val unknown = h.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline names not in SparkEntry.queries: $unknown")
  }

  test("oracle SQL keys are a subset of query keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }
}
