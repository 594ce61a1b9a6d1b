package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "good" -> ((s: SparkSession, _: String) => s.range(10).toDF("id")),
    "broken" -> ((_: SparkSession, _: String) => throw new IllegalStateException("boom \"quoted\"\nline")))

  test("runQueries records a missing name and a query failing every pass, with messages") {
    val runs = Bench.runQueries(spark, registry, TestSpark.Sf, Seq("good", "broken", "renamed"), passes = 2).toMap
    assert(runs.keySet == Set("good", "broken", "renamed"))

    val good = runs("good")
    assert(good.error.isEmpty && good.wallSec >= 0)
    assert(good.jobs >= 1, "the noop write runs at least one Spark job")

    assert(runs("broken") == Bench.QueryRun(-1, 0, Some("boom \"quoted\"\nline")))
    assert(runs("renamed").wallSec == -1)
    assert(runs("renamed").error.exists(_.contains("not in SparkEntry.queries")))
  }

  test("queryFields is valid JSON carrying every failure") {
    val runs = Bench.runQueries(spark, registry, TestSpark.Sf, Seq("good", "broken", "renamed"), passes = 1)
    val line = new ObjectMapper().readTree("{" + Bench.queryFields(runs) + "}")
    assert(line.get("queries").get("broken").asDouble == -1.0)
    assert(line.get("queries").get("renamed").asDouble == -1.0)
    assert(line.get("query_jobs").get("good").asLong >= 1)
    assert(line.get("n_failed").asInt == 2)
    assert(line.get("failed").get("broken").asText == "boom \"quoted\"\nline")
    assert(!line.get("failed").has("good"))
  }
}
