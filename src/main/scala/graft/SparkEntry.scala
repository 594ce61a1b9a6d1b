package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry aggregating every operator family:
  *  - graft.queries.Relational — OGR-SQL-equivalent surface (§2.2–§2.6)
  *  - graft.queries.Geospatial — cell index, PIP join, kNN, tiling (§2.3/2.8)
  *  - graft.queries.TrainingData — dedup / similarity / text analysis
  */
object SparkEntry {
  private lazy val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    queries_registry

  private def queries_registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    graft.queries.Relational.defs ++ graft.queries.Geospatial.defs ++
      graft.queries.TrainingData.defs ++ graft.queries.Geometry.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the decode→footprint→cell→PIP-join→tile pipeline at small scale. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Geospatial.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) => n -> f }.toMap

  /** SPARK_GRAFT_ONLY=<name,...> replaces a main's `default` query list
    * (Bench: Headline; Verify and PlanAudit: every registered query). The
    * names are not checked here: each main reports an unknown one. */
  def selected(default: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(default)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (raster kernels, LSH internals) → driver records rows-only check. */
  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql.stripMargin.trim }.toMap
}
