package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import graft.Json.{quote => q}

/** Staged pipeline runner with Iceberg-style checkpointing (SURVEY.md §7.4).
  *
  * Each stage materializes to `<root>/<stage>/data` (parquet) and then
  * atomically publishes `<root>/<stage>/_manifest.json` carrying row count,
  * per-partition row counts, per-file byte sizes, and the lineage
  * fingerprint of its inputs (sha-256 of the upstream manifests + the
  * stage's version tag). A rerun skips every stage whose manifest exists
  * with a matching lineage fingerprint — a killed job resumes from the
  * last complete stage (north rule). The manifest-last write order makes
  * completion atomic: a crash mid-write leaves no manifest → stage reruns.
  *
  * The reference has no restartable execution (its closest analog is the
  * tile app's spawned-worker tile lists, apps/gdalalg_raster_tile.cpp:
  * 294-300); this module is where the Spark engine must go beyond it.
  */
object Pipeline {
  final case class Stage(name: String, deps: Seq[String], version: String,
                         fn: (SparkSession, Map[String, DataFrame]) => DataFrame)

  final case class StageResult(name: String, df: DataFrame, skipped: Boolean)

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  def manifestPath(root: String, stage: String) = Paths.get(root, stage, "_manifest.json")
  def dataPath(root: String, stage: String): String = Paths.get(root, stage, "data").toString

  /** Lineage fingerprint: stage version + sha of every dep's manifest. */
  private def fingerprint(root: String, stage: Stage): String = {
    val deps = stage.deps.sorted.map { d =>
      val p = manifestPath(root, d)
      s"$d:${if (Files.exists(p)) sha256(Files.readString(p)) else "missing"}"
    }
    sha256((stage.version +: deps).mkString("|"))
  }

  private def readFingerprint(p: java.nio.file.Path): Option[String] = {
    if (!Files.exists(p)) return None
    val txt = Files.readString(p)
    """"lineage_fingerprint"\s*:\s*"([0-9a-f]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
  }

  /** Run all stages in order; returns per-stage DataFrames (reading back
    * from the checkpoint, so downstream work always consumes the
    * materialized copy — identical on first run and on resume). */
  def run(spark: SparkSession, root: String, stages: Seq[Stage]): Seq[StageResult] = {
    Files.createDirectories(Paths.get(root))
    val done = scala.collection.mutable.Map.empty[String, DataFrame]
    val results = scala.collection.mutable.ArrayBuffer.empty[StageResult]
    stages.foreach { st =>
      val fp = fingerprint(root, st)
      val mp = manifestPath(root, st.name)
      val skip = readFingerprint(mp).contains(fp)
      if (!skip) {
        val inputs = st.deps.map(d => d -> done(d)).toMap
        val out = st.fn(spark, inputs)
        val dataDir = dataPath(root, st.name)
        out.write.mode("overwrite").parquet(dataDir)
        writeManifest(spark, root, st, fp)
      }
      val df = spark.read.parquet(dataPath(root, st.name))
      done(st.name) = df
      results += StageResult(st.name, df, skip)
    }
    results.toSeq
  }

  private def writeManifest(spark: SparkSession, root: String, st: Stage, fp: String): Unit = {
    val dataDir = dataPath(root, st.name)
    val df = spark.read.parquet(dataDir)
    // per-partition row metrics (north rule: per-partition lineage + counts)
    val perPart = df.groupBy(spark_partition_id().as("pid"))
      .count().orderBy(col("pid"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val rowCount = perPart.map(_._2).sum
    val listing = Files.list(Paths.get(dataDir))
    val files =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        .map(p => (p.getFileName.toString, Files.size(p)))
      finally listing.close()
    val json = new StringBuilder
    json ++= "{\n"
    json ++= s"  ${q("stage")}: ${q(st.name)},\n"
    json ++= s"  ${q("version")}: ${q(st.version)},\n"
    json ++= s"  ${q("lineage_fingerprint")}: ${q(fp)},\n"
    json ++= s"  ${q("deps")}: [${st.deps.map(q).mkString(", ")}],\n"
    json ++= s"  ${q("row_count")}: $rowCount,\n"
    json ++= s"  ${q("schema")}: ${q(df.schema.json)},\n"
    json ++= s"  ${q("partitions")}: [" +
      perPart.map { case (pid, n) => s"{${q("pid")}: $pid, ${q("rows")}: $n}" }.mkString(", ") + "],\n"
    json ++= s"  ${q("files")}: [" +
      files.map { case (f, b) => s"{${q("file")}: ${q(f)}, ${q("bytes")}: $b}" }.mkString(", ") + "]\n"
    json ++= "}\n"
    // write-then-move: the manifest appears atomically, completing the stage
    val tmp = Paths.get(root, st.name, "_manifest.json.tmp")
    Files.writeString(tmp, json.toString)
    Files.move(tmp, manifestPath(root, st.name), StandardCopyOption.ATOMIC_MOVE)
  }
}
