package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digests and the golden file they are checked
  * against (`perfbench/goldens/query_digests.json`). */
object Goldens {
  /** (rows, digest): the row count plus the decimal sum and the xor of a
    * 64-bit xxhash per row. Map columns hash through their JSON form
    * (xxhash64 rejects maps). */
  def digest(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, f"$s:$x%016x")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def file(root: Path): Path = root.resolve("perfbench").resolve("goldens").resolve("query_digests.json")

  /** name → (rows, digest). */
  def load(root: Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val t = Json.mapper.readTree(file(root).toFile).get("queries")
    t.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  /** Digests every query directory of a `graft.Verify` output (run on
    * perfbench/data/sf0.01 and accepted by tools/selfcheck.py) into the
    * golden file. */
  def record(root: Path, verifyOut: Path): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost").config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val ls = Files.list(verifyOut)
    val dirs = try ls.toArray.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_)).sortBy(_.getFileName.toString)
      finally ls.close()
    val entries = dirs.toSeq.map { d =>
      val (n, dg) = digest(spark.read.parquet(d.toString))
      d.getFileName.toString -> Json.obj("rows" -> n, "digest" -> dg)
    }
    spark.stop()
    Files.createDirectories(file(root).getParent)
    val source = "graft.Verify over perfbench/data/sf0.01, accepted by tools/selfcheck.py (see selfcheck.txt)"
    Files.writeString(file(root), s"{\n  \"source\": ${Json(source)},\n  \"queries\": {\n" +
      entries.map { case (n, o) => s"    ${Json(n)}: ${Json(o)}" }.mkString(",\n") + "\n  }\n}\n")
    println(s"recorded ${entries.length} digests to ${file(root)}")
  }

  /** End-to-end values of an earlier result file of this benchmark. */
  def readE2e(p: Path): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val t = Json.mapper.readTree(p.toFile).path("context").path("end_to_end")
    t.fields().asScala.map(e => e.getKey -> e.getValue.get("value").asDouble).toMap
  }
}
