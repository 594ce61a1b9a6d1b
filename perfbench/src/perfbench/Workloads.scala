package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.expr.functions._
import graft.gen.Fixtures
import graft.pipeline.{Caches, Pipeline}

/** The two workloads. Each is a closed loop with one client: set up
  * (three times, `setup_s` = median), one untimed pass whose outputs are
  * checked, then timed passes until `--seconds` have elapsed. A full GC
  * after every timed pass samples the live old generation for
  * `peak_heap_mb`. End-to-end metrics, all workloads:
  *  - `throughput_per_s`: work units per second — images per median
  *    pipeline batch wall, or queries per summed query wall.
  */
object Workloads {
  /** Tile zoom of the pipeline and of the tile store. */
  val Z = 6
  /** Images per pipeline batch, and untimed batches after the check. */
  val PipelineImages = 500
  val WarmupBatches = 3
  /** Images and upsert waves of the ingest probe (traced pipeline runs). */
  val IngestImages = 240
  val IngestWaves = 6
  /** Fixed query_mix subset of `graft.Bench.Headline` (see DESIGN.json):
    * wall-stratified over the headline set, covering all four query
    * families, the spatial joins and the build-dominated queries. */
  val QueryMix: Seq[String] = Seq(
    "q07_join_inner", "q10_window_topk", "q16_events_window", "q162_join_first_match",
    "q22_pip_join", "q25_knn", "q26_grid_metrics", "q97_pansharpen", "q142_image_chips",
    "q118_dedup_pipeline", "q154_epoch_shuffle",
    "q61_layer_intersection", "q85_sql_intersects_join")

  /** Back-to-back runs of each query per timed pass; its wall is the min. */
  val QueryRepeats = 2

  /** Seed → first image key; consecutive keys cycle every format, size
    * and georeference kind, so every seed gets the same mix. */
  def baseKey(seed: Long): Long = Math.floorMod(seed, 100000L) * 100000L

  def images(s: SparkSession, base: Long, n: Int, parts: Int): DataFrame = {
    import s.implicits._
    s.range(base, base + n, 1, parts).as[Long].map(Fixtures.genImage).toDF()
  }

  def regions(s: SparkSession): DataFrame = {
    import s.implicits._
    Probes.RegionBoxes.zipWithIndex.map { case ((x0, y0, x1, y1), k) =>
      (k.toLong, graft.core.Wkb.writeBox(x0, y0, x1, y1))
    }.toDF("region_id", "wkb")
  }

  /** image_stats + footprint of every decodable image. */
  def footprinted(imgs: DataFrame): DataFrame =
    imgs
      .withColumn("stats", image_stats(col("bytes"), col("fmt"), col("w"), col("h")))
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .filter(col("stats")(0) >= 1)

  /** footprinted, then the region probe (n_regions). */
  def probed(imgs: DataFrame, regs: DataFrame): DataFrame =
    graft.ops.SpatialJoin.envMatchIndexed(footprinted(imgs), regs)

  /** The north-rule pipeline, composed as graft.Bench composes it. */
  def pipelinePlan(imgs: DataFrame, regs: DataFrame): DataFrame =
    graft.ops.Tiling.baseTiles(probed(imgs, regs).filter(col("n_regions") >= 1), z = Z, kernel = "near")
      .withColumn("cks", planes_checksums(col("buf")))
      .select(col("tile"), col("n_images"), col("cks"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Timed passes until `--seconds` have elapsed (at least one); returns
    * the number of passes. */
  def loop(r: Run)(pass: Int => Unit): Int = {
    r.phase("check")
    r.tracer.timed = true
    val gc0 = r.gcSeconds
    val t0 = System.nanoTime()
    var p = 0
    var forcedGc = 0.0
    while (seconds(t0) < r.args.seconds) {
      pass(p)
      p += 1
      val g = r.gcSeconds
      r.sampleHeap()
      forcedGc += r.gcSeconds - g
    }
    r.tracer.timed = false
    r.phase("timed")
    r.context("timed_passes") = p
    r.context("timed_window_s") = seconds(t0)
    r.context("gc_s_per_pass") = (r.gcSeconds - gc0 - forcedGc) / p
    p
  }

  /** `units` work units take `seconds` (a median op wall, or the sum of
    * per-query walls). */
  def endToEnd(r: Run, units: Double, opWalls: Seq[Double], seconds: Double): Unit = {
    r.context("op_samples") = opWalls.length
    r.e2e("throughput_per_s") = (units / seconds, "1/s")
    r.e2e("peak_heap_mb") = (r.peakHeapMb, "MB")
    // op percentiles are context, not bounded metrics: a run has 8-13 ops,
    // so no upper percentile has ten samples beyond it, and the median of
    // 13 unlike queries jumps between queries from run to run
    r.context("op_p50_s") = Stats.median(opWalls)
    r.context("op_p90_s") = Stats.quantile(opWalls, 0.9)
  }

  // ------------------------------------------------------------------
  // pipeline

  def pipeline(r: Run): Unit = {
    val base = baseKey(r.args.seed)
    val n = PipelineImages
    val (imgs, regs) = r.setup(3) { s =>
      val im = images(s, base, n, r.cpus).persist(StorageLevel.MEMORY_AND_DISK)
      im.count()
      (im, regions(s))
    }
    val spark = r.spark
    r.context("inputs") = Json.obj("images" -> n, "first_key" -> base, "zoom" -> Z, "regions" -> 25,
      "input_image_bytes" -> imgs.agg(sum(length(col("bytes")))).head().getLong(0))

    val georef = imgs.select("gt", "w", "h", "srid").collect()
      .map(row => (row.getSeq[Double](0).toArray, row.getInt(1), row.getInt(2), row.getInt(3))).toSeq
    val expect = Probes.recount(georef, Z)
    r.op("check", "pipeline.check") {
      val got = pipelinePlan(imgs, regs).agg(count(lit(1)), sum(col("n_images"))).head()
      r.check("pipeline.tiles_vs_core_recount",
        got.getLong(0) == expect.tiles && got.getLong(1) == expect.sumImages,
        Json.obj("tiles" -> got.getLong(0), "expect_tiles" -> expect.tiles,
          "sum_n_images" -> got.getLong(1), "expect_sum_n_images" -> expect.sumImages,
          "matched_images" -> expect.matched))
    }

    // a batch keeps getting faster for a few batches while the JIT compiles
    (1 to WarmupBatches).foreach(i => r.op(s"warmup$i", "pipeline.warmup")(noop(pipelinePlan(imgs, regs))))
    val walls = ArrayBuffer.empty[Double]
    val passes = loop(r) { p =>
      val t0 = System.nanoTime()
      r.op(s"batch$p", "pipeline.batch") {
        val df = r.tracer.span("build", "pipeline.build")(pipelinePlan(imgs, regs))
        r.tracer.span("exec", "pipeline.exec")(noop(df))
      }.foreach(_ => walls += seconds(t0))
    }
    endToEnd(r, n, walls.toSeq, Stats.median(walls.toSeq))
    r.context("pipeline_images_per_sec") = n / Stats.median(walls.toSeq)

    if (r.args.trace) {
      Layers.spark(r, passes)
      Layers.tiling(r, passes, _.layer == "pipeline.exec", expect.sumImages.toDouble / expect.matched)
      Layers.joinProbe(r, imgs, regs)
      Probes.kernels(r, base, Z)
      ingestProbe(r, imgs, regs, base)
    }
  }

  // ------------------------------------------------------------------
  // query_mix

  def family(name: String): String = Seq(
    "relational" -> graft.queries.Relational.defs, "geospatial" -> graft.queries.Geospatial.defs,
    "training_data" -> graft.queries.TrainingData.defs, "geometry" -> graft.queries.Geometry.defs)
    .collectFirst { case (f, defs) if defs.exists(_._1 == name) => f }.getOrElse("unknown")

  def queryMix(r: Run): Unit = {
    val dir = r.dataDir
    val goldens = Goldens.load(r.args.root)
    r.setup(3) { s =>
      s.read.parquet(s"$dir/lineitem.parquet").count()
      Fixtures.imagesFromParts(s, dir)
    }
    val spark = r.spark
    val registry = graft.SparkEntry.queries
    val resolved = QueryMix.flatMap { n =>
      registry.get(n) match {
        case Some(f) => Some(n -> f)
        case None =>
          r.attempted += 1
          r.fail(n, new NoSuchElementException(s"headline query $n is missing from SparkEntry.queries"))
          None
      }
    }
    r.check("query_mix_subset_of_headline", QueryMix.forall(graft.Bench.Headline.contains),
      Json.obj("not_headline" -> QueryMix.filterNot(graft.Bench.Headline.contains)))
    r.context("inputs") = Json.obj("sf_dir" -> "perfbench/data/sf0.01", "queries" -> QueryMix.length,
      "headline_total" -> graft.Bench.Headline.length)

    // check pass: digest of every query's result against the goldens
    new scala.util.Random(r.args.seed).shuffle(resolved).foreach { case (n, f) =>
      r.op(s"$n:check", "queries.check") {
        val got = try Goldens.digest(f(spark, dir)) finally Caches.release()
        val want = goldens.get(n)
        r.check(s"digest:$n", want.contains(got), Json.obj("rows" -> got._1, "digest" -> got._2,
          "golden_rows" -> want.map(_._1), "golden_digest" -> want.map(_._2)))
      }
    }

    val walls = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var tracked = 0L
    val passes = loop(r) { p =>
      new scala.util.Random(r.args.seed * 1000003L + p + 1).shuffle(resolved).foreach { case (n, f) =>
        (1 to QueryRepeats).foreach { _ =>
          val t0 = System.nanoTime()
          r.op(n, "query") {
            try {
              val df = r.tracer.span(n, "queries.build")(f(spark, dir))
              r.tracer.span(n, "queries.exec")(noop(df))
              tracked += Caches.tracked
            } finally Caches.release()
          }.foreach(_ => walls.getOrElseUpdate(n, ArrayBuffer.empty) += seconds(t0))
        }
      }
    }
    // min over a query's back-to-back runs: host noise only adds time
    val perQuery = walls.map { case (n, ws) => n -> ws.min }
    val total = perQuery.values.sum
    endToEnd(r, perQuery.size.toDouble, perQuery.values.toSeq, total)
    r.context("query_mix_total_s") = total
    r.context("query_p50_s") = Stats.median(perQuery.values.toSeq)
    r.context("query_p90_s") = Stats.quantile(perQuery.values.toSeq, 0.9)
    r.context("query_walls_s") = Json.Obj(perQuery.toSeq.sortBy(_._1))

    if (r.args.trace) {
      // per-layer figures are per run-through of the query set
      val runs = passes * QueryRepeats
      Layers.spark(r, runs)
      Layers.queries(r, runs, family)
      r.layer("caches.tracked_frames") = (tracked.toDouble / runs, "count")
      Layers.joinProbe(r, Fixtures.imagesFromParts(spark, dir), regions(spark))
      Probes.kernels(r, baseKey(r.args.seed), Z)
    }
  }

  // ------------------------------------------------------------------
  // ingest probe

  /** pfx partition dir → (file name → bytes) of a hive-partitioned store. */
  def listing(store: Path): Map[String, Map[String, Long]] =
    if (!Files.exists(store)) Map.empty else {
      val ls = Files.list(store)
      try ls.toArray.map(_.asInstanceOf[Path]).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("pfx="))
        .map { d =>
          val fs = Files.list(d)
          try d.getFileName.toString -> fs.toArray.map(_.asInstanceOf[Path])
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.getFileName.toString -> Files.size(f)).toMap
          finally fs.close()
        }.toMap
      finally ls.close()
    }

  /** The checkpoint and tile-store layers, run once inside a traced
    * pipeline run after its timed window: a staged Pipeline.run
    * (footprint -> join -> tiles, parquet + manifest per stage), upsert
    * waves into a fresh store (later waves read, merge and rewrite stored
    * parent partitions), the all-manifests-match resume, and the checks. */
  def ingestProbe(r: Run, all: DataFrame, regs: DataFrame, base: Long): Unit = {
    val spark = r.spark
    val imgs = all.filter(col("key") < base + IngestImages)
    val inputBytes = imgs.agg(sum(length(col("bytes")))).head().getLong(0)
    r.context("ingest_inputs") = Json.obj("images" -> IngestImages, "waves" -> IngestWaves, "zoom" -> Z,
      "input_image_bytes" -> inputBytes)

    // stage fns open a build span, then leave a write span open across
    // Pipeline.run's parquet write + manifest job for that stage
    var writeSpan: Span = null
    def closeWrite(): Unit = { r.tracer.close(writeSpan); writeSpan = null }
    def stage(name: String, deps: Seq[String])(fn: Map[String, DataFrame] => DataFrame) =
      Pipeline.Stage(name, deps, "perfbench-v1", (_: SparkSession, in: Map[String, DataFrame]) => {
        closeWrite()
        val df = r.tracer.span(name, "pipeline.stage_build")(fn(in))
        writeSpan = r.tracer.open(name, "pipeline.stage_write")
        df
      })
    val stages = Seq(
      stage("footprint", Nil)(_ => footprinted(imgs)),
      stage("join", Seq("footprint"))(in => graft.ops.SpatialJoin.envMatchIndexed(in("footprint"), regs)
        .filter(col("n_regions") >= 1)),
      stage("tiles", Seq("join"))(in => graft.ops.Tiling.baseTiles(in("join"), z = Z, kernel = "near")
        .withColumn("cks", planes_checksums(col("buf")))))
    val dir = r.work.resolve("ingest")
    val ckpt = dir.resolve("checkpoints")
    val store = dir.resolve("store")
    def runStages(): Seq[Pipeline.StageResult] =
      try Pipeline.run(spark, ckpt.toString, stages) finally closeWrite()
    def timed[T](walls: ArrayBuffer[Double])(body: => Option[T]): Option[T] = {
      val t0 = System.nanoTime()
      val out = body
      if (out.isDefined) walls += seconds(t0)
      out
    }

    // the layer functions read spans marked timed
    r.tracer.timed = true
    val runWalls, waveWalls, resumeWalls = ArrayBuffer.empty[Double]
    timed(runWalls)(r.op("ingest.stages", "pipeline.run")(runStages()))
    var written = 0L
    val touched = ArrayBuffer.empty[Double]
    (0 until IngestWaves).foreach { w =>
      val before = listing(store)
      timed(waveWalls)(r.op(s"ingest.wave$w", "streaming.wave") {
        graft.streaming.Streams.upsertTiles(imgs.filter(pmod(col("key"), lit(IngestWaves)) === w), Z, store.toString)
      })
      val after = listing(store)
      val old = before.values.flatMap(_.keys).toSet
      written += after.values.flatMap(_.iterator).filterNot { case (f, _) => old(f) }.map(_._2).sum
      touched += before.keys.count(k => after.get(k) != before.get(k))
    }
    timed(resumeWalls)(r.op("ingest.resume", "pipeline.resume") {
      val res = runStages()
      r.check("resume_reruns_zero_stages", res.forall(_.skipped),
        Json.obj("rerun" -> res.filterNot(_.skipped).map(_.name)))
    })
    r.tracer.timed = false
    val storeBytes = r.treeBytes(store)
    val storeRatio = (storeBytes + r.treeBytes(ckpt)).toDouble / inputBytes

    r.op("ingest.oneshot_check", "streaming.check") {
      // the waved store must equal one upsert of every image, per tile
      val oneshot = dir.resolve("oneshot")
      graft.streaming.Streams.upsertTiles(imgs, Z, oneshot.toString)
      def side(p: Path, s: String) = spark.read.parquet(p.toString)
        .select(col("tile"), col("n_images").as(s"n_$s"), xxhash64(col("buf")).as(s"h_$s"))
      val row = side(store, "a").join(side(oneshot, "b"), Seq("tile"), "full_outer")
        .agg(count(lit(1)),
          sum(when(col("n_a").isNull || col("n_b").isNull || col("n_a") =!= col("n_b") ||
            col("h_a") =!= col("h_b"), 1).otherwise(0)),
          sum(col("n_a")))
        .head()
      r.check("store_equals_oneshot_upsert", row.getLong(1) == 0L && row.getLong(0) > 0L,
        Json.obj("tiles" -> row.getLong(0), "mismatched_tiles" -> row.getLong(1), "sum_n_images" -> row.getLong(2)))
    }
    r.deleteTree(dir)

    r.context("ingest_images_per_sec") = IngestImages * waveWalls.length.toDouble / IngestWaves / waveWalls.sum
    r.context("ingest_op_walls_s") = Json.obj("stages" -> runWalls, "waves" -> waveWalls, "resume" -> resumeWalls)
    Layers.pipelineStages(r, 1)
    r.layer("pipeline.resume_s") = (resumeWalls.sum, "s")
    r.layer("streaming.upsert_s") = (Stats.median(waveWalls.toSeq), "s")
    r.layer("streaming.touched_pfx") = (Stats.median(touched.toSeq), "count")
    r.layer("streaming.bytes_rewritten_per_new_byte") = (written.toDouble / storeBytes, "ratio")
    r.layer("streaming.store_bytes_per_input_byte") = (storeRatio, "ratio")
  }
}
