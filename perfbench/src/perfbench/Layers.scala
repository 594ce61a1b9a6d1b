package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, derived from the spans of the timed
  * passes and the Spark events attributed to them. Counts, bytes and
  * seconds are per timed pass (one query_mix run-through, one pipeline
  * batch); the ingest probe's figures are for its single cycle. */
object Layers {
  /** Every per-layer metric, in BENCHMARK.json order. A layer that a
    * workload does not exercise reports 0. */
  val All: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.exec_s" -> "s",
    "queries.relational_s" -> "s", "queries.geospatial_s" -> "s",
    "queries.training_data_s" -> "s", "queries.geometry_s" -> "s",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.core_busy_share" -> "ratio", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.task_skew_p90" -> "ratio",
    "ops.spatial_join.probe_s" -> "s", "ops.spatial_join.match_ratio" -> "ratio",
    "ops.tiling.map_stage_s" -> "s", "ops.tiling.reduce_stage_s" -> "s",
    "ops.tiling.tiles_per_image" -> "ratio", "pipeline.stage_coverage" -> "ratio",
    "core.decode_ms.raw" -> "ms", "core.decode_ms.png" -> "ms", "core.decode_ms.jpeg" -> "ms",
    "core.warp_ms_per_tile" -> "ms", "expr.mosaic_merge_us" -> "us",
    "pipeline.stage_write_s" -> "s", "pipeline.jobs_per_stage" -> "count", "pipeline.resume_jobs" -> "count",
    "pipeline.resume_s" -> "s", "caches.tracked_frames" -> "count",
    "streaming.upsert_s" -> "s", "streaming.touched_pfx" -> "count",
    "streaming.bytes_rewritten_per_new_byte" -> "ratio", "streaming.store_bytes_per_input_byte" -> "ratio")

  /** Fills the layers this workload did not exercise with 0 and puts the
    * metrics in the canonical order. */
  def complete(r: Run): Unit = {
    val have = r.layer.toMap
    r.layer.clear()
    All.foreach { case (k, u) => r.layer(k) = (have.get(k).map(_._1).getOrElse(0.0), u) }
  }

  /** Span layers that build a DataFrame on the driver. */
  val Builds = Set("pipeline.build", "queries.build", "pipeline.stage_build")

  private def timedSpans(r: Run): Seq[Span] = r.tracer.spans.filter(_.timed).toSeq

  /** Analysis + optimization + planning ms of the query executions that
    * started inside the given spans. */
  def planMsIn(r: Run, spans: Seq[Span]): Double = {
    val windows = spans.map(s => (r.tracer.epochMs(s.startNs), r.tracer.epochMs(s.endNs)))
    r.stats.plans.toArray.toSeq.map(_.asInstanceOf[(Long, Long)])
      .filter { case (t, _) => windows.exists { case (a, b) => t >= a && t <= b } }.map(_._2.toDouble).sum
  }

  /** Stages submitted inside a span matching `pick` (or its descendants). */
  def stagesUnder(r: Run, pick: Span => Boolean): Seq[StageRec] = {
    val ids = r.tracer.spans.filter(pick).map(_.id).toSet
    r.stats.stageList.filter(s => r.tracer.chains.getOrElse(s.span, Nil).exists(ids))
  }

  def jobsUnder(r: Run, pick: Span => Boolean): Int = {
    val ids = r.tracer.spans.filter(pick).map(_.id).toSet
    r.stats.jobList.count { case (_, s) => r.tracer.chains.getOrElse(s, Nil).exists(ids) }
  }

  /** Engine and shuffle layer: everything submitted inside timed ops. */
  def spark(r: Run, passes: Int): Unit = {
    r.drain()
    val ops = timedSpans(r).filter(_.parent == 0L)
    val opWall = ops.map(_.seconds).sum
    val st = stagesUnder(r, s => s.timed)
    val planMs = planMsIn(r, ops)
    val p = passes.toDouble
    r.layer("spark.plan_s") = (planMs / 1e3 / p, "s")
    r.layer("spark.jobs") = (jobsUnder(r, _.timed) / p, "count")
    r.layer("spark.tasks") = (st.map(_.taskMs.length).sum / p, "count")
    r.layer("spark.core_busy_share") = (st.map(_.runMs).sum / 1e3 / (opWall * r.cpus), "ratio")
    r.layer("spark.executor_cpu_s") = (st.map(_.cpuNs).sum / 1e9 / p, "s")
    r.layer("spark.gc_s") = (r.context("gc_s_per_pass").asInstanceOf[Double], "s")
    r.layer("spark.shuffle_write_bytes") = (st.map(_.shuffleWrite).sum / p, "B")
    r.layer("spark.shuffle_read_bytes") = (st.map(_.shuffleRead).sum / p, "B")
    r.layer("spark.spill_bytes") = (st.map(_.spill).sum / p, "B")
    val skews = st.filter(_.taskMs.length >= 2).flatMap { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      if (med > 0) Some(s.taskMs.max / med) else None
    }
    r.layer("spark.task_skew_p90") = (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.9), "ratio")
    // attributed time: driver-side DataFrame builds (their eager jobs
    // included), then Catalyst phases and Spark stages outside a build
    val builds = timedSpans(r).filter(s => Builds(s.layer))
    val inBuild = stagesUnder(r, s => s.timed && Builds(s.layer)).map(_.stageId).toSet
    val cover = (builds.map(_.seconds).sum + (planMs - planMsIn(r, builds)) / 1e3 +
      st.filterNot(s => inBuild(s.stageId)).map(_.seconds).sum) / opWall
    r.layer("pipeline.stage_coverage") = (cover, "ratio")
    r.context("layer_self_s_per_pass") = Json.Obj(r.tracer.selfSeconds(_.timed).toSeq.sortBy(-_._2)
      .map { case (k, v) => k -> v / p })
    r.context("op_wall_s_per_pass") = opWall / p
    r.context("reconcile_stage_coverage") = Json.obj("value" -> cover, "ok" -> (cover >= 0.9 && cover <= 1.1))
  }

  /** queries layer: build vs execute, per family. */
  def queries(r: Run, passes: Int, family: String => String): Unit = {
    val p = passes.toDouble
    val ts = timedSpans(r)
    val build = ts.filter(_.layer == "queries.build").map(_.seconds).sum
    val exec = ts.filter(_.layer == "queries.exec").map(_.seconds).sum
    val walls = ts.filter(_.layer == "query")
    r.layer("queries.build_s") = (build / p, "s")
    r.layer("queries.build_jobs") = (jobsUnder(r, s => s.timed && s.layer == "queries.build") / p, "count")
    r.layer("queries.exec_s") = (exec / p, "s")
    val byFam = walls.groupBy(s => family(s.name)).map { case (f, ss) => f -> ss.map(_.seconds).sum }
    Seq("relational", "geospatial", "training_data", "geometry").foreach { f =>
      r.layer(s"queries.${f}_s") = (byFam.getOrElse(f, 0.0) / p, "s")
    }
    val wall = walls.map(_.seconds).sum
    val ratio = (build + exec) / wall
    r.context("reconcile_build_plus_exec") = Json.obj("build_plus_exec_s" -> (build + exec) / p,
      "query_walls_s" -> wall / p, "ratio" -> ratio, "ok" -> (ratio >= 0.9 && ratio <= 1.1))
  }

  /** ops.tiling: shuffle-map (decode + warp) and reduce (mosaic) stages
    * inside the spans that execute baseTiles. */
  def tiling(r: Run, passes: Int, pick: Span => Boolean, tilesPerImage: Double): Unit = {
    val st = stagesUnder(r, s => s.timed && pick(s))
    val p = passes.toDouble
    r.layer("ops.tiling.map_stage_s") = (st.filter(_.shuffleWrite > 0).map(_.seconds).sum / p, "s")
    r.layer("ops.tiling.reduce_stage_s") = (st.filter(s => s.shuffleWrite == 0 && s.shuffleRead > 0).map(_.seconds).sum / p, "s")
    r.layer("ops.tiling.tiles_per_image") = (tilesPerImage, "ratio")
    val spans = r.tracer.spans.filter(s => s.timed && pick(s)).toSeq
    val wall = spans.map(_.seconds).sum
    val ratio = (st.map(_.seconds).sum + planMsIn(r, spans) / 1e3) / wall
    r.context("reconcile_tiling_stages") = Json.obj("stages_plus_plan_over_wall" -> ratio,
      "ok" -> (ratio >= 0.9 && ratio <= 1.1))
  }

  /** pipeline layer of the ingest probe: checkpoint writes and the resume run. */
  def pipelineStages(r: Run, passes: Int): Unit = {
    val p = passes.toDouble
    val writes = timedSpans(r).filter(_.layer == "pipeline.stage_write")
    r.layer("pipeline.stage_write_s") = (writes.map(_.seconds).sum / p, "s")
    r.layer("pipeline.jobs_per_stage") =
      (jobsUnder(r, s => s.timed && s.layer.startsWith("pipeline.stage_")) / math.max(1.0, writes.length), "count")
    r.layer("pipeline.resume_jobs") = (jobsUnder(r, s => s.timed && s.layer == "pipeline.resume") / p, "count")
  }

  /** Timed prefix run: stats + footprint + region probe → noop, median of
    * three; and the share of probed images that match a region. */
  def joinProbe(r: Run, imgs: DataFrame, regs: DataFrame): Unit = {
    val walls = (1 to 3).map { i =>
      r.tracer.span(s"probe$i", "ops.spatial_join") {
        val t0 = System.nanoTime()
        Workloads.noop(Workloads.probed(imgs, regs))
        Workloads.seconds(t0)
      }
    }
    r.layer("ops.spatial_join.probe_s") = (Stats.median(walls), "s")
    val row = Workloads.probed(imgs, regs)
      .agg(count(lit(1)), sum(when(col("n_regions") >= 1, 1).otherwise(0))).head()
    r.layer("ops.spatial_join.match_ratio") = (row.getLong(1).toDouble / row.getLong(0), "ratio")
  }
}
