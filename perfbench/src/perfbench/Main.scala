package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload pipeline|query_mix --seed N
  *                --seconds S --trace 0|1 --root CHECKOUT
  * perfbench.Main --record-goldens VERIFY_OUT --root CHECKOUT
  * }}}
  *
  * Prints a context line (host, bandwidth probes, checks, failures, the
  * workload's named figures) and then, as the last line, the result object
  * `{"correct","attempted","failed","metrics"}`: end-to-end metrics when
  * untraced, per-layer metrics when traced.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize
    kv.get("record-goldens") match {
      case Some(dir) => Goldens.record(root, Paths.get(dir)); return
      case None =>
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", root)
    val run = new Run(a)
    val ok = try {
      Probes.host(run)
      Probes.bandwidth(run, "pre")
      a.workload match {
        case "pipeline" => Workloads.pipeline(run)
        case "query_mix" => Workloads.queryMix(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Probes.bandwidth(run, "post")
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.fail("workload", e)
        false
    } finally run.stopSpark()
    run.finish(ok)
    // q104 and other operators register shutdown hooks; exit explicitly so
    // no non-daemon Spark thread can keep the JVM alive
    System.exit(if (ok) 0 else 3)
  }
}

/** State of one benchmark run: the Spark session, attempted and failed
  * ops, output checks, metrics, and the tracer. */
final class Run(val args: Main.Args) {
  val tracer = new Tracer(args.trace)
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val work: Path = args.root.resolve(".bench_build").resolve("work")
    .resolve(s"${args.workload}-${ProcessHandle.current.pid}")
  val dataDir: String = args.root.resolve("perfbench").resolve("data").resolve("sf0.01").toString
  var spark: SparkSession = _
  var stats: SparkStats = _

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[Json.Obj]
  val checks = ArrayBuffer.empty[Json.Obj]
  var allChecksOk = true
  val context = mutable.LinkedHashMap.empty[String, Any]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val heapSamples = ArrayBuffer.empty[Double]
  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Marks the end of a run phase: seconds since JVM start. */
  def phase(name: String): Unit = phases(name) =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def fail(op: String, e: Throwable): Unit = {
    failed += 1
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")
    failures += Json.obj("op" -> op, "error" -> e.getClass.getName, "message" -> msg.take(500))
    System.err.println(s"[perfbench] op $op failed: $msg")
  }

  /** One attempted op: counted, traced as a span of `layer`, and on a
    * throw recorded with its message instead of being dropped. */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val id = tracer.newOp()
    try Some(tracer.span(name, layer, id)(body))
    catch { case e: Throwable => fail(name, e); None }
  }

  def check(name: String, ok: Boolean, detail: Any): Unit = {
    if (!ok) {
      allChecksOk = false
      System.err.println(s"[perfbench] CHECK FAILED $name: ${Json(detail)}")
    }
    checks += Json.obj("check" -> name, "ok" -> ok, "detail" -> detail)
  }

  def session(): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start plus fixture materialisation, repeated `times` times in
    * fresh sessions; `setup_s` is the median. The last session stays up
    * for the measurement. */
  def setup[T](times: Int)(materialise: SparkSession => T): T = {
    var out: Option[T] = None
    val walls = (1 to times).map { _ =>
      stopSpark()
      val t0 = System.nanoTime()
      spark = session()
      out = Some(materialise(spark))
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    e2e("setup_s") = (Stats.median(walls), "s")
    context("setup_walls_s") = walls
    if (args.trace) {
      stats = new SparkStats
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }
    out.get
  }

  def stopSpark(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Forces full GCs and samples old-generation occupancy (MB): the live
    * set at a pass boundary. `peak_heap_mb` is the largest sample. */
  def sampleHeap(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one (blocks of RDDs that became unreachable)
    System.gc()
    Thread.sleep(100)
    System.gc()
    import scala.jdk.CollectionConverters._
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    heapSamples += old.map(_.getUsage.getUsed).sum / 1048576.0
  }

  def peakHeapMb: Double = if (heapSamples.isEmpty) Double.NaN else heapSamples.max

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  def drain(): Unit = if (stats != null) org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  def finish(ranToEnd: Boolean): Unit = {
    if (args.trace) Layers.complete(this)
    val correct = ranToEnd && allChecksOk && failed == 0 && checks.nonEmpty
    phase("end")
    context("phases_s_since_jvm_start") = Json.Obj(phases.toSeq)
    context("correct") = correct
    context("checks") = checks.toSeq
    context("failures") = failures.toSeq
    context("fail_ratio") = if (attempted == 0) 1.0 else failed.toDouble / attempted
    context("end_to_end") = e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    if (args.trace) context("per_layer") = layer.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    val results = args.root.resolve(".bench_build").resolve("results")
    Files.createDirectories(results)
    if (args.trace) {
      // tracing overhead: this traced run's end-to-end figures minus the
      // untraced run of the same workload and seed (or the latest one)
      val prev = Seq(results.resolve(s"${args.workload}-seed${args.seed}-trace0.json"))
        .filter(Files.exists(_)) ++ latestUntraced(results)
      prev.headOption.foreach { p =>
        val base = Goldens.readE2e(p)
        context("trace_overhead") = e2e.collect { case (k, (v, _)) if base.contains(k) =>
          k -> Json.obj("traced" -> v, "untraced" -> base(k), "delta" -> (v - base(k)), "from" -> p.getFileName.toString)
        }
      }
      writeTrace()
    }
    val ctxJson = Json(Json.Obj(Seq("context" -> Json.Obj(context.toSeq))))
    Files.writeString(results.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"), ctxJson)
    println(ctxJson)
    val metrics = (if (args.trace) layer else e2e).map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }
    println(Json(Json.obj("correct" -> correct, "attempted" -> math.max(attempted, 1L),
      "failed" -> (if (attempted == 0) 1L else failed), "metrics" -> metrics)))
    Console.out.flush()
    try deleteTree(work) catch { case _: Throwable => }
  }

  private def latestUntraced(results: Path): Seq[Path] = {
    val ls = Files.list(results)
    try ls.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith(args.workload + "-") && p.getFileName.toString.endsWith("-trace0.json"))
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis).toSeq.take(1)
    finally ls.close()
  }

  private def writeTrace(): Unit = {
    val dir = args.root.resolve(".bench_build").resolve("trace")
    Files.createDirectories(dir)
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = tracer.spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6, "timed" -> s.timed)
    }
    val stages = if (stats == null) Nil else stats.stageList.map { r =>
      Json.obj("stage" -> r.stageId, "span" -> r.span, "tasks" -> r.numTasks, "seconds" -> r.seconds,
        "run_ms" -> r.runMs, "shuffle_write" -> r.shuffleWrite, "shuffle_read" -> r.shuffleRead, "spill" -> r.spill)
    }
    val self = tracer.selfSeconds(_.timed).toSeq.sortBy(-_._2)
    Files.writeString(dir.resolve(s"${args.workload}-seed${args.seed}.json"),
      Json(Json.obj("workload" -> args.workload, "seed" -> args.seed,
        "layer_self_s" -> Json.Obj(self), "spans" -> spans, "stages" -> stages)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
