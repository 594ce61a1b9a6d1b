package perfbench

import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.core.{ImageCodec, Mercator, TileMath}
import graft.gen.Fixtures
import graft.gen.Fixtures.ImageRow

/** Host context, the bandwidth probe, the driver-side tile recount and
  * the single-threaded kernel timings. */
object Probes {
  /** Host facts recorded with every run (context, never a gate). */
  def host(r: Run): Unit = {
    r.context("nproc") = r.cpus
    r.context("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    r.context("jdk") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    r.context("spark") = org.apache.spark.SPARK_VERSION
    r.context("os") = s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}"
  }

  /** Read bandwidth (GiB/s) at min(4, nproc) and nproc threads. */
  def bandwidth(r: Run, when: String): Unit = {
    val lo = math.min(4, r.cpus)
    graft.tools.BwProbe.gbps(lo, mb = 16) // untimed: compiles the sweep loop
    r.context(s"bw_${when}_t${lo}_gbps") = graft.tools.BwProbe.gbps(lo, mb = 64)
    if (r.cpus != lo) r.context(s"bw_${when}_t${r.cpus}_gbps") = graft.tools.BwProbe.gbps(r.cpus, mb = 64)
  }

  /** The 25 region boxes of the north-rule pipeline. */
  val RegionBoxes: IndexedSeq[(Double, Double, Double, Double)] = (0 until 25).map(Fixtures.regionBoxesSpec)

  def footprint(gt: Array[Double], w: Int, h: Int, srid: Int): Array[Double] =
    graft.expr.GeoKernels.footprint(new GenericArrayData(gt), w, h, srid).toDoubleArray()

  /** z-tiles covering a lon/lat envelope, from core Mercator + TileMath. */
  def tilesOf(env: Array[Double], z: Int): Array[Long] = {
    val mx0 = Mercator.x(env(0)); val mx1 = Mercator.x(env(2))
    val my0 = Mercator.y(Mercator.clampLat(env(1))); val my1 = Mercator.y(Mercator.clampLat(env(3)))
    val (tx0, ty0, tx1, ty1) = TileMath.tileRange(mx0, my0, mx1, my1, z)
    (for (x <- tx0 to tx1; y <- ty0 to ty1) yield TileMath.pack(z, x, y)).toArray
  }

  def matchesRegion(env: Array[Double]): Boolean = RegionBoxes.exists { case (x0, y0, x1, y1) =>
    env(0) <= x1 && env(2) >= x0 && env(1) <= y1 && env(3) >= y0
  }

  final case class Recount(matched: Long, tiles: Long, sumImages: Long)

  /** Expected pipeline output over georef rows (gt, w, h, srid): images
    * whose footprint meets a region box, the distinct z-tiles they cover
    * and the total (image, tile) pairs = Σ n_images. */
  def recount(rows: Seq[(Array[Double], Int, Int, Int)], z: Int): Recount = {
    val tiles = scala.collection.mutable.HashSet.empty[Long]
    var matched = 0L
    var pairs = 0L
    rows.foreach { case (gt, w, h, srid) =>
      val env = footprint(gt, w, h, srid)
      if (matchesRegion(env)) {
        matched += 1
        val ts = tilesOf(env, z)
        pairs += ts.length
        tiles ++= ts
      }
    }
    Recount(matched, tiles.size, pairs)
  }

  def meta(im: ImageRow): Array[Double] =
    Array(im.w.toDouble, im.h.toDouble, im.srid.toDouble) ++ im.gt

  /** Median wall of `body` over sweeps, at least `minSweeps` of them and
    * at least `minSeconds` in total. */
  def sweep(minSweeps: Int, minSeconds: Double)(body: => Unit): Double = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (walls.length < minSweeps || (System.nanoTime() - start) / 1e9 < minSeconds) {
      val t0 = System.nanoTime()
      body
      walls += (System.nanoTime() - t0) / 1e9
    }
    Stats.median(walls.toSeq)
  }

  /** Single-threaded kernel timings on the seed's fixture images: 24
    * consecutive keys hold every (format, size) pair twice. */
  def kernels(r: Run, base: Long, z: Int): Unit = r.tracer.span("kernels", "core") {
    val imgs = (0L until 24L).map(i => Fixtures.genImage(base + i))
    var sink = 0L
    Seq("raw", "png", "jpeg").foreach { fmt =>
      val set = imgs.filter(_.fmt == fmt)
      val s = r.tracer.span(fmt, "core.decode") {
        sweep(5, 0.25) { set.foreach(im => sink += ImageCodec.decode(im.bytes, im.fmt, im.w, im.h).w) }
      }
      r.layer(s"core.decode_ms.$fmt") = (s * 1e3 / set.length, "ms")
    }
    val pairs = imgs.flatMap(im => tilesOf(footprint(im.gt, im.w, im.h, im.srid), z).map(t => (im, t)))
    val m = pairs.map { case (im, _) => meta(im) }
    val warpS = r.tracer.span("warp", "core.warp") {
      sweep(5, 0.25) {
        var i = 0
        while (i < pairs.length) {
          val (im, t) = pairs(i)
          sink += graft.expr.WarpKernels.warpToTile(im.bytes, im.fmt, m(i), t, "near").length
          i += 1
        }
      }
    }
    r.layer("core.warp_ms_per_tile") = (warpS * 1e3 / pairs.length, "ms")
    val bufs = pairs.zip(m).map { case ((im, t), mm) => graft.expr.WarpKernels.warpToTile(im.bytes, im.fmt, mm, t, "near") }
    val acc = bufs.head.clone()
    val mergeS = r.tracer.span("merge", "expr.mosaic") {
      sweep(5, 0.25) { bufs.foreach(b => graft.expr.MosaicAgg.merge(acc, b)) }
    }
    r.layer("expr.mosaic_merge_us") = (mergeS * 1e6 / bufs.length, "us")
    r.context("kernel_inputs") = Json.obj("images" -> imgs.length, "warp_tiles" -> pairs.length, "sink" -> (sink + acc.length))
  }
}
