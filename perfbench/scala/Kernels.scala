package graftbench

import graft.fixtures.{ImageGen, SyntheticWeb, WebConfig}
import graft.frontier.BloomSketch
import graft.functions.{GraftHash, UrlCodec}
import graft.validate.ImageValidate

/** Single-threaded kernel microbenchmarks, each timed after a warm-up as the
  * median of several batches: URL canonicalization, the bloom probe, image
  * decode (png, jpeg), PSNR, and the synthetic web's per-call cost.
  */
object Kernels {

  @volatile private var sink = 0L

  /** Median nanoseconds per call of `f` over `inputs`: warm-up batches for at
    * least 0.3 s (so the JIT has compiled the kernel), then 5 timed batches.
    */
  def perCallNs[A: scala.reflect.ClassTag](inputs: Seq[A], batches: Int = 5)(f: A => Long): Double = {
    val arr = inputs.toArray
    def batch(): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < arr.length) { acc += f(arr(i)); i += 1 }
      val ns = (System.nanoTime() - t0).toDouble
      sink += acc
      ns / math.max(arr.length, 1)
    }
    val warmUntil = System.nanoTime() + 300000000L
    batch()
    while (System.nanoTime() < warmUntil) batch()
    Stats.median((1 to batches).map(_ => batch()))
  }

  def run(cfg: WebConfig, res: Main.Result): Unit = {
    val raw = (0 until 20000).map(i =>
      s"HTTP://Host${i % 256}.Example.COM:80/p/./x/../$i?utm_source=a&k=$i#frag")
    res.put("functions.canonicalize_ns",
      perCallNs(raw)(u => UrlCodec.canonicalize(u).length.toLong), "ns")

    val bloom = BloomSketch.create(100000L, 0.01)
    (0L until 100000L).foreach(i => bloom.put(GraftHash.mix64(i)))
    val probes = (0L until 200000L).map(GraftHash.mix64)
    res.put("frontier.bloom_probe_ns",
      perCallNs(probes)(h => if (bloom.mightContain(h)) 1L else 0L), "ns")

    val imgs = (0L until 48L).map(ImageGen.raster)
    val png = imgs.map(ImageGen.encode(_, "png"))
    val jpeg = imgs.map(ImageGen.encode(_, "jpeg"))
    res.put("validate.decode_png_us",
      perCallNs(png)(b => ImageValidate.decode(b).getWidth.toLong) / 1e3, "us")
    res.put("validate.decode_jpeg_us",
      perCallNs(jpeg)(b => ImageValidate.decode(b).getWidth.toLong) / 1e3, "us")
    val pairs = imgs.zip(jpeg.map(ImageValidate.decode))
    res.put("validate.psnr_us",
      perCallNs(pairs) { case (x, y) => ImageValidate.psnr(x, y).toLong } / 1e3, "us")

    // the crawl workload's web: per-call cost of the fixture functions the
    // engine's fetch and revision-probe stages call (O(numHosts) each)
    val urls = SyntheticWeb.seedUrls(cfg).take(300).map(UrlCodec.canonicalize)
    res.put("fixtures.page_version_us",
      perCallNs(urls)(u => SyntheticWeb.pageVersion(cfg, u, 3L)) / 1e3, "us")
    res.put("fixtures.outlinks_us",
      perCallNs(urls)(u => SyntheticWeb.outlinksOf(cfg, u).size.toLong) / 1e3, "us")
    res.put("fixtures.fails_at_ns",
      perCallNs(urls)(u => if (SyntheticWeb.failsAt(cfg, u, 3L)) 1L else 0L), "ns")
  }
}
