package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: seeded set-up, warm-up until the pass
  * time levels off, `--seconds` of timed passes, output checks, and with
  * `--trace 1` a further set of traced passes. The last line of stdout is
  * the result object. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traceOut: File, startMs: Long, digestOnly: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("work")), new File(kv("trace-out")), kv("start-ms").toLong,
      kv.get("digest").contains("1"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def session(work: File, cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getAbsolutePath)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(o.work, cores)
    val code = try run(o, spark) finally spark.stop()
    sys.exit(code)
  }

  def run(o: Opts, spark: SparkSession): Int = {
    val wl = Workload(o.workload, spark, o.seed, o.work)
    val sessionS = (System.currentTimeMillis() - o.startMs) / 1e3
    wl.setup()
    if (o.digestOnly) {
      println(s"${o.workload} seed ${o.seed} inputs sha256 ${wl.inputDigest()}")
      return 0
    }
    val setupS = (System.currentTimeMillis() - o.startMs) / 1e3

    val off = new Tracer(spark, enabled = false)
    def timed(t: Tracer): (Double, PassOut) = {
      wl.clear()
      val t0 = System.nanoTime()
      val out = t.span("pass")(wl.pass(t))
      ((System.nanoTime() - t0) / 1e9, out)
    }

    // warm-up: a fixed count of passes per workload, so every run starts
    // timing at the same point of the JIT's progress however busy the
    // machine is
    val warm = ArrayBuffer.empty[Double]
    while (warm.size < wl.warmPasses) warm += timed(off)._1

    val passes = ArrayBuffer.empty[(Double, PassOut)]
    val start = System.nanoTime()
    while (passes.size < 5 || (System.nanoTime() - start) / 1e9 < o.seconds)
      passes += timed(off)
    val rss = peakRssMb()
    val outBytes = wl.outputBytes().toDouble
    val failures = ArrayBuffer.empty[String]
    failures ++= wl.check()

    val times = passes.map(_._1).toSeq
    val passMedian = median(times)
    val items = passes.head._2.items
    val latencies = passes.flatMap(_._2.batchLatenciesS).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", items / passMedian, "items/s"),
      ("batch_latency_p50_s", if (latencies.isEmpty) passMedian else median(latencies), "s"),
      ("output_bytes_per_item", outBytes / items, "bytes"),
      ("peak_rss_mb", rss, "MiB"))
    System.err.println(f"[perfbench] ${o.workload}: set-up $setupS%.3f (session $sessionS%.3f); warm-up ${warm.map(x => f"$x%.3f").mkString(" ")}; " +
      s"timed ${times.map(x => f"$x%.3f").mkString(" ")}")

    val metrics =
      if (!o.trace) e2e
      else {
        val (layerMetrics, traced) = tracedPasses(o, spark, wl, timed)
        failures ++= wl.check()
        layerMetrics ++ Seq(("trace.pass_s", median(traced), "s"),
          ("trace.untraced_pass_s", passMedian, "s"))
      }

    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val attempted = passes.map(_._2.ops).sum
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> 0L,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    if (failures.isEmpty) 0 else 1
  }

  /** Three traced passes: spans around each layer call, listeners counting Spark work per
    * span. Returns the per-layer medians and the traced pass times, and
    * writes every span with its counters to the trace file. */
  def tracedPasses(o: Opts, spark: SparkSession, wl: Workload,
      timed: Tracer => (Double, PassOut)): (Seq[(String, Double, String)], Seq[Double]) = {
    val tracer = new Tracer(spark, enabled = true)
    val listeners = new Listeners(tracer)
    listeners.install(spark)
    val perPass = ArrayBuffer.empty[Seq[(String, Double, String)]]
    val times = ArrayBuffer.empty[Double]
    while (times.size < 3) {
      tracer.pass = times.size
      times += timed(tracer)._1
      listeners.drain(spark)
      perPass += wl.layers(tracer, listeners, tracer.pass)
    }
    val medians = perPass.head.indices.map { k =>
      val (n, _, u) = perPass.head(k)
      (n, median(perPass.map(_(k)._2).toSeq), u)
    }
    val spans = tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id, "pass" -> s.pass, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "seconds" -> s.seconds, "self_seconds" -> tracer.selfSeconds(s),
        "spark" -> Json.Raw(listeners.spanJson(s.id))))
    }
    o.traceOut.getParentFile.mkdirs()
    Files.write(o.traceOut.toPath, Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed,
      "traced_pass_s" -> times.toSeq,
      "per_pass" -> Json.Raw(perPass.map(ms =>
        Json.obj(ms.map { case (n, v, _) => n -> v })).mkString("[", ",", "]")),
      "spans" -> Json.Raw(spans.mkString("[", ",", "]")))).getBytes("UTF-8"))
    (medians, times.toSeq)
  }
}
