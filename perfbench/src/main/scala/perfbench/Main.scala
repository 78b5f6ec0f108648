package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload run in one JVM. Prints a single JSON line: the workload's
  * end-to-end metrics (with sample counts), the layer metrics when traced,
  * the op failures, sizes and environment. `run.py` builds this program,
  * runs it and reduces the line to the benchmark's result line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> [--spans <file>] [--commit <id>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    // determinism self-check: same seed, same inputs; another seed, other inputs
    val d1 = Workloads.inputDigest(workload, seed)
    require(d1 == Workloads.inputDigest(workload, seed), "generator is not deterministic")
    require(d1 != Workloads.inputDigest(workload, seed + 1), "generator ignores its seed")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogHygiene.install()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(traced, spark)
    val ctx = new Ctx(spark, tracer, seed, seconds, work, cpus)
    val out = Workloads.run(workload, ctx)
    tracer.drainAll()
    val rssMb = peakRssMb()

    val ops = tracer.ops.filter(_.timed).toSeq
    val failures = ops.flatMap(_.error) ++ out.failures
    val attempted = ops.size + out.failures.size
    val e2e = mutable.LinkedHashMap.empty[String, Metric]
    val prefix = Map("stream_sync" -> "fresh", "dedup_index" -> "dedup")(workload)
    val primary = ops.filter(o => out.primary(o.kind)).map(_.ms)
    val wall = if (ops.isEmpty) 0.0 else (ops.map(_.end).max - ops.map(_.start).min) / 1e6
    val items = ops.map(_.items).sum.toDouble
    val setup = sessionS + Stats.median(out.preloadS)
    e2e("setup_s") = Metric(setup, "s")
    e2e(s"${prefix}_p50_ms") = Metric(Stats.median(primary), "ms", Some(primary.size), Some(50.0))
    val (tailPct, tail) = Stats.tail(primary)
    e2e(s"${prefix}_tail_ms") = Metric(tail, "ms", Some(primary.size), Some(tailPct))
    val rate = Map("stream_sync" -> "stream_rows_per_s", "dedup_index" -> "dedup_docs_per_s")(workload)
    e2e(rate) = Metric(if (wall > 0) items / wall else 0.0, "1/s", Some(ops.size))
    e2e("disk_bytes_per_row") = Metric(out.diskBytes.toDouble / math.max(1L, out.liveRows), "B")
    e2e("rss_peak_mb") = Metric(rssMb, "MB")
    e2e("op_fail_frac") = Metric(failures.size.toDouble / math.max(1, attempted), "ratio")

    // the benchmark's workload-independent names for the same figures
    val generic = mutable.LinkedHashMap[String, Metric](
      "setup_s" -> e2e("setup_s"),
      "op_p50_ms" -> e2e(s"${prefix}_p50_ms"),
      "op_tail_ms" -> e2e(s"${prefix}_tail_ms"),
      "items_per_s" -> e2e(rate),
      "disk_bytes_per_row" -> e2e("disk_bytes_per_row"),
      "rss_peak_mb" -> e2e("rss_peak_mb"))

    val fields = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "seconds" -> seconds, "correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failures.size, "failures" -> failures.take(20),
      "e2e" -> e2e.map { case (k, m) => k -> m.toMap },
      "metrics" -> generic.map { case (k, m) => k -> m.toMap },
      "warmup_s" -> warmupS(tracer),
      "op_ms" -> tracer.ops.toSeq.map(o => s"${o.kind}${if (o.timed) "" else "*"}:${math.round(o.ms)}"),
      "preload_s" -> out.preloadS, "session_s" -> sessionS,
      "sizes" -> (out.sizes ++ Map("items_unit" -> out.itemsUnit, "timed_ops" -> ops.size,
        "input_digest" -> d1)),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[$cpus]",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "commit" -> args.getOrElse("commit", "unknown"), "steal_share" -> ctx.stealShare))
    if (traced) {
      val layers = new Layers(tracer)
      val all = layers.allSpans()
      fields("layers") = layers.metrics(out.extra).toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Metric(v, u).toMap }.toMap
      fields("self_ms_per_op") = layers.selfTimes(all)
      args.get("spans").foreach { p =>
        val lines = all.sortBy(_.start).map(s => Json.mapper.writeValueAsString(mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start,
          "end_us" -> s.end, "parent" -> s.parent, "op" -> s.op)))
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        fields("spans_file") = p
        fields("spans") = all.size
      }
    }
    tracer.close()
    spark.stop()
    println(Json.mapper.writeValueAsString(fields))
  }

  /** Time from the first warm-up op to the first timed op. */
  private def warmupS(t: Tracer): Double = {
    val (warm, timed) = t.ops.partition(!_.timed)
    if (warm.isEmpty || timed.isEmpty) 0.0
    else (timed.map(_.start).min - warm.map(_.start).min) / 1e6
  }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

object Stats {
  /** Linear-interpolated percentile of `xs` (p in [0, 100]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of the usual percentiles with at least ten samples
    * beyond it; below 20 samples, the median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, pct(xs, p))
  }
}

/** One metric of the report; `n` and `pct` are the sample count and the
  * percentile behind a latency. */
final case class Metric(value: Double, unit: String, n: Option[Int] = None, pct: Option[Double] = None) {
  def toMap: mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap[String, Any]("value" -> value, "unit" -> unit)
    n.foreach(m("n") = _)
    pct.foreach(m("pct") = _)
    m
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
