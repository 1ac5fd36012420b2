package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What one benchmark run shares with its workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val cores: Int, val work: Path, val trace: Option[Trace]) {

  /** Call into a layer: a span plus a job label when tracing, else just `f`. */
  def call[T](name: String, label: String, requestId: Long = 0L)(f: => T): T =
    trace.fold(f)(_.span(name, label, requestId)(f))

  def dir(name: String): String = work.resolve(name).toString

  def rmrf(name: String): Unit = Main.rmrf(work.resolve(name))
}

/** Metrics of one run. `e2e` are the gated end-to-end metrics BENCHMARK.json
  * lists for every workload; `named` are the per-workload end-to-end figures
  * printed as lines; `layer` are the traced per-layer metrics. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = { failed += 1; if (notes.size < 20) notes += what }

  private val born = System.nanoTime()

  /** Note when a phase ends, in seconds since the run began. */
  def mark(phase: String): Unit = notes += f"$phase done at ${(System.nanoTime() - born) / 1e9}%.1f s"

  /** Timing sample as median plus the named tail percentile, with its count. */
  def latency(prefix: String, ms: Seq[Double], tail: Int): Unit = {
    named(s"${prefix}_p50_ms") = (Stats.median(ms), "ms")
    named(s"${prefix}_p${tail}_ms") = (Stats.percentile(ms, tail), "ms")
    named(s"${prefix}_samples") = (ms.size.toDouble, "count")
    named(s"${prefix}_p${tail}_beyond") = (Stats.beyond(ms.size, tail).toDouble, "count")
  }
}

object Main {

  val Workloads = Seq("index_bulk", "search_read", "ingest_mixed")

  /** Per-layer metrics, emitted on every workload; a layer a workload leaves
    * idle reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan.cpu_s" -> "s", "sources.scan.bytes" -> "bytes",
    "parse.cpu_s" -> "s", "parse.valid_ratio" -> "ratio",
    "functions.tokenize.cpu_s" -> "s", "functions.tokenize.terms" -> "count",
    "route.cpu_s" -> "s", "route.partition_skew" -> "ratio",
    "pipeline.exchanges" -> "count", "pipeline.shuffle_write_bytes" -> "bytes",
    "pipeline.shuffle_records" -> "count", "pipeline.spill_bytes" -> "bytes",
    "pipeline.rollup.cpu_s" -> "s", "pipeline.rollup.task_skew" -> "ratio",
    "pipeline.split_aggs.cpu_s" -> "s", "pipeline.sinks.cpu_s" -> "s",
    "pipeline.sinks.bytes_written" -> "bytes",
    "pipeline.executor_cpu_s" -> "s", "pipeline.cpu_util" -> "ratio",
    "pipeline.gc_s" -> "s", "pipeline.unattributed_cpu_s" -> "s",
    "pipeline.unattributed_share" -> "ratio",
    "sources.splits_opened" -> "count", "sources.prune_ratio" -> "ratio",
    "sources.rows_per_hit" -> "ratio",
    "operators.leaf_cache.hit_ratio" -> "ratio", "operators.leaf_cache.bytes" -> "bytes",
    "spark.jobs_per_request" -> "count", "spark.tasks_per_request" -> "count",
    "queryast.compile_ms" -> "ms",
    "sources.append.cpu_s" -> "s", "publish.commit_ms" -> "ms",
    "publish.manifest_bytes" -> "bytes", "publish.live_splits" -> "count",
    "publish.merge.runs" -> "count", "publish.merge.bytes_rewritten" -> "bytes",
    "publish.merge.busy_s" -> "s",
    "loadgen.late_ms_max" -> "ms", "spark.leaked_blocks" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.spans" -> "count")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "heap_peak_mb" -> "MB")

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, cores, work, trace)

    val report = new Report
    val (steal0, busy0, total0) = Stats.cpuTimes()
    try {
      workload match {
        case "index_bulk"   => IndexBulk.run(ctx, report)
        case "search_read"  => Reads.searchRead(ctx, report)
        case "ingest_mixed" => Reads.ingestMixed(ctx, report)
      }
    } catch {
      case e: Throwable =>
        // an exception is a failed run, not a result
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val (steal1, busy1, total1) = Stats.cpuTimes()
    report.mark("workload")
    val dt = math.max(1L, total1 - total0).toDouble

    // Clean state: report what the program left persisted, then release it.
    val leaked = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    report.layer("spark.leaked_blocks") = (leaked.toDouble, "count")
    trace.foreach { t =>
      report.layer("trace.spans") = (t.spanCount.toDouble, "count")
      t.write(work.getParent.resolve("traces"), s"$workload-seed$seed")
    }
    spark.stop()

    report.named("failed_frac") =
      (if (report.attempted == 0) 1.0 else report.failed.toDouble / report.attempted, "ratio")
    val out = if (traced) PerLayer.map { case (n, u) =>
      n -> report.layer.getOrElse(n, (0.0, u))
    } else EndToEnd.map { case (n, u) =>
      n -> report.e2e.getOrElse(n, throw new IllegalStateException(s"metric $n not measured"))
    }
    report.notes.foreach(n => println(s"note $workload $n"))
    val lines = if (traced) out else report.named.toSeq ++ out
    lines.foreach { case (n, (v, u)) => println(s"metric $workload $n ${fmt(v)} $u") }
    println(s"host $workload loadavg ${fmt(Stats.loadavg())} load")
    println(s"host $workload steal_frac ${fmt((steal1 - steal0) / dt)} ratio")
    println(s"host $workload busy_frac ${fmt((busy1 - busy0) / dt)} ratio")
    println(s"host $workload cores $cores count")
    val metricsJson = out.map { case (n, (v, u)) =>
      s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = report.failed == 0 && report.attempted > 0
    println(s"""{"correct":$correct,"attempted":${report.attempted},"failed":${report.failed},"metrics":$metricsJson}""")
  }
}
