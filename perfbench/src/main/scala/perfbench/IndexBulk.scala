package perfbench

import graft.functions.Tokenizers
import graft.parse.DocParser
import graft.pipeline.IndexingPipeline
import graft.publish.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `index_bulk`: one large batch through `IndexingPipeline.run`, repeated
  * over the same input for the run's seconds. */
object IndexBulk {

  val Rows = 40000L
  val HotShare = 0.10
  val MalformedShare = 0.02
  val SetupReps = 3
  val WarmupRuns = 3
  val BaseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val SpanS = 7L * 86400L

  val Cfg = IndexingPipeline.Config(shufflePartitions = Runtime.getRuntime.availableProcessors())
  private val delta = Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("input", -1L, 0L)))

  /** The pipeline's outputs recomputed from the input with plain column
    * expressions of the FIXTURES §1 grammar, never through the pipeline. */
  final case class Expected(valid: Long, dead: Long, errors: Long, rollups: Long,
                            checksum: Long, errorsBySink: Map[String, Long])

  def expected(input: DataFrame): Expected = {
    val t = col("text")
    val callRe = "CALL ([A-Za-z_][A-Za-z0-9_]*)\\(([^)]*)\\) -> (OK|ERR)"
    val valid = t.isNotNull && (!t.contains("CALL ") || regexp_extract(t, callRe, 1) =!= "")
    val isErr = regexp_extract(t, callRe, 3) === "ERR" || t.rlike("^ERROR\\b")
    val sink = element_at(typedLit(Gen.SinkOf), col("tool"))
    val h = xxhash64(coalesce(sink, lit("_null")), col("conv_id"), col("turn_idx"))
    val rows = input.withColumn("_valid", valid)
    val totals = rows.agg(count(lit(1)), sum(when(col("_valid"), 1L).otherwise(0L)))
      .collect()(0)
    val v = rows.filter(col("_valid"))
    val r = v.agg(
      sum(when(isErr, 1L).otherwise(0L)),
      count_distinct(col("conv_id")),
      sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL)))).collect()(0)
    val bySink = v.filter(isErr).groupBy(sink.as("sink")).count().collect()
      .map(x => Option(x.getString(0)).getOrElse("__null__") -> x.getLong(1)).toMap
    Expected(valid = totals.getLong(1), dead = totals.getLong(0) - totals.getLong(1),
      errors = r.getLong(0), rollups = r.getLong(1),
      checksum = (r.getLong(2) << 32) + r.getLong(3), errorsBySink = bySink)
  }

  private def check(ctx: Ctx, report: Report, res: Option[IndexingPipeline.Result],
                    exp: Expected, outDir: String, readBack: Boolean): Unit = res match {
    case None => report.fail("pipeline.run returned None on a fresh output dir")
    case Some(r) =>
      if (r.counts != IndexingPipeline.SinkCounts(exp.errors, exp.rollups, exp.dead))
        report.fail(s"sink counts ${r.counts} != expected ${(exp.errors, exp.rollups, exp.dead)}")
      if (r.routedChecksum != exp.checksum)
        report.fail(s"routed checksum ${r.routedChecksum} != ${exp.checksum}")
      if (r.splits.map(_.numDocs).sum != exp.valid)
        report.fail(s"split num_docs ${r.splits.map(_.numDocs).sum} != valid ${exp.valid}")
      if (readBack) {
        val spark = ctx.spark
        val errs = spark.read.parquet(s"$outDir/error_index/batch-1")
          .groupBy(coalesce(col("sink"), lit("__null__"))).count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        if (errs != exp.errorsBySink) report.fail(s"error index per sink $errs != ${exp.errorsBySink}")
        val rollups = spark.read.parquet(s"$outDir/rollup/batch-1").count()
        if (rollups != exp.rollups) report.fail(s"rollup rows $rollups != ${exp.rollups}")
        val dead = spark.read.parquet(s"$outDir/dead_letter/batch-1").count()
        if (dead != exp.dead) report.fail(s"dead letter rows $dead != ${exp.dead}")
      }
  }

  def run(ctx: Ctx, report: Report): Unit = {
    // set-up (input generation and write), several times; the last input is
    // kept and warmed up on with whole pipeline runs, timed on their own
    val reps = if (ctx.trace.isDefined) 1 else SetupReps
    val setupS = (0 until reps).map { rep =>
      if (rep > 0) ctx.rmrf(s"input-${rep - 1}")
      val t0 = System.nanoTime()
      Gen.turns(ctx.spark, ctx.seed, Rows, HotShare, MalformedShare, BaseMicros, SpanS)
        .write.mode("overwrite").parquet(ctx.dir(s"input-$rep"))
      (System.nanoTime() - t0) / 1e9
    }
    report.mark("set-up")
    val input = ctx.spark.read.parquet(ctx.dir(s"input-${reps - 1}"))
    val w0 = System.nanoTime()
    (0 until WarmupRuns).foreach { i =>
      IndexingPipeline.run(ctx.spark, input, ctx.dir(s"warm-$i"), delta, Cfg)
      ctx.rmrf(s"warm-$i")
    }
    report.named("warmup_s") = ((System.nanoTime() - w0) / 1e9, "s")
    report.mark("warm-up")
    val exp = expected(input)
    report.mark("oracle")
    val n = exp.valid + exp.dead

    var postings = 0L
    val heap = new Stats.HeapPeak

    /** Pipeline runs until `secs` have passed; wall seconds per run. With
      * `traced`, each run is a span and its jobs carry its label. */
    def loop(secs: Double, tag: String, traced: Boolean): Seq[Double] = {
      val walls = Seq.newBuilder[Double]
      val start = System.nanoTime()
      var i = 0
      while (i == 0 || (System.nanoTime() - start) / 1e9 < secs) {
        val out = s"out-$tag-$i"
        def once() = IndexingPipeline.run(ctx.spark, input, ctx.dir(out), delta, Cfg)
        heap.sample() // a full collection: every run starts from the same heap state
        val t0 = System.nanoTime()
        val res = if (traced) ctx.call("pipeline.run", "pipeline.run")(once()) else once()
        walls += (System.nanoTime() - t0) / 1e9
        report.attempted += 1
        check(ctx, report, res, exp, ctx.dir(out), readBack = i == 0)
        res.foreach(r => postings = r.splits.map(_.postingsCount).sum)
        ctx.rmrf(out)
        i += 1
      }
      walls.result()
    }

    ctx.trace match {
      case None =>
        val walls = loop(ctx.seconds, "m", traced = false)
        report.mark("measurement")
        val tput = Stats.median(walls.map(n / _))
        report.e2e("setup_s") = (Stats.median(setupS), "s")
        report.e2e("throughput_per_s") = (tput, "1/s")
        report.e2e("latency_p50_ms") = (Stats.median(walls) * 1000, "ms")
        report.e2e("heap_peak_mb") = (heap.finishMb(), "MB")
        report.named("setup_s") = report.e2e("setup_s")
        report.named("turns_per_s") = (tput, "1/s")
        report.named("pipeline_runs") = (walls.size.toDouble, "count")
        report.notes += walls.map(w => f"$w%.3f").mkString("pipeline run walls (s): ", " ", "")
        report.named("heap_peak_mb") = report.e2e("heap_peak_mb")
      case Some(tr) =>
        // untraced and traced halves of one run: the difference of their
        // medians is the tracing overhead
        val plain = Stats.median(loop(ctx.seconds / 2.0, "u", traced = false))
        val walls = loop(ctx.seconds / 2.0, "t", traced = true)
        report.layer("trace.overhead_frac") = ((Stats.median(walls) - plain) / plain, "ratio")
        report.layer("functions.tokenize.terms") = (postings.toDouble, "count")
        layers(ctx, tr, report, input, exp, walls.size, Stats.median(walls))
    }
  }

  /** Per-layer attribution. The fused parse→tokenize→enrich/route stage is
    * split by ablation over the same input, each step writing to
    * `format("noop")`; rollup, split aggregates and sinks are timed through
    * their own public functions over one routed, persisted frame. What the
    * full run spends beyond these is reported as unattributed. */
  private def layers(ctx: Ctx, tr: Trace, report: Report, input: DataFrame,
                     exp: Expected, runs: Int, wallS: Double): Unit = {
    val Reps = 3
    val (tools, roles) = IndexingPipeline.dims(ctx.spark)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def terms(df: DataFrame): DataFrame = df.withColumn("_terms", Tokenizers.default(col("text")))
    val steps: Seq[(String, () => Unit)] = Seq(
      "sources.scan" -> (() => noop(input)),
      "parse" -> (() => noop(DocParser.parse(input, DocParser.Lenient).valid)),
      "functions.tokenize" -> (() => noop(terms(DocParser.parse(input, DocParser.Lenient).valid))),
      "route" -> (() => noop(terms(IndexingPipeline.parseEnrichRoute(input, tools, roles, Cfg)._1))))
    def cpuOf(label: String, f: () => Unit): Double = {
      val cpus = (0 until Reps).map { i =>
        ctx.call(s"$label.$i", s"ablate.$label.$i")(f())
        tr.label(s"ablate.$label.$i").cpuS
      }
      Stats.median(cpus)
    }
    val cumulative = steps.map { case (name, f) => name -> cpuOf(name, f) }
    val layerCpu = cumulative.zip(0.0 +: cumulative.map(_._2)).map {
      case ((name, c), prev) => name -> (c - prev)
    }.toMap

    val routed = ctx.call("routed", "ablate.routed") {
      val r = IndexingPipeline.parseEnrichRoute(input, tools, roles, Cfg)._1
        .repartition(Cfg.shufflePartitions, col("partition_id")).persist()
      r.count()
      r
    }
    try {
      val rollupNoop = cpuOf("pipeline.rollup",
        () => noop(IndexingPipeline.conversationRollup(routed, salted = true, Cfg)))
      val rollupWrite = cpuOf("pipeline.rollup_write", () =>
        IndexingPipeline.conversationRollup(routed, salted = true, Cfg)
          .write.mode("overwrite").option("compression", "zstd").parquet(ctx.dir("ablate-rollup")))
      val errWrite = cpuOf("pipeline.error_index_write", () =>
        routed.filter(col("call_status") === "ERR" || col("severity") === "ERROR")
          .write.mode("overwrite").option("compression", "zstd")
          .partitionBy("sink").parquet(ctx.dir("ablate-errors")))
      val splitAggs = cpuOf("pipeline.split_aggs",
        () => { IndexingPipeline.splitAggregates(routed, Cfg).collect(); () })
      val counts = routed.groupBy("partition_id").count().collect().map(_.getLong(1).toDouble)
      report.layer("route.partition_skew") = (counts.max / Stats.median(counts.toSeq), "ratio")
      report.layer("pipeline.rollup.task_skew") = (tr.prefixSum("ablate.pipeline.rollup.").taskSkew, "ratio")

      val sinks = errWrite + (rollupWrite - rollupNoop)
      val run = tr.label("pipeline.run")
      val per = 1.0 / runs
      val total = run.cpuS * per
      val attributed = layerCpu.values.sum + rollupNoop + splitAggs + sinks
      report.layer("sources.scan.cpu_s") = (layerCpu("sources.scan"), "s")
      report.layer("sources.scan.bytes") = (tr.label("ablate.sources.scan.0").inputBytes.toDouble, "bytes")
      report.layer("parse.cpu_s") = (layerCpu("parse"), "s")
      report.layer("parse.valid_ratio") = (exp.valid.toDouble / (exp.valid + exp.dead), "ratio")
      report.layer("functions.tokenize.cpu_s") = (layerCpu("functions.tokenize"), "s")
      report.layer("route.cpu_s") = (layerCpu("route"), "s")
      report.layer("pipeline.rollup.cpu_s") = (rollupNoop, "s")
      report.layer("pipeline.split_aggs.cpu_s") = (splitAggs, "s")
      report.layer("pipeline.sinks.cpu_s") = (sinks, "s")
      report.layer("pipeline.sinks.bytes_written") = (run.outputBytes * per, "bytes")
      report.layer("pipeline.exchanges") = (run.shuffleMapStages * per, "count")
      report.layer("pipeline.shuffle_write_bytes") = (run.shuffleWriteBytes * per, "bytes")
      report.layer("pipeline.shuffle_records") = (run.shuffleWriteRecords * per, "count")
      report.layer("pipeline.spill_bytes") = (run.spillBytes * per, "bytes")
      report.layer("pipeline.gc_s") = (run.gcMs * per / 1000.0, "s")
      report.layer("pipeline.executor_cpu_s") = (total, "s")
      report.layer("pipeline.cpu_util") = (total / (wallS * ctx.cores), "ratio")
      report.layer("pipeline.unattributed_cpu_s") = (total - attributed, "s")
      report.layer("pipeline.unattributed_share") = ((total - attributed) / total, "ratio")
    } finally {
      routed.unpersist(blocking = true)
      ctx.rmrf("ablate-rollup")
      ctx.rmrf("ablate-errors")
    }
  }
}
