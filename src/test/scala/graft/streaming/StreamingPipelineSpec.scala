package graft.streaming

import graft.SparkTestBase
import graft.model.TranscriptGen
import org.apache.spark.sql.functions._

/** Structured-Streaming pipeline tests: drain-and-stop semantics, checkpoint
  * resume (new files only), parity with the batch pipeline's counts. */
class StreamingPipelineSpec extends SparkTestBase {

  private def writeBatch(dir: String, seed: Long, convs: Int): Long = {
    import spark.implicits._
    val turns = TranscriptGen.turns(numConvs = convs, avgTurns = 6, seed = seed)
    turns.toDS().toDF().coalesce(2).write.mode("append").parquet(dir)
    turns.size.toLong
  }

  test("AvailableNow drains existing files; checkpoint resume processes only new data") {
    val in = tmpDir("stream_in"); val out = tmpDir("stream_out"); val cp = tmpDir("stream_cp")
    val n1 = writeBatch(in, seed = 1L, convs = 40)

    val q1 = StreamingPipeline.start(spark, in, out, cp)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(s"$out/split_stats")
      .agg(sum("num_docs")).collect()(0).getLong(0)
    val dead1 = spark.read.parquet(s"$out/dead_letter").count()
    // batch-pipeline parity on the same input
    val (tools, roles) = graft.pipeline.IndexingPipeline.dims(spark)
    val (routed, dead) = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, graft.pipeline.IndexingPipeline.Config())
    assert(afterFirst === routed.count())
    assert(dead1 === dead.count())

    // second wave of files: restart from checkpoint, only the delta is processed
    val n2 = writeBatch(in, seed = 2L, convs = 25)
    val q2 = StreamingPipeline.start(spark, in, out, cp)
    q2.awaitTermination()
    val afterSecond = spark.read.parquet(s"$out/split_stats")
      .agg(sum("num_docs")).collect()(0).getLong(0)
    val totalValid = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, graft.pipeline.IndexingPipeline.Config())._1.count()
    assert(afterSecond === totalValid) // accumulated exactly once, no reprocessing
    assert(afterSecond > afterFirst)
    assert(n1 > 0 && n2 > 0)
  }

  test("error-index stream rows carry sink routing from the broadcast dim") {
    val in = tmpDir("stream_in2"); val out = tmpDir("stream_out2"); val cp = tmpDir("stream_cp2")
    writeBatch(in, seed = 3L, convs = 50)
    StreamingPipeline.start(spark, in, out, cp).awaitTermination()
    val sinks = spark.read.parquet(s"$out/error_index")
      .select("sink").distinct().collect().map(_.getString(0)).toSet
    assert(sinks.exists(s => s != null && s.startsWith("sink_")))
  }

  test("ledger resume: kill/restart + batch replay land exactly-once counts") {
    val in = tmpDir("stream_in4"); val out = tmpDir("stream_out4")
    val cp = tmpDir("stream_cp4"); val ledgerDir = tmpDir("stream_ledger4")
    val cfg = graft.pipeline.IndexingPipeline.Config()
    val (tools, roles) = graft.pipeline.IndexingPipeline.dims(spark)

    // wave 1 → drain; the ledger commits one entry per micro-batch
    writeBatch(in, seed = 7L, convs = 40)
    StreamingPipeline.start(spark, in, out, cp, cfg,
      ledgerDir = Some(ledgerDir)).awaitTermination()
    val store = new graft.publish.Manifest.Store(ledgerDir)
    val snap1 = store.currentSnapshot().get
    val routedAll1 = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, cfg)._1.count()
    assert(snap1.splits.map(_.numDocs).sum === routedAll1)

    // crash-redelivery: REPLAY the last committed batch directly — the
    // ledger rejects the overlapping delta, sinks overwrite in place.
    // Wave 1 is 2 files < maxFilesPerTrigger, i.e. exactly ONE micro-batch,
    // so the full wave-1 read IS that batch's redelivered content.
    val lastBatch = snap1.checkpoint("stream")
    assert(lastBatch === 0L && snap1.splits.size === 1)
    val errBefore = spark.read.parquet(s"$out/error_index").count()
    val accepted = StreamingPipeline.processBatch(
      spark.read.parquet(in), lastBatch, out, tools, roles, cfg, Some(store))
    assert(!accepted) // replay is a no-op at the ledger
    assert(store.currentSnapshot().get.splits.map(_.numDocs).sum === routedAll1)

    // wave 2 → restart from the checkpoint: only the delta processes,
    // batch ids continue, the ledger deltas stay contiguous
    writeBatch(in, seed = 8L, convs = 25)
    StreamingPipeline.start(spark, in, out, cp, cfg,
      ledgerDir = Some(ledgerDir)).awaitTermination()
    val snap2 = store.currentSnapshot().get
    val routedAll2 = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, cfg)._1.count()
    assert(snap2.splits.map(_.numDocs).sum === routedAll2)
    assert(snap2.checkpoint("stream") > lastBatch)
    // sink parity with an uninterrupted batch run over the full input
    val errAll = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, cfg)._1
      .filter(graft.pipeline.IndexingPipeline.isError).count()
    assert(spark.read.parquet(s"$out/error_index").count() === errAll)
    assert(errBefore <= errAll)
    val deadAll = graft.pipeline.IndexingPipeline.parseEnrichRoute(
      spark.read.parquet(in), tools, roles, cfg)._2.count()
    assert(spark.read.parquet(s"$out/dead_letter").count() === deadAll)
  }

  test("ledger enabled on a pre-existing checkpoint commits via a catch-up delta") {
    val in = tmpDir("stream_in5"); val out = tmpDir("stream_out5")
    val cp = tmpDir("stream_cp5"); val ledgerDir = tmpDir("stream_ledger5")
    // phase 1: NO ledger — the streaming checkpoint advances past batch 0
    writeBatch(in, seed = 11L, convs = 20)
    StreamingPipeline.start(spark, in, out, cp).awaitTermination()
    // phase 2: ledger turned on mid-stream — the next batch id is > 0 but
    // the ledger's position is -1; a batchId-1 anchored delta would be a
    // permanent Gap. The catch-up delta must commit it.
    writeBatch(in, seed = 12L, convs = 15)
    StreamingPipeline.start(spark, in, out, cp,
      ledgerDir = Some(ledgerDir)).awaitTermination()
    val store = new graft.publish.Manifest.Store(ledgerDir)
    val snap = store.currentSnapshot()
    assert(snap.isDefined, "ledger never committed after mid-stream enablement")
    assert(snap.get.splits.nonEmpty)
    assert(snap.get.checkpoint("stream") >= 1L)
  }

  test("streaming dedup: first-seen emits, later duplicates suppressed across restart") {
    val in = tmpDir("dedup_in"); val out = tmpDir("dedup_out"); val cp = tmpDir("dedup_cp")
    // coarse fingerprint guarantees collisions inside AND across waves
    val fp = concat(col("role"), lit(":"), (length(col("text")) % 10).cast("string"))

    writeBatch(in, seed = 11L, convs = 30)
    StreamingPipeline.streamingDedup(spark, in, out, cp, fp, Seq("conv_id", "text"))
      .awaitTermination()
    val wave0 = spark.read.parquet(out).collect()
    val wave0Fps = wave0.map(_.getAs[String]("fp")).toSeq
    assert(wave0Fps.distinct.size === wave0Fps.size) // one emission per fp
    // null-text rows carry a null fingerprint — one state slot like any key
    val source0 = spark.read.parquet(in).select(fp.as("fp")).distinct().count()
    assert(wave0Fps.size.toLong === source0) // every distinct fp emitted once

    // wave 1 restarts from the checkpoint: fingerprints already emitted in
    // wave 0 must stay suppressed — only genuinely new fps appear
    writeBatch(in, seed = 12L, convs = 30)
    StreamingPipeline.streamingDedup(spark, in, out, cp, fp, Seq("conv_id", "text"))
      .awaitTermination()
    val all = spark.read.parquet(out).collect()
    val allFps = all.map(_.getAs[String]("fp")).toSeq
    assert(allFps.distinct.size === allFps.size) // still exactly one per fp
    val sourceAll = spark.read.parquet(in).select(fp.as("fp")).distinct().count()
    assert(allFps.size.toLong === sourceAll)
    assert(all.length > wave0.length) // wave 1 did contribute new fps
  }

  test("windowed rollup emits closed windows with stable turn order") {
    val in = tmpDir("stream_in3"); val out = tmpDir("stream_out3"); val cp = tmpDir("stream_cp3")
    writeBatch(in, seed = 4L, convs = 30)
    StreamingPipeline.windowedRollup(spark, in, out, cp,
      window = "10 minutes", watermark = "0 seconds").awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.count() > 0)
    // every emitted rollup's text is newline-joined in turn order: spot-check
    // that no rollup has fewer newlines than turns-1
    val bad = rows.filter(
      size(split(col("rollup_text"), "\n")) =!= col("n_turns")).count()
    assert(bad === 0L)
  }
}
