package graft.streaming

import graft.SparkTestBase
import graft.model.TranscriptGen
import graft.pipeline.IndexingPipeline
import graft.publish.{Checkpoint, Manifest}
import org.apache.spark.sql.functions._

/** Structured-Streaming pipeline tests: drain-and-stop semantics, checkpoint
  * resume (new files only), parity with a batch `IndexingPipeline.run` over
  * the same input, and a failed publish followed by a replay. */
class StreamingPipelineSpec extends SparkTestBase {

  private val cfg = IndexingPipeline.Config()

  private def writeBatch(dir: String, seed: Long, convs: Int): Long = {
    import spark.implicits._
    val turns = TranscriptGen.turns(numConvs = convs, avgTurns = 6, seed = seed)
    turns.toDS().toDF().coalesce(2).write.mode("append").parquet(dir)
    turns.size.toLong
  }

  /** Rows under one sink's `batch-N` dirs: partition discovery cannot read
    * them as one table, so the count looks files up recursively. */
  private def sinkRows(dir: String): Long =
    spark.read.option("recursiveFileLookup", "true").parquet(dir).count()

  private def publishedDocs(out: String): Long =
    new Manifest.Store(out).currentSnapshot().get.splits.map(_.numDocs).sum

  /** (routed, dead-letter) frames of the batch pipeline over all of `in`. */
  private def batchFrames(in: String) = {
    val (tools, roles) = IndexingPipeline.dims(spark)
    IndexingPipeline.parseEnrichRoute(spark.read.parquet(in), tools, roles, cfg)
  }

  test("AvailableNow drains existing files; checkpoint resume processes only new data") {
    val in = tmpDir("stream_in"); val out = tmpDir("stream_out"); val cp = tmpDir("stream_cp")
    val n1 = writeBatch(in, seed = 1L, convs = 40)

    StreamingPipeline.start(spark, in, out, cp).awaitTermination()
    val afterFirst = publishedDocs(out)
    val (routed1, dead1) = batchFrames(in)
    assert(afterFirst === routed1.count())
    assert(sinkRows(s"$out/dead_letter") === dead1.count())

    // second wave of files: restart from checkpoint, only the delta is processed
    val n2 = writeBatch(in, seed = 2L, convs = 25)
    StreamingPipeline.start(spark, in, out, cp).awaitTermination()
    val afterSecond = publishedDocs(out)
    assert(afterSecond === batchFrames(in)._1.count()) // accumulated exactly once
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

  test("a streamed batch publishes what a batch run over the same input does") {
    val in = tmpDir("stream_par_in")
    writeBatch(in, seed = 5L, convs = 40)
    val input = spark.read.parquet(in)
    val outS = tmpDir("stream_par_s"); val outB = tmpDir("stream_par_b")
    val streamed = StreamingPipeline.processBatch(input, 0L, outS, cfg).get
    val batch = IndexingPipeline.run(spark, input, outB,
      Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("batch", -1L, 1L))), cfg).get
    assert(streamed.counts === batch.counts)
    assert(streamed.routedChecksum === batch.routedChecksum)
    // one entry per routing partition, with its tags and term stats
    assert(streamed.splits.size > 1)
    assert(streamed.splits.exists(_.tags.nonEmpty))
    assert(streamed.splits === batch.splits)
    assert(new Manifest.Store(outS).currentSnapshot().get.splits === batch.splits)
    Seq("error_index", "rollup", "dead_letter").foreach { sink =>
      assert(sinkRows(s"$outS/$sink") === sinkRows(s"$outB/$sink"), sink)
    }
    // a drained stream over the same files publishes the same docs
    val outQ = tmpDir("stream_par_q")
    StreamingPipeline.start(spark, in, outQ, tmpDir("stream_par_cp"), cfg).awaitTermination()
    assert(publishedDocs(outQ) === batch.splits.map(_.numDocs).sum)
  }

  test("a failed publish, then a replay of the same batch, leaves exactly one copy") {
    val in = tmpDir("stream_crash_in")
    writeBatch(in, seed = 6L, convs = 30)
    val input = spark.read.parquet(in)
    val clean = tmpDir("stream_crash_clean")
    StreamingPipeline.processBatch(input, 0L, clean, cfg).get
    val out = tmpDir("stream_crash_out")
    // the manifest's directory is a regular file, so the publish fails
    // after the sinks are written
    val blocker = java.nio.file.Paths.get(out, "metadata")
    java.nio.file.Files.write(blocker, Array[Byte](1))
    intercept[java.nio.file.FileAlreadyExistsException] {
      StreamingPipeline.processBatch(input, 0L, out, cfg)
    }
    assert(new java.io.File(s"$out/rollup/batch-1/_SUCCESS").exists())
    java.nio.file.Files.delete(blocker)
    assert(StreamingPipeline.processBatch(input, 0L, out, cfg).isDefined)
    Seq("error_index", "rollup", "dead_letter").foreach { sink =>
      assert(sinkRows(s"$out/$sink") === sinkRows(s"$clean/$sink"), sink)
    }
    assert(publishedDocs(out) === publishedDocs(clean))
  }

  test("ledger resume: kill/restart + batch replay land exactly-once counts") {
    val in = tmpDir("stream_in4"); val out = tmpDir("stream_out4")
    val cp = tmpDir("stream_cp4")

    // wave 1 → drain; the manifest commits each micro-batch
    writeBatch(in, seed = 7L, convs = 40)
    StreamingPipeline.start(spark, in, out, cp, cfg).awaitTermination()
    val store = new Manifest.Store(out)
    val snap1 = store.currentSnapshot().get
    val routedAll1 = batchFrames(in)._1.count()
    assert(snap1.splits.map(_.numDocs).sum === routedAll1)

    // crash-redelivery: REPLAY the last committed batch directly — the
    // manifest already holds it, so the replay writes and publishes nothing.
    // Wave 1 is 2 files < maxFilesPerTrigger, i.e. exactly ONE micro-batch,
    // so the full wave-1 read IS that batch's redelivered content.
    val lastBatch = snap1.checkpoint("stream")
    assert(lastBatch === 0L && snap1.snapshotId === 1L)
    val errBefore = sinkRows(s"$out/error_index")
    val replay = StreamingPipeline.processBatch(spark.read.parquet(in), lastBatch, out, cfg)
    assert(replay.isEmpty)
    assert(store.currentSnapshot().get === snap1)
    assert(sinkRows(s"$out/error_index") === errBefore)

    // wave 2 → restart from the checkpoint: only the delta processes,
    // batch ids continue, the manifest deltas stay contiguous
    writeBatch(in, seed = 8L, convs = 25)
    StreamingPipeline.start(spark, in, out, cp, cfg).awaitTermination()
    val snap2 = store.currentSnapshot().get
    val (routedAll2, deadAll) = batchFrames(in)
    assert(snap2.splits.map(_.numDocs).sum === routedAll2.count())
    assert(snap2.checkpoint("stream") > lastBatch)
    // sink parity with an uninterrupted batch run over the full input
    val errAll = routedAll2.filter(IndexingPipeline.isError).count()
    assert(sinkRows(s"$out/error_index") === errAll)
    assert(errBefore <= errAll)
    assert(sinkRows(s"$out/dead_letter") === deadAll.count())
  }

  test("a fresh outDir over an existing checkpoint commits through a catch-up delta") {
    val in = tmpDir("stream_in5"); val cp = tmpDir("stream_cp5")
    // phase 1: the streaming checkpoint advances past batch 0
    writeBatch(in, seed = 11L, convs = 20)
    StreamingPipeline.start(spark, in, tmpDir("stream_out5a"), cp).awaitTermination()
    // phase 2: a new outDir — the next batch id is > 0 but the fresh
    // manifest's position is -1; a batchId-1 anchored delta would be a
    // permanent Gap. The catch-up delta must commit it.
    writeBatch(in, seed = 12L, convs = 15)
    val out = tmpDir("stream_out5b")
    StreamingPipeline.start(spark, in, out, cp).awaitTermination()
    val snap = new Manifest.Store(out).currentSnapshot()
    assert(snap.isDefined, "a fresh outDir never committed over an existing checkpoint")
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
