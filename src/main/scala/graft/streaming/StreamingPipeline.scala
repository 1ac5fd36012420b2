package graft.streaming

import graft.pipeline.IndexingPipeline
import graft.publish.{Checkpoint, Manifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming front end of the one indexing job: the
  * reference's unbounded sources + checkpointed micro-batch commits
  * (SURVEY.md §2.9 T1–T3) map to `readStream` + `foreachBatch` +
  * `checkpointLocation`, and each micro-batch is one
  * [[IndexingPipeline.run]]. Only the source differs from a batch run.
  *
  * - Source offsets → Spark's streaming checkpoint dir; the manifest's
  *   `stream` checkpoint position (checkpoint.rs:290,401,481) records the
  *   last published batch id, committed atomically with that batch's
  *   splits (publisher.rs:122-142).
  * - Commit triggers (indexer.rs:578-608: timeout / num-docs / drain) →
  *   `Trigger.ProcessingTime` / `maxFilesPerTrigger` / `AvailableNow`.
  */
object StreamingPipeline {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Start the streaming job over a growing parquet directory. Each
    * micro-batch is [[processBatch]]: a `run` into `outDir` that writes the
    * three sinks under `batch-N` and publishes one manifest entry per
    * routing partition to `outDir`'s manifest. `AvailableNow` drains what
    * exists and stops — the bounded-source test/ops mode; pass a
    * processing-time trigger for continuous tailing. */
  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, cfg: IndexingPipeline.Config = IndexingPipeline.Config(),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(transcriptSchema)
      .option("maxFilesPerTrigger", 16) // 5 MiB-batch analog: bounded batches
      .parquet(inputDir)

    stream.writeStream
      .queryName("graft-indexing")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, outDir, cfg)
        ()
      }
      .start()
  }

  /** One micro-batch: [[IndexingPipeline.run]] under the delta
    * `("stream", cur, batchId)`, where `cur` is the manifest's `stream`
    * position (−1 before the first publish). Anchoring on `cur` rather
    * than `batchId − 1` lets a fresh `outDir` over an existing streaming
    * checkpoint commit through a catch-up delta.
    *
    * foreachBatch is at-least-once: after a crash the same batchId is
    * redelivered. A batch the manifest already holds (`cur >= batchId`)
    * writes nothing and returns None. A batch whose sinks landed but whose
    * publish did not reruns into the same `batch-N` dirs (overwrite), so
    * one copy of its rows remains. Public so specs and the driver query
    * can replay a batch directly. */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String,
                   cfg: IndexingPipeline.Config): Option[IndexingPipeline.Result] = {
    val cur = new Manifest.Store(outDir).currentSnapshot()
      .flatMap(_.checkpoint.get("stream")).getOrElse(-1L)
    if (cur >= batchId) None
    else IndexingPipeline.run(batch.sparkSession, batch, outDir,
      Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("stream", cur, batchId))), cfg)
  }

  /** Streaming exact dedup at ingest — the streaming twin of the batch
    * `Dedup.exactDuplicates` stage, the shape an LLM ingest pipeline needs
    * when duplicates must be dropped BEFORE they ever land: first-seen rows
    * pass through in append mode, later arrivals with the same fingerprint
    * are suppressed, and `dropDuplicatesWithinWatermark` bounds the
    * fingerprint state by the event-time watermark instead of growing
    * forever — the property that keeps this runnable on an unbounded
    * stream (a plain streaming dropDuplicates pins every key in state for
    * the life of the job). Dedup state lives in the checkpoint, so a
    * restarted job keeps suppressing duplicates of rows emitted before the
    * crash. `key` is any deterministic fingerprint expression over the
    * transcript columns; `carry` columns ride along with it to the sink. */
  def streamingDedup(spark: SparkSession, inputDir: String, outDir: String,
                     checkpointDir: String, key: org.apache.spark.sql.Column,
                     carry: Seq[String], watermark: String = "8760 hours"): StreamingQuery = {
    val stream = spark.readStream.schema(transcriptSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(inputDir)
    stream
      .withColumn("fp", key)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select(("fp" +: carry).map(col): _*)
      .writeStream
      .queryName("graft-stream-dedup")
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Streaming per-conversation rollup with event-time windows + watermark —
    * the one place the Spark build goes beyond the reference (which has no
    * watermarks, §2.9 T4): bounded state for an unbounded stream. Append
    * mode emits a window only once its watermark passes — suitable for a
    * parquet sink. */
  def windowedRollup(spark: SparkSession, inputDir: String, outDir: String,
                     checkpointDir: String, window: String = "1 hour",
                     watermark: String = "2 hours"): StreamingQuery = {
    val stream = spark.readStream.schema(transcriptSchema).parquet(inputDir)
    val agg = stream
      .filter(col("text").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
           min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
           array_join(transform(sort_array(collect_list(struct(col("turn_idx"), col("text")))),
             t => t.getField("text")), "\n").as("rollup_text"))
    agg.writeStream
      .queryName("graft-windowed-rollup")
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
