package graft.streaming

import graft.pipeline.IndexingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming compilation of the same indexing pipeline: the
  * reference's unbounded sources + checkpointed micro-batch commits
  * (SURVEY.md §2.9 T1–T3) map to `readStream` + `foreachBatch` +
  * `checkpointLocation`.
  *
  * - Source offsets/checkpoint deltas (checkpoint.rs:290,401,481) →
  *   Spark's streaming checkpoint dir. foreachBatch replays a batch whose
  *   commit did not land (at-least-once), so every sink write below is made
  *   IDEMPOTENT by writing into a `batch_id=N` partition dir with overwrite
  *   — a replayed batch replaces its own previous partial output instead of
  *   appending duplicates, which restores end-to-end exactly-once.
  * - Commit triggers (indexer.rs:578-608: timeout / num-docs / drain) →
  *   `Trigger.ProcessingTime` / `maxFilesPerTrigger` / `AvailableNow`.
  * - The per-batch fan-out mirrors the batch job exactly — one shared
  *   `parseEnrichRoute` is the single source of stage semantics.
  */
object StreamingPipeline {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Start the streaming job over a growing parquet directory. Each
    * micro-batch runs parse → enrich → route and appends to the three sinks
    * plus per-batch split stats. `AvailableNow` drains what exists and
    * stops — the bounded-source test/ops mode; pass a processing-time
    * trigger for continuous tailing.
    *
    * When `ledgerDir` is set, every micro-batch also PUBLISHES one manifest
    * entry under a contiguous per-batch checkpoint delta — the publisher +
    * metastore commit the reference runs per split
    * (publisher.rs:101-150, checkpoint.rs:290). Spark's foreachBatch is
    * at-least-once: after a crash the same batchId replays, the sink
    * overwrites land on the same paths, and the ledger publish is REJECTED
    * as an overlapping delta — the replay is a no-op and the ledger stays
    * exactly-once, which is the resume contract a Kafka-backed source
    * would need (source/kafka_source.rs semantics, no broker offline). */
  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, cfg: IndexingPipeline.Config = IndexingPipeline.Config(),
            trigger: Trigger = Trigger.AvailableNow(),
            ledgerDir: Option[String] = None): StreamingQuery = {
    val (tools, roles) = IndexingPipeline.dims(spark)
    val ledger = ledgerDir.map(new graft.publish.Manifest.Store(_))
    val stream = spark.readStream
      .schema(transcriptSchema)
      .option("maxFilesPerTrigger", 16) // 5 MiB-batch analog: bounded batches
      .parquet(inputDir)

    stream.writeStream
      .queryName("graft-indexing")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, outDir, tools, roles, cfg, ledger)
        ()
      }
      .start()
  }

  /** One micro-batch of the 3-sink fan-out (+ optional ledger publish).
    * Public so specs and the driver query can REPLAY a batch directly —
    * simulating foreachBatch's crash-redelivery — and prove idempotence:
    * same batchId ⇒ same sink paths overwritten with the same rows, ledger
    * publish rejected as an overlapping delta. Returns true when the
    * ledger accepted the batch (or no ledger is configured), false for a
    * replayed/already-committed batch. */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String,
                   tools: DataFrame, roles: DataFrame,
                   cfg: IndexingPipeline.Config,
                   ledger: Option[graft.publish.Manifest.Store] = None): Boolean = {
    val (routed0, dead) = IndexingPipeline.parseEnrichRoute(batch, tools, roles, cfg)
    val routed = routed0.repartition(cfg.shufflePartitions, col("partition_id")).persist()
    try {
      // batch-scoped partition dirs + overwrite ⇒ idempotent under
      // foreachBatch replay (see class doc); readers see batch_id as a
      // discovered partition column
      routed.filter(IndexingPipeline.isError)
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("sink").parquet(s"$outDir/error_index/batch_id=$batchId")
      dead.write.mode("overwrite").parquet(s"$outDir/dead_letter/batch_id=$batchId")
      IndexingPipeline.splitAggregates(routed, cfg)
        .write.mode("overwrite").parquet(s"$outDir/split_stats/batch_id=$batchId")
      ledger.forall { store =>
        val stats = graft.publish.SplitStaging.stats(routed)
        val entry = graft.publish.Manifest.SplitEntry(
          splitId = s"stream-batch-$batchId",
          partitionId = 0L,
          numDocs = stats.numDocs,
          uncompressedBytes = stats.bytes,
          timeRangeStartMicros = stats.minUs.getOrElse(0L),
          timeRangeEndMicros = stats.maxUs.getOrElse(0L),
          tags = Nil, termCardinality = 0L, postingsCount = 0L,
          numMergeOps = 0, deleteOpstamp = 0L,
          files = Seq(s"$outDir/error_index/batch_id=$batchId",
            s"$outDir/dead_letter/batch_id=$batchId",
            s"$outDir/split_stats/batch_id=$batchId"))
        // Delta anchored at the ledger's ACTUAL position, not batchId-1:
        // enabling the ledger on a pre-existing checkpoint (current < N-1)
        // must commit with a catch-up delta instead of failing as a Gap
        // forever; current >= batchId is the genuine replay (Overlap) case.
        val cur = store.currentSnapshot()
          .flatMap(_.checkpoint.get("stream")).getOrElse(-1L)
        cur < batchId && store.publish(Seq(entry), Set.empty,
          graft.publish.Checkpoint.Delta(Seq(
            graft.publish.Checkpoint.PartitionDelta("stream", cur, batchId)))).isRight
      }
    } finally routed.unpersist()
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
