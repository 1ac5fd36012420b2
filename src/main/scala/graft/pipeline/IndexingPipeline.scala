package graft.pipeline

import graft.functions.Tokenizers
import graft.parse.DocParser
import graft.publish.{Checkpoint, Manifest}
import graft.route.Routing
import graft.util.FanOut
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end indexing job — Quickwit's pipeline
  * Source → DocProcessor → Indexer → Packager → Uploader → Publisher
  * (quickwit-indexing/src/actors/indexing_pipeline.rs:326-464) re-expressed
  * as ONE Spark job:
  *
  *   scan → parse (grok, dead-letter) → tokenize → enrich (dims lookup)
  *        → route (partition_id) → routed repartition (cached)
  *        → split-level aggregate + fan-out sinks → atomic manifest publish
  *
  * Exchanges per run: the routed repartition on partition_id, plus the two
  * of the salted rollup — (conv_id, chunk), then conv_id — or the one of the
  * unsalted rollup. The split doc and term stats group by partition_id over
  * the hash-partitioned cache and plan none; everything else is narrow and
  * whole-stage-codegen'd. IndexingPipelineSpec pins these counts.
  */
object IndexingPipeline {

  final case class Config(
      routingExpr: String = "hash_mod((tool,conv_id), 200)",
      maxPartitions: Int = Routing.DefaultMaxPartitions,
      saltChunk: Int = 1024, // turns per range-salt chunk (rollup skew defusal)
      tagCap: Int = 1000, // packager.rs:43-48
      shufflePartitions: Int = 32)

  final case class SinkCounts(errorIndex: Long, rollup: Long, deadLetter: Long)

  final case class Result(
      counts: SinkCounts,
      splits: Seq[Manifest.SplitEntry],
      routedChecksum: Long)

  /** The rows the error index keeps: a failed tool call or an ERROR-level
    * turn. The rollup's `n_errors` counts the same rows. */
  val isError: Column = col("call_status") === "ERR" || col("severity") === "ERROR"

  /** tools/roles dimension frames from the in-code fixtures. */
  def dims(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val tools = graft.model.TranscriptGen.toolsDim
      .toDF("tool", "sink", "category", "is_error_tracked")
    val roles = graft.model.TranscriptGen.rolesDim.toDF("role", "role_group", "weight")
    (tools, roles)
  }

  /** Stage 2–5 (parse → tokenize → enrich → route) as a reusable frame
    * transform: the front half of `run`, which every indexing path
    * (batch and streamed micro-batches) goes through, and the routing the
    * parity queries check. */
  def parseEnrichRoute(input: DataFrame, tools: DataFrame, roles: DataFrame,
                       cfg: Config): (DataFrame, DataFrame) = {
    val parsed = DocParser.parse(input, DocParser.Lenient)
    // NOTE: tokens are NOT materialized here — an array<string> per row
    // would dominate the shuffle and cache footprint of everything
    // downstream; splitTermStats re-derives terms from `text` after the
    // routed repartition, where the explode is narrow and cache-local.
    // dims enrichment replaces the routing/index-config lookup (SURVEY.md
    // §2.8); left-join semantics: an unknown tool keeps the row, sink null.
    val enriched = lookupJoin(lookupJoin(parsed.valid, tools, "tool"), roles, "role")
    val routed = Routing.withPartitionId(
      enriched, Routing.parse(cfg.routingExpr), cfg.maxPartitions)
    (routed, parsed.deadLetter)
  }

  /** `df.join(dim, Seq(key), "left")` for a small `dim` with a unique `key`,
    * as a lookup in a literal map instead of a hash join. The dim rows are
    * collected on the driver and every row reads its dim columns from one
    * `element_at(map(key -> struct(...)), key)`, so a run builds no
    * broadcast hash relation (an 8 MB page each, however few the rows), and
    * its generated code is the same from run to run. The output has the
    * join's schema: the key first, then `df`'s other columns, then `dim`'s,
    * null when the key is null or not in `dim`. */
  private[pipeline] def lookupJoin(df: DataFrame, dim: DataFrame, key: String): DataFrame = {
    val valueFields = dim.schema.fields.filterNot(_.name == key).toSeq
    val entries = dim.collect().toSeq.filterNot(r => r.isNullAt(r.fieldIndex(key)))
    val keys = entries.map(_.getAs[Any](key))
    require(keys.distinct.size == keys.size, s"dimension key `$key` is not unique")
    val lookup = Option.when(entries.nonEmpty)(element_at(map(entries.flatMap { r =>
      Seq(lit(r.getAs[Any](key)), struct(valueFields.map { f =>
        lit(r.getAs[Any](f.name)).cast(f.dataType).as(f.name)
      }: _*))
    }: _*), col(key)))
    val dimCols = valueFields.map { f =>
      lookup.fold(lit(null))(_.getField(f.name)).cast(f.dataType).as(f.name)
    }
    df.select((col(key) +: df.columns.toSeq.filterNot(_ == key).map(col)) ++ dimCols: _*)
  }

  /** Per-conversation rollup with the per-turn text-equality invariant:
    * turns concatenated in (turn_idx) order. `sort_array(collect_list(...))`
    * makes the result independent of shuffle arrival order.
    *
    * The salted variant defuses a hot conv_id (R4) with RANGE salting:
    * salt = turn_idx / chunk, so every salt bucket is a CONTIGUOUS turn
    * range. Each bucket sorts its own ≤chunk turns and pre-joins its text
    * partial; the final per-conv combine only sorts a handful of chunk
    * structs and concatenates their strings — the hot conversation's final
    * reducer does O(#chunks) comparisons instead of re-sorting all its turns
    * (a hashed salt would force exactly that, keeping the skew tail). */
  def conversationRollup(routed: DataFrame, salted: Boolean, cfg: Config): DataFrame = {
    val turnStruct = struct(col("turn_idx"), col("text"))
    val oneIfError = when(isError, 1L).otherwise(0L)
    if (!salted) {
      routed.groupBy(col("conv_id"))
        .agg(collect_list(turnStruct).as("_turns"),
             count(lit(1)).as("n_turns"),
             sum(oneIfError).as("n_errors"),
             min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .withColumn("rollup_text",
          array_join(transform(sort_array(col("_turns")), t => t.getField("text")), "\n"))
        .drop("_turns")
    } else {
      val chunk = math.max(1, cfg.saltChunk)
      routed
        .withColumn("_chunk", (col("turn_idx") / lit(chunk)).cast("long"))
        .groupBy(col("conv_id"), col("_chunk"))
        .agg(collect_list(turnStruct).as("_p_turns"),
             count(lit(1)).as("_p_n"),
             sum(oneIfError).as("_p_err"),
             min(col("ts")).as("_p_min"), max(col("ts")).as("_p_max"))
        .withColumn("_p_text",
          array_join(transform(sort_array(col("_p_turns")), t => t.getField("text")), "\n"))
        .groupBy(col("conv_id"))
        .agg(collect_list(struct(col("_chunk"), col("_p_text"))).as("_chunks"),
             sum(col("_p_n")).as("n_turns"),
             sum(col("_p_err")).as("n_errors"),
             min(col("_p_min")).as("first_ts"), max(col("_p_max")).as("last_ts"))
        .withColumn("rollup_text",
          array_join(transform(sort_array(col("_chunks")), c => c.getField("_p_text")), "\n"))
        .drop("_chunks")
    }
  }

  /** Split-level aggregates per routed partition — SplitMetadata analog
    * (A10–A12): num_docs, bytes, time range, capped tag set, exact
    * term_cardinality + postings_count (the merge-pipeline stats,
    * packager.rs:230-273 + num_terms()). Per-split exact counts do not
    * merge across splits (terms repeat); cross-split distinct counts come
    * from `SplitSketches.buildPerSplit`. The join of the two builders'
    * outputs plans no exchange over a frame already hash-partitioned on
    * partition_id. */
  def splitAggregates(routed: DataFrame, cfg: Config): DataFrame =
    splitDocStats(routed, cfg)
      .join(splitTermStats(routed), Seq("partition_id"), "left")

  /** Per-split doc stats: num_docs, bytes, time range and the capped tag set. */
  def splitDocStats(routed: DataFrame, cfg: Config): DataFrame = {
    val aggs = docStatsAggs(cfg)
    routed.groupBy("partition_id").agg(aggs.head, aggs.tail: _*)
  }

  /** `tags_complete` reads the size of the same `collect_set` the tags come
    * from, so the aggregate plans one set per split and no distinct-count
    * Expand. */
  private def docStatsAggs(cfg: Config): Seq[Column] = {
    val tools = collect_set(col("tool"))
    Seq(count(lit(1)).as("num_docs"),
      sum(octet_length(col("text")).cast("long")).as("uncompressed_docs_size_in_bytes"),
      min(col("ts")).as("time_range_start"), max(col("ts")).as("time_range_end"),
      slice(sort_array(tools), 1, cfg.tagCap).as("tags"),
      (size(tools) <= cfg.tagCap).as("tags_complete"))
  }

  /** Per-split term stats: exact term_cardinality and postings_count.
    *
    * Two-level term aggregation instead of countDistinct: grouping on
    * (partition, term) first lets the partial aggregate collapse duplicate
    * terms early, and avoids the Expand duplication countDistinct+count in
    * one agg would plan; cardinality = count of groups, postings = sum of
    * counts. Over a frame hash-partitioned on partition_id both levels plan
    * no exchange. */
  def splitTermStats(routed: DataFrame): DataFrame =
    routed
      .select(col("partition_id"), explode(Tokenizers.default(col("text"))).as("term"))
      .groupBy("partition_id", "term").agg(count(lit(1)).as("_tc"))
      .groupBy("partition_id")
      .agg(count(lit(1)).as("term_cardinality"), sum(col("_tc")).as("postings_count"))

  /** Deterministic routed-row set checksum over (sink, conv_id, turn_idx) —
    * the routed-row equality check of the BASELINE. Order-independent and
    * parallelism-invariant: Σ hashes mod 2^64, computed as four overflow-free
    * LONG sums of 16-bit limbs — each limb sum is ≤ 65535·rows, safe in a
    * long up to ~1.4e14 rows, so ANSI mode cannot throw at the 10^12-turn
    * target and the aggregate stays codegen'd (the earlier decimal(38,0)
    * sum paid per-row BigDecimal arithmetic) — recombined with wrapping
    * arithmetic on the driver. */
  private[pipeline] def checksumAggs(h: Column): Seq[Column] =
    (3 to 0 by -1).map { limb =>
      sum(call_function("shiftrightunsigned", h, lit(limb * 16)).bitwiseAND(lit(0xFFFFL)))
        .as(s"_ck_$limb")
    }

  private[pipeline] def combineChecksum(limbSums: Seq[Long]): Long =
    limbSums.zip(Seq(48, 32, 16, 0)).map { case (s, sh) => s << sh }.sum // wrapping = mod 2^64

  /** Run the whole pipeline and publish. `delta` identifies the input batch
    * for exactly-once resume: rerunning an already-published delta is
    * rejected by the manifest store and the job becomes a no-op.
    *
    * One grouped pass over the persisted routed frame fills the cache and
    * returns each split's doc stats, the error count and the checksum limbs.
    *
    * Execution shape: the three sink writes and the term stats then read
    * the cache concurrently, one [[FanOut]] thread each, created by this
    * call; the rollup and dead-letter counts are `Observation`s on their
    * own writes. When any of them fails, `run` waits for the others, then
    * throws the first failure with the rest suppressed. */
  def run(spark: SparkSession, input: DataFrame, outDir: String,
          delta: Checkpoint.Delta, cfg: Config = Config(),
          salted: Boolean = true): Option[Result] = {
    val store = new Manifest.Store(outDir)
    // resume check: skip already-committed deltas before any work
    store.currentSnapshot().foreach { snap =>
      val cp = Checkpoint.SourceCheckpoint(snap.checkpoint)
      if (cp.checkCompatibility(delta).isLeft) return None
    }
    // batch-scoped sink subdirs: incremental deltas append new file groups
    // instead of clobbering earlier batches (uploader stages per split).
    val batchId = store.currentSnapshot().map(_.snapshotId + 1).getOrElse(1L)
    val (tools, roles) = dims(spark)
    val (routedRaw, deadLetter) = parseEnrichRoute(input, tools, roles, cfg)
    val routed = routedRaw
      .repartition(cfg.shufflePartitions, col("partition_id"))
      .persist()
    try {
      // the grouped pass runs alone and first: concurrent first-touch of an
      // unmaterialized cache would race partition computation instead of
      // sharing it
      val h = xxhash64(coalesce(col("sink"), lit("_null")), col("conv_id"), col("turn_idx"))
      val aggs = docStatsAggs(cfg) ++
        (sum(when(isError, 1L).otherwise(0L)).as("_errors") +: checksumAggs(h))
      val docStats = routed.groupBy("partition_id").agg(aggs.head, aggs.tail: _*)
        // NTZ-safe: convert to epoch µs inside the plan — collecting raw
        // ts columns yields LocalDateTime for TIMESTAMP_NTZ inputs
        .withColumn("_start_us", unix_micros(col("time_range_start").cast("timestamp_ltz")))
        .withColumn("_end_us", unix_micros(col("time_range_end").cast("timestamp_ltz")))
        .collect()

      val rollupRows = Observation()
      val deadRows = Observation()
      def zstd(df: DataFrame) = df.write.mode("overwrite").option("compression", "zstd")
      def write(w: => Unit): () => Option[Array[Row]] = () => { w; None }
      // One thread per fan-out action (3 sink writes, term stats): they are
      // independent reads of the cached frame, and submitting them together
      // lets the scheduler interleave their tasks, so the wall clock
      // approaches max(), not sum(), of the four.
      val termRows = FanOut.all(FanOutThreadName, 4)(Seq(
        write(zstd(routed.filter(isError)).partitionBy("sink")
          .parquet(s"$outDir/error_index/batch-$batchId")),
        write(zstd(conversationRollup(routed, salted, cfg)
          .observe(rollupRows, count(lit(1)).as("rows")))
          .parquet(s"$outDir/rollup/batch-$batchId")),
        write(deadLetter.observe(deadRows, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$outDir/dead_letter/batch-$batchId")),
        () => Some(splitTermStats(routed).collect()))).last.get

      // observations are read only once every write has succeeded: Spark
      // does not promise to complete the observation of a failed write
      def observed(o: Observation): Long = o.get("rows").asInstanceOf[Long]
      val counts = SinkCounts(
        errorIndex = docStats.map(_.getAs[Long]("_errors")).sum,
        rollup = observed(rollupRows),
        deadLetter = observed(deadRows))
      val checksum = combineChecksum(
        (3 to 0 by -1).map(limb => docStats.map(_.getAs[Long](s"_ck_$limb")).sum))
      val terms = termRows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val splits = docStats.toSeq.sortBy(_.getAs[Long]("partition_id")).map { r =>
        val pid = r.getAs[Long]("partition_id")
        val (termCardinality, postings) = terms.getOrElse(pid, (0L, 0L))
        Manifest.SplitEntry(
          splitId = s"split-$batchId-p$pid",
          partitionId = pid,
          numDocs = r.getAs[Long]("num_docs"),
          uncompressedBytes = r.getAs[Long]("uncompressed_docs_size_in_bytes"),
          timeRangeStartMicros = Option(r.getAs[Any]("_start_us")).map(_.asInstanceOf[Long]).getOrElse(0L),
          timeRangeEndMicros = Option(r.getAs[Any]("_end_us")).map(_.asInstanceOf[Long]).getOrElse(0L),
          tags = r.getAs[scala.collection.Seq[String]]("tags").toSeq,
          termCardinality = termCardinality,
          postingsCount = postings,
          numMergeOps = 0, deleteOpstamp = 0L, files = Nil)
      }

      store.publish(splits, Set.empty, delta) match {
        case Left(err) => throw new IllegalStateException(err)
        case Right(_)  => Some(Result(counts, splits, checksum))
      }
    } finally routed.unpersist()
  }

  /** Name of the threads `run` fans its sink writes and term stats out on. */
  private[pipeline] val FanOutThreadName = "indexing-pipeline-fanout"

}
