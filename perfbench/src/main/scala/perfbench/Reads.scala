package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.publish.{Checkpoint, MergeExecutor, MergePolicy}
import graft.queryast.{EsApi, EsDsl, FieldResolver}
import graft.sources.TranscriptTable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `search_read` and `ingest_mixed`: a seeded request mix over a many-split
  * table, alone or beside a writer that appends and merges. */
object Reads {

  val InitialRows = 24000L
  val HotShare = 0.10
  val MalformedShare = 0.02
  val Batches = 2       // appends that build the table
  val FilesPerBatch = 8 // splits per append
  val SetupReps = 3
  val BaseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val SpanS = 7L * 86400L
  val K = 10
  /** Times each lookup template recurs per cycle of the request sequence;
    * each search template runs once per cycle. */
  val LookupRepeats = 2

  // ingest_mixed writer: small batches on a fixed schedule
  val AppendRows = 400
  val AppendFiles = 2
  val PeriodMs = 2000L
  /** Appended splits merge into mature splits; the initial ones are mature. */
  val MergeCfg = MergePolicy.Config(splitNumDocsTarget = 500L)

  private val resolver = FieldResolver(Set("text"), Seq("text"))
  private val idCol: Column = concat_ws(":", col("conv_id"), col("turn_idx").cast("string"))
  private val mapper = new ObjectMapper()

  sealed trait Req { def id: Int; def search: Boolean; def kind: String }
  final case class Latest(id: Int, word: Option[String], s: Long, e: Long) extends Req {
    def search = false; def kind = "topKByTs" }
  final case class ByField(id: Int, word: String) extends Req {
    def search = false; def kind = "topKByField" }
  final case class Count(id: Int) extends Req { def search = false; def kind = "countFromMetadata" }
  /** Latest k over the whole table: the one lookup that reaches fresh splits. */
  final case class Newest(id: Int) extends Req { def search = false; def kind = "topKByTs_newest" }
  final case class Search(id: Int, word: String, s: Long, e: Long, bm25: Boolean) extends Req {
    def search = true; def kind = if (bm25) "search_bm25" else "search_ts" }

  /** Independent answers, from an unpruned, uncached scan of the rows. */
  sealed trait Answer
  final case class Rows(keys: Seq[(String, Int)]) extends Answer
  /** The newest rows of the initial data; appended rows are newer, so a
    * growing table may answer with newer rows instead, never older ones. */
  final case class NewestRows(keys: Seq[(String, Int)], floorUs: Long) extends Answer
  final case class Total(n: Long) extends Answer
  final case class Hits(total: Long, ids: Seq[String], matching: Set[String],
                        tools: Map[String, Long]) extends Answer

  private def matches(w: String): Column =
    array_contains(split(lower(coalesce(col("text"), lit(""))), "[^a-z0-9]+"), w)
  private def within(s: Long, e: Long): Column =
    col("ts") >= timestamp_micros(lit(s)) && col("ts") < timestamp_micros(lit(e))
  private def matchQuery(w: String): String = s"""{"match":{"text":"$w"}}"""

  /** Seeded templates over the table's time range [t0, t1). */
  def templates(seed: Long, t0: Long, t1: Long): Seq[Req] = {
    val rng = new scala.util.Random(seed)
    val width = (t1 - t0) / 8
    def window(): (Long, Long) = {
      val s = t0 + (rng.nextDouble() * (t1 - t0 - width)).toLong
      (s, s + width)
    }
    def word(): String = Gen.Words(rng.nextInt(Gen.Words.length))
    val lookups = Seq.tabulate(4) { i =>
      val (s, e) = window(); Latest(i, if (i % 2 == 0) Some(word()) else None, s, e)
    } ++ Seq(ByField(4, word()), ByField(5, word()), Count(6), Newest(7))
    val searches = Seq.tabulate(3) { i =>
      val (s, e) = window(); Search(8 + i, word(), s, e, bm25 = i == 2)
    }
    lookups ++ searches
  }

  /** One cycle of the request sequence: every template, lookups
    * `LookupRepeats` times, in a seeded order. Runs repeat whole cycles, so
    * every seed runs the same mix. */
  def cycle(seed: Long, reqs: Seq[Req]): Seq[Req] =
    new scala.util.Random(seed ^ 0x5eed)
      .shuffle(reqs.flatMap(r => Seq.fill(if (r.search) 1 else LookupRepeats)(r)))

  /** `f` over `xs` on `threads` threads: set-up work that is not timed. */
  private def inParallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try xs.map(x => scala.concurrent.Future(f(x)))
      .map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }

  def oracle(df: DataFrame, reqs: Seq[Req], threads: Int): Map[Int, Answer] = inParallel(reqs, threads) {
    case r @ Latest(_, w, s, e) =>
      val f = df.filter(within(s, e) && w.fold(lit(true))(matches))
      r.id -> Rows(f.orderBy(col("ts").desc, col("conv_id"), col("turn_idx")).limit(K)
        .select("conv_id", "turn_idx").collect().map(x => (x.getString(0), x.getInt(1))).toSeq)
    case r @ ByField(_, w) =>
      r.id -> Rows(df.filter(matches(w))
        .orderBy(col("turn_idx").desc, col("conv_id"), col("turn_idx")).limit(K)
        .select("conv_id", "turn_idx").collect().map(x => (x.getString(0), x.getInt(1))).toSeq)
    case r @ Count(_) => r.id -> Total(df.count())
    case r @ Newest(_) =>
      val top = df.orderBy(col("ts").desc, col("conv_id"), col("turn_idx")).limit(K)
        .select(col("conv_id"), col("turn_idx"), unix_micros(col("ts"))).collect()
      r.id -> NewestRows(top.map(x => (x.getString(0), x.getInt(1))).toSeq, top.last.getLong(2))
    case r @ Search(_, w, s, e, bm25) =>
      val f = df.filter(within(s, e) && matches(w)).select(idCol.as("id"), col("ts"), col("tool"))
      val total = f.count()
      val ids = if (bm25) Nil
        else f.orderBy(col("ts").desc, col("id").desc).limit(K).collect().map(_.getString(0)).toSeq
      val matching = if (bm25) f.select("id").collect().map(_.getString(0)).toSet else Set.empty[String]
      val tools = f.filter(col("tool").isNotNull).groupBy("tool").count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      r.id -> Hits(total, ids, matching, tools)
  }.toMap

  private def body(r: Search): String = {
    val q = s"""{"bool":{"must":[${matchQuery(r.word)}],""" +
      s""""filter":[{"range":{"ts":{"gte":${r.s / 1000},"lt":${r.e / 1000}}}}]}}"""
    val sort = if (r.bm25) "" else """"sort":[{"ts":"desc"}],"""
    s"""{"query":$q,$sort"size":$K,"aggs":{"tools":{"terms":{"field":"tool"}}}}"""
  }

  /** What a traced request adds to the per-layer record. */
  final class ReadTally {
    var requests = 0L
    var splitsOpened = 0L
    var splitsConsidered = 0L
    var hits = 0L
    val compileMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  /** Run one request; returns whether its answer checked out. `count` checks
    * a metadata count against the totals a concurrent writer may have
    * committed. */
  def execute(ctx: Ctx, table: TranscriptTable, r: Req, reqId: Long,
              expect: Option[Answer], countOk: Long => Boolean,
              tally: Option[ReadTally]): Boolean = {
    def call[T](name: String, label: String)(f: => T): T =
      if (tally.isDefined) ctx.call(name, label, reqId)(f) else f
    val totalSplits = tally.fold(0)(_ => table.store.currentSnapshot().map(_.splits.size).getOrElse(0))
    def keysOf(df: DataFrame): Seq[(String, Int)] =
      df.select("conv_id", "turn_idx").collect().map(x => (x.getString(0), x.getInt(1))).toSeq
    def topk(opened: Seq[String], keys: Seq[(String, Int)]): Boolean = {
      tally.foreach { t =>
        t.splitsOpened += opened.size; t.splitsConsidered += totalSplits; t.hits += keys.size
      }
      expect.forall {
        case Rows(want) => keys == want
        case NewestRows(want, _) => keys == want
        case _ => false
      }
    }
    call(s"request.${r.kind}", s"read.${r.kind}") {
      r match {
        case Latest(_, w, s, e) =>
          val q = w.map(x => EsDsl.parse(matchQuery(x)))
          val (df, opened) = call("sources.topKByTs", "read.topKByTs") {
            table.topKByTs(K, desc = true, query = q, resolver = resolver,
              startMicros = Some(s), endMicros = Some(e))
          }
          topk(opened, keysOf(df))
        case ByField(_, w) =>
          val q = Some(EsDsl.parse(matchQuery(w)))
          val (df, opened) = call("sources.topKByField", "read.topKByField") {
            table.topKByField("turn_idx", K, desc = true, query = q, resolver = resolver)
          }
          topk(opened, keysOf(df))
        case Count(_) =>
          countOk(call("sources.countFromMetadata", "read.count")(table.countFromMetadata()))
        case Newest(_) =>
          val (df, opened) = call("sources.topKByTs", "read.topKByTs") {
            table.topKByTs(K, desc = true, resolver = resolver)
          }
          val rows = df.select(col("conv_id"), col("turn_idx"), unix_micros(col("ts"))).collect()
          val keys = rows.map(x => (x.getString(0), x.getInt(1))).toSeq
          val ts = rows.map(_.getLong(2)).toSeq
          topk(opened, keys) || expect.exists {
            case NewestRows(want, floorUs) =>
              keys == want || (ts.size == K && ts == ts.sorted.reverse && ts.min >= floorUs)
            case _ => false
          }
        case sr @ Search(_, _, s, e, bm25) =>
          val df = call("sources.scan", "read.scan")(table.scan(Some(s), Some(e)))
          val json = call("queryast.EsApi.search", "read.EsApi.search") {
            EsApi.search(df, resolver, idCol, body(sr))
          }
          val root = mapper.readTree(json)
          val hitIds = root.path("hits").path("hits").elements().asScala
            .map(_.path("_id").asText()).toSeq
          tally.foreach { t =>
            val c0 = System.nanoTime()
            EsDsl.parse(matchQuery(sr.word)).toColumn(resolver)
            t.compileMs += (System.nanoTime() - c0) / 1e6
            t.splitsOpened += df.inputFiles.length; t.splitsConsidered += totalSplits
            t.hits += hitIds.size
          }
          expect.forall {
            case Hits(total, ids, matching, tools) =>
              val got = root.path("hits").path("total").path("value").asLong(-1)
              got == total &&
                (if (bm25) hitIds.size == math.min(K.toLong, total) && hitIds.forall(matching)
                 else hitIds == ids) &&
                termsOk(root.path("aggregations").path("tools").path("buckets"), tools)
            case _ => false
          }
      }
    }
  }

  /** A terms aggregation is right when each bucket's count is exact and the
    * buckets are a top-10 by count. */
  private def termsOk(buckets: JsonNode, want: Map[String, Long]): Boolean = {
    val got = buckets.elements().asScala.map(b => b.path("key").asText() -> b.path("doc_count").asLong()).toSeq
    val rest = want -- got.map(_._1)
    got.size == math.min(10, want.size) && got.forall { case (k, c) => want.get(k).contains(c) } &&
      (rest.isEmpty || got.map(_._2).min >= rest.values.max)
  }

  /** Generate rows and append them in time order as `Batches` ×
    * `FilesPerBatch` splits. */
  private def build(ctx: Ctx, rep: Int): (TranscriptTable, DataFrame, Long, Long) = {
    val df = Gen.turns(ctx.spark, ctx.seed, InitialRows, HotShare, MalformedShare, BaseMicros, SpanS)
      .persist()
    val b = df.agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).collect()(0)
    val (t0, t1) = (b.getLong(0), b.getLong(1) + 1)
    val table = new TranscriptTable(ctx.dir(s"table-$rep"), ctx.spark)
    (0 until Batches).foreach { k =>
      val lo = t0 + (t1 - t0) * k / Batches
      val hi = t0 + (t1 - t0) * (k + 1) / Batches
      table.append(df.filter(within(lo, hi)),
        Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("gen", k - 1L, k.toLong))),
        numFiles = FilesPerBatch, rangeFields = Seq("turn_idx"))
    }
    (table, df, t0, t1)
  }

  /** Set-up, several times; the last table is kept and warmed up by running
    * each template once (JIT and leaf cache), timed on its own. */
  private def setupReps(ctx: Ctx, report: Report): (TranscriptTable, DataFrame, Long, Long, Seq[Double]) = {
    val reps = if (ctx.trace.isDefined) 1 else SetupReps
    var last: (TranscriptTable, DataFrame, Long, Long) = null
    val secs = (0 until reps).map { rep =>
      if (last != null) { last._2.unpersist(blocking = true); ctx.rmrf(s"table-${rep - 1}") }
      val t0 = System.nanoTime()
      last = build(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    report.mark("set-up")
    val (table, df, t0, t1) = last
    val w0 = System.nanoTime()
    ctx.call("warmup", "read.warmup") {
      inParallel(templates(ctx.seed, t0, t1), ctx.cores)(r =>
        execute(ctx, table, r, 0L, None, _ => true, None))
    }
    report.named("warmup_s") = ((System.nanoTime() - w0) / 1e9, "s")
    report.mark("warm-up")
    (table, df, t0, t1, secs)
  }

  /** Closed-loop single client running whole cycles of the request sequence,
    * so every run sees the same mix, until `secs` have passed; latencies by
    * class. */
  private def readLoop(ctx: Ctx, table: TranscriptTable, reqs: Seq[Req],
                       answers: Map[Int, Answer], countOk: Long => Boolean,
                       report: Report, tally: Option[ReadTally], secs: Double,
                       reqBase: Long): (Seq[Double], Seq[Double]) = {
    val lookups = Seq.newBuilder[Double]
    val searches = Seq.newBuilder[Double]
    var n = 0L
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < secs) {
      for (r <- cycle(ctx.seed, reqs)) {
        n += 1
        val t0 = System.nanoTime()
        val ok = scala.util.Try(execute(ctx, table, r, reqBase + n, answers.get(r.id), countOk, tally))
        val ms = (System.nanoTime() - t0) / 1e6
        report.attempted += 1
        ok match {
          case scala.util.Success(true) => ()
          case scala.util.Success(false) => report.fail(s"${r.kind} #${r.id} answer mismatch")
          case scala.util.Failure(e) => report.fail(s"${r.kind} #${r.id} threw $e")
        }
        if (r.search) searches += ms else lookups += ms
        tally.foreach(_.requests += 1)
      }
    }
    (lookups.result(), searches.result())
  }

  private def readLayers(ctx: Ctx, table: TranscriptTable, report: Report, t: ReadTally,
                         before: LabelStats, after: LabelStats,
                         hitsBefore: Long, missBefore: Long): Unit = {
    val reqs = math.max(1L, t.requests).toDouble
    val hits = table.leafCache.hits - hitsBefore
    val lookups = hits + table.leafCache.misses - missBefore
    report.layer("sources.scan.cpu_s") = ((after.cpuNs - before.cpuNs) / 1e9, "s")
    report.layer("sources.scan.bytes") = ((after.inputBytes - before.inputBytes).toDouble, "bytes")
    report.layer("sources.splits_opened") = (t.splitsOpened / reqs, "count")
    report.layer("sources.prune_ratio") =
      (1.0 - t.splitsOpened.toDouble / math.max(1L, t.splitsConsidered), "ratio")
    report.layer("sources.rows_per_hit") =
      ((after.inputRecords - before.inputRecords).toDouble / math.max(1L, t.hits), "ratio")
    report.layer("operators.leaf_cache.hit_ratio") = (hits.toDouble / math.max(1L, lookups), "ratio")
    report.layer("operators.leaf_cache.bytes") = (table.leafCache.sizeBytes.toDouble, "bytes")
    report.layer("spark.jobs_per_request") = ((after.jobs - before.jobs) / reqs, "count")
    report.layer("spark.tasks_per_request") = ((after.tasks - before.tasks) / reqs, "count")
    report.layer("queryast.compile_ms") = (Stats.median(t.compileMs.toSeq), "ms")
  }

  def searchRead(ctx: Ctx, report: Report): Unit = {
    val (table, df, t0, t1, setupS) = setupReps(ctx, report)
    val reqs = templates(ctx.seed, t0, t1)
    val answers = oracle(df, reqs, ctx.cores)
    val n = answers.values.collectFirst { case Total(x) => x }.get
    df.unpersist(blocking = true)
    val countOk = (c: Long) => c == n
    val heap = new Stats.HeapPeak
    ctx.trace match {
      case None =>
        val start = System.nanoTime()
        val (l, s) = readLoop(ctx, table, reqs, answers, countOk, report, None,
          ctx.seconds, 0L)
        val rps = (l.size + s.size) / ((System.nanoTime() - start) / 1e9)
        report.e2e("setup_s") = (Stats.median(setupS), "s")
        report.e2e("throughput_per_s") = (rps, "1/s")
        report.e2e("latency_p50_ms") = (Stats.median(l), "ms")
        report.e2e("heap_peak_mb") = (heap.finishMb(), "MB")
        report.named("setup_s") = report.e2e("setup_s")
        report.latency("lookup", l, 90)
        report.latency("search", s, 75)
        report.named("requests_per_s") = (rps, "1/s")
        report.named("heap_peak_mb") = report.e2e("heap_peak_mb")
      case Some(tr) =>
        val half = ctx.seconds / 2.0
        val u0 = System.nanoTime()
        val (ul, us) = readLoop(ctx, table, reqs, answers, countOk, report, None, half, 0L)
        val plainRps = (ul.size + us.size) / ((System.nanoTime() - u0) / 1e9)
        val tally = new ReadTally
        val (h0, m0) = (table.leafCache.hits, table.leafCache.misses)
        val before = tr.prefixSum("")
        val t0n = System.nanoTime()
        val (l, s) = readLoop(ctx, table, reqs, answers, countOk, report, Some(tally),
          half, 1000000L)
        val rps = (l.size + s.size) / ((System.nanoTime() - t0n) / 1e9)
        readLayers(ctx, table, report, tally, before, tr.prefixSum(""), h0, m0)
        report.layer("trace.overhead_frac") = (plainRps / rps - 1.0, "ratio")
    }
  }

  /** Checksum of (conv_id, turn_idx, text) rows: count, Σ high and Σ low
    * 32-bit halves of xxhash64. */
  private def checksums(df: DataFrame, key: Column): Map[Any, (Long, Long, Long)] = {
    val h = xxhash64(col("conv_id"), col("turn_idx"), coalesce(col("text"), lit("")))
    df.groupBy(key.as("_k")).agg(count(lit(1)), sum(shiftrightunsigned(h, 32)),
        sum(h.bitwiseAND(lit(0xFFFFFFFFL)))).collect()
      .map(r => r.get(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  private def checksum(df: DataFrame): (Long, Long, Long) =
    checksums(df, lit(0)).getOrElse(0, (0L, 0L, 0L))

  def ingestMixed(ctx: Ctx, report: Report): Unit = {
    val spark = ctx.spark
    val (table, df, t0, t1, setupS) = setupReps(ctx, report)
    val reqs = templates(ctx.seed, t0, t1)
    val answers = oracle(df, reqs, ctx.cores)
    val initial = checksum(df)
    df.unpersist(blocking = true)
    report.mark("oracle")

    // appended rows: new conversations after the initial time range, so the
    // read templates' answers stay fixed while the table grows
    // the reader ends on a cycle boundary, so the writer may outlast
    // `seconds` by one cycle; batches beyond that are never appended
    val maxBatches = ((ctx.seconds + 20) * 1000 / PeriodMs).toInt
    val gen = Gen.turns(spark, ctx.seed + 1, maxBatches.toLong * AppendRows, 0.0, MalformedShare,
        t1 + 86400L * 1000000L, 86400L, convPrefix = "a")
      .withColumn("_batch", pmod(xxhash64(col("conv_id")), lit(maxBatches.toLong)).cast("int"))
      .persist()
    val schema = gen.drop("_batch").schema
    val batchRows: Map[Int, java.util.List[Row]] = gen.collect().groupBy(_.getInt(6))
      .map { case (b, rows) => b -> rows.map(r => Row.fromSeq(r.toSeq.take(6))).toList.asJava }
    val batchSums: Map[Int, (Long, Long, Long)] = checksums(gen, col("_batch"))
      .map { case (k, v) => k.asInstanceOf[Int] -> v }
    gen.unpersist(blocking = true)
    report.mark("appended rows")

    // totals a metadata count may show: the initial rows plus any prefix of
    // the batches committed so far (registered before each append starts)
    val totals = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    totals.add(initial._1)
    val countOk = (c: Long) => totals.contains(c)

    var pos = Batches - 1L   // checkpoint position of the last commit
    var probePos = -1L

    /** Open-loop writer: batch i is due at start + i·PeriodMs whatever the
      * state of earlier ones; it runs until the reader is done. */
    final class Writer(readerDone: java.util.concurrent.atomic.AtomicBoolean, firstBatch: Int,
                       before: Long, traced: Boolean) extends Thread("perfbench-writer") {
      val commitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val probeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var lateMax = 0.0
      var merges = 0
      var mergeBusyS = 0.0
      var next = firstBatch
      var committedRows = 0L
      var error: Option[Throwable] = None
      def call[T](name: String, label: String)(f: => T): T =
        if (traced) ctx.call(name, label)(f) else f
      override def run(): Unit = try {
        val start = System.nanoTime()
        var i = 0
        while (!readerDone.get && next < maxBatches) {
          val due = start + i * PeriodMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          // a batch that falls due after the reader has stopped is not sent
          if (!readerDone.get) {
            lateMax = math.max(lateMax, (System.nanoTime() - due) / 1e6)
            val rows = batchRows.getOrElse(next, java.util.Collections.emptyList[Row]())
            if (!rows.isEmpty) {
              totals.add(initial._1 + before + committedRows + rows.size)
              call("sources.append", "write.append") {
                table.append(spark.createDataFrame(rows, schema),
                  Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("gen", pos, pos + 1))),
                  numFiles = AppendFiles, rangeFields = Seq("turn_idx"))
              }
              commitMs += (System.nanoTime() - due) / 1e6
              pos += 1
              committedRows += rows.size
              if (traced) {
                val p0 = System.nanoTime()
                call("publish.probe", "write.probe") {
                  table.store.publish(Nil, Set.empty,
                    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("probe", probePos, probePos + 1))))
                }
                probePos += 1
                probeMs += (System.nanoTime() - p0) / 1e6
              }
              val splits = table.store.currentSnapshot().map(_.splits).getOrElse(Nil)
              if (MergePolicy.planMerges(splits, MergeCfg).nonEmpty) {
                val m0 = System.nanoTime()
                val res = call("publish.MergeExecutor.run", "write.merge") {
                  MergeExecutor.run(table.dir, spark, MergeCfg)
                }
                mergeBusyS += (System.nanoTime() - m0) / 1e9
                if (res.merged.nonEmpty) merges += 1
              }
            }
            next += 1
          }
          i += 1
        }
      } catch { case e: Throwable => error = Some(e) }
    }

    def phase(secs: Double, firstBatch: Int, before: Long, traced: Boolean,
              tally: Option[ReadTally], reqBase: Long) = {
      val readerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val w = new Writer(readerDone, firstBatch, before, traced)
      w.start()
      val start = System.nanoTime()
      val (l, s) =
        try readLoop(ctx, table, reqs, answers, countOk, report, tally, secs, reqBase)
        finally readerDone.set(true)
      val elapsed = (System.nanoTime() - start) / 1e9
      w.join()
      w.error.foreach(e => report.fail(s"writer threw $e"))
      report.attempted += w.commitMs.size
      (w, l, s, elapsed)
    }

    val heap = new Stats.HeapPeak
    val done = ctx.trace match {
      case None =>
        val (w, l, s, elapsed) = phase(ctx.seconds, 0, 0L, traced = false, None, 0L)
        val rps = (l.size + s.size) / elapsed
        report.e2e("setup_s") = (Stats.median(setupS), "s")
        report.e2e("throughput_per_s") = (rps, "1/s")
        report.e2e("latency_p50_ms") = (Stats.median(w.commitMs.toSeq), "ms")
        report.named("setup_s") = report.e2e("setup_s")
        report.latency("lookup", l, 90)
        report.latency("search", s, 75)
        report.named("requests_per_s") = (rps, "1/s")
        report.latency("commit", w.commitMs.toSeq, 75)
        report.named("appended_turns_per_s") = (w.committedRows / elapsed, "1/s")
        report.named("merges") = (w.merges.toDouble, "count")
        report.named("loadgen_late_ms_max") = (w.lateMax, "ms")
        w.next
      case Some(tr) =>
        val half = ctx.seconds / 2.0
        val (u, ul, us, ue) = phase(half, 0, 0L, traced = false, None, 0L)
        val plainRps = (ul.size + us.size) / ue
        val tally = new ReadTally
        val (h0, m0) = (table.leafCache.hits, table.leafCache.misses)
        val before = tr.prefixSum("read.")
        val (w, l, s, elapsed) = phase(half, u.next, u.committedRows, traced = true,
          Some(tally), 1000000L)
        readLayers(ctx, table, report, tally, before, tr.prefixSum("read."), h0, m0)
        report.layer("trace.overhead_frac") = (plainRps / ((l.size + s.size) / elapsed) - 1.0, "ratio")
        report.layer("sources.append.cpu_s") = (tr.label("write.append").cpuS, "s")
        report.layer("publish.commit_ms") = (Stats.median(w.probeMs.toSeq), "ms")
        val merge = tr.label("write.merge")
        report.layer("publish.merge.runs") = (w.merges.toDouble, "count")
        report.layer("publish.merge.bytes_rewritten") = (merge.outputBytes.toDouble, "bytes")
        report.layer("publish.merge.busy_s") = (w.mergeBusyS, "s")
        report.layer("loadgen.late_ms_max") = (math.max(u.lateMax, w.lateMax), "ms")
        w.next
    }

    report.mark("measurement")
    // no loss or duplication across appends and merges
    val snap = table.store.currentSnapshot().get
    val want = (0 until done).flatMap(batchSums.get).foldLeft(initial) {
      case ((n, hi, lo), (n2, hi2, lo2)) => (n + n2, hi + hi2, lo + lo2)
    }
    val got = checksum(table.scan())
    report.attempted += 1
    if (got != want) report.fail(s"final table (count, checksum) $got != appended $want")
    if (table.countFromMetadata() != want._1)
      report.fail(s"metadata count ${table.countFromMetadata()} != ${want._1}")
    if (ctx.trace.isEmpty) report.e2e("heap_peak_mb") = (heap.finishMb(), "MB")
    report.named("heap_peak_mb") = report.e2e.getOrElse("heap_peak_mb", (0.0, "MB"))
    report.layer("publish.live_splits") = (snap.splits.size.toDouble, "count")
    report.layer("publish.manifest_bytes") = (java.nio.file.Files.size(
      java.nio.file.Paths.get(table.dir, "metadata", s"snapshot-${snap.snapshotId}.json")).toDouble, "bytes")
  }
}
