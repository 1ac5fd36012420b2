package graft.sources

import graft.SparkTestBase
import graft.model.TranscriptGen
import graft.publish.Checkpoint

/** Iceberg-layout table tests: append/publish, metadata time pruning
  * (the list_relevant_splits analog, root.rs:1037-1052), count fast path. */
class TranscriptTableSpec extends SparkTestBase {

  private def delta(from: Long, to: Long) =
    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("src", from, to)))

  test("append publishes per-file stats; scan reads everything back") {
    import spark.implicits._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 20, avgTurns = 5)
    table.append(turns.toDS().toDF(), delta(-1, 100), numFiles = 3)
    assert(table.scan().count() === turns.size.toLong)
    assert(table.countFromMetadata() === turns.size.toLong)
    val snap = table.store.currentSnapshot().get
    assert(snap.splits.nonEmpty && snap.splits.forall(_.numDocs > 0))
  }

  test("metadata time pruning skips disjoint file groups") {
    import spark.implicits._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 6)
    table.append(turns.toDS().toDF(), delta(-1, 100), numFiles = 4)
    val micros = turns.map(_.ts.getTime * 1000L)
    val (lo, hi) = (micros.min, micros.max)
    // full-range scan sees all rows
    assert(table.scan(Some(lo), Some(hi + 1)).count() === turns.size.toLong)
    // a range beyond max prunes everything without touching data files
    assert(table.scan(Some(hi + 1000000L), None).count() === 0L)
    // a narrow range returns at least the rows in range (pruning is
    // file-granular, never lossy)
    val mid = (lo + hi) / 2
    val expect = micros.count(_ >= mid).toLong
    assert(table.scan(Some(mid), None).count() >= expect)
  }

  test("tag pruning: a tag-excluded file group is never opened") {
    import spark.implicits._
    import graft.queryast.QueryAst
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 20, avgTurns = 5)
    val df = turns.toDS().toDF()
    // two single-file batches with disjoint role tag sets
    table.append(df.filter("role = 'user'"), delta(-1, 50), numFiles = 1,
      tagFields = Seq("role"))
    table.append(df.filter("role <> 'user'"), delta(50, 100), numFiles = 1,
      tagFields = Seq("role"))
    val snap = table.store.currentSnapshot().get
    assert(snap.splits.forall(_.tags.contains("role!")))
    val userFiles = snap.splits.filter(_.tags.contains("role:user")).flatMap(_.files)
      .map(_.replaceFirst("^file:", "")).toSet
    assert(userFiles.nonEmpty)

    val q = QueryAst.Term("role", "user")
    val scanned = table.scan(query = Some(q), tagFields = Set("role"))
    // only the user-tagged file group is opened
    def norm(fs: Iterable[String]): Set[String] =
      fs.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(norm(scanned.inputFiles) === norm(userFiles))
    // pruning is never lossy: applying the predicate gives the full answer
    val resolver = graft.queryast.FieldResolver(Set.empty, Nil)
    val got = scanned.filter(q.toColumn(resolver)).count()
    assert(got === turns.count(_.role == "user").toLong)

    // an uninformative query (range) must NOT prune
    val all = table.scan(query = Some(QueryAst.Range("turn_idx", gte = Some(0))),
      tagFields = Set("role"))
    assert(all.inputFiles.length > userFiles.size)

    // TermSet prunes to the union of listed values
    val ts = table.scan(
      query = Some(QueryAst.TermSet("role", Seq("user", "nonexistent"))),
      tagFields = Set("role"))
    assert(norm(ts.inputFiles) === norm(userFiles))
  }

  test("topKByTs: early split-skip opens only the splits that can compete") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 6)
    val micros = turns.map(_.ts.getTime * 1000L).sorted
    val (c1, c2) = (micros(micros.size / 3), micros(2 * micros.size / 3))
    val df = turns.toDS().toDF()
    table.append(df.filter(s"unix_micros(ts) < $c1"), delta(-1, 1), numFiles = 1)
    table.append(df.filter(s"unix_micros(ts) >= $c1 AND unix_micros(ts) < $c2"),
      delta(1, 2), numFiles = 1)
    table.append(df.filter(s"unix_micros(ts) >= $c2"), delta(2, 3), numFiles = 1)
    val snap = table.store.currentSnapshot().get
    def filesOf(pred: graft.publish.Manifest.SplitEntry => Boolean): Set[String] =
      snap.splits.filter(pred).flatMap(_.files).map(_.replaceFirst("^file:", "")).toSet

    // k fits in the newest split → ONLY its file is opened
    val newest = filesOf(_.timeRangeStartMicros >= c2)
    val (top5, opened5) = table.topKByTs(5)
    assert(opened5.toSet === newest)
    val want5 = df.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
      .limit(5).collect().map(_.toString).toSeq
    assert(top5.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq === want5)

    // k spanning beyond one split opens the next; never lossy
    // (batch = 1 = the reference-sequential order, exact opened set)
    val bigK = df.filter(s"unix_micros(ts) >= $c2").count().toInt + 3
    val (topBig, openedBig) = table.topKByTs(bigK, batch = 1)
    assert(openedBig.toSet === newest ++ filesOf(s =>
      s.timeRangeStartMicros >= c1 && s.timeRangeStartMicros < c2))
    assert(topBig.count() === bigK.toLong)

    // concurrent batches (default): identical rows; slack bounded by the
    // batch width — at most batch-1 splits the sequential bound would skip
    val (topBigC, openedBigC) = table.topKByTs(bigK, batch = 4)
    assert(topBigC.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq ===
      topBig.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
        .collect().map(_.toString).toSeq)
    assert(openedBigC.toSet.subsetOf(openedBig.toSet ++ filesOf(_ => true)))
    assert(openedBigC.toSet.size <= openedBig.toSet.size + 3) // ≤ batch-1 extra

    // ascending sort mirrors with the OLDEST split
    val (topAsc, openedAsc) = table.topKByTs(5, desc = false)
    assert(openedAsc.toSet === filesOf(_.timeRangeEndMicros < c1))
    val wantAsc = df.orderBy(col("ts").asc, col("conv_id"), col("turn_idx"))
      .limit(5).collect().map(_.toString).toSeq
    assert(topAsc.orderBy(col("ts").asc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq === wantAsc)

    // a ts-bounded query is refined into the window (root.rs:1034): the
    // two newer splits are pruned at METADATA level, never opened
    import graft.queryast.QueryAst
    val onlyOld = QueryAst.TsRange("ts", None, Some(c1))
    val (topF, openedF) = table.topKByTs(3, query = Some(onlyOld))
    assert(openedF.toSet === filesOf(_.timeRangeEndMicros < c1))
    val wantF = df.filter(s"unix_micros(ts) < $c1")
      .orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
      .limit(3).collect().map(_.toString).toSeq
    assert(topF.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq === wantF)
  }

  test("topKByField: generalized split skip over recorded fast-field ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 8)
    val df = turns.toDS().toDF()
    // three turn_idx bands, ranges recorded at append time
    table.append(df.filter(col("turn_idx") < 2), delta(-1, 1),
      numFiles = 1, rangeFields = Seq("turn_idx"))
    table.append(df.filter(col("turn_idx") >= 2 && col("turn_idx") < 5), delta(1, 2),
      numFiles = 1, rangeFields = Seq("turn_idx"))
    table.append(df.filter(col("turn_idx") >= 5), delta(2, 3),
      numFiles = 1, rangeFields = Seq("turn_idx"))
    val snap = table.store.currentSnapshot().get
    assert(snap.splits.forall(_.fieldRanges.contains("turn_idx")))
    def filesOf(pred: graft.publish.Manifest.SplitEntry => Boolean): Set[String] =
      snap.splits.filter(pred).flatMap(_.files).map(_.replaceFirst("^file:", "")).toSet

    // k within the top band: ONLY its file opens (range-driven skip)
    val (top, opened) = table.topKByField("turn_idx", k = 3)
    assert(opened.toSet === filesOf(_.fieldRanges("turn_idx")._1 >= 5))
    val want = df.orderBy(col("turn_idx").desc, col("conv_id"), col("turn_idx"))
      .limit(3).collect().map(_.toString).toSeq
    assert(top.orderBy(col("turn_idx").desc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq === want)

    // ascending mirrors with the LOW band
    val (topAsc, openedAsc) = table.topKByField("turn_idx", k = 3, desc = false)
    assert(openedAsc.toSet === filesOf(_.fieldRanges("turn_idx")._2 < 2))
    assert(topAsc.count() === 3L)

    // a table appended WITHOUT rangeFields is never skippable on the
    // field: every split opens, the answer is still exact
    val dir2 = tmpDir("ttable")
    val table2 = new TranscriptTable(dir2, spark)
    table2.append(df.filter(col("turn_idx") < 4), delta(-1, 1), numFiles = 1)
    table2.append(df.filter(col("turn_idx") >= 4), delta(1, 2), numFiles = 1)
    val (top2, opened2) = table2.topKByField("turn_idx", k = 3)
    assert(opened2.toSet ===
      table2.store.currentSnapshot().get.splits.flatMap(_.files)
        .map(_.replaceFirst("^file:", "")).toSet)
    assert(top2.orderBy(col("turn_idx").desc, col("conv_id"), col("turn_idx"))
      .collect().map(_.toString).toSeq === want)
  }

  test("leaf cache: sliding windows hit for fully-covered splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 6)
    val micros = turns.map(_.ts.getTime * 1000L).sorted
    val (c1, c2) = (micros(micros.size / 3), micros(2 * micros.size / 3))
    val df = turns.toDS().toDF()
    table.append(df.filter(s"unix_micros(ts) < $c1"), delta(-1, 1), numFiles = 1)
    table.append(df.filter(s"unix_micros(ts) >= $c1 AND unix_micros(ts) < $c2"),
      delta(1, 2), numFiles = 1)
    table.append(df.filter(s"unix_micros(ts) >= $c2"), delta(2, 3), numFiles = 1)
    val snap = table.store.currentSnapshot().get
    def filesOf(pred: graft.publish.Manifest.SplitEntry => Boolean): Set[String] =
      snap.splits.filter(pred).flatMap(_.files).map(_.replaceFirst("^file:", "")).toSet

    val (lo, hi) = (micros.min, micros.max)
    val k = turns.size // force every split to contribute
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
        .collect().map(_.toString).toSeq

    // cold: every split is a miss, all files open
    val (a1, o1) = table.topKByTs(k, startMicros = Some(lo), endMicros = Some(hi + 1))
    assert(o1.toSet === filesOf(_ => true))
    assert(table.leafCache.misses === 3L && table.leafCache.hits === 0L)

    // identical window replayed: every split hits, NO file is opened
    val (a2, o2) = table.topKByTs(k, startMicros = Some(lo), endMicros = Some(hi + 1))
    assert(o2.isEmpty)
    assert(table.leafCache.hits === 3L)
    assert(rows(a2) === rows(a1))

    // SLID window still fully covering the two newer splits: they hit via
    // the merged-range key (leaf_cache.rs:96-114); only the clipped oldest
    // split re-opens
    val w2lo = micros.min + 1
    val (a3, o3) = table.topKByTs(k, startMicros = Some(w2lo), endMicros = Some(hi + 1000))
    assert(o3.toSet === filesOf(_.timeRangeEndMicros < c1))
    assert(table.leafCache.hits === 5L) // +2 interior hits
    val expect3 = micros.count(_ >= w2lo).toLong
    assert(a3.count() === expect3)
    // frames identical on the shared suffix (window clip only trims the tail)
    assert(rows(a3) === rows(a1.filter(unix_micros(col("ts")) >= w2lo)))
  }

  test("duplicate append delta is rejected by the manifest store") {
    import spark.implicits._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 5, avgTurns = 4)
    table.append(turns.toDS().toDF(), delta(-1, 50))
    intercept[IllegalStateException] {
      table.append(turns.toDS().toDF(), delta(-1, 50))
    }
  }

  test("tag pruning after a merge: a split without a field's tags keeps it unprunable") {
    import spark.implicits._
    import graft.queryast.QueryAst
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val df = TranscriptGen.turns(numConvs = 20, avgTurns = 5).toDS().toDF()
    // one split tagged exhaustively with role:user only, one with no role
    // tags at all (appended without tagFields) that holds the assistants
    table.append(df.filter("role = 'user'"), delta(-1, 50), numFiles = 1,
      tagFields = Seq("role"))
    table.append(df.filter("role = 'assistant'"), delta(50, 100), numFiles = 1)
    val assistants = df.filter("role = 'assistant'").count()
    assert(assistants > 0L)
    def scanAssistants(): Long =
      table.scan(query = Some(QueryAst.Term("role", "assistant")), tagFields = Set("role"))
        .filter("role = 'assistant'").count()
    assert(scanAssistants() === assistants)
    val res = graft.publish.MergeExecutor.run(dir, spark, graft.publish.MergePolicy.Config(
      mergeFactor = 2, maxMergeFactor = 2, minLevelNumDocs = 1000000L,
      splitNumDocsTarget = 1000000L))
    assert(res.merged.size === 1)
    assert(scanAssistants() === assistants)
    assert(!table.store.currentSnapshot().get.splits.exists(_.tags.contains("role!")))
  }

  test("read path: a scan of a known snapshot and a warm-cache top-k answer run no job") {
    import spark.implicits._
    val table = new TranscriptTable(tmpDir("ttable"), spark)
    table.append(TranscriptGen.turns(numConvs = 20, avgTurns = 5).toDS().toDF(),
      delta(-1, 100), numFiles = 3)
    table.scan()
    assert(planShape("scan-known")(table.scan()) === ((0, 0)))
    val (cold, _) = table.topKByTs(5)
    val want = cold.collect().toSeq
    var (got, opened) = (Seq.empty[org.apache.spark.sql.Row], Seq("unset"))
    assert(planShape("topk-warm") {
      val (df, o) = table.topKByTs(5)
      got = df.collect().toSeq
      opened = o
    } === ((0, 0)))
    assert(opened.isEmpty) // every split answered from the leaf cache
    assert(got === want)
  }

  test("scan schema equals spark.read.parquet's inference after appends and a merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ttable")
    val table = new TranscriptTable(dir, spark)
    val base = TranscriptGen.turns(numConvs = 4, avgTurns = 3).toDS().toDF()
    val day0 = 1700006400L // a UTC midnight
    // batch i holds day i; batch 10 alone has an extra column, and its
    // path sorts before batch-2's, so the footer Spark infers from is not
    // the first file in manifest order once day 1 is pruned
    (1 to 11).foreach { i =>
      val batch = base.withColumn("ts", timestamp_seconds(lit(day0 + i * 86400L) + col("turn_idx")))
      table.append(if (i == 10) batch.withColumn("extra", lit(1L)) else batch,
        delta(i - 2, i - 1), numFiles = 1)
    }
    def check(df: org.apache.spark.sql.DataFrame): Unit =
      assert(df.schema === spark.read.parquet(df.inputFiles: _*).schema)
    val fromDay2 = Some((day0 + 2 * 86400L) * 1000000L)
    check(table.scan())
    check(table.scan(startMicros = fromDay2))
    val merged = graft.publish.MergeExecutor.run(dir, spark, graft.publish.MergePolicy.Config(
      mergeFactor = 2, maxMergeFactor = 3, minLevelNumDocs = 1000000L,
      splitNumDocsTarget = 1000000L))
    assert(merged.merged.nonEmpty)
    check(table.scan())
    check(table.scan(startMicros = fromDay2))
  }

  test("append stats equal the groupBy(spark_partition_id()) formulation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val cap = 3
    val t = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    // three partitions of four rows: role stays under the cap everywhere,
    // tool goes over it in partition 0 and sits exactly at it in
    // partition 1, and partition 2 has only null ts and null turn_idx
    val rows = Seq(
      Row("a", t(5), "user", "t1", 3), Row("bb", t(1), "assistant", "t2", 9),
      Row(null, t(7), "user", "t3", null), Row("dddd", t(2), null, "t4", 1),
      Row("e", t(9), "user", "t1", 4), Row("ff", t(8), "user", "t3", 2),
      Row("g", null, "system", "t1", 6), Row("", t(3), "user", "t2", 5),
      Row("i", null, "user", "t1", null), Row("jj", null, null, null, null),
      Row("k", null, "tool", "t9", null), Row(null, null, "user", "t9", null))
    val schema = StructType(Seq(StructField("text", StringType), StructField("ts", TimestampType),
      StructField("role", StringType), StructField("tool", StringType),
      StructField("turn_idx", IntegerType)))
    val rep = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val (tagFields, rangeFields) = (Seq("role", "tool"), Seq("turn_idx"))
    val aggs = Seq(count(lit(1)).as("num_docs"),
      sum(coalesce(octet_length(col("text")).cast("long"), lit(0L))).as("bytes"),
      min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts")) ++
      tagFields.flatMap(f => Seq(collect_set(col(f)).as(s"_tagvals_$f"),
        countDistinct(col(f)).as(s"_tagcard_$f"))) ++
      rangeFields.flatMap(f => Seq(min(col(f).cast("long")).as(s"_rmin_$f"),
        max(col(f).cast("long")).as(s"_rmax_$f")))
    def micros(v: Any): Long = Option(v.asInstanceOf[java.sql.Timestamp])
      .fold(0L)(x => x.getTime * 1000L + (x.getNanos / 1000) % 1000)
    val want = rep.groupBy(spark_partition_id().as("_pid")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        TranscriptTable.PartStats(r.getAs[Int]("_pid"), r.getAs[Long]("num_docs"),
          r.getAs[Long]("bytes"), micros(r.getAs[Any]("min_ts")), micros(r.getAs[Any]("max_ts")),
          tagFields.flatMap { f =>
            if (r.getAs[Long](s"_tagcard_$f") > cap) Nil
            else s"$f!" +: r.getAs[scala.collection.Seq[Any]](s"_tagvals_$f")
              .map(v => s"$f:$v").sorted.toSeq
          },
          rangeFields.flatMap { f =>
            Option(r.getAs[Any](s"_rmin_$f")).map(lo =>
              f -> (lo.asInstanceOf[Long], r.getAs[Long](s"_rmax_$f")))
          }.toMap)
      }.sortBy(_.pid)
    val got = TranscriptTable.partitionStats(rep, tagFields, rangeFields, cap)
    assert(got === want)
    // the fixture reaches every branch
    assert(want.size === 3)
    assert(!want(0).tags.exists(_.startsWith("tool")) && want(1).tags.contains("tool!"))
    assert(want(2).minTsMicros === 0L && want(2).fieldRanges.isEmpty)
  }

  test("every leaf job of a top-k call carries the caller's local properties") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val table = new TranscriptTable(tmpDir("ttable"), spark)
    val df = TranscriptGen.turns(numConvs = 30, avgTurns = 6).toDS().toDF()
    (0 until 3).foreach { i =>
      table.append(df.filter(s"turn_idx % 3 = $i"), delta(i - 1L, i.toLong), numFiles = 1)
    }
    val bigK = df.count().toInt + 1 // no bound ever skips: all three splits open
    val key = "graft.spec.caller"
    val seen = scala.collection.mutable.Buffer.empty[String]
    val marks = new java.util.concurrent.CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        val label = Option(e.properties).map(_.getProperty(key)).orNull
        seen += label
        if (label == "mark") marks.countDown()
      }
    }
    // a one-task job under "mark" ends each call's jobs in the listener's order
    def mark(): Unit = { sc.setLocalProperty(key, "mark"); sc.parallelize(Seq(1), 1).count() }
    sc.addSparkListener(listener)
    try {
      // the first batch opens one split on the caller, the second batch
      // the other two on fan-out threads
      sc.setLocalProperty(key, "a")
      table.topKByTs(bigK)
      mark()
      sc.setLocalProperty(key, "b")
      table.topKByTs(bigK - 1) // another k: every leaf misses the cache
      mark()
      assert(marks.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val secondCall = seen.synchronized(seen.toList)
      .dropWhile(_ != "mark").drop(1).takeWhile(_ != "mark")
    assert(secondCall.nonEmpty && secondCall.forall(_ == "b"), secondCall)
  }
}
