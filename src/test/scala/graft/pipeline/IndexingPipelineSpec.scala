package graft.pipeline

import graft.SparkTestBase
import graft.model.{TranscriptGen, Turn}
import graft.publish.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** End-to-end pipeline test — the BASELINE's core claims:
  * per-sink counts + routed-row equality vs an independent plain-Scala
  * oracle, per-turn text equality under stable ordering, salted == unsalted
  * results, and exactly-once resume from checkpoint; plus the plan shape of
  * each phase (jobs, shuffle-map stages, exchanges) and the failure path. */
class IndexingPipelineSpec extends SparkTestBase {

  private val toolCallRe = "CALL ([A-Za-z_][A-Za-z0-9_]*)\\(([^)]*)\\) -> (OK|ERR)".r

  /** Plain-Scala oracle computed directly over the generated rows — no
    * Spark involved, so a pipeline bug cannot cancel out. */
  private case class Oracle(valid: Vector[Turn], dead: Vector[Turn]) {
    def isErr(t: Turn): Boolean = {
      val status = toolCallRe.findFirstMatchIn(t.text).map(_.group(3))
      status.contains("ERR") || t.text.startsWith("ERROR")
    }
    def errorCount: Long = valid.count(isErr).toLong
    def rollupCount: Long = valid.map(_.conv_id).distinct.size.toLong
    def rollupText: Map[String, String] =
      valid.groupBy(_.conv_id).map { case (c, ts) =>
        c -> ts.sortBy(_.turn_idx).map(_.text).mkString("\n")
      }
  }

  private def oracle(turns: Vector[Turn]): Oracle = {
    val (valid, dead) = turns.partition(t =>
      t.text != null && (!t.text.contains("CALL ") || toolCallRe.findFirstIn(t.text).isDefined))
    Oracle(valid, dead)
  }

  private def df(turns: Vector[Turn]) = {
    import spark.implicits._
    turns.toDS().toDF()
  }

  private val delta1 = Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("gen", -1, 1000)))

  test("per-sink counts match the plain-Scala oracle (skewed input)") {
    val turns = TranscriptGen.turns(numConvs = 150, avgTurns = 8, skewed = true)
    val o = oracle(turns)
    val out = tmpDir("pipe")
    val res = IndexingPipeline.run(spark, df(turns), out, delta1).get
    assert(res.counts.errorIndex === o.errorCount)
    assert(res.counts.rollup === o.rollupCount)
    assert(res.counts.deadLetter === o.dead.size.toLong)
    // split metadata num_docs sums to the valid row count
    assert(res.splits.map(_.numDocs).sum === o.valid.size.toLong)
    assert(res.splits.map(_.postingsCount).sum > 0L)
  }

  test("per-turn text equality: rollup concatenation is in stable (turn_idx) order") {
    val turns = TranscriptGen.turns(numConvs = 60, avgTurns = 12, skewed = true)
    val o = oracle(turns)
    val out = tmpDir("pipe")
    IndexingPipeline.run(spark, df(turns), out, delta1)
    val got = spark.read.parquet(s"$out/rollup/batch-1")
      .select("conv_id", "rollup_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === o.rollupText)
  }

  test("salted and unsalted rollups agree exactly (skew defusal is lossless)") {
    val turns = TranscriptGen.turns(numConvs = 40, avgTurns = 10, skewed = true)
    val outS = tmpDir("pipeS"); val outU = tmpDir("pipeU")
    // saltChunk=4 forces real multi-chunk range salting (avg 10 turns/conv)
    val cfg = IndexingPipeline.Config(saltChunk = 4)
    val rs = IndexingPipeline.run(spark, df(turns), outS, delta1, cfg, salted = true).get
    val ru = IndexingPipeline.run(spark, df(turns), outU, delta1, cfg, salted = false).get
    assert(rs.counts === ru.counts)
    assert(rs.routedChecksum === ru.routedChecksum)
    val s = spark.read.parquet(s"$outS/rollup/batch-1")
      .select("conv_id", "rollup_text", "n_turns", "n_errors").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val u = spark.read.parquet(s"$outU/rollup/batch-1")
      .select("conv_id", "rollup_text", "n_turns", "n_errors").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(s === u)
  }

  test("routed checksum is stable across runs and repartitionings") {
    val turns = TranscriptGen.turns(numConvs = 50, avgTurns = 6)
    val a = IndexingPipeline.run(spark, df(turns), tmpDir("pA"), delta1).get
    val b = IndexingPipeline.run(spark, df(turns).repartition(13), tmpDir("pB"), delta1).get
    assert(a.routedChecksum === b.routedChecksum)
    assert(a.counts === b.counts)
  }

  test("exactly-once: rerunning a committed delta is a no-op; contiguous delta appends") {
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 5)
    val out = tmpDir("pipe")
    val first = IndexingPipeline.run(spark, df(turns), out, delta1)
    assert(first.isDefined)
    // duplicate batch: rejected before any work
    assert(IndexingPipeline.run(spark, df(turns), out, delta1) === None)
    // gapped delta: rejected
    val gap = Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("gen", 2000, 3000)))
    assert(IndexingPipeline.run(spark, df(turns), out, gap) === None)
    // contiguous continuation: accepted, second batch lands next to the first
    val turns2 = TranscriptGen.turns(numConvs = 20, avgTurns = 5, seed = 43L)
    val delta2 = Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("gen", 1000, 2000)))
    val second = IndexingPipeline.run(spark, df(turns2), out, delta2)
    assert(second.isDefined)
    val o1 = oracle(turns); val o2 = oracle(turns2)
    val allRollups = spark.read.parquet(s"$out/rollup/batch-1", s"$out/rollup/batch-2").count()
    assert(allRollups === o1.rollupCount + o2.rollupCount)
    // manifest carries both batches' splits and the advanced checkpoint
    val snap = new graft.publish.Manifest.Store(out).currentSnapshot().get
    assert(snap.checkpoint === Map("gen" -> 2000L))
    assert(snap.splits.map(_.numDocs).sum === (o1.valid.size + o2.valid.size).toLong)
  }

  test("split aggregates: per-partition term stats match a direct computation") {
    val turns = TranscriptGen.turns(numConvs = 25, avgTurns = 6)
    val (tools, roles) = IndexingPipeline.dims(spark)
    val cfg = IndexingPipeline.Config()
    val (routed, _) = IndexingPipeline.parseEnrichRoute(df(turns), tools, roles, cfg)
    val aggs = IndexingPipeline.splitAggregates(routed, cfg)
    val direct = routed
      .select(col("partition_id"),
        explode(graft.functions.Tokenizers.default(col("text"))).as("t"))
      .groupBy("partition_id")
      .agg(countDistinct("t").as("tc"), count(lit(1)).as("pc"))
    val a = aggs.select("partition_id", "term_cardinality", "postings_count")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val d = direct.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === d)
    // doc counts per split match group sizes
    val numDocs = aggs.agg(sum("num_docs")).collect()(0).getLong(0)
    assert(numDocs === routed.count())
  }

  test("property: limb checksum equals BigInteger sum-of-hashes mod 2^64") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // the overflow-free form (four LONG sums of 16-bit limbs, recombined
    // with wrapping shifts) must agree with the direct unbounded sum for
    // ARBITRARY 64-bit hash values, including Long.MinValue/MaxValue
    val genHashes = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue)))
    val prop = Prop.forAll(genHashes) { hs =>
      val limbSums = (3 to 0 by -1).map { limb =>
        hs.map(h => (h >>> (limb * 16)) & 0xFFFFL).sum // mirrors the SQL aggs
      }
      val expected = hs.foldLeft(java.math.BigInteger.ZERO)((a, h) =>
        a.add(java.math.BigInteger.valueOf(h)))
        .mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
      IndexingPipeline.combineChecksum(limbSums) == expected
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("limb checksum SQL aggs agree with the plain-Scala limb form") {
    import spark.implicits._
    val hs = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue, 123456789012345L)
    val df = hs.toDF("h")
    val aggs = IndexingPipeline.checksumAggs(col("h"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val fromSql = IndexingPipeline.combineChecksum((0 to 3).map(r.getLong))
    val direct = hs.foldLeft(java.math.BigInteger.ZERO)((a, h) =>
      a.add(java.math.BigInteger.valueOf(h)))
      .mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()
    assert(fromSql === direct)
  }

  /** Shuffle exchanges in `df`'s executed plan. The plan is read after the
    * action: adaptive execution re-plans once a cache it reads is built, and
    * drops the exchange its initial plan put over a not-yet-built cache. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }.size
  }

  test("plan shape: jobs and shuffle-map stages per run") {
    val turns = TranscriptGen.turns(numConvs = 60, avgTurns = 8, skewed = true)
    val input = df(turns)
    val salted = planShape("run-salted") {
      IndexingPipeline.run(spark, input, tmpDir("shapeS"), delta1)
    }
    val unsalted = planShape("run-unsalted") {
      IndexingPipeline.run(spark, input, tmpDir("shapeU"), delta1, salted = false)
    }
    // shuffle-map stages: the routed repartition plus the salted rollup's
    // two exchanges (the unsalted rollup plans one). Jobs: adaptive
    // execution submits each shuffle-map stage and the cache fill as jobs
    // of their own, so the grouped pass takes 3 (routed stage, cache fill,
    // aggregate), the rollup write 1 per exchange plus 1, and the error
    // index write, dead-letter write and term stats 1 each.
    assert(salted === ((9, 3)))
    assert(unsalted === ((8, 2)))
  }

  test("plan shape: split stats plan no exchange, the salted rollup two") {
    val turns = TranscriptGen.turns(numConvs = 25, avgTurns = 6)
    val (tools, roles) = IndexingPipeline.dims(spark)
    val cfg = IndexingPipeline.Config()
    val routed = IndexingPipeline.parseEnrichRoute(df(turns), tools, roles, cfg)._1
      .repartition(cfg.shufflePartitions, col("partition_id")).persist()
    try {
      assert(exchanges(IndexingPipeline.splitDocStats(routed, cfg)) === 0)
      assert(exchanges(IndexingPipeline.splitTermStats(routed)) === 0)
      assert(exchanges(IndexingPipeline.splitAggregates(routed, cfg)) === 0)
      assert(exchanges(IndexingPipeline.conversationRollup(routed, salted = true, cfg)) === 2)
      assert(exchanges(IndexingPipeline.conversationRollup(routed, salted = false, cfg)) === 1)
    } finally routed.unpersist()
  }

  test("dims lookup equals the broadcast left join row for row (unknown tool, null role)") {
    val base = TranscriptGen.turns(numConvs = 20, avgTurns = 5)
    val turns = base.zipWithIndex.map {
      case (t, i) if i % 7 == 0 => t.copy(tool = "no_such_tool")
      case (t, i) if i % 11 == 0 => t.copy(role = null)
      case (t, _) => t
    }
    assert(turns.exists(_.tool == "no_such_tool") && turns.exists(_.role == null))
    val (tools, roles) = IndexingPipeline.dims(spark)
    val valid = graft.parse.DocParser.parse(df(turns)).valid
    val joined = valid
      .join(broadcast(tools), Seq("tool"), "left")
      .join(broadcast(roles), Seq("role"), "left")
    val looked = IndexingPipeline.lookupJoin(
      IndexingPipeline.lookupJoin(valid, tools, "tool"), roles, "role")
    assert(looked.schema === joined.schema)
    val order = Seq(col("conv_id"), col("turn_idx"))
    assert(looked.orderBy(order: _*).collect().toSeq === joined.orderBy(order: _*).collect().toSeq)
    val unknown = looked.filter(col("tool") === "no_such_tool")
    assert(unknown.count() > 0)
    assert(unknown.filter(col("sink").isNotNull || col("category").isNotNull).count() === 0)
    assert(looked.filter(col("role").isNull).filter(col("role_group").isNotNull).count() === 0)
    // the lookup plans no join, so a run builds no broadcast hash relation
    assert(looked.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty)
  }

  test("empty input: zero counts, zero checksum, no splits") {
    val res = IndexingPipeline.run(spark, df(Vector.empty[Turn]), tmpDir("empty"), delta1).get
    assert(res.counts === IndexingPipeline.SinkCounts(0L, 0L, 0L))
    assert(res.routedChecksum === 0L)
    assert(res.splits.isEmpty)
  }

  test("all-invalid input: every row dead-lettered, nothing routed") {
    val turns = TranscriptGen.turns(numConvs = 10, avgTurns = 4).zipWithIndex.map {
      case (t, i) => t.copy(text = if (i % 2 == 0) null else s"CALL broken_$i(")
    }
    val o = oracle(turns)
    assert(o.valid.isEmpty)
    val out = tmpDir("invalid")
    val res = IndexingPipeline.run(spark, df(turns), out, delta1).get
    assert(res.counts === IndexingPipeline.SinkCounts(o.errorCount, o.rollupCount, o.dead.size.toLong))
    assert(res.routedChecksum === 0L)
    assert(res.splits.isEmpty)
    assert(spark.read.parquet(s"$out/dead_letter/batch-1").count() === turns.size.toLong)
  }

  test("a failing sink: run throws promptly, after the other writes, releasing cache and pool") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val turns = TranscriptGen.turns(numConvs = 30, avgTurns = 5)
    val input = df(turns)
    val out = tmpDir("failing")
    // the error index sink's directory is a regular file, so its write fails
    // while the other sinks are still writing
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "error_index"), Array[Byte](1))
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val attempt = Future(IndexingPipeline.run(spark, input, out, delta1))
    Await.ready(attempt, 120.seconds)
    assert(attempt.value.get.isFailure)
    // the other sinks finished before run returned
    Seq("rollup", "dead_letter").foreach { sink =>
      assert(new java.io.File(s"$out/$sink/batch-1/_SUCCESS").exists(), sink)
    }
    assert(spark.sparkContext.getPersistentRDDs.size === baseline)
    def fanOutThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(_.getName == IndexingPipeline.FanOutThreadName)
    val deadline = System.nanoTime() + 10.seconds.toNanos
    while (fanOutThreads > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(fanOutThreads === 0)
    // nothing was published, so the same delta runs once the sink is fixed
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "error_index"))
    val res = IndexingPipeline.run(spark, input, out, delta1).get
    assert(res.counts.rollup === oracle(turns).rollupCount)
  }
}
