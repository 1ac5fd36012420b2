package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** ES-compatible aggregation semantics tests
  * (reference: docs/reference/aggregation.md; collector.rs partial/final). */
class AggsSpec extends SparkTestBase {

  private def events = {
    import spark.implicits._
    Seq(
      ("a", 5.0, ts("2024-01-01 01:00:00")),
      ("a", 15.0, ts("2024-01-01 02:00:00")),
      ("a", 25.0, ts("2024-01-02 03:00:00")),
      ("b", 35.0, ts("2024-01-02 04:00:00")),
      ("b", 45.0, ts("2024-01-03 05:00:00")),
      ("c", 55.0, ts("2024-01-03 06:00:00")),
      ("d", 65.0, ts("2024-01-04 07:00:00"))
    ).toDF("k", "v", "ts")
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("terms: top-size by count desc, key asc ties, sum_other_doc_count") {
    val out = Aggs.terms(events, col("k"), size = 2).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 3L), ("b", 2L)))
    assert(out.forall(_.getLong(2) === 2L)) // c + d left out
  }

  test("terms: min_doc_count filter and _key/_count order targets") {
    // events fixture: a×3, b×2, c×1, d×1 (7 docs)
    val keyAsc = Aggs.terms(events, col("k"), size = 2,
        minDocCount = 2L, orderTarget = "_key", orderAsc = true).collect()
    assert(keyAsc.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 3L), ("b", 2L)))
    // min_doc_count-dropped c/d count toward sum_other like size-cut terms
    assert(keyAsc.forall(_.getLong(2) === 2L))
    val countAsc = Aggs.terms(events, col("k"), size = 2,
        orderTarget = "_count", orderAsc = true).collect()
    assert(countAsc.map(_.getString(0)).toSeq === Seq("c", "d")) // ties → key asc
    assert(countAsc.forall(_.getLong(2) === 5L))
    intercept[IllegalArgumentException](
      Aggs.terms(events, col("k"), 2, orderTarget = "avg_price"))
  }

  test("terms: one scan of a Parquet input; a null key is a bucket of its own") {
    import spark.implicits._
    val dir = tmpDir("terms-scan")
    events.select(col("k")).union(Seq[String](null, null, null, null).toDF("k"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val out = Aggs.terms(spark.read.parquet(dir), col("k"), size = 2)
    val rows = out.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
    // null×4, a×3 kept; b×2, c, d left out
    assert(rows === Seq((None, 4L, 4L), (Some("a"), 3L, 4L)))
    assert(leafScans(out.queryExecution.executedPlan) === 1)
  }

  test("date_histogram: hard_bounds (epoch-µs, closed) and min_doc_count") {
    // bounds cover only 2024-01-02 (µs): that day's 2 docs remain
    val lo = java.time.Instant.parse("2024-01-02T00:00:00Z").toEpochMilli * 1000L
    val hi = java.time.Instant.parse("2024-01-02T23:59:59Z").toEpochMilli * 1000L
    val out = Aggs.dateHistogram(events, col("ts"), "1d", hardBounds = Some((lo, hi)))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(out === Seq((ts("2024-01-02 00:00:00"), 2L)))
    // min_doc_count 2 prunes 1-doc day buckets
    val pruned = Aggs.dateHistogram(events, col("ts"), "1d", minDocCount = 2L)
      .collect().map(_.getLong(1)).toSeq
    assert(pruned.forall(_ >= 2L))
  }

  test("histogram: floor((v - offset)/interval)*interval + offset buckets") {
    val out = Aggs.histogram(events, col("v"), interval = 20.0)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out === Seq((0.0, 2L), (20.0, 2L), (40.0, 2L), (60.0, 1L)))
    val off = Aggs.histogram(events, col("v"), interval = 20.0, offset = 5.0)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(off === Seq((5.0, 2L), (25.0, 2L), (45.0, 2L), (65.0, 1L)))
  }

  test("histogram: hard_bounds clips VALUES (closed interval); min_doc_count prunes buckets") {
    // hard_bounds [20, 40]: values outside dropped before bucketing
    // (aggregation.md:241-249)
    val hard = Aggs.histogram(events, col("v"), interval = 20.0,
        hardBounds = Some((20.0, 40.0)))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(hard.forall { case (k, _) => k >= 20.0 && k <= 40.0 })
    assert(hard.map(_._2).sum ==
      events.filter(col("v") >= 20.0 && col("v") <= 40.0).count())
    // min_doc_count 2 drops the 1-doc bucket at key 60
    val pruned = Aggs.histogram(events, col("v"), interval = 20.0, minDocCount = 2L)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(pruned === Seq((0.0, 2L), (20.0, 2L), (40.0, 2L)))
  }

  test("date_histogram: fixed_interval 1d buckets") {
    val out = Aggs.dateHistogram(events, col("ts"), "1d")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(out === Seq(
      (ts("2024-01-01 00:00:00"), 2L), (ts("2024-01-02 00:00:00"), 2L),
      (ts("2024-01-03 00:00:00"), 2L), (ts("2024-01-04 00:00:00"), 1L)))
  }

  test("interval parsing") {
    assert(Aggs.intervalMicros("30s") === 30000000L)
    assert(Aggs.intervalMicros("15m") === 900000000L)
    assert(Aggs.intervalMicros("2h") === 7200000000L)
    assert(Aggs.intervalMicros("1d") === 86400000000L)
    intercept[IllegalArgumentException](Aggs.intervalMicros("1w"))
  }

  test("range agg: [from, to) buckets, unbounded edges") {
    val out = Aggs.rangeAgg(events, col("v"),
        Seq((None, Some(20.0)), (Some(20.0), Some(50.0)), (Some(50.0), None)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("*-20.0" -> 2L, "20.0-50.0" -> 3L, "50.0-*" -> 2L))
  }

  test("stats: count/min/max/sum/avg in one pass") {
    val r = Aggs.stats(events.filter(col("k") === "a"), Nil, col("v")).collect()(0)
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 5.0 && r.getDouble(2) === 25.0)
    assert(r.getDouble(3) === 45.0 && r.getDouble(4) === 15.0)
  }

  test("topGroupsByMaxTs: FindTraceIds semantics (desc max_ts, key tie)") {
    val out = Aggs.topGroupsByMaxTs(events, col("k"), col("ts"), 2)
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("d", "c"))
  }

  test("searchAfter: strictly-after cursor, tie broken by second key") {
    val out = Aggs.searchAfter(events.select(col("v"), col("k")), col("v"), col("k"),
        35.0, "zzz", 3)
      .collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(45.0, 55.0, 65.0))
    val tied = Aggs.searchAfter(events.select(col("v"), col("k")), col("v"), col("k"),
        35.0, "a", 2).collect().map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(tied === Seq((35.0, "b"), (45.0, "b")))
  }

  test("paginate: offset + limit over a global sort") {
    val out = Aggs.paginate(events.select("v"), Seq(col("v").asc), offset = 2, k = 3)
      .collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(25.0, 35.0, 45.0))
  }

  test("termsDistributed: leaf truncation, merged counts, error bounds") {
    import spark.implicits._
    // split 0: x×5 y×3 z×2   (split_size=2 keeps x,y; drops z → cutoff 2)
    // split 1: y×4 z×4 w×1   (keeps y,z ties→key asc; drops w → cutoff 1)
    val rows =
      Seq.fill(5)((0, "x")) ++ Seq.fill(3)((0, "y")) ++ Seq.fill(2)((0, "z")) ++
      Seq.fill(4)((1, "y")) ++ Seq.fill(4)((1, "z")) ++ Seq.fill(1)((1, "w"))
    val df = rows.toDF("split", "term")
    val out = Aggs.termsDistributed(df, col("split"), col("term"),
      size = 2, splitSize = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // merged: y=3+4=7 (reported by both → err 0), x=5 (missing from split 1
    // → err = cutoff_1 = 1); z kept only in split 1 (4; err = cutoff_0 = 2)
    // loses the size=2 cut to x on key asc? No: z=4 < x=5 → top2 = y,x.
    assert(out.toSeq === Seq(("y", 7L, 0L, 7L), ("x", 5L, 1L, 7L)))
    // sum_other = total 19 − returned 12 = 7

    // the protocol's guarantee: true_count − doc_count ≤ err_upper
    val truth = df.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (k, dc, err, _) => assert(truth(k) - dc <= err) }

    // no truncation (split_size ≥ cardinality): exact counts, zero error
    val exact = Aggs.termsDistributed(df, col("split"), col("term"),
      size = 4, splitSize = 10).collect()
    exact.foreach { r =>
      assert(r.getLong(1) === truth(r.getString(0)) && r.getLong(2) === 0L)
    }
  }
}
