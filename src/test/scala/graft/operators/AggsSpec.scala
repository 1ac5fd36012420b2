package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Tests of the aggregation combinators outside `_search`'s aggregation
  * tree (reference: docs/reference/aggregation.md; collector.rs
  * partial/final); the tree itself is pinned by `EsAggsSpec`. */
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

  test("date_histogram: fixed_interval 1d buckets") {
    // the bucket key `_search`'s date_histogram groups by
    val out = events.groupBy(Aggs.dateHistogramKey(col("ts"), "1d").as("key")).count()
      .orderBy("key").collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
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

  test("topGroupsByMaxTs: FindTraceIds semantics (desc max_ts, key tie)") {
    val out = Aggs.topGroupsByMaxTs(events, col("k"), col("ts"), 2)
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("d", "c"))
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
