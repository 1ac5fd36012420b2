package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BM25 scoring pins: hand-computed score on a 3-doc corpus, plus the
  * ordering properties the reference's collector relies on. */
class ScoringSpec extends SparkTestBase {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark spark runs fast"),   // tf(spark)=2, dl=4
      (2L, "spark is a planner"),      // tf(spark)=1, dl=4
      (3L, "nothing relevant here no") // dl=4
    ).toDF("doc_id", "text")
  }

  test("bm25 matches the hand-computed Lucene-variant formula") {
    val got = Scoring.bm25(corpus, col("doc_id"), col("text"), Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=4, df(spark)=2 → idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def tfPart(tf: Double) = tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * 1.0))
    assert(got.keySet === Set(1L, 2L)) // doc 3 has no hit → absent
    assert(math.abs(got(1L) - idf * tfPart(2)) < 1e-12)
    assert(math.abs(got(2L) - idf * tfPart(1)) < 1e-12)
  }

  test("higher tf wins at equal dl; doc_id breaks exact ties") {
    val top = Scoring.topKByScore(corpus, col("doc_id"), col("text"), Seq("spark"), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(1L, 2L))
  }

  test("rarer terms outweigh common ones (idf)") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common rare"),
      (2L, "common word word"),
      (3L, "common filler text"),
      (4L, "common another doc")
    ).toDF("doc_id", "text")
    val scores = Scoring.bm25(df, col("doc_id"), col("text"), Seq("common", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1 holds the rare term → strictly highest score
    assert(scores(1L) > scores.removed(1L).values.max)
  }

  test("fieldnorm codec: exact through 40, pinned lossy values, monotone, idempotent") {
    import spark.implicits._
    val q = (1L to 5000L).toDF("dl")
      .select(col("dl"), Scoring.fieldnormQuantize(col("dl")).as("q"))
      .orderBy("dl").collect().map(r => r.getLong(0) -> r.getLong(1))
    // Lucene SmallFloat byte-4: 24 free values then 3-bit mantissa — doc
    // lengths up to 40 survive the byte exactly, 41 is the first collapse
    q.takeWhile(_._1 <= 40L).foreach { case (dl, v) => assert(v === dl) }
    val pinned = Map(41L -> 40L, 42L -> 42L, 47L -> 46L, 48L -> 48L,
      100L -> 96L, 255L -> 248L, 1000L -> 984L, 4096L -> 3864L)
    pinned.foreach { case (dl, want) => assert(q(dl.toInt - 1)._2 === want, s"dl=$dl") }
    assert(q.sliding(2).forall(p => p(0)._2 <= p(1)._2)) // monotone
    val idem = (1L to 5000L).toDF("dl")
      .select(Scoring.fieldnormQuantize(Scoring.fieldnormQuantize(col("dl"))).as("qq"))
      .orderBy("qq").collect().map(_.getLong(0))
    assert(idem.toSeq === q.map(_._2).sorted.toSeq) // idempotent
  }

  test("quantized norms change only dl's contribution; short docs score identically") {
    import spark.implicits._
    val longText = ("filler " * 60) + "spark"          // dl=61 → quantized 60
    val df = Seq((1L, "spark runs"), (2L, longText)).toDF("doc_id", "text")
    val exact = Scoring.bm25(df, col("doc_id"), col("text"), Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val quant = Scoring.bm25(df, col("doc_id"), col("text"), Seq("spark"),
      quantizeNorms = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(quant(1L) === exact(1L))     // dl=2 < 41: byte is exact
    assert(quant(2L) > exact(2L))       // dl 61→60: smaller norm, higher score
    // recompute doc 2 by hand with dl=60 against the EXACT avgdl (tantivy
    // divides exact total tokens by doc count; only per-doc dl is lossy)
    val avgdl = (2.0 + 61.0) / 2
    val idf = math.log(1.0 + (2.0 - 2.0 + 0.5) / (2.0 + 0.5))
    val want = idf * 1.0 * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 60.0 / avgdl))
    assert(math.abs(quant(2L) - want) < 1e-12)
  }
}
