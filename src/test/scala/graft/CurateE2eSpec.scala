package graft

/** The composed curation flagship (`x_curate_e2e`): stage behavior pinned on
  * a hand-built corpus, and the plan shape that makes it scale — the
  * benchmark gram join broadcasts, the only wide shuffle keys on the short
  * 12-token prefix, and full document text never rides an exchange. */
class CurateE2eSpec extends SparkTestBase {
  import spark.implicits._

  // Disjoint per-doc vocabularies (alphabetic only: digits/punct would drag
  // the quality score below the 0.35 gate).
  private def vocab(prefix: Char, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  private def doc(id: Long, src: String, words: Seq[String]): (Long, String, String, String, Long) = {
    val text = words.mkString(" ")
    (id, text, "und", src, text.length.toLong)
  }

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("curate-e2e").toString
    val b = vocab('b', 88)
    Seq(
      doc(1L, "a", vocab('a', 50)),                   // kept, unique prefix
      doc(2L, "a", b.take(12) ++ b.slice(12, 50)),    // prefix group {2,3}: min id wins
      doc(3L, "a", b.take(12) ++ b.slice(50, 88)),    // same 12-token prefix → dropped
      doc(4L, "b", vocab('c', 50)),                   // kept
      doc(5L, "b", Seq("tiny", "doc")),               // quality 0.208 < 0.35 → gated out
      doc(17L, "b", vocab('e', 50))                   // 17 % 17 == 0 → in the benchmark set →
                                                      // its own 5-grams contaminate it
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("gate, prefix dedup, decontamination and rollup compose correctly") {
    val out = SparkEntry.byName("x_curate_e2e").build(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("a", 2L, 100L), ("b", 1L, 50L)))
  }

  test("plan shape: broadcast gram join, prefix-keyed shuffle, no text exchange") {
    val plan = SparkEntry.byName("x_curate_e2e").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark grams must broadcast:\n$plan")
    // Catalyst names the groupBy key `_groupingexpression` in the exchange
    assert(plan.contains("hashpartitioning(_groupingexpression") ||
           plan.contains("hashpartitioning(_pfx"),
      s"the dedup shuffle must key on the 12-token prefix:\n$plan")
    assert(!plan.contains("hashpartitioning(text"),
      s"full document text must never ride an exchange:\n$plan")
  }
}
