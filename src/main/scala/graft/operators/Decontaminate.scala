package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination in the GPT-3 / Pile style (Brown et al. 2020
  * appendix C; Gao et al. 2021 §6): flag every training document that
  * shares any word n-gram with an evaluation/benchmark corpus, so eval
  * answers cannot leak into the training set.
  *
  * Scale shape (the part that matters at 100 TB): the benchmark gram set
  * is small — a few million grams for a whole eval suite — so it is
  * `broadcast()` to every task and the training side NEVER shuffles its
  * grams. The only shuffle is the per-doc hit-count aggregation, which
  * map-side-combines to one (doc_id, count) row per doc per task. The
  * gram explode itself stays inside whole-stage codegen.
  */
object Decontaminate {

  /** Distinct lowercase word n-grams of a document ("w1 w2 … wn" strings);
    * empty below n words. Distinct because contamination counts OVERLAPPING
    * GRAMS, not occurrences — a doc repeating one leaked gram 50 times is
    * one collision. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val ws = QualityFilters.words(lower(coalesce(text, lit(""))))
    array_distinct(QualityFilters.ngramsOf(ws, n))
  }

  /** Per-document contamination report against a benchmark corpus:
    * (docId, n_contaminated_grams, contaminated). Every input doc appears,
    * including docs shorter than n words (zero grams → zero hits).
    *
    * @param bench frame whose `benchText` column holds the benchmark
    *              documents; exploded to a distinct gram set and broadcast.
    */
  def contamination(docs: DataFrame, docId: String, text: String,
                    bench: DataFrame, benchText: String, n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(wordNgrams(col(benchText), n)).as("gram"))
      .distinct()
      .withColumn("bench_hit", lit(1L))
    val grams = docs.select(col(docId),
      explode_outer(wordNgrams(col(text), n)).as("gram"))
    grams
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col(docId))
      .agg(sum(coalesce(col("bench_hit"), lit(0L))).as("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") > 0L)
  }
}
