package graft.operators

import graft.functions.Tokenizers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance scoring — the reference's default hit ordering
  * (quickwit-search/src/collector.rs:233,819 sorts by tantivy's BM25 score;
  * sort-spec handling collector.rs:44-80). tantivy scores with the Lucene
  * BM25 variant:
  *
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  *   score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Scored per row, the way a leaf scores each document of a split in one
  * pass (collector.rs:106-112): ONE aggregate over the corpus gives N (docs
  * with ≥1 token), avgdl and each query term's df ([[corpusStats]]), and
  * each row's score is then a column expression over its OWN tokens —
  * `dl = size(tokens)`, `tf = size(filter(tokens, _ === term))` — against
  * the one-row stats frame, broadcast-joined as data ([[withScore]]). The
  * plan has no explode, no groupBy and no score join: scoring adds a
  * broadcast nested-loop join and a projection, never a shuffle.
  *
  * tantivy quantizes doc length through a lossy byte-encoded fieldnorm
  * before scoring (one byte per doc, ~4% relative error above 40 tokens);
  * pass `quantizeNorms = true` to reproduce that exact behavior via
  * [[fieldnormQuantize]]. The default scores with the exact `dl` (scores
  * can then differ from tantivy's at the 3rd decimal while ordering stays
  * almost always identical).
  */
object Scoring {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Per-doc BM25 scores for `queryTerms` over `text`, tokenized with the
    * default analyzer: `(doc_id, score)`, one row per doc with at least one
    * term hit (docs matching no term are absent — score 0, as the reference
    * only scores postings hits). Rows that share an id are scored as
    * separate docs, as tantivy scores each document. */
  def bm25(docs: DataFrame, id: Column, text: Column, queryTerms: Seq[String],
           k1: Double = DefaultK1, b: Double = DefaultB,
           quantizeNorms: Boolean = false): DataFrame = {
    val terms = Terms(Seq(text), queryTerms.distinct.map(0 -> _))
    // every hit term adds a positive weight, so score > 0 ⇔ ≥1 term hit
    withScore(docs, terms, corpusStats(docs, terms), "score", k1, b, quantizeNorms)
      .filter(col("score") > 0.0)
      .select(id.as("doc_id"), col("score"))
  }

  /** The scoring terms of one request: the text columns they are matched
    * in, and the `(field index, term)` pairs in query order — the order the
    * per-term weights are added up in. */
  final case class Terms(fields: Seq[Column], terms: Seq[(Int, String)])

  /** The corpus statistics of [[Terms]] over `docs` as a one-row LOCAL frame:
    * per field i, `_n<i>` (docs with ≥1 token) and `_avgdl<i>`; per term j,
    * `_df<j>`. One aggregate job computes them; the row then travels as data
    * — numeric literals are inlined into generated code, so literal stats
    * would compile new classes on every request — and a scroll reuses the
    * frame for its continuation pages without re-running the aggregate. */
  def corpusStats(docs: DataFrame, q: Terms): DataFrame = {
    val toks = docs.select(q.fields.zipWithIndex.map { case (f, i) =>
      Tokenizers.default(f).as(s"_tok$i") }: _*)
    val fieldAggs = q.fields.indices.flatMap { i =>
      val dl = size(col(s"_tok$i"))
      Seq(count_if(dl > 0).as(s"_n$i"), avg(when(dl > 0, dl)).as(s"_avgdl$i"))
    }
    val dfAggs = q.terms.zipWithIndex.map { case ((i, t), j) =>
      count_if(array_contains(col(s"_tok$i"), t)).as(s"_df$j")
    }
    val aggs = fieldAggs ++ dfAggs
    val row = toks.agg(aggs.head, aggs.tail: _*).head()
    docs.sparkSession.createDataFrame(java.util.List.of(row), row.schema)
  }

  /** `rows` plus a `scoreCol` column: each row's BM25 score over its own
    * tokens against `stats` (from [[corpusStats]]), broadcast-joined. The
    * per-term weight `w` is the formula above with tf = 0 weighing 0.0;
    * the terms add up in query order. */
  def withScore(rows: DataFrame, q: Terms, stats: DataFrame, scoreCol: String,
                k1: Double = DefaultK1, b: Double = DefaultB,
                quantizeNorms: Boolean = false): DataFrame = {
    val tokCols = q.fields.indices.map(i => s"_tok$i")
    val tokenized = q.fields.zip(tokCols).foldLeft(rows) { case (df, (f, c)) =>
      df.withColumn(c, Tokenizers.default(f))
    }
    val weights = q.terms.zipWithIndex.map { case ((i, t), j) =>
      val tok = col(s"_tok$i")
      val tf = size(filter(tok, _ === t))
      val dl = if (quantizeNorms) fieldnormQuantize(size(tok)) else size(tok)
      val (n, df) = (col(s"_n$i"), col(s"_df$j"))
      val idf = log(lit(1.0) + (n - df + 0.5) / (df + 0.5))
      val w = idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col(s"_avgdl$i")))
      when(tf > 0, w).otherwise(lit(0.0))
    }
    tokenized.crossJoin(broadcast(stats))
      .withColumn(scoreCol, weights.reduce(_ + _))
      .drop(tokCols ++ stats.columns: _*)
  }

  /** tantivy's per-doc fieldnorm byte codec (fieldnorm/code.rs), which is
    * Lucene's published SmallFloat byte-4 scheme re-derived from its spec:
    * 24 "free" exact values, then a 3-bit mantissa + exponent float over
    * `dl − 24`. Exact for dl ≤ 40 (mantissa still covers the value), lossy
    * above (first collapse: 41 → 40), monotone and idempotent. The bit
    * width of `dl − 24` is taken as the LENGTH OF ITS BINARY STRING
    * (`conv`) — exact integer math, no float-log2 boundary risk, and
    * mirrorable in the DuckDB oracle via `bin()`. */
  def fieldnormQuantize(dl: Column): Column = {
    val j = (dl - lit(24)).cast("bigint")
    val shift = (length(conv(j, 10, 2)) - lit(4)).cast("int")
    val qj = call_function("shiftleft",
      call_function("shiftright", j, shift).bitwiseAND(lit(7)).bitwiseOR(lit(8)),
      shift)
    when(dl < 32, dl.cast("bigint")).otherwise(lit(24L) + qj)
  }

  /** Top-k hits by BM25 score (desc, doc_id asc tie) — `_score` sort. */
  def topKByScore(docs: DataFrame, id: Column, text: Column,
                  queryTerms: Seq[String], k: Int,
                  quantizeNorms: Boolean = false): DataFrame =
    bm25(docs, id, text, queryTerms, quantizeNorms = quantizeNorms)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
}
