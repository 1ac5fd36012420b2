package graft.operators

import graft.functions.Tokenizers
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** BM25 relevance scoring — the reference's default hit ordering
  * (quickwit-search/src/collector.rs:233,819 sorts by tantivy's BM25 score;
  * sort-spec handling collector.rs:44-80). tantivy scores with the Lucene
  * BM25 variant:
  *
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  *   score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Scored per row, the way a leaf scores each document of a split in one
  * pass (collector.rs:106-112): the corpus statistics — N (docs with ≥1
  * token), avgdl and each query term's df — come first as a one-row local
  * frame ([[corpusStats]]), and each row's score is then a column
  * expression over its OWN tokens — `dl = size(tokens)`,
  * `tf = size(filter(tokens, _ === term))` — against that row,
  * broadcast-joined as data ([[withScore]]). The scoring plan has no
  * explode, no groupBy and no score join: it adds a broadcast nested-loop
  * join and a projection, never a shuffle.
  *
  * The statistics of a bare Parquet file scan are sums of per-file counts,
  * memoized per immutable data file the way a split's term dictionary
  * answers doc_freq without a scan (SURVEY §1.3): a warm request runs no
  * corpus job, and a request over new files counts only those files, in
  * one grouped job. Any other frame runs one aggregate over its rows.
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
    * per field i, `_n<i>` (docs with ≥1 token) and `_avgdl<i>` (null when
    * `_n<i>` is 0); per term j, `_df<j>`. A bare Parquet file scan (see
    * [[bareFileScan]]) sums memoized per-file counts and counts only the
    * files it has not seen; any other frame runs one aggregate over its
    * rows. Both paths compute the same [[Count]]s, and `avgdl` is
    * token sum / N in both, bit-identical to `avg` of the int lengths. The
    * row travels as data — numeric literals are inlined into generated
    * code, so literal stats would compile new classes on every request —
    * and a scroll reuses the frame for its continuation pages. */
  def corpusStats(docs: DataFrame, q: Terms): DataFrame = {
    val counts = corpusCounts(q)
    val totals = bareFileScan(docs, q) match {
      case Some(scan) => perFileTotals(docs.sparkSession, scan, counts)
      case None =>
        val tokens = docs.select(q.fields.zipWithIndex.map { case (f, i) =>
          Tokenizers.default(f).as(s"_tok$i") }: _*)
        val aggs = counts.map { case (i, c) => c.agg(col(s"_tok$i")) }
        longs(tokens.agg(aggs.head, aggs.tail: _*).head())
    }
    val total = counts.zip(totals).toMap
    val fieldCols = q.fields.indices.flatMap { i =>
      val n = total(i -> Docs)
      Seq(StructField(s"_n$i", LongType) -> n,
        StructField(s"_avgdl$i", DoubleType) ->
          (if (n == 0) null else total(i -> Tokens).toDouble / n))
    }
    val dfCols = q.terms.zipWithIndex.map { case ((i, t), j) =>
      StructField(s"_df$j", LongType) -> total(i -> Df(t))
    }
    val (fields, values) = (fieldCols ++ dfCols).unzip
    docs.sparkSession.createDataFrame(java.util.List.of(Row.fromSeq(values)), StructType(fields))
  }

  /** One corpus count over a field's tokens `tok`. */
  private sealed trait Count { def agg(tok: Column): Column }
  /** Docs with at least one token. */
  private case object Docs extends Count { def agg(tok: Column) = count_if(size(tok) > 0) }
  /** The token sum; null over no rows. */
  private case object Tokens extends Count { def agg(tok: Column) = sum(size(tok)) }
  /** Docs whose tokens contain `term`. */
  private final case class Df(term: String) extends Count {
    def agg(tok: Column) = count_if(array_contains(tok, term))
  }

  /** The `(field index, count)` pairs [[corpusStats]] needs, distinct. */
  private def corpusCounts(q: Terms): Seq[(Int, Count)] =
    (q.fields.indices.flatMap(i => Seq(i -> Docs, i -> Tokens)) ++
      q.terms.map { case (i, t) => i -> Df(t) }).distinct

  /** The counts of a row from column `from` on as longs, a null sum as 0. */
  private def longs(r: Row, from: Int = 0): Seq[Long] =
    (from until r.length).map(k => if (r.isNullAt(k)) 0L else r.getLong(k))

  /** A bare file scan's data files, its data schema and the column name of
    * each scored field. */
  private final case class FileScan(files: Seq[FileStatus], dataSchema: StructType,
                                    fieldNames: Seq[String])

  /** `docs` as a [[FileScan]] when it is a bare file scan — an analyzed
    * `LogicalRelation` over an unpartitioned, unbucketed Parquet
    * `HadoopFsRelation`, what `TranscriptTable.scan` and
    * `spark.read.parquet` return — whose scored fields are plain columns of
    * it. The files come from the relation's file index, listed when the
    * frame was built. */
  private def bareFileScan(docs: DataFrame, q: Terms): Option[FileScan] =
    docs.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation if h.partitionSchema.isEmpty && h.bucketSpec.isEmpty &&
            h.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val names = docs.select(q.fields: _*).queryExecution.analyzed match {
            case Project(list, _) =>
              list.map {
                case a: AttributeReference if lr.output.exists(_.exprId == a.exprId) => Some(a.name)
                case _ => None
              }
            case _ => Seq(None)
          }
          if (names.forall(_.isDefined))
            Some(FileScan(h.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)),
              h.dataSchema, names.flatten))
          else None
        case _ => None
      }
      case _ => None
    }

  /** A memoized per-file count: the data file's identity (its URI, length
    * and modification time), the field and the count. */
  private final case class CountKey(file: String, length: Long, modified: Long,
                                    field: String, count: Count)

  /** Per-file counts, bounded LRU. Data files are immutable, so a file's
    * counts never change; a rewritten or new file has a new identity. */
  private val fileCounts = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[CountKey, java.lang.Long](1024, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[CountKey, java.lang.Long]): Boolean =
        size > (1 << 16)
    })

  /** The totals of `counts` over the scan's files: memoized per-file
    * counts, and one job, grouped by `_metadata.file_path`, over the files
    * missing any of them. A file with no rows counts 0. The grouped rows map
    * back to the files by decoded path: the listing spells a local file
    * `file:///p`, `_metadata.file_path` spells it `file:/p`. */
  private def perFileTotals(spark: SparkSession, scan: FileScan,
                            counts: Seq[(Int, Count)]): Seq[Long] = {
    val keyed = scan.files.map { f =>
      f -> counts.map { case (i, c) =>
        CountKey(f.getPath.toUri.toString, f.getLen, f.getModificationTime, scan.fieldNames(i), c)
      }
    }
    val known = scala.collection.mutable.Map.empty[CountKey, Long]
    val missing = keyed.filter { case (_, ks) =>
      ks.foreach(k => Option(fileCounts.get(k)).foreach(v => known(k) = v.longValue))
      !ks.forall(known.contains)
    }
    if (missing.nonEmpty) {
      val tokens = spark.read.schema(scan.dataSchema)
        .parquet(missing.map(_._1.getPath.toString): _*)
        .select(col("_metadata.file_path").as("_file") +: scan.fieldNames.zipWithIndex.map {
          case (f, i) => Tokenizers.default(col(f)).as(s"_tok$i") }: _*)
      val aggs = counts.map { case (i, c) => c.agg(col(s"_tok$i")) }
      val byFile = tokens.groupBy("_file").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => new java.net.URI(r.getString(0)).getPath -> longs(r, from = 1)).toMap
      missing.foreach { case (f, ks) =>
        val got = byFile.getOrElse(f.getPath.toUri.getPath, counts.map(_ => 0L))
        ks.zip(got).foreach { case (k, v) => known(k) = v; fileCounts.put(k, v) }
      }
    }
    counts.indices.map(c => keyed.map { case (_, ks) => known(ks(c)) }.sum)
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
