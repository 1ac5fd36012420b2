package graft.queryast

import graft.SparkTestBase
import graft.functions.Tokenizers
import graft.model.TranscriptGen
import graft.operators.Scoring
import graft.publish.{Checkpoint, DeleteExecutor, MergeExecutor, MergePolicy}
import graft.sources.TranscriptTable
import graft.util.Json
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The per-row BM25 scorer behind `Scoring.bm25` and `_search`: its scores
  * against the explode/groupBy/join formulation it replaced, the corpus
  * statistics of a Parquet scan summed from memoized per-file counts, and
  * the plan it builds — no shuffle for scoring, no corpus job once the
  * files are counted, and scroll continuations that reuse the corpus stats
  * of the opening page. */
class Bm25ScoringSpec extends SparkTestBase {

  private val resolver = FieldResolver(Set("title", "body"), Seq("title"))

  /** Two text fields; doc 5 has a null title, doc 6 a title with no tokens,
    * doc 7 no term hit in either field. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "spark vector spark", "a planner for spark"),
      (2L, "spark", "vector search is a long body with many words in it"),
      (3L, "vector planner", "planner"),
      (4L, "spark vector planner notes", "nothing"),
      (5L, null, "vector planner spark"),
      (6L, "!!! --- ...", "spark"),
      (7L, "unrelated words", "other text"),
      (8L, "spark spark spark spark", "planner vector")
    ).toDF("doc_id", "title", "body")
  }

  /** The replaced formulation, kept here as the reference: explode every
    * token, dl/tf/df groupBys, the per-doc sum. */
  private def explodedBm25(docs: DataFrame, text: String, terms: Seq[String]): DataFrame = {
    val (k1, b) = (Scoring.DefaultK1, Scoring.DefaultB)
    val toks = docs.select(col("doc_id"), explode(Tokenizers.default(col(text))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum("w").as("score"))
  }

  private def scores(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** The replaced `_search` scores: per field, unioned and summed per doc. */
  private def explodedSearchScores(fieldTerms: Seq[(String, String)]): Map[Long, Double] =
    scores(fieldTerms.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, ts) => explodedBm25(corpus, f, ts.map(_._2)) }
      .reduce(_ union _).groupBy("doc_id").agg(sum("score")))

  /** `_search` hits as (id → `_score`) — the sortless body ranks by it. */
  private def searchScores(query: String): Map[Long, Double] = {
    val out = Json.parse(EsApi.search(corpus, resolver, col("doc_id"),
      s"""{"query":$query,"size":20}""")).asInstanceOf[Map[String, Any]]
    out("hits").asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Seq[Any]].map { h =>
      val m = h.asInstanceOf[Map[String, Any]]
      m("_id").asInstanceOf[Double].toLong -> m("sort").asInstanceOf[Seq[Any]].head.asInstanceOf[Double]
    }.toMap
  }

  /** Every doc passes the filter; only the `should` clauses score. */
  private def scoredQuery(should: String*): String =
    s"""{"bool":{"filter":[{"range":{"doc_id":{"gte":0}}}],"should":[${should.mkString(",")}]}}"""

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet === want.keySet)
    want.foreach { case (d, w) =>
      assert(math.abs(got(d) - w) <= 1e-12 * math.abs(w), s"doc $d: ${got(d)} vs $w")
    }
  }

  test("Scoring.bm25 equals the exploded formulation: exact for 2 terms, 1e-12 for 3") {
    val two = Seq("spark", "vector")
    assert(scores(Scoring.bm25(corpus, col("doc_id"), col("title"), two)) ===
      scores(explodedBm25(corpus, "title", two)))
    val three = Seq("spark", "vector", "planner")
    assertClose(scores(Scoring.bm25(corpus, col("doc_id"), col("title"), three)),
      scores(explodedBm25(corpus, "title", three)))
    // docs without a hit (null title, no tokens, no term) stay absent
    assert(!scores(Scoring.bm25(corpus, col("doc_id"), col("title"), three))
      .keySet.exists(Set(5L, 6L, 7L)))
  }

  test("_search scores equal the exploded formulation over two fields") {
    val all = corpus.collect().map(_.getLong(0)).toSet
    def withZeros(m: Map[Long, Double]) = all.map(d => d -> m.getOrElse(d, 0.0)).toMap
    val two = Seq("title" -> "spark", "body" -> "planner")
    assert(searchScores(scoredQuery(
      """{"match":{"title":"spark"}}""", """{"match":{"body":"planner"}}""")) ===
      withZeros(explodedSearchScores(two)))
    val three = Seq("title" -> "spark", "title" -> "vector", "body" -> "planner")
    assertClose(searchScores(scoredQuery(
        """{"match":{"title":{"query":"spark vector","operator":"or"}}}""",
        """{"match":{"body":"planner"}}""")),
      withZeros(explodedSearchScores(three)))
  }

  test("plan shape: a BM25 _search plans no shuffle for scoring") {
    val dir = tmpDir("bm25plan")
    corpus.repartition(4).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val body = """{"query":{"match":{"title":{"query":"spark vector","operator":"or"}}},""" +
      """"size":3,"track_total_hits":false}"""
    // cold: the one shuffle is the per-file count job over the new files
    val (_, cold) = planShape("bm25-search-cold") {
      EsApi.search(docs, resolver, col("doc_id"), body)
    }
    assert(cold === 1)
    // warm: the stats are sums of memoized per-file counts
    val (_, warm) = planShape("bm25-search-warm") {
      EsApi.search(docs, resolver, col("doc_id"), body)
    }
    assert(warm === 0)
    val terms = Scoring.Terms(Seq(col("title")), Seq(0 -> "spark", 0 -> "vector"))
    val scored = Scoring.withScore(docs, terms, Scoring.corpusStats(docs, terms), "s")
    scored.collect()
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(scored.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty)
  }

  test("plan shape: a BM25 scroll continuation runs fewer jobs than its opening page") {
    val body = """{"query":{"match":{"title":{"query":"spark vector","operator":"or"}}},"size":2}"""
    val ctx = new EsScroll.Context()
    def open(): String = Json.parse(ctx.search(corpus, resolver, "doc_id", body, "60s"))
      .asInstanceOf[Map[String, Any]]("_scroll_id").asInstanceOf[String]
    ctx.scroll(open()) // warm
    var sid = ""
    val (openJobs, _) = planShape("bm25-scroll-open") { sid = open() }
    val (nextJobs, nextShuffles) = planShape("bm25-scroll-next")(ctx.scroll(sid))
    assert(nextJobs < openJobs)
    // the continuation scores against the stored stats: no corpus aggregate
    assert(nextShuffles === 0)
    ctx.close()
  }

  /** The replaced single aggregate: `avg` of the positive token counts. */
  private def aggregateStats(docs: DataFrame, q: Scoring.Terms): Row = {
    val toks = q.fields.map(Tokenizers.default)
    val aggs = toks.flatMap { t =>
      Seq(count_if(size(t) > 0), avg(when(size(t) > 0, size(t))))
    } ++ q.terms.map { case (i, term) => count_if(array_contains(toks(i), term)) }
    docs.agg(aggs.head, aggs.tail: _*).head()
  }

  /** Two fields × three terms: one term per field matches nothing. */
  private val twoFields = Scoring.Terms(Seq(col("text"), col("role")),
    Seq(0 -> "fox", 0 -> "spark", 0 -> "nowhere", 1 -> "tool", 1 -> "user", 1 -> "nobody"))

  private def delta(from: Long, to: Long) =
    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("src", from, to)))

  test("per-file corpus stats equal the plain aggregate after appends, a merge and a delete") {
    import spark.implicits._
    // a space and a `%` in the table dir: file URIs escape both
    val dir = tmpDir("bm25 stats %")
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 40, avgTurns = 5).toDS().toDF()
    val half = pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(2L))
    def check(step: String): Unit = {
      val scan = table.scan()
      assert(Scoring.corpusStats(scan, twoFields).head() === aggregateStats(scan, twoFields), step)
      // the same files again: answered from the memo, no job
      val (jobs, _) = planShape(s"bm25-files-$step")(Scoring.corpusStats(table.scan(), twoFields))
      assert(jobs === 0, step)
    }
    table.append(turns.filter(half === 0L), delta(-1, 1), numFiles = 2)
    check("append-1")
    table.append(turns.filter(half === 1L), delta(1, 2), numFiles = 2)
    // an all-null-text split
    table.append(turns.limit(6).withColumn("text", lit(null).cast("string")), delta(2, 3),
      numFiles = 1)
    check("append-2")
    val merged = MergeExecutor.run(dir, spark, MergePolicy.Config(mergeFactor = 2,
      maxMergeFactor = 5, minLevelNumDocs = 1000000L, splitNumDocsTarget = 100000L))
    assert(merged.merged.nonEmpty)
    check("merge")
    val deleted = DeleteExecutor.run(dir, spark,
      Seq(DeleteExecutor.DeleteTask(5L, QueryAst.Term("role", "assistant"))))
    assert(deleted.rewritten.nonEmpty)
    check("delete")
    // the all-null-text file alone, and an empty file: N = 0, avgdl null
    val nullText = tmpDir("bm25-null")
    turns.limit(6).withColumn("text", lit(null).cast("string")).coalesce(1)
      .write.mode("overwrite").parquet(nullText)
    val empty = tmpDir("bm25-empty")
    turns.limit(0).coalesce(1).write.mode("overwrite").parquet(empty)
    Seq(nullText, empty).foreach { d =>
      val docs = spark.read.parquet(d)
      val got = Scoring.corpusStats(docs, twoFields).head()
      assert(got === aggregateStats(docs, twoFields))
      assert(got.isNullAt(1))
    }
  }

  test("filtered, _index-unioned and local frames take the aggregate path") {
    val dir = tmpDir("bm25-paths")
    corpus.repartition(3).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val terms = Scoring.Terms(Seq(col("title")), Seq(0 -> "spark", 0 -> "vector"))
    Scoring.corpusStats(docs, terms) // counts the files
    val filtered = docs.filter(col("doc_id") > 2)
    val unioned = docs.withColumn("_index", lit("a"))
      .unionByName(docs.withColumn("_index", lit("b")))
    val local = spark.createDataFrame(java.util.Arrays.asList(docs.collect(): _*), docs.schema)
    Seq("filtered" -> filtered, "unioned" -> unioned, "local" -> local).foreach { case (name, df) =>
      var got: Row = null
      val (jobs, _) = planShape(s"bm25-aggregate-$name") {
        got = Scoring.corpusStats(df, terms).head()
      }
      assert(jobs >= 1, name)
      assert(got === aggregateStats(df, terms), name)
    }
    val (jobs, _) = planShape("bm25-per-file")(Scoring.corpusStats(docs, terms))
    assert(jobs === 0)
  }

  test("plan shape: a warm BM25 _search over TranscriptTable.scan runs no corpus job") {
    import spark.implicits._
    val table = new TranscriptTable(tmpDir("bm25-table"), spark)
    table.append(TranscriptGen.turns(numConvs = 60, avgTurns = 5).toDS().toDF(), delta(-1, 1))
    val r = FieldResolver(Set("text"), Seq("text"))
    val aggs = """"aggs":{"tools":{"terms":{"field":"tool"}}}"""
    val bm25 = s"""{"query":{"match":{"text":"fox"}},"size":5,$aggs}"""
    val byTs = s"""{"query":{"match":{"text":"fox"}},"sort":[{"ts":"desc"}],"size":5,$aggs}"""
    def search(body: String): Unit =
      EsApi.search(table.scan(), r, concat_ws("/", col("conv_id"), col("turn_idx")), body)
    search(bm25) // warm: counts the files
    search(byTs)
    val (tsJobs, _) = planShape("table-ts-search")(search(byTs))
    val (bm25Jobs, _) = planShape("table-bm25-search")(search(bm25))
    assert(tsJobs <= 1)
    assert(bm25Jobs <= tsJobs + 1)
    // the page, with the terms agg's cells observed inside it: no second,
    // corpus-stats query
    assert(executedPlans(search(bm25)).size === 1)
  }
}
