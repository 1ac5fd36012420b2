package graft.queryast

import graft.SparkTestBase
import graft.util.Json
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** How one `_search` runs: the total and a top-level `terms` agg's cells
  * observed inside the page query, one scan per query, and every other
  * aggregation on a per-request thread beside the hits. */
class SearchWaveSpec extends SparkTestBase {

  private val resolver = FieldResolver(Set("text"), Seq("text"))
  private val words = Seq("alpha", "beta", "gamma")

  /** 240 docs as a `range`: text cycles through `words`, every seventh doc
    * has no tool, ts one minute apart. */
  private def docs: DataFrame =
    spark.range(0, 240).select(
      col("id").as("doc_id"),
      concat(lit("doc "), element_at(array(words.map(lit): _*), (col("id") % 3 + 1).cast("int")))
        .as("text"),
      when(col("id") % 7 =!= 0, concat(lit("tool-"), (col("id") % 5).cast("string"))).as("tool"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("ts"))

  /** [[docs]] over 4 Parquet files. */
  private lazy val table: DataFrame = {
    val dir = tmpDir("search-wave")
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val query = """{"bool":{"must":[{"match":{"text":"alpha"}}],""" +
    """"filter":[{"range":{"doc_id":{"gte":20}}}]}}"""
  private def matching(df: DataFrame): Long =
    df.filter(col("text").contains("alpha") && col("doc_id") >= 20).count()

  private def parse(json: String): Map[String, Any] =
    Json.parse(json).asInstanceOf[Map[String, Any]]
  private def hitsOf(json: String): Map[String, Any] =
    parse(json)("hits").asInstanceOf[Map[String, Any]]
  private def totalOf(json: String): Option[(Long, String)] =
    hitsOf(json).get("total").map { t =>
      val m = t.asInstanceOf[Map[String, Any]]
      (m("value").asInstanceOf[Double].toLong, m("relation").asInstanceOf[String])
    }
  private def search(body: String, df: DataFrame = table): String =
    EsApi.search(df, resolver, col("doc_id"), body)

  private def aggsThreads: Int = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
    .count(t => t.getName == EsApi.AggsThreadName && t.isAlive)
  private def assertNoAggsThread(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (aggsThreads > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(aggsThreads === 0)
  }

  private val tsBody =
    s"""{"query":$query,"sort":[{"ts":"desc"}],"size":5,""" +
      """"aggs":{"tools":{"terms":{"field":"tool"}}}}"""

  test("plan shape: a ts-sorted _search with a terms agg runs 1 job, 1 scan") {
    search(tsBody) // warm
    val (jobs, shuffles) = planShape("ts-search-terms")(search(tsBody))
    // the page query: the total and the terms cells observed inside it
    assert(jobs === 1)
    assert(shuffles === 0)
    val plans = executedPlans(search(tsBody))
    assert(plans.size === 1)
    assert(plans.map(leafScans) === Seq(1))
  }

  test("a planShape group counts the aggregation jobs run beside the hits") {
    val noAggs = s"""{"query":$query,"sort":[{"ts":"desc"}],"size":5}"""
    val histogram = """"aggs":{"ids":{"histogram":{"field":"doc_id","interval":50}}}"""
    val withHistogram = s"""{"query":$query,"sort":[{"ts":"desc"}],"size":5,$histogram}"""
    search(tsBody) // warm
    search(withHistogram)
    val (hits, _) = planShape("wave-hits")(search(noAggs))
    // a top-level terms rides the page query: no job of its own
    val (riding, _) = planShape("wave-riding")(search(tsBody))
    assert(riding === hits)
    // a histogram runs beside the hits, as EsAggs.search runs it alone
    val (aggs, _) = planShape("wave-aggs")(
      EsAggs.search(table, resolver, s"""{"query":$query,$histogram}"""))
    val (both, _) = planShape("wave-both")(search(withHistogram))
    assert(aggs >= 2)
    assert(both === hits + aggs)
  }

  test("hits.total equals filtered.count() on every path") {
    val n = matching(table)
    assert(n > 10)
    def body(extra: String) = s"""{"query":$query,"sort":[{"ts":"desc"}],$extra}"""
    assert(totalOf(search(body(""""size":5"""))) === Some((n, "eq")))
    assert(totalOf(search(body(""""from":3,"size":5"""))) === Some((n, "eq")))
    // search_after: the cursor of the second hit; the total ignores it
    val second = hitsOf(search(body(""""size":2""")))("hits").asInstanceOf[Seq[Any]](1)
      .asInstanceOf[Map[String, Any]]("sort").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Double].toLong) // epoch millis
    val after = search(body(s""""size":5,"search_after":${second.mkString("[", ",", "]")}"""))
    assert(totalOf(after) === Some((n, "eq")))
    assert(hitsOf(after)("hits").asInstanceOf[Seq[Any]].size === 5)
    assert(totalOf(search(body(s""""size":5,"track_total_hits":${n - 1}"""))) ===
      Some((n - 1, "gte")))
    assert(totalOf(search(body(s""""size":5,"track_total_hits":${n + 5}"""))) === Some((n, "eq")))
    assert(totalOf(search(body(""""size":5,"track_total_hits":false"""))) === None)
    assert(totalOf(search(body(""""size":0"""))) === Some((n, "eq")))
    // BM25 order (no sort) and a query that matches nothing
    assert(totalOf(search(s"""{"query":$query,"size":5}""")) === Some((n, "eq")))
    assert(totalOf(search("""{"query":{"match":{"text":"nowhere"}},"size":5}""")) ===
      Some((0L, "eq")))
    // an empty local input: Spark drops the observation's node
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      table.schema)
    assert(totalOf(search(body(""""size":5"""), empty)) === Some((0L, "eq")))
    // frames whose row count the plan bounds (a range, a local relation),
    // with a page at or above the row count, and with a page between the
    // matches and the rows (the optimizer folds the filter into the local
    // relation): the page reads each row once
    val local = spark.createDataFrame(java.util.Arrays.asList(docs.collect(): _*), docs.schema)
    assert(n < 100)
    for (bounded <- Seq(docs, local);
         (from, size) <- Seq((0, 5), (0, 100), (3, 100), (0, 240), (3, 300))) {
      val page = search(body(s""""from":$from,"size":$size"""), bounded)
      assert(totalOf(page) === Some((n, "eq")), s"from $from, size $size")
      assert(hitsOf(page)("hits").asInstanceOf[Seq[Any]].size === math.min(size, n - from))
    }
    // scroll: the total fixed at open is served by every continuation
    val ctx = new EsScroll.Context()
    try {
      val opened = ctx.search(table, resolver, "doc_id", body(""""size":4"""), "1m")
      assert(totalOf(opened) === Some((n, "eq")))
      val next = ctx.scroll(parse(opened)("_scroll_id").asInstanceOf[String])
      assert(totalOf(next) === Some((n, "eq")))
      assert(hitsOf(next)("hits").asInstanceOf[Seq[Any]].size === 4)
    } finally ctx.close()
    // a multi-index union counts both members
    val multi = EsApi.searchMulti(Seq("w-1" -> table, "w-2" -> table), resolver,
      col("doc_id"), "w-*", body(""""size":5"""))
    assert(totalOf(multi) === Some((2 * n, "eq")))
  }

  test("the aggs thread ends after success, a page failure and an aggs failure") {
    import spark.implicits._
    assert(totalOf(search(tsBody)).isDefined)
    assertNoAggsThread()
    // page failure: the sort field does not exist; the aggs still finish
    val pageErr = intercept[AnalysisException](search(
      """{"sort":["no_such_field"],"aggs":{"tools":{"terms":{"field":"tool"}}}}"""))
    assert(!pageErr.getSuppressed.exists(_.isInstanceOf[IllegalArgumentException]))
    assertNoAggsThread()
    // aggs failure: more buckets than the limit, the same message as before
    val wide = spark.range(0, EsAggs.DefaultBucketLimit + 1L).select($"id".as("doc_id"))
    val limitMsg =
      s"Aborting aggregation because bucket limit was reached (limit: ${EsAggs.DefaultBucketLimit})"
    // a max sub-agg keeps the terms off the page query, on the aggs thread
    val wideAggs = s""""aggs":{"k":{"terms":{"field":"doc_id","size":${EsAggs.DefaultBucketLimit + 1}},""" +
      """"aggs":{"m":{"max":{"field":"doc_id"}}}}}"""
    val aggsErr = intercept[IllegalArgumentException](
      search(s"""{"sort":["doc_id"],"size":3,$wideAggs}""", wide))
    assert(aggsErr.getMessage === limitMsg)
    assertNoAggsThread()
    // both fail: the hits' failure, with the aggs' failure suppressed
    val bothErr = intercept[AnalysisException](
      search(s"""{"sort":["no_such_field"],$wideAggs}""", wide))
    assert(bothErr.getSuppressed.collect { case e: IllegalArgumentException => e.getMessage }
      .toSeq === Seq(limitMsg))
    assertNoAggsThread()
  }

  /** Observations the session still waits on: each is registered when its
    * frame is built and dropped when a query over it ends. */
  private def liveObservations: Int = {
    val manager = spark.getClass.getMethod("observationManager").invoke(spark)
    val field = manager.getClass.getDeclaredField("observations")
    field.setAccessible(true)
    field.get(manager).asInstanceOf[java.util.Map[_, _]].size
  }

  test("a page failure with a riding terms agg starts no thread and leaves no live observation") {
    val body = """{"sort":["no_such_field"],"size":3,"aggs":{"tools":{"terms":{"field":"tool"}}}}"""
    table.schema // built
    assertNoAggsThread()
    val before = liveObservations
    val (jobs, _) = planShape("wave-riding-failure") {
      intercept[AnalysisException](search(body))
    }
    assert(jobs === 0)
    assert(aggsThreads === 0)
    assert(liveObservations === before)
  }

  test("a rejected terms body runs no job and starts no thread") {
    def body(terms: String) =
      s"""{"query":$query,"sort":[{"ts":"desc"}],"size":5,"aggs":{"tools":{"terms":$terms}}}"""
    val rejected = Seq(
      """{"field":"tool","order":{"_count":"ascending"}}""" -> "unknown terms order direction `ascending`",
      """{"field":"tool","order":{"_count":"asc","_key":"desc"}}""" -> "order must be one",
      """{"field":"tool","order":{}}""" -> "order must be one",
      """{"field":"tool","order":"asc"}""" -> "order must be one",
      """{"field":"tool","order":{"avg_price":"asc"}}""" -> "unknown terms order target `avg_price`",
      """{"field":"tool","size":-1}""" -> "size must be >= 0, got -1",
      """{"field":"tool","min_doc_count":-2}""" -> "min_doc_count must be >= 0, got -2")
    table.schema // built
    rejected.foreach { case (terms, msg) =>
      val (jobs, _) = planShape("wave-rejected-terms") {
        val e = intercept[IllegalArgumentException](search(body(terms)))
        assert(e.getMessage.contains(msg), terms)
      }
      assert(jobs === 0, terms)
      assertNoAggsThread()
    }
  }

  test("a rejected request runs no job and starts no thread") {
    val bad = """{"sort":["doc_id"],"search_after":[1,2],""" +
      """"aggs":{"tools":{"terms":{"field":"tool"}}}}"""
    table.schema // built
    val (jobs, _) = planShape("wave-rejected") {
      assert(intercept[IllegalArgumentException](search(bad)).getMessage ===
        "requirement failed: search_after length 2 must match sort criteria 1")
    }
    assert(jobs === 0)
    assertNoAggsThread()
  }
}
