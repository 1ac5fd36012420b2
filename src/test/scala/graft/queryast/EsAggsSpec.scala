package graft.queryast

import graft.SparkTestBase
import graft.operators.DdSketch
import graft.util.Json
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** END-TO-END aggregation-request goldens: each scenario's `json` request
  * body from rest-api-tests/scenarii/aggregations/0001-aggregations.yaml is
  * fed VERBATIM to [[EsAggs.search]] over the reference's own 8-doc corpus
  * (_setup.quickwit.yaml:32-46) and the rendered response is compared —
  * parsed, so only values and array order matter — against the scenario's
  * `expected` body. Percentile values are the reference's DDSketch
  * estimates, matched bit-for-bit (see [[graft.operators.DdSketch]]).
  */
class EsAggsSpec extends SparkTestBase {

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  private lazy val docs = {
    import spark.implicits._
    Seq(
      ("Fred", Some(100.0), 1L, Some(ts("2015-01-01T12:10:30Z")), Some("192.168.0.1"), Seq("nice")),
      ("Manfred", Some(120.0), 13L, Some(ts("2015-01-11T12:10:30Z")), Some("192.168.0.11"), Seq("nice")),
      ("Horst", None, 2L, Some(ts("2015-01-01T11:11:30Z")), Some("192.168.0.10"), Seq("nice", "cool")),
      ("Fritz", Some(30.0), 5L, None, Some("192.168.0.1"), Seq("nice", "cool")),
      ("Werner", Some(20.0), 0L, Some(ts("2015-01-02T00:00:00Z")), Some("192.168.0.10"), Seq.empty[String]),
      ("Holger", Some(30.0), 4L, Some(ts("2015-02-06T00:00:00Z")), Some("192.168.0.10"), Seq.empty[String]),
      ("Bernhard", Some(130.0), 14L, Some(ts("2015-02-16T00:00:00Z")), Some("192.168.0.15"), Seq.empty[String]),
      ("Fritz", Some(30.0), 5L, None, Option.empty[String], Seq.empty[String])
    ).toDF("name", "response", "id", "date", "host", "tags")
  }

  private val resolver = FieldResolver(Set.empty, Seq("name"))

  private def check(request: String, expectedAggs: String): Unit = {
    val got = Json.parse(EsAggs.search(docs, resolver, request))
    val want = Json.parse(s"""{"aggregations":$expectedAggs}""")
    assert(got === want)
  }

  test("golden 1: date_histogram (30d fixed_interval, -4d offset)") {
    check(
      """{"query":{"match_all":{}},"aggs":{"date_histo":{"date_histogram":
        |{"field":"date","fixed_interval":"30d","offset":"-4d"}}}}""".stripMargin,
      """{"date_histo":{"buckets":[
        |{"doc_count":4,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z"},
        |{"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z"}]}}""".stripMargin)
  }

  test("golden 2: date_histogram + stats sub-aggregation") {
    check(
      """{"query":{"match_all":{}},"aggs":{"date_histo":{"date_histogram":
        |{"field":"date","fixed_interval":"30d","offset":"-4d"},
        |"aggs":{"response":{"stats":{"field":"response"}}}}}}""".stripMargin,
      """{"date_histo":{"buckets":[
        |{"doc_count":4,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z",
        | "response":{"avg":80.0,"count":3,"max":120.0,"min":20.0,"sum":240.0}},
        |{"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z",
        | "response":{"avg":80.0,"count":2,"max":130.0,"min":30.0,"sum":160.0}}]}}""".stripMargin)
  }

  test("golden 3: bool/exists query + date_histogram + stats sub") {
    check(
      """{"query":{"bool":{"must":[{"exists":{"field":"response"}}]}},
        |"aggs":{"date_histo":{"date_histogram":
        |{"field":"date","fixed_interval":"30d","offset":"-4d"},
        |"aggs":{"response":{"stats":{"field":"response"}}}}}}""".stripMargin,
      """{"date_histo":{"buckets":[
        |{"doc_count":3,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z",
        | "response":{"avg":80.0,"count":3,"max":120.0,"min":20.0,"sum":240.0}},
        |{"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z",
        | "response":{"avg":80.0,"count":2,"max":130.0,"min":30.0,"sum":160.0}}]}}""".stripMargin)
  }

  test("golden 4: range aggregation with named, declared-but-empty buckets") {
    check(
      """{"query":{"match_all":{}},"aggs":{"my_range":{"range":{"field":"response",
        |"ranges":[{"to":50,"key":"fast"},{"from":50,"to":80,"key":"medium"},{"from":80,"key":"slow"}]}}}}""".stripMargin,
      """{"my_range":{"buckets":[
        |{"doc_count":4,"key":"fast","to":50.0},
        |{"doc_count":0,"from":50.0,"key":"medium","to":80.0},
        |{"doc_count":3,"from":80.0,"key":"slow"}]}}""".stripMargin)
    // [from, to): a value equal to a bound lands in the range it opens
    // (responses 20, 30×3, 100, 120, 130; the null one in none)
    check(
      """{"aggs":{"r":{"range":{"field":"response",
        |"ranges":[{"to":30},{"from":30,"to":100},{"from":100}]}}}}""".stripMargin,
      """{"r":{"buckets":[
        |{"doc_count":1,"key":"*-30.0","to":30.0},
        |{"doc_count":3,"from":30.0,"key":"30.0-100.0","to":100.0},
        |{"doc_count":3,"from":100.0,"key":"100.0-*"}]}}""".stripMargin)
  }

  test("range under terms: a parent with no doc in any range still renders the sub-aggs") {
    // host .15 holds only response 130, outside both ranges; its declared
    // ranges must carry the avg sub-agg like the other hosts' empty ranges
    val got = Json.parse(EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host"},
        |"aggs":{"r":{"range":{"field":"response","ranges":[{"to":50},{"from":50,"to":125}]},
        |"aggs":{"a":{"avg":{"field":"response"}}}}}}}}""".stripMargin))
    val hosts = got.asInstanceOf[Map[String, Any]]("aggregations")
      .asInstanceOf[Map[String, Any]]("hosts").asInstanceOf[Map[String, Any]]("buckets")
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    val ranges = hosts.map(h => h("key") -> h("r").asInstanceOf[Map[String, Any]]("buckets")).toMap
    assert(ranges("192.168.0.15") === Json.parse(
      """[{"doc_count":0,"key":"*-50.0","to":50.0,"a":{"value":null}},
        | {"doc_count":0,"from":50.0,"key":"50.0-125.0","to":125.0,"a":{"value":null}}]""".stripMargin))
    // host .11 (response 120): its empty first range renders the same way
    assert(ranges("192.168.0.11") === Json.parse(
      """[{"doc_count":0,"key":"*-50.0","to":50.0,"a":{"value":null}},
        | {"doc_count":1,"from":50.0,"key":"50.0-125.0","to":125.0,"a":{"value":120.0}}]""".stripMargin))
  }

  test("golden 5: terms aggs — scalar host and multi-valued tags, reference tie order") {
    // NOTE the reference's count-tie order is key DESC (192.168.0.15 before
    // 192.168.0.11), not ES-proper's key asc — pinned here deliberately.
    check(
      """{"query":{"match_all":{}},"aggs":{
        |"hosts":{"terms":{"field":"host"}},
        |"tags":{"terms":{"field":"tags"}}}}""".stripMargin,
      """{"hosts":{"buckets":[
        |{"doc_count":3,"key":"192.168.0.10"},{"doc_count":2,"key":"192.168.0.1"},
        |{"doc_count":1,"key":"192.168.0.15"},{"doc_count":1,"key":"192.168.0.11"}],
        |"doc_count_error_upper_bound":0,"sum_other_doc_count":0},
        |"tags":{"buckets":[{"doc_count":4,"key":"nice"},{"doc_count":2,"key":"cool"}],
        |"doc_count_error_upper_bound":0,"sum_other_doc_count":0}}""".stripMargin)
  }

  test("golden 6: date_histogram + percentiles sub — DDSketch values bit-exact") {
    check(
      """{"query":{"match_all":{}},"aggs":{"metrics":{"date_histogram":
        |{"field":"date","fixed_interval":"30d","offset":"-4d"},
        |"aggs":{"response":{"percentiles":{"field":"response","percents":[85],"keyed":false}}}}}}""".stripMargin,
      """{"metrics":{"buckets":[
        |{"doc_count":4,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z",
        | "response":{"values":[{"key":85.0,"value":100.49456770856702}]}},
        |{"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z",
        | "response":{"values":[{"key":85.0,"value":30.26717133872237}]}}]}}""".stripMargin)
  }

  test("golden 7: histogram with interior empty bucket gap-filled") {
    check(
      """{"query":{"match_all":{}},"aggs":{"metrics":{"histogram":{"field":"response","interval":50}}}}""",
      """{"metrics":{"buckets":[
        |{"doc_count":4,"key":0.0},{"doc_count":0,"key":50.0},{"doc_count":3,"key":100.0}]}}""".stripMargin)
  }

  test("keyed histogram: buckets render as a hashmap keyed by bucket key") {
    // aggregation.md "keyed" — same buckets (gap-fill included), hashmap
    // form; bucket bodies identical to the array form
    check(
      """{"query":{"match_all":{}},"aggs":{"metrics":{"histogram":
        |{"field":"response","interval":50,"keyed":true}}}}""".stripMargin,
      """{"metrics":{"buckets":{
        |"0.0":{"doc_count":4,"key":0.0},
        |"50.0":{"doc_count":0,"key":50.0},
        |"100.0":{"doc_count":3,"key":100.0}}}}""".stripMargin)
  }

  test("keyed date_histogram: hashmap keys are the key_as_string") {
    check(
      """{"query":{"match_all":{}},"aggs":{"date_histo":{"date_histogram":
        |{"field":"date","fixed_interval":"30d","offset":"-4d","keyed":true}}}}""".stripMargin,
      """{"date_histo":{"buckets":{
        |"2015-01-01T00:00:00Z":
        |  {"doc_count":4,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z"},
        |"2015-01-31T00:00:00Z":
        |  {"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z"}}}}""".stripMargin)
  }

  test("histogram: offset + extended_bounds snap on the SAME offset grid as data keys") {
    // data keys (interval 50, offset 5): 30/20→5, 100→55, 120/130→105;
    // extended_bounds snap WITH the offset: 0→-45, 200→155. Snapping without
    // the offset iterated 0,50,100,… — misaligned with byKey, so every real
    // bucket was replaced by a zero-count gap bucket (ADVICE r3 #1).
    check(
      """{"query":{"match_all":{}},"aggs":{"metrics":{"histogram":
        |{"field":"response","interval":50,"offset":5,
        | "extended_bounds":{"min":0,"max":200}}}}}""".stripMargin,
      """{"metrics":{"buckets":[
        |{"doc_count":0,"key":-45.0},{"doc_count":4,"key":5.0},
        |{"doc_count":1,"key":55.0},{"doc_count":2,"key":105.0},
        |{"doc_count":0,"key":155.0}]}}""".stripMargin)
  }

  test("histogram: fractional interval gap-fill keeps populated buckets (integral index iteration)") {
    // interval 1.1 over responses {20, 30, 30, 30}: data buckets at indexes
    // 18 (19.8…) and 27 (29.7…). Accumulating doubles (lo + n*interval)
    // drifts off the floor-computed keys, and the exact-equality lookup
    // then replaced BOTH populated buckets with zero-count gaps.
    val got = Json.parse(EsAggs.search(docs, resolver,
      """{"query":{"range":{"response":{"lt":35}}},
        |"aggs":{"h":{"histogram":{"field":"response","interval":1.1}}}}""".stripMargin))
    val buckets = got.asInstanceOf[Map[String, Any]]("aggregations")
      .asInstanceOf[Map[String, Any]]("h")
      .asInstanceOf[Map[String, Any]]("buckets").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
    assert(buckets.size === 10) // indexes 18..27 inclusive
    assert(buckets.map(_("doc_count").asInstanceOf[Double].toLong).sum === 4L)
    assert(buckets.count(_("doc_count") !== 0.0) === 2)
  }

  test("histogram: extended_bounds narrower than the data range change nothing") {
    // extended_bounds "can only be used to extend the value range"
    // (aggregation.md:266-289): data keys 0..100 already cover [50, 50]
    def body(extra: String) = EsAggs.search(docs, resolver,
      s"""{"aggs":{"m":{"histogram":{"field":"response","interval":50$extra}}}}""")
    assert(Json.parse(body(""","extended_bounds":{"min":50,"max":50}""")) === Json.parse(body("")))
  }

  test("histogram: min_doc_count > 0 turns gap-filling off") {
    // golden 7's interior empty bucket (key 50) is not rendered
    check(
      """{"aggs":{"metrics":{"histogram":{"field":"response","interval":50,"min_doc_count":1}}}}""",
      """{"metrics":{"buckets":[{"doc_count":4,"key":0.0},{"doc_count":3,"key":100.0}]}}""")
    // with an offset, keys are floor((v - offset) / interval) * interval +
    // offset; min_doc_count 2 drops the 1-doc bucket at 55
    check(
      """{"aggs":{"metrics":{"histogram":{"field":"response","interval":50,"offset":5,
        |"min_doc_count":2}}}}""".stripMargin,
      """{"metrics":{"buckets":[{"doc_count":4,"key":5.0},{"doc_count":2,"key":105.0}]}}""")
    // hard_bounds clip VALUES to the closed [20, 100] before bucketing:
    // 100 stays, 120 and 130 go
    check(
      """{"aggs":{"metrics":{"histogram":{"field":"response","interval":50,"min_doc_count":1,
        |"hard_bounds":{"min":20,"max":100}}}}}""".stripMargin,
      """{"metrics":{"buckets":[{"doc_count":4,"key":0.0},{"doc_count":1,"key":100.0}]}}""")
  }

  test("histogram: extended_bounds with min_doc_count > 0 is rejected before any job runs") {
    // extended_bounds only adds empty buckets, which min_doc_count > 0 drops
    // again; the reference forbids the pair
    val agg = """{"h":{"histogram":{"field":"response","interval":50,"min_doc_count":1,
                |"extended_bounds":{"min":0,"max":200}}}}""".stripMargin
    val msg = "extended_bounds cannot be set in conjunction with min_doc_count > 0"
    assert(intercept[IllegalArgumentException](EsAggs.parse(agg)).getMessage.contains(msg))
    var failure: Option[Throwable] = None
    val (jobs, _) = planShape("histogram-bounds-rejected") {
      failure = scala.util.Try(EsApi.search(docs, resolver,
        org.apache.spark.sql.functions.col("id"), s"""{"size":1,"aggs":$agg}""")).failed.toOption
    }
    assert(failure.exists(e => e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains(msg)),
      s"_search accepted the pair: $failure")
    assert(jobs === 0)
  }

  test("unknown aggregation variant reproduces the reference error (root.rs:3513-3517)") {
    val e = intercept[IllegalArgumentException] {
      EsAggs.parse("""{"x":{"termss":{"field":"host"}}}""")
    }
    assert(e.getMessage.contains("unknown variant `termss`, expected one of `range`, " +
      "`histogram`, `date_histogram`, `terms`, `avg`, `value_count`, `max`, `min`, " +
      "`stats`, `sum`, `percentiles`"))
  }

  test("nested buckets: terms under date_histogram, metrics at the leaf") {
    // hand-computed on the corpus: bucket 2015-01-01 holds hosts
    // .1(Fred), .11(Manfred), .10(Horst), .10(Werner); 2015-01-31 holds
    // .10(Holger), .15(Bernhard)
    val got = Json.parse(EsAggs.search(docs, resolver,
      """{"aggs":{"dh":{"date_histogram":{"field":"date","fixed_interval":"30d","offset":"-4d"},
        |"aggs":{"hosts":{"terms":{"field":"host"},
        |"aggs":{"r":{"avg":{"field":"response"}}}}}}}}""".stripMargin))
    val want = Json.parse(
      """{"aggregations":{"dh":{"buckets":[
        |{"doc_count":4,"key":1420070400000.0,"key_as_string":"2015-01-01T00:00:00Z",
        | "hosts":{"buckets":[
        |   {"doc_count":2,"key":"192.168.0.10","r":{"value":20.0}},
        |   {"doc_count":1,"key":"192.168.0.11","r":{"value":120.0}},
        |   {"doc_count":1,"key":"192.168.0.1","r":{"value":100.0}}],
        |  "doc_count_error_upper_bound":0,"sum_other_doc_count":0}},
        |{"doc_count":2,"key":1422662400000.0,"key_as_string":"2015-01-31T00:00:00Z",
        | "hosts":{"buckets":[
        |   {"doc_count":1,"key":"192.168.0.15","r":{"value":130.0}},
        |   {"doc_count":1,"key":"192.168.0.10","r":{"value":30.0}}],
        |  "doc_count_error_upper_bound":0,"sum_other_doc_count":0}}]}}}""".stripMargin)
    assert(got === want)
  }

  test("terms size truncation fills sum_other_doc_count; min_doc_count drops into it") {
    val got = Json.parse(EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host","size":1}}}}"""))
    val want = Json.parse(
      """{"aggregations":{"hosts":{"buckets":[{"doc_count":3,"key":"192.168.0.10"}],
        |"doc_count_error_upper_bound":0,"sum_other_doc_count":4}}}""".stripMargin)
    assert(got === want)

    val got2 = Json.parse(EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host","min_doc_count":2}}}}"""))
    val want2 = Json.parse(
      """{"aggregations":{"hosts":{"buckets":[
        |{"doc_count":3,"key":"192.168.0.10"},{"doc_count":2,"key":"192.168.0.1"}],
        |"doc_count_error_upper_bound":0,"sum_other_doc_count":2}}}""".stripMargin)
    assert(got2 === want2)

    // _count asc orders the (count, key) tuple ascending: ties key asc
    check("""{"aggs":{"hosts":{"terms":{"field":"host","size":2,"order":{"_count":"asc"}}}}}""",
      """{"hosts":{"buckets":[
        |{"doc_count":1,"key":"192.168.0.11"},{"doc_count":1,"key":"192.168.0.15"}],
        |"doc_count_error_upper_bound":0,"sum_other_doc_count":5}}""".stripMargin)
    assert(intercept[IllegalArgumentException](EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host","order":{"avg_price":"asc"}}}}}"""))
      .getMessage.contains("unknown terms order target `avg_price`"))
  }

  test("top-level metrics: avg/sum/min/max/value_count/stats/percentiles") {
    // responses: 100,120,30,20,30,130,30 (7 non-null of 8)
    val got = Json.parse(EsAggs.search(docs, resolver,
      """{"aggs":{
        |"a":{"avg":{"field":"response"}},"s":{"sum":{"field":"response"}},
        |"mn":{"min":{"field":"response"}},"mx":{"max":{"field":"response"}},
        |"vc":{"value_count":{"field":"response"}},"st":{"stats":{"field":"response"}},
        |"p":{"percentiles":{"field":"response","percents":[50]}}}}""".stripMargin))
    val sum = 460.0
    val p50 = DdSketch.binValue(1, math.ceil(math.log(30.0) / DdSketch.GammaLn).toInt)
    val want = Json.parse(
      s"""{"aggregations":{
         |"a":{"value":${sum / 7}},"s":{"value":460.0},
         |"mn":{"value":20.0},"mx":{"value":130.0},
         |"vc":{"value":7},
         |"st":{"avg":${sum / 7},"count":7,"max":130.0,"min":20.0,"sum":460.0},
         |"p":{"values":{"50.0":$p50}}}}""".stripMargin)
    assert(got === want)
    // stats over a query's docs: host .10 holds responses 20, 30 and a null
    check("""{"query":{"term":{"host":"192.168.0.10"}},"aggs":{"st":{"stats":{"field":"response"}}}}""",
      """{"st":{"avg":25.0,"count":2,"max":30.0,"min":20.0,"sum":50.0}}""")
  }

  test("bucket limit guards the agg tree cumulatively (AggregationLimits analog)") {
    // docs fixture has >1 host bucket; a limit of 1 must abort with the
    // reference's error text; the default (65000) sails through
    val e = intercept[IllegalArgumentException] {
      EsAggs.run(docs, EsAggs.parseAggs(graft.util.Json.parse(
        """{"hosts": {"terms": {"field": "host"}}}""").asInstanceOf[Map[String, Any]]),
        new EsAggs.BucketCounter(1))
    }
    assert(e.getMessage.contains("Aborting aggregation because bucket limit was reached"))
    assert(EsAggs.search(docs, resolver,
      """{"aggs": {"hosts": {"terms": {"field": "host"}}}}""").nonEmpty)
  }

  test("terms: show_term_doc_count_error renders per-bucket bound; split_size accepted") {
    // exact engine ⇒ 0 is the truthful per-bucket upper bound
    // (aggregation.md:509-513; split_size is a leaf-truncation accuracy
    // knob with no effect on an exact computation)
    val got = EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host","size":2,
        |"split_size":5,"show_term_doc_count_error":true}}}}""".stripMargin)
    assert(got.contains(""""doc_count_error_upper_bound":0,"doc_count":"""))
    // absent flag: buckets carry no per-bucket bound (agg-level one remains)
    val plain = EsAggs.search(docs, resolver,
      """{"aggs":{"hosts":{"terms":{"field":"host","size":2}}}}""")
    assert(!plain.replaceAll("""\],"doc_count_error_upper_bound".*""", "")
      .contains("doc_count_error_upper_bound"))
  }

  // ------------------------------------------- terms riding the page query

  private val ridingResolver = FieldResolver(Set("text"), Seq("text"))

  /** 300 docs over 4 Parquet files (a frame whose row count the plan does
    * not bound, so a top-level `terms` rides the page query). Keys: `s`
    * strings, `l` longs, `d` doubles (with a -0.0), `b` booleans, each with
    * nulls and count ties; `tags` arrays with null elements. */
  private lazy val ridingTable: DataFrame = {
    val dir = tmpDir("riding-terms")
    spark.range(0, 300).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("doc alpha")).otherwise(lit("doc beta")).as("text"),
      when(col("id") % 11 =!= 0, concat(lit("k"), (col("id") % 7).cast("string"))).as("s"),
      when(col("id") % 13 =!= 0, col("id") % 5 - 2).as("l"),
      when(col("id") % 17 === 0, lit(null).cast("double"))
        .when(col("id") % 29 === 0, lit(-0.0)).otherwise((col("id") % 6) * 0.5 - 1.0).as("d"),
      when(col("id") % 5 =!= 0, col("id") % 3 === 0).as("b"),
      array(concat(lit("t"), (col("id") % 3).cast("string")),
        when(col("id") % 4 =!= 0, lit("t9"))).as("tags"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("ts"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The `"aggregations"` object of a `_search` response, as
    * [[EsAggs.response]] renders it. */
  private def aggsOf(searchJson: String): String = {
    val i = searchJson.indexOf(""","aggregations":""")
    assert(i > 0, searchJson)
    "{" + searchJson.substring(i + 1, searchJson.length - 1) + "}"
  }

  /** `_search` renders `body`'s aggregations byte for byte as the cells
    * queries of [[EsAggs.run]] do, in `plans` executed queries. */
  private def ridingMatchesCells(df: DataFrame, body: String, plans: Int = 1): Unit = {
    var got = ""
    val ran = executedPlans {
      got = EsApi.search(df, ridingResolver, col("doc_id"), body)
    }
    assert(aggsOf(got) === EsAggs.search(df, ridingResolver, body), body)
    assert(ran.size === plans, body)
  }

  private val ridingQuery = """{"range":{"doc_id":{"gte":10}}}"""
  private def ridingBody(aggs: String, extra: String = ""): String =
    s"""{"query":$ridingQuery,"sort":[{"ts":"desc"}],"size":5,$extra"aggs":$aggs}"""

  test("riding terms buckets equal the cells query's: key types, nulls, ties, order, size") {
    for (f <- Seq("s", "l", "d", "b", "tags")) {
      ridingMatchesCells(ridingTable, ridingBody(s"""{"k":{"terms":{"field":"$f"}}}"""))
      ridingMatchesCells(ridingTable, ridingBody(s"""{"k":{"terms":{"field":"$f","size":2}}}"""))
      for (order <- Seq("""{"_key":"asc"}""", """{"_key":"desc"}""", """{"_count":"asc"}"""))
        ridingMatchesCells(ridingTable,
          ridingBody(s"""{"k":{"terms":{"field":"$f","size":3,"order":$order}}}"""))
      ridingMatchesCells(ridingTable,
        ridingBody(s"""{"k":{"terms":{"field":"$f","size":100,"min_doc_count":2}}}"""))
    }
    // min_doc_count above some counts, and show_term_doc_count_error
    ridingMatchesCells(ridingTable, ridingBody(
      """{"k":{"terms":{"field":"l","min_doc_count":59,"show_term_doc_count_error":true}}}"""))
    // a query that matches nothing
    ridingMatchesCells(ridingTable,
      """{"query":{"match":{"text":"nowhere"}},"sort":[{"ts":"desc"}],"size":5,""" +
        """"aggs":{"k":{"terms":{"field":"s"}}}}""")
    // an empty input, whose Observation Spark may complete without metrics
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ridingTable.schema)
    val body = ridingBody("""{"k":{"terms":{"field":"s"}}}""")
    assert(aggsOf(EsApi.search(empty, ridingResolver, col("doc_id"), body)) ===
      EsAggs.search(empty, ridingResolver, body))
  }

  test("riding terms buckets ignore from and search_after; request order kept beside a histogram") {
    val aggs = """{"k":{"terms":{"field":"s","size":3}}}"""
    ridingMatchesCells(ridingTable, ridingBody(aggs, """"from":7,"""))
    val cursor = (1704067200L + 150 * 60) * 1000 // epoch millis of doc 150
    ridingMatchesCells(ridingTable, ridingBody(aggs, s""""search_after":[$cursor],"""))
    // BM25 order (no sort), once the per-file corpus counts are memoized
    val bm25 = s"""{"query":{"match":{"text":"alpha"}},"size":5,"aggs":$aggs}"""
    EsApi.search(ridingTable, ridingResolver, col("doc_id"), bm25)
    ridingMatchesCells(ridingTable, bm25)
    // two riding terms around a histogram that runs beside the hits
    val three = """{"first":{"terms":{"field":"l","order":{"_key":"asc"}}},""" +
      """"hist":{"histogram":{"field":"doc_id","interval":100}},""" +
      """"last":{"terms":{"field":"b"}}}"""
    val body = ridingBody(three)
    ridingMatchesCells(ridingTable, body, plans = 2)
    val names = Json.parse(aggsOf(EsApi.search(ridingTable, ridingResolver, col("doc_id"), body)))
      .asInstanceOf[Map[String, Any]]("aggregations").asInstanceOf[Map[String, Any]].keys.toSeq
    assert(names === Seq("first", "hist", "last"))
  }

  test("riding terms at the bucket limit: 65,000 keys ride, 65,001 overflow into the cells query") {
    val dir = tmpDir("riding-limit")
    val n = EsAggs.DefaultBucketLimit
    spark.range(0, n + 1L).select(col("id").as("doc_id"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val wide = spark.read.parquet(dir)
    def body(query: String, size: Int) =
      s"""{"query":$query,"sort":[{"ts":"desc"}],"size":3,""" +
        s""""aggs":{"k":{"terms":{"field":"doc_id","size":$size}}}}"""
    val all = """{"match_all":{}}"""
    val firstN = s"""{"range":{"doc_id":{"lt":$n}}}"""
    // exactly the limit: every key is a bucket, counted inside the page
    ridingMatchesCells(wide, body(firstN, n))
    ridingMatchesCells(wide, body(firstN, 10))
    // one key more: the cells overflow and the node runs its cells query
    ridingMatchesCells(wide, body(all, 10), plans = 2)
    ridingMatchesCells(wide, body(all, n), plans = 2)
    val limitMsg = s"Aborting aggregation because bucket limit was reached (limit: $n)"
    val viaSearch = intercept[IllegalArgumentException](
      EsApi.search(wide, ridingResolver, col("doc_id"), body(all, n + 1)))
    val viaCells = intercept[IllegalArgumentException](
      EsAggs.search(wide, ridingResolver, body(all, n + 1)))
    assert(viaSearch.getMessage === limitMsg)
    assert(viaCells.getMessage === limitMsg)
  }
}
