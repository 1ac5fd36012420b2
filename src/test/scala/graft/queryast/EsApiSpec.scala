package graft.queryast

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** ES serve-layer shells: response shapes, `search_after` cursors and
  * `_msearch` pairs (elasticsearch_api/mod.rs:53-72 route behaviors). */
class EsApiSpec extends SparkTestBase {

  private val resolver = FieldResolver(textFields = Set("text"), defaultFields = Seq("text"))

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "spark joins fast", "en"),
      (2L, "vector search", "en"),
      (3L, "nichts hier", "de")
    ).toDF("doc_id", "text", "lang")
  }

  test("_count: DSL query filter; match_all when absent") {
    assert(EsApi.countQuery(docs, resolver, Some("""{"term": {"lang": "en"}}""")) === 2L)
    assert(EsApi.countQuery(docs, resolver, None) === 3L)
    assert(EsApi.countResponse(2L) ===
      """{"count":2,"_shards":{"total":1,"successful":1,"skipped":0,"failed":0}}""")
  }

  /** (total, hit ids) of each response of an NDJSON `_msearch` over one
    * index "docs", one pair per query, each sorted by doc_id. */
  private def msearchIds(df: org.apache.spark.sql.DataFrame, size: Int,
                         queries: String*): Seq[(Long, Seq[Long])] = {
    val payload = queries.flatMap(q => Seq("""{"index": "docs"}""",
      s"""{"query": $q, "sort": ["doc_id"], "size": $size}""")).mkString("\n")
    val got = graft.util.Json.parse(EsApi.msearchNdjson(Seq("docs" -> df), resolver,
      col("doc_id"), payload)).asInstanceOf[Map[String, Any]]
    got("responses").asInstanceOf[Seq[Any]].map { r =>
      val hits = r.asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]
      (hits("total").asInstanceOf[Map[String, Any]]("value").asInstanceOf[Double].toLong,
        hits("hits").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]]("_id").asInstanceOf[Double].toLong))
    }
  }

  test("_msearch: every sub-search answered, zero-hit ones as (0, empty)") {
    assert(msearchIds(docs, 10,
        """{"match": {"text": "spark"}}""",
        """{"match": {"text": "nothing_matches_this"}}""",
        """{"term": {"lang": "en"}}""") ===
      Seq((1L, Seq(1L)), (0L, Nil), (2L, Seq(1L, 2L))))
  }

  test("_msearch: top_doc_ids capped at size") {
    import spark.implicits._
    val big = (1L to 25L).map(i => (i, "common token", "en")).toDF("doc_id", "text", "lang")
    val topDocIds = msearchIds(big, 3, """{"match": {"text": "common"}}""")
    assert(topDocIds === Seq((25L, Seq(1L, 2L, 3L))))
  }

  test("_field_caps: text fields searchable-only, scalars aggregatable") {
    val caps = EsApi.fieldCaps(docs, resolver).toMap2
    assert(caps("text") === (("text", true, false)))
    assert(caps("lang") === (("keyword", true, true)))
    assert(caps("doc_id") === (("long", true, true)))
    // the single-index response goes through the SAME canonical renderer
    // as the multi-index route — Str dual entries, one wire shape
    val resp = graft.util.Json.parse(EsApi.fieldCapsResponse("documents", docs, resolver))
      .asInstanceOf[Map[String, Any]]
    assert(resp("indices") === Seq("documents"))
    val text = resp("fields").asInstanceOf[Map[String, Any]]("text")
      .asInstanceOf[Map[String, Any]]
    assert(text.keySet === Set("keyword", "text"))
    assert(text("text").asInstanceOf[Map[String, Any]]("aggregatable") === false)
  }

  private implicit class CapsOps(caps: Seq[(String, String, Boolean, Boolean)]) {
    def toMap2: Map[String, (String, Boolean, Boolean)] =
      caps.map { case (f, t, s, a) => f -> ((t, s, a)) }.toMap
  }

  test("_cat/indices: per-index doc count and stored bytes") {
    import spark.implicits._
    val other = Seq((1L, "xy")).toDF("id", "event_type")
    val rows = EsApi.catIndices(Seq(
        ("documents", docs, col("text")), ("other", other, col("event_type"))))
      .orderBy("index")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(("documents", 3L, 40L), ("other", 1L, 2L)))
  }

  test("_search: full envelope — total, sorted paged hits, _source, sort values") {
    import graft.util.Json
    // 0008-sort_by.yaml shape: size 1, match_all, sort desc
    val got = Json.parse(EsApi.search(docs, resolver, col("doc_id"),
      """{"size": 1, "query": {"match_all": {}}, "sort": [{"doc_id": {"order": "desc"}}]}"""))
      .asInstanceOf[Map[String, Any]]
    val hits = got("hits").asInstanceOf[Map[String, Any]]
    assert(hits("total") === Map("value" -> 3.0, "relation" -> "eq"))
    val hit = hits("hits").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[String, Any]]
    assert(hit("_id") === 3.0 && hit("sort") === Seq(3.0))
    assert(hit("_source").asInstanceOf[Map[String, Any]]("text") === "nichts hier")

    // from/size paging over an asc sort (bare-string sort form, default asc)
    val page = Json.parse(EsApi.search(docs, resolver, col("doc_id"),
      """{"size": 1, "from": 1, "sort": ["doc_id"]}""")).asInstanceOf[Map[String, Any]]
    val pageHit = page("hits").asInstanceOf[Map[String, Any]]("hits")
      .asInstanceOf[Seq[Any]].head.asInstanceOf[Map[String, Any]]
    assert(pageHit("_id") === 2.0)

    // query filter + aggregations spliced into the same envelope; size 0
    val withAggs = Json.parse(EsApi.search(docs, resolver, col("doc_id"),
      """{"size": 0, "query": {"term": {"lang": "en"}},
        | "aggs": {"langs": {"terms": {"field": "lang"}}}}""".stripMargin))
      .asInstanceOf[Map[String, Any]]
    assert(withAggs("hits").asInstanceOf[Map[String, Any]]("total") ===
      Map("value" -> 2.0, "relation" -> "eq"))
    assert(withAggs("hits").asInstanceOf[Map[String, Any]]("hits") === Seq())
    val buckets = withAggs("aggregations").asInstanceOf[Map[String, Any]]("langs")
      .asInstanceOf[Map[String, Any]]("buckets").asInstanceOf[Seq[Any]]
    assert(buckets === Seq(Map("doc_count" -> 2.0, "key" -> "en")))
  }

  test("_search: search_after resumes strictly after the cursor, total unchanged") {
    import graft.util.Json
    def hitsOf(body: String): (Double, Seq[Double]) = {
      val g = Json.parse(EsApi.search(docs, resolver, col("doc_id"), body))
        .asInstanceOf[Map[String, Any]]
      val h = g("hits").asInstanceOf[Map[String, Any]]
      (h("total").asInstanceOf[Map[String, Any]]("value").asInstanceOf[Double],
        h("hits").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]]("_id").asInstanceOf[Double]))
    }
    // desc cursor: after doc 3 comes doc 2; total stays 3 (cursor-independent)
    val (t1, ids1) = hitsOf(
      """{"size": 1, "sort": [{"doc_id": "desc"}], "search_after": [3]}""")
    assert(t1 === 3.0 && ids1 === Seq(2.0))
    // asc cursor
    val (_, ids2) = hitsOf(
      """{"size": 2, "sort": ["doc_id"], "search_after": [1]}""")
    assert(ids2 === Seq(2.0, 3.0))
    // a tie on the first criterion resumes strictly after the second:
    // lang asc orders (de, 3), (en, 1), (en, 2)
    val (_, ids3) = hitsOf(
      """{"size": 2, "sort": ["lang", "doc_id"], "search_after": ["en", 1]}""")
    assert(ids3 === Seq(2.0))
    // length mismatch rejected
    intercept[IllegalArgumentException] {
      EsApi.search(docs, resolver, col("doc_id"),
        """{"sort": ["doc_id"], "search_after": [1, 2]}""")
    }
  }

  test("_search multi-index: glob resolution, per-hit _index, one unioned plan") {
    import spark.implicits._
    import graft.util.Json
    val idx1 = Seq((1L, "alpha doc", "en")).toDF("doc_id", "text", "lang")
    val idx2 = Seq((2L, "beta doc", "en")).toDF("doc_id", "text", "lang")
    val other = Seq((9L, "off-pattern", "en")).toDF("doc_id", "text", "lang")
    val indexes = Seq("gharchive-1" -> idx1, "gharchive-2" -> idx2, "other" -> other)
    // glob pattern (multi-indices/0001 shape)
    val got = Json.parse(EsApi.searchMulti(indexes, resolver, col("doc_id"),
      "gharchive-*", """{"sort": ["doc_id"]}""")).asInstanceOf[Map[String, Any]]
    val hits = got("hits").asInstanceOf[Map[String, Any]]
    assert(hits("total") === Map("value" -> 2.0, "relation" -> "eq"))
    val hs = hits("hits").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    assert(hs.map(h => (h("_id"), h("_index"))) ===
      Seq((1.0, "gharchive-1"), (2.0, "gharchive-2")))
    // _index is hit metadata, not _source
    assert(!hs.head("_source").asInstanceOf[Map[String, Any]].contains("_index"))
    // comma-separated exact ids (multi-indices/0001 third case)
    val two = Json.parse(EsApi.searchMulti(indexes, resolver, col("doc_id"),
      "gharchive-1,gharchive-2", "{}")).asInstanceOf[Map[String, Any]]
    assert(two("hits").asInstanceOf[Map[String, Any]]("total") ===
      Map("value" -> 2.0, "relation" -> "eq"))
    // an all-WILDCARD selection matching nothing is NOT an error
    // (root.rs:941-943): empty hits, zero total, NO aggregations key even
    // when the body asks for aggs (multi-indices/0003 second case)
    val none = Json.parse(EsApi.searchMulti(indexes, resolver, col("doc_id"),
      "nope-*", """{"aggs": {"logins": {"terms": {"field": "lang"}}}}"""))
      .asInstanceOf[Map[String, Any]]
    assert(none("hits").asInstanceOf[Map[String, Any]]("total") ===
      Map("value" -> 0.0, "relation" -> "eq"))
    assert(none("hits").asInstanceOf[Map[String, Any]]("hits") === Seq())
    assert(!none.contains("aggregations"))
    // an EXPLICIT id that doesn't resolve is the reference's 404
    // (check_all_index_metadata_found, root.rs:947-977) — even when a
    // sibling wildcard matched (multi-indices/0002 404 arm)
    val e = intercept[IllegalArgumentException] {
      EsApi.searchMulti(indexes, resolver, col("doc_id"),
        "gharchive-*,non-existing-index", "{}")
    }
    assert(e.getMessage ===
      """could not find indexes matching the IDs ["non-existing-index"]""")
  }

  test("_bulk ?refresh: the backward-compat quirk table maps to commit types") {
    import EsApi._
    assert(parseRefresh(None) === CommitAuto)            // absent
    assert(parseRefresh(Some("")) === CommitForce)       // bare ?refresh
    assert(parseRefresh(Some("true")) === CommitForce)
    assert(parseRefresh(Some("false")) === CommitAuto)
    assert(parseRefresh(Some("wait_for")) === CommitWaitFor)
    assert(intercept[IllegalArgumentException] {
      parseRefresh(Some("nope"))
    }.getMessage === "unknown variant `nope`, expected one of `false`, `true`, `wait_for`")
  }

  test("_search: more than two sort criteria rejected with the reference error") {
    import spark.implicits._
    val docs = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      EsApi.search(docs, resolver, col("doc_id"),
        """{"sort": ["doc_id", "lang", "text"]}""")
    }
    assert(e.getMessage.contains("sort by field must be up to 2 fields, got 3"))
    // exactly two stays fine
    EsApi.search(docs, resolver, col("doc_id"), """{"sort": ["doc_id", "lang"]}""")
  }

  test("_msearch NDJSON: header/body pairs, per-response errors, request order kept") {
    import spark.implicits._
    import graft.util.Json
    val idx1 = Seq((1L, "alpha doc", "en")).toDF("doc_id", "text", "lang")
    val idx2 = Seq((2L, "beta doc", "en")).toDF("doc_id", "text", "lang")
    val indexes = Seq("gharchive-1" -> idx1, "gharchive-2" -> idx2)
    val payload =
      """{"index": "gharchive-1"}
        |{"query": {"match_all": {}}, "size": 0}
        |
        |{"index": ["gharchive-1", "gharchive-2"]}
        |{"query": {"match_all": {}}, "size": 0}
        |{"index": "missing-one"}
        |{"query": {"match_all": {}}, "size": 0}""".stripMargin
    val got = Json.parse(EsApi.msearchNdjson(indexes, resolver, col("doc_id"), payload))
      .asInstanceOf[Map[String, Any]]
    val rs = got("responses").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    def totalOf(r: Map[String, Any]): Double =
      r("hits").asInstanceOf[Map[String, Any]]("total")
        .asInstanceOf[Map[String, Any]]("value").asInstanceOf[Double]
    assert(rs.map(_("status")) === Seq(200.0, 200.0, 404.0))
    assert(totalOf(rs(0)) === 1.0 && totalOf(rs(1)) === 2.0)
    // a search-time failure is a PER-RESPONSE error; siblings still answer
    assert(rs(2)("error").asInstanceOf[Map[String, Any]]("reason") ===
      """could not find indexes matching the IDs ["missing-one"]""")
    // header-level validation aborts the WHOLE request, reference errors
    assert(intercept[IllegalArgumentException] {
      EsApi.msearchNdjson(indexes, resolver, col("doc_id"),
        "{}\n{\"query\": {\"match_all\": {}}}")
    }.getMessage === "`_msearch` request header must define at least one index")
    assert(intercept[IllegalArgumentException] {
      EsApi.msearchNdjson(indexes, resolver, col("doc_id"), """{"index": "gharchive-1"}""")
    }.getMessage === "expect request body after request header")
    assert(intercept[IllegalArgumentException] {
      EsApi.msearchNdjson(indexes, resolver, col("doc_id"),
        "{\"index\": \"a**b\"}\n{}")
    }.getMessage.startsWith("request header contains an invalid index:"))
    // any other search-time failure is a per-response 400 entry, not a
    // whole-request abort: a sort by a missing field in the first body must
    // not stop the second pair from answering
    val mixed = Json.parse(EsApi.msearchNdjson(indexes, resolver, col("doc_id"),
      """{"index": "gharchive-1"}
        |{"sort": ["no_such_field"]}
        |{"index": "gharchive-2"}
        |{"query": {"match_all": {}}, "size": 0}""".stripMargin))
      .asInstanceOf[Map[String, Any]]("responses").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
    assert(mixed.map(_("status")) === Seq(400.0, 200.0))
    assert(mixed(0)("error").asInstanceOf[Map[String, Any]]("reason").asInstanceOf[String]
      .contains("no_such_field"))
    assert(totalOf(mixed(1)) === 1.0)
  }

  test("_msearch NDJSON: a malformed body, unknown query kind or sort-cap violation aborts the request") {
    import spark.implicits._
    val indexes = Seq("gharchive-1" -> Seq((1L, "alpha doc", "en")).toDF("doc_id", "text", "lang"))
    def msearch(badBody: String): String = EsApi.msearchNdjson(indexes, resolver, col("doc_id"),
      s"""{"index": "gharchive-1"}
         |{"query": {"match_all": {}}, "size": 0}
         |{"index": "gharchive-1"}
         |$badBody""".stripMargin)
    // the bad body is the SECOND pair: the valid first pair must not answer
    intercept[Exception](msearch("""{"query": {"match_all": {}"""))
    assert(intercept[IllegalArgumentException](msearch("""{"query": {"no_such_kind": {}}}"""))
      .getMessage === "unsupported ES query kind: no_such_kind")
    assert(intercept[IllegalArgumentException](msearch("""{"sort": ["doc_id", "text", "lang"]}"""))
      .getMessage === "requirement failed: sort by field must be up to 2 fields, got 3")
  }

  test("selectIndexes: a malformed pattern is rejected even over an EMPTY catalog") {
    val e = intercept[IllegalArgumentException] {
      EsApi.selectIndexes(Nil, "a**b")
    }
    assert(e.getMessage.contains("must not contain multiple consecutive `*`"))
  }

  test("_search multi-index aggs: one terms tree over the union, _key asc (multi-indices/0003)") {
    import spark.implicits._
    import graft.util.Json
    // the scenario's 4 gharchive actors split across two index-template
    // sibling indexes; the terms agg must count across BOTH
    val idx1 = Seq((1L, "push", "fmassot"), (2L, "push", "fulmicoton"))
      .toDF("doc_id", "text", "login")
    val idx2 = Seq((3L, "push", "guilload"), (4L, "push", "trinity"))
      .toDF("doc_id", "text", "login")
    val got = Json.parse(EsApi.searchMulti(
      Seq("gharchive-1" -> idx1, "gharchive-2" -> idx2), resolver, col("doc_id"),
      "gharchive-*",
      """{"query": {"match_all": {}}, "size": 0,
        | "aggs": {"logins": {"terms": {"field": "login", "order": {"_key": "asc"}}}}}""".stripMargin))
      .asInstanceOf[Map[String, Any]]
    val logins = got("aggregations").asInstanceOf[Map[String, Any]]("logins")
      .asInstanceOf[Map[String, Any]]
    assert(logins("buckets").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
      .map(b => (b("key"), b("doc_count"))) ===
      Seq(("fmassot", 1.0), ("fulmicoton", 1.0), ("guilload", 1.0), ("trinity", 1.0)))
    assert(logins("sum_other_doc_count") === 0.0)
  }

  test("_search URL params: q overrides body, default_operator, sort-param quirks") {
    import spark.implicits._
    import graft.util.Json
    val docs = Seq(
      (1L, "spark vector", "en"),
      (2L, "spark only", "en"),
      (3L, "vector only", "de"),
      (4L, "neither word", "en")
    ).toDF("doc_id", "text", "lang")
    def run(params: Map[String, String], body: String = "{}"): Map[String, Any] =
      Json.parse(EsApi.searchWithParams(docs, resolver, col("doc_id"), body, params))
        .asInstanceOf[Map[String, Any]]
    def ids(m: Map[String, Any]): Seq[Any] =
      m("hits").asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Map[String, Any]]("_id"))
    // default_operator defaults to OR (3 hits); AND narrows to the one doc
    // with both terms. `q` takes PRIORITY over the body's query (the body
    // here matches nothing).
    val noneBody = """{"query": {"term": {"lang": "zz"}}}"""
    val or = run(Map("q" -> "spark vector", "sort" -> "doc_id"), noneBody)
    assert(ids(or) === Seq(1.0, 2.0, 3.0))
    val and = run(Map("q" -> "spark vector", "default_operator" -> "AND"), noneBody)
    assert(ids(and) === Seq(1.0))
    // sort param: explicit ORDER must be the proto name (ASC/DESC);
    // lowercase is rejected with the reference's exact error — which
    // interpolates the FIELD, not the order (search_query_params.rs:216-221)
    assert(ids(run(Map("sort" -> "doc_id:DESC"))) === Seq(4.0, 3.0, 2.0, 1.0))
    val e = intercept[IllegalArgumentException] {
      run(Map("sort" -> "doc_id:desc"))
    }
    assert(e.getMessage.contains("invalid sort order `doc_id`. expected `asc` or `desc`"))
    // bare field defaults asc; params from/size override the body's
    val paged = run(Map("sort" -> "doc_id", "from" -> "1", "size" -> "2"),
      """{"from": 0, "size": 100}""")
    assert(ids(paged) === Seq(2.0, 3.0))
    // track_total_hits is also a URL param: false omits, int caps with gte
    val noTotal = run(Map("track_total_hits" -> "false", "sort" -> "doc_id"))
    assert(!noTotal("hits").asInstanceOf[Map[String, Any]].contains("total"))
    val capped = run(Map("track_total_hits" -> "2", "sort" -> "doc_id"))
    assert(capped("hits").asInstanceOf[Map[String, Any]]("total") ===
      Map("value" -> 2.0, "relation" -> "gte"))
  }

  test("_field_caps multi-index: dual keyword/text, date_nanos, indices attribution, patterns") {
    import spark.implicits._
    import graft.util.Json
    val idx1 = Seq((1L, "alpha", "en", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("doc_id", "text", "lang", "created")
    val idx2 = Seq((2L, "beta", "de")).toDF("doc_id", "text", "lang") // no `created`
    val indexes = Seq("fieldcaps" -> idx1, "fieldcaps-2" -> idx2)
    val rs: String => FieldResolver = _ => resolver
    val got = Json.parse(EsApi.fieldCapsMulti(indexes, "fieldcaps*", rs))
      .asInstanceOf[Map[String, Any]]
    assert(got("indices") === Seq("fieldcaps", "fieldcaps-2"))
    val fields = got("fields").asInstanceOf[Map[String, Any]]
    // a string field answers BOTH keyword and text entries (Str expansion)
    val lang = fields("lang").asInstanceOf[Map[String, Any]]
    assert(lang.keySet === Set("keyword", "text"))
    val langKw = lang("keyword").asInstanceOf[Map[String, Any]]
    assert(langKw("searchable") === true && langKw("aggregatable") === true &&
      langKw("metadata_field") === false && !langKw.contains("indices"))
    // the resolver's text field is not aggregatable (no fast field)
    assert(fields("text").asInstanceOf[Map[String, Any]]("text")
      .asInstanceOf[Map[String, Any]]("aggregatable") === false)
    // dates render as date_nanos; `created` exists only in fieldcaps →
    // the entry lists its indices (exists-in-all omits them)
    val created = fields("created").asInstanceOf[Map[String, Any]]
    assert(created.keySet === Set("date_nanos"))
    assert(created("date_nanos").asInstanceOf[Map[String, Any]]("indices") ===
      Seq("fieldcaps"))
    // fields= patterns: exact, prefix, suffix, infix (one `*` max)
    def fieldNames(pats: Seq[String]): Set[String] =
      Json.parse(EsApi.fieldCapsMulti(indexes, "fieldcaps*", rs, Some(pats)))
        .asInstanceOf[Map[String, Any]]("fields").asInstanceOf[Map[String, Any]].keySet.toSet
    assert(fieldNames(Seq("lang")) === Set("lang"))
    assert(fieldNames(Seq("doc*")) === Set("doc_id"))
    assert(fieldNames(Seq("*ang")) === Set("lang"))
    assert(fieldNames(Seq("cre*ted")) === Set("created"))
    assert(fieldNames(Seq("doc*", "lang")) === Set("doc_id", "lang"))
    // explicit missing index → the reference's 404; wildcard no-match → 200
    val e = intercept[IllegalArgumentException] {
      EsApi.fieldCapsMulti(indexes, "fieldcaps,blub", rs)
    }
    assert(e.getMessage === """could not find indexes matching the IDs ["blub"]""")
    assert(Json.parse(EsApi.fieldCapsMulti(indexes, "blub*", rs)) ===
      Map("indices" -> Seq(), "fields" -> Map()))
  }

  test("_field_caps multi-index: dissenting members land in non_aggregatable_indices") {
    import spark.implicits._
    import graft.util.Json
    val idx1 = Seq((1L, "alpha")).toDF("doc_id", "note")
    val idx2 = Seq((2L, "beta")).toDF("doc_id", "note")
    // `note` is a fast keyword in fc-1 but an indexed-only text in fc-2:
    // merged entry stays aggregatable (ANY-of) and attributes the
    // dissenter (merge_same_field_group, list_fields.rs:133-151)
    val rs: String => FieldResolver = {
      case "fc-1" => FieldResolver(Set.empty, Seq("note"))
      case _      => FieldResolver(Set("note"), Seq("note"))
    }
    val got = Json.parse(EsApi.fieldCapsMulti(
      Seq("fc-1" -> idx1, "fc-2" -> idx2), "fc-*", rs))
      .asInstanceOf[Map[String, Any]]
    val note = got("fields").asInstanceOf[Map[String, Any]]("note")
      .asInstanceOf[Map[String, Any]]("keyword").asInstanceOf[Map[String, Any]]
    assert(note("aggregatable") === true)
    assert(note("non_aggregatable_indices") === Seq("fc-2"))
    assert(!note.contains("non_searchable_indices")) // all searchable
  }

  private def scoreHits(df: org.apache.spark.sql.DataFrame, body: String): Seq[Map[String, Any]] =
    graft.util.Json.parse(EsApi.search(df, resolver, col("doc_id"), body))
      .asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]("hits")
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])

  test("_search: sort by _score is REAL BM25 — order differs from constant-score") {
    import spark.implicits._
    // doc 1 matches both query terms, doc 3 one term in a SHORT field,
    // doc 2 one term diluted by length: BM25 order (1, 3, 2) — while the
    // old constant-score 1.0 stand-in ordered by the doc-addr tiebreak
    // (3, 2, 1) and a naive tf order would tie 2 and 3
    val corpus = Seq(
      (1L, "spark vector", "en"),
      (2L, "spark is one term here diluted by many other words", "en"),
      (3L, "spark hit", "en"),
      (4L, "nothing relevant", "de")
    ).toDF("doc_id", "text", "lang")
    val hs = scoreHits(corpus,
      """{"query": {"match": {"text": {"query": "spark vector", "operator": "or"}}},
        | "sort": ["_score"], "size": 4}""".stripMargin)
    assert(hs.map(_("_id")) === Seq(1.0, 3.0, 2.0))
    val scores = hs.map(_("sort").asInstanceOf[Seq[Any]].head.asInstanceOf[Double])
    assert(scores === scores.sorted.reverse)
    assert(scores.distinct.size === 3, "scores must be real BM25, not a constant")
    assert(scores.forall(s => s != 1.0d))
  }

  test("_search: a body with NO sort ranks by relevance — ES's default IS _score desc") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark vector", "en"),
      (2L, "spark is one term here diluted by many other words", "en"),
      (3L, "spark hit", "en"),
      (4L, "nothing relevant", "de")
    ).toDF("doc_id", "text", "lang")
    // same corpus as the explicit `"sort": ["_score"]` fixture above; the
    // sortless body must produce the SAME relevance order, not doc order
    val hs = scoreHits(corpus,
      """{"query": {"match": {"text": {"query": "spark vector", "operator": "or"}}},
        | "size": 4}""".stripMargin)
    assert(hs.map(_("_id")) === Seq(1.0, 3.0, 2.0))
  }

  test("_search: filter clauses don't score; term-free queries keep constant 1.0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark vector", "en"),
      (2L, "spark", "en"),
      (3L, "spark", "de")
    ).toDF("doc_id", "text", "lang")
    // the filter clause restricts to lang=en but contributes NO terms:
    // scores come from the must clause alone (ES filter context)
    val hs = scoreHits(corpus,
      """{"query": {"bool": {
        |  "must": [{"match": {"text": "spark vector"}}],
        |  "filter": [{"term": {"lang": "en"}}]}},
        | "sort": ["_score"], "size": 4}""".stripMargin)
    // doc 3 matches the must clause but fails the filter: absent, and its
    // absence does not perturb the remaining docs' corpus-level statistics
    assert(hs.map(_("_id")) === Seq(1.0, 2.0))
    // match_all has no scoring terms → ES constant_score 1.0
    val all = scoreHits(corpus, """{"sort": ["_score"], "size": 3}""")
    assert(all.map(_("sort")) === Seq(Seq(1.0), Seq(1.0), Seq(1.0)))
    assert(all.map(_("_id")) === Seq(3.0, 2.0, 1.0)) // desc doc-addr tiebreak
  }

  test("_search: body with both from and search_after is rejected (ES 400)") {
    val e = intercept[IllegalArgumentException] {
      EsApi.search(docs, resolver, col("doc_id"),
        """{"size": 1, "from": 5, "sort": [{"doc_id": "asc"}], "search_after": [1]}""")
    }
    assert(e.getMessage.contains("`from` parameter must be set to 0 when `search_after` is used"))
    // an explicit from: 0 is the one combination ES allows
    EsApi.search(docs, resolver, col("doc_id"),
      """{"size": 1, "from": 0, "sort": [{"doc_id": "asc"}], "search_after": [1]}""")
  }

  test("_search: sort values keep native types — numeric-LOOKING keywords stay strings") {
    import graft.util.Json
    import spark.implicits._
    val kw = Seq((1L, "123", "a"), (2L, "45", "b"), (3L, "9", "c"))
      .toDF("doc_id", "id_kw", "text")
    def run(body: String): Seq[Map[String, Any]] =
      Json.parse(EsApi.search(kw, resolver, col("doc_id"), body))
        .asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]("hits")
        .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    val first = run("""{"size": 1, "sort": ["id_kw"]}""")
    // lexicographic order: "123" < "45" < "9"; the sort value is the STRING
    // "123", not the number 123
    assert(first.head("_id") === 1.0)
    assert(first.head("sort") === Seq("123"))
    // echoing the cursor back resumes with a correctly-TYPED predicate:
    // after "123" lexicographically comes "45" (numeric typing would have
    // compared 123.0 > 45 and skipped it)
    val next = run("""{"size": 1, "sort": ["id_kw"], "search_after": ["123"]}""")
    assert(next.head("_id") === 2.0)
    assert(next.head("sort") === Seq("45"))
  }

  test("cluster info banner matches the reference handler's exact shape") {
    import graft.util.Json
    val got = Json.parse(EsApi.clusterInfo(
      "node-1", "graft-cluster", "0.8.1", "abc123", "2024-01-01"))
    assert(got === Json.parse(
      """{"name":"node-1","cluster_name":"graft-cluster",
        |"version":{"distribution":"quickwit","number":"0.8.1",
        |"build_hash":"abc123","build_date":"2024-01-01"}}""".stripMargin))
  }

  test("track_total_hits: false omits total, integer caps with gte, true stays eq") {
    import graft.util.Json
    def hitsBlock(body: String): Map[String, Any] =
      Json.parse(EsApi.search(docs, resolver, col("doc_id"), body))
        .asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]
    assert(!hitsBlock("""{"size":1,"track_total_hits":false}""").contains("total"))
    assert(hitsBlock("""{"size":1,"track_total_hits":2}""")("total") ===
      Map("value" -> 2.0, "relation" -> "gte")) // 3 match, capped at 2
    assert(hitsBlock("""{"size":1,"track_total_hits":10}""")("total") ===
      Map("value" -> 3.0, "relation" -> "eq")) // under the cap: exact
    assert(hitsBlock("""{"size":1,"track_total_hits":true}""")("total") ===
      Map("value" -> 3.0, "relation" -> "eq"))
  }

  test("_search: date sort cursors round-trip as epoch millis (the ES wire form)") {
    import graft.util.Json
    import spark.implicits._
    val dated = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "b"),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), "c")
    ).toDF("doc_id", "ts", "text")
    def run(body: String): Seq[Map[String, Any]] =
      Json.parse(EsApi.search(dated, resolver, col("doc_id"), body))
        .asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Map[String, Any]]("hits")
        .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    val first = run("""{"size": 1, "sort": [{"ts": "desc"}]}""")
    assert(first.head("_id") === 3.0)
    val cursor = first.head("sort").asInstanceOf[Seq[Any]].head
    // the wire value is epoch MILLIS; echoing it back must be interpreted
    // as millis against the timestamp column (raw comparison coerces the
    // timestamp to SECONDS → every row matches and page 2 repeats page 1)
    val next = run(s"""{"size": 1, "sort": [{"ts": "desc"}], "search_after": [$cursor]}""")
    assert(next.map(_("_id")) === Seq(2.0))
    val third = run(
      s"""{"size": 1, "sort": [{"ts": "desc"}], "search_after": [${next.head("sort").asInstanceOf[Seq[Any]].head}]}""")
    assert(third.map(_("_id")) === Seq(1.0))
  }
}
