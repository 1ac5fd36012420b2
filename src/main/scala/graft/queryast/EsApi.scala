package graft.queryast

import graft.util.FanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ES-compatible serve-layer endpoints (VERDICT r2 missing #5) — the thin
  * request/response shells over compute that already exists:
  * `_count`, `_search`, `_msearch`, `_field_caps`, `_bulk`, `_cat/indices`.
  * `_search` answers hits and `search_after` resumes in [[searchPage]] and
  * its aggregations in [[EsAggs]]; each NDJSON `_msearch` pair is one such
  * search ([[msearchNdjson]]), as the reference fans each sub-search out
  * as an independent query.
  *
  * Reference: quickwit-serve/src/elasticsearch_api/mod.rs:53-72 (route
  * table), rest_handler.rs (es_compat_index_count / es_compat_index_multi_
  * search / es_compat_index_field_capabilities / es_compat_cat_indices).
  */
object EsApi {

  // ---- _count ------------------------------------------------------------
  /** es_compat_index_count: count of docs matching the DSL query (missing
    * query = match_all). */
  def countQuery(df: DataFrame, resolver: FieldResolver, queryJson: Option[String]): Long =
    queryJson.fold(df)(q => df.filter(EsDsl.parse(q).toColumn(resolver))).count()

  def countResponse(n: Long): String =
    s"""{"count":$n,"_shards":{"total":1,"successful":1,"skipped":0,"failed":0}}"""

  // ---- _search -------------------------------------------------------------
  /** Sort-spec JSON forms accepted by the reference (es_compatibility
    * 0008-sort_by.yaml): a list of `{field: {"order": ...}}` /
    * `{field: "asc|desc"}` / bare `"field"` entries, or a single object.
    * Default order asc. Returns (field, ascending). */
  private[queryast] def parseSort(v: Any): Seq[(String, Boolean)] = {
    // default order: ascending for fields, DESCENDING for `_score`
    // (es_compatible_api.md "Sort order")
    def dflt(f: String): Boolean = f != "_score"
    def one(e: Any): Seq[(String, Boolean)] = e match {
      case s: String => Seq(s -> dflt(s))
      case m: Map[String, Any] @unchecked =>
        m.toSeq.map {
          case (f, dir: String) => f -> (dir != "desc")
          case (f, o: Map[String, Any] @unchecked) =>
            f -> o.get("order").map(_ != "desc").getOrElse(dflt(f))
          case (f, _) => f -> dflt(f)
        }
      case other => throw new IllegalArgumentException(s"bad sort entry: $other")
    }
    v match {
      case xs: Seq[Any] @unchecked => xs.flatMap(one)
      case other                   => one(other)
    }
  }

  /** Full `_search` over one index frame: query filter + sort + from/size
    * hits (with `_source` back-projection and per-hit sort values) +
    * aggregations, rendered as the ES response envelope the reference's
    * es_compatibility scenarios assert on (hits.total.value/relation,
    * hits.hits[]._id/sort/_source, aggregations).
    *
    * Execution shape: one hits query, which also counts every top-level
    * `terms` aggregation it can, and one query per other top-level
    * aggregation, the two sides running at the same time.
    *  - Hits: one top-k-with-offset query for the page
    *    ([[graft.operators.Aggs.paginate]]: a TakeOrdered bounded by
    *    from+size, or a one-task sort over a frame the optimized plan bounds
    *    at or below from+size rows — never a full sort materialization). It reads
    *    every filtered row once, so `total` is a `count(1)` Observation
    *    inside it, placed below the search_after predicate and the offset.
    *    Only a `size: 0` request runs a `count()` for the total.
    *  - Terms in the page: a top-level `terms` with no sub-aggregation is
    *    one more aggregate in the same Observation, a
    *    [[graft.operators.TermCells]] value→count map (partials per task,
    *    merged on the driver, like the reference's leaf collector feeding
    *    top-k and aggregation partials in one pass), rendered by
    *    [[EsAggs.cellsBodies]]. A ts-sorted search with such an agg is one
    *    job over one scan. Its buckets count every match, as `total` does;
    *    `from` and `search_after` do not touch them. A field with more than
    *    [[EsAggs.DefaultBucketLimit]] distinct values overflows the map and
    *    runs its cells query after the page.
    *  - A `_score` sort first takes the corpus statistics of the index
    *    frame (N, avgdl, per-term df) as a one-row local frame. Over a bare
    *    Parquet scan (what `TranscriptTable.scan` returns) they are sums of
    *    memoized per-file counts: no job once the files have been counted,
    *    one grouped job over the new files otherwise. Any other frame runs
    *    one aggregate. The page query scores each filtered row over its own
    *    tokens against that row through a broadcast nested-loop join — no
    *    explode, groupBy, or shuffle for scoring
    *    ([[graft.operators.Scoring]]).
    *  - Other aggregations: [[EsAggs.run]] over the same filtered frame,
    *    only when such a node exists: nested or sub-aggregated `terms`,
    *    histograms, ranges and metrics; every node of a `size: 0` request.
    *    Then the hits and the aggregations each run on a thread that
    *    [[graft.util.FanOut]] creates for the request once the body has been
    *    validated (a rejected request runs no job); otherwise the hits run
    *    on the caller. The call awaits both sides on every path; when both
    *    fail, the hits' failure is thrown with the aggregations' as
    *    suppressed. Both sides share one bucket counter, so the bucket
    *    limit holds across the whole tree, and the aggregations render in
    *    request order.
    * `_id` comes from `id`; `_source` is the doc→JSON back-projection of
    * the frame's columns (to_json of the row struct). */
  def search(df: DataFrame, resolver: FieldResolver, id: Column,
             bodyJson: String): String =
    searchPage(df, resolver, id, bodyJson, cursorOverride = None,
      extraSort = Nil, includeAggs = true).rendered

  /** `_search` with URL QUERY-STRING parameters
    * (build_request_for_es_api, rest_handler.rs:160-214; param model
    * search_query_params.rs:214-253; docs es_compatible_api.md:127-137):
    *
    *  - `q` (+ `default_operator`, default OR) takes PRIORITY over the
    *    body's `query` and compiles through the query language (the
    *    UserInputQuery arm) — here as its `query_string` DSL twin, which
    *    is the same AST;
    *  - `from`/`size` params override the body's;
    *  - `sort` is `field[:ORDER],...` where ORDER must be the proto name
    *    `ASC`/`DESC` — lowercase is REJECTED via SortOrder::from_str_name,
    *    and the reference's error interpolates the FIELD name, not the
    *    order (search_query_params.rs:216-221 — mirrored verbatim, quirk
    *    included); a bare field defaults to asc, `_score` to desc
    *    (default_elasticsearch_sort_order, model/mod.rs:70-76). */
  def searchWithParams(df: DataFrame, resolver: FieldResolver, id: Column,
                       bodyJson: String, params: Map[String, String]): String = {
    val body = graft.util.Json.parse(bodyJson).asInstanceOf[Map[String, Any]]
    val withQ = params.get("q") match {
      case Some(q) =>
        val op = params.get("default_operator")
          .map(_.toUpperCase(java.util.Locale.ROOT)).getOrElse("OR")
        require(op == "AND" || op == "OR",
          s"invalid default_operator: `$op`. expected `AND` or `OR`")
        body + ("query" ->
          Map("query_string" -> Map("query" -> q, "default_operator" -> op)))
      case None => body
    }
    val withFrom = params.get("from").fold(withQ)(f => withQ + ("from" -> f.toDouble))
    val withSize = params.get("size").fold(withFrom)(s => withFrom + ("size" -> s.toDouble))
    // track_total_hits is ALSO a query-string param (SearchQueryParams):
    // boolean words or an integer cap, same semantics as the body form
    val withTth = params.get("track_total_hits").fold(withSize) { v =>
      val parsed: Any = v match {
        case "true"  => true
        case "false" => false
        case n       => n.toDouble
      }
      withSize + ("track_total_hits" -> parsed)
    }
    val withSort = params.get("sort").fold(withTth) { s =>
      val fields: Seq[Any] = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { sf =>
        sf.indexOf(':') match {
          case -1 =>
            val ord = if (sf == "_score") "desc" else "asc"
            Map(sf -> Map("order" -> ord)): Any
          case i =>
            val (f, ordStr) = (sf.substring(0, i), sf.substring(i + 1))
            val ord = ordStr match {
              case "ASC"  => "asc"
              case "DESC" => "desc"
              case _ => throw new IllegalArgumentException(
                s"invalid sort order `$f`. expected `asc` or `desc`")
            }
            Map(f -> Map("order" -> ord)): Any
        }
      }
      withTth + ("sort" -> fields)
    }
    search(df, resolver, id, graft.util.Json.render(withSort))
  }

  /** A rendered page plus the NATIVE machinery the scroll context needs:
    * the last hit's raw sort values (full i64/timestamp precision — a
    * JSON re-parse would collapse longs beyond 2^53 to doubles), the
    * page's total, and — when the page ranked by BM25 — the one-row local
    * corpus-stats frame, so a scroll's continuations score against the
    * stats of its opening page instead of re-running the corpus aggregate. */
  final case class Page(rendered: String, lastSortValues: Option[Seq[Any]],
                        total: Long, stats: Option[DataFrame] = None)

  /** The body-level parts of a `_search` request: its JSON object, query AST
    * and user sort criteria, checked before any search runs (an unknown
    * query kind fails the AST build; USER sort criteria cap at two —
    * validate_sort_by_fields_and_search_after, root.rs:367-371, the
    * reference's exact error). */
  private def parseBody(bodyJson: String, resolver: FieldResolver)
      : (Map[String, Any], Option[QueryAst], Seq[(String, Boolean)]) = {
    val m = graft.util.Json.parse(bodyJson).asInstanceOf[Map[String, Any]]
    val astOpt = m.get("query").map(q => EsDsl.fromParsed(q, resolver.defaultFields))
    val bodySort = m.get("sort").map(parseSort).getOrElse(Nil)
    require(bodySort.size <= 2,
      s"sort by field must be up to 2 fields, got ${bodySort.size}")
    (m, astOpt, bodySort)
  }

  /** Name of the per-request threads that run a `_search`'s hits and, beside
    * them, its aggregations. */
  private[queryast] val SearchThreadName = "es-search"

  /** `_search` with the scroll hooks: `cursorOverride` replaces the body's
    * `search_after` (the scroll context's stored cursor), `extraSort`
    * appends trailing tiebreak criteria (a unique id sort makes the scroll
    * cursor a total order — ties can never drop rows),
    * `includeAggs = false` skips aggregations (ES serves them only on the
    * FIRST scroll response), `totalOverride` reuses the total fixed at
    * scroll-open time instead of re-counting per page, and `statsOverride`
    * reuses the opening page's BM25 corpus-stats frame. */
  def searchPage(df: DataFrame, resolver: FieldResolver, id: Column,
                 bodyJson: String, cursorOverride: Option[Seq[Any]],
                 extraSort: Seq[(String, Boolean)],
                 includeAggs: Boolean,
                 totalOverride: Option[Long] = None,
                 statsOverride: Option[DataFrame] = None): Page = {
    val (m, astOpt, bodySort) = parseBody(bodyJson, resolver)
    val filtered = astOpt.map(a => df.filter(a.toColumn(resolver))).getOrElse(df)
    val size = m.get("size").map(_.asInstanceOf[Double].toInt).getOrElse(10)
    // a cursor resume and an offset are mutually exclusive — ES rejects a
    // body carrying both with a 400; scroll continuations force from = 0
    if (cursorOverride.isEmpty)
      require(m.get("from").forall(_.asInstanceOf[Double] == 0d) ||
          m.get("search_after").isEmpty,
        "`from` parameter must be set to 0 when `search_after` is used")
    val from =
      if (cursorOverride.isDefined) 0
      else m.get("from").map(_.asInstanceOf[Double].toInt).getOrElse(0)
    // ES's DEFAULT ordering: a body with no `sort` ranks by relevance —
    // _score desc (the reference's collector.rs SortBy::Score default) —
    // with the caller's tiebreaks (scroll id sort) behind it. The internal
    // tiebreak `extraSort` is not a user criterion and doesn't count
    // toward the sort cap.
    val effectiveSort = if (bodySort.nonEmpty) bodySort else Seq("_score" -> false)
    val sortSpec = effectiveSort ++
      extraSort.filterNot { case (f, _) => effectiveSort.exists(_._1 == f) }
    val cursor = cursorOverride.orElse(m.get("search_after").map(_.asInstanceOf[Seq[Any]]))
    cursor.foreach { vals =>
      // ES validation error: a BODY search_after needs an explicit sort
      // (the scroll continuation's cursor carries its own stored sort)
      require(cursorOverride.isDefined || bodySort.nonEmpty,
        "search_after requires a sort")
      require(vals.size == sortSpec.size,
        s"search_after length ${vals.size} must match sort criteria ${sortSpec.size}")
    }
    val aggNodes =
      if (includeAggs) m.get("aggs").orElse(m.get("aggregations")).map(EsAggs.parseAggs)
      else None

    // The body is valid: from here on the request runs jobs. A top-level
    // `terms` the page query can count rides it (its cells are observed as
    // the page reads every filtered row); every other node runs beside the
    // hits on threads created for this request by FanOut, which copy the
    // caller's Spark local properties (job group, scheduler pool). With no
    // such node the hits run alone on the caller.
    val nodes = aggNodes.getOrElse(Nil)
    val riding = if (size > 0) EsAggs.riders(filtered, nodes) else Nil
    val beside = nodes.filterNot(riding.contains)
    val counter = new EsAggs.BucketCounter(EsAggs.DefaultBucketLimit)
    val sides = FanOut.all[Either[Hits, Seq[(String, String)]]](SearchThreadName, 2)(
      (() => Left(searchHits(df, filtered, id, m, astOpt, size, from, sortSpec, cursor,
        totalOverride, statsOverride, EsAggs.observedCells(riding)))) +:
        (if (beside.isEmpty) Nil else Seq(() => Right(EsAggs.run(filtered, beside, counter)))))
    val h = sides.collectFirst { case Left(hits) => hits }.get
    val besideBodies = sides.collect { case Right(bodies) => bodies }.flatten
    val bodies =
      (besideBodies ++ EsAggs.cellsBodies(filtered, riding, h.observed, counter)).toMap
    // the {"aggregations": ...} envelope's inner object, in request order
    val aggsJson = aggNodes.map(ns =>
      EsAggs.response(ns.map(n => n.name -> bodies(n.name))).stripPrefix("{").stripSuffix("}"))
    // track_total_hits (elasticsearch_api/mod.rs TrackTotalHits): `false`
    // omits the total, an integer n caps the reported value at n with
    // relation "gte" when more match, `true`/absent tracks exactly (this
    // engine is exact, so "eq" is always truthful).
    val totalBlock = totalBlockJson(m, h.total)
    val hitsBlock =
      s""""hits":{$totalBlock"hits":[${h.json.mkString(",")}]}"""
    Page(s"""{"timed_out":false,$hitsBlock${aggsJson.map("," + _).getOrElse("")}}""",
      h.lastSortValues, h.total, h.stats)
  }

  /** What [[searchHits]] returns: the rendered page of hits, the last hit's
    * native sort values, the total (−1 when not tracked), the BM25 stats
    * frame if the page ranked by `_score`, and the metrics observed inside
    * the page query (`None` when it observed none). */
  private final case class Hits(json: Seq[String], lastSortValues: Option[Seq[Any]],
                                total: Long, stats: Option[DataFrame],
                                observed: Option[Map[String, Any]])

  /** The hits half of [[searchPage]]. `cells` are aggregates observed on
    * the filtered rows inside the page query ([[EsAggs.observedCells]]);
    * they need a page (`size > 0`). */
  private def searchHits(df: DataFrame, filtered: DataFrame, id: Column,
                         m: Map[String, Any], astOpt: Option[QueryAst],
                         size: Int, from: Int, sortSpec: Seq[(String, Boolean)],
                         cursor: Option[Seq[Any]], totalOverride: Option[Long],
                         statsOverride: Option[DataFrame], cells: Seq[Column]): Hits = {
    // `_score` compiles to REAL BM25 over the query's positive text terms
    // (collector.rs:106-112 SortBy::Score — the reference scores relevance
    // sorts with tantivy's BM25 on every `_search`). Corpus statistics
    // (df, avgdl, N) come from the WHOLE index frame, not the filtered
    // subset, matching tantivy's segment-level stats; each filtered row is
    // then scored over its own tokens; docs matching only filter clauses
    // score 0.0; a term-free query (match_all / pure structural
    // predicates) keeps the ES constant_score of 1.0.
    val needsScore = sortSpec.exists(_._1 == "_score")
    val scoreTerms =
      if (needsScore) astOpt.map(QueryAst.scoringTerms).getOrElse(Nil).distinct else Nil
    val ScoreCol = "_bm25_score"
    val scoring = {
      val fields = scoreTerms.map(_._1).distinct
      graft.operators.Scoring.Terms(fields.map(col),
        scoreTerms.map { case (f, t) => fields.indexOf(f) -> t })
    }
    lazy val stats: Option[DataFrame] =
      if (scoreTerms.isEmpty) None
      else statsOverride.orElse(Some(graft.operators.Scoring.corpusStats(df, scoring)))
    def sortCol(f: String): Column =
      if (f == "_score") { if (scoreTerms.nonEmpty) col(ScoreCol) else lit(1.0d) }
      else col(f)

    // A cursor value echoed from hits[].sort must be re-typed by the SORT
    // COLUMN's type: date sort values travel as epoch millis on the wire
    // (svJson), so a numeric cursor against a timestamp column is millis,
    // not a raw comparand — comparing lit(1.7e12) to a timestamp coerces
    // to SECONDS and breaks date pagination (ISO strings also accepted).
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def cursorLit(f: String, v: Any): Column = fieldType.get(f) match {
      case Some(t) if t == org.apache.spark.sql.types.TimestampType ||
                      t == org.apache.spark.sql.types.TimestampNTZType =>
        v match {
          case n: java.lang.Number => timestamp_millis(lit(n.longValue())).cast(t)
          case s: String           => lit(s).cast(t)
          case other               => lit(other)
        }
      case _ => lit(v)
    }
    // search_after: resume strictly after the cursor tuple, respecting each
    // criterion's direction (collector.rs:316-341 generalized to desc)
    def afterCursor(scored: DataFrame): DataFrame = cursor.fold(scored) { vals =>
      val cs = sortSpec.map { case (f, asc) => (sortCol(f), asc, f) }
      // Null-aware resume matching the missing-LAST sort order: equality
      // arms use null-safe <=>; "strictly after a non-null value" includes
      // every null row (nulls are the tail in both directions); "strictly
      // after null" is only reachable through deeper tiebreak criteria.
      def strictlyAfter(c: Column, asc: Boolean, f: String, v: Any): Column =
        if (v == null) lit(false)
        else (if (asc) c > cursorLit(f, v) else c < cursorLit(f, v)) || c.isNull
      val pred = cs.indices.map { i =>
        (cs.take(i).zip(vals).map { case ((c, _, f), v) => c <=> cursorLit(f, v) } :+
          strictlyAfter(cs(i)._1, cs(i)._2, cs(i)._3, vals(i)))
          .reduce(_ && _)
      }.reduce(_ || _)
      scored.filter(pred)
    }
    // The page of hits over `matched` (the filtered rows): score, resume
    // after the cursor, TakeOrdered-with-offset bounded by from+size.
    def pageOf(matched: DataFrame): DataFrame = {
      val sortCols = EsSort.compile(sortSpec.map { case (f, asc) => (sortCol(f), asc) }, id)
      // `_index` (present on multi-index unions) is hit METADATA, not
      // part of `_source`
      val srcCols = df.columns.filterNot(_ == "_index").map(col).toSeq
      val idxCol =
        if (df.columns.contains("_index")) col("_index").as("_idx_v")
        else lit(null).cast("string").as("_idx_v")
      // Sort values travel with their NATIVE types (a struct of the raw
      // sort columns, like EsAggs.keyJson) — casting to string and
      // re-typing by regex rendered keyword values that LOOK numeric
      // (id "123") as JSON numbers, so a client echoing hits[].sort back
      // through search_after got a mis-typed cursor predicate.
      val svCol = struct(sortSpec.zipWithIndex.map { case ((f, _), i) =>
        sortCol(f).as(s"c$i")
      }: _*).as("_sv")
      val scored = stats.fold(matched)(
        graft.operators.Scoring.withScore(matched, scoring, _, ScoreCol))
      graft.operators.Aggs.paginate(
        afterCursor(scored).select(id.as("_id_v"),
          to_json(struct(srcCols: _*)).as("_src"),
          svCol,
          idxCol),
        sortCols, offset = from, k = size)
    }

    // ES total counts ALL matches, cursor-independent; the scroll context
    // fixes it at open time and passes it back per continuation. The whole
    // POINT of track_total_hits:false is skipping the count — don't run it
    // just to discard the result. With a page to fetch, the total is
    // `count(1)` observed on the filtered rows inside the page's own query:
    // its top-k ([[graft.operators.Aggs.paginate]]) reads every filtered
    // row once, and the observation sits below the cursor predicate and
    // the offset. Only a `size: 0` request runs a count query (beside the
    // aggregations), and it needs no BM25 stats.
    val wantTotal = m.get("track_total_hits") != Some(false)
    if (size == 0)
      Hits(Nil, None, if (wantTotal) totalOverride.getOrElse(filtered.count()) else -1L,
        None, None)
    else {
      val observeTotal = wantTotal && totalOverride.isEmpty
      val metrics = (if (observeTotal) Seq(count(lit(1)).as("_total")) else Nil) ++ cells
      val (collected, observed) =
        if (metrics.isEmpty) (pageOf(filtered).collect().toSeq, None)
        else EsAggs.withObserved(filtered, metrics)(pageOf(_).collect().toSeq)
      // no metrics: Spark proved the input empty and read no row
      val total = totalOverride.getOrElse(
        if (!wantTotal) -1L
        else observed.flatMap(_.get("_total")).fold(0L)(_.asInstanceOf[Number].longValue))
      val lastSv = collected.lastOption.map { r =>
        val sv = r.getAs[org.apache.spark.sql.Row]("_sv")
        (0 until sv.length).map(sv.get)
      }
      val hitsJson = collected.map { r =>
        val idJ = r.get(0) match {
          case s: String => graft.util.Json.quote(s)
          case other     => other.toString
        }
        val idxJ = Option(r.getAs[String]("_idx_v"))
          .map(i => s""","_index":${graft.util.Json.quote(i)}""")
          .getOrElse("")
        val sv = r.getAs[org.apache.spark.sql.Row]("_sv")
        val sortJ = (0 until sv.length).map(i => svJson(sv.get(i)))
          .mkString(""","sort":[""", ",", "]")
        s"""{"_id":$idJ$idxJ$sortJ,"_source":${r.getAs[String]("_src")}}"""
      }
      Hits(hitsJson, lastSv, total, stats, observed)
    }
  }

  /** `GET /_elastic` cluster-info banner — the version probe ES clients
    * issue before any request (rest_handler.rs:63-84's exact shape). */
  def clusterInfo(nodeId: String, clusterId: String, version: String,
                  commitHash: String, buildDate: String): String = {
    val e = graft.util.Json.quote _
    s"""{"name":${e(nodeId)},"cluster_name":${e(clusterId)},""" +
      s""""version":{"distribution":"quickwit","number":${e(version)},""" +
      s""""build_hash":${e(commitHash)},"build_date":${e(buildDate)}}}"""
  }

  /** Render one hits[].sort value by its RUNTIME type: strings stay JSON
    * strings (even when they look numeric), integral numerics render without
    * a fraction, dates render as epoch millis (ES's wire form for date sort
    * values). */
  private def svJson(v: Any): String = v match {
    case null                  => "null"
    case s: String             => graft.util.Json.quote(s)
    case d: java.lang.Double   =>
      if (d.doubleValue.isWhole && math.abs(d.doubleValue) < 9.007199254740992e15)
        d.longValue.toString
      else d.toString
    case f: java.lang.Float    => svJson(f.doubleValue)
    case n: java.lang.Number   => n.toString
    case b: java.lang.Boolean  => b.toString
    case t: java.sql.Timestamp => t.getTime.toString
    case i: java.time.Instant  => i.toEpochMilli.toString
    case other                 => graft.util.Json.quote(String.valueOf(other))
  }

  /** Multi-index `_search` (es_compatibility/multi-indices scenarios;
    * pattern resolution quickwit-config/src/lib.rs:123-151 via
    * [[IndexPatterns]]): comma-separated ids/globs resolve against the
    * known index set, the matching frames union with an `_index` metadata
    * column (rendered per hit, excluded from `_source`), and the single
    * unioned frame runs the normal search pipeline — one plan, one scan
    * per member index. Frames must share a schema (index-template
    * siblings, as in the reference scenarios). */
  def searchMulti(indexes: Seq[(String, DataFrame)], resolver: FieldResolver,
                  id: Column, patterns: String, bodyJson: String): String = {
    val selected = selectIndexes(indexes, patterns)
    if (selected.isEmpty) emptyPage(bodyJson).rendered
    else search(unionWithIndex(selected), resolver, id, bodyJson)
  }

  /** NDJSON `_msearch` (es_compat_index_multi_search,
    * rest_handler.rs:389-470; header model multi_search.rs:69-103):
    * header/body line PAIRS over trimmed non-empty lines (str_lines,
    * rest_handler.rs:531-535). Request validation aborts the WHOLE request
    * with the reference's exact errors, as the reference's pairing loop
    * does (it builds each search request there with `?`): an empty index
    * list, an invalid index pattern, a header with no body line after it,
    * and a body that is not JSON, holds an unknown query kind or sorts by
    * more than two fields. A sub-search that fails at SEARCH time (an
    * explicit index that doesn't exist) instead becomes a per-response
    * error entry `{"status":404,"error":{"reason":...}}` while its siblings
    * answer — each pair is its own root_search. Responses render in
    * REQUEST order (documented divergence: the reference collects
    * buffer_unordered completions, a nondeterministic order; ES's contract
    * is request order). */
  def msearchNdjson(indexes: Seq[(String, DataFrame)], resolver: FieldResolver,
                    id: Column, payload: String): String = {
    val lines = payload.linesIterator.map(_.trim).filter(_.nonEmpty).toVector
    val pairs = Vector.newBuilder[(Seq[String], String)]
    var i = 0
    while (i < lines.size) {
      val header = graft.util.Json.parse(lines(i)).asInstanceOf[Map[String, Any]]
      val pats = header.get("index") match {
        case Some(s: String)   => Seq(s)
        case Some(xs: Seq[_])  => xs.map(_.asInstanceOf[String])
        case _                 => Nil
      }
      if (pats.isEmpty)
        throw new IllegalArgumentException(
          "`_msearch` request header must define at least one index")
      pats.foreach { p =>
        IndexPatterns.validate(p).left.foreach(err =>
          throw new IllegalArgumentException(
            s"request header contains an invalid index: $err"))
      }
      if (i + 1 >= lines.size)
        throw new IllegalArgumentException("expect request body after request header")
      parseBody(lines(i + 1), resolver)
      pairs += ((pats, lines(i + 1)))
      i += 2
    }
    val responses = pairs.result().map { case (pats, body) =>
      try {
        val rendered = searchMulti(indexes, resolver, id, pats.mkString(","), body)
        s"""{"status":200,${rendered.stripPrefix("{")}"""
      } catch {
        // a search-time failure is a per-response entry while siblings
        // answer (each pair is its own root_search future in the
        // reference): IndexesNotFound maps to 404, any other search-time
        // failure to 400 (the ServiceErrorCode mapping in error.rs:48-58)
        case scala.util.control.NonFatal(e) =>
          val status =
            if (String.valueOf(e.getMessage).startsWith("could not find indexes")) 404
            else 400
          s"""{"status":$status,"error":{"reason":${graft.util.Json.quote(String.valueOf(e.getMessage))}}}"""
      }
    }
    s"""{"responses":[${responses.mkString(",")}]}"""
  }

  /** check_all_index_metadata_found (root.rs:941-977): every EXPLICIT id
    * (no `*`) must resolve — missing ones raise the reference's
    * IndexesNotFound error (a 404 at the transport); a WILDCARD pattern
    * matching nothing is NOT an error (multi-indices/0002 last case). */
  def selectIndexes(indexes: Seq[(String, DataFrame)],
                    patterns: String): Seq[(String, DataFrame)] = {
    val pats = patterns.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    // validate every pattern UP FRONT — a malformed pattern must be a 400
    // even when the catalog is empty (filtering alone would never reach
    // the validator with zero indexes and answer an empty 200 instead)
    pats.foreach { p =>
      IndexPatterns.validate(p).left.foreach(err =>
        throw new IllegalArgumentException(err))
    }
    val selected = indexes.filter { case (name, _) =>
      IndexPatterns.matches(pats, name) match {
        case Right(m)  => m
        case Left(err) => throw new IllegalArgumentException(err)
      }
    }
    val known = indexes.map(_._1).toSet
    val missing = pats.filterNot(_.contains("*")).filterNot(known).distinct
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        "could not find indexes matching the IDs " +
          missing.map(m => "\"" + m + "\"").mkString("[", ", ", "]"))
    selected
  }

  private[queryast] def unionWithIndex(selected: Seq[(String, DataFrame)]): DataFrame =
    selected.map { case (name, df) =>
      df.withColumn("_index", lit(name))
    }.reduce(_ unionByName _)

  /** `track_total_hits` rendering shared by every envelope form: `false`
    * omits the total, an integer n caps the reported value at n with
    * relation "gte" when more match, `true`/absent tracks exactly. */
  private def totalBlockJson(body: Map[String, Any], total: Long): String =
    body.get("track_total_hits") match {
      case Some(false) => ""
      case Some(n: Double) if total > n.toLong =>
        s""""total":{"value":${n.toLong},"relation":"gte"},"""
      case _ => s""""total":{"value":$total,"relation":"eq"},"""
    }

  /** The response root_search produces over ZERO selected indexes (every
    * pattern a wildcard, none matched): zero hits, exact zero total, and
    * NO aggregations key (multi-indices/0003 second case asserts its
    * absence). Shares [[totalBlockJson]] with [[searchPage]] so the two
    * envelope forms can never drift. */
  def emptyPage(bodyJson: String): Page = {
    val m = graft.util.Json.parse(bodyJson).asInstanceOf[Map[String, Any]]
    Page(s"""{"timed_out":false,"hits":{${totalBlockJson(m, 0L)}"hits":[]}}""",
      None, 0L)
  }

  // ---- _field_caps ---------------------------------------------------------
  /** es_compat_index_field_capabilities: schema-derived capabilities.
    * text-resolver fields are ES `text` (searchable, not aggregatable);
    * everything else maps to its ES scalar type (searchable + aggregatable
    * — the fast-field analog); arrays report their element type (ES treats
    * every field as multi-valued). */
  def fieldCaps(df: DataFrame, resolver: FieldResolver): Seq[(String, String, Boolean, Boolean)] =
    df.schema.fields.toSeq.map { f =>
      def esType(dt: DataType): String = dt match {
        case StringType => if (resolver.isText(f.name)) "text" else "keyword"
        case LongType | IntegerType | ShortType => "long"
        case DoubleType | FloatType => "double"
        case _: DecimalType => "double"
        case BooleanType => "boolean"
        case TimestampType | TimestampNTZType | DateType => "date"
        case BinaryType => "binary"
        case ArrayType(e, _) => esType(e)
        case _ => "object"
      }
      val t = esType(f.dataType)
      (f.name, t, true, t != "text")
    }

  /** Single-index `_field_caps` response — the same canonical renderer as
    * the multi-index route ([[fieldCapsMulti]]), so the two endpoints can
    * never answer different wire shapes for one index (the reference has
    * ONE response model: Str → keyword+text dual entries, date →
    * date_nanos, field_capability.rs:128-180). */
  def fieldCapsResponse(index: String, df: DataFrame,
                        resolver: FieldResolver): String =
    fieldCapsMulti(Seq(index -> df), index, _ => resolver)

  /** Multi-index `_field_caps` (es_field_capabilities/0001 scenario;
    * response model model/field_capability.rs:128-180; per-index merge
    * list_fields.rs:95-165; field patterns list_fields.rs:204-233):
    *
    *  - index selection shares `_search`'s IndexesNotFound contract — an
    *    explicit missing id 404s, an all-wildcard no-match answers the
    *    empty response (the scenario's last two arms);
    *  - `fields` patterns support up to ONE `*` — exact / prefix /
    *    suffix / infix (starts-with + ends-with, overlap allowed exactly
    *    as the reference's matches_pattern);
    *  - a string field answers BOTH `keyword` and `text` entries with the
    *    same flags (ListFieldType::Str expansion,
    *    field_capability.rs:150-156); dates render as `date_nanos`;
    *    json/object fields are skipped (the `continue` arms);
    *  - per (field, type): searchable/aggregatable are ANY-of across the
    *    member indexes; `non_searchable_indices`/`non_aggregatable_indices`
    *    list the dissenting members (merge_same_field_group); `indices`
    *    appears ONLY when the field is missing from some member
    *    (exists-in-all omits it, field_capability.rs:169-174);
    *  - the response `indices` are the sorted distinct members that
    *    contributed at least one surviving field.
    *
    * `resolverFor` supplies each member's field resolver — text-vs-fast
    * capability differs per index exactly as the reference's per-index
    * field configs do. */
  def fieldCapsMulti(indexes: Seq[(String, DataFrame)], patterns: String,
                     resolverFor: String => FieldResolver,
                     fieldsParam: Option[Seq[String]] = None): String = {
    val selected = selectIndexes(indexes, patterns)
    def matchesPattern(p: String, name: String): Boolean = p.indexOf('*') match {
      case -1                     => p == name
      case 0                      => name.endsWith(p.substring(1))
      case i if i == p.length - 1 => name.startsWith(p.substring(0, i))
      case i => name.startsWith(p.substring(0, i)) && name.endsWith(p.substring(i + 1))
    }
    def wanted(name: String): Boolean =
      fieldsParam.forall(ps => ps.isEmpty || ps.exists(matchesPattern(_, name)))
    // ((field, renderedType), (index, searchable, aggregatable))
    val entries: Seq[((String, String), (String, Boolean, Boolean))] =
      selected.flatMap { case (ix, df) =>
        fieldCaps(df, resolverFor(ix)).filter(c => wanted(c._1)).flatMap {
          case (f, t, s, a) =>
            val renderedTypes = t match {
              case "text" | "keyword" => Seq("keyword", "text")
              case "date"             => Seq("date_nanos")
              case "object"           => Nil // Json/Facet `continue` arms
              case other              => Seq(other)
            }
            renderedTypes.map(tt => ((f, tt), (ix, s, a)))
        }
      }
    val respIndices = entries.map(_._2._1).distinct.sorted
    def arr(xs: Seq[String]): String =
      xs.map(graft.util.Json.quote).mkString("[", ",", "]")
    val fieldsJson = entries.groupBy(_._1._1).toSeq.sortBy(_._1).map {
      case (fieldName, fieldEntries) =>
        val typesJson = fieldEntries.groupBy(_._1._2).toSeq.sortBy(_._1).map {
          case (tpe, es) =>
            val members = es.map(_._2)
            val searchable = members.exists(_._2)
            val aggregatable = members.exists(_._3)
            val idxIds = members.map(_._1).distinct.sorted
            val nonSearchable =
              if (searchable) members.filter(!_._2).map(_._1).distinct.sorted else Nil
            val nonAggregatable =
              if (aggregatable) members.filter(!_._3).map(_._1).distinct.sorted else Nil
            val indicesAttr =
              if (idxIds.size == respIndices.size) "" else s""","indices":${arr(idxIds)}"""
            val nonAggJson =
              if (nonAggregatable.isEmpty) ""
              else s""","non_aggregatable_indices":${arr(nonAggregatable)}"""
            val nonSearchJson =
              if (nonSearchable.isEmpty) ""
              else s""","non_searchable_indices":${arr(nonSearchable)}"""
            s""""$tpe":{"metadata_field":false,"searchable":$searchable,""" +
              s""""aggregatable":$aggregatable,"type":"$tpe"""" +
              indicesAttr + nonAggJson + nonSearchJson + "}"
        }.mkString(",")
        s""""$fieldName":{$typesJson}"""
    }.mkString(",")
    s"""{"indices":${arr(respIndices)},"fields":{$fieldsJson}}"""
  }

  // ---- _bulk ---------------------------------------------------------------

  /** The commit mode a bulk's `?refresh` resolves to (quickwit
    * CommitType, bulk.rs:128): `Auto` rides the scheduled commit, `Force`
    * seals the in-progress split right after the batch, `WaitFor` blocks
    * until the next scheduled commit lands. */
  sealed trait CommitType
  case object CommitAuto extends CommitType
  case object CommitForce extends CommitType
  case object CommitWaitFor extends CommitType

  /** `?refresh` for `_bulk` (model/bulk_query_params.rs:24-62 — the
    * backward-compat syntax its own comment calls confusing): an ABSENT
    * parameter or `refresh=false` → Auto; a PRESENT parameter with no
    * value (`?refresh`), an empty value, or `true` → Force;
    * `wait_for` → WaitFor. Anything else fails like serde's
    * unknown-variant. `param` is None when absent, Some("") for the bare
    * form. Pair the result with `SplitSealing.sealedSplits(forceCommit =
    * ...)` — Force marks the tail split's commit trigger. */
  def parseRefresh(param: Option[String]): CommitType = param match {
    case None                    => CommitAuto
    case Some("" | "true")       => CommitForce
    case Some("false")           => CommitAuto
    case Some("wait_for")        => CommitWaitFor
    case Some(other) => throw new IllegalArgumentException(
      s"unknown variant `$other`, expected one of `false`, `true`, `wait_for`")
  }

  /** es_compat_bulk_handler (elasticsearch_api/bulk.rs:79-143): NDJSON bodies
    * → one row per (action, source) pair, batched per index.
    *
    * Reference semantics mirrored exactly:
    *  - blank/whitespace lines are skipped BEFORE pairing and line numbering
    *    (`lines()`, ingest_api/rest_handler.rs:260-268; line numbers in
    *    errors are positions in the filtered sequence, bulk.rs:94-96);
    *  - the action line must deserialize to the `index` or `create` variant
    *    (model/bulk_body.rs:25-29) — valid JSON with any other key (e.g.
    *    `delete`) is as malformed as broken JSON (serde unknown-variant);
    *  - `_index` on the action wins over the per-request default index; a
    *    missing index on both sides is an error (bulk.rs:106-119: the
    *    path-index is a default, not a constraint);
    *  - a trailing action with no source line errors (bulk.rs:100-105).
    *
    * Plan shape: pure per-row array/JSON expressions (split → blank-filter →
    * positional pair explode → `from_json`) — NO shuffle and no UDF; a
    * 100 TB backlog of bulk bodies parses embarrassingly parallel, and the
    * per-index batching (`bulkCounts`) shuffles only (index_id) keys. */
  def bulkParse(df: DataFrame, body: Column, defaultIndex: Option[String]): DataFrame = {
    val metaSchema = StructType(Seq(
      StructField("_index", StringType), StructField("_id", StringType)))
    val actionSchema = StructType(Seq(
      StructField("index", metaSchema), StructField("create", metaSchema)))
    val lines = filter(split(body, "\n"), l => trim(l) =!= "")
    df.withColumn("_lines", lines)
      .withColumn("_pi",
        explode(when(size(col("_lines")) > 0,
          sequence(lit(0), floor((size(col("_lines")) - 1) / 2).cast("int")))
          .otherwise(array().cast("array<int>"))))
      .withColumn("line_no", (col("_pi") * 2).cast("int"))
      .withColumn("_action_line", try_element_at(col("_lines"), col("_pi") * 2 + 1))
      .withColumn("_source", try_element_at(col("_lines"), col("_pi") * 2 + 2))
      .withColumn("_parsed", from_json(col("_action_line"), actionSchema))
      .withColumn("action",
        when(col("_parsed.index").isNotNull, "index")
          .when(col("_parsed.create").isNotNull, "create"))
      .withColumn("_meta", coalesce(col("_parsed.index"), col("_parsed.create")))
      .withColumn("_index_id",
        coalesce(col("_meta._index"), lit(defaultIndex.orNull).cast("string")))
      .withColumn("error",
        when(col("action").isNull,
          concat(lit("Malformed action/metadata line [#"), col("line_no"), lit("].")))
          .when(col("_source").isNull, lit("expected source for the action"))
          .when(col("_index_id").isNull,
            concat(lit("missing required field: `_index` in the line [#"),
              col("line_no"), lit("]."))))
      .select(col("line_no"),
        when(col("error").isNull, col("action")).as("action"),
        when(col("error").isNull, col("_index_id")).as("index_id"),
        when(col("error").isNull, col("_meta._id")).as("doc_id"),
        when(col("error").isNull, col("_source")).as("source"),
        col("error"))
  }

  /** Per-index doc batches from parsed bulk rows (DocBatchBuilder-per-index,
    * bulk.rs:120-127) + an error tally: (index_id, num_docs); failed pairs
    * land on the "(error)" key (the reference 400s the whole request on the
    * first error — the count makes that error set oracle-checkable). */
  def bulkCounts(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(coalesce(col("index_id"), lit("(error)")).as("index_id"))
      .agg(count(lit(1)).as("num_docs"))

  // ---- _cat/indices --------------------------------------------------------
  /** es_compat_cat_indices: one row per index with doc count + stored-bytes
    * (from split metadata at the warehouse — here an aggregate per table). */
  def catIndices(indexes: Seq[(String, DataFrame, Column)]): DataFrame =
    indexes.map { case (name, df, bytesCol) =>
      df.agg(count(lit(1)).as("docs_count"),
             coalesce(sum(octet_length(bytesCol).cast("long")), lit(0L)).as("store_bytes"))
        .select(lit(name).as("index"), col("docs_count"), col("store_bytes"))
    }.reduce(_ unionByName _)
}
