package graft

import graft.functions.{Snippets, Tokenizers}
import graft.operators.{Aggs, Decontaminate, Dedup, Jaeger, Multimodal, QualityFilters, Scoring, Similarity, SplitSketches, TextAnalysis, TrainingMix}
import graft.parse.{BytesParse, DateTimeParse, DocParser}
import graft.pipeline.IndexingPipeline
import graft.publish.{ListSplits, MergePolicy}
import graft.queryast.{EsApi, EsDsl, FieldResolver, QueryAst, UserQueryParser}
import graft.route.Routing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query registry: one [[SparkEntry.Query]] per implemented operator
  * (SURVEY.md §2), each holding its Spark builder and its ANSI-SQL oracle
  * for the DuckDB compare. Column names/aliases are kept identical on both
  * sides (the parity check hashes values under sorted column names).
  */
object SparkEntry {

  /** One query: `build(spark, sfDir)` and the DuckDB SQL that must
    * return the same rows over the same parquet tables. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         oracleSql: String)

  /** The registry entry named `name`; throws on an unknown name. */
  def byName(name: String): Query =
    queries.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"no query named $name"))

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic multi-line "web page" for the C4 cleaning query: the doc
    * text as a first sentence-terminated line, a repeated-sentence line whose
    * sentence count varies 0–6 with doc_id, two lines the C4 line rules must
    * always drop (no terminal punctuation / under 3 words), and conditional
    * boilerplate lines exercising the javascript, lorem-ipsum and curly-brace
    * rules. Pure column exprs; the DuckDB oracle rebuilds the identical page. */
  private def c4Page(docId: Column, text: Column): Column = concat_ws("\n",
    concat(text, lit(".")),
    rtrim(repeat(lit("All work and no play makes a dull page. "),
      pmod(docId, lit(7)).cast("int"))),
    lit("no terminal punctuation on this line"),
    lit("Tiny line."),
    when(pmod(docId, lit(5)) === 0,
      lit("Please enable javascript to view this content.")).otherwise(lit("")),
    when(pmod(docId, lit(13)) === 0,
      lit("Lorem ipsum dolor sit amet.")).otherwise(lit("")),
    when(pmod(docId, lit(11)) === 0,
      lit("var cfg = {enabled: true};")).otherwise(lit("")))

  /** 9-word phrase appended doc_id%4 times by `x_dup_ngrams` so that 2+
    * repeats create genuine duplicated 5..9-grams (one repeat creates none:
    * grams spanning the text/phrase seam occur once). */
  private val DupNgramPhrase = "the quick brown fox jumps over the lazy dog"

  /** Output field order of [[graft.operators.QualityFilters.ngramRepetition]]
    * fractions, shared by the `x_dup_ngrams` query and its oracle. */
  private val DupNgramFracs: Seq[String] =
    Seq(2, 3, 4).map(n => s"top${n}_gram_frac") ++
      (5 to 10).map(n => s"dup${n}_gram_frac")

  /** DuckDB mirror of the full Gopher A.1.1 n-gram family — generated, one
    * arm per n, same union-of-covered-word-positions semantics. */
  private def dupNgramsOracleSql: String = {
    def grams(n: Int) =
      s"CASE WHEN w >= $n THEN list_transform(range(w - ${n - 1}), " +
        s"i -> array_to_string(ws[i+1:i+$n], ' ')) " +
        s"ELSE CAST([] AS VARCHAR[]) END AS g$n"
    def dups(n: Int) =
      s"list_filter(list_distinct(g$n), x -> len(list_filter(g$n, y -> y = x)) >= 2) AS d$n"
    def topF(n: Int) =
      s"CASE WHEN tot = 0 THEN 0.0 ELSE CAST(coalesce(list_max(list_transform(" +
        s"list_distinct(g$n), x -> len(list_filter(g$n, y -> y = x)) * (strlen(x) - ${n - 1})" +
        s")), 0) AS DOUBLE) / tot END AS t$n"
    def dupF(n: Int) =
      s"CASE WHEN len(g$n) = 0 THEN 0.0 ELSE CAST(coalesce(list_sum(list_transform(range(w), " +
        s"j -> CASE WHEN len(list_filter(range(greatest(0, j - ${n - 1}), least(j, w - $n) + 1), " +
        s"i -> list_contains(d$n, g$n[i+1]))) > 0 THEN strlen(ws[j+1]) ELSE 0 END)), 0) " +
        s"AS DOUBLE) / tot END AS f$n"
    val thresholds = Seq(2 -> "t2 <= CAST(0.20 AS DOUBLE)", 3 -> "t3 <= CAST(0.18 AS DOUBLE)",
      4 -> "t4 <= CAST(0.16 AS DOUBLE)", 5 -> "f5 <= CAST(0.15 AS DOUBLE)",
      6 -> "f6 <= CAST(0.14 AS DOUBLE)", 7 -> "f7 <= CAST(0.13 AS DOUBLE)",
      8 -> "f8 <= CAST(0.12 AS DOUBLE)", 9 -> "f9 <= CAST(0.11 AS DOUBLE)",
      10 -> "f10 <= CAST(0.10 AS DOUBLE)").map(_._2).mkString(" AND ")
    s"""WITH base AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(
       |    text || ' ' || repeat('$DupNgramPhrase ', CAST(doc_id % 4 AS INT)),
       |    '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |s1 AS (SELECT doc_id, ws, len(ws) AS w,
       |  coalesce(list_sum(list_transform(ws, x -> strlen(x))), 0) AS tot FROM base),
       |g AS (SELECT *, ${(2 to 10).map(grams).mkString(",\n  ")} FROM s1),
       |dd AS (SELECT *, ${(5 to 10).map(dups).mkString(",\n  ")} FROM g),
       |m AS (SELECT doc_id, tot, w, ws,
       |  ${Seq(2, 3, 4).map(topF).mkString(",\n  ")},
       |  ${(5 to 10).map(dupF).mkString(",\n  ")} FROM dd)
       |SELECT doc_id,
       |  ${Seq(2, 3, 4).map(n => s"round(t$n, 4) AS top${n}_gram_frac").mkString(", ")},
       |  ${(5 to 10).map(n => s"round(f$n, 4) AS dup${n}_gram_frac").mkString(", ")},
       |  ($thresholds) AS keep
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // transcripts: the BASELINE input shape (conv_id, turn_idx, role, text,
  // tool, ts), derived DETERMINISTICALLY from the driver's `events` table so
  // the DuckDB oracle can mirror the derivation 1:1. ~2% null-text rows
  // (event_id % 50 = 0) exercise the dead-letter path; `-> ERR` status on
  // event_id % 7 = 0 exercises per-tool error routing.
  // ---------------------------------------------------------------------
  def transcripts(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("conv_id", concat(lit("conv"), col("user_id").cast("string")))
      .withColumn("turn_idx", (row_number().over(w) - 1).cast("int"))
      .withColumn("role",
        when(col("event_type") === "signup", "system")
          .when(col("event_type") === "error", "tool")
          .when(col("event_type") === "purchase", "assistant")
          .otherwise("user"))
      .withColumn("tool",
        when(col("event_type").isin("purchase", "view", "click"), col("event_type")))
      .withColumn("text",
        when(pmod(col("event_id"), lit(50)) === 0, lit(null).cast("string"))
          .when(col("event_type") === "error",
            concat(lit("ERROR["), (lit(100) + pmod(col("event_id"), lit(900))).cast("string"),
              lit("]: event failed CALL logger(k="), pmod(col("event_id"), lit(100)).cast("string"),
              lit(") -> ERR")))
          .otherwise(
            concat(lit("INFO CALL "), col("event_type"),
              lit("(k="), pmod(col("event_id"), lit(100)).cast("string"), lit(") -> "),
              when(pmod(col("event_id"), lit(7)) === 0, "ERR").otherwise("OK"))))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** SQL mirror of `transcripts` for the DuckDB oracle. */
  val TranscriptsCte: String =
    """WITH transcripts AS (
      |  SELECT 'conv' || CAST(user_id AS VARCHAR) AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |         CASE WHEN event_type='signup' THEN 'system'
      |              WHEN event_type='error' THEN 'tool'
      |              WHEN event_type='purchase' THEN 'assistant'
      |              ELSE 'user' END AS role,
      |         CASE WHEN event_id % 50 = 0 THEN NULL
      |              WHEN event_type='error' THEN 'ERROR[' || CAST(100 + event_id % 900 AS VARCHAR) || ']: event failed CALL logger(k=' || CAST(event_id % 100 AS VARCHAR) || ') -> ERR'
      |              ELSE 'INFO CALL ' || event_type || '(k=' || CAST(event_id % 100 AS VARCHAR) || ') -> ' || CASE WHEN event_id % 7 = 0 THEN 'ERR' ELSE 'OK' END
      |         END AS text,
      |         CASE WHEN event_type IN ('purchase','view','click') THEN event_type END AS tool,
      |         ts
      |  FROM events)
      |""".stripMargin

  // ---------------------------------------------------------------------
  // spans: the OTLP trace doc shape (quickwit-opentelemetry traces.rs:
  // 180-260) derived DETERMINISTICALLY from `events` — trace = conversation,
  // one span per event — so the DuckDB oracle mirrors the derivation 1:1.
  // Feeds the Jaeger SpanReader queries (operators/Jaeger.scala).
  // ---------------------------------------------------------------------
  def spans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      concat(lit("conv"), col("user_id").cast("string")).as("trace_id"),
      col("event_id").as("span_id"),
      concat(lit("svc_"), col("event_type")).as("service_name"),
      concat(lit("op"), pmod(col("event_id"), lit(4)).cast("string")).as("span_name"),
      (pmod(col("event_id"), lit(3)) + 1).cast("int").as("span_kind"),
      col("ts"),
      (pmod(col("event_id") * 7, lit(1000)) + 1).as("duration_millis"),
      when(pmod(col("event_id"), lit(7)) === 0, "error").otherwise("ok")
        .as("status_code"),
      map(lit("env"),
        when(pmod(col("user_id"), lit(2)) === 0, "prod").otherwise("staging"))
        .as("resource_attributes"),
      map(lit("k"), pmod(col("event_id"), lit(100)).cast("string"))
        .as("span_attributes"))

  /** SQL mirror of `spans` for the DuckDB oracle (maps flattened to one
    * column per attribute key — the oracle filters on the same values). */
  val SpansCte: String =
    """WITH spans AS (
      |  SELECT 'conv' || CAST(user_id AS VARCHAR) AS trace_id,
      |         event_id AS span_id,
      |         'svc_' || event_type AS service_name,
      |         'op' || CAST(event_id % 4 AS VARCHAR) AS span_name,
      |         CAST(event_id % 3 + 1 AS INT) AS span_kind,
      |         ts,
      |         (event_id * 7) % 1000 + 1 AS duration_millis,
      |         CASE WHEN event_id % 7 = 0 THEN 'error' ELSE 'ok' END AS status_code,
      |         CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'staging' END AS env_attr,
      |         CAST(event_id % 100 AS VARCHAR) AS k_attr
      |  FROM events)
      |""".stripMargin

  /** Fixed "now" for the Jaeger lookback windows: 2024-01-31T00:00Z (just
    * past the events table's ts range) — deterministic, unlike the
    * reference's `OffsetDateTime::now_utc()` (jaeger lib.rs:103-104). */
  private val JaegerNowSecs = 1706659200L
  private val JaegerLookbackSecs = 15L * 86400 // window starts 2024-01-16T00:00Z

  /** Synthetic metastore for the ListSplits / DeleteTaskPlanner queries:
    * one split per conversation, with lifecycle fields (state, timestamps,
    * opstamps, publish/maturity, a 1-in-5 null time range) that are PURE
    * FUNCTIONS of the conv id so the DuckDB oracle rebuilds the identical
    * metastore. */
  private def splitMetastore(s: SparkSession, d: String): DataFrame = {
    val cid = substring(col("split_id"), 5, 20).cast("long")
    transcripts(s, d).filter(col("text").isNotNull)
      .groupBy(col("conv_id").as("split_id"))
      .agg(count(lit(1)).as("num_docs"),
        unix_micros(min(col("ts")).cast("timestamp_ltz")).as("ts_min"),
        unix_micros(max(col("ts")).cast("timestamp_ltz")).as("ts_max"),
        sort_array(collect_set(concat(lit("role:"), col("role")))).as("tags"))
      .select(col("split_id"), col("num_docs"), col("tags"),
        element_at(array(lit("Staged"), lit("Published"), lit("MarkedForDeletion")),
          (pmod(cid, lit(3L)) + 1).cast("int")).as("split_state"),
        pmod(cid * 7L, lit(1000L)).as("create_timestamp"),
        pmod(cid * 13L, lit(1000L)).as("update_timestamp"),
        pmod(cid, lit(10L)).as("delete_opstamp"),
        when(pmod(cid, lit(3L)) === 0L, lit(null).cast("long"))
          .otherwise(pmod(cid, lit(97L))).as("publish_timestamp"),
        lit(null).cast("long").as("maturation_period_secs"),
        when(pmod(cid, lit(5L)) === 4L, lit(null).cast("long"))
          .otherwise(col("ts_min")).as("time_range_start"),
        when(pmod(cid, lit(5L)) === 4L, lit(null).cast("long"))
          .otherwise(col("ts_max")).as("time_range_end"))
  }

  private val docResolver = FieldResolver(textFields = Set("text"), defaultFields = Seq("text"))
  private val noTextResolver = FieldResolver(Set.empty, Nil)

  private type JsonObj = Map[String, Any]

  private def parseObj(rendered: String): JsonObj =
    graft.util.Json.parse(rendered).asInstanceOf[JsonObj]

  /** `hits.hits` of a parsed `_search` response. */
  private def hitsOf(response: JsonObj): Seq[JsonObj] =
    response("hits").asInstanceOf[JsonObj]("hits").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[JsonObj])

  /** The `_source` of each hit of a rendered `_search` response over `df`,
    * read back as rows of `df`'s schema. */
  private def sourceRows(s: SparkSession, df: DataFrame, rendered: String): DataFrame = {
    import s.implicits._
    s.read.schema(df.schema)
      .json(hitsOf(parseObj(rendered)).map(h => graft.util.Json.render(h("_source"))).toDS())
  }

  /** The rendered body of one aggregation `agg` over `df`, sent through
    * `_search`'s aggregation compiler ([[graft.queryast.EsAggs.search]]) and
    * read back out of the response JSON. */
  private def aggBody(df: DataFrame, agg: String): JsonObj =
    parseObj(graft.queryast.EsAggs.search(df, noTextResolver,
      s"""{"aggs": {"a": $agg}}"""))("aggregations")
      .asInstanceOf[JsonObj]("a").asInstanceOf[JsonObj]

  /** Each response of a rendered `_msearch`, and a response's total. */
  private def msearchResponses(rendered: String): Seq[JsonObj] =
    parseObj(rendered)("responses").asInstanceOf[Seq[Any]].map(_.asInstanceOf[JsonObj])

  private def totalOf(response: JsonObj): Option[Long] =
    response.get("hits").map(h => asLong(h.asInstanceOf[JsonObj]("total").asInstanceOf[JsonObj]("value")))

  private def buckets(body: JsonObj): Seq[JsonObj] =
    body("buckets").asInstanceOf[Seq[Any]].map(_.asInstanceOf[JsonObj])

  private def asLong(v: Any): Long = v.asInstanceOf[Double].toLong

  /** A served `terms` aggregation as (key, doc_count, sum_other_doc_count). */
  private def termsRows(s: SparkSession, df: DataFrame, agg: String): DataFrame = {
    import s.implicits._
    val body = aggBody(df, agg)
    val other = asLong(body("sum_other_doc_count"))
    buckets(body).map(b => (b("key").asInstanceOf[String], asLong(b("doc_count")), other))
      .toDF("key", "doc_count", "sum_other_doc_count")
  }

  /** A served `histogram` aggregation as (key, doc_count). */
  private def histogramRows(s: SparkSession, df: DataFrame, agg: String): DataFrame = {
    import s.implicits._
    buckets(aggBody(df, agg)).map(b => (b("key").asInstanceOf[Double], asLong(b("doc_count"))))
      .toDF("key", "doc_count")
  }

  /** Shared ANN inputs: corpus + first-5 query vectors, double precision. */
  private def annInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    (emb.select(col("vec_id"), col("v").as("vec")),
     emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("v").as("qvec")))
  }

  /** Flagship: per-sink error counts of the served routing, on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    byName("pipe_route_agg").build(spark, "/root/testdata/sf0.001")

  /** Shared input for the mapping-tree queries: nested-JSON docs derived
    * DETERMINISTICALLY from transcripts (the oracle rebuilds the identical
    * string) + the mapping config. Variety by turn_idx mod: %5 string-typed
    * score (coerce), %7 float score (i64 value_error), %11 unmapped field
    * (dynamic capture), %13 scalar-at-multi tags, %17 malformed doc. */
  private def mappingTreeInput(s: SparkSession, d: String)
      : (DataFrame, graft.parse.MappingTree.DocMapping) = {
    import graft.parse.MappingTree._
    val tr = transcripts(s, d)
    val n = pmod(col("turn_idx"), lit(100))
    val scoreJson = when(pmod(col("turn_idx"), lit(5)) === 0, concat(lit("\""), n, lit("\"")))
      .when(pmod(col("turn_idx"), lit(7)) === 0, concat(n, lit(".5")))
      .otherwise(n.cast("string"))
    val tagsJson = when(pmod(col("turn_idx"), lit(13)) === 0, n.cast("string"))
      .otherwise(concat(lit("["), n, lit(","), n + 1, lit("]")))
    val extraJson = when(pmod(col("turn_idx"), lit(11)) === 0,
      concat(lit(",\"extra_field\":"), n)).otherwise(lit(""))
    val doc = when(pmod(col("turn_idx"), lit(17)) === 0 && col("turn_idx") > 0, lit("oops"))
      .otherwise(concat(
        lit("{\"conv_id\":\""), col("conv_id"), lit("\",\"turn\":"), col("turn_idx"),
        lit(",\"meta\":{\"role\":\""), col("role"), lit("\",\"score\":"), scoreJson,
        lit(",\"tags\":"), tagsJson, lit("}"), extraJson,
        lit(",\"ts\":"), unix_seconds(col("ts").cast("timestamp_ltz")), lit("}")))
    val mapping = DocMapping(Seq(
      Leaf("conv_id", TText),
      Leaf("turn", TI64),
      Node("meta", Seq(
        Leaf("role", TText),
        Leaf("score", TI64),
        Leaf("tags", TI64, multi = true))),
      Leaf("ts", TDateTime(Seq("unix_timestamp")))), mode = Dynamic)
    (tr.select(doc.as("doc"), col("conv_id").as("orig_conv"),
       col("turn_idx").as("orig_turn")), mapping)
  }

  private def mappingTreeSelect(parsed: DataFrame): DataFrame =
    parsed.select(col("orig_conv"), col("orig_turn"),
      col("conv_id"), col("turn"),
      col("`meta.role`").as("role"), col("`meta.score`").as("score"),
      array_join(transform(col("`meta.tags`"), t => t.cast("string")), ",").as("tags_csv"),
      unix_micros(col("ts")).as("ts_us"),
      col("parse_error_field"), col("parse_error_kind"), col("dynamic_json"))

  /** The error rows of the served parse → enrich → route stage
    * ([[IndexingPipeline.parseEnrichRoute]]) over the transcripts, enriched
    * on `tool` through a four-row tools dim; a row whose tool has no sink is
    * `sink_unrouted`. */
  private def routedErrors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tools = Seq(("purchase", "sink_commerce"), ("view", "sink_web"),
        ("click", "sink_web"), ("logger", "sink_errors")).toDF("tool", "sink")
    val (_, roles) = IndexingPipeline.dims(s)
    IndexingPipeline.parseEnrichRoute(transcripts(s, dir), tools, roles,
        IndexingPipeline.Config())._1
      .filter(IndexingPipeline.isError)
      .withColumn("sink", coalesce(col("sink"), lit("sink_unrouted")))
  }

  /** Shared oracle for the hand-built (`p_mapping_tree`) and the
    * config-compiled (`p_mapping_config`) doc-mapper paths — identical
    * semantics by construction. */
  private val MappingTreeOracleSql: String = TranscriptsCte +
      """, docs AS (
        |  SELECT conv_id AS orig_conv, turn_idx AS orig_turn,
        |    CASE WHEN turn_idx % 17 = 0 AND turn_idx > 0 THEN 'oops'
        |         ELSE '{"conv_id":"' || conv_id || '","turn":' || CAST(turn_idx AS VARCHAR) ||
        |              ',"meta":{"role":"' || role || '","score":' ||
        |              CASE WHEN turn_idx % 5 = 0 THEN '"' || CAST(turn_idx % 100 AS VARCHAR) || '"'
        |                   WHEN turn_idx % 7 = 0 THEN CAST(turn_idx % 100 AS VARCHAR) || '.5'
        |                   ELSE CAST(turn_idx % 100 AS VARCHAR) END ||
        |              ',"tags":' ||
        |              CASE WHEN turn_idx % 13 = 0 THEN CAST(turn_idx % 100 AS VARCHAR)
        |                   ELSE '[' || CAST(turn_idx % 100 AS VARCHAR) || ',' || CAST(turn_idx % 100 + 1 AS VARCHAR) || ']' END ||
        |              '}' ||
        |              CASE WHEN turn_idx % 11 = 0 THEN ',"extra_field":' || CAST(turn_idx % 100 AS VARCHAR) ELSE '' END ||
        |              ',"ts":' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || '}'
        |    END AS doc
        |  FROM transcripts),
        |parsed AS (SELECT *, json_valid(doc) AS ok FROM docs)
        |SELECT orig_conv, orig_turn,
        |  CASE WHEN ok THEN json_extract_string(doc, '$.conv_id') END AS conv_id,
        |  CASE WHEN ok THEN CAST(json_extract(doc, '$.turn') AS BIGINT) END AS turn,
        |  CASE WHEN ok THEN json_extract_string(doc, '$.meta.role') END AS role,
        |  CASE WHEN NOT ok THEN NULL
        |       WHEN json_type(doc, '$.meta.score') IN ('BIGINT', 'UBIGINT')
        |         THEN CAST(json_extract(doc, '$.meta.score') AS BIGINT)
        |       WHEN json_type(doc, '$.meta.score') = 'VARCHAR'
        |         THEN TRY_CAST(json_extract_string(doc, '$.meta.score') AS BIGINT)
        |       ELSE NULL END AS score,
        |  CASE WHEN NOT ok THEN NULL
        |       WHEN json_type(doc, '$.meta.tags') = 'ARRAY'
        |         THEN array_to_string(CAST(json_extract(doc, '$.meta.tags') AS BIGINT[]), ',')
        |       ELSE CAST(CAST(json_extract(doc, '$.meta.tags') AS BIGINT) AS VARCHAR) END AS tags_csv,
        |  CASE WHEN ok THEN CAST(json_extract(doc, '$.ts') AS BIGINT) * 1000000 END AS ts_us,
        |  CASE WHEN NOT ok THEN ''
        |       WHEN json_type(doc, '$.meta.score') = 'DOUBLE' THEN 'meta.score' END AS parse_error_field,
        |  CASE WHEN NOT ok THEN 'json_parse_error'
        |       WHEN json_type(doc, '$.meta.score') = 'DOUBLE' THEN 'value_error' END AS parse_error_kind,
        |  CASE WHEN ok AND orig_turn % 11 = 0
        |       THEN '{"extra_field":' || CAST(orig_turn % 100 AS VARCHAR) || '}' END AS dynamic_json
        |FROM parsed""".stripMargin

  /** Exact cosine top-3 per query vector — the shared oracle for all three
    * ANN variants (brute = definitionally exact; LSH/IVF achieve total
    * recall on the test corpus at their configured probe widths). */
  private val AnnExactTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qemb) AS c
      |  FROM e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, c,
      |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, vec_id, round(c, 4) AS cos, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // =======================================================================
  /** Every query, grouped by family (the `// ----` sections). Names
    * must be unique (QueryRegistrySpec). A strict `val`: any shared oracle
    * string it reads must be defined above this point. */
  val queries: Seq[Query] = Seq(

    // ---- sources / scans / sinks -------------------------------------
    // control: a Parquet filter + projection; no engine code
    Query("s_scan_project", (s, d) =>
      t(s, d, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05""".stripMargin),

    // ---- parse (doc mapper) ------------------------------------------
    Query("pipe_parse", (s, d) =>
      DocParser.parse(transcripts(s, d)).valid
        .select(col("conv_id"), col("turn_idx"), col("called_tool"),
                col("call_status"), col("error_code"), col("severity")),
      TranscriptsCte +
      """SELECT conv_id, turn_idx,
        |  NULLIF(regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 1), '') AS called_tool,
        |  NULLIF(regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 3), '') AS call_status,
        |  CASE WHEN regexp_extract(text, 'ERROR\[([0-9]{3})\]: (.*)', 1) = '' THEN -1
        |       ELSE CAST(regexp_extract(text, 'ERROR\[([0-9]{3})\]: (.*)', 1) AS INT) END AS error_code,
        |  CASE WHEN regexp_extract(text, '^(INFO|WARN|ERROR)\b', 1) = '' THEN 'INFO'
        |       ELSE regexp_extract(text, '^(INFO|WARN|ERROR)\b', 1) END AS severity
        |FROM transcripts WHERE text IS NOT NULL""".stripMargin),

    Query("pipe_doc_counters", (s, d) => {
      import s.implicits._
      val (parsed, obs) = DocParser.parseObserved(transcripts(s, d))
      parsed.valid.count() // the action that completes the observation
      Seq(DocParser.counters(obs))
        .toDF("num_valid_docs", "num_doc_parsing_errors", "num_bytes_total")
    },
      TranscriptsCte +
      """SELECT CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_valid_docs,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_doc_parsing_errors,
        |  CAST(coalesce(sum(strlen(text)), 0) AS BIGINT) AS num_bytes_total
        |FROM transcripts""".stripMargin),

    Query("pipe_dead_letter", (s, d) =>
      DocParser.parse(transcripts(s, d)).deadLetter
        .select("conv_id", "turn_idx", "role"),
      TranscriptsCte +
      "SELECT conv_id, turn_idx, role FROM transcripts WHERE text IS NULL"),

    Query("p_datetime_infer", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("epoch", floor(col("value") * 1e8).cast("long"))
      // inferred_ts as epoch-µs BIGINT (not TimestampType): secs-unit inputs
      // here reach year ~2539, past datetime64[ns]; integer form keeps the
      // typed oracle hash representation-independent (VERDICT r1 "wrong" #1).
      ev.select(col("event_id"),
        DateTimeParse.inferredUnit(col("epoch")).as("unit"),
        DateTimeParse.inferUnitMicros(col("epoch")).as("inferred_ts"))
    },
      """SELECT event_id,
        |  CASE WHEN abs(e) < 17987443200 THEN 'secs'
        |       WHEN abs(e) < 17987443200000 THEN 'millis'
        |       WHEN abs(e) < 17987443200000000 THEN 'micros' ELSE 'nanos' END AS unit,
        |  CAST(CASE WHEN abs(e) < 17987443200 THEN e * 1000000
        |       WHEN abs(e) < 17987443200000 THEN e * 1000
        |       WHEN abs(e) < 17987443200000000 THEN e ELSE CAST(e / 1000 AS BIGINT) END AS BIGINT) AS inferred_ts
        |FROM (SELECT event_id, CAST(floor(value * 1e8) AS BIGINT) AS e FROM events)""".stripMargin),

    // ---- route / partition -------------------------------------------
    Query("pipe_route_agg", (s, d) =>
      routedErrors(s, d).groupBy("sink").agg(count(lit(1)).as("n_errors")).orderBy("sink"),
      TranscriptsCte +
      """, parsed AS (
        |  SELECT conv_id, turn_idx, tool AS eff_tool,
        |    NULLIF(regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 3), '') AS call_status,
        |    (text LIKE 'ERROR%') AS is_err_sev
        |  FROM transcripts WHERE text IS NOT NULL)
        |SELECT coalesce(dim.sink, 'sink_unrouted') AS sink, CAST(count(*) AS BIGINT) AS n_errors
        |FROM parsed LEFT JOIN (VALUES ('purchase','sink_commerce'),('view','sink_web'),('click','sink_web'),('logger','sink_errors')) AS dim(eff_tool, sink)
        |  ON parsed.eff_tool = dim.eff_tool
        |WHERE call_status = 'ERR' OR is_err_sev
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("pipe_routed_rows", (s, d) =>
      routedErrors(s, d).select("sink", "conv_id", "turn_idx"),
      TranscriptsCte +
      """, parsed AS (
        |  SELECT conv_id, turn_idx, tool AS eff_tool,
        |    NULLIF(regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 3), '') AS call_status,
        |    (text LIKE 'ERROR%') AS is_err_sev
        |  FROM transcripts WHERE text IS NOT NULL)
        |SELECT coalesce(dim.sink, 'sink_unrouted') AS sink, conv_id, turn_idx
        |FROM parsed LEFT JOIN (VALUES ('purchase','sink_commerce'),('view','sink_web'),('click','sink_web'),('logger','sink_errors')) AS dim(eff_tool, sink)
        |  ON parsed.eff_tool = dim.eff_tool
        |WHERE call_status = 'ERR' OR is_err_sev""".stripMargin),

    Query("r_route_counts", (s, d) => {
      // hash routing: the per-partition histogram is xxhash64-specific, but
      // the routing INVARIANTS are oracle-checkable — no row loss, ids within
      // the declared bound, cap respected. (Distribution shape is pinned by
      // RoutingSpec.)
      val routed = Routing.withPartitionId(
        transcripts(s, d), Routing.parse("hash_mod((tool,conv_id), 32)"), maxPartitions = 16)
      routed.agg(
        count(lit(1)).as("total_rows"),
        (min(col("partition_id")) >= 0 &&
          max(when(col("partition_id") =!= Routing.OtherPartitionId, col("partition_id"))) < 32)
          .as("ids_in_range"),
        // 16 kept partitions + the OTHER overflow id
        (countDistinct(col("partition_id")) <= 17).as("within_cap"))
    },
      TranscriptsCte +
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  TRUE AS ids_in_range, TRUE AS within_cap
        |FROM transcripts""".stripMargin),

    Query("pipe_rollup", (s, d) =>
      IndexingPipeline.conversationRollup(DocParser.parse(transcripts(s, d)).valid, salted = true,
        IndexingPipeline.Config()),
      TranscriptsCte +
      """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 3) = 'ERR'
        |                  OR text LIKE 'ERROR%' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  string_agg(text, chr(10) ORDER BY turn_idx) AS rollup_text,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM transcripts WHERE text IS NOT NULL GROUP BY conv_id""".stripMargin),

    Query("pipe_split_stats", (s, d) => {
      val tr = transcripts(s, d).filter(col("text").isNotNull)
        .withColumn("partition_id", substring(col("conv_id"), 5, 20).cast("long") % 8)
      val docStats = IndexingPipeline.splitDocStats(tr, IndexingPipeline.Config())
        .select(col("partition_id"), col("num_docs"),
          col("uncompressed_docs_size_in_bytes").as("uncompressed_bytes"),
          col("time_range_start").as("min_ts"), col("time_range_end").as("max_ts"))
      docStats.join(IndexingPipeline.splitTermStats(tr), Seq("partition_id"))
        .orderBy("partition_id")
    },
      TranscriptsCte +
      """, tr AS (SELECT *, CAST(substr(conv_id, 5) AS BIGINT) % 8 AS partition_id
        |          FROM transcripts WHERE text IS NOT NULL),
        |toks AS (SELECT partition_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM tr),
        |ts_agg AS (SELECT partition_id, CAST(count(DISTINCT term) AS BIGINT) AS term_cardinality,
        |                  CAST(count(*) AS BIGINT) AS postings_count
        |           FROM toks WHERE term <> '' GROUP BY 1)
        |SELECT tr.partition_id, CAST(count(*) AS BIGINT) AS num_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS uncompressed_bytes,
        |  min(ts) AS min_ts, max(ts) AS max_ts,
        |  any_value(ts_agg.term_cardinality) AS term_cardinality,
        |  any_value(ts_agg.postings_count) AS postings_count
        |FROM tr JOIN ts_agg ON tr.partition_id = ts_agg.partition_id
        |GROUP BY tr.partition_id ORDER BY tr.partition_id""".stripMargin),

    // ---- streaming indexing + manifest resume (T1-T3 / S2 contract) -----
    // Two waves of input drain through the Structured-Streaming pipeline,
    // each micro-batch one IndexingPipeline.run publishing to the manifest
    // in `out`; between them the LAST batch is replayed (foreachBatch
    // crash-redelivery) and must write and publish nothing — counts land
    // exactly once. DuckDB recomputes all three totals from the raw
    // transcripts. The sinks' `batch-N` dirs are counted with
    // recursiveFileLookup: partition discovery cannot read them as one table.
    Query("pipe_stream_resume", (s, d) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-streamres")
      try {
        val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
        val cfg = graft.pipeline.IndexingPipeline.Config()
        val tr = transcripts(s, d).select(col("conv_id"), col("turn_idx"),
          col("role"), col("text"), col("tool"),
          col("ts").cast("timestamp_ltz").as("ts"))
        val waveKey = pmod(xxhash64(col("conv_id")), lit(2L))
        tr.filter(waveKey === 0L).coalesce(2).write.mode("append").parquet(in)
        graft.streaming.StreamingPipeline.start(s, in, out, cp, cfg).awaitTermination()
        val store = new graft.publish.Manifest.Store(out)
        val last1 = store.currentSnapshot().get.checkpoint("stream")
        // wave 1 is 2 files < maxFilesPerTrigger = ONE batch: the full wave-1
        // read is that batch's redelivered content
        val replay = graft.streaming.StreamingPipeline.processBatch(
          s.read.parquet(in), last1, out, cfg)
        tr.filter(waveKey === 1L).coalesce(2).write.mode("append").parquet(in)
        graft.streaming.StreamingPipeline.start(s, in, out, cp, cfg).awaitTermination()
        val snap = store.currentSnapshot().get
        val resumeOk = replay.isEmpty && snap.checkpoint("stream") > last1
        def rows(sink: String) =
          s.read.option("recursiveFileLookup", "true").parquet(s"$out/$sink").count()
        Seq((snap.splits.map(_.numDocs).sum, rows("error_index"), rows("dead_letter"),
          resumeOk))
          .toDF("ledger_docs", "error_rows", "dead_rows", "resume_ok")
      } finally graft.util.Fs.deleteRecursively(base)
    },
      TranscriptsCte +
      """SELECT CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ledger_docs,
        |  CAST(sum(CASE WHEN text IS NOT NULL AND
        |    (regexp_extract(text, 'CALL ([A-Za-z_][A-Za-z0-9_]*)\(([^)]*)\) -> (OK|ERR)', 3) = 'ERR'
        |     OR text LIKE 'ERROR%') THEN 1 ELSE 0 END) AS BIGINT) AS error_rows,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dead_rows,
        |  TRUE AS resume_ok
        |FROM transcripts""".stripMargin),

    // Streaming exact dedup across a restart: wave 0 streams (one run),
    // wave 1 appends and streams under the SAME checkpoint — fingerprints
    // first seen in wave 0 stay suppressed in wave 1 because the dedup
    // state survives in the checkpoint. The fingerprint is deliberately
    // coarse (role + text-length bucket) so collisions are guaranteed and
    // DuckDB can recompute it; the emitted row's wave must equal the MIN
    // wave its fingerprint occurs in (wave 0 is fully processed first).
    Query("pipe_stream_dedup", (s, d) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-streamdedup").toString
      val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
      val tr = transcripts(s, d).filter(col("text").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts").cast("timestamp_ltz").as("ts"))
      val wave = substring(col("conv_id"), 5, 20).cast("long") % 2
      val fp = concat(col("role"), lit(":"),
        (length(col("text")) % 50).cast("string"))
      tr.filter(wave === 0L).coalesce(2).write.mode("append").parquet(in)
      graft.streaming.StreamingPipeline.streamingDedup(s, in, out, cp,
        fp, Seq("conv_id")).awaitTermination()
      tr.filter(wave === 1L).coalesce(2).write.mode("append").parquet(in)
      graft.streaming.StreamingPipeline.streamingDedup(s, in, out, cp,
        fp, Seq("conv_id")).awaitTermination()
      val emitted = s.read.parquet(out)
        .groupBy("fp")
        .agg(count(lit(1)).as("n_emitted"),
          min(substring(col("conv_id"), 5, 20).cast("long") % 2).as("wave_emitted"))
      val sourceDups = tr.withColumn("fp", fp)
        .groupBy("fp").agg(count(lit(1)).as("n_dups"))
      emitted.join(sourceDups, Seq("fp"))
        .select("fp", "n_emitted", "wave_emitted", "n_dups")
    },
      TranscriptsCte +
      """, tr AS (
        |  SELECT *, CAST(substr(conv_id, 5) AS BIGINT) % 2 AS wave,
        |    role || ':' || CAST(strlen(text) % 50 AS VARCHAR) AS fp
        |  FROM transcripts WHERE text IS NOT NULL)
        |SELECT fp, CAST(1 AS BIGINT) AS n_emitted,
        |  CAST(min(wave) AS BIGINT) AS wave_emitted,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM tr GROUP BY fp""".stripMargin),

    Query("p_vrl_transform", (s, d) =>
      // VRL-shaped source transform (P5/U2), the doc_processor pre-mapping
      // hook — compiled to codegen'd Columns by graft.parse.Vrl
      graft.parse.Vrl.transform(
        """.text_lower = downcase(string!(.text));
          |.role = upcase(.role);
          |.text_len = strlen(.text);
          |del(.tool)""".stripMargin)(transcripts(s, d))
        .select("conv_id", "turn_idx", "role", "text_lower", "text_len"),
      TranscriptsCte +
      """SELECT conv_id, turn_idx, upper(role) AS role, lower(text) AS text_lower,
        |  CAST(strlen(text) AS BIGINT) AS text_len
        |FROM transcripts""".stripMargin),

    Query("pipe_split_seal", (s, d) => {
      // T1 commit triggers: num-docs-target split sealing over the routed
      // partitions (indexer.rs:578-608; test shape indexer.rs:733-870)
      val tr = transcripts(s, d).filter(col("text").isNotNull)
        .withColumn("partition_id", substring(col("conv_id"), 5, 20).cast("long") % 8)
      graft.pipeline.SplitSealing.sealedSplits(tr, col("partition_id"), numDocsTarget = 500)
        .orderBy("partition_id", "split_seq")
    },
      TranscriptsCte +
      """, tr AS (SELECT *, CAST(substr(conv_id, 5) AS BIGINT) % 8 AS partition_id
        |          FROM transcripts WHERE text IS NOT NULL),
        |seq AS (SELECT partition_id,
        |          CAST(floor((row_number() OVER (PARTITION BY partition_id ORDER BY conv_id, turn_idx) - 1) / 500.0) AS BIGINT) AS split_seq
        |        FROM tr)
        |SELECT partition_id, split_seq, CAST(count(*) AS BIGINT) AS num_docs,
        |  CASE WHEN count(*) = 500 THEN 'num_docs_limit' ELSE 'drained' END AS commit_trigger
        |FROM seq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- filters / query AST ------------------------------------------
    Query("f_term", (s, d) =>
      t(s, d, "events").filter(QueryAst.Term("event_type", "error").toColumn(noTextResolver))
        .select("event_id", "user_id", "value"),
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'error'"),

    Query("f_termset", (s, d) =>
      t(s, d, "events")
        .filter(QueryAst.TermSet("event_type", Seq("signup", "click")).toColumn(noTextResolver))
        .select("event_id", "event_type"),
      "SELECT event_id, event_type FROM events WHERE event_type IN ('signup','click')"),

    Query("f_bool", (s, d) => {
      import graft.queryast.QueryAst._
      val q = Bool(
        must = Seq(Term("event_type", "error"), Range("value", gte = Some(50.0))),
        mustNot = Seq(Term("user_id_str", "3")))
      t(s, d, "events")
        .withColumn("user_id_str", col("user_id").cast("string"))
        .filter(q.toColumn(FieldResolver(Set.empty, Seq.empty)))
        .select("event_id", "user_id", "value")
    },
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'error' AND value >= 50.0 AND NOT CAST(user_id AS VARCHAR) = '3'""".stripMargin),

    Query("f_range_ts", (s, d) =>
      t(s, d, "events")
        .filter(QueryAst.Range("ts", gte = Some("2024-01-05"), lt = Some("2024-01-20"))
          .toColumn(noTextResolver))
        .select("event_id", "ts"),
      """SELECT event_id, ts FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'""".stripMargin),

    Query("f_exists", (s, d) =>
      transcripts(s, d).filter(QueryAst.Exists("tool").toColumn(noTextResolver))
        .select("conv_id", "turn_idx", "tool"),
      TranscriptsCte +
      "SELECT conv_id, turn_idx, tool FROM transcripts WHERE tool IS NOT NULL"),

    Query("f_wildcard", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(Wildcard("source", "src1*").toColumn(docResolver))
        .select("doc_id", "source")
    },
      "SELECT doc_id, source FROM documents WHERE lower(source) LIKE 'src1%'"),

    Query("f_fulltext_and", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(FullText("text", "spark vector", ModeAnd).toColumn(docResolver))
        .select("doc_id", "lang")
    },
      """SELECT doc_id, lang FROM documents
        |WHERE ' ' || lower(text) || ' ' LIKE '% spark %' AND ' ' || lower(text) || ' ' LIKE '% vector %'""".stripMargin),

    Query("f_phrase", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(FullText("text", "batch batch", ModePhrase(0)).toColumn(docResolver))
        .select("doc_id")
    },
      "SELECT doc_id FROM documents WHERE ' ' || lower(text) || ' ' LIKE '% batch batch %'"),

    Query("f_phrase_slop", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(FullText("text", "spark join", ModePhrase(1)).toColumn(docResolver))
        .select("doc_id")
    },
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(' ' || lower(text) || ' ', ' (spark( [a-z0-9]+){0} join|spark( [a-z0-9]+){1} join) ')""".stripMargin),

    Query("f_querylang", (s, d) => {
      val q = UserQueryParser.parse("lang:de AND (text:spark OR text:vector) AND NOT source:src3", Seq("text"))
      t(s, d, "documents").filter(q.toColumn(docResolver)).select("doc_id", "lang", "source")
    },
      """SELECT doc_id, lang, source FROM documents
        |WHERE lang = 'de'
        |  AND (' ' || lower(text) || ' ' LIKE '% spark %' OR ' ' || lower(text) || ' ' LIKE '% vector %')
        |  AND NOT source = 'src3'""".stripMargin),

    // ---- aggregations ---------------------------------------------------
    // Each `a_*` query below sends an ES `aggs` body through `_search`'s
    // aggregation compiler and reads the buckets back out of the rendered
    // JSON. Equal counts order by key DESCENDING, as the reference does.
    Query("a_terms", (s, d) =>
      termsRows(s, t(s, d, "events"), """{"terms": {"field": "event_type", "size": 3}}"""),
      """WITH c AS (SELECT event_type AS key, CAST(count(*) AS BIGINT) AS doc_count FROM events GROUP BY 1),
        |top AS (SELECT * FROM c ORDER BY doc_count DESC, key DESC LIMIT 3)
        |SELECT key, doc_count,
        |  CAST((SELECT sum(doc_count) FROM c) - (SELECT sum(doc_count) FROM top) AS BIGINT) AS sum_other_doc_count
        |FROM top""".stripMargin),

    // terms ordered by _key asc with min_doc_count filtering
    // (aggregation.md:542-560); dropped terms flow into sum_other_doc_count
    Query("a_terms_order", (s, d) =>
      termsRows(s, t(s, d, "events"),
        """{"terms": {"field": "event_type", "size": 3, "min_doc_count": 2,
          |  "order": {"_key": "asc"}}}""".stripMargin),
      """WITH c AS (SELECT event_type AS key, CAST(count(*) AS BIGINT) AS doc_count
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(doc_count) AS BIGINT) AS total FROM c),
        |k AS (SELECT key, doc_count FROM c WHERE doc_count >= 2
        |      ORDER BY key ASC LIMIT 3)
        |SELECT key, doc_count,
        |  (SELECT total FROM t) - CAST(sum(doc_count) OVER () AS BIGINT) AS sum_other_doc_count
        |FROM k""".stripMargin),

    // distributed terms with leaf truncation at split_size and
    // show_term_doc_count_error bounds (aggregation.md:495-534). split is a
    // deterministic event_id partition so the oracle mirrors the protocol
    // hash-exactly: split_size=5 per split, top-10 merge, per-bucket
    // err_upper = cutoffs of non-reporting splits.
    Query("a_terms_distributed", (s, d) =>
      Aggs.termsDistributed(t(s, d, "events"),
        split = pmod(col("event_id"), lit(4)), key = col("user_id"),
        size = 10, splitSize = 5),
      """WITH ps AS (SELECT event_id % 4 AS split, user_id AS key, count(*) AS cnt
        |            FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY split ORDER BY cnt DESC, key ASC) AS rn
        |           FROM ps),
        |kept AS (SELECT * FROM ranked WHERE rn <= 5),
        |cut AS (SELECT split, max(cnt) AS cutoff FROM ranked WHERE rn > 5 GROUP BY split),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ps),
        |totcut AS (SELECT COALESCE(CAST(sum(cutoff) AS BIGINT), 0) AS tc FROM cut),
        |merged AS (SELECT k.key, CAST(sum(k.cnt) AS BIGINT) AS doc_count,
        |                  CAST(sum(COALESCE(c.cutoff, 0)) AS BIGINT) AS seen_cut
        |           FROM kept k LEFT JOIN cut c USING (split) GROUP BY k.key
        |           ORDER BY doc_count DESC, key ASC LIMIT 10)
        |SELECT key, doc_count,
        |  (SELECT tc FROM totcut) - seen_cut AS err_upper,
        |  (SELECT total FROM tot) - CAST(sum(doc_count) OVER () AS BIGINT) AS sum_other_doc_count
        |FROM merged ORDER BY doc_count DESC, key ASC""".stripMargin),

    // histogram with tantivy's hard_bounds (closed-interval value clip) and
    // min_doc_count bucket pruning (aggregation.md:237-249)
    Query("a_histogram_bounds", (s, d) =>
      histogramRows(s, t(s, d, "events"),
        """{"histogram": {"field": "value", "interval": 50, "min_doc_count": 2,
          |  "hard_bounds": {"min": 50, "max": 300}}}""".stripMargin),
      """SELECT CAST(floor(value / 50.0) * 50.0 AS DOUBLE) AS key, CAST(count(*) AS BIGINT) AS doc_count
        |FROM events WHERE value >= 50.0 AND value <= 300.0
        |GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin),

    // min_doc_count 1: the oracle lists only non-empty buckets, where the
    // ES default of 0 would gap-fill an empty one between min and max
    Query("a_histogram", (s, d) =>
      histogramRows(s, t(s, d, "events"),
        """{"histogram": {"field": "value", "interval": 50, "min_doc_count": 1}}"""),
      """SELECT CAST(floor(value / 50.0) * 50.0 AS DOUBLE) AS key, CAST(count(*) AS BIGINT) AS doc_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // date_histogram always gap-fills; the events days are dense at every sf
    Query("a_date_histogram", (s, d) => {
      import s.implicits._
      buckets(aggBody(t(s, d, "events"),
        """{"date_histogram": {"field": "ts", "fixed_interval": "1d"}}"""))
        .map(b => (asLong(b("key")), asLong(b("doc_count")))).toDF("key", "doc_count")
        .withColumn("key", timestamp_millis(col("key")))
    },
      """SELECT make_timestamp(CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 AS BIGINT)) AS key,
        |  CAST(count(*) AS BIGINT) AS doc_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("a_range", (s, d) => {
      import s.implicits._
      buckets(aggBody(t(s, d, "events"),
        """{"range": {"field": "value",
          |  "ranges": [{"to": 50}, {"from": 50, "to": 150}, {"from": 150}]}}""".stripMargin))
        .map(b => (b("key").asInstanceOf[String], asLong(b("doc_count"))))
        .toDF("range_key", "doc_count")
    },
      """SELECT CASE WHEN value < 50.0 THEN '*-50.0'
        |            WHEN value >= 50.0 AND value < 150.0 THEN '50.0-150.0'
        |            ELSE '150.0-*' END AS range_key,
        |  CAST(count(*) AS BIGINT) AS doc_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // `stats` per event type: a terms bucket wide enough for every type
    // (5 at every sf), checked by its empty sum_other_doc_count
    Query("a_stats", (s, d) => {
      import s.implicits._
      val body = aggBody(t(s, d, "events"),
        """{"terms": {"field": "event_type", "size": 100},
          | "aggs": {"s": {"stats": {"field": "value"}}}}""".stripMargin)
      require(asLong(body("sum_other_doc_count")) == 0L, "a_stats: terms bucket truncated")
      buckets(body).map { b =>
        val st = b("s").asInstanceOf[JsonObj]
        def v(k: String) = st(k).asInstanceOf[Double]
        (b("key").asInstanceOf[String], asLong(st("count")), v("min"), v("max"), v("sum"), v("avg"))
      }.toDF("event_type", "count", "min", "max", "sum", "avg")
        .withColumn("sum", round(col("sum"), 4))
        .withColumn("avg", round(col("avg"), 4))
        .withColumn("min", round(col("min"), 4))
        .withColumn("max", round(col("max"), 4))
    },
      """SELECT event_type, CAST(count(value) AS BIGINT) AS count,
        |  round(min(value), 4) AS min, round(max(value), 4) AS max,
        |  round(sum(value), 4) AS sum, round(avg(value), 4) AS avg
        |FROM events GROUP BY event_type""".stripMargin),

    // control: Spark's `percentile`; the served sketch is a_percentiles_sketch
    Query("a_percentiles", (s, d) =>
      t(s, d, "events").agg(
        round(percentile(col("value"), lit(0.25)), 4).as("p25"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.75)), 4).as("p75"),
        round(percentile(col("value"), lit(0.95)), 4).as("p95")),
      """SELECT round(quantile_cont(value, 0.25), 4) AS p25,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.75), 4) AS p75,
        |  round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events""".stripMargin),

    // control: Spark's `percentile_approx` against its rank-error contract
    Query("a_percentiles_approx", (s, d) => {
      // sketch-based (aggregation.md:811-862). The sketch's picked elements
      // aren't SQL-mirrorable, but its CONTRACT is: the returned value's rank
      // must lie within n/accuracy of the target rank. Emit the rank-error
      // bound check (plus n) — the oracle asserts the same booleans.
      val ev = t(s, d, "events")
      val a = ev.agg(
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)).as("ap"),
        count(lit(1)).as("n"))
      def rankOk(p: Double, idx: Int): Column = {
        val le = sum(when(col("value") <= col("ap")(idx), 1L).otherwise(0L))
        val lt = sum(when(col("value") < col("ap")(idx), 1L).otherwise(0L))
        val target = lit(p) * max(col("n"))
        val err = max(col("n")).cast("double") / 10000.0 + 1.0
        le >= target - err && lt <= target + err
      }
      ev.crossJoin(broadcast(a)).agg(
        max(col("n")).as("n"),
        rankOk(0.5, 0).as("p50_ok"),
        rankOk(0.95, 1).as("p95_ok"))
    },
      "SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS p50_ok, TRUE AS p95_ok FROM events"),

    Query("a_percentiles_sketch", (s, d) => {
      // DDSketch percentiles — the ACTUAL estimator behind the reference's
      // `percentiles` aggregation (tantivy → sketches_ddsketch, bit-exact
      // per the EsAggsSpec goldens). Unlike percentile_approx's opaque
      // picks, the DDSketch estimate is a pure closed form over log-bucket
      // counts, so DuckDB mirrors the whole computation: key =
      // ceil(ln(v)/γln), cumulative-count walk to rank floor(q·(n−1)),
      // estimate 2·exp(k·γln)/(1+γ). Distributed shape: one groupBy of
      // (role, bin) pairs, windows only over per-role BIN histograms.
      val tr = transcripts(s, d).filter(col("text").isNotNull)
      val v = length(col("text")).cast("double")
      val p50 = operators.DdSketch.quantileByGroup(tr, col("role"), v, 0.5)
        .withColumnRenamed("value", "p50")
      val p95 = operators.DdSketch.quantileByGroup(tr, col("role"), v, 0.95)
        .withColumnRenamed("value", "p95")
      p50.join(p95, "grp")
        .select(col("grp").as("role"), round(col("p50"), 4).as("p50"),
                round(col("p95"), 4).as("p95"))
        .orderBy("role")
    }, TranscriptsCte + {
      // the exact doubles the Scala side uses, embedded via toString
      // (shortest-round-trip: DuckDB parses back the identical f64)
      val gl = operators.DdSketch.GammaLn
      val g = operators.DdSketch.Gamma
      s""", k AS (
         |  SELECT role, CAST(ceil(ln(CAST(length(text) AS DOUBLE)) / $gl) AS INT) AS key
         |  FROM transcripts WHERE text IS NOT NULL),
         |kc AS (SELECT role, key, CAST(count(*) AS BIGINT) AS c FROM k GROUP BY 1, 2),
         |cum AS (SELECT role, key,
         |               sum(c) OVER (PARTITION BY role ORDER BY key) AS cum,
         |               sum(c) OVER (PARTITION BY role) AS n
         |        FROM kc),
         |pick50 AS (SELECT role, min(key) AS key FROM cum WHERE cum > floor(0.5 * (n - 1)) GROUP BY role),
         |pick95 AS (SELECT role, min(key) AS key FROM cum WHERE cum > floor(0.95 * (n - 1)) GROUP BY role)
         |SELECT p50.role AS role,
         |       round(2.0 * exp(p50.key * $gl) / (1.0 + $g), 4) AS p50,
         |       round(2.0 * exp(p95.key * $gl) / (1.0 + $g), 4) AS p95
         |FROM pick50 p50 JOIN pick95 p95 ON p50.role = p95.role
         |ORDER BY role""".stripMargin
    }),

    // control: Spark's `countDistinct`
    Query("a_cardinality", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("user_cardinality"))
        .orderBy("event_type"),
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS user_cardinality
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // control: Spark's HLL; the served sketch is a_cardinality_splits
    Query("a_cardinality_approx", (s, d) =>
      // the reference's cardinality agg is sketch-based (postcard HLL);
      // approx_count_distinct is the Spark twin — oracle-checked via the
      // same bounds pattern as a_percentiles_approx (exact value + the
      // sketch's error-contract boolean)
      t(s, d, "events").groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("_approx"),
             countDistinct(col("user_id")).as("user_cardinality"))
        .select(col("event_type"), col("user_cardinality"),
          (abs(col("_approx") - col("user_cardinality")) <=
            col("user_cardinality") * 0.05 + 1).as("within_bounds"))
        .orderBy("event_type"),
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS user_cardinality,
        |  TRUE AS within_bounds
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("a_cardinality_splits", (s, d) => {
      // split-mergeable metadata path: per-split HLL sketches unioned at
      // query time (operators/SplitSketches.scala) — rows are hashed across
      // splits so users genuinely span them; oracle checks the sketch's
      // error contract against the exact count (a_percentiles_approx
      // pattern: exact values + contract boolean)
      val ev = t(s, d, "events")
      val perSplit = SplitSketches.buildPerSplit(
        ev, pmod(abs(hash(col("ts"))), lit(8)), col("user_id"))
      val est = SplitSketches.mergedEstimate(perSplit)
      val exact = ev.agg(count_distinct(col("user_id")).as("user_cardinality"),
        count(lit(1)).as("n_rows"))
      exact.crossJoin(broadcast(est.select(col("estimate"), col("n_rows").as("n2"))))
        .select(col("n_rows"), col("user_cardinality"),
          (col("n2") === col("n_rows")).as("rows_match"),
          (abs(col("estimate") - col("user_cardinality")) <=
            col("user_cardinality") * 0.05 + 1).as("within_bounds"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS user_cardinality,
        |  TRUE AS rows_match, TRUE AS within_bounds
        |FROM events""".stripMargin),

    Query("a_percentiles_splits", (s, d) => {
      // percentiles from MERGED per-split KLL sketch bytes (SplitSketches) —
      // the split-metadata read path; same rank-contract oracle as
      // a_percentiles_approx (KLL compaction is randomized, so the value
      // itself isn't mirrorable, its rank bound is)
      val ev = t(s, d, "events")
      val perSplit = SplitSketches.buildPerSplitQuantiles(
        ev, pmod(abs(hash(col("ts"))), lit(8)), col("value"))
      val a = SplitSketches.mergedQuantiles(perSplit, Seq(0.5, 0.95))
      def rankOk(p: Double, idx: Int): Column = {
        val le = sum(when(col("value") <= col(s"q$idx"), 1L).otherwise(0L))
        val lt = sum(when(col("value") < col(s"q$idx"), 1L).otherwise(0L))
        val target = lit(p) * max(col("n_rows"))
        // published KLL k=200 rank error ~1.65%; merged sketches stack a
        // compaction round — allow 5%
        val err = max(col("n_rows")).cast("double") * 0.05 + 1.0
        le >= target - err && lt <= target + err
      }
      ev.crossJoin(broadcast(a)).agg(
        max(col("n_rows")).as("n"),
        rankOk(0.5, 0).as("p50_ok"),
        rankOk(0.95, 1).as("p95_ok"))
    },
      "SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS p50_ok, TRUE AS p95_ok FROM events"),

    Query("a_terms_splits", (s, d) => {
      // terms agg from merged per-split frequent-terms sketch states — the
      // reference's leaf-partial → root-merge terms architecture
      // (collector.rs:416-437). maxItems far exceeds event_type's distinct
      // count, so no eviction happens and counts are EXACT ⇒ plain DuckDB
      // top-k oracle
      val ev = t(s, d, "events")
      val perSplit = SplitSketches.buildPerSplitTopTerms(
        ev, pmod(abs(hash(col("ts"))), lit(8)), col("event_type"))
      SplitSketches.mergedTopTerms(perSplit, k = 5)
        .orderBy(desc("doc_count"), asc("item"))
    },
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS doc_count
        |FROM events GROUP BY 1 ORDER BY doc_count DESC, item ASC LIMIT 5""".stripMargin),

    // control: a Spark groupBy; served sub-aggregations go through EsAggs
    Query("a_sub_agg", (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("month", col("ts")).as("month"), col("event_type"))
        .agg(count(lit(1)).as("doc_count"), round(avg(col("value")), 4).as("avg_value"))
        .orderBy("month", "event_type"),
      """SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month, event_type,
        |  CAST(count(*) AS BIGINT) AS doc_count, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("a_top_by_max_ts", (s, d) =>
      Aggs.topGroupsByMaxTs(t(s, d, "events").withColumn("key0", col("user_id")),
        col("key0"), col("ts"), 5),
      """SELECT user_id AS key, max(ts) AS max_ts FROM events
        |GROUP BY 1 ORDER BY max_ts DESC, key ASC LIMIT 5""".stripMargin),

    // control: a Spark count over lineitem
    Query("a_count_meta", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("total")),
      "SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem"),

    // ---- sort / limit / pagination --------------------------------------
    Query("k_topk", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "value")
      sourceRows(s, ev, EsApi.search(ev, noTextResolver, col("event_id"),
        """{"sort": [{"value": "desc"}, {"event_id": "asc"}], "size": 10}"""))
    },
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id ASC LIMIT 10"),

    // `_search` resuming strictly after a (value, event_id) cursor
    // (collector.rs:316-341)
    Query("k_search_after", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "value")
      sourceRows(s, ev, EsApi.search(ev, noTextResolver, col("event_id"),
        """{"sort": [{"value": "asc"}, {"event_id": "asc"}],
          | "search_after": [150.0, 500], "size": 10}""".stripMargin))
    },
      """SELECT event_id, value FROM events
        |WHERE value > 150.0 OR (value = 150.0 AND event_id > 500)
        |ORDER BY value ASC, event_id ASC LIMIT 10""".stripMargin),

    Query("k_offset", (s, d) =>
      Aggs.paginate(t(s, d, "events").select("event_id", "value"),
        Seq(col("event_id").asc), offset = 20, k = 10),
      "SELECT event_id, value FROM events ORDER BY event_id LIMIT 10 OFFSET 20"),

    Query("k_sort_missing_last", (s, d) =>
      // the reference's missing-value sort semantics (sort_orders golden
      // scenario): docs missing the sort field go LAST in BOTH directions —
      // asc is the case where Spark's bare orderBy would put them first
      transcripts(s, d).select("conv_id", "turn_idx", "tool")
        .orderBy(graft.queryast.EsSort.compile(
          Seq(col("tool") -> true),
          struct(col("conv_id"), col("turn_idx"))): _*)
        .limit(20),
      TranscriptsCte +
      """SELECT conv_id, turn_idx, tool FROM transcripts
        |ORDER BY tool ASC NULLS LAST, conv_id ASC, turn_idx ASC
        |LIMIT 20""".stripMargin),

    Query("k_search_after_full", (s, d) => {
      // the reference's FULL cursor shape: (sort value, …, forced doc tie)
      // as an N-part lexicographic resume (collector.rs:316-341). Two user
      // sort criteria is the cap, so the doc tie rides the scroll hooks: a
      // trailing event_id sort and the stored three-part cursor.
      val ev = t(s, d, "events").select("event_id", "event_type", "value")
      sourceRows(s, ev, EsApi.searchPage(ev, noTextResolver, col("event_id"),
        """{"sort": [{"event_type": "asc"}, {"value": "asc"}], "size": 10}""",
        cursorOverride = Some(Seq("error", 100.0, 500L)),
        extraSort = Seq("event_id" -> true), includeAggs = false).rendered)
    },
      """SELECT event_id, event_type, value FROM events
        |WHERE (event_type, value, event_id) > ('error', 100.0, 500)
        |ORDER BY event_type, value, event_id LIMIT 10""".stripMargin),

    // ---- tokenizers ------------------------------------------------------
    Query("t_tokens", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(Tokenizers.default(col("text"))).as("token")),
      """SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token FROM documents)
        |WHERE token <> ''""".stripMargin),

    Query("t_term_stats", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(Tokenizers.default(col("text"))).as("token"))
        .groupBy("doc_id")
        .agg(countDistinct(col("token")).as("term_cardinality"),
             count(lit(1)).as("postings_count")),
      """SELECT doc_id, CAST(count(DISTINCT token) AS BIGINT) AS term_cardinality,
        |  CAST(count(*) AS BIGINT) AS postings_count
        |FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token FROM documents)
        |WHERE token <> '' GROUP BY doc_id""".stripMargin),

    Query("t_list_terms", (s, d) =>
      t(s, d, "documents")
        .select(explode(Tokenizers.default(col("text"))).as("token"))
        .filter(col("token") >= "p" && col("token") < "t")
        .distinct().orderBy("token").limit(20),
      """SELECT DISTINCT token FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token FROM documents)
        |WHERE token >= 'p' AND token < 't' ORDER BY token LIMIT 20""".stripMargin),

    // ---- joins / enrichment / union -------------------------------------
    // control: TPC-H broadcast joins; the served enrich is pipe_route_agg
    Query("j_enrich", (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), round(avg(col("c_acctbal")), 4).as("avg_acctbal"))
        .orderBy("r_name"),
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers, round(avg(c_acctbal), 4) AS avg_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // control: a Spark union; the served multi-index search is es_msearch_ndjson
    Query("j_union_multi_index", (s, d) => {
      val ev = t(s, d, "events")
      ev.filter(col("event_type") === "error")
        .unionByName(ev.filter(col("event_type") === "signup"))
        .groupBy("event_type").agg(count(lit(1)).as("doc_count"))
        .orderBy("event_type")
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS doc_count FROM (
        |  SELECT * FROM events WHERE event_type = 'error'
        |  UNION ALL SELECT * FROM events WHERE event_type = 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ES index-id pattern resolution (IndexPatterns): `idx-src1*,idx-src5`
    // resolved against per-source index ids via the reference's exact
    // glob→regex rendition, then per-index doc counts — the `_search` on
    // `logs-*`-style multi-index targets.
    Query("j_union_patterns", (s, d) =>
      t(s, d, "documents")
        .withColumn("index_id", concat(lit("idx-"), col("source")))
        .filter(graft.queryast.IndexPatterns.matchColumn(
          Seq("idx-src1*", "idx-src5"), col("index_id")))
        .groupBy("index_id").agg(count(lit(1)).as("n_docs"))
        .orderBy("index_id"),
      """SELECT 'idx-' || source AS index_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE regexp_matches('idx-' || source, '^idx\-src1.*$')
        |   OR regexp_matches('idx-' || source, '^idx\-src5$')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- dedup -----------------------------------------------------------
    Query("d_exact", (s, d) =>
      Dedup.exact(t(s, d, "documents"), col("doc_id"), col("text")),
      """SELECT text AS text_key, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text""".stripMargin),

    // Exact duplicated-substring stats (Lee et al. 2021 suffix-array dedup
    // re-expressed as window fingerprints): per doc, how many 8-token
    // windows repeat corpus-wide and the merged duplicated-token coverage
    // a span-removal pass would cut. DuckDB recomputes with gram STRINGS
    // as keys (the operator shuffles xxhash64 keys — same answer).
    Query("d_span_dup", (s, d) =>
      Dedup.duplicatedSpanStats(t(s, d, "documents"), col("doc_id"), col("text"), L = 8)
        .orderBy("doc_id"),
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sized AS (SELECT doc_id, tk, len(tk) AS n FROM base),
        |wins AS (
        |  SELECT doc_id, i - 1 AS w_pos, array_to_string(list_slice(tk, i, i + 7), ' ') AS gram
        |  FROM sized, unnest(generate_series(1, n - 7)) t(i)
        |  WHERE n >= 8),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
        |dpos AS (SELECT w.doc_id, w.w_pos FROM wins w JOIN dup USING (gram)),
        |contrib AS (
        |  SELECT doc_id,
        |    coalesce(least(8, lead(w_pos) OVER (PARTITION BY doc_id ORDER BY w_pos) - w_pos), 8) AS c
        |  FROM dpos),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
        |               CAST(sum(c) AS BIGINT) AS dup_tokens
        |        FROM contrib GROUP BY doc_id)
        |SELECT s.doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(greatest(n - 7, 0) AS BIGINT) AS total_windows,
        |  coalesce(dup_windows, 0) AS dup_windows,
        |  coalesce(dup_tokens, 0) AS dup_tokens
        |FROM sized s LEFT JOIN agg USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin),

    Query("d_token_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents").withColumn("tokens", array_distinct(Tokenizers.default(col("text")))),
        col("doc_id"), col("tokens"), struct(col("lang"), col("source")), n = 1, threshold = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("doc_id1", "doc_id2"),
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, lang, source, token FROM (
        |    SELECT doc_id, lang, source, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
        |    FROM documents) WHERE token <> ''),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, CAST(count(*) AS BIGINT) AS i
        |  FROM toks a JOIN toks b
        |    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id1, doc_id2,
        |  round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |FROM inter JOIN sizes s1 ON doc_id1 = s1.doc_id JOIN sizes s2 ON doc_id2 = s2.doc_id
        |WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.8
        |ORDER BY doc_id1, doc_id2""".stripMargin),

    // pair detection → CLUSTERS: connected components over the verified
    // jaccard pairs, canonical rep = min doc id per component. The oracle
    // mirrors min-label propagation with unrolled rounds (components from
    // prefix-filtered pair generation are near-cliques; 8 rounds covers
    // diameter 8, and the Spark side THROWS if genuinely unconverged).
    Query("d_dup_clusters", (s, d) => {
      val pairs = Dedup.ngramJaccardPairs(
        t(s, d, "documents").withColumn("tokens", array_distinct(Tokenizers.default(col("text")))),
        col("doc_id"), col("tokens"), struct(col("lang"), col("source")),
        n = 1, threshold = 0.8)
      Dedup.connectedComponents(pairs).orderBy("doc_id")
    }, {
      val pairsCte =
        """WITH toks AS (
          |  SELECT DISTINCT doc_id, lang, source, token FROM (
          |    SELECT doc_id, lang, source, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
          |    FROM documents) WHERE token <> ''),
          |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, CAST(count(*) AS BIGINT) AS i
          |  FROM toks a JOIN toks b
          |    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |pairs AS MATERIALIZED (
          |  SELECT doc_id1, doc_id2 FROM inter
          |  JOIN sizes s1 ON doc_id1 = s1.doc_id JOIN sizes s2 ON doc_id2 = s2.doc_id
          |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.8),
          |edges AS MATERIALIZED (
          |  SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
          |  UNION SELECT doc_id2, doc_id1 FROM pairs
          |  UNION SELECT doc_id1, doc_id1 FROM pairs   -- self-loops: min over
          |  UNION SELECT doc_id2, doc_id2 FROM pairs), -- nbrs includes own rep
          |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS rep FROM edges)""".stripMargin
      // one reference to the previous level per round (self-loops carry the
      // node's own rep), keeping the inlined-CTE plan LINEAR in rounds
      val rounds = (1 to 8).map(k =>
        s""",
           |l$k AS MATERIALIZED (
           |  SELECT e.a AS node, min(n.rep) AS rep
           |  FROM edges e JOIN l${k - 1} n ON n.node = e.b GROUP BY e.a)""".stripMargin).mkString
      pairsCte + rounds + "\nSELECT node AS doc_id, rep FROM l8 ORDER BY doc_id"
    }),

    Query("d_minhash_lsh", (s, d) =>
      // LSH candidate generation + exact shingle-Jaccard verify: the output
      // depends only on the shingle sets (oracle recomputes the same pair
      // set in SQL); est-vs-true accuracy is pinned in DedupSpec.
      // COST NOTE: ~3x the r1 variant at sf0.1 — r1 emitted signature-hash
      // pairs with NO oracle (rows-only); the exact-verify layer that makes
      // this DuckDB-checkable is the price, and it runs only on the
      // est>=0.6-prefiltered survivors (unfiltered form cost 449 s).
      Dedup.minhashVerifiedDups(t(s, d, "documents"), col("doc_id"), col("text"),
        shingleK = 5, numHashes = 32, bands = 8, threshold = 0.9)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("doc_id1", "doc_id2"),
      """WITH norm AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substr(nt, CAST(i AS INT), 5) AS g
        |       FROM norm, unnest(generate_series(1, strlen(nt) - 4)) t(i)
        |       WHERE strlen(nt) >= 5),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, CAST(count(*) AS BIGINT) AS i
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_id1, doc_id2, round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |FROM inter JOIN sizes s1 ON doc_id1 = s1.doc_id JOIN sizes s2 ON doc_id2 = s2.doc_id
        |WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.9
        |ORDER BY 1, 2""".stripMargin),

    // Fully oracle-checked (r3): the fingerprints run on md5Hash64, which
    // DuckDB can recompute bit-for-bit (md5 + hex-cast + xor + bit_count),
    // so the oracle mirrors the WHOLE pipeline — fingerprint, 16-bit-block
    // candidate join, hamming<=3 — and the check is exact pair-set equality
    // of the hamming operator itself. (r2 was rows-only because xxhash64
    // has no SQL mirror; a jaccard ground-truth oracle is NOT equivalent —
    // measured on this corpus, ~2000 token-jaccard>=0.95 pairs spread to
    // hamming 28, i.e. simhash-hamming is a different, frequency-weighted
    // similarity.) Production runs keep the xxhash64 default: same plan,
    // ~5x cheaper per token.
    Query("d_simhash", (s, d) =>
      Dedup.simhashNearDups(
        t(s, d, "documents").withColumn("tokens", Tokenizers.default(col("text"))),
        col("doc_id"), col("tokens"), maxHamming = 3, tokenHash = Dedup.md5Hash64)
        .orderBy("doc_id1", "doc_id2"),
      // SQL mirror of the md5-hashed simhash pipeline: same 64-bit token hash
      // (md5 prefix as signed two-halves), same sign-sum fingerprint, same
      // 16-bit pigeonhole blocks, same hamming cut. Signed arithmetic notes:
      // hi is re-signed before <<32 so the product stays in BIGINT; bit 63 is
      // added as long-min; >> is sign-extending on both engines but the
      // &65535 mask extracts identical bit windows either way.
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tk
        |  FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |        CAST(('0x' || substr(md5(tk), 9, 8)) AS BIGINT) AS lo
        |      FROM tok WHERE tk <> ''),
        |hh AS (SELECT doc_id,
        |        (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS h64
        |       FROM h),
        |bits AS (SELECT doc_id, b,
        |          sum(CASE WHEN ((h64 >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM hh, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2),
        |fp0 AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN s > 0 THEN
        |            CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << CAST(b AS INT)) END
        |          ELSE 0 END) AS BIGINT) AS fp
        |        FROM bits GROUP BY doc_id),
        |fp AS (SELECT d.doc_id, COALESCE(f.fp, 0) AS fp
        |       FROM (SELECT DISTINCT doc_id FROM documents) d
        |       LEFT JOIN fp0 f USING (doc_id)),
        |blocks AS (SELECT doc_id, fp, b AS block_idx, (fp >> CAST(b * 16 AS INT)) & 65535 AS block_val
        |           FROM fp, unnest(generate_series(0, 3)) t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |                a.fp AS fp1, b.fp AS fp2
        |         FROM blocks a JOIN blocks b
        |           ON a.block_idx = b.block_idx AND a.block_val = b.block_val
        |          AND a.doc_id < b.doc_id)
        |SELECT doc_id1, doc_id2, CAST(bit_count(xor(fp1, fp2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(fp1, fp2)) <= 3
        |ORDER BY 1, 2""".stripMargin),

    // ---- similarity search ----------------------------------------------
    // All three cast embeddings to double so cos matches DuckDB's
    // list_cosine_similarity at 4 decimals (same precedent as
    // d_embed_cosine). The approximate variants are oracle-checked against
    // the EXACT top-k. NOTE on probe widths: the test embeddings are
    // isotropic (max pairwise cos ≈ 0.5 — nearest neighbors sit in the
    // noise floor), so total recall honestly requires wide probing
    // (LSH 2 bits × 16 independent tables; IVF 14 of 16 lists); on clustered
    // real corpora the same plans run with far narrower probes —
    // SimilaritySpec pins the recall/width trade-off.
    Query("sim_ann_brute", (s, d) => {
      val (corpus, queries) = annInputs(s, d)
      Similarity.bruteForceTopK(corpus, queries, k = 3)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "rank")
    },
      AnnExactTopKSql),

    Query("sim_ann_lsh", (s, d) => {
      val (corpus, queries) = annInputs(s, d)
      Similarity.lshTopK(corpus, queries, k = 3, bits = 2, tables = 16)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "rank")
    },
      AnnExactTopKSql),

    Query("sim_ann_ivf", (s, d) => {
      val (corpus, queries) = annInputs(s, d)
      Similarity.ivfTopK(corpus, queries, k = 3, nlist = 16, nprobe = 14)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy("query_id", "rank")
    },
      AnnExactTopKSql),

    // ---- BM25 _score ranking (K1: default hit order of the reference) ----
    Query("k_topk_score", (s, d) =>
      Scoring.topKByScore(t(s, d, "documents"), col("doc_id"), col("text"),
        Seq("spark", "vector"), k = 10)
        .withColumn("score", round(col("score"), 4)),
      """WITH tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
        |  WHERE term <> ''),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |       WHERE term IN ('spark', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |          * (tf.tf * (1.2 + 1.0))
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, round(sum(w), 4) AS score
        |FROM w GROUP BY doc_id ORDER BY sum(w) DESC, doc_id ASC LIMIT 10""".stripMargin),

    // tantivy-exact variant: per-doc dl passes through the lossy byte
    // fieldnorm codec (Lucene SmallFloat byte-4) before the norm term —
    // the oracle mirrors the codec bit-for-bit with DuckDB's bin()
    Query("k_topk_score_fieldnorm", (s, d) =>
      Scoring.topKByScore(t(s, d, "documents"), col("doc_id"), col("text"),
        Seq("spark", "vector"), k = 10, quantizeNorms = true)
        .withColumn("score", round(col("score"), 4)),
      """WITH tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
        |  WHERE term <> ''),
        |dl0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl0),
        |dl AS (SELECT doc_id,
        |         CASE WHEN dl < 32 THEN dl
        |              ELSE 24 + (((((dl - 24) >> (length(bin(dl - 24)) - 4)) & 7) | 8)
        |                        << (length(bin(dl - 24)) - 4)) END AS dl
        |       FROM dl0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |       WHERE term IN ('spark', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |          * (tf.tf * (1.2 + 1.0))
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, round(sum(w), 4) AS score
        |FROM w GROUP BY doc_id ORDER BY sum(w) DESC, doc_id ASC LIMIT 10""".stripMargin),

    // ---- fetch-phase snippets (fetch_docs.rs:50-130) ---------------------
    Query("k_doc_fetch_snippets", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(Term("text", "spark").toColumn(docResolver))
        .orderBy("doc_id").limit(5)
        .select(col("doc_id"),
          Snippets.snippet(col("text"), "spark", 30).as("snippet_spark"),
          Snippets.snippet(col("text"), "vector", 30).as("snippet_vector"))
    },
      """SELECT doc_id,
        |  CASE WHEN regexp_extract(text, '(?i)(.{0,30})(spark)(.{0,30})', 2) <> ''
        |       THEN regexp_extract(text, '(?i)(.{0,30})(spark)(.{0,30})', 1) || '<b>'
        |            || regexp_extract(text, '(?i)(.{0,30})(spark)(.{0,30})', 2) || '</b>'
        |            || regexp_extract(text, '(?i)(.{0,30})(spark)(.{0,30})', 3) END AS snippet_spark,
        |  CASE WHEN regexp_extract(text, '(?i)(.{0,30})(vector)(.{0,30})', 2) <> ''
        |       THEN regexp_extract(text, '(?i)(.{0,30})(vector)(.{0,30})', 1) || '<b>'
        |            || regexp_extract(text, '(?i)(.{0,30})(vector)(.{0,30})', 2) || '</b>'
        |            || regexp_extract(text, '(?i)(.{0,30})(vector)(.{0,30})', 3) END AS snippet_vector
        |FROM documents
        |WHERE ' ' || lower(text) || ' ' LIKE '% spark %'
        |ORDER BY doc_id LIMIT 5""".stripMargin),

    // ---- doc fetch phase (K7): top-k ids → fetch stored columns ----------
    // `_source` is the fetch phase: the top hits' stored columns
    Query("k_doc_fetch", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "event_type", "user_id", "value")
      sourceRows(s, ev, EsApi.search(ev, noTextResolver, col("event_id"),
        """{"sort": [{"value": "desc"}, {"event_id": "asc"}], "size": 5}"""))
    },
      """WITH top AS (SELECT event_id FROM events ORDER BY value DESC, event_id ASC LIMIT 5)
        |SELECT e.event_id, e.event_type, e.user_id, e.value
        |FROM events e JOIN top USING (event_id) ORDER BY e.event_id""".stripMargin),

    // ---- text analysis ---------------------------------------------------
    Query("x_quality", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(Tokenizers.default(col("text"))).cast("long").as("n_tokens"),
        round(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
              length(col("text")), 4).as("digit_ratio")),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 4) AS digit_ratio
        |FROM documents""".stripMargin),

    Query("x_token_count", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens")),
      """SELECT doc_id,
        |  CAST(length(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens
        |FROM documents""".stripMargin),

    Query("x_langid", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n")).orderBy("lang_pred"),
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tk
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, p.lang, len(list_intersect(tk, p.words)) AS score
        |  FROM toks, (VALUES
        |    ('de', ['der','die','das','und','ist','nicht','ein','mit','auf','zu']),
        |    ('en', ['the','and','of','to','in','is','that','it','was','for']),
        |    ('es', ['el','la','los','y','es','no','una','por','con','para']),
        |    ('fr', ['le','la','les','et','est','pas','une','pour','dans','que'])) p(lang, words)),
        |best AS (
        |  SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM scored)
        |SELECT CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("x_fingerprint", (s, d) =>
      // the fingerprint VALUE is xxhash64-chained (not SQL-mirrorable), but
      // its equality classes must coincide with token-sequence equality —
      // emit each doc's group representative; the oracle partitions by the
      // token sequence itself. A collision would break the match.
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .withColumn("group_rep", min("doc_id").over(Window.partitionBy(col("fp"))))
        .select("doc_id", "group_rep"),
      """SELECT doc_id,
        |  CAST(min(doc_id) OVER (PARTITION BY array_to_string(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS BIGINT) AS group_rep
        |FROM documents""".stripMargin),

    Query("x_bpe_tokens", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens")),
      """SELECT doc_id, CAST(
        |  coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> CAST(ceil(strlen(x) / 4.0) AS BIGINT))), 0)
        |  + coalesce(list_sum(list_transform(regexp_extract_all(text, '[0-9]+'), x -> CAST(ceil(strlen(x) / 4.0) AS BIGINT))), 0)
        |  + strlen(text) - strlen(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |  AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin),

    Query("x_quality_score", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")),
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_intersect(
        |      list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')),
        |      ['der','die','das','und','ist','nicht','ein','mit','auf','zu',
        |       'the','and','of','to','in','is','that','it','was','for',
        |       'el','la','los','y','es','no','una','por','con','para',
        |       'le','les','et','est','pas','une','pour','dans','que'])) AS DOUBLE) AS stop_hits,
        |    CAST(strlen(text) AS DOUBLE) AS n_chars,
        |    CAST(strlen(text) - strlen(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(strlen(text) - strlen(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok > 0 THEN round(stop_hits / n_tok, 4) ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_chars > 0 THEN round(punct / n_chars, 4) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN round(digits / n_chars, 4) ELSE 0.0 END AS digit_ratio
        |  FROM f)
        |SELECT doc_id, round(greatest(0.0, least(1.0,
        |    least(n_tok / 100.0, 1.0) * 0.4
        |  + least(stop_ratio * 4.0, 1.0) * 0.4
        |  + (1.0 - greatest(punct_ratio, digit_ratio) * 2.0) * 0.2)), 4) AS quality
        |FROM r""".stripMargin),

    // Gopher-style document quality gate (QualityFilters.gopherRules): raw
    // features + per-rule booleans, all codegen'd column exprs — the filter
    // pass an LLM ingest runs between parse and dedup.
    Query("x_gopher_quality", (s, d) => {
      val r = QualityFilters.gopherRules(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        r.getField("word_count").as("word_count"),
        round(r.getField("mean_word_len"), 4).as("mean_word_len"),
        round(r.getField("alpha_word_frac"), 4).as("alpha_word_frac"),
        r.getField("stop_hits").as("stop_hits"),
        r.getField("ok_word_count").as("ok_word_count"),
        r.getField("ok_mean_word_len").as("ok_mean_word_len"),
        r.getField("ok_symbol_ratio").as("ok_symbol_ratio"),
        r.getField("ok_stopwords").as("ok_stopwords"),
        r.getField("keep").as("keep"))
    },
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
        |    text FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS word_count,
        |    CASE WHEN len(ws) = 0 THEN 0.0
        |         ELSE CAST(list_aggregate(list_transform(ws, x -> strlen(x)), 'sum') AS DOUBLE) / len(ws) END AS mean_word_len,
        |    CASE WHEN len(ws) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws) END AS alpha_word_frac,
        |    CAST(len(list_intersect(ws, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
        |    CASE WHEN len(ws) = 0 THEN 0.0
        |         ELSE CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) / len(ws) END AS symbol_ratio
        |  FROM w)
        |SELECT doc_id, word_count,
        |  round(mean_word_len, 4) AS mean_word_len,
        |  round(alpha_word_frac, 4) AS alpha_word_frac,
        |  stop_hits,
        |  (word_count >= 50 AND word_count <= 100000) AS ok_word_count,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
        |  (symbol_ratio <= 0.1) AS ok_symbol_ratio,
        |  (stop_hits >= 2) AS ok_stopwords,
        |  (word_count >= 50 AND word_count <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND stop_hits >= 2
        |    AND alpha_word_frac >= 0.8) AS keep
        |FROM f""".stripMargin),

    // Repetition removal signals (Gopher A.1.1) over per-conversation
    // rollups: each turn text is a "line" of the conversation document.
    // Stays one shuffle (the groupBy) — fractions are array exprs after.
    Query("x_repetition", (s, d) => {
      val ls = transcripts(s, d).filter(col("text").isNotNull)
        .groupBy("conv_id")
        .agg(transform(sort_array(collect_list(struct(col("turn_idx"), col("text")))),
          x => x.getField("text")).as("ls"))
      ls.select(col("conv_id"),
        size(col("ls")).cast("long").as("n_lines"),
        round(QualityFilters.duplicateLineFraction(col("ls")), 4).as("dup_line_frac"),
        round(QualityFilters.duplicateLineCharFraction(col("ls")), 4).as("dup_char_frac"))
    },
      TranscriptsCte +
      """, l AS (SELECT conv_id, text FROM transcripts WHERE text IS NOT NULL),
        |a AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT text) AS BIGINT) AS nd,
        |             CAST(sum(strlen(text)) AS DOUBLE) AS chars
        |      FROM l GROUP BY conv_id),
        |dc AS (SELECT conv_id, CAST(sum(strlen(text)) AS DOUBLE) AS dchars
        |       FROM (SELECT DISTINCT conv_id, text FROM l) GROUP BY conv_id)
        |SELECT a.conv_id, a.n AS n_lines,
        |  round((a.n - a.nd) * 1.0 / a.n, 4) AS dup_line_frac,
        |  round((a.chars - dc.dchars) / a.chars, 4) AS dup_char_frac
        |FROM a JOIN dc ON a.conv_id = dc.conv_id""".stripMargin),

    // Top-2-gram character coverage (Gopher's top-n-gram fraction): a real
    // distributed agg — explode to (doc, gram), count, max(cnt·len) — that
    // shuffles gram triples, never document text. Integer outputs keep the
    // oracle hash exact.
    Query("x_top_bigram", (s, d) =>
      QualityFilters.topBigramCover(t(s, d, "documents"), "doc_id", "text"),
      """WITH w AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_chars,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, n_chars,
        |        unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram
        |      FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(max(cnt * strlen(gram)) AS BIGINT) AS covered_chars, n_chars
        |FROM c GROUP BY doc_id, n_chars""".stripMargin),

    // FULL Gopher A.1.1 n-gram repetition family: top-{2,3,4}-gram char
    // fraction + duplicated-{5..10}-gram char coverage with overlapping
    // occurrences union-merged (never double-counted). A deterministic
    // 9-word phrase is appended doc_id%4 times so 2+ repeats create real
    // duplicated 5..9-grams for the oracle to verify the union logic on.
    // Pure per-row column exprs — zero shuffle at any scale.
    Query("x_dup_ngrams", (s, d) => {
      val rep = concat_ws(" ", col("text"), rtrim(repeat(
        lit(DupNgramPhrase + " "), pmod(col("doc_id"), lit(4)).cast("int"))))
      QualityFilters.ngramRepetition(t(s, d, "documents"), "doc_id", rep)
        .select(col("doc_id") +:
          (DupNgramFracs.map(f => round(col(f), 4).as(f)) :+ col("keep")): _*)
    },
      dupNgramsOracleSql),

    // PII redaction over documents with DETERMINISTICALLY injected PII
    // (the oracle re-injects the identical strings): emails, then IPv4s,
    // then phone-shaped runs, with typed tags.
    Query("x_pii_redact", (s, d) => {
      val injected = t(s, d, "documents").withColumn("text2", concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".5")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(lit(" call 555-123-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      val c = QualityFilters.piiCounts(col("text2"))
      injected.select(col("doc_id"),
        QualityFilters.redactPii(col("text2")).as("redacted"),
        c.getField("n_emails").as("n_emails"),
        c.getField("n_ips").as("n_ips"),
        c.getField("n_phones").as("n_phones"))
    },
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.5' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS text2
        |  FROM documents),
        |step AS (
        |  SELECT doc_id, text2,
        |    regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email
        |  FROM inj),
        |step2 AS (
        |  SELECT doc_id, text2, no_email,
        |    regexp_replace(no_email, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS no_ip
        |  FROM step)
        |SELECT doc_id,
        |  regexp_replace(no_ip, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_email, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(no_ip, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phones
        |FROM step2""".stripMargin),

    // C4 cleaning (Raffel et al. 2020 §2.2): line rules (terminal punct /
    // ≥3 words / "javascript") + page rules ("lorem ipsum" / curly brace /
    // ≥5 sentences) over multi-line pages constructed deterministically
    // from each document — the oracle builds the identical page. Pure
    // column exprs: whole-stage codegen, zero shuffle at any scale.
    Query("x_c4_clean", (s, d) => {
      val r = QualityFilters.c4Clean(c4Page(col("doc_id"), col("text")))
      t(s, d, "documents").select(col("doc_id"),
        r.getField("n_lines").as("n_lines"),
        r.getField("n_kept_lines").as("n_kept_lines"),
        r.getField("n_sentences").as("n_sentences"),
        r.getField("keep_page").as("keep_page"),
        r.getField("cleaned").as("cleaned"))
    },
      """WITH pages AS (
        |  SELECT doc_id,
        |    text || '.' || chr(10) ||
        |    rtrim(repeat('All work and no play makes a dull page. ', CAST(doc_id % 7 AS INT))) || chr(10) ||
        |    'no terminal punctuation on this line' || chr(10) ||
        |    'Tiny line.' || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to view this content.' ELSE '' END || chr(10) ||
        |    CASE WHEN doc_id % 13 = 0 THEN 'Lorem ipsum dolor sit amet.' ELSE '' END || chr(10) ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'var cfg = {enabled: true};' ELSE '' END AS page
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, page, string_split(page, chr(10)) AS ls FROM pages),
        |keptl AS (
        |  SELECT doc_id, page, ls,
        |    list_filter(ls, l -> regexp_matches(rtrim(l), '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'), w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kl
        |  FROM lines),
        |sent AS (
        |  SELECT doc_id, page, ls, kl,
        |    CAST(coalesce(list_sum(list_transform(kl, l -> len(regexp_extract_all(l, '[.!?]')))), 0) AS BIGINT) AS n_sentences
        |  FROM keptl)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kl) AS BIGINT) AS n_kept_lines,
        |  n_sentences,
        |  (NOT contains(lower(page), 'lorem ipsum') AND NOT contains(page, '{')
        |    AND n_sentences >= 5) AS keep_page,
        |  array_to_string(kl, chr(10)) AS cleaned
        |FROM sent""".stripMargin),

    // C4-style URL/domain blocklist filtering: URLs are injected
    // deterministically (every 7th doc an ad tracker, every 11th a docs
    // link), extracted by regex, and the HOST is checked against a
    // blocklist via a BROADCAST join — the shape a real million-domain
    // blocklist takes at 100 TB (blocklist broadcast, text never
    // shuffles; the per-doc rollup is one partial-agg shuffle of
    // (doc_id, counts)).
    // control: regex + broadcast join, no engine operator
    Query("x_url_blocklist", (s, d) => {
      val injected = t(s, d, "documents").withColumn("text2", concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" visit http://ads"), pmod(col("doc_id"), lit(50)).cast("string"),
            lit(".example.com/track?id="), col("doc_id").cast("string"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" docs at https://docs"), pmod(col("doc_id"), lit(30)).cast("string"),
            lit(".example.org/guide"))).otherwise(lit(""))))
      val urls = regexp_extract_all(col("text2"), lit("https?://[A-Za-z0-9.-]+[^\\s]*"), lit(0))
      val ex = injected.select(col("doc_id"), explode_outer(urls).as("url"))
        .withColumn("host", regexp_extract(col("url"), "^https?://([A-Za-z0-9.-]+)", 1))
      // even-numbered ad hosts are blocked (deterministic oracle twin)
      val block = s.range(0, 50).filter(pmod(col("id"), lit(2)) === 0)
        .select(concat(lit("ads"), col("id").cast("string"), lit(".example.com")).as("bhost"))
      ex.join(broadcast(block), ex("host") === block("bhost"), "left")
        .groupBy("doc_id")
        .agg(count(col("url")).as("n_urls"),
          count(col("bhost")).as("n_blocked"))
        .withColumn("keep", col("n_blocked") === 0L)
    },
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' visit http://ads' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/track?id=' || CAST(doc_id AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' docs at https://docs' || CAST(doc_id % 30 AS VARCHAR) || '.example.org/guide' ELSE '' END AS text2
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text2, 'https?://[A-Za-z0-9.-]+[^\s]*')) AS url FROM inj),
        |h AS (SELECT doc_id, url, regexp_extract(url, '^https?://([A-Za-z0-9.-]+)', 1) AS host FROM u),
        |b AS (SELECT 'ads' || CAST(i AS VARCHAR) || '.example.com' AS bhost FROM range(0, 50, 2) t(i)),
        |agg AS (
        |  SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_urls,
        |         CAST(count(b.bhost) AS BIGINT) AS n_blocked
        |  FROM h LEFT JOIN b ON h.host = b.bhost GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_urls, 0) AS n_urls,
        |  coalesce(a.n_blocked, 0) AS n_blocked,
        |  coalesce(a.n_blocked, 0) = 0 AS keep
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin),

    // Benchmark decontamination (Decontaminate.contamination): flag docs
    // sharing any word 5-gram with a "benchmark" corpus — here the first 30
    // words of every 17th doc, so the oracle can rebuild the identical set.
    // Bench grams broadcast; training grams never shuffle.
    Query("x_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(concat_ws(" ", slice(QualityFilters.words(col("text")), 1, 30)).as("btext"))
      Decontaminate.contamination(docs, "doc_id", "text", bench, "btext", 5)
    },
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(ws) < 5 THEN []
        |    ELSE list_transform(range(1, len(ws) - 3),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) END) AS grams
        |  FROM w),
        |bg AS (
        |  SELECT DISTINCT unnest(grams) AS gram
        |  FROM (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 5 THEN []
        |          ELSE list_transform(range(1, len(ws) - 3),
        |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) END) AS grams
        |        FROM (SELECT doc_id, ws[1:30] AS ws FROM w WHERE doc_id % 17 = 0))),
        |hits AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g) t JOIN bg USING (gram)
        |  GROUP BY t.doc_id)
        |SELECT g.doc_id,
        |  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
        |  coalesce(hits.n, 0) > 0 AS contaminated
        |FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id""".stripMargin),

    // The composed training-data curation flagship: quality gate → prefix
    // dedup (min-doc_id representative per leading 12-token prefix, the
    // boilerplate-prefix dedup a crawl corpus runs) → benchmark 5-gram
    // decontamination → per-source corpus stats, all ONE declarative plan.
    // Catalyst pushes the gate into the scan, the dedup groupBy is the only
    // wide shuffle (keyed by a short prefix, never full text), the
    // benchmark grams stay broadcast, and both id-joins are left_semi on a
    // long key — the shape a 100 TB curation run needs. Each stage reuses
    // logic a standalone query already oracle-checks (x_quality_score,
    // d_exact's min-id pattern, x_decontaminate, x_token_count); this query
    // checks their COMPOSITION. (The gate is the score, not Gopher's keep:
    // the synthetic corpus has no English stopwords, so Gopher's
    // stopword rule — exercised standalone in x_gopher_quality — would
    // zero the pipeline.)
    Query("x_curate_e2e", (s, d) => {
      val docs = t(s, d, "documents")
      val kept = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.35)
      val pfx = concat_ws(" ", slice(QualityFilters.words(lower(col("text"))), 1, 12))
      val reps = kept.groupBy(pfx.as("_pfx")).agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = kept.join(reps, Seq("doc_id"), "left_semi")
      val bench = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(concat_ws(" ", slice(QualityFilters.words(col("text")), 1, 30)).as("btext"))
      val clean = Decontaminate.contamination(deduped, "doc_id", "text", bench, "btext", 5)
        .filter(!col("contaminated")).select("doc_id")
      deduped.join(clean, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("ws_tokens"))
        .orderBy("source")
    },
      """WITH qf AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_intersect(
        |      list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')),
        |      ['der','die','das','und','ist','nicht','ein','mit','auf','zu',
        |       'the','and','of','to','in','is','that','it','was','for',
        |       'el','la','los','y','es','no','una','por','con','para',
        |       'le','les','et','est','pas','une','pour','dans','que'])) AS DOUBLE) AS stop_hits,
        |    CAST(strlen(text) AS DOUBLE) AS n_chars,
        |    CAST(strlen(text) - strlen(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(strlen(text) - strlen(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents),
        |qr AS (
        |  SELECT doc_id, source, text, n_tok,
        |    CASE WHEN n_tok > 0 THEN round(stop_hits / n_tok, 4) ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_chars > 0 THEN round(punct / n_chars, 4) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN round(digits / n_chars, 4) ELSE 0.0 END AS digit_ratio
        |  FROM qf),
        |kept AS (
        |  SELECT doc_id, source, text FROM qr
        |  WHERE round(greatest(0.0, least(1.0,
        |      least(n_tok / 100.0, 1.0) * 0.4
        |    + least(stop_ratio * 4.0, 1.0) * 0.4
        |    + (1.0 - greatest(punct_ratio, digit_ratio) * 2.0) * 0.2)), 4) >= 0.35),
        |deduped AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text, min(doc_id) OVER (PARTITION BY array_to_string(
        |      (list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))[1:12], ' ')) AS rep
        |    FROM kept) WHERE doc_id = rep),
        |dg AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(lws) < 5 THEN []
        |    ELSE list_transform(range(1, len(lws) - 3),
        |      i -> lws[i] || ' ' || lws[i+1] || ' ' || lws[i+2] || ' ' || lws[i+3] || ' ' || lws[i+4]) END) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS lws
        |        FROM deduped)),
        |bg AS (
        |  SELECT DISTINCT unnest(grams) AS gram
        |  FROM (SELECT list_distinct(CASE WHEN len(bs) < 5 THEN []
        |          ELSE list_transform(range(1, len(bs) - 3),
        |            i -> bs[i] || ' ' || bs[i+1] || ' ' || bs[i+2] || ' ' || bs[i+3] || ' ' || bs[i+4]) END) AS grams
        |        FROM (SELECT ws[1:30] AS bs
        |              FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |                    FROM documents WHERE doc_id % 17 = 0)))),
        |contaminated AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM dg) t JOIN bg USING (gram))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS ws_tokens
        |FROM deduped
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |GROUP BY source ORDER BY source""".stripMargin),

    // GPT-style sequence packing (TrainingMix.packSequences): concatenated
    // token stream chunked at a 256-token budget, bucketed 8 ways so every
    // running-sum window is bounded by bucket size (never a global window).
    Query("x_seq_pack", (s, d) =>
      TrainingMix.packSequences(
        t(s, d, "documents").select(col("doc_id"),
          size(QualityFilters.words(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 256L, numBuckets = 8),
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
        |  FROM w)
        |SELECT doc_id, bucket, n_tokens,
        |  end_tok - n_tokens AS start_tok,
        |  CAST(floor((end_tok - n_tokens) / 256.0) AS BIGINT) AS first_seq,
        |  CAST(floor(greatest(end_tok - 1, end_tok - n_tokens) / 256.0) AS BIGINT) AS last_seq,
        |  (end_tok - n_tokens) % 256 AS offset_in_seq
        |FROM c""".stripMargin),

    // Deterministic mixture sampling (TrainingMix.sampleMixture): per-source
    // rates, u(doc_id) a pure residue — reruns and the oracle agree
    // row-for-row, no RNG state. Rates: src<i> keeps (i mod 10)/10.
    Query("x_mixture_sample", (s, d) =>
      TrainingMix.sampleMixture(
        t(s, d, "documents").select("doc_id", "source"), "doc_id", "source",
        (0 until 20).map(i => s"src$i" -> (i % 10) / 10.0).toMap),
      """SELECT doc_id, source,
        |  (doc_id * 37 + 11) % 1000 / 1000.0 AS u,
        |  (CAST(substr(source, 4) AS INT) % 10) / 10.0 AS rate,
        |  (doc_id * 37 + 11) % 1000 / 1000.0 < (CAST(substr(source, 4) AS INT) % 10) / 10.0 AS keep
        |FROM documents""".stripMargin),

    // Deterministic corpus shuffle (training order): seeded md5 sort key —
    // reproducible on any cluster size, engine-portable (oracle recomputes
    // the identical permutation).
    Query("x_shuffle_order", (s, d) =>
      TrainingMix.deterministicShuffle(
        t(s, d, "documents").select("doc_id"), "doc_id", seed = 7L).limit(20),
      """SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id LIMIT 20""".stripMargin),

    // Hash-bucket train/eval holdout: membership a pure function of the doc
    // id — stable under corpus growth, exact-mirrorable in SQL.
    Query("x_holdout", (s, d) =>
      TrainingMix.holdoutSplit(t(s, d, "documents").select("doc_id"), "doc_id",
        seed = 42L, buckets = 100, holdoutBuckets = 5)
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split"),
      """SELECT CASE WHEN CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 5
        |            THEN 'eval' ELSE 'train' END AS split,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- bytes / ip leaf parse (P4) --------------------------------------
    Query("p_bytes_parse", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        BytesParse.toBase64(substring(col("text"), 1, 12).cast("binary")).as("b64"),
        BytesParse.fromBase64(
          BytesParse.toBase64(substring(col("text"), 1, 12).cast("binary")))
          .cast("string").as("roundtrip"),
        BytesParse.toHexStr(substring(col("text"), 1, 8).cast("binary")).as("hex8")),
      """SELECT doc_id,
        |  base64(encode(substr(text, 1, 12))) AS b64,
        |  decode(from_base64(base64(encode(substr(text, 1, 12))))) AS roundtrip,
        |  lower(hex(encode(substr(text, 1, 8)))) AS hex8
        |FROM documents""".stripMargin),

    Query("p_ip_normalize", (s, d) => {
      val ip = concat(pmod(col("event_id"), lit(256)).cast("string"), lit(".0.0."),
        pmod(col("user_id"), lit(256)).cast("string"))
      t(s, d, "events").select(col("event_id"),
        BytesParse.normalizeIp(ip).as("ip_norm"))
    },
      """SELECT event_id,
        |  '::ffff:' || CAST(event_id % 256 AS VARCHAR) || '.0.0.' || CAST(user_id % 256 AS VARCHAR) AS ip_norm
        |FROM events""".stripMargin),

    // ---- ES query DSL (F12) ----------------------------------------------
    Query("f_es_dsl", (s, d) => {
      val q = EsDsl.parse(
        """{"bool": {
          |  "must": [
          |    {"match": {"text": {"query": "spark plan", "operator": "or"}}},
          |    {"range": {"doc_id": {"lt": 300}}}],
          |  "must_not": [{"term": {"lang": "fr"}}]
          |}}""".stripMargin)
      t(s, d, "documents").filter(q.toColumn(docResolver)).select("doc_id", "lang")
    },
      """SELECT doc_id, lang FROM documents
        |WHERE (' ' || lower(text) || ' ' LIKE '% spark %'
        |       OR ' ' || lower(text) || ' ' LIKE '% plan %')
        |  AND doc_id < 300 AND NOT lang = 'fr'""".stripMargin),

    Query("f_phrase_prefix", (s, d) => {
      import graft.queryast.QueryAst._
      t(s, d, "documents")
        .filter(PhrasePrefix("text", "spark jo").toColumn(docResolver))
        .select("doc_id")
    },
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(
        |  ' ' || array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ') || ' ',
        |  ' spark jo[a-z0-9]*')""".stripMargin),

    Query("f_bool_prefix", (s, d) => {
      // via the ES DSL to cover the match_bool_prefix mapping end-to-end
      t(s, d, "documents")
        .filter(EsDsl.parse(
          """{"match_bool_prefix": {"text": {"query": "spark data jo", "operator": "and"}}}""")
          .toColumn(docResolver))
        .select("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok,
        |    ' ' || array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ') || ' ' AS stream
        |  FROM documents)
        |SELECT doc_id FROM toks
        |WHERE list_contains(tok, 'spark') AND list_contains(tok, 'data')
        |  AND regexp_matches(stream, ' jo[a-z0-9]*')""".stripMargin),

    // ---- ES serve-layer endpoints (thin shells over existing compute) ----
    Query("es_count", (s, d) => {
      import s.implicits._
      val n = graft.queryast.EsApi.countQuery(t(s, d, "documents"), docResolver,
        Some("""{"bool": {
                |  "must": [{"match": {"text": {"query": "spark vector", "operator": "or"}}}],
                |  "filter": [{"term": {"lang": "en"}}]}}""".stripMargin))
      Seq(n).toDF("count")
    },
      """SELECT CAST(count(*) AS BIGINT) AS count FROM documents
        |WHERE (' ' || lower(text) || ' ' LIKE '% spark %'
        |       OR ' ' || lower(text) || ' ' LIKE '% vector %')
        |  AND lang = 'en'""".stripMargin),

    // ES `_search` sorted by `_score`: REAL BM25 over the query's positive
    // terms (collector.rs:106-112 SortBy::Score — ES relevance order, not
    // the constant_score stand-in; filter clauses don't score). The hits
    // page parses back OUT of the rendered envelope, so the oracle pins the
    // whole wire path: score math, sort values, hit order, _id rendering.
    Query("es_search_score", (s, d) => {
      import s.implicits._
      val body =
        """{"query": {"bool": {
          |  "must": [{"match": {"text": {"query": "spark vector", "operator": "or"}}}],
          |  "filter": [{"term": {"lang": "en"}}]}},
          | "sort": [{"_score": "desc"}, {"doc_id": "asc"}], "size": 10}""".stripMargin
      hitsOf(parseObj(graft.queryast.EsApi.search(
        t(s, d, "documents"), docResolver, col("doc_id"), body))).map { h =>
        (asLong(h("_id")), h("sort").asInstanceOf[Seq[Any]].head.asInstanceOf[Double])
      }.toDF("doc_id", "score")
        .withColumn("score", round(col("score"), 4))
    },
      """WITH tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM documents)
        |  WHERE term <> ''),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
        |       WHERE term IN ('spark', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |          * (tf.tf * (1.2 + 1.0))
        |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        |score AS (SELECT doc_id, sum(w) AS score FROM w GROUP BY doc_id)
        |SELECT d.doc_id, round(s.score, 4) AS score
        |FROM documents d JOIN score s USING (doc_id)
        |WHERE d.lang = 'en'
        |ORDER BY s.score DESC, d.doc_id ASC LIMIT 10""".stripMargin),

    // three NDJSON `_msearch` pairs over one index, each sorted by doc_id
    // with size 10: every sub-search answers its total and first ids
    Query("es_msearch", (s, d) => {
      import s.implicits._
      val payload = Seq(
        """{"match": {"text": "vector"}}""",
        """{"term": {"lang": "de"}}""",
        """{"bool": {"must": [{"range": {"doc_id": {"lt": 50}}}, {"exists": {"field": "text"}}]}}"""
      ).flatMap(q => Seq("""{"index": "documents"}""",
        s"""{"query": $q, "sort": [{"doc_id": "asc"}], "size": 10}""")).mkString("\n")
      msearchResponses(graft.queryast.EsApi.msearchNdjson(
        Seq("documents" -> t(s, d, "documents")), docResolver, col("doc_id"), payload))
        .zipWithIndex.map { case (r, i) =>
          (i.toLong, totalOf(r).get, hitsOf(r).map(h => asLong(h("_id"))).mkString(","))
        }.toDF("query_idx", "total", "top_doc_ids")
    },
      """WITH q0 AS (SELECT doc_id FROM documents WHERE ' ' || lower(text) || ' ' LIKE '% vector %'),
        |q1 AS (SELECT doc_id FROM documents WHERE lang = 'de'),
        |q2 AS (SELECT doc_id FROM documents WHERE doc_id < 50 AND text IS NOT NULL)
        |SELECT CAST(0 AS BIGINT) AS query_idx,
        |  (SELECT CAST(count(*) AS BIGINT) FROM q0) AS total,
        |  coalesce((SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |            FROM (SELECT doc_id FROM q0 ORDER BY doc_id LIMIT 10)), '') AS top_doc_ids
        |UNION ALL SELECT 1, (SELECT CAST(count(*) AS BIGINT) FROM q1),
        |  coalesce((SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |            FROM (SELECT doc_id FROM q1 ORDER BY doc_id LIMIT 10)), '')
        |UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM q2),
        |  coalesce((SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |            FROM (SELECT doc_id FROM q2 ORDER BY doc_id LIMIT 10)), '')
        |ORDER BY query_idx""".stripMargin),

    // NDJSON `_msearch` over per-line index targets: three header/body
    // pairs — single index, a two-index union, and a missing index whose
    // failure renders as a PER-RESPONSE 404 while siblings answer.
    Query("es_msearch_ndjson", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val indexes = Seq(
        "docs-even" -> docs.filter(col("doc_id") % 2 === 0),
        "docs-odd"  -> docs.filter(col("doc_id") % 2 === 1))
      val payload =
        """{"index": "docs-even"}
          |{"query": {"match_all": {}}, "size": 0}
          |{"index": ["docs-even", "docs-odd"]}
          |{"query": {"range": {"doc_id": {"lt": 100}}}, "size": 0}
          |{"index": "docs-missing"}
          |{"query": {"match_all": {}}, "size": 0}""".stripMargin
      msearchResponses(graft.queryast.EsApi.msearchNdjson(
        indexes, docResolver, col("doc_id"), payload)).zipWithIndex.map { case (r, i) =>
        (i, asLong(r("status")), totalOf(r).getOrElse(-1L))
      }.toDF("resp_idx", "status", "total")
    },
      """SELECT * FROM (
        |  SELECT CAST(0 AS INT) AS resp_idx, CAST(200 AS BIGINT) AS status,
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0) AS total
        |  UNION ALL SELECT 1, 200,
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id < 100)
        |  UNION ALL SELECT 2, 404, CAST(-1 AS BIGINT)
        |) ORDER BY resp_idx""".stripMargin),

    // `_search` driven ENTIRELY by URL query-string params
    // (build_request_for_es_api: `q` compiles through the query language
    // with default_operator=AND, overriding the body; `sort=doc_id:DESC`
    // uses the proto-name order; size param caps the page).
    Query("es_search_q", (s, d) => {
      import s.implicits._
      val rendered = graft.queryast.EsApi.searchWithParams(
        t(s, d, "documents"), docResolver, col("doc_id"), "{}",
        Map("q" -> "spark vector", "default_operator" -> "AND",
          "sort" -> "doc_id:DESC", "size" -> "15"))
      hitsOf(parseObj(rendered)).zipWithIndex.map { case (h, i) =>
        (i + 1, asLong(h("_id")))
      }.toDF("rank", "doc_id")
    },
      """WITH m AS (
        |  SELECT doc_id FROM documents
        |  WHERE ' ' || lower(text) || ' ' LIKE '% spark %'
        |    AND ' ' || lower(text) || ' ' LIKE '% vector %')
        |SELECT CAST(row_number() OVER (ORDER BY doc_id DESC) AS INT) AS rank, doc_id
        |FROM m ORDER BY doc_id DESC LIMIT 15""".stripMargin),

    // Multi-index ES scroll (multi-indices/0002-muti_indices_scroll.yaml):
    // the documents table split into two parity "indexes"; three pages of
    // the scroll must walk ONE global doc_id-desc order interleaving both
    // indexes, every hit tagged with its `_index`. The union is one plan —
    // one scan per member index, the sort bounded by from+size per page.
    Query("es_scroll_multi", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val indexes = Seq(
        "docs-even" -> docs.filter(col("doc_id") % 2 === 0),
        "docs-odd"  -> docs.filter(col("doc_id") % 2 === 1))
      val ctx = new graft.queryast.EsScroll.Context()
      val first = ctx.searchMulti(indexes, docResolver, "doc_id", "docs-*",
        """{"query":{"match_all":{}},"size":20,"sort":[{"doc_id":{"order":"desc"}}]}""",
        "30m")
      def idsOf(rendered: String): Seq[(Long, String)] =
        hitsOf(parseObj(rendered)).map(h => (asLong(h("_id")), h("_index").asInstanceOf[String]))
      val sid = parseObj(first)("_scroll_id").asInstanceOf[String]
      val pages = Seq(idsOf(first), idsOf(ctx.scroll(sid)), idsOf(ctx.scroll(sid)))
      ctx.clear(sid)
      pages.zipWithIndex.flatMap { case (hs, pn) =>
        hs.map { case (id, idx) => (pn, id, idx) }
      }.toDF("page", "doc_id", "idx")
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'docs-even' ELSE 'docs-odd' END AS idx
        |  FROM documents),
        |ordered AS (
        |  SELECT doc_id, idx, row_number() OVER (ORDER BY doc_id DESC) - 1 AS rn
        |  FROM u)
        |SELECT CAST(rn // 20 AS INT) AS page, doc_id, idx
        |FROM ordered WHERE rn < 60 ORDER BY rn""".stripMargin),

    Query("es_field_caps", (s, d) => {
      import s.implicits._
      graft.queryast.EsApi.fieldCaps(t(s, d, "documents"), docResolver)
        .toDF("field", "es_type", "searchable", "aggregatable")
        .orderBy("field")
    },
      """SELECT field, es_type, TRUE AS searchable, (es_type <> 'text') AS aggregatable
        |FROM (
        |  SELECT column_name AS field,
        |    CASE WHEN column_name = 'text' THEN 'text'
        |         WHEN column_type = 'VARCHAR' THEN 'keyword'
        |         WHEN column_type = 'BIGINT' THEN 'long'
        |         WHEN column_type = 'DOUBLE' THEN 'double'
        |         WHEN column_type = 'TIMESTAMP' THEN 'date'
        |         ELSE 'object' END AS es_type
        |  FROM (DESCRIBE SELECT * FROM documents))
        |ORDER BY field""".stripMargin),

    // Multi-index `_field_caps` (es_field_capabilities/0001): documents as
    // two index-template siblings, one missing the `source` column — the
    // merged response must expand strings to keyword+text entries and
    // attribute `source` to its only member index, omitting `indices` for
    // fields present in all. The rendered envelope parses back out, so the
    // oracle pins the whole wire shape.
    Query("es_field_caps_multi", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val rendered = graft.queryast.EsApi.fieldCapsMulti(
        Seq("docs-a" -> docs, "docs-b" -> docs.drop("source")),
        "docs-*", _ => docResolver)
      val m = graft.util.Json.parse(rendered).asInstanceOf[Map[String, Any]]
      m("fields").asInstanceOf[Map[String, Any]].toSeq.flatMap { case (f, types) =>
        types.asInstanceOf[Map[String, Any]].toSeq.map { case (tpe, entM) =>
          val ent = entM.asInstanceOf[Map[String, Any]]
          (f, tpe, ent("searchable").asInstanceOf[Boolean],
            ent("aggregatable").asInstanceOf[Boolean],
            ent.get("indices").map(_.asInstanceOf[Seq[Any]].mkString(",")).getOrElse(""))
        }
      }.toDF("field", "es_type", "searchable", "aggregatable", "indices")
        .orderBy("field", "es_type")
    },
      """SELECT * FROM (VALUES
        |  ('doc_id', 'long', true, true, ''),
        |  ('lang', 'keyword', true, true, ''),
        |  ('lang', 'text', true, true, ''),
        |  ('n_chars', 'long', true, true, ''),
        |  ('source', 'keyword', true, true, 'docs-a'),
        |  ('source', 'text', true, true, 'docs-a'),
        |  ('text', 'keyword', true, false, ''),
        |  ('text', 'text', true, false, '')
        |) AS t(field, es_type, searchable, aggregatable, indices)
        |ORDER BY field, es_type""".stripMargin),

    Query("es_cat_indices", (s, d) =>
      graft.queryast.EsApi.catIndices(Seq(
        ("documents", t(s, d, "documents"), col("text")),
        ("events", t(s, d, "events"), col("event_type"))))
        .orderBy("index"),
      """SELECT 'documents' AS index, CAST(count(*) AS BIGINT) AS docs_count,
        |  CAST(coalesce(sum(strlen(text)), 0) AS BIGINT) AS store_bytes FROM documents
        |UNION ALL
        |SELECT 'events', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(strlen(event_type)), 0) AS BIGINT) FROM events
        |ORDER BY index""".stripMargin),

    // `POST /analyze` (index_api/rest_handler.rs analyze_request): ad-hoc
    // tokenizer config + text → tantivy Token rows with BYTE offsets; the
    // rendered JSON parses back out so the oracle pins the wire shape.
    Query("t_analyze", (s, d) => {
      import s.implicits._
      val rendered = graft.functions.Analyze.analyzeJson(
        """{"type": "source_code", "text": "QuickwitSearch42 héllo",
          | "filters": ["lower_caser", "ascii_folding"]}""".stripMargin, s)
      graft.util.Json.parse(rendered).asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
        .map(m => (m("position").asInstanceOf[Double].toInt,
          m("text").asInstanceOf[String],
          m("offset_from").asInstanceOf[Double].toLong,
          m("offset_to").asInstanceOf[Double].toLong))
        .toDF("position", "token", "offset_from", "offset_to")
    },
      """SELECT * FROM (VALUES
        |  (CAST(0 AS INT), 'quickwit', CAST(0 AS BIGINT), CAST(8 AS BIGINT)),
        |  (CAST(1 AS INT), 'search', CAST(8 AS BIGINT), CAST(14 AS BIGINT)),
        |  (CAST(2 AS INT), '42', CAST(14 AS BIGINT), CAST(16 AS BIGINT)),
        |  (CAST(3 AS INT), 'hello', CAST(17 AS BIGINT), CAST(23 AS BIGINT))
        |) AS t(position, token, offset_from, offset_to)
        |ORDER BY position""".stripMargin),

    // ---- more tokenizers -------------------------------------------------
    Query("t_whitespace", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(Tokenizers.whitespace(col("text"))).as("token")),
      """SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |WHERE token <> ''""".stripMargin),

    // Porter's loop structure is not ANSI-SQL expressible, so the oracle
    // uses the published Porter example vocabulary as a golden dictionary
    // (VERDICT r3 "wrong" #1): every corpus token maps md5-deterministically
    // onto a pinned vocabulary word, the REAL Catalyst StemTokens expression
    // stems it, and DuckDB joins the same mapping against the pinned
    // (word, stem) VALUES — hash-comparing the stemmer's output for all 80
    // published words with data-dependent multiplicities. Arbitrary-word
    // behavior stays pinned in PorterStemmerSpec.
    Query("t_en_stem", (s, d) => {
      val words = graft.functions.PorterVocab.pairs.map(_._1)
      val vocabArr = array(words.map(lit): _*)
      val idx = (conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long")
        % lit(words.length.toLong)).cast("int")
      t(s, d, "documents")
        .select(explode(Tokenizers.default(col("text"))).as("tok"))
        .select(element_at(vocabArr, idx + lit(1)).as("token"))
        .select(col("token"),
          element_at(graft.functions.StemTokens.stem(array(col("token"))), 1).as("stem"))
        .groupBy("token", "stem").agg(count(lit(1)).as("n"))
    },
      s"""SELECT v.token AS token, v.stem AS stem, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         |      FROM documents) t
         |JOIN (VALUES ${graft.functions.PorterVocab.sqlValues}) AS v(idx, token, stem)
         |  ON v.idx = CAST(('0x' || substr(md5(t.tok), 1, 6)) AS BIGINT) % ${graft.functions.PorterVocab.pairs.length}
         |WHERE t.tok <> ''
         |GROUP BY 1, 2""".stripMargin),

    // ---- typed mapping-tree projection (P2) ------------------------------
    // Nested-JSON docs synthesized DETERMINISTICALLY from transcripts (the
    // oracle rebuilds the identical doc string), then parsed through the
    // config-driven mapping tree in Dynamic mode. Variety by turn_idx mod:
    // %5 string-typed score (coerce), %7 float score (i64 value_error),
    // %11 unmapped field (dynamic capture), %13 scalar-at-multi tags,
    // %17 malformed doc (json_parse_error). The oracle mirrors the typed
    // dispatch through DuckDB json_type/json_extract — same JSON-kind
    // decisions the variant compiler makes.
    Query("p_mapping_tree", (s, d) => {
      val (docs, mapping) = mappingTreeInput(s, d)
      mappingTreeSelect(graft.parse.MappingTree.parse(docs, col("doc"), mapping))
    },
      MappingTreeOracleSql),

    // Same parse, but the mapping is compiled from the reference's
    // index-config `doc_mapping` JSON format (MappingConfig.fromJson) —
    // proving a user's existing config drives this mapper unchanged.
    Query("p_mapping_config", (s, d) => {
      val (docs, _) = mappingTreeInput(s, d)
      val cfg =
        """{"mode": "dynamic", "field_mappings": [
          |  {"name": "conv_id", "type": "text"},
          |  {"name": "turn", "type": "i64"},
          |  {"name": "meta", "type": "object", "field_mappings": [
          |    {"name": "role", "type": "text"},
          |    {"name": "score", "type": "i64"},
          |    {"name": "tags", "type": "array<i64>"}]},
          |  {"name": "ts", "type": "datetime", "input_formats": ["unix_timestamp"]}]}""".stripMargin
      mappingTreeSelect(graft.parse.MappingTree.parse(docs, col("doc"),
        graft.parse.MappingConfig.fromJson(cfg)))
    },
      MappingTreeOracleSql),

    // Full index-config loop: ONE config JSON drives parse (mapping tree),
    // timestamp validation, tag-field promotion (partition-key fields join
    // the tag set, default_mapper.rs:243-248) and partition routing
    // (hash_mod ≤ cap ⇒ provably capped, no rank scan). Typed fields are
    // DuckDB-mirrored; the routing invariant (id ∈ [0,8)) and the promoted
    // tag set ride along as oracle-checkable columns.
    Query("pipe_config_e2e", (s, d) => {
      val (docs, _) = mappingTreeInput(s, d)
      val cfg =
        """{"mode": "dynamic",
          |  "timestamp_field": "ts",
          |  "tag_fields": ["meta.role"],
          |  "partition_key": "hash_mod(conv_id, 8)",
          |  "max_num_partitions": 8,
          |  "field_mappings": [
          |    {"name": "conv_id", "type": "text", "tokenizer": "raw"},
          |    {"name": "turn", "type": "i64"},
          |    {"name": "meta", "type": "object", "field_mappings": [
          |      {"name": "role", "type": "text", "tokenizer": "raw"},
          |      {"name": "score", "type": "i64"},
          |      {"name": "tags", "type": "array<i64>"}]},
          |    {"name": "ts", "type": "datetime", "fast": true,
          |     "input_formats": ["unix_timestamp"]}]}""".stripMargin
      val idx = graft.parse.MappingConfig.compileIndex(cfg)
      val routed = graft.parse.MappingConfig.applyIndexConfig(docs, col("doc"), idx)
      routed.select(col("orig_conv"), col("orig_turn"),
        col("conv_id"), col("turn"),
        col("`meta.role`").as("role"), col("`meta.score`").as("score"),
        unix_micros(col("ts")).as("ts_us"),
        col("parse_error_kind"),
        (col("partition_id") >= 0 && col("partition_id") < 8).as("pid_ok"),
        lit(idx.tagFields.mkString(",")).as("tags_cfg"))
    },
      // Same doc derivation as the mapping-tree oracle; the routing invariant
      // and the config-computed tag set (declared meta.role + promoted
      // partition-key field conv_id, sorted) are pinned as constants.
      TranscriptsCte +
      """, docs AS (
        |  SELECT conv_id AS orig_conv, turn_idx AS orig_turn,
        |    CASE WHEN turn_idx % 17 = 0 AND turn_idx > 0 THEN 'oops'
        |         ELSE '{"conv_id":"' || conv_id || '","turn":' || CAST(turn_idx AS VARCHAR) ||
        |              ',"meta":{"role":"' || role || '","score":' ||
        |              CASE WHEN turn_idx % 5 = 0 THEN '"' || CAST(turn_idx % 100 AS VARCHAR) || '"'
        |                   WHEN turn_idx % 7 = 0 THEN CAST(turn_idx % 100 AS VARCHAR) || '.5'
        |                   ELSE CAST(turn_idx % 100 AS VARCHAR) END ||
        |              ',"tags":' ||
        |              CASE WHEN turn_idx % 13 = 0 THEN CAST(turn_idx % 100 AS VARCHAR)
        |                   ELSE '[' || CAST(turn_idx % 100 AS VARCHAR) || ',' || CAST(turn_idx % 100 + 1 AS VARCHAR) || ']' END ||
        |              '}' ||
        |              CASE WHEN turn_idx % 11 = 0 THEN ',"extra_field":' || CAST(turn_idx % 100 AS VARCHAR) ELSE '' END ||
        |              ',"ts":' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || '}'
        |    END AS doc
        |  FROM transcripts),
        |parsed AS (SELECT *, json_valid(doc) AS ok FROM docs)
        |SELECT orig_conv, orig_turn,
        |  CASE WHEN ok THEN json_extract_string(doc, '$.conv_id') END AS conv_id,
        |  CASE WHEN ok THEN CAST(json_extract(doc, '$.turn') AS BIGINT) END AS turn,
        |  CASE WHEN ok THEN json_extract_string(doc, '$.meta.role') END AS role,
        |  CASE WHEN NOT ok THEN NULL
        |       WHEN json_type(doc, '$.meta.score') IN ('BIGINT', 'UBIGINT')
        |         THEN CAST(json_extract(doc, '$.meta.score') AS BIGINT)
        |       WHEN json_type(doc, '$.meta.score') = 'VARCHAR'
        |         THEN TRY_CAST(json_extract_string(doc, '$.meta.score') AS BIGINT)
        |       ELSE NULL END AS score,
        |  CASE WHEN ok THEN CAST(json_extract(doc, '$.ts') AS BIGINT) * 1000000 END AS ts_us,
        |  CASE WHEN NOT ok THEN 'json_parse_error'
        |       WHEN json_type(doc, '$.meta.score') = 'DOUBLE' THEN 'value_error' END AS parse_error_kind,
        |  TRUE AS pid_ok,
        |  'conv_id,meta.role' AS tags_cfg
        |FROM parsed""".stripMargin),

    // parse → docToJson round-trip (populate_json, P6 nested depth): the
    // oracle reconstructs the expected rendered JSON from the same input
    // derivation — coerced strings come back as numbers, error leaves are
    // omitted, malformed docs render as the empty mapped shape, datetimes
    // render RFC 3339 UTC.
    Query("p_mapping_roundtrip", (s, d) => {
      val (docs, mapping) = mappingTreeInput(s, d)
      graft.parse.MappingTree.parse(docs, col("doc"), mapping)
        .select(col("orig_conv"), col("orig_turn"),
          graft.parse.MappingTree.docToJson(mapping).as("doc_json"))
    },
      TranscriptsCte +
      """SELECT conv_id AS orig_conv, turn_idx AS orig_turn,
        |  CASE WHEN turn_idx % 17 = 0 AND turn_idx > 0 THEN '{"meta":{}}'
        |  ELSE '{"conv_id":"' || conv_id || '","turn":' || CAST(turn_idx AS VARCHAR) ||
        |    ',"meta":{"role":"' || role || '"' ||
        |    CASE WHEN turn_idx % 5 = 0 THEN ',"score":' || CAST(turn_idx % 100 AS VARCHAR)
        |         WHEN turn_idx % 7 = 0 THEN ''
        |         ELSE ',"score":' || CAST(turn_idx % 100 AS VARCHAR) END ||
        |    ',"tags":' ||
        |    CASE WHEN turn_idx % 13 = 0 THEN '[' || CAST(turn_idx % 100 AS VARCHAR) || ']'
        |         ELSE '[' || CAST(turn_idx % 100 AS VARCHAR) || ',' || CAST(turn_idx % 100 + 1 AS VARCHAR) || ']' END ||
        |    '},"ts":"' ||
        |    strftime(make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000), '%Y-%m-%dT%H:%M:%SZ') ||
        |    '"}'
        |  END AS doc_json
        |FROM transcripts""".stripMargin),

    // ---- custom tokenizer registry (U1) ----------------------------------
    // ngram(3,3) + lower_caser over a text prefix; character n-grams are
    // SQL-expressible, so the oracle rebuilds the same (pos, gram) stream.
    Query("t_custom_ngram", (s, d) => {
      import graft.functions.TokenizerRegistry._
      val reg = new Registry(Seq(TokenizerEntry("doc_trigram",
        TokenizerConfig(Ngram(3, 3), Seq(LowerCaser)))))
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(reg.byName("doc_trigram")(substring(col("text"), 1, 40))))
        .withColumnRenamed("pos", "gram_pos").withColumnRenamed("col", "gram")
    },
      """WITH s AS (SELECT doc_id, lower(substr(text, 1, 40)) AS st FROM documents
        |           WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(i - 1 AS INT) AS gram_pos, substr(st, CAST(i AS INT), 3) AS gram
        |FROM s, unnest(generate_series(1, strlen(st) - 2)) t(i)
        |WHERE strlen(st) >= 3""".stripMargin),

    // regex tokenizer + remove_long filter; DuckDB regexp_extract_all
    // mirrors the match stream, list indexing mirrors positions.
    Query("t_custom_regex", (s, d) => {
      import graft.functions.TokenizerRegistry._
      val reg = new Registry(Seq(TokenizerEntry("long_words",
        TokenizerConfig(Regex("[a-z]{4,}"), Seq(RemoveLong)))))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(reg.byName("long_words")(col("text"))))
        .withColumnRenamed("pos", "tok_pos").withColumnRenamed("col", "token")
    },
      """WITH m AS (SELECT doc_id, regexp_extract_all(text, '[a-z]{4,}') AS l FROM documents
        |           WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(i - 1 AS INT) AS tok_pos, l[CAST(i AS INT)] AS token
        |FROM m, unnest(generate_series(1, len(l))) t(i)""".stripMargin),

    // ---- tag sets (A12) --------------------------------------------------
    // control: Spark's collect_set; served split tags come from the indexing run
    Query("a_tag_sets", (s, d) =>
      t(s, d, "documents").groupBy(col("source"))
        .agg(array_join(slice(sort_array(collect_set(col("lang"))), 1, 1000), ",").as("tags"),
             countDistinct(col("lang")).as("tag_cardinality"))
        .orderBy("source"),
      """SELECT source, string_agg(DISTINCT lang, ',' ORDER BY lang) AS tags,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS tag_cardinality
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- search-stream export (S9) ---------------------------------------
    // control: a Spark filter; the served stream encoder is s_search_stream_binary
    Query("s_search_stream", (s, d) =>
      t(s, d, "events").filter(col("event_type") === "click").select("user_id"),
      "SELECT user_id FROM events WHERE event_type = 'click'"),

    // ClickHouseRowBinary export (search_stream/mod.rs:103-113; dates as
    // i64 µs, leaf.rs:242-243): the codegen'd LE encoding checked byte-for-
    // byte — the oracle rebuilds the hex of each little-endian byte.
    Query("s_search_stream_binary", (s, d) =>
      t(s, d, "events").filter(col("event_type") === "click")
        .select(col("event_id"),
          hex(operators.SearchStream.leBytes(
            unix_micros(col("ts").cast("timestamp_ltz")))).as("ts_le_hex"))
        .orderBy("event_id"),
      """SELECT event_id, upper(
        |  lpad(to_hex((epoch_us(ts)) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 8) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 16) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 24) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 32) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 40) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 48) & 255), 2, '0') ||
        |  lpad(to_hex((epoch_us(ts) >> 56) & 255), 2, '0')) AS ts_le_hex
        |FROM events WHERE event_type = 'click' ORDER BY event_id""".stripMargin),

    // ---- embedding-cosine near-dup (exact; LSH path = sim_ann_lsh) -------
    Query("d_embed_cosine", (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("n", Similarity.norm(col("v"))) // norm once, not per pair
      val a = e.select(col("vec_id").as("vec_id1"), col("v").as("v1"), col("n").as("n1"))
      val b = e.select(col("vec_id").as("vec_id2"), col("v").as("v2"), col("n").as("n2"))
      a.crossJoin(b).filter(col("vec_id1") < col("vec_id2"))
        .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
        .filter(col("cos") >= 0.4)
        .select(col("vec_id1"), col("vec_id2"), round(col("cos"), 4).as("cos"))
        .orderBy("vec_id1", "vec_id2")
    },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY 1, 2""".stripMargin),

    // ---- embedding near-dup, PRODUCTION path (LSH buckets + exact verify;
    // d_embed_cosine remains the labeled exact all-pairs baseline) --------
    Query("d_embed_lsh", (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.lshNearDupPairs(e, col("vec_id"), col("v"),
          threshold = 0.45, bits = 2, tables = 16)
        .select(col("doc_id1").as("vec_id1"), col("doc_id2").as("vec_id2"),
                round(col("cos"), 4).as("cos"))
        .orderBy("vec_id1", "vec_id2")
    },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY 1, 2""".stripMargin),

    // ---- multimodal plumbing (blob_hash stays spec-pinned — xxhash64) ----
    Query("m_multimodal", (s, d) => {
      val media = t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.withBlobStats(media, col("media"))
        .withColumn("n_frames", size(Multimodal.sampleFrames(col("media"), 4, 20, 30)))
        .select("doc_id", "n_bytes", "n_frames")
    },
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(greatest(0, least(4, CAST(floor((strlen(text) - 20) / 30.0) AS BIGINT) + 1)) AS INT) AS n_frames
        |FROM documents""".stripMargin),

    // ---- REAL image decode (javax.imageio): deterministic PNGs are
    // encoded AND decoded through the actual codec per partition; the
    // oracle recomputes the pixel formula's channel means in SQL — any
    // codec/stat bug breaks the hash. Slice bounds the per-row codec cost
    // at bench scale (same rationale as s_tag_pruned_scan's slice).
    Query("m_image_decode", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(20)) === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
          val st = Multimodal.decodeImageStats(Multimodal.synthPng(id, w, h))
          (id, st.width, st.height, st.channels, st.meanR, st.meanG, st.meanB)
        })
        .toDF("doc_id", "width", "height", "channels", "mean_r", "mean_g", "mean_b")
        .withColumn("mean_r", round(col("mean_r"), 4))
        .withColumn("mean_g", round(col("mean_g"), 4))
        .withColumn("mean_b", round(col("mean_b"), 4))
    },
      """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |                 CAST(8 + doc_id % 7 AS INT) AS height
        |           FROM documents WHERE doc_id % 20 = 0),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height,
        |         (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS r,
        |         (d.doc_id * 17 + x.x * 3 + y.y * 5) % 256 AS g,
        |         (d.doc_id * 11 + x.x + y.y) % 256 AS b
        |  FROM d,
        |       unnest(generate_series(0, CAST(d.width - 1 AS BIGINT))) x(x),
        |       unnest(generate_series(0, CAST(d.height - 1 AS BIGINT))) y(y))
        |SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
        |       round(avg(r), 4) AS mean_r, round(avg(g), 4) AS mean_g,
        |       round(avg(b), 4) AS mean_b
        |FROM px GROUP BY doc_id, width, height""".stripMargin),

    // ---- REAL audio decode (javax.sound.sampled): 16-bit PCM WAVs
    // round-trip the JDK codec; the oracle recomputes the sample formula.
    Query("m_audio_decode", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(20)) === 1)
        .as[Long]
        .mapPartitions(_.map { id =>
          val n = (200 + id % 100).toInt
          val st = Multimodal.decodeWavStats(Multimodal.synthWav(id, n))
          (id, st.sampleRateHz, st.channels, st.numFrames, st.meanAbs)
        })
        .toDF("doc_id", "sample_rate", "channels", "n_frames", "mean_abs")
        .withColumn("mean_abs", round(col("mean_abs"), 4))
    },
      """WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n FROM documents
        |           WHERE doc_id % 20 = 1),
        |s AS (SELECT d.doc_id, d.n,
        |             abs((d.doc_id * 7919 + i.i * 31) % 65536 - 32768) AS a
        |      FROM d, unnest(generate_series(0, d.n - 1)) i(i))
        |SELECT doc_id, CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |       CAST(n AS BIGINT) AS n_frames, round(avg(a), 4) AS mean_abs
        |FROM s GROUP BY doc_id, n""".stripMargin),

    // ---- input formats: 1→N doc expansion (S6, the OTLP-spans shape) -----
    // control: Spark's explode over a sequence
    Query("p_input_expand", (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          explode(sequence(lit(1), (pmod(col("event_id"), lit(3)) + 1).cast("int")))
            .as("span_idx"))
        .withColumn("span_id",
          concat(col("event_id").cast("string"), lit("#"), col("span_idx").cast("string"))),
      """SELECT event_id, CAST(s AS INT) AS span_idx,
        |  CAST(event_id AS VARCHAR) || '#' || CAST(s AS VARCHAR) AS span_id
        |FROM events, unnest(generate_series(1, CAST(event_id % 3 + 1 AS BIGINT))) t(s)""".stripMargin),

    // ---- OTLP protobuf ingest arm (doc_processor.rs:154-161) -------------
    // Round-trip oracle: transcripts are batched into one
    // ExportLogsServiceRequest per conversation (executor-side encode —
    // the per-batch shape every OTLP exporter ships), then the protobuf
    // arm decodes and 1→N-explodes them back into log docs; DuckDB
    // recomputes the expected rows straight from transcripts, so any
    // wire-format bug (varint, fixed64, nesting, absent body) breaks the
    // hash. Both hops are narrow per-group work; the only shuffle is the
    // conversation grouping.
    Query("p_otlp_proto", (s, d) => {
      import s.implicits._
      val tr = transcripts(s, d).select(
        col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
        unix_micros(col("ts").cast("timestamp_ltz")).as("ts_us"))
      val payloads = tr
        .as[(String, Int, String, Option[String], Option[String], Long)]
        .groupByKey(_._1)
        .mapGroups { (conv, it) =>
          val recs = it.toSeq.sortBy(_._2).map { case (_, idx, role, text, tool, us) =>
            graft.parse.OtlpProto.LogRecord(us * 1000L, idx % 24 + 1, role, text,
              Seq("turn_idx" -> idx.toString) ++ tool.map("tool" -> _))
          }
          graft.parse.OtlpProto.encode(
            graft.parse.OtlpProto.LogsRequest(Seq("conv_id" -> conv), recs))
        }
      payloads.flatMap { bytes =>
        val req = graft.parse.OtlpProto.decode(bytes)
        val conv = req.resourceAttributes.toMap.getOrElse("conv_id", "")
        req.records.map { r =>
          val attrs = r.attributes.toMap
          (conv, attrs("turn_idx").toInt, r.severityText, r.body, attrs.get("tool"),
            r.timeUnixNano / 1000L, r.severityNumber)
        }
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts_us", "sev_num")
    },
      TranscriptsCte +
      """SELECT conv_id, turn_idx, role, text, tool,
        |  epoch_us(ts) AS ts_us, CAST(turn_idx % 24 + 1 AS INT) AS sev_num
        |FROM transcripts""".stripMargin),

    // ---- OTLP TRACE protobuf arm (doc_processor.rs:135,154-161 →
    // parse_otlp_spans_protobuf; traces.rs:240-330 Span::from_otlp) -------
    // Round-trip oracle over the SAME span frame the jg_* queries consume:
    // spans are batched one ExportTraceServiceRequest per trace with one
    // ResourceSpans per service (resource carries service.name + env, the
    // shape OTLP trace exporters ship), ids as 16/8 raw bytes, events /
    // links / status / parent / trace_state all on the wire; the decode
    // explodes requests back to span rows that DuckDB recomputes straight
    // from events — any wire bug (fixed64 nanos, varint kind, nested
    // event/link/status messages, id length) breaks the hash.
    Query("p_otlp_trace_proto", (s, d) => {
      import s.implicits._
      import graft.parse.OtlpProto
      def longBytes(v: Long): Array[Byte] =
        java.nio.ByteBuffer.allocate(8).putLong(v).array()
      val sp = spans(s, d).select(
        col("trace_id"), col("span_id"), col("service_name"), col("span_name"),
        col("span_kind"), unix_micros(col("ts").cast("timestamp_ltz")).as("ts_us"),
        col("duration_millis"), col("status_code"),
        col("resource_attributes")(lit("env")).as("env_attr"),
        col("span_attributes")(lit("k")).as("k_attr"))
      val payloads = sp
        .as[(String, Long, String, String, Int, Long, Long, String, String, String)]
        .groupByKey(_._1)
        .mapGroups { (trace, it) =>
          val rows = it.toSeq.sortBy(_._2)
          val tid = java.util.Arrays.copyOf(trace.getBytes("UTF-8"), 16)
          val perService = rows.groupBy(_._3).toSeq.sortBy(_._1).map { case (svc, ss) =>
            val spansSeq = ss.map { case (_, sid, _, name, kind, tsUs, dur, status, _, k) =>
              val start = tsUs * 1000L
              OtlpProto.Span(
                traceId = tid, spanId = longBytes(sid),
                parentSpanId = if (sid % 2 == 0) Some(longBytes(sid / 2)) else None,
                traceState = if (sid % 3 == 0) Some("st=1") else None,
                name = name, kind = kind,
                startUnixNano = start, endUnixNano = start + dur * 1000000L,
                attributes = Seq("k" -> k),
                events = (0L until sid % 3).map(i =>
                  OtlpProto.SpanEvent(start + i + 1, s"ev$i", Seq("i" -> i.toString))),
                links = if (sid % 5 == 0)
                  Seq(OtlpProto.SpanLink(tid, longBytes(sid + 1))) else Nil,
                statusCode = if (status == "error") 2 else 1,
                statusMessage = if (status == "error") "span failed" else "")
            }
            OtlpProto.encodeTrace(OtlpProto.TraceRequest(
              Seq("service.name" -> svc, "env" -> ss.head._9), spansSeq))
          }
          OtlpProto.concatTraceRequests(perService)
        }
      payloads.flatMap { bytes =>
        OtlpProto.decodeTrace(bytes).flatMap { req =>
          val res = req.resourceAttributes.toMap
          req.spans.map { p =>
            val trace = new String(p.traceId.takeWhile(_ != 0), "UTF-8")
            (trace, java.nio.ByteBuffer.wrap(p.spanId).getLong,
              res("service.name"), p.name, p.kind,
              p.startUnixNano / 1000L,
              (p.endUnixNano - p.startUnixNano) / 1000000L,
              if (p.statusCode == 2) "error" else "ok",
              res("env"), p.attributes.toMap.apply("k"),
              p.events.size, p.links.size,
              p.parentSpanId.map(b => java.nio.ByteBuffer.wrap(b).getLong),
              p.traceState)
          }
        }
      }.toDF("trace_id", "span_id", "service_name", "span_name", "span_kind",
        "ts_us", "duration_millis", "status_code", "env_attr", "k_attr",
        "n_events", "n_links", "parent_id", "trace_state")
    },
      SpansCte +
      """SELECT trace_id, span_id, service_name, span_name, span_kind,
        |  epoch_us(ts) AS ts_us, duration_millis, status_code, env_attr, k_attr,
        |  CAST(span_id % 3 AS INT) AS n_events,
        |  CAST(CASE WHEN span_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_links,
        |  CASE WHEN span_id % 2 = 0 THEN span_id // 2 END AS parent_id,
        |  CASE WHEN span_id % 3 = 0 THEN 'st=1' END AS trace_state
        |FROM spans""".stripMargin),

    // Wire bytes → Jaeger surface end-to-end: the SAME find_trace_ids
    // query as jg_find_trace_ids, but over the frame decoded from
    // ExportTraceServiceRequest protobuf — same oracle rows, proving the
    // protobuf arm feeds the SpanReader unchanged.
    Query("jg_from_wire", (s, d) => {
      val decoded = byName("p_otlp_trace_proto").build(s, d).select(
        col("trace_id"), col("span_id"), col("service_name"), col("span_name"),
        col("span_kind"), timestamp_micros(col("ts_us")).as("ts"),
        col("duration_millis"), col("status_code"),
        map(lit("env"), col("env_attr")).as("resource_attributes"),
        map(lit("k"), col("k_attr")).as("span_attributes"))
      Jaeger.findTraceIds(decoded, Jaeger.TraceQuery(
          serviceName = "svc_error",
          tags = Map("error" -> "true", "env" -> "prod"),
          minStartSecs = Some(1704844800L),
          maxStartSecs = Some(1706313600L),
          minDurationMillis = Some(100L), maxDurationMillis = Some(900L),
          numTraces = 10))
        .select(col("trace_id"),
          unix_micros(col("span_ts").cast("timestamp_ltz")).as("span_ts_us"))
    },
      SpansCte +
      """SELECT trace_id, epoch_us(max(ts)) AS span_ts_us FROM spans
        |WHERE service_name = 'svc_error' AND status_code = 'error'
        |  AND env_attr = 'prod'
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-27'
        |  AND duration_millis BETWEEN 100 AND 900
        |GROUP BY trace_id
        |ORDER BY span_ts_us DESC, trace_id ASC LIMIT 10""".stripMargin),

    // ---- tag-pruned scan (tag_pruning.rs:40-160 at root.rs:1041) ---------
    // Builds a two-batch table whose file groups carry disjoint role tags,
    // then scans with a Term query on the tag field: the non-matching file
    // group is pruned at metadata level (never opened — pinned by
    // TranscriptTableSpec via inputFiles) and the result still equals the
    // plain filter, which is what the oracle checks.
    Query("s_tag_pruned_scan", (s, d) => {
      import graft.queryast.QueryAst
      val dir = java.nio.file.Files.createTempDirectory("graft-tagscan").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      // stage a deterministic SLICE (turn_idx < 5, mirrored in the oracle
      // SQL): the query demonstrates tag-pruned scanning, and staging the
      // full SF as two zstd-compressed table writes made setup dominate
      // the measured time 10:1 at sf0.1
      val tr = transcripts(s, d).filter(col("turn_idx") < 5)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      table.append(tr.filter(col("role") === "tool"), delta(-1, 1),
        numFiles = 1, tagFields = Seq("role"))
      table.append(tr.filter(col("role") =!= "tool"), delta(1, 2),
        numFiles = 2, tagFields = Seq("role"))
      val q = QueryAst.Term("role", "tool")
      table.scan(query = Some(q), tagFields = Set("role"))
        .filter(q.toColumn(noTextResolver))
        .groupBy("role").agg(count(lit(1)).as("n_docs"))
    },
      TranscriptsCte +
      """SELECT role, CAST(count(*) AS BIGINT) AS n_docs
        |FROM transcripts WHERE role = 'tool' AND turn_idx < 5 GROUP BY role""".stripMargin),

    Query("s_time_pruned_scan", (s, d) => {
      import graft.queryast.QueryAst
      val dir = java.nio.file.Files.createTempDirectory("graft-tsscan").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      // deterministic UNIFORM slice (same cost rationale as
      // s_tag_pruned_scan, but uniform over TIME — turn_idx<5 would put
      // every row before the cut and make the query vacuously 0=0)
      val tr = transcripts(s, d)
        .filter(pmod(unix_micros(col("ts").cast("timestamp_ltz")), lit(4L)) === 0L)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      val cut = lit("2024-01-16").cast("timestamp")
      table.append(tr.filter(col("ts") < cut), delta(-1, 1), numFiles = 1)
      table.append(tr.filter(col("ts") >= cut), delta(1, 2), numFiles = 2)
      // NO explicit start/end: the bound is implied by the query AST alone
      // (refine_start_end_timestamp_from_ast, root.rs:1034) — the early
      // file group's [min_ts, max_ts] is disjoint and never opened
      val q = QueryAst.Bool(filterQ =
        Seq(QueryAst.Range("ts", gte = Some("2024-01-16T00:00:00Z"))))
      table.scan(query = Some(q))
        .filter(q.toColumn(noTextResolver))
        .groupBy("role").agg(count(lit(1)).as("n_docs"), min(col("ts")).as("first_ts"))
        .orderBy("role")
    },
      TranscriptsCte +
      """SELECT role, CAST(count(*) AS BIGINT) AS n_docs, min(ts) AS first_ts
        |FROM transcripts WHERE epoch_us(ts) % 4 = 0 AND ts >= TIMESTAMP '2024-01-16'
        |GROUP BY role ORDER BY role""".stripMargin),

    // CanSplitDoBetter early split-skip (leaf.rs:430-543): latest-k query
    // over a 3-batch table opens only the splits that can compete; the
    // oracle is the plain global sort — skipping is never lossy.
    Query("k_topk_split_skip", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-splitskip").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      val tr = transcripts(s, d)
        .filter(pmod(unix_micros(col("ts").cast("timestamp_ltz")), lit(4L)) === 1L)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      val (c1, c2) = (lit("2024-01-11").cast("timestamp"), lit("2024-01-21").cast("timestamp"))
      table.append(tr.filter(col("ts") < c1), delta(-1, 1), numFiles = 1)
      table.append(tr.filter(col("ts") >= c1 && col("ts") < c2), delta(1, 2), numFiles = 1)
      table.append(tr.filter(col("ts") >= c2), delta(2, 3), numFiles = 1)
      val (top, _) = table.topKByTs(5)
      top.select("conv_id", "turn_idx", "ts")
        .orderBy(col("ts").desc, col("conv_id"), col("turn_idx"))
    },
      TranscriptsCte +
      """SELECT conv_id, turn_idx, ts FROM transcripts
        |WHERE epoch_us(ts) % 4 = 1
        |ORDER BY ts DESC, conv_id, turn_idx LIMIT 5""".stripMargin),

    // ---- ingest v1 WAL queue (S4, queue.rs:53-200) -----------------------
    // Docs enqueue in three WAL segments; the indexing source tails from a
    // mid-stream checkpoint (position > after) and the publisher's
    // suggest_truncate at that same position must not change what the
    // tail reads (segment-granular truncation, positions never reused).
    // DuckDB recomputes positions as row_number over the same order.
    Query("s_ingest_queue", (s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-ingestq").toString
      val q = new graft.sources.IngestQueue(root)
      q.createQueue("idx")
      val docs = transcripts(s, d)
        .filter(col("role") === "tool" && col("turn_idx") < 3)
        .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
        .collect().map(r => s"${r.getString(0)}|${r.getInt(1)}")
      val third = math.max(1, docs.length / 3)
      q.ingest("idx", docs.take(third).toSeq)
      q.ingest("idx", docs.slice(third, 2 * third).toSeq)
      if (docs.length > 2 * third) q.ingest("idx", docs.drop(2 * third).toSeq)
      val after = docs.length / 2 - 1L // the committed checkpoint position
      val fetched = q.fetch("idx", after, maxDocs = docs.length)
      q.suggestTruncate("idx", after)
      val refetched = q.fetch("idx", after, maxDocs = docs.length)
      val truncateOk = refetched == fetched
      fetched.map { case (pos, doc) =>
        val cut = doc.lastIndexOf('|')
        (pos, doc.substring(0, cut), doc.substring(cut + 1).toInt, truncateOk)
      }.toDF("position", "conv_id", "turn_idx", "truncate_ok")
    },
      TranscriptsCte +
      """, ordered AS (
        |  SELECT conv_id, turn_idx,
        |    row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS position
        |  FROM transcripts WHERE role = 'tool' AND turn_idx < 3)
        |SELECT CAST(position AS BIGINT) AS position, conv_id, turn_idx,
        |  TRUE AS truncate_ok
        |FROM ordered
        |WHERE position > (SELECT count(*) // 2 - 1 FROM ordered)
        |ORDER BY position""".stripMargin),

    // ---- ingest v2 REPLICATED data plane (ingest_v2/replication.rs) ------
    // Leader persists per-role shard batches with replication-factor-2
    // acks (ack only after the follower confirmed), then the leader DIES:
    // the promoted follower must serve every acked doc — the oracle
    // recomputes counts + content length straight from transcripts, so a
    // lost or duplicated batch breaks the hash. Positions are checked
    // contiguous on both nodes.
    Query("s_ingest_replicated", (s, d) => {
      import s.implicits._
      def wal() = new graft.sources.IngestQueue(
        java.nio.file.Files.createTempDirectory("graft-repl").toString)
      val follower = new graft.sources.Replication.Follower(wal(), "node-1", "node-2")
      val leader = new graft.sources.Replication.Leader(wal(), "node-1", follower)
      val docs = transcripts(s, d)
        .filter(col("role").isin("user", "system") && col("turn_idx") < 3 &&
          col("text").isNotNull)
        .select("role", "conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx").collect()
      val byShard = docs.groupBy(_.getString(0)).toSeq.sortBy(_._1)
      byShard.foreach { case (role, _) => leader.openShard(s"shard-$role") }
      byShard.foreach { case (role, rows) =>
        rows.grouped(500).foreach { batch =>
          leader.persist(s"shard-$role", batch.map(_.getString(3)).toSeq)
        }
      }
      // failover: the follower promotes over its own WAL; acked == served
      val promoted = follower.promote(
        new graft.sources.Replication.Follower(wal(), "node-2", "node-3"))
      byShard.map { case (role, _) =>
        val qid = s"shard-$role"
        val fetched = promoted.wal.fetch(qid, -1L, Int.MaxValue)
        val contiguous = fetched.map(_._1) == fetched.indices.map(_.toLong)
        (role, fetched.size.toLong, fetched.map(_._2.length.toLong).sum,
          leader.ackedPosition(qid), promoted.ackedPosition(qid), contiguous)
      }.toDF("role", "n_docs", "total_chars", "leader_pos", "follower_pos", "contiguous")
        .orderBy("role")
    },
      TranscriptsCte +
      """SELECT role, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(count(*) - 1 AS BIGINT) AS leader_pos,
        |  CAST(count(*) - 1 AS BIGINT) AS follower_pos,
        |  true AS contiguous
        |FROM transcripts
        |WHERE role IN ('user', 'system') AND turn_idx < 3 AND text IS NOT NULL
        |GROUP BY role ORDER BY role""".stripMargin),

    // ---- scroll (K6, scroll_context.rs:48-150) ---------------------------
    // The ES scroll context pages through the sorted result 5 hits at a
    // time; the first 10 pages are emitted with their page numbers (read
    // back from each page's `_source`) and DuckDB recomputes them from the
    // same global order. (conv_id, turn_idx) is unique, so the context's
    // conv_id tiebreak never reorders a page. Deep exports use the
    // search-stream path (S9).
    Query("es_scroll", (s, d) => {
      import s.implicits._
      val tr = transcripts(s, d)
        .filter(col("text").isNotNull && col("role") === "system")
        .select(col("conv_id"), col("turn_idx"))
      val ctx = new graft.queryast.EsScroll.Context()
      def turnsOf(page: JsonObj): Seq[(String, Int)] =
        hitsOf(page).map(_("_source").asInstanceOf[JsonObj])
          .map(src => (src("conv_id").asInstanceOf[String], asLong(src("turn_idx")).toInt))
      val first = parseObj(ctx.search(tr, noTextResolver, "conv_id",
        """{"size":5,"sort":[{"conv_id":"asc"},{"turn_idx":"asc"}]}""", "1m"))
      val sid = first("_scroll_id").asInstanceOf[String]
      val pages = Iterator(turnsOf(first)) ++ Iterator.continually(turnsOf(parseObj(ctx.scroll(sid))))
      val served = pages.takeWhile(_.nonEmpty).take(10).toSeq
      ctx.clear(sid)
      served.zipWithIndex.flatMap { case (hits, pn) =>
        hits.map { case (conv, turn) => (pn, conv, turn) }
      }.toDF("page", "conv_id", "turn_idx")
    },
      TranscriptsCte +
      """, ordered AS (
        |  SELECT conv_id, turn_idx,
        |    row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS rn
        |  FROM transcripts WHERE text IS NOT NULL AND role = 'system')
        |SELECT CAST(rn // 5 AS INT) AS page, conv_id, turn_idx
        |FROM ordered WHERE rn < 50 ORDER BY rn""".stripMargin),

    // Generalized CanSplitDoBetter: top-k by a NON-timestamp fast field
    // (turn_idx) whose per-split [min,max] was recorded at append time —
    // the oracle is the plain global sort, skipping is never lossy.
    Query("k_topk_field_skip", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-fieldskip").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      val tr = transcripts(s, d)
        .filter(pmod(unix_micros(col("ts").cast("timestamp_ltz")), lit(4L)) === 2L)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      table.append(tr.filter(col("turn_idx") < 3), delta(-1, 1),
        numFiles = 1, rangeFields = Seq("turn_idx"))
      table.append(tr.filter(col("turn_idx") >= 3 && col("turn_idx") < 8), delta(1, 2),
        numFiles = 1, rangeFields = Seq("turn_idx"))
      table.append(tr.filter(col("turn_idx") >= 8), delta(2, 3),
        numFiles = 1, rangeFields = Seq("turn_idx"))
      val (top, _) = table.topKByField("turn_idx", 5)
      top.select("conv_id", "turn_idx")
        .orderBy(col("turn_idx").desc, col("conv_id"))
    },
      TranscriptsCte +
      """SELECT conv_id, turn_idx FROM transcripts
        |WHERE epoch_us(ts) % 4 = 2
        |ORDER BY turn_idx DESC, conv_id LIMIT 5""".stripMargin),

    // ---- list_fields / field caps (§2.11): schema introspection ----------
    // control: the Parquet schemas as Spark reads them
    Query("s_list_fields", (s, d) => {
      import s.implicits._
      Seq("events", "documents", "lineitem").flatMap { tbl =>
        t(s, d, tbl).schema.fields.map(f => (tbl, f.name, f.dataType.simpleString))
      }.toDF("table_name", "field", "spark_type").orderBy("table_name", "field")
    },
      """WITH cols AS (
        |  SELECT 'events' AS table_name, column_name AS field, column_type FROM (DESCRIBE SELECT * FROM events)
        |  UNION ALL SELECT 'documents', column_name, column_type FROM (DESCRIBE SELECT * FROM documents)
        |  UNION ALL SELECT 'lineitem', column_name, column_type FROM (DESCRIBE SELECT * FROM lineitem))
        |SELECT table_name, field,
        |  CASE column_type WHEN 'BIGINT' THEN 'bigint' WHEN 'VARCHAR' THEN 'string'
        |       WHEN 'DOUBLE' THEN 'double' WHEN 'INTEGER' THEN 'int'
        |       WHEN 'TIMESTAMP' THEN 'timestamp_ntz' WHEN 'FLOAT[]' THEN 'array<float>'
        |       ELSE lower(column_type) END AS spark_type
        |FROM cols ORDER BY table_name, field""".stripMargin),

    // ---- doc → JSON back-projection (P6) ---------------------------------
    // control: Spark's to_json; the served doc → JSON is p_mapping_roundtrip
    Query("p_doc_to_json", (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        to_json(struct(col("doc_id"), col("lang"), col("source")),
          Map("ignoreNullFields" -> "false")).as("doc_json")),
      """SELECT doc_id,
        |  CAST(to_json(struct_pack(doc_id := doc_id, lang := lang, source := source)) AS VARCHAR) AS doc_json
        |FROM documents""".stripMargin),

    // ---- JSON doc parse (P1): from_json round-trip -----------------------
    // control: Spark's from_json round trip
    Query("p_json_parse", (s, d) => {
      val asJson = to_json(struct(col("doc_id"), col("lang"), col("source")))
      val parsed = from_json(asJson,
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, lang STRING, source STRING"))
      t(s, d, "documents").select(
        col("doc_id"),
        parsed.getField("lang").as("lang2"),
        parsed.getField("source").as("source2"))
    },
      "SELECT doc_id, lang AS lang2, source AS source2 FROM documents"),

    // ---- janitor: retention policy over split metadata -------------------
    // CLI `index describe` (IndexStats + DescriptiveStats,
    // quickwit-cli/src/index.rs:539-875): totals, timestamp range, and the
    // per-split doc/byte distribution stats over a per-conversation split
    // metastore.
    // ---- index-management CRUD arc (index.rs:100-331) --------------------
    // create (validated config) → ingest → clear (splits+files gone,
    // config+index survive, checkpoint RESET so the same delta re-applies)
    // → re-ingest → delete (directory gone). Each transition emits one
    // oracle-visible row; file counts are PHYSICAL (walked on disk), so a
    // leaked split file breaks the hash.
    // Source-management arc (index_api/rest_handler.rs:700-830;
    // index_metadata/mod.rs:103-139): create a kafka source beside the
    // three Quickwit-managed defaults, ingest through its checkpoint,
    // toggle it off, reset the checkpoint (docs stay — only clear_index
    // drops splits), delete it (checkpoint goes with it). Each stage's
    // observable state is one oracle row.
    Query("m_source_lifecycle", (s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-srcsvc").toString
      val svc = new graft.publish.IndexService(root, s)
      val id = "transcripts-src"
      svc.createIndex(
        s"""{"index_id": "$id",
           | "doc_mapping": {
           |   "mode": "dynamic",
           |   "field_mappings": [
           |     {"name": "text", "type": "text"},
           |     {"name": "ts", "type": "datetime", "fast": true}]}}""".stripMargin)
      val store = new graft.publish.Manifest.Store(svc.indexDir(id))
      def row(stage: String): (String, Int, String, Boolean, Long) = {
        val sources = svc.listSources(id)
        val kafka = sources.find(_.sourceId == "kafka-source")
        val snap = store.currentSnapshot()
        (stage, sources.size,
          kafka.map(k => if (k.enabled) "enabled" else "disabled").getOrElse("absent"),
          snap.exists(_.checkpoint.contains("kafka-source")),
          snap.map(_.splits.map(_.numDocs).sum).getOrElse(0L))
      }
      val rows = Seq.newBuilder[(String, Int, String, Boolean, Long)]
      rows += row("c1_create")
      svc.createSource(id,
        """{"source_id": "kafka-source", "source_type": "kafka",
          | "desired_num_pipelines": 2, "params": {"topic": "transcripts"}}""".stripMargin)
      rows += row("c2_add")
      svc.table(id).append(
        transcripts(s, d).filter(col("role") === "user" && col("turn_idx") < 5),
        graft.publish.Checkpoint.Delta(
          Seq(graft.publish.Checkpoint.PartitionDelta("kafka-source", -1, 1))),
        numFiles = 1)
      rows += row("c3_ingest")
      svc.toggleSource(id, "kafka-source", enable = false)
      rows += row("c4_toggle")
      svc.resetSourceCheckpoint(id, "kafka-source")
      rows += row("c5_reset")
      svc.deleteSource(id, "kafka-source")
      rows += row("c6_delete")
      rows.result().toDF("stage", "n_sources", "kafka_state", "has_cp", "num_docs")
        .orderBy("stage")
    },
      TranscriptsCte +
      """, ingested AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM transcripts WHERE role = 'user' AND turn_idx < 5)
        |SELECT * FROM (
        |  SELECT 'c1_create' AS stage, CAST(3 AS INT) AS n_sources,
        |         'absent' AS kafka_state, false AS has_cp, CAST(0 AS BIGINT) AS num_docs
        |  UNION ALL SELECT 'c2_add', CAST(4 AS INT), 'enabled', false, CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'c3_ingest', CAST(4 AS INT), 'enabled', true, (SELECT n FROM ingested)
        |  UNION ALL SELECT 'c4_toggle', CAST(4 AS INT), 'disabled', true, (SELECT n FROM ingested)
        |  UNION ALL SELECT 'c5_reset', CAST(4 AS INT), 'disabled', false, (SELECT n FROM ingested)
        |  UNION ALL SELECT 'c6_delete', CAST(3 AS INT), 'absent', false, (SELECT n FROM ingested)
        |) ORDER BY stage""".stripMargin),

    Query("m_index_lifecycle", (s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-idxsvc").toString
      val svc = new graft.publish.IndexService(root, s)
      val id = "transcripts-main"
      svc.createIndex(
        s"""{"index_id": "$id",
           | "doc_mapping": {
           |   "mode": "dynamic",
           |   "timestamp_field": "ts",
           |   "field_mappings": [
           |     {"name": "conv_id", "type": "text", "tokenizer": "raw"},
           |     {"name": "turn_idx", "type": "i64"},
           |     {"name": "role", "type": "text", "tokenizer": "raw"},
           |     {"name": "text", "type": "text"},
           |     {"name": "ts", "type": "datetime", "fast": true}]},
           | "search_settings": {"default_search_fields": ["text"]},
           | "retention": {"period": "30 days", "schedule": "daily"},
           | "indexing_settings": {"merge_policy": {"merge_factor": 10, "max_merge_factor": 12}}}""".stripMargin)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      def physicalFiles(): Long = {
        val dir = java.nio.file.Paths.get(svc.indexDir(id))
        if (!java.nio.file.Files.isDirectory(dir)) 0L
        else {
          def walk(p: java.nio.file.Path): Long =
            if (java.nio.file.Files.isDirectory(p)) graft.util.Fs.list(p).map(walk).sum
            else if (p.toString.endsWith(".parquet")) 1L else 0L
          walk(dir)
        }
      }
      def row(stage: String): (String, Boolean, Int, Long, Long) = {
        val splits = new graft.publish.Manifest.Store(svc.indexDir(id))
          .currentSnapshot().map(_.splits).getOrElse(Nil)
        (stage, svc.exists(id), splits.size, splits.map(_.numDocs).sum, physicalFiles())
      }
      val tr = transcripts(s, d)
      val rows = Seq.newBuilder[(String, Boolean, Int, Long, Long)]
      rows += row("c1_create")
      val table = svc.table(id)
      table.append(tr.filter(col("role") === "user" && col("turn_idx") < 5),
        delta(-1, 1), numFiles = 1)
      table.append(tr.filter(col("role") === "user" && col("turn_idx") >= 5 && col("turn_idx") < 10),
        delta(1, 2), numFiles = 2)
      rows += row("c2_ingest")
      svc.clearIndex(id)
      rows += row("c3_clear")
      // the checkpoint was reset (index.rs:318-327): position 0..1 applies AGAIN
      svc.table(id).append(tr.filter(col("role") === "assistant" && col("turn_idx") < 5),
        delta(-1, 1), numFiles = 1)
      rows += row("c4_reingest")
      svc.deleteIndex(id)
      rows += row("c5_delete")
      rows.result().toDF("stage", "has_config", "n_splits", "n_docs", "n_files")
        .orderBy("stage")
    },
      TranscriptsCte +
      """SELECT * FROM (
        |  SELECT 'c1_create' AS stage, true AS has_config,
        |         CAST(0 AS INT) AS n_splits, CAST(0 AS BIGINT) AS n_docs,
        |         CAST(0 AS BIGINT) AS n_files
        |  UNION ALL
        |  SELECT 'c2_ingest', true, CAST(3 AS INT),
        |         (SELECT count(*) FROM transcripts WHERE role = 'user' AND turn_idx < 10),
        |         CAST(3 AS BIGINT)
        |  UNION ALL
        |  SELECT 'c3_clear', true, CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'c4_reingest', true, CAST(1 AS INT),
        |         (SELECT count(*) FROM transcripts WHERE role = 'assistant' AND turn_idx < 5),
        |         CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT 'c5_delete', false, CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |) ORDER BY stage""".stripMargin),

    Query("m_describe_index", (s, d) => {
      val splits = transcripts(s, d).filter(col("text").isNotNull)
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("num_docs"),
          sum(octet_length(col("text"))).cast("long").as("bytes"),
          unix_micros(min(col("ts")).cast("timestamp_ltz")).as("ts_min"),
          unix_micros(max(col("ts")).cast("timestamp_ltz")).as("ts_max"))
      graft.publish.DescribeIndex.stats(splits,
        col("num_docs"), col("bytes"), col("ts_min"), col("ts_max"))
    },
      TranscriptsCte +
      """, splits AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS num_docs,
        |         CAST(sum(strlen(text)) AS BIGINT) AS bytes,
        |         epoch_us(min(ts)) AS ts_min, epoch_us(max(ts)) AS ts_max
        |  FROM transcripts WHERE text IS NOT NULL GROUP BY conv_id)
        |SELECT CAST(count(*) AS BIGINT) AS num_splits,
        |  CAST(sum(num_docs) AS BIGINT) AS num_docs,
        |  CAST(sum(bytes) AS BIGINT) AS num_bytes,
        |  min(ts_min) AS ts_min, max(ts_max) AS ts_max,
        |  round(avg(num_docs), 4) AS docs_mean,
        |  round(stddev_pop(num_docs), 4) AS docs_std,
        |  round(quantile_cont(num_docs, 0.01), 4) AS docs_q1,
        |  round(quantile_cont(num_docs, 0.25), 4) AS docs_q25,
        |  round(quantile_cont(num_docs, 0.50), 4) AS docs_q50,
        |  round(quantile_cont(num_docs, 0.75), 4) AS docs_q75,
        |  round(quantile_cont(num_docs, 0.99), 4) AS docs_q99,
        |  round(avg(bytes), 4) AS bytes_mean,
        |  round(stddev_pop(bytes), 4) AS bytes_std,
        |  round(quantile_cont(bytes, 0.01), 4) AS bytes_q1,
        |  round(quantile_cont(bytes, 0.25), 4) AS bytes_q25,
        |  round(quantile_cont(bytes, 0.50), 4) AS bytes_q50,
        |  round(quantile_cont(bytes, 0.75), 4) AS bytes_q75,
        |  round(quantile_cont(bytes, 0.99), 4) AS bytes_q99
        |FROM splits""".stripMargin),

    // control: an inline filter over pipe_split_stats; the served retention is m_janitor_cycle
    Query("m_retention", (s, d) => {
      val stats = byName("pipe_split_stats").build(s, d)
      // retention: drop splits whose whole time range ended before cutoff
      stats.filter(col("max_ts") >= lit("2024-01-08").cast("timestamp"))
        .select("partition_id", "num_docs")
        .orderBy("partition_id")
    },
      TranscriptsCte +
      """, tr AS (SELECT *, CAST(substr(conv_id, 5) AS BIGINT) % 8 AS partition_id
        |          FROM transcripts WHERE text IS NOT NULL)
        |SELECT partition_id, CAST(count(*) AS BIGINT) AS num_docs
        |FROM tr GROUP BY partition_id
        |HAVING max(ts) >= TIMESTAMP '2024-01-08'
        |ORDER BY partition_id""".stripMargin),

    // Metastore list-splits (ListSplits): the reference's ListSplitsQuery
    // filter surface over a split-metadata frame synthesized per
    // conversation with DETERMINISTIC lifecycle fields (state / timestamps
    // / opstamps all pure functions of the conv id, so DuckDB rebuilds the
    // identical metastore). Exercises states + tag filter + opstamp /
    // update-timestamp ranges + time-range overlap incl. the null-range
    // pass rule, then the staleness sort with offset+limit.
    Query("m_list_splits", (s, d) =>
      ListSplits(splitMetastore(s, d), ListSplits.Query(
        splitStates = Seq("Published", "Staged"),
        tags = Some(ListSplits.Tag(isPresent = true, tag = "role:user")),
        deleteOpstamp = ListSplits.FilterRange.gte(2L),
        updateTimestamp = ListSplits.FilterRange.lt(700L),
        timeRange = ListSplits.FilterRange.gt(1704412800000000L), // 2024-01-05 UTC µs
        sortByStaleness = true, offset = 1, limit = Some(200)))
        .select("split_id", "split_state", "num_docs", "delete_opstamp",
          "update_timestamp", "create_timestamp", "publish_timestamp"),
      TranscriptsCte +
      """, sp AS (
        |  SELECT conv_id AS split_id, CAST(substr(conv_id, 5) AS BIGINT) AS cid,
        |    CAST(count(*) AS BIGINT) AS num_docs,
        |    epoch_us(min(ts)) AS ts_min, epoch_us(max(ts)) AS ts_max,
        |    list_sort(list_distinct(list('role:' || role))) AS tags
        |  FROM transcripts WHERE text IS NOT NULL GROUP BY conv_id),
        |m AS (
        |  SELECT split_id, num_docs,
        |    ['Staged','Published','MarkedForDeletion'][CAST(cid % 3 AS INT) + 1] AS split_state,
        |    (cid * 7) % 1000 AS create_timestamp,
        |    (cid * 13) % 1000 AS update_timestamp,
        |    cid % 10 AS delete_opstamp,
        |    CASE WHEN cid % 3 = 0 THEN NULL ELSE cid % 97 END AS publish_timestamp,
        |    CASE WHEN cid % 5 = 4 THEN NULL ELSE ts_min END AS time_range_start,
        |    CASE WHEN cid % 5 = 4 THEN NULL ELSE ts_max END AS time_range_end,
        |    tags
        |  FROM sp)
        |SELECT split_id, split_state, num_docs, delete_opstamp,
        |  update_timestamp, create_timestamp, publish_timestamp
        |FROM m
        |WHERE split_state IN ('Published', 'Staged')
        |  AND list_contains(tags, 'role:user')
        |  AND delete_opstamp >= 2
        |  AND update_timestamp < 700
        |  AND (time_range_start IS NULL OR 1704412800000000 < time_range_end)
        |ORDER BY delete_opstamp, publish_timestamp NULLS FIRST, split_id
        |LIMIT 200 OFFSET 1""".stripMargin),

    // Janitor delete-task planning (DeleteTaskPlanner): stalest Published
    // splits lagging the last delete opstamp (9), matched against three
    // deterministic pending tasks (a tag-only, a tag+time-window, and a
    // match-all-from-2024-01-08 task) → delete_and_merge vs bump_opstamp.
    Query("m_delete_plan", (s, d) => {
      import s.implicits._
      val tasks = Seq(
        (5L, None, None, Some("role:tool")),
        (7L, Some(1704240000000000L), Some(1704499200000000L), Some("role:user")),
        (9L, Some(1704672000000000L), None, None))
        .toDF("opstamp", "start_ts", "end_ts", "tag")
      val stale = graft.publish.DeleteTaskPlanner
        .listStaleSplits(splitMetastore(s, d), lastDeleteOpstamp = 9L, nowSec = 1L)
      graft.publish.DeleteTaskPlanner.partitionByDeletes(stale, tasks)
    },
      TranscriptsCte +
      """, sp AS (
        |  SELECT conv_id AS split_id, CAST(substr(conv_id, 5) AS BIGINT) AS cid,
        |    epoch_us(min(ts)) AS ts_min, epoch_us(max(ts)) AS ts_max,
        |    list_sort(list_distinct(list('role:' || role))) AS tags
        |  FROM transcripts WHERE text IS NOT NULL GROUP BY conv_id),
        |m AS (
        |  SELECT split_id,
        |    ['Staged','Published','MarkedForDeletion'][CAST(cid % 3 AS INT) + 1] AS split_state,
        |    cid % 10 AS delete_opstamp,
        |    CASE WHEN cid % 3 = 0 THEN NULL ELSE cid % 97 END AS publish_timestamp,
        |    CASE WHEN cid % 5 = 4 THEN NULL ELSE ts_min END AS time_range_start,
        |    CASE WHEN cid % 5 = 4 THEN NULL ELSE ts_max END AS time_range_end,
        |    tags
        |  FROM sp),
        |stale AS (
        |  SELECT split_id, delete_opstamp, tags, time_range_start, time_range_end
        |  FROM m WHERE split_state = 'Published' AND delete_opstamp < 9
        |  ORDER BY delete_opstamp, publish_timestamp NULLS FIRST, split_id
        |  LIMIT 1000),
        |tasks(opstamp, start_ts, end_ts, tag) AS (VALUES
        |  (5, NULL, NULL, 'role:tool'),
        |  (7, 1704240000000000, 1704499200000000, 'role:user'),
        |  (9, 1704672000000000, NULL, NULL))
        |SELECT s.split_id, s.delete_opstamp,
        |  CAST(count(t.opstamp) AS BIGINT) AS n_matching_tasks,
        |  CASE WHEN count(t.opstamp) > 0 THEN 'delete_and_merge'
        |       ELSE 'bump_opstamp' END AS action
        |FROM stale s LEFT JOIN tasks t
        |  ON t.opstamp > s.delete_opstamp
        |  AND (s.time_range_start IS NULL OR (t.start_ts IS NULL AND t.end_ts IS NULL)
        |       OR NOT (coalesce(t.end_ts, 9223372036854775807) <= s.time_range_start
        |               OR s.time_range_end < coalesce(t.start_ts, -9223372036854775808)))
        |  AND (t.tag IS NULL OR list_contains(s.tags, t.tag))
        |GROUP BY s.split_id, s.delete_opstamp""".stripMargin),

    // ---- merge planning over live split stats ----------------------------
    // Invariant oracle (same pattern as r_route_counts): the batch
    // assignment itself is the policy loop (not SQL-expressible), but its
    // INVARIANTS are — candidate count/docs recomputed by DuckDB from the
    // same split-stats CTE, plan invariants asserted TRUE. Batch-level
    // values stay pinned by MergePolicySpec's ScalaCheck properties.
    Query("m_merge_plan", (s, d) => {
      import s.implicits._
      val stats = byName("pipe_split_stats").build(s, d)
        // parquet ts columns are NTZ — convert to epoch µs before collect
        .withColumn("min_us", unix_micros(col("min_ts").cast("timestamp_ltz")))
        .withColumn("max_us", unix_micros(col("max_ts").cast("timestamp_ltz")))
        .collect()
      val entries = stats.map { r =>
        graft.publish.Manifest.SplitEntry(
          splitId = s"split-p${r.getAs[Long]("partition_id")}",
          partitionId = 0L, // same level-pool: plan by size alone
          numDocs = r.getAs[Long]("num_docs"),
          uncompressedBytes = r.getAs[Long]("uncompressed_bytes"),
          timeRangeStartMicros = r.getAs[Long]("min_us"),
          timeRangeEndMicros = r.getAs[Long]("max_us"),
          tags = Nil, termCardinality = r.getAs[Long]("term_cardinality"),
          postingsCount = r.getAs[Long]("postings_count"),
          numMergeOps = 0, deleteOpstamp = 0L, files = Nil)
      }.toSeq
      val cfg = MergePolicy.Config(mergeFactor = 3, maxMergeFactor = 4,
        minLevelNumDocs = 10L, splitNumDocsTarget = 10000000L)
      val plan = MergePolicy.planMerges(entries, cfg)
      val inv = MergePolicy.planInvariants(entries, plan, cfg)
      val candidates = entries.filterNot(e => MergePolicy.isMature(e.numDocs, cfg))
      Seq((candidates.length.toLong, candidates.map(_.numDocs).sum,
           inv.sizesInBounds, inv.allImmature, inv.sameLevel,
           inv.sourcesDisjoint, inv.leftoverOk))
        .toDF("candidate_splits", "candidate_docs", "sizes_in_bounds",
              "all_immature", "same_level", "sources_disjoint", "leftover_ok")
    },
      TranscriptsCte +
      """, tr AS (SELECT *, CAST(substr(conv_id, 5) AS BIGINT) % 8 AS partition_id
        |          FROM transcripts WHERE text IS NOT NULL),
        |st AS (SELECT partition_id, CAST(count(*) AS BIGINT) AS num_docs
        |       FROM tr GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS candidate_splits,
        |  CAST(sum(num_docs) AS BIGINT) AS candidate_docs,
        |  TRUE AS sizes_in_bounds, TRUE AS all_immature, TRUE AS same_level,
        |  TRUE AS sources_disjoint, TRUE AS leftover_ok
        |FROM st WHERE num_docs < 10000000""".stripMargin),

    // ---- merge EXECUTION: plan → rewrite → atomic publish → readback -----
    // Content-preservation oracle (merge_executor.rs:184-463): 12 hash-
    // keyed single-file splits are planned into 3 four-way merges, each
    // batch is rewritten as one sorted zstd file group and published
    // atomically with staged+replaced; the table is then read back THROUGH
    // the merged splits and aggregated per role — DuckDB recomputes the
    // same aggregate from the raw transcripts, so any lost/duplicated/
    // mutated row breaks the hash. Structural facts (split count per plan,
    // replaced ids gone, merge generation) ride as asserted booleans, the
    // m_merge_plan pattern; crash-resume is MergeExecutorSpec's job.
    Query("m_merge_execute", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-mergeexec").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      val tr = transcripts(s, d)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      (0 until 12).foreach { i =>
        table.append(
          tr.filter(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(12L)) === i.toLong),
          delta(i - 1, i), numFiles = 1)
      }
      val before = table.store.currentSnapshot().get
      val cfg = MergePolicy.Config(mergeFactor = 3, maxMergeFactor = 4,
        minLevelNumDocs = 1000000000L, splitNumDocsTarget = 10000000000L)
      val plan = graft.publish.MergePolicy.planMerges(before.splits, cfg)
      val res = graft.publish.MergeExecutor.run(dir, s, cfg)
      val after = table.store.currentSnapshot().get
      val ok =
        before.splits.size == 12 && plan.size == 3 &&
          res.merged.size == 3 && res.skipped == 0 &&
          after.splits.size == 3 &&
          after.splits.forall(_.numMergeOps == 1) &&
          after.splits.forall(_.files.size == 1) &&
          after.splits.map(_.numDocs).sum == before.splits.map(_.numDocs).sum &&
          before.splits.map(_.splitId).toSet.intersect(
            after.splits.map(_.splitId).toSet).isEmpty &&
          after.checkpoint == before.checkpoint
      table.scan()
        .groupBy(col("role"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(octet_length(col("text"))).cast("long").as("n_bytes"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .withColumn("merge_ok", lit(ok))
        .orderBy("role")
    },
      TranscriptsCte +
      """SELECT role, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  min(ts) AS first_ts, max(ts) AS last_ts,
        |  TRUE AS merge_ok
        |FROM transcripts GROUP BY role ORDER BY role""".stripMargin),

    // ---- delete-task EXECUTION (merge_executor.rs:290-456) ---------------
    // Two delete rounds over a 3-split table exercise all three arms:
    // round 1 (opstamp 5, role:assistant) bumps two splits and REWRITES the
    // mixed one without its matching docs; round 2 (opstamp 9, role:tool)
    // drops the all-matching split OUTRIGHT and bumps the rest. The table
    // is read back through the rewritten splits; DuckDB recomputes the
    // surviving per-role aggregate from the raw transcripts. Structural
    // facts (opstamps current, arm counts) ride as an asserted boolean.
    Query("m_delete_execute", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-delexec").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      val tr = transcripts(s, d)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      table.append(tr.filter(col("role") === "tool"), delta(-1, 1), numFiles = 1)
      table.append(tr.filter(col("role") === "user"), delta(1, 2), numFiles = 1)
      table.append(tr.filter(col("role").isin("assistant", "system")), delta(2, 3), numFiles = 1)
      val r1 = graft.publish.DeleteExecutor.run(dir, s,
        Seq(graft.publish.DeleteExecutor.DeleteTask(5L, graft.queryast.QueryAst.Term("role", "assistant"))))
      val r2 = graft.publish.DeleteExecutor.run(dir, s,
        Seq(graft.publish.DeleteExecutor.DeleteTask(9L, graft.queryast.QueryAst.Term("role", "tool"))))
      val snap = table.store.currentSnapshot().get
      val ok = r1.bumped.size == 2 && r1.rewritten.size == 1 &&
        r2.rewritten.isEmpty && r2.deletedDocs > 0 &&
        snap.splits.size == 2 && snap.splits.forall(_.deleteOpstamp == 9L)
      table.scan()
        .groupBy(col("role"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(octet_length(col("text"))).cast("long").as("n_bytes"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .withColumn("delete_ok", lit(ok))
        .orderBy("role")
    },
      TranscriptsCte +
      """SELECT role, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  min(ts) AS first_ts, max(ts) AS last_ts,
        |  TRUE AS delete_ok
        |FROM transcripts WHERE role NOT IN ('assistant', 'tool')
        |GROUP BY role ORDER BY role""".stripMargin),

    // ---- one JANITOR cycle: retention → deletes → merges → GC ------------
    // The integrated maintenance loop over a 7-split table: the old split
    // (wholly before 2024-01-08) is dropped by retention, every recent
    // split has its role:tool docs deleted, the rewritten survivors merge
    // 4-way, and the table is read back THROUGH the maintained splits.
    // DuckDB recomputes the surviving per-role aggregate.
    Query("m_janitor_cycle", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-janitor").toString
      val table = new graft.sources.TranscriptTable(dir, s)
      val tr = transcripts(s, d)
      def delta(from: Long, to: Long) =
        graft.publish.Checkpoint.Delta(Seq(graft.publish.Checkpoint.PartitionDelta("src", from, to)))
      val cutoff = lit("2024-01-08").cast("timestamp")
      val cutUs = 1704672000000000L // 2024-01-08T00:00Z µs
      table.append(tr.filter(col("ts") < cutoff), delta(-1, 1), numFiles = 1)
      (0 until 6).foreach { i =>
        table.append(
          tr.filter(col("ts") >= cutoff &&
            pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(6L)) === i.toLong),
          delta(i + 1, i + 2), numFiles = 1)
      }
      val cfg = MergePolicy.Config(mergeFactor = 3, maxMergeFactor = 4,
        minLevelNumDocs = 1000000000L, splitNumDocsTarget = 10000000000L)
      val rep = graft.publish.Janitor.cycle(dir, s, cfg,
        deleteTasks = Seq(graft.publish.DeleteExecutor.DeleteTask(5L,
          graft.queryast.QueryAst.Term("role", "tool"))),
        retentionCutoffMicros = Some(cutUs))
      val snap = table.store.currentSnapshot().get
      val ok = rep.retentionDropped.size == 1 &&
        rep.deleteRewritten + rep.deleteBumped == 6 &&
        rep.merged == 1 && rep.deletedDocs > 0 &&
        snap.splits.forall(_.deleteOpstamp == 5L)
      table.scan()
        .groupBy(col("role"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(octet_length(col("text"))).cast("long").as("n_bytes"))
        .withColumn("janitor_ok", lit(ok))
        .orderBy("role")
    },
      TranscriptsCte +
      """SELECT role, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  TRUE AS janitor_ok
        |FROM transcripts
        |WHERE ts >= TIMESTAMP '2024-01-08' AND role <> 'tool'
        |GROUP BY role ORDER BY role""".stripMargin),

    // ---- ES _bulk NDJSON ingest (elasticsearch_api/bulk.rs:79-143) ------
    // One bulk body per conversation (action+source line pairs in turn
    // order); turn_idx%9=0 plants a malformed action line, %4=0 a
    // default-index create. Output = per-index batch sizes + error tally.
    Query("es_bulk", (s, d) => {
      val tr = transcripts(s, d).filter(col("text").isNotNull)
      val actionJson = when(pmod(col("turn_idx"), lit(9)) === 0, lit("{ \"bad"))
        .when(pmod(col("turn_idx"), lit(4)) === 0,
          lit("""{ "create" : { "_id" : "anon" } }"""))
        .otherwise(concat(lit("{ \"index\" : { \"_index\" : \"idx_"), col("role"),
          lit("\", \"_id\" : \""), col("conv_id"), lit("-"),
          col("turn_idx").cast("string"), lit("\" } }")))
      val srcJson = concat(lit("{\"text\": \""), col("text"), lit("\"}"))
      val bodies = tr.groupBy(col("conv_id")).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("turn_idx"),
            concat_ws("\n", actionJson, srcJson).as("l")))),
          x => x.getField("l")), "\n").as("body"))
      graft.queryast.EsApi.bulkCounts(
        graft.queryast.EsApi.bulkParse(bodies, col("body"),
          Some("transcripts-default")))
        .orderBy("index_id")
    },
      TranscriptsCte +
      """SELECT CASE WHEN turn_idx % 9 = 0 THEN '(error)'
        |            WHEN turn_idx % 4 = 0 THEN 'transcripts-default'
        |            ELSE 'idx_' || role END AS index_id,
        |       count(*) AS num_docs
        |FROM transcripts WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY index_id""".stripMargin),

    // ---- Jaeger SpanReader surface (quickwit-jaeger/src/lib.rs:95-246) --
    Query("jg_services", (s, d) =>
      Jaeger.getServices(spans(s, d), JaegerNowSecs, JaegerLookbackSecs),
      SpansCte +
      """SELECT DISTINCT service_name AS service FROM spans
        |WHERE ts >= TIMESTAMP '2024-01-16'
        |ORDER BY service LIMIT 1000""".stripMargin),

    Query("jg_operations", (s, d) =>
      Jaeger.getOperations(spans(s, d), "svc_click", spanKind = None,
        JaegerNowSecs, JaegerLookbackSecs),
      SpansCte +
      """SELECT DISTINCT span_name AS name,
        |  CASE span_kind WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
        |       WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
        |       WHEN 5 THEN 'consumer' ELSE 'unspecified' END AS span_kind
        |FROM spans
        |WHERE service_name = 'svc_click' AND ts >= TIMESTAMP '2024-01-16'
        |ORDER BY name, span_kind LIMIT 1000""".stripMargin),

    Query("jg_find_trace_ids", (s, d) =>
      Jaeger.findTraceIds(spans(s, d), Jaeger.TraceQuery(
        serviceName = "svc_error",
        tags = Map("error" -> "true", "env" -> "prod"),
        minStartSecs = Some(1704844800L), // 2024-01-10T00:00Z
        maxStartSecs = Some(1706313600L), // 2024-01-27T00:00Z
        minDurationMillis = Some(100L), maxDurationMillis = Some(900L),
        numTraces = 10)),
      SpansCte +
      """SELECT trace_id, max(ts) AS span_ts FROM spans
        |WHERE service_name = 'svc_error' AND status_code = 'error'
        |  AND env_attr = 'prod'
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-27'
        |  AND duration_millis BETWEEN 100 AND 900
        |GROUP BY trace_id
        |ORDER BY span_ts DESC, trace_id ASC LIMIT 10""".stripMargin),

    Query("jg_find_traces", (s, d) =>
      Jaeger.findTraces(spans(s, d), Jaeger.TraceQuery(
        serviceName = "svc_error",
        tags = Map("error" -> "true", "env" -> "prod"),
        minStartSecs = Some(1704844800L),
        maxStartSecs = Some(1706313600L),
        minDurationMillis = Some(100L), maxDurationMillis = Some(900L),
        numTraces = 10), maxTraceDurationSecs = 3600L),
      SpansCte +
      """,ids AS (
        |  SELECT trace_id, max(ts) AS span_ts FROM spans
        |  WHERE service_name = 'svc_error' AND status_code = 'error'
        |    AND env_attr = 'prod'
        |    AND ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-27'
        |    AND duration_millis BETWEEN 100 AND 900
        |  GROUP BY trace_id
        |  ORDER BY span_ts DESC, trace_id ASC LIMIT 10),
        |b AS (
        |  SELECT date_trunc('second', min(span_ts)) - INTERVAL 1 HOUR AS lo,
        |         date_trunc('second', max(span_ts)) + INTERVAL 1 HOUR AS hi
        |  FROM ids)
        |SELECT s.trace_id, s.span_id, s.service_name, s.span_name,
        |       s.span_kind, s.ts, s.duration_millis, s.status_code
        |FROM spans s, ids, b
        |WHERE s.trace_id = ids.trace_id AND s.ts >= b.lo AND s.ts <= b.hi
        |ORDER BY s.trace_id, s.ts, s.span_id LIMIT 10000""".stripMargin),

    Query("jg_get_trace", (s, d) =>
      Jaeger.getTrace(spans(s, d), "conv7", JaegerNowSecs,
        lookbackSecs = 30L * 86400),
      SpansCte +
      """SELECT trace_id, span_id, service_name, span_name, span_kind, ts,
        |       duration_millis, status_code
        |FROM spans
        |WHERE trace_id = 'conv7'
        |  AND ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-31'
        |ORDER BY ts, span_id LIMIT 10000""".stripMargin)
  )
}
