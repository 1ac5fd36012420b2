package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Jaeger SpanReader surface — the reference's `quickwit-jaeger` crate
  * (quickwit-jaeger/src/lib.rs:95-246) re-expressed over a span-shaped
  * DataFrame: `get_services`, `get_operations`, `find_trace_ids`,
  * `find_traces`, `get_trace`.
  *
  * Expected span frame columns (the OTLP trace doc mapping,
  * quickwit-opentelemetry/src/otlp/traces.rs:180-260):
  * `trace_id:string, span_id:long, service_name:string, span_name:string,
  * span_kind:int (0-5), ts:timestamp (span start), duration_millis:long,
  * status_code:string ("ok"/"error"/...), resource_attributes:map,
  * span_attributes:map`.
  *
  * Plan shapes mirror the reference's two-phase design: every entry point
  * is either a term-dictionary scan (`get_services`/`get_operations` =
  * `root_list_terms`, lib.rs:106-160) or a root search (`find_trace_ids` =
  * bool filter + FindTraceIds top-k collector, lib.rs:248-296), followed for
  * `find_traces`/`get_trace` by a second bounded span fetch
  * (`stream_spans`, lib.rs:298-361). Nothing data-sized ever reaches the
  * driver: the only collect is the ≤`numTraces`-row trace-id list — the
  * same root-side planning list the reference materializes between its two
  * searches.
  */
object Jaeger {

  /** NUL separates fingerprint parts; SOH is "next char after NUL", used as
    * the exclusive range end for prefix scans (traces.rs:439-443,476-501). */
  private val Nul = "\u0000"
  private val Soh = "\u0001"

  /** SpanKind::as_jaeger (traces.rs:377-389). */
  def kindAsJaeger(kind: Column): Column =
    when(kind === 0, "unspecified")
      .when(kind === 1, "internal")
      .when(kind === 2, "server")
      .when(kind === 3, "client")
      .when(kind === 4, "producer")
      .when(kind === 5, "consumer")

  /** SpanFingerprint::new — `service NUL kind-digit NUL span_name`
    * (traces.rs:445-451). ASCII service/span names compare identically under
    * UTF-8 byte order and Java string order, so string range filters below
    * match tantivy's term-dictionary byte ranges. */
  def spanFingerprint(service: Column, kind: Column, name: Column): Column =
    concat_ws(Nul, service, kind.cast("string"), name)

  /** `get_services` (lib.rs:95-125): list_terms on `service_name` within the
    * lookback window, sorted, capped at 1000 terms. The distinct shuffles
    * only the (tiny) service-name dictionary — the relational analog of
    * scanning the term dictionary instead of documents. */
  def getServices(spans: DataFrame, nowSecs: Long, lookbackSecs: Long,
                  maxHits: Int = 1000): DataFrame =
    spans
      .filter(col("ts") >= timestamp_seconds(lit(nowSecs - lookbackSecs)))
      .select(col("service_name").as("service"))
      .distinct()
      .orderBy("service")
      .limit(maxHits)

  /** `get_operations` (lib.rs:128-166): a RANGE scan over the
    * `span_fingerprint` term dictionary bounded by
    * `SpanFingerprint::start_key/end_key` (traces.rs:476-508):
    * start = `service NUL [kind NUL]`, end = `service [NUL kind] SOH`
    * (SOH = NUL+1 makes the prefix range right-exclusive). Terms decode back
    * to `Operation { name, span_kind-as-jaeger }` (extract_operation,
    * lib.rs:558-575), sorted. */
  def getOperations(spans: DataFrame, service: String, spanKind: Option[Int],
                    nowSecs: Long, lookbackSecs: Long,
                    maxHits: Int = 1000): DataFrame = {
    require(service.nonEmpty, "get_operations requires a service name")
    val (startKey, endKey) = spanKind match {
      case Some(k) => (s"$service$Nul$k$Nul", s"$service$Nul$k$Soh")
      case None    => (s"$service$Nul",       s"$service$Soh")
    }
    val fp = spanFingerprint(col("service_name"), col("span_kind"), col("span_name"))
    spans
      .filter(col("ts") >= timestamp_seconds(lit(nowSecs - lookbackSecs)))
      .select(fp.as("fingerprint"))
      .filter(col("fingerprint") >= startKey && col("fingerprint") < endKey)
      .distinct()
      .select(
        split(col("fingerprint"), Nul).getItem(2).as("name"),
        kindAsJaeger(split(col("fingerprint"), Nul).getItem(1).cast("int"))
          .as("span_kind"))
      .orderBy("name", "span_kind")
      .limit(maxHits)
  }

  /** TraceQueryParameters (lib.rs:248-262): all bounds inclusive, as in the
    * reference's RangeQuery `Bound::Included` (lib.rs:680-729). */
  final case class TraceQuery(
      serviceName: String = "",
      operationName: String = "",
      tags: Map[String, String] = Map.empty,
      minStartSecs: Option[Long] = None,
      maxStartSecs: Option[Long] = None,
      minDurationMillis: Option[Long] = None,
      maxDurationMillis: Option[Long] = None,
      numTraces: Int = 20)

  /** build_search_query (lib.rs:578-732) as one conjunctive Column:
    * service/span-name term filters, the special `error` tag → a
    * `span_status.code` must/must_not (lib.rs:636-651), every other tag an
    * OR across resource and span attributes (lib.rs:652-678; the third
    * `events.event_attributes` arm is omitted — the span frame carries no
    * event sub-docs), and inclusive start-time/duration ranges. Empty query
    * → match-all (lib.rs:727-731). Fully codegen'd; the leading ts range
    * pushes into the parquet scan. */
  def searchPredicate(q: TraceQuery): Column = {
    val preds = Seq.newBuilder[Column]
    if (q.serviceName.nonEmpty) preds += (col("service_name") === q.serviceName)
    if (q.operationName.nonEmpty) preds += (col("span_name") === q.operationName)
    q.tags.toSeq.sortBy(_._1).foreach {
      case ("error", "true")  => preds += (col("status_code") === "error")
      case ("error", "false") => preds += !(col("status_code") <=> "error")
      case (k, v) =>
        // try_element_at: ANSI-safe NULL (not an error) on a missing key
        preds += (try_element_at(col("resource_attributes"), lit(k)) === v ||
          try_element_at(col("span_attributes"), lit(k)) === v)
    }
    q.minStartSecs.foreach(s => preds += (col("ts") >= timestamp_seconds(lit(s))))
    q.maxStartSecs.foreach(s => preds += (col("ts") <= timestamp_seconds(lit(s))))
    q.minDurationMillis.foreach(d => preds += (col("duration_millis") >= d))
    q.maxDurationMillis.foreach(d => preds += (col("duration_millis") <= d))
    preds.result().reduceOption(_ && _).getOrElse(lit(true))
  }

  /** `find_trace_ids` (lib.rs:248-296): filter + the FindTraceIds collector
    * ([[Aggs.topGroupsByMaxTs]]) — top `numTraces` trace ids by max
    * span-start, ties broken by trace id asc, as (trace_id, span_ts). */
  def findTraceIds(spans: DataFrame, q: TraceQuery): DataFrame =
    Aggs.topGroupsByMaxTs(spans.filter(searchPredicate(q)), col("trace_id"), col("ts"),
      q.numTraces).toDF("trace_id", "span_ts")

  /** `find_traces` (lib.rs:190-221): phase 1 = `findTraceIds`; phase 2 =
    * `stream_spans` (lib.rs:298-361) — fetch every span of the selected
    * traces inside [min(span_ts) − maxTraceDuration,
    * max(span_ts) + maxTraceDuration] (the collector's observed timestamp
    * interval widened by the max trace duration, lib.rs:205-208), sorted by
    * trace id (stream_spans sorts when >1 trace, lib.rs:356-358; ts+span_id
    * appended for a total deterministic order), capped at `maxFetchSpans`
    * (= the reference's `max_fetch_spans` config). The collect between
    * phases is the ≤numTraces id list — exactly what the reference's root
    * holds in memory between its two searches. */
  def findTraces(spans: DataFrame, q: TraceQuery, maxTraceDurationSecs: Long,
                 maxFetchSpans: Int = 10000): DataFrame = {
    val ids = findTraceIds(spans, q).collect()
    if (ids.isEmpty) {
      spans.select(spanCols: _*).limit(0)
    } else {
      val traceIds = ids.map(_.getString(0)).toSeq
      // collect() yields Timestamp for TIMESTAMP_LTZ but LocalDateTime for
      // TIMESTAMP_NTZ columns — handle both, truncating to whole seconds
      val tsSecs = ids.map(_.get(1) match {
        case t: java.sql.Timestamp      => t.toInstant.getEpochSecond
        case d: java.time.LocalDateTime => d.toEpochSecond(java.time.ZoneOffset.UTC)
        case i: java.time.Instant       => i.getEpochSecond
        case other => throw new IllegalArgumentException(s"unexpected ts type: $other")
      })
      val lo = tsSecs.min - maxTraceDurationSecs
      val hi = tsSecs.max + maxTraceDurationSecs
      spans
        .filter(col("trace_id").isInCollection(traceIds) &&
          col("ts") >= timestamp_seconds(lit(lo)) &&
          col("ts") <= timestamp_seconds(lit(hi)))
        .select(spanCols: _*)
        .orderBy("trace_id", "ts", "span_id")
        .limit(maxFetchSpans)
    }
  }

  /** `get_trace` (lib.rs:221-246): one trace id, lookback window ending at
    * `nowSecs`. */
  def getTrace(spans: DataFrame, traceId: String, nowSecs: Long,
               lookbackSecs: Long, maxFetchSpans: Int = 10000): DataFrame =
    spans
      .filter(col("trace_id") === traceId &&
        col("ts") >= timestamp_seconds(lit(nowSecs - lookbackSecs)) &&
        col("ts") <= timestamp_seconds(lit(nowSecs)))
      .select(spanCols: _*)
      .orderBy("ts", "span_id")
      .limit(maxFetchSpans)

  private val spanCols: Seq[Column] = Seq(
    col("trace_id"), col("span_id"), col("service_name"), col("span_name"),
    col("span_kind"), col("ts"), col("duration_millis"), col("status_code"))
}
