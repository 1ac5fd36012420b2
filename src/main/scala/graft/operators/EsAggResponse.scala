package graft.operators

import graft.util.Json.quote
import org.apache.spark.sql.Row

/** ES-compatible aggregation response rendering — the presentation layer the
  * reference applies at the search root (quickwit-search/src/root.rs:897-945
  * converts merged intermediate aggs into the ES JSON body; golden shapes in
  * rest-api-tests/scenarii/aggregations/0001-aggregations.yaml).
  *
  * Driver-side over COLLECTED agg frames (bucket counts are tiny by
  * construction — the data-sized work already happened in the distributed
  * aggregation). ES renders gap-filled histograms and declared-but-empty
  * range buckets; the compute layer ([[Aggs]]) only materializes non-empty
  * groups, so the fill happens here.
  */
object EsAggResponse {

  /** ES renders numeric keys as JSON doubles (1420070400000.0). */
  private[graft] def num(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) s"${d.toLong}.0" else d.toString

  private def keyJson(k: Any): String = k match {
    case s: String => quote(s)
    case d: Double => num(d)
    case l: Long   => num(l.toDouble)
    case i: Int    => num(i.toDouble)
    case other     => quote(String.valueOf(other))
  }

  /** Full `{"aggregations": {...}}` envelope. */
  def response(aggs: Seq[(String, String)]): String =
    s"""{"aggregations":{${aggs.map { case (n, b) => s"${quote(n)}:$b" }.mkString(",")}}}"""

  /** terms body from a (key, doc_count, sum_other_doc_count) frame.
    * doc_count_error_upper_bound is exact-0 here: the frame comes from a
    * full aggregation, not per-segment top-N approximations. */
  def terms(rows: Seq[Row]): String = {
    val other = rows.headOption.map(_.getAs[Long]("sum_other_doc_count")).getOrElse(0L)
    val buckets = rows.map { r =>
      s"""{"doc_count":${r.getAs[Long]("doc_count")},"key":${keyJson(r.getAs[Any]("key"))}}"""
    }.mkString(",")
    s"""{"buckets":[$buckets],"doc_count_error_upper_bound":0,"sum_other_doc_count":$other}"""
  }

  /** histogram body from a (key, doc_count) frame; ES fills empty buckets
    * between the observed min and max keys (min_doc_count=0 default).
    * `extendedBounds` widens — never narrows — that gap-filled range
    * (aggregation.md:266-289: "can only be used to extend the value
    * range"); the bounds snap onto the bucket grid. `minDocCount > 0`
    * disables gap-filling entirely (empty buckets would not be returned,
    * which is why the reference forbids combining the two). */
  def histogram(rows: Seq[Row], interval: Double,
                minDocCount: Long = 0L,
                extendedBounds: Option[(Double, Double)] = None): String = {
    val byKey = rows.map(r => r.getAs[Any]("key") match {
      case d: Double => d -> r.getAs[Long]("doc_count")
      case l: Long   => l.toDouble -> r.getAs[Long]("doc_count")
    }).toMap
    require(minDocCount == 0L || extendedBounds.isEmpty,
      "extended_bounds cannot be set in conjunction with min_doc_count > 0")
    val buckets =
      if (minDocCount > 0L)
        byKey.toSeq.sortBy(_._1).map { case (k, c) =>
          s"""{"doc_count":$c,"key":${num(k)}}"""
        }.mkString(",")
      else {
        def snap(v: Double): Double = math.floor(v / interval) * interval
        val dataRange = if (byKey.isEmpty) None else Some((byKey.keys.min, byKey.keys.max))
        val range = (dataRange, extendedBounds.map { case (l, h) => (snap(l), snap(h)) }) match {
          case (Some((dl, dh)), Some((el, eh))) => Some((math.min(dl, el), math.max(dh, eh)))
          case (d, e) => d.orElse(e)
        }
        range.fold("") { case (lo, hi) =>
          Iterator.iterate(lo)(_ + interval).takeWhile(_ <= hi + interval / 2).map { k =>
            s"""{"doc_count":${byKey.getOrElse(k, 0L)},"key":${num(k)}}"""
          }.mkString(",")
        }
      }
    s"""{"buckets":[$buckets]}"""
  }

  /** date_histogram body from a (key: timestamp, doc_count) frame: key is
    * epoch millis (as a JSON double) + key_as_string in ISO-8601 Z form. */
  def dateHistogram(rows: Seq[Row], subAgg: Option[(String, Row => String)] = None): String = {
    val buckets = rows.map { r =>
      val ts = r.getAs[java.sql.Timestamp]("key")
      val millis = ts.getTime
      val iso = java.time.Instant.ofEpochMilli(millis).toString
      val sub = subAgg.map { case (n, f) => s""","${n}":${f(r)}""" }.getOrElse("")
      s"""{"doc_count":${r.getAs[Long]("doc_count")},"key":${num(millis.toDouble)},"key_as_string":${quote(iso)}$sub}"""
    }.mkString(",")
    s"""{"buckets":[$buckets]}"""
  }

  /** One declared range bucket: ES keeps declared-but-empty ranges. */
  final case class RangeSpec(key: String, from: Option[Double], to: Option[Double])

  /** range body: the declared ranges in declaration order, doc_count 0 for
    * ranges the compute frame dropped. `range_key` in the frame carries the
    * computed "from-to" label of [[Aggs.rangeAgg]]. */
  def rangeAgg(rows: Seq[Row], ranges: Seq[RangeSpec]): String = {
    val byLabel = rows.map(r => r.getAs[String]("range_key") -> r.getAs[Long]("doc_count")).toMap
    val buckets = ranges.map { rs =>
      val label = s"${rs.from.map(_.toString).getOrElse("*")}-${rs.to.map(_.toString).getOrElse("*")}"
      val fromJ = rs.from.map(f => s""","from":${num(f)}""").getOrElse("")
      val toJ = rs.to.map(t => s""","to":${num(t)}""").getOrElse("")
      s"""{"doc_count":${byLabel.getOrElse(label, 0L)}$fromJ,"key":${quote(rs.key)}$toJ}"""
    }.mkString(",")
    s"""{"buckets":[$buckets]}"""
  }

  /** stats body from one (count, min, max, sum, avg) row (null-field docs
    * excluded by the aggregation, per ES). */
  def stats(r: Row): String = {
    val count = r.getAs[Long]("count")
    if (count == 0L) statsValues(0L, None, None, 0.0, None)
    else statsValues(count, Some(r.getAs[Double]("min")), Some(r.getAs[Double]("max")),
      r.getAs[Double]("sum"), Some(r.getAs[Double]("avg")))
  }

  /** stats body from explicit values (used by the request compiler, whose
    * grouped frames carry prefixed metric columns). */
  def statsValues(count: Long, mn: Option[Double], mx: Option[Double],
                  sm: Double, av: Option[Double]): String = {
    def opt(v: Option[Double]) = v.map(num).getOrElse("null")
    s"""{"avg":${opt(av)},"count":$count,"max":${opt(mx)},"min":${opt(mn)},"sum":${num(sm)}}"""
  }

  /** Single-value metric body (`avg`/`min`/`max`/`sum`): {"value": x|null}. */
  def singleValue(v: Option[Double]): String =
    s"""{"value":${v.map(num).getOrElse("null")}}"""

  /** value_count body — ES renders the count as an integer. */
  def valueCount(n: Long): String = s"""{"value":$n}"""

  /** percentiles body: keyed (object) or non-keyed (key/value array) form. */
  def percentiles(percents: Seq[Double], values: Seq[Double], keyed: Boolean): String =
    if (keyed)
      s"""{"values":{${percents.zip(values).map { case (p, v) => s"${quote(num(p))}:${num(v)}" }.mkString(",")}}}"""
    else
      s"""{"values":[${percents.zip(values).map { case (p, v) => s"""{"key":${num(p)},"value":${num(v)}}""" }.mkString(",")}]}"""
}
