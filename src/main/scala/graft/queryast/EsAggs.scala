package graft.queryast

import graft.operators.{Aggs, DdSketch, TermCells}
import graft.util.Json
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

/** ES aggregation-REQUEST compiler: the `aggs` body of a `_search` request
  * → one Spark aggregation plan per top-level aggregation → the ES JSON
  * response body, rendered here from the collected bucket cells (the
  * reference converts merged intermediate aggs into the ES body once, at
  * the root). ES renders gap-filled histograms and declared-but-empty range
  * buckets; the aggregation only materializes non-empty groups, so the
  * fill happens in rendering.
  *
  * This is the request side of the reference's aggregation path: the ES
  * handler deserializes `aggs` into tantivy's aggregation tree and runs it
  * against each split, merging intermediate results at the root
  * (quickwit-search/src/root.rs:897-945). The supported variant set — and
  * the exact unknown-variant error text — mirror the reference
  * (root.rs:3513-3517: `range`, `histogram`, `date_histogram`, `terms`,
  * `avg`, `value_count`, `max`, `min`, `stats`, `sum`, `percentiles`).
  *
  * Plan shape per bucket aggregation: ONE `groupBy` over the bucket-key
  * chain computes `doc_count` and EVERY non-percentile metric sub-agg in a
  * single two-phase HashAggregate (partials map-side, only group cells
  * shuffle). `percentiles` subs add one extra aggregation over
  * (bucket-keys, sketch-bin) — the DDSketch state IS that histogram (see
  * [[graft.operators.DdSketch]]), so merging is count-sum and the estimate
  * is bit-exact with the reference's golden values. Nested bucket aggs
  * recurse with the parent keys prepended to the grouping chain: depth-L
  * nesting costs L shuffles, each partially aggregated, and per-parent
  * truncation for nested `terms` runs as a window over the per-parent TERM
  * HISTOGRAM (the same bounded state tantivy keeps per bucket), never over
  * rows. A top-level `terms` with no sub-aggregation under `_search` with a
  * page costs no query of its own, whatever the frame: its cells are a
  * [[graft.operators.TermCells]] aggregate observed inside the page query
  * ([[riders]], [[observedCells]]), and [[cellsBodies]] keeps and renders
  * the buckets on the driver through the same renderer. Anywhere else (and
  * when those cells overflow) a top-level `terms` is one query: one groupBy
  * into term cells, the top-k of the kept buckets over them
  * ([[graft.operators.Aggs.paginate]], which reads each cell once), and a
  * `sum(doc_count)` Observation on the cells it reads for
  * `sum_other_doc_count` — one scan and one exchange. Nested `terms`
  * collect their per-parent totals in a second query over the same cells.
  *
  * Terms tie-break: the reference orders equal-count terms by key
  * DESCENDING (0001-aggregations.yaml:108-124: hosts 192.168.0.15 before
  * 192.168.0.11 at doc_count 1) — tantivy compares the full (count, key)
  * tuple under the requested direction — unlike ES-proper's documented
  * key-asc tie. This compiler follows the reference.
  */
object EsAggs {

  // ------------------------------------------------------------------ AST

  sealed trait Agg
  sealed trait Bucket extends Agg
  final case class Terms(field: String, size: Int, minDocCount: Long,
                         orderTarget: String, orderAsc: Boolean,
                         showError: Boolean = false) extends Bucket
  final case class Histogram(field: String, interval: Double, offset: Double,
                             minDocCount: Long,
                             hardBounds: Option[(Double, Double)],
                             extendedBounds: Option[(Double, Double)],
                             keyed: Boolean = false) extends Bucket
  final case class DateHistogram(field: String, fixedInterval: String,
                                 offset: String,
                                 keyed: Boolean = false) extends Bucket
  final case class RangeB(field: String, ranges: Seq[RangeSpec]) extends Bucket

  sealed trait Metric extends Agg { def field: String }
  final case class Avg(field: String) extends Metric
  final case class Sum(field: String) extends Metric
  final case class Min(field: String) extends Metric
  final case class Max(field: String) extends Metric
  final case class ValueCount(field: String) extends Metric
  final case class Stats(field: String) extends Metric
  final case class Percentiles(field: String, percents: Seq[Double],
                               keyed: Boolean) extends Metric

  final case class Node(name: String, agg: Agg, subs: Seq[Node])

  /** One declared range bucket: ES keeps declared-but-empty ranges. */
  final case class RangeSpec(key: String, from: Option[Double], to: Option[Double])

  private val Supported = Seq("range", "histogram", "date_histogram", "terms",
    "avg", "value_count", "max", "min", "stats", "sum", "percentiles")

  /** tantivy's percents default when omitted (aggregation.md:855). */
  val DefaultPercents: Seq[Double] = Seq(1, 5, 25, 50, 75, 95, 99)

  // -------------------------------------------------------------- parsing

  private type Obj = Map[String, Any]

  def parse(aggsJson: String): Seq[Node] = parseAggs(Json.parse(aggsJson))

  def parseAggs(v: Any): Seq[Node] = v.asInstanceOf[Obj].toSeq.map {
    case (name, bodyAny) =>
      val body = bodyAny.asInstanceOf[Obj]
      val subs = body.get("aggs").orElse(body.get("aggregations"))
        .map(parseAggs).getOrElse(Nil)
      val kinds = (body.keySet -- Set("aggs", "aggregations")).toSeq
      require(kinds.size == 1,
        s"invalid aggregation request: aggregation `$name` must have exactly one kind, got ${kinds.sorted.mkString(", ")}")
      val kind = kinds.head
      val p = body(kind).asInstanceOf[Obj]
      def fld = p("field").asInstanceOf[String]
      def dbl(k: String, dflt: Double) = p.get(k).map(_.asInstanceOf[Double]).getOrElse(dflt)
      val agg: Agg = kind match {
        case "terms" =>
          // order: one {"_count"|"_key": "asc"|"desc"} entry; default
          // _count desc. Checked here, before any job runs.
          val (target, asc) = p.get("order").map {
            case o: Map[String, Any] @unchecked if o.size == 1 =>
              o.head match {
                case (t @ ("_count" | "_key"), d @ ("asc" | "desc")) => (t, d == "asc")
                case (t @ ("_count" | "_key"), d) => throw new IllegalArgumentException(
                  s"invalid aggregation request: unknown terms order direction `$d` for `$t`, expected `asc` or `desc`")
                case (t, _) => throw new IllegalArgumentException(
                  s"invalid aggregation request: unknown terms order target `$t`")
              }
            case o => throw new IllegalArgumentException(
              s"invalid aggregation request: terms aggregation `$name` order must be one " +
                s"{target: direction} entry, got ${Json.render(o)}")
          }.getOrElse(("_count", false))
          // split_size is an ACCURACY knob for truncated leaves
          // (aggregation.md:527-532); this engine computes terms exactly
          // (one groupBy over every doc), so it is accepted and has no
          // effect — 0 error bounds are the truthful exact-case values.
          // show_term_doc_count_error adds the per-bucket bound field.
          val size = dbl("size", 10).toInt
          val minDocCount = dbl("min_doc_count", 1).toLong
          require(size >= 0,
            s"invalid aggregation request: terms aggregation `$name` size must be >= 0, got $size")
          require(minDocCount >= 0, s"invalid aggregation request: terms aggregation `$name` " +
            s"min_doc_count must be >= 0, got $minDocCount")
          Terms(fld, size, minDocCount, target, asc,
            p.get("show_term_doc_count_error").exists(_.asInstanceOf[Boolean]))
        case "histogram" =>
          def bounds(k: String): Option[(Double, Double)] = p.get(k).map { b =>
            val o = b.asInstanceOf[Obj]
            (o("min").asInstanceOf[Double], o("max").asInstanceOf[Double])
          }
          val minDocCount = dbl("min_doc_count", 0).toLong
          val extended = bounds("extended_bounds")
          // extended_bounds only adds empty buckets, which min_doc_count > 0
          // would drop again; the reference forbids the pair
          require(minDocCount == 0L || extended.isEmpty,
            "extended_bounds cannot be set in conjunction with min_doc_count > 0")
          Histogram(fld, p("interval").asInstanceOf[Double], dbl("offset", 0.0),
            minDocCount, bounds("hard_bounds"), extended,
            p.get("keyed").exists(_.asInstanceOf[Boolean]))
        case "date_histogram" =>
          DateHistogram(fld, p("fixed_interval").asInstanceOf[String],
            p.get("offset").map(_.asInstanceOf[String]).getOrElse("0ms"),
            p.get("keyed").exists(_.asInstanceOf[Boolean]))
        case "range" =>
          val ranges = p("ranges").asInstanceOf[Seq[Any]].map { rAny =>
            val o = rAny.asInstanceOf[Obj]
            val from = o.get("from").map(_.asInstanceOf[Double])
            val to = o.get("to").map(_.asInstanceOf[Double])
            val key = o.get("key").map(_.asInstanceOf[String]).getOrElse(
              s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}")
            RangeSpec(key, from, to)
          }
          RangeB(fld, ranges)
        case "avg"         => Avg(fld)
        case "sum"         => Sum(fld)
        case "min"         => Min(fld)
        case "max"         => Max(fld)
        case "value_count" => ValueCount(fld)
        case "stats"       => Stats(fld)
        case "percentiles" =>
          val ps = p.get("percents").map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]))
            .getOrElse(DefaultPercents)
          Percentiles(fld, ps, p.get("keyed").forall(_.asInstanceOf[Boolean]))
        case other =>
          // root.rs:3513-3517 error shape
          throw new IllegalArgumentException(
            "invalid aggregation request: unknown variant `" + other +
              "`, expected one of " + Supported.map(s => s"`$s`").mkString(", "))
      }
      agg match {
        case _: Metric => require(subs.isEmpty,
          s"invalid aggregation request: metric aggregation `$name` cannot have sub-aggregations")
        case _ =>
      }
      Node(name, agg, subs)
  }

  // ------------------------------------------------------------ execution

  /** Full `_search`-body aggregation execution: optional `query` filter via
    * the ES DSL, then each top-level agg, rendered as the
    * `{"aggregations": ...}` envelope. */
  def search(df: DataFrame, resolver: FieldResolver, requestJson: String): String = {
    val m = Json.parse(requestJson).asInstanceOf[Obj]
    val filtered = m.get("query").map { q =>
      df.filter(EsDsl.fromParsed(q, resolver.defaultFields).toColumn(resolver))
    }.getOrElse(df)
    val nodes = m.get("aggs").orElse(m.get("aggregations")).map(parseAggs).getOrElse(Nil)
    response(run(filtered, nodes))
  }

  /** Runs `query` over `frame` with `metrics`, named aggregates over
    * `frame`'s rows, observed inside it. Returns the query's result and the
    * metrics by name, or `None` when Spark completed the Observation
    * without metrics (an input it proved empty: no row was read). `query`
    * must read every row of `frame` once: a top-k goes through
    * [[graft.operators.Aggs.paginate]], never a bare `orderBy.limit`. */
  private[queryast] def withObserved[T](frame: DataFrame, metrics: Seq[Column])(
      query: DataFrame => T): (T, Option[Map[String, Any]]) = {
    val o = Observation()
    val observed = frame.observe(o, metrics.head, metrics.tail: _*)
    val result =
      try query(observed)
      catch { case scala.util.control.NonFatal(e) =>
        // the session keeps an Observation registered until a query over
        // it ends; a query that failed to build never ran, so end one
        // that runs no job
        scala.util.Try(observed.limit(0).collect())
        throw e
      }
    (result, Some(o.get).filter(_.nonEmpty))
  }

  /** name → rendered JSON body for each top-level aggregation. `counter`
    * may be shared with the [[cellsBodies]] of the same request. */
  def run(df: DataFrame, nodes: Seq[Node],
          counter: BucketCounter = new BucketCounter(DefaultBucketLimit)): Seq[(String, String)] =
    nodes.map {
      case Node(name, m: Metric, _) => name -> topMetric(df, m)
      case n @ Node(name, _: Bucket, _) =>
        name -> bucketBodies(df, n, Nil, counter).getOrElse(Seq.empty[Any], emptyBucketBody(n))
    }

  // ---------------------------------------- terms counted inside the page

  /** The top-level nodes of `nodes` that a page query over `frame` can
    * count as it reads every filtered row (see [[observedCells]]): a
    * `terms` with no sub-aggregation over a column [[TermCells]] counts. */
  private[queryast] def riders(frame: DataFrame, nodes: Seq[Node]): Seq[Node] = {
    val types = frame.schema.fields.map(f => f.name -> f.dataType).toMap
    nodes.filter {
      case Node(_, t: Terms, Nil) => types.get(t.field).exists(TermCells.supports)
      case _                      => false
    }
  }

  /** One named [[TermCells]] metric per riding node, for the page query's
    * Observation; a node's cells hold at most [[DefaultBucketLimit]] keys. */
  private[queryast] def observedCells(riding: Seq[Node]): Seq[Column] =
    riding.map(n => TermCells.of(col(n.agg.asInstanceOf[Terms].field), DefaultBucketLimit)
      .as(cellsMetric(n)))

  private def cellsMetric(n: Node): String = s"_cells_${n.name}"

  /** name → rendered body of each riding node from the page query's
    * metrics (`None`: Spark observed nothing, so every node is empty). An
    * overflowed node runs its cells query over `frame`, as [[run]] does. */
  private[queryast] def cellsBodies(frame: DataFrame, riding: Seq[Node],
                                    observed: Option[Map[String, Any]],
                                    counter: BucketCounter): Seq[(String, String)] =
    riding.map { n =>
      val t = n.agg.asInstanceOf[Terms]
      n.name -> (observed.map(_(cellsMetric(n)).asInstanceOf[Row]) match {
        case None => emptyBucketBody(n)
        case Some(r) if r.getBoolean(0) =>
          bucketBodies(frame, n, Nil, counter).getOrElse(Seq.empty[Any], emptyBucketBody(n))
        case Some(r) =>
          // the cells come sorted by key in Spark's order: the rank stands
          // for the key, so the kept buckets are the ones the cells query's
          // TakeOrdered keeps
          val ranked = r.getSeq[Row](1).zipWithIndex
          val byRank: Ordering[(Row, Int)] =
            if (t.orderTarget == "_key") Ordering.by(_._2)
            else Ordering.by(c => (c._1.getLong(1), c._2))
          val kept = ranked.filter(_._1.getLong(1) >= t.minDocCount)
            .sorted(if (t.orderAsc) byRank else byRank.reverse).take(t.size)
          counter.add(kept.size)
          val schema = new StructType()
            .add("_k0", TermCells.keyType(frame.schema(t.field).dataType)).add("_dc", LongType)
          val cells = kept.map { case (c, _) =>
            new GenericRowWithSchema(Array(c.get(0), c.getLong(1)), schema): Row
          }
          val total = ranked.map(_._1.getLong(1)).sum
          renderBucketBody(t, "_k0", Nil, cells, Map(Seq.empty[Any] -> total),
            (_, _) => "", "")
      })
    }

  private def vcol(f: String): Column = col(f).cast("double")

  private def topMetric(df: DataFrame, m: Metric): String = m match {
    case Percentiles(f, ps, keyed) =>
      val bins = DdSketch.binsByGroup(df, lit(0), vcol(f)).collect().toSeq
        .map(r => DdSketch.Bin(r.getAs[Int]("store"), r.getAs[Int]("key"), r.getAs[Long]("cnt")))
      percentilesBody(ps, ps.map(p => DdSketch.quantile(bins, p / 100.0)), keyed)
    case _ =>
      val exprs = metricExprs(0, m)
      metricBody(0, m, df.agg(exprs.head, exprs.tail: _*).collect().head, Nil)
  }

  /** One metric sub-agg → prefixed aggregate expressions for the shared
    * bucket groupBy (percentiles excluded: sketch pass). */
  private def metricExprs(i: Int, m: Metric): Seq[Column] = m match {
    case Avg(f)        => Seq(avg(vcol(f)).as(s"_m$i"))
    case Sum(f)        => Seq(coalesce(sum(vcol(f)), lit(0.0)).as(s"_m$i"))
    case Min(f)        => Seq(min(vcol(f)).as(s"_m$i"))
    case Max(f)        => Seq(max(vcol(f)).as(s"_m$i"))
    case ValueCount(f) => Seq(count(vcol(f)).as(s"_m$i"))
    case Stats(f)      => Seq(count(vcol(f)).as(s"_m${i}_count"),
                              min(vcol(f)).as(s"_m${i}_min"), max(vcol(f)).as(s"_m${i}_max"),
                              coalesce(sum(vcol(f)), lit(0.0)).as(s"_m${i}_sum"),
                              avg(vcol(f)).as(s"_m${i}_avg"))
    case _: Percentiles => Nil
  }

  private def metricBody(i: Int, m: Metric, r: Row, bins: Seq[DdSketch.Bin]): String = m match {
    case _: Avg | _: Min | _: Max =>
      singleValue(Option(r.getAs[Any](s"_m$i")).map(_.asInstanceOf[Double]))
    case _: Sum        => singleValue(Some(r.getAs[Double](s"_m$i")))
    case _: ValueCount => valueCount(r.getAs[Long](s"_m$i"))
    case _: Stats =>
      val c = r.getAs[Long](s"_m${i}_count")
      statsValues(c,
        Option(r.getAs[Any](s"_m${i}_min")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any](s"_m${i}_max")).map(_.asInstanceOf[Double]),
        r.getAs[Double](s"_m${i}_sum"),
        Option(r.getAs[Any](s"_m${i}_avg")).map(_.asInstanceOf[Double]))
    case Percentiles(_, ps, keyed) =>
      percentilesBody(ps, ps.map(p => DdSketch.quantile(bins, p / 100.0)), keyed)
  }

  private def emptyMetricBody(m: Metric): String = m match {
    case _: Avg | _: Min | _: Max => singleValue(None)
    case _: Sum                   => singleValue(Some(0.0))
    case _: ValueCount            => valueCount(0L)
    case _: Stats                 => statsValues(0L, None, None, 0.0, None)
    case Percentiles(_, ps, keyed) => percentilesBody(ps, ps.map(_ => None), keyed)
  }

  private def percentilesBody(ps: Seq[Double], vs: Seq[Option[Double]], keyed: Boolean): String = {
    def v(o: Option[Double]) = o.map(num).getOrElse("null")
    if (keyed)
      s"""{"values":{${ps.zip(vs).map { case (p, o) => s"${Json.quote(num(p))}:${v(o)}" }.mkString(",")}}}"""
    else
      s"""{"values":[${ps.zip(vs).map { case (p, o) => s"""{"key":${num(p)},"value":${v(o)}}""" }.mkString(",")}]}"""
  }

  /** Bucket-key source frame + key expression; working columns are
    * depth-suffixed so nested same-type buckets never collide. */
  private def prepare(df: DataFrame, b: Bucket, depth: Int): (DataFrame, Column) = b match {
    case Terms(f, _, _, _, _, _) =>
      val isArr = df.schema(f).dataType.isInstanceOf[ArrayType]
      val tk = s"_t$depth"
      val d2 = if (isArr) df.withColumn(tk, explode(col(f))) else df.withColumn(tk, col(f))
      (d2.filter(col(tk).isNotNull), col(tk))
    case Histogram(f, interval, offset, _, hb, _, _) =>
      val v = vcol(f)
      val clipped = hb.fold(df.filter(v.isNotNull)) { case (lo, hi) =>
        df.filter(v.isNotNull && v >= lo && v <= hi)
      }
      (clipped, floor((v - offset) / interval) * interval + offset)
    case DateHistogram(f, ivl, off, _) =>
      (df.filter(col(f).isNotNull), Aggs.dateHistogramKey(col(f), ivl, off))
    case RangeB(f, ranges) =>
      val v = vcol(f)
      val label = ranges.foldLeft(when(lit(false), lit(""))) { case (acc, rs) =>
        val cond = (rs.from.map(v >= _) ++ rs.to.map(v < _))
          .reduceOption(_ && _).getOrElse(lit(true))
        acc.when(cond, lit(rs.key))
      }
      (df.filter(v.isNotNull && label.isNotNull).withColumn(s"_r$depth", label), col(s"_r$depth"))
  }

  /** Cross-type ordering for collected bucket keys (driver-side, over the
    * ≤ response-sized kept buckets only). */
  private val keyOrd: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) => x.compareTo(y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case _ => 0
  }

  /** Cumulative bucket counter — the AggregationLimits guard the reference
    * wires into every segment collector (collector.rs:562,860-894; node
    * config default `aggregation_bucket_limit: 65000`,
    * quickwit-config/src/node_config/mod.rs:198,220). Enforced at each
    * collect of bucket cells, cumulatively across the whole agg tree, so a
    * high-cardinality terms/histogram request fails fast instead of
    * OOMing the driver — same role the limit plays for the reference's
    * searcher memory. The two threads of one `_search` share it. */
  final class BucketCounter(limit: Int) {
    private var n = 0
    /** How many more buckets may be collected (≥0). */
    def remaining: Int = synchronized(math.max(0, limit - n))
    def add(k: Int): Unit = synchronized {
      n += k
      if (n > limit) throw new IllegalArgumentException(
        s"Aborting aggregation because bucket limit was reached (limit: $limit)")
    }
  }
  val DefaultBucketLimit = 65000 // node_config/mod.rs:220

  /** Recursive bucket execution: returns parent-key-path → rendered body.
    * `pathNames` are the `_k<d>` grouping columns of enclosing buckets
    * (empty at top level). */
  private def bucketBodies(df: DataFrame, node: Node,
                           pathNames: Seq[String],
                           counter: BucketCounter): Map[Seq[Any], String] = {
    val bucket = node.agg.asInstanceOf[Bucket]
    val depth = pathNames.size
    val kName = s"_k$depth"
    val (src, keyExpr) = prepare(df, bucket, depth)
    val keyed = src.withColumn(kName, keyExpr)
    val groupCols = (pathNames :+ kName).map(col)

    val metricSubs = node.subs.zipWithIndex.collect {
      case (Node(nm, m: Metric, _), i) => (nm, m, i)
    }
    val aggExprs = count(lit(1)).as("_dc") +:
      metricSubs.flatMap { case (_, m, i) => metricExprs(i, m) }

    // terms truncation/order; other buckets keep every non-empty cell.
    // Every collect of cells is BOUNDED by the remaining budget + 1 before
    // it runs — a high-cardinality agg must abort with the limit error, not
    // run out of memory collecting every bucket first (the +1 row proves
    // overflow). `totals` are a terms agg's per-parent doc totals.
    val cells = keyed.groupBy(groupCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
    def bounded(kept: DataFrame): Seq[Row] = kept.limit(counter.remaining + 1).collect().toSeq
    val (rows, totals) = (bucket match {
      case Terms(_, size, minDoc, target, asc, _) =>
        val ord: Seq[Column] = target match {
          case "_count" =>
            if (asc) Seq(col("_dc").asc, col(kName).asc) else Seq(col("_dc").desc, col(kName).desc)
          case "_key" => Seq(if (asc) col(kName).asc else col(kName).desc)
        }
        if (pathNames.isEmpty) {
          // sum_other_doc_count needs the doc total over ALL cells: a
          // sum(_dc) observed on the cells the top-k reads (every one of
          // them, once), so the one query scans and shuffles its input once
          val (rows, observed) = withObserved(cells, Seq(sum(col("_dc")).as("v"))) { o =>
            bounded(Aggs.paginate(o.filter(col("_dc") >= minDoc), ord, offset = 0, k = size))
          }
          val total =
            observed.flatMap(m => Option(m("v"))).fold(0L)(_.asInstanceOf[Number].longValue)
          (rows, Map(Seq.empty[Any] -> total))
        } else { // per-parent window over the term HISTOGRAM (bounded)
          val w = Window.partitionBy(pathNames.map(col): _*).orderBy(ord: _*)
          val rows = bounded(cells.filter(col("_dc") >= minDoc)
            .withColumn("_rk", row_number().over(w))
            .filter(col("_rk") <= size).drop("_rk"))
          // per-parent totals: a second query over the same cells
          (rows, cells.groupBy(pathNames.map(col): _*).agg(sum(col("_dc"))).collect()
            .map(r => (0 until pathNames.size).map(r.get) -> r.getLong(pathNames.size)).toMap)
        }
      case _ => (bounded(cells), Map.empty[Seq[Any], Long])
    }): (Seq[Row], Map[Seq[Any], Long])
    counter.add(rows.size)

    // percentile subs: one (path, key, sketch-bin) aggregation each
    val pctBins: Map[Int, Map[Seq[Any], Seq[DdSketch.Bin]]] =
      metricSubs.collect { case (_, Percentiles(f, _, _), i) =>
        val v = vcol(f)
        val rows = keyed.filter(v.isNotNull)
          .groupBy(groupCols :+ DdSketch.storeCol(v).as("_st") :+ DdSketch.keyCol(v).as("_dk"): _*)
          .agg(count(lit(1)).as("_c")).collect().toSeq
        i -> rows.groupBy(r => (0 to pathNames.size).map(r.get).toList: Seq[Any]).map { case (path, rs) =>
          path -> rs.map(r => DdSketch.Bin(r.getAs[Int]("_st"), r.getAs[Int]("_dk"), r.getAs[Long]("_c")))
        }
      }.toMap

    // nested bucket subs recurse over the SAME keyed frame
    val nestedBodies: Seq[(String, Map[Seq[Any], String], Node)] = node.subs.collect {
      case n @ Node(nm, _: Bucket, _) => (nm, bucketBodies(keyed, n, pathNames :+ kName, counter), n)
    }

    val byParent = rows.groupBy(r => (0 until pathNames.size).map(r.get).toList: Seq[Any])

    def subsJson(path: Seq[Any], r: Row): String = {
      val metricParts = metricSubs.map { case (nm, m, i) =>
        s"${Json.quote(nm)}:${metricBody(i, m, r, pctBins.get(i).flatMap(_.get(path)).getOrElse(Nil))}"
      }
      val nestedParts = nestedBodies.map { case (nm, bodies, n) =>
        s"${Json.quote(nm)}:${bodies.getOrElse(path, emptyBucketBody(n))}"
      }
      (metricParts ++ nestedParts).map("," + _).mkString
    }
    val parents = if (pathNames.isEmpty) Seq(Seq.empty[Any]) else byParent.keys.toSeq
    parents.map { parent =>
      val cells = byParent.getOrElse(parent, Nil)
      parent -> renderBucketBody(bucket, kName, parent, cells, totals, subsJson,
        emptySubsJson(node.subs))
    }.toMap
  }

  /** The sub-aggregation bodies of a bucket that holds no doc. */
  private def emptySubsJson(subs: Seq[Node]): String = {
    val metricParts = subs.collect { case Node(nm, m: Metric, _) => s"${Json.quote(nm)}:${emptyMetricBody(m)}" }
    val nestedParts = subs.collect { case n @ Node(nm, _: Bucket, _) => s"${Json.quote(nm)}:${emptyBucketBody(n)}" }
    (metricParts ++ nestedParts).map("," + _).mkString
  }

  /** The body of a bucket aggregation over no doc: the renderer over no
    * cells (declared ranges and extended_bounds still render, empty). */
  private def emptyBucketBody(n: Node): String =
    renderBucketBody(n.agg.asInstanceOf[Bucket], "", Nil, Nil, Map.empty,
      (_, _) => "", emptySubsJson(n.subs))

  private def renderBucketBody(bucket: Bucket, kName: String, path: Seq[Any], cells: Seq[Row],
                               totals: Map[Seq[Any], Long],
                               subsJson: (Seq[Any], Row) => String,
                               emptySubs: => String): String = {
    def key(r: Row): Any = r.getAs[Any](kName)
    def dc(r: Row): Long = r.getAs[Long]("_dc")
    bucket match {
      case Terms(_, _, _, target, asc, showErr) =>
        val sorted = target match {
          case "_key" =>
            val s = cells.sortBy(key)(keyOrd); if (asc) s else s.reverse
          case _ =>
            val s = cells.sortBy(r => (dc(r), key(r)))(Ordering.Tuple2(Ordering.Long, keyOrd))
            if (asc) s else s.reverse
        }
        val errJ = if (showErr) "\"doc_count_error_upper_bound\":0," else ""
        val kept = sorted.map(r => s"""{$errJ"doc_count":${dc(r)},"key":${keyJson(key(r))}${subsJson(path :+ key(r), r)}}""")
        val other = totals.getOrElse(path, 0L) - sorted.map(dc).sum
        s"""{"buckets":[${kept.mkString(",")}],"doc_count_error_upper_bound":0,"sum_other_doc_count":$other}"""

      case Histogram(_, interval, offset, minDoc, _, extendedBounds, keyed) =>
        val byKey = cells.map(r => key(r).asInstanceOf[Double] -> r).toMap
        val bs: Seq[(String, String)] =
          if (minDoc > 0L)
            byKey.toSeq.sortBy(_._1).collect { case (k, r) if dc(r) >= minDoc =>
              num(k) ->
                s"""{"doc_count":${dc(r)},"key":${num(k)}${subsJson(path :+ (k: Any), r)}}"""
            }
          else {
            // Snap with the offset so gap-fill keys land on the same grid as the
            // data bucket keys (floor((v-offset)/interval)*interval+offset).
            // Iterate by INTEGRAL bucket index, not by accumulating doubles —
            // lo + n*interval drifts off the floor-computed data keys for
            // fractional intervals (0.1+0.1+0.1 != 0.3) and exact-equality
            // lookups would replace populated buckets with zero-count ones.
            def snap(v: Double): Double = math.floor((v - offset) / interval) * interval + offset
            def idxOf(k: Double): Long = math.round((k - offset) / interval)
            val byIdx = byKey.map { case (k, r) => idxOf(k) -> (k, r) }
            val dataRange = if (byIdx.isEmpty) None else Some((byIdx.keys.min, byIdx.keys.max))
            val range = (dataRange,
              extendedBounds.map { case (l, h) => (idxOf(snap(l)), idxOf(snap(h))) }) match {
              case (Some((dl, dh)), Some((el, eh))) => Some((math.min(dl, el), math.max(dh, eh)))
              case (d, e) => d.orElse(e)
            }
            range.toSeq.flatMap { case (lo, hi) =>
              (lo to hi).map { i =>
                byIdx.get(i) match {
                  case Some((k, r)) => num(k) ->
                    s"""{"doc_count":${dc(r)},"key":${num(k)}${subsJson(path :+ (k: Any), r)}}"""
                  case None =>
                    val k = i * interval + offset
                    num(k) -> s"""{"doc_count":0,"key":${num(k)}$emptySubs}"""
                }
              }
            }
          }
        s"""{"buckets":${bucketsJson(bs, keyed)}}"""

      case DateHistogram(_, ivl, off, keyed) =>
        val ivlMs = Aggs.intervalMicros(ivl) / 1000L
        val byMs = cells.map { r =>
          val ms = key(r) match {
            case t: java.sql.Timestamp => t.getTime
            case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            case t: java.time.Instant => t.toEpochMilli
          }
          ms -> r
        }.toMap
        val bs: Seq[(String, String)] =
          if (byMs.isEmpty) Nil
          else (byMs.keys.min to byMs.keys.max by ivlMs).map { ms =>
            val iso = java.time.Instant.ofEpochMilli(ms).toString
            // keyed hashmap key = key_as_string when one exists (the
            // date_histogram case), else the numeric key's rendering
            iso -> (byMs.get(ms) match {
              case Some(r) =>
                s"""{"doc_count":${dc(r)},"key":${num(ms.toDouble)},"key_as_string":${Json.quote(iso)}${subsJson(path :+ key(r), r)}}"""
              case None =>
                s"""{"doc_count":0,"key":${num(ms.toDouble)},"key_as_string":${Json.quote(iso)}$emptySubs}"""
            })
          }
        s"""{"buckets":${bucketsJson(bs, keyed)}}"""

      case RangeB(_, ranges) =>
        val byLabel = cells.map(r => key(r).asInstanceOf[String] -> r).toMap
        val bs = ranges.map { rs =>
          val fromJ = rs.from.map(f => s""","from":${num(f)}""").getOrElse("")
          val toJ = rs.to.map(t => s""","to":${num(t)}""").getOrElse("")
          byLabel.get(rs.key) match {
            case Some(r) =>
              s"""{"doc_count":${dc(r)}$fromJ,"key":${Json.quote(rs.key)}$toJ${subsJson(path :+ key(r), r)}}"""
            case None => s"""{"doc_count":0$fromJ,"key":${Json.quote(rs.key)}$toJ$emptySubs}"""
          }
        }
        s"""{"buckets":[${bs.mkString(",")}]}"""
    }
  }

  /** ES renders numeric keys as JSON doubles (1420070400000.0). */
  private def num(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) s"${d.toLong}.0" else d.toString

  /** Full `{"aggregations": {...}}` envelope. */
  def response(aggs: Seq[(String, String)]): String =
    s"""{"aggregations":{${aggs.map { case (n, b) => s"${Json.quote(n)}:$b" }.mkString(",")}}}"""

  /** stats body (docs whose field is null are excluded, per ES). */
  private def statsValues(count: Long, mn: Option[Double], mx: Option[Double],
                          sm: Double, av: Option[Double]): String = {
    def opt(v: Option[Double]) = v.map(num).getOrElse("null")
    s"""{"avg":${opt(av)},"count":$count,"max":${opt(mx)},"min":${opt(mn)},"sum":${num(sm)}}"""
  }

  /** Single-value metric body (`avg`/`min`/`max`/`sum`): {"value": x|null}. */
  private def singleValue(v: Option[Double]): String =
    s"""{"value":${v.map(num).getOrElse("null")}}"""

  /** value_count body — ES renders the count as an integer. */
  private def valueCount(n: Long): String = s"""{"value":$n}"""

  /** `keyed: true` renders the bucket list as a hashmap keyed by each
    * bucket's `key` (aggregation.md "keyed" parameter on histogram and
    * date_histogram — "key in the bucket will be the key in the hashmap";
    * a date bucket's hashmap key is its key_as_string, matching ES). The
    * bucket bodies themselves are identical in both forms. */
  private def bucketsJson(bs: Seq[(String, String)], keyed: Boolean): String =
    if (keyed) bs.map { case (k, b) => s"${Json.quote(k)}:$b" }.mkString("{", ",", "}")
    else bs.map(_._2).mkString("[", ",", "]")

  private def keyJson(k: Any): String = k match {
    case s: String => Json.quote(s)
    case d: Double => num(d)
    case l: Long   => num(l.toDouble)
    case i: Int    => num(i.toDouble)
    case other     => Json.quote(String.valueOf(other))
  }
}
