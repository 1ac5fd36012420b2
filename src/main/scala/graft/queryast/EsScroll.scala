package graft.queryast

import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.concurrent.TrieMap

/** ES scroll API envelopes — `_search?scroll=TTL`, `GET _search/scroll`,
  * `DELETE _search/scroll` (quickwit-serve/src/elasticsearch_api/
  * rest_handler.rs:150-156,219-236,474-…; context semantics
  * quickwit-search/src/scroll_context.rs:48-150; contract pinned by
  * rest-api-tests/scenarii/es_compatibility/0012-scroll-api.yaml):
  *
  *  - the opening `_search` answers the NORMAL envelope (hits + total +
  *    aggregations) plus a `_scroll_id`;
  *  - every `_search/scroll` continuation replays the stored request with
  *    a search_after cursor (the scroll-context refill shape) and answers
  *    the next `size` hits, the ORIGINAL total, and NO aggregations (ES
  *    serves them only on the first response);
  *  - an exhausted scroll keeps answering empty hits with the total;
  *  - TTL is capped at 1800 s with the reference's exact error string
  *    (rest_handler.rs parse_scroll_ttl).
  *
  * A unique id tiebreak sort is appended to the request so the cursor is
  * a TOTAL order — sort-value ties can never drop or repeat rows across
  * pages. */
object EsScroll {

  val MaxTtlSecs = 1800L

  /** `30m`/`1800s`-style TTL. Over the cap → the reference's error.
    * Sub-second TTLs round UP — `500ms` must outlive its own creation. */
  def parseTtlSecs(s: String): Long = {
    val pat = "([0-9]+)(ms|s|m|h)".r
    val secs = s.trim match {
      case pat(n, "ms") => (n.toLong + 999) / 1000
      case pat(n, "s")  => n.toLong
      case pat(n, "m")  => n.toLong * 60
      case pat(n, "h")  => n.toLong * 3600
      case other => throw new IllegalArgumentException(s"invalid scroll TTL: $other")
    }
    if (secs > MaxTtlSecs) throw new IllegalArgumentException(
      s"Invalid argument: Quickwit only supports scroll TTL period up to $MaxTtlSecs secs")
    secs
  }

  /** Default capacity mirrors the reference's hardcoded TtlCache bound
    * (SCROLL_BATCH_LEN = 1000, scroll_context.rs:48,134). */
  val DefaultCapacity = 1000

  /** Scroll-state store: TTL expiry enforced by a deadline min-heap swept
    * INDEPENDENTLY of access (pass `sweepIntervalMs` to run the sweeper on
    * a daemon thread; tests drive [[Context.purgeExpired]] with an
    * injected clock), plus an LRU capacity bound — inserting past
    * `capacity` silently evicts the least-recently-used context, exactly
    * like the reference's `TtlCache::new(SCROLL_BATCH_LEN)`; the evicted
    * scroll id then fails lookups with "scroll context not found".
    *
    * Scope note: this store is in-process. The reference externalizes
    * scroll state into a cluster KV (`ClusterClient::put_kv`,
    * scroll_context.rs:128-150) precisely so searchers stay STATELESS —
    * any node can serve the continuation. The Spark analog of that shape
    * would persist (bodyJson, cursor, total) — all plain values — into a
    * shared store keyed by scroll id; the DataFrame itself is rebuilt per
    * continuation from the table, not shipped (the BM25 corpus-stats row
    * is one small local row, as shippable as the cursor). */
  final class Context(clock: () => Long = () => System.currentTimeMillis(),
                      capacity: Int = DefaultCapacity,
                      sweepIntervalMs: Option[Long] = None) {

    // `df = None` marks a scroll opened over ZERO selected indexes (every
    // pattern a wildcard, none matched — root.rs:941-943): a VALID,
    // permanently-exhausted context whose pages render without any frame
    private final case class State(df: Option[DataFrame], resolver: FieldResolver,
                                   idCol: Column, idField: String,
                                   bodyJson: String,
                                   cursor: Option[Seq[Any]],
                                   total: Long,
                                   // a BM25 scroll's one-row local
                                   // corpus stats, fixed at open
                                   stats: Option[DataFrame],
                                   // the tiebreak sort that made this
                                   // scroll's cursor a TOTAL order — the
                                   // continuation must replay it verbatim
                                   tiebreak: Seq[(String, Boolean)],
                                   deadlineMs: Long, ttlMs: Long,
                                   lastAccessMs: Long)

    private val store = TrieMap.empty[String, State]
    // (deadline, sid) min-heap; refreshed contexts leave stale entries
    // behind, which the sweep skips by re-checking the live deadline
    private val deadlines =
      new java.util.PriorityQueue[(Long, String)](11,
        (a: (Long, String), b: (Long, String)) => java.lang.Long.compare(a._1, b._1))

    private val sweeper: Option[java.util.Timer] = sweepIntervalMs.map { ms =>
      val t = new java.util.Timer("es-scroll-sweeper", true)
      t.schedule(new java.util.TimerTask { def run(): Unit = purgeExpired() }, ms, ms)
      t
    }

    /** Stop the sweeper thread and drop every context — a Context with a
      * sweep interval owns a timer thread, so callers must close it (the
      * thread otherwise pins this store for the JVM's life). */
    def close(): Unit = {
      sweeper.foreach(_.cancel())
      store.keys.foreach(drop)
    }

    /** Remove one context — every way a context ends (clear, expiry, LRU
      * eviction, close) comes here. A context holds no cached blocks. */
    private def drop(sid: String): Boolean = store.remove(sid).isDefined

    /** Drop every context past its deadline — O(expired · log n), callable
      * from the sweeper thread without touching any request path. */
    def purgeExpired(): Unit = deadlines.synchronized {
      val now = clock()
      var top = deadlines.peek()
      while (top != null && top._1 <= now) {
        deadlines.poll()
        val (dl, sid) = top
        // only evict if the LIVE deadline matches — a refreshed context
        // re-registered a later entry and this one is stale
        store.get(sid).filter(_.deadlineMs == dl).filter(_.deadlineMs <= now)
          .foreach(_ => drop(sid))
        top = deadlines.peek()
      }
    }

    def size: Int = store.size

    private def register(sid: String, st: State): Unit = deadlines.synchronized {
      if (!store.contains(sid) && store.size >= capacity) {
        // LRU eviction at capacity (ttl_cache's insert-beyond-capacity)
        store.minByOption(_._2.lastAccessMs).foreach { case (victim, _) =>
          drop(victim)
        }
      }
      store.put(sid, st)
      deadlines.add((st.deadlineMs, sid))
    }

    private def evictExpired(): Unit = purgeExpired()

    /** Opening `_search?scroll=TTL`. `idField` names the unique id column
      * (also the `_id` source) used as the trailing tiebreak sort. The
      * cursor and total are carried NATIVELY from the page (full i64 /
      * timestamp precision — never re-parsed from the rendered JSON). */
    def search(df: DataFrame, resolver: FieldResolver, idField: String,
               bodyJson: String, scrollTtl: String): String =
      open(df, resolver, idField, bodyJson, scrollTtl, Seq(idField -> true))

    private def open(df: DataFrame, resolver: FieldResolver, idField: String,
                     bodyJson: String, scrollTtl: String,
                     tiebreak: Seq[(String, Boolean)]): String = {
      evictExpired()
      val ttlMs = parseTtlSecs(scrollTtl) * 1000L
      val idCol = org.apache.spark.sql.functions.col(idField)
      val page = EsApi.searchPage(df, resolver, idCol, bodyJson,
        cursorOverride = None, extraSort = tiebreak, includeAggs = true)
      // A BM25-ranked scroll keeps the corpus stats of its opening page (a
      // one-row local frame): continuations score each page's rows against
      // them and never re-run the whole-index aggregate
      val sid = java.util.UUID.randomUUID().toString
      register(sid, State(Some(df), resolver, idCol, idField, bodyJson,
        page.lastSortValues, page.total, page.stats, tiebreak,
        clock() + ttlMs, ttlMs, clock()))
      splice(sid, page.rendered)
    }

    /** Opening `_search?scroll` over comma-separated index ids/globs
      * (multi-indices/0002-muti_indices_scroll.yaml): explicit missing ids
      * raise IndexesNotFound BEFORE any context is created (the scenario's
      * 404 arm); an all-wildcard selection matching nothing opens a VALID,
      * permanently-exhausted scroll — the `_scroll_id` is still answered
      * and continuations page the empty set (the scenario's last arm). The
      * union sorts GLOBALLY across member indexes, so a page can interleave
      * hits from different indexes, each tagged with its `_index`. */
    def searchMulti(indexes: Seq[(String, DataFrame)], resolver: FieldResolver,
                    idField: String, patterns: String, bodyJson: String,
                    scrollTtl: String): String = {
      val selected = EsApi.selectIndexes(indexes, patterns)
      if (selected.nonEmpty)
        // doc ids are only unique PER INDEX (the reference's cursor carries
        // the split in its GlobalDocAddress) — the union's tiebreak must be
        // (id, _index) or two members sharing an id value would make the
        // cursor non-total and silently drop the second hit across pages
        open(EsApi.unionWithIndex(selected), resolver, idField, bodyJson,
          scrollTtl, Seq(idField -> true, "_index" -> true))
      else {
        evictExpired()
        val ttlMs = parseTtlSecs(scrollTtl) * 1000L
        val page = EsApi.emptyPage(bodyJson)
        val sid = java.util.UUID.randomUUID().toString
        register(sid, State(None, resolver, null, idField, bodyJson,
          None, 0L, None, Nil, clock() + ttlMs, ttlMs, clock()))
        splice(sid, page.rendered)
      }
    }

    /** `_search/scroll` continuation: one bounded TakeOrdered job per page
      * (the total is the one fixed at open — no per-page count job; a BM25
      * page scores against the stats stored at open — no corpus aggregate).
      * Unknown/expired ids get the reference-shaped failure. Pages are
      * stateless beyond the cursor: unlike the reference's SCROLL_BATCH_LEN
      * window, no hits are cached between calls. */
    def scroll(scrollId: String): String = {
      evictExpired()
      val st = store.getOrElse(scrollId,
        throw new IllegalArgumentException(s"scroll context not found: $scrollId"))
      // an EXHAUSTED scroll simply replays its final cursor: everything
      // after the true last row is the empty set, total stays intact —
      // no special casing (a cursor of None means the result set itself
      // is empty, and the cursorless replay is equally empty)
      val page = st.df match {
        case Some(df) => EsApi.searchPage(df, st.resolver, st.idCol, st.bodyJson,
          cursorOverride = st.cursor, extraSort = st.tiebreak,
          includeAggs = false, totalOverride = Some(st.total),
          statsOverride = st.stats)
        case None => EsApi.emptyPage(st.bodyJson) // zero-index scroll
      }
      register(scrollId,
        st.copy(cursor = page.lastSortValues.orElse(st.cursor),
          deadlineMs = clock() + st.ttlMs, lastAccessMs = clock()))
      splice(scrollId, page.rendered)
    }

    /** DELETE `_search/scroll`. */
    def clear(scrollId: String): Boolean = drop(scrollId)

    private def splice(sid: String, rendered: String): String =
      s"""{"_scroll_id":"$sid",""" + rendered.stripPrefix("{")
  }
}
