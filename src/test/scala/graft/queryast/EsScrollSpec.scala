package graft.queryast

import graft.SparkTestBase
import graft.util.Json

/** ES scroll envelopes, contract pinned from the reference's own
  * 0012-scroll-api.yaml scenario: first response carries _scroll_id +
  * aggs, continuations page size-at-a-time with the original total and
  * no aggs, exhaustion keeps answering empty pages, TTL cap error. */
class EsScrollSpec extends SparkTestBase {

  private val resolver = FieldResolver(Set.empty, Seq("name"))

  private lazy val docs = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"doc$i", Seq("push", "fork", "watch")(i % 3)))
      .toDF("id", "name", "type")
  }

  private def parsed(s: String): Map[String, Any] =
    Json.parse(s).asInstanceOf[Map[String, Any]]
  private def hits(m: Map[String, Any]): Seq[Map[String, Any]] =
    m("hits").asInstanceOf[Map[String, Any]]("hits").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
  private def total(m: Map[String, Any]): Double =
    m("hits").asInstanceOf[Map[String, Any]]("total")
      .asInstanceOf[Map[String, Any]]("value").asInstanceOf[Double]

  test("scenario 0012 shape: size 1, sort desc, aggs on first page only") {
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.search(docs, resolver, "id",
      """{"query":{"match_all":{}},"size":1,"sort":[{"id":{"order":"desc"}}],
        |"aggs":{"mytypeagg":{"terms":{"field":"type","size":5}}}}""".stripMargin,
      "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    assert(sid.length > 4)
    assert(total(r1) === 100.0)
    assert(hits(r1).map(_("_id")) === Seq(100.0))
    assert(r1.contains("aggregations"))

    val r2 = parsed(ctx.scroll(sid))
    assert(hits(r2).map(_("_id")) === Seq(99.0))
    assert(total(r2) === 100.0)
    assert(!r2.contains("aggregations")) // ES: aggs only on the first page

    val r3 = parsed(ctx.scroll(sid))
    assert(hits(r3).map(_("_id")) === Seq(98.0))
    assert(ctx.clear(sid))
    intercept[IllegalArgumentException](ctx.scroll(sid))
  }

  test("size 40 over 100 docs: 40/40/20/0/0 pages, total stays 100") {
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.search(docs, resolver, "id",
      """{"query":{"match_all":{}},"size":40,"sort":[{"id":{"order":"desc"}}]}""",
      "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    assert(hits(r1).size === 40)
    val pages = (1 to 4).map(_ => parsed(ctx.scroll(sid)))
    assert(pages.map(p => hits(p).size) === Seq(40, 20, 0, 0))
    assert(pages.forall(p => total(p) === 100.0))
    // no row lost or repeated across the scroll
    val seen = (hits(r1) ++ pages.flatMap(hits)).map(_("_id").asInstanceOf[Double])
    assert(seen.sorted === (1 to 100).map(_.toDouble))
  }

  test("a BM25-ranked scroll pages the global relevance order from the cached aggregate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark vector"),                                       // both terms
      (2L, "spark is one term here diluted by many other words"), // diluted
      (3L, "spark hit"),                                          // one term, short
      (4L, "nothing relevant")                                    // filtered out
    ).toDF("id", "name")
    val ctx = new EsScroll.Context()
    // sortless body → default _score desc; the context keeps the corpus
    // stats of its opening page, continuations page from the cursor
    val r1 = parsed(ctx.search(corpus, resolver, "id",
      """{"query":{"match":{"name":{"query":"spark vector","operator":"or"}}},"size":1}""",
      "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    val r2 = parsed(ctx.scroll(sid))
    val r3 = parsed(ctx.scroll(sid))
    val r4 = parsed(ctx.scroll(sid))
    assert((hits(r1) ++ hits(r2) ++ hits(r3)).map(_("_id")) === Seq(1.0, 3.0, 2.0))
    assert(hits(r4).isEmpty) // exhausted; total intact
    assert(total(r4) === 3.0)
  }

  test("a BM25 scroll persists nothing while open, and ends on every path") {
    import spark.implicits._
    val corpus = Seq((1L, "spark vector"), (2L, "spark hit"), (3L, "nothing"))
      .toDF("id", "name")
    val bm25 = """{"query":{"match":{"name":{"query":"spark","operator":"or"}}},"size":1}"""
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var now = 0L
    // opens a BM25 scroll, pages it once, checks that the open scroll
    // added no persistent RDD, ends it with `end`, checks that its id is
    // gone, and returns the persistent RDDs the scroll left behind
    def leftBehind(ctx: EsScroll.Context)(end: String => Unit): Set[Int] = {
      val before = persisted
      val sid = parsed(ctx.search(corpus, resolver, "id", bm25, "60s"))("_scroll_id")
        .asInstanceOf[String]
      ctx.scroll(sid)
      assert(persisted -- before === Set.empty, "an open scroll persists nothing")
      end(sid)
      intercept[IllegalArgumentException](ctx.scroll(sid))
      persisted -- before
    }
    val ctx = new EsScroll.Context(clock = () => now, capacity = 1)
    assert(leftBehind(ctx)(sid => assert(ctx.clear(sid))) === Set.empty, "clear")
    assert(leftBehind(ctx) { _ => now += 61000L; ctx.purgeExpired() } === Set.empty, "expiry")
    assert(leftBehind(ctx) { _ =>
      // at capacity 1, a second (match_all, score-free) scroll evicts the first
      ctx.search(corpus, resolver, "id", """{"size":1,"sort":[{"id":"asc"}]}""", "60s")
    } === Set.empty, "LRU eviction")
    assert(leftBehind(ctx)(_ => ctx.close()) === Set.empty, "close")
  }

  test("multi-index scroll walks ONE global order across indexes (multi-indices/0002)") {
    import spark.implicits._
    // the scenario's actors, ids descending trinity > guilload >
    // fulmicoton > fmassot, split across two sibling indexes so pages
    // must interleave indexes to keep the global desc order
    val idx1 = Seq((4L, "fmassot"), (963L, "trinity")).toDF("id", "name")
    val idx2 = Seq((14L, "fulmicoton"), (280L, "guilload")).toDF("id", "name")
    val indexes = Seq("gharchive-1" -> idx1, "gharchive-2" -> idx2)
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.searchMulti(indexes, resolver, "id", "gharchive-*",
      """{"query":{"match_all":{}},"size":1,"sort":[{"id":{"order":"desc"}}]}""",
      "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    assert(sid.length > 4)
    assert(total(r1) === 4.0)
    val r2 = parsed(ctx.scroll(sid))
    val r3 = parsed(ctx.scroll(sid))
    val walked = (hits(r1) ++ hits(r2) ++ hits(r3))
      .map(h => (h("_source").asInstanceOf[Map[String, Any]]("name"), h("_index")))
    assert(walked === Seq(("trinity", "gharchive-1"), ("guilload", "gharchive-2"),
      ("fulmicoton", "gharchive-2")))
    assert(total(r3) === 4.0)
    // explicit missing id beside a matching wildcard → 404, NO context made
    val before = ctx.size
    val e = intercept[IllegalArgumentException] {
      ctx.searchMulti(indexes, resolver, "id", "gharchive-*,non-existing-index",
        """{"query":{"match_all":{}},"size":1}""", "30m")
    }
    assert(e.getMessage ===
      """could not find indexes matching the IDs ["non-existing-index"]""")
    assert(ctx.size === before)
    // all-wildcard matching nothing → a VALID exhausted scroll: the
    // _scroll_id is answered and continuations page the empty set
    val r4 = parsed(ctx.searchMulti(indexes, resolver, "id", "non-existing-index-*",
      """{"query":{"match_all":{}},"size":1}""", "30m"))
    val sid2 = r4("_scroll_id").asInstanceOf[String]
    assert(total(r4) === 0.0 && hits(r4).isEmpty)
    val r5 = parsed(ctx.scroll(sid2))
    assert(total(r5) === 0.0 && hits(r5).isEmpty)
  }

  test("multi-index scroll: members SHARING an id value never drop hits across pages") {
    import spark.implicits._
    // doc ids are only unique per index — both members carry id 7; the
    // (id, _index) tiebreak must page BOTH, not skip the second
    val idx1 = Seq((7L, "seven-a"), (9L, "nine-a")).toDF("id", "name")
    val idx2 = Seq((7L, "seven-b"), (8L, "eight-b")).toDF("id", "name")
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.searchMulti(Seq("dup-1" -> idx1, "dup-2" -> idx2),
      resolver, "id", "dup-*",
      """{"query":{"match_all":{}},"size":1,"sort":[{"id":{"order":"asc"}}]}""",
      "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    val pages = r1 +: (1 to 4).map(_ => parsed(ctx.scroll(sid)))
    val walked = pages.flatMap(hits).map(h =>
      (h("_source").asInstanceOf[Map[String, Any]]("name"), h("_index")))
    assert(walked === Seq(("seven-a", "dup-1"), ("seven-b", "dup-2"),
      ("eight-b", "dup-2"), ("nine-a", "dup-1")))
    assert(pages.forall(total(_) === 4.0))
  }

  test("TTL over the 1800 s cap reproduces the reference error") {
    val ctx = new EsScroll.Context()
    val e = intercept[IllegalArgumentException] {
      ctx.search(docs, resolver, "id", "{}", "31m")
    }
    assert(e.getMessage ===
      "Invalid argument: Quickwit only supports scroll TTL period up to 1800 secs")
    assert(EsScroll.parseTtlSecs("30m") === 1800L)
    assert(EsScroll.parseTtlSecs("90s") === 90L)
    // sub-second TTLs round UP — "500ms" must outlive its own creation
    assert(EsScroll.parseTtlSecs("500ms") === 1L)
  }

  test("null sort values page through: the null tail is served, never dropped") {
    import spark.implicits._
    // 30 docs, 10 with null category: sort asc puts the nulls LAST; the
    // cursor must carry the scroll THROUGH the null tail
    val mixed = (1 to 30).map(i =>
      (i.toLong, s"d$i", if (i % 3 == 0) null else s"cat${i % 4}"))
      .toDF("id", "name", "category")
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.search(mixed, resolver, "id",
      """{"size":7,"sort":[{"category":"asc"}]}""", "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    val pages = Iterator.continually(parsed(ctx.scroll(sid)))
      .takeWhile(p => hits(p).nonEmpty).take(10).toSeq
    val ids = (hits(r1) ++ pages.flatMap(hits)).map(_("_id").asInstanceOf[Double])
    assert(ids.size === 30 && ids.distinct.size === 30)
    // and the null-category docs are the TAIL of the scroll order
    val nullIds = (1 to 30).filter(_ % 3 == 0).map(_.toDouble).toSet
    assert(ids.takeRight(10).toSet === nullIds)
  }

  test("i64 sort values beyond 2^53 keep full precision across the cursor") {
    import spark.implicits._
    val base = (1L << 53) // doubles collapse adjacent values up here
    val big = (0 until 12).map(i => (base + i, s"d$i")).toDF("id", "name")
    val ctx = new EsScroll.Context()
    val r1 = parsed(ctx.search(big, resolver, "id",
      """{"size":5,"sort":[{"id":"asc"}]}""", "30m"))
    val sid = r1("_scroll_id").asInstanceOf[String]
    val pages = Iterator.continually(parsed(ctx.scroll(sid)))
      .takeWhile(p => hits(p).nonEmpty).take(5).toSeq
    // a JSON-re-parsed cursor would compare equal across adjacent ids and
    // skip or repeat rows; the native cursor pages 5/5/2 exactly once each
    assert((hits(r1) ++ pages.flatMap(hits)).size === 12)
    assert(pages.map(p => hits(p).size) === Seq(5, 2))
  }

  test("expired contexts are evicted; sort-value ties never drop rows") {
    var now = 0L
    val ctx = new EsScroll.Context(clock = () => now)
    val r1 = parsed(ctx.search(docs, resolver, "id",
      """{"size":10,"sort":[{"type":"asc"}]}""", "60s")) // 3-way ties: id tiebreak
    val sid = r1("_scroll_id").asInstanceOf[String]
    val all = Iterator.continually(parsed(ctx.scroll(sid)))
      .takeWhile(p => hits(p).nonEmpty).take(20).toSeq
    val ids = (hits(r1) ++ all.flatMap(hits)).map(_("_id").asInstanceOf[Double])
    assert(ids.distinct.size === 100) // tie-broken cursor: complete + unique
    now = 61000L
    intercept[IllegalArgumentException](ctx.scroll(sid))
  }

  test("deadline sweep drops expired contexts WITHOUT any access") {
    var now = 0L
    val ctx = new EsScroll.Context(clock = () => now)
    val sids = (1 to 3).map { _ =>
      parsed(ctx.search(docs, resolver, "id", """{"size":1}""", "60s"))("_scroll_id")
    }
    assert(ctx.size === 3)
    now = 61000L
    // the sweeper thread would call this on its own cadence; no search or
    // scroll call happens between expiry and the purge
    ctx.purgeExpired()
    assert(ctx.size === 0, "expired contexts must vanish without being touched")
    sids.foreach(sid =>
      intercept[IllegalArgumentException](ctx.scroll(sid.asInstanceOf[String])))
    // a REFRESHED context survives the sweep of its stale first deadline
    val sid2 = parsed(ctx.search(docs, resolver, "id",
      """{"size":1,"sort":[{"id":"asc"}]}""", "60s"))("_scroll_id").asInstanceOf[String]
    now = 100000L; ctx.scroll(sid2)     // refresh: new deadline 160s
    now = 130000L; ctx.purgeExpired()   // the 60s-era heap entry is stale
    assert(ctx.size === 1)
    assert(hits(parsed(ctx.scroll(sid2))).nonEmpty)
  }

  test("capacity bound evicts the least-recently-used context (TtlCache shape)") {
    var now = 0L
    val ctx = new EsScroll.Context(clock = () => now, capacity = 2)
    def open(): String = {
      now += 1000
      parsed(ctx.search(docs, resolver, "id",
        """{"size":1,"sort":[{"id":"asc"}]}""", "30m"))("_scroll_id").asInstanceOf[String]
    }
    val a = open(); val b = open()
    now += 1000; ctx.scroll(a) // a becomes most-recently-used
    val c = open()             // at capacity: evicts b (the LRU), not a
    assert(ctx.size === 2)
    intercept[IllegalArgumentException](ctx.scroll(b))
    assert(hits(parsed(ctx.scroll(a))).nonEmpty)
    assert(hits(parsed(ctx.scroll(c))).nonEmpty)
  }

  test("background sweeper thread purges on its own cadence") {
    @volatile var now = 0L
    val ctx = new EsScroll.Context(clock = () => now, sweepIntervalMs = Some(20L))
    ctx.search(docs, resolver, "id", """{"size":1}""", "1s")
    assert(ctx.size === 1)
    now = 2000L
    val deadline = System.currentTimeMillis() + 5000
    while (ctx.size > 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(ctx.size === 0, "daemon sweeper should purge without any API call")
  }
}
