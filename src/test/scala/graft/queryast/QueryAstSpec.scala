package graft.queryast

import graft.SparkTestBase
import graft.functions.Tokenizers
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import QueryAst._

import java.util.Locale

/** Predicate-semantics tests for every query AST node over a small corpus
  * (reference node set: quickwit-query/src/query_ast/mod.rs:56-72). */
class QueryAstSpec extends SparkTestBase {

  private val r = FieldResolver(textFields = Set("text"), defaultFields = Seq("text"))

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "The quick brown fox jumps", "en", 10.0),
      (2L, "Quick thinking wins the race", "en", 55.0),
      (3L, "der schnelle braune Fuchs", "de", 70.0),
      (4L, "fox quick", "en", 95.0),
      (5L, "a fox is quick and brown", "en", 20.0)
    ).toDF("id", "text", "lang", "v")
  }

  private def ids(q: QueryAst): Set[Long] =
    docs.filter(q.toColumn(r)).select("id").collect().map(_.getLong(0)).toSet

  test("Term: text field matches tokens, non-text exact") {
    assert(ids(Term("text", "Quick")) === Set(1L, 2L, 4L, 5L))
    assert(ids(Term("lang", "de")) === Set(3L))
  }

  test("TermSet membership") {
    assert(ids(TermSet("lang", Seq("de", "fr"))) === Set(3L))
    assert(ids(TermSet("text", Seq("race", "jumps"))) === Set(1L, 2L))
  }

  test("Bool: must / mustNot / should semantics") {
    assert(ids(Bool(must = Seq(Term("text", "quick"), Term("text", "fox")))) === Set(1L, 4L, 5L))
    assert(ids(Bool(must = Seq(Term("text", "quick")), mustNot = Seq(Term("lang", "de")))) ===
      Set(1L, 2L, 4L, 5L))
    assert(ids(Bool(should = Seq(Term("lang", "de"), Term("text", "race")))) === Set(2L, 3L))
    // should is optional when must present (minimum_should_match=0)
    assert(ids(Bool(must = Seq(Term("text", "fox")), should = Seq(Term("text", "zzz")))) ===
      Set(1L, 4L, 5L))
    assert(ids(Bool()) === Set(1L, 2L, 3L, 4L, 5L))
    // should + must_not WITHOUT must: negations are not positive clauses,
    // so at least one should must still match (Lucene minimum_should_match
    // = 1; dropping should here returned every non-excluded doc)
    assert(ids(Bool(should = Seq(Term("text", "race")),
      mustNot = Seq(Term("lang", "de")))) === Set(2L))
    // must_not alone: pure exclusion over match-all
    assert(ids(Bool(mustNot = Seq(Term("lang", "de")))) === Set(1L, 2L, 4L, 5L))
  }

  test("FullText: AND / OR modes") {
    assert(ids(FullText("text", "quick fox", ModeAnd)) === Set(1L, 4L, 5L))
    assert(ids(FullText("text", "race OR-irrelevant fuchs", ModeOr)) === Set(2L, 3L))
  }

  test("FullText phrase: slop 0 = adjacency in order") {
    assert(ids(FullText("text", "quick brown", ModePhrase(0))) === Set(1L))
    assert(ids(FullText("text", "brown fox", ModePhrase(0))) === Set(1L))
    assert(ids(FullText("text", "braune fuchs", ModePhrase(0))) === Set(3L))
  }

  test("FullText phrase: slop budget allows gaps; transposition costs 2") {
    // doc4 is adjacent; doc5 "fox is quick" needs 1 gap
    assert(ids(FullText("text", "fox quick", ModePhrase(1))) === Set(4L, 5L))
    // transposed order 'quick fox' on doc4 ("fox quick") needs slop ≥ 2
    assert(!ids(FullText("text", "quick fox", ModePhrase(1))).contains(4L))
    assert(ids(FullText("text", "quick fox", ModePhrase(2))).contains(4L))
  }

  test("PhrasePrefix: last term is a prefix") {
    assert(ids(PhrasePrefix("text", "quick bro")) === Set(1L))
    assert(ids(PhrasePrefix("text", "schnelle brau")) === Set(3L))
  }

  test("BoolPrefix: unordered terms, only the LAST is a prefix") {
    // "quick bro": AND → docs with token 'quick' AND a 'bro'-prefixed token
    // — unlike PhrasePrefix, order/adjacency is irrelevant, so doc5
    // ("... quick and brown") matches too
    assert(ids(BoolPrefix("text", "quick bro", andOperator = true)) === Set(1L, 5L))
    // OR (the ES default operator): any term match suffices
    assert(ids(BoolPrefix("text", "quick bro", andOperator = false)) ===
      Set(1L, 2L, 4L, 5L))
    // single term = pure prefix query
    assert(ids(BoolPrefix("text", "schnell")) === Set(3L))
  }

  test("Wildcard on text and non-text fields") {
    assert(ids(Wildcard("text", "jum*")) === Set(1L))
    assert(ids(Wildcard("text", "f?x")) === Set(1L, 4L, 5L))
    assert(ids(Wildcard("lang", "e*")) === Set(1L, 2L, 4L, 5L))
  }

  test("Range: numeric bounds, all combinations") {
    assert(ids(Range("v", gte = Some(55.0))) === Set(2L, 3L, 4L))
    assert(ids(Range("v", gt = Some(55.0))) === Set(3L, 4L))
    assert(ids(Range("v", gte = Some(20.0), lt = Some(70.0))) === Set(2L, 5L))
    assert(ids(Range("v")) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("Exists / MatchAll / MatchNone / Boost") {
    import spark.implicits._
    val withNull = Seq((1L, "x"), (2L, null)).toDF("id", "tool")
    assert(withNull.filter(Exists("tool").toColumn(r)).count() === 1L)
    assert(ids(MatchAll) === Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(MatchNone) === Set.empty[Long])
    assert(ids(Boost(Term("lang", "de"), 2.0)) === Set(3L)) // boost is a filter no-op
  }

  test("TsRange: semi-open [start, end) on timestamps") {
    import spark.implicits._
    val base = 1704067200000000L
    val df = Seq(
      (1L, new java.sql.Timestamp(base / 1000)),
      (2L, new java.sql.Timestamp(base / 1000 + 5000)),
      (3L, new java.sql.Timestamp(base / 1000 + 10000))).toDF("id", "ts")
    val q = TsRange("ts", Some(base), Some(base + 10000000L))
    assert(df.filter(q.toColumn(r)).select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  /** Rows that trip a substring gate: null and empty text, substrings
    * that are not tokens (`fox` in `foxes`), punctuation-joined tokens,
    * upper-case and non-ASCII text. */
  private def gated = {
    import spark.implicits._
    Seq[(Long, String)](
      (1L, "The quick brown fox jumps"), (2L, null), (3L, "foxes outfoxed quickly"),
      (4L, "fox,dog;quick"), (5L, "QUICK FOX"), (6L, "Ünïcode ÉTÉ über-fox"),
      (7L, ""), (8L, "dog"), (9L, "brownish quickest dog")
    ).toDF("id", "text")
  }

  test("substring gates match the tokenized predicates row for row, also under must_not") {
    val toks = Tokenizers.default(col("text"))
    def has(t: String): Column = array_contains(toks, t)
    def check(q: QueryAst, reference: Column): Unit = {
      def idsOf(c: Column) = gated.filter(c).select("id").collect().map(_.getLong(0)).toSet
      assert(idsOf(q.toColumn(r)) === idsOf(reference), q)
      assert(idsOf(Bool(mustNot = Seq(q)).toColumn(r)) === idsOf(!reference), q)
    }
    Seq("fox", "FOX", "quick", "dog", "été", "über", "fox,dog", "", "zzz").foreach { v =>
      check(Term("text", v), has(v.toLowerCase(Locale.ROOT)))
    }
    check(TermSet("text", Seq("fox", "Dog")), arrays_overlap(toks, array(lit("fox"), lit("dog"))))
    check(TermSet("text", Seq("foxe", "ÉTÉ")), has("foxe") || has("été"))
    check(TermSet("text", Nil), lit(false))
    check(FullText("text", "quick fox", ModeAnd), has("quick") && has("fox"))
    check(FullText("text", "Quick, FOX!", ModeOr), has("quick") || has("fox"))
    check(FullText("text", "über dog", ModeOr), has("über") || has("dog"))
    def prefixed(p: String): Column = exists(toks, t => t.startsWith(p))
    check(BoolPrefix("text", "fox qui", andOperator = true), has("fox") && prefixed("qui"))
    check(BoolPrefix("text", "dog brow"), has("dog") || prefixed("brow"))
    check(FullText("text", "quick fox", ModePhrase(0)),
      concat(lit(" "), array_join(toks, " "), lit(" ")).contains(" quick fox "))
  }

  test("query text lowercases the same under a tr_TR default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      // Java's "THINKING".toLowerCase is "thınkıng" here; Spark's lower of
      // the ASCII doc text is "thinking"
      assert(ids(Term("text", "THINKING")) === Set(2L))
      assert(ids(TermSet("text", Seq("THINKING", "JUMPS"))) === Set(1L, 2L))
      assert(ids(FullText("text", "QUICK THINKING", ModeAnd)) === Set(2L))
      assert(ids(Wildcard("text", "THINK*")) === Set(2L))
      assert(QueryAst.scoringTerms(Term("text", "WINS")) === Seq("text" -> "wins"))
    } finally Locale.setDefault(saved)
  }

  test("slopRegex composes gap budgets") {
    assert(QueryAst.slopRegex(Seq("a", "b"), 0) === " (a b) ")
    val s1 = QueryAst.slopRegex(Seq("a", "b"), 1)
    assert(s1.contains("a b") && s1.contains("( [\\p{L}\\p{N}]+){1} "))
  }
}
