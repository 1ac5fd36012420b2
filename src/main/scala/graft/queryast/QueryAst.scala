package graft.queryast

import graft.functions.Tokenizers
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.util.Locale

/** Query AST — every node of quickwit-query/src/query_ast/mod.rs:56-72,
  * compiled to a Spark `Column` predicate instead of a tantivy query.
  * These nodes FILTER; relevance ranking (`_score` sort) lives in
  * [[graft.operators.Scoring]] (Lucene-variant BM25 over the same default
  * tokenizer), applied downstream of the predicate. One documented scoring
  * divergence: tantivy quantizes doc length through a lossy byte fieldnorm
  * before scoring, while Scoring.bm25 uses the exact length — scores can
  * differ in the 3rd decimal, ordering almost always identical.
  */
sealed trait QueryAst {
  def toColumn(schema: FieldResolver): Column
}

/** Resolves a field name to (column, is-text-tokenized). Text fields match
  * via the `default` tokenizer (term containment), others via typed equality.
  */
final case class FieldResolver(textFields: Set[String], defaultFields: Seq[String],
                               tsFields: Set[String] = Set("ts")) {
  def isText(f: String): Boolean = textFields.contains(f)
  def isTs(f: String): Boolean = tsFields.contains(f)
}

object QueryAst {

  /** bool_query.rs: must / mustNot / should / filter. `filter` is
    * non-scoring must — identical here. Empty should = no constraint unless
    * it is the only clause family. */
  final case class Bool(must: Seq[QueryAst] = Nil, mustNot: Seq[QueryAst] = Nil,
                        should: Seq[QueryAst] = Nil, filterQ: Seq[QueryAst] = Nil)
      extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val musts = (must ++ filterQ).map(_.toColumn(r))
      val nots = mustNot.map(q => !q.toColumn(r))
      val shoulds = should.map(_.toColumn(r))
      val shouldCol =
        if (shoulds.isEmpty) None
        else Some(shoulds.reduce(_ || _))
      // Lucene/ES minimum_should_match: should clauses are OPTIONAL only
      // when a must/filter clause exists; with only should (+ any must_not
      // — negations are not positive clauses) at least one should must
      // match. Dropping should under a lone must_not returned every
      // non-excluded doc (review r3 s5 finding #1).
      val positive: Option[Column] =
        if (musts.nonEmpty) Some(musts.reduce(_ && _))
        else shouldCol
      (positive.toSeq ++ nots).reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** term_query.rs: exact term after normalization; on text fields the term
    * must appear among the field's tokens. */
  final case class Term(field: String, value: String) extends QueryAst {
    def toColumn(r: FieldResolver): Column =
      if (r.isText(field)) hasToken(col(field), value.toLowerCase(Locale.ROOT))
      else col(field) === lit(value)
  }

  /** term_set_query.rs: `field: IN [v1 v2 ...]`. */
  final case class TermSet(field: String, values: Seq[String]) extends QueryAst {
    def toColumn(r: FieldResolver): Column =
      if (r.isText(field)) {
        val terms = values.map(_.toLowerCase(Locale.ROOT))
        terms.map(t => tokenGate(col(field), Seq(t))).foldLeft(lit(false))(_ || _) &&
          arrays_overlap(Tokenizers.default(col(field)), array(terms.map(lit): _*))
      } else col(field).isin(values: _*)
  }

  sealed trait FullTextMode
  case object ModeAnd extends FullTextMode
  case object ModeOr extends FullTextMode
  final case class ModePhrase(slop: Int) extends FullTextMode

  /** full_text_query.rs:42-120: tokenize the query text with the field's
    * tokenizer, combine by mode. Phrase = ordered adjacency (slop allows
    * up to `slop` extra positions between consecutive terms). */
  final case class FullText(field: String, text: String,
                            mode: FullTextMode = ModeAnd) extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val terms = tokenizeQuery(text)
      if (terms.isEmpty) lit(true)
      else mode match {
        case ModeAnd =>
          tokenGate(col(field), terms) &&
            terms.map(t => array_contains(Tokenizers.default(col(field)), t)).reduce(_ && _)
        case ModeOr =>
          terms.map(hasToken(col(field), _)).reduce(_ || _)
        case ModePhrase(0) =>
          // adjacency regex directly on lower(text) — one codegen'd pass,
          // no token-array build/join (see rawPhraseRegex for fidelity)
          tokenGate(col(field), terms) &&
            regexp_like(lower(col(field)), lit(rawPhraseRegex(terms, prefix = false)))
        case ModePhrase(slop) =>
          // Lucene/tantivy slop is a TOTAL budget over all gaps, and a
          // transposition costs 2 (query-language.md "Slop Operator",
          // golden examples ibid.). Enumerate gap compositions summing
          // ≤ slop (plus, for 2-term phrases, the transposed order with the
          // residual budget) into one regex alternation.
          tokenGate(col(field), terms) &&
            regexp_like(normalizedStream(col(field)), lit(slopRegex(terms, slop)))
      }
    }
  }

  /** FullTextMode::BoolPrefix (full_text_query.rs:134-150, the ES
    * `match_bool_prefix` mapping, match_bool_prefix.rs:38-53): every token
    * becomes an independent term query combined by the operator, EXCEPT the
    * last, which matches as a single-term prefix — unlike PhrasePrefix, no
    * ordering/adjacency between terms is required. */
  final case class BoolPrefix(field: String, text: String,
                              andOperator: Boolean = false) extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val terms = tokenizeQuery(text)
      if (terms.isEmpty) lit(true)
      else {
        val clauses =
          terms.init.map(hasToken(col(field), _)) :+
            (tokenGate(col(field), Seq(terms.last)) &&
              regexp_like(lower(col(field)),
                lit(rawPhraseRegex(Seq(terms.last), prefix = true))))
        if (andOperator) clauses.reduce(_ && _) else clauses.reduce(_ || _)
      }
    }
  }

  /** phrase_prefix_query.rs: phrase whose last term is a prefix. */
  final case class PhrasePrefix(field: String, text: String) extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val terms = tokenizeQuery(text)
      if (terms.isEmpty) lit(true)
      else tokenGate(col(field), terms) &&
        regexp_like(lower(col(field)), lit(rawPhraseRegex(terms, prefix = true)))
    }
  }

  /** wildcard_query.rs: `foo*` / `f?o` style. */
  final case class Wildcard(field: String, pattern: String) extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val rx = "^" + pattern.toLowerCase(Locale.ROOT).flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => "\\" + c
        case c => c.toString
      } + "$"
      if (r.isText(field)) exists(Tokenizers.default(col(field)), t => regexp_like(t, lit(rx)))
      else regexp_like(lower(col(field)), lit(rx))
    }
  }

  /** range_query.rs: typed bounds, each optional, inclusive or exclusive. */
  final case class Range(field: String,
                         gte: Option[Any] = None, gt: Option[Any] = None,
                         lte: Option[Any] = None, lt: Option[Any] = None) extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val c = col(field)
      // On the timestamp field, bounds MUST go through the same
      // interpretation as TimestampPruning.interpretMicros (unit inference
      // for integers, fractional seconds otherwise) — comparing the raw
      // literal against a TimestampType column would let split pruning and
      // the row filter disagree, breaking the "pruning never changes
      // results" contract. Uninterpretable bounds fall back to the raw
      // literal (and pruning skips them — still consistent).
      def bound(v: Any): Column =
        if (r.isTs(field))
          TimestampPruning.interpretMicros(v).map(us => timestamp_micros(lit(us))).getOrElse(lit(v))
        else lit(v)
      val parts = Seq(
        gte.map(v => c >= bound(v)), gt.map(v => c > bound(v)),
        lte.map(v => c <= bound(v)), lt.map(v => c < bound(v))).flatten
      if (parts.isEmpty) lit(true) else parts.reduce(_ && _)
    }
  }

  /** field_presence.rs: `exists`. */
  final case class Exists(field: String) extends QueryAst {
    def toColumn(r: FieldResolver): Column = col(field).isNotNull
  }

  case object MatchAll extends QueryAst { def toColumn(r: FieldResolver): Column = lit(true) }
  case object MatchNone extends QueryAst { def toColumn(r: FieldResolver): Column = lit(false) }

  /** Boost: scoring multiplier — no-op on a filter engine (mod.rs:120-143). */
  final case class Boost(inner: QueryAst, boost: Double) extends QueryAst {
    def toColumn(r: FieldResolver): Column = inner.toColumn(r)
  }

  /** Timestamp filter `[start, end)` semi-open on the timestamp fast field
    * (quickwit-search/src/filters.rs:1-171). */
  final case class TsRange(field: String, startMicros: Option[Long], endMicros: Option[Long])
      extends QueryAst {
    def toColumn(r: FieldResolver): Column = {
      val c = col(field)
      val lo = startMicros.map(m => c >= timestamp_micros(lit(m)))
      val hi = endMicros.map(m => c < timestamp_micros(lit(m)))
      (lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** All gap vectors (g_1..g_{n-1}), g_i ≥ 0, Σg ≤ budget. */
  private def gapCompositions(n: Int, budget: Int): Seq[Seq[Int]] =
    if (n <= 1) Seq(Seq.empty)
    else (0 to budget).flatMap(g => gapCompositions(n - 1, budget - g).map(g +: _))

  private[queryast] def slopRegex(terms: Seq[String], slop: Int): String = {
    def pat(ts: Seq[String], budget: Int): Seq[String] =
      gapCompositions(ts.length, budget).map { gaps =>
        ts.head + ts.tail.zip(gaps).map { case (t, g) =>
          (if (g == 0) "" else s"( [\\p{L}\\p{N}]+){$g}") + " " + t
        }.mkString
      }
    val orders =
      if (terms.length == 2 && slop >= 2) Seq(terms -> slop, terms.reverse -> (slop - 2))
      else Seq(terms -> slop)
    val alts = orders.flatMap { case (ts, b) => pat(ts, b) }.distinct
    " (" + alts.mkString("|") + ") "
  }

  private[queryast] def tokenizeQuery(text: String): Seq[String] =
    text.toLowerCase(Locale.ROOT).split("[^\\p{L}\\p{N}]+").toSeq
      .filter(t => t.nonEmpty && t.length <= 255)

  /** The (field, term) pairs that contribute to BM25 relevance — the
    * POSITIVE text clauses of the query. `filter` and `must_not` clauses
    * never score (ES filter context; Bool's own doc calls filter
    * "non-scoring must", bool_query.rs), and structural predicates (range /
    * exists / wildcard) carry no postings terms. Feeds the `_score` sort in
    * the ES `_search` envelope (collector.rs:106-112 SortBy::Score →
    * tantivy BM25 over exactly these terms). */
  def scoringTerms(q: QueryAst): Seq[(String, String)] = q match {
    case Bool(must, _, should, _)   => (must ++ should).flatMap(scoringTerms)
    case Term(f, v)                 => tokenizeQuery(v).map(f -> _)
    case TermSet(f, vs)             => vs.flatMap(tokenizeQuery).map(f -> _)
    case FullText(f, text, _)       => tokenizeQuery(text).map(f -> _)
    case BoolPrefix(f, text, _)     => tokenizeQuery(text).map(f -> _)
    case PhrasePrefix(f, text)      => tokenizeQuery(text).map(f -> _)
    case Boost(inner, _)            => scoringTerms(inner)
    case _                          => Nil
  }

  /** The field value as a single normalized space-delimited token stream,
    * padded with sentinels — phrase matching substrate. */
  private[queryast] def normalizedStream(c: Column): Column =
    concat(lit(" "), array_join(Tokenizers.default(c), " "), lit(" "))

  /** Substring pre-gate for token tests: `t` can be a token of `c` only if
    * it is a substring of `lower(coalesce(c, ""))`, because the `default`
    * analyzer splits exactly that string, so every token it emits is a
    * substring of it. The gate holds only for analyzers whose tokens are
    * substrings of the lowered text, which is true of `default` (and of the
    * phrase regexes, which match on the same lowered text) but not of a
    * stemming or ASCII-folding analyzer. `contains` is a byte search with no
    * allocation; `&&` short-circuits in generated code, so only candidate
    * rows are tokenized. Every term must be a substring. A null text gives
    * `false`, never null, so a gated test under `must_not` keeps the
    * null-text row, as the tokenized test does. */
  private[queryast] def tokenGate(c: Column, terms: Seq[String]): Column = {
    val text = lower(coalesce(c, lit("")))
    terms.map(t => contains(text, lit(t))).reduce(_ && _)
  }

  /** `array_contains(Tokenizers.default(c), t)` behind its [[tokenGate]]. */
  private def hasToken(c: Column, t: String): Column =
    tokenGate(c, Seq(t)) && array_contains(Tokenizers.default(c), t)

  /** Slop-0 adjacency regex applied DIRECTLY to lower(text): each query
    * term must form a whole token (bounded by non-alphanumeric runs or
    * string edges), consecutive terms separated by exactly one separator
    * run; with `prefix` the last term only starts its token. Equivalent to
    * matching the default-tokenizer stream, but one codegen'd regex pass —
    * no token-array build + join per row. Fidelity note: this form is
    * actually CLOSER to tantivy than the joined-stream form — a >255-char
    * token dropped by remove_long leaves a position GAP in tantivy (phrase
    * does not match across it), which raw adjacency preserves, while
    * stream-joining would falsely collapse the neighbors to adjacent.
    * Query terms come from tokenizeQuery (lowercase alphanumeric), so they
    * are regex-safe by construction. */
  private[queryast] def rawPhraseRegex(terms: Seq[String], prefix: Boolean): String = {
    val sep = "[^\\p{L}\\p{N}]+"
    val body = terms.mkString(sep)
    val start = "(^|[^\\p{L}\\p{N}])"
    if (prefix) start + body
    else start + body + "($|[^\\p{L}\\p{N}])"
  }
}
