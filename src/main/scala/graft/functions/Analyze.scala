package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

/** The index API's `POST /analyze` endpoint compute
  * (index_api/rest_handler.rs:786-828 analyze_request; analyze_text
  * quickwit-doc-mapper/src/default_doc_mapper/tokenizer_entry.rs:87-96):
  * tokenize a text with an ad-hoc TokenizerConfig and answer tantivy's
  * Token rows — text, position, BYTE offsets, position_length. Pinned on
  * the reference handler's own golden (ngram 3..3 "Hel" + lower_caser →
  * `[{offset_from:0, offset_to:3, position:0, position_length:1,
  * text:"hel"}]`, rest_handler.rs:1872-1915).
  *
  * Semantics per the tantivy tokenizers the config compiles to
  * (tokenizer_entry.rs:49-85):
  *  - `simple` splits at non-alphanumeric runs; positions 0,1,2,…;
  *  - `ngram` emits, per codepoint start, grams of min..max chars
  *    (`prefix_only` keeps start 0 only); every gram carries position 0
  *    (tantivy's ngram stream does not advance positions — the golden
  *    above pins it);
  *  - `regex` emits the pattern's non-empty matches in order;
  *  - `source_code`/`multilang` reuse the registry's column segmentation
  *    (one-row evaluation), with offsets recovered by locating each
  *    (untransformed) token left-to-right in the source text;
  *  - filters run AFTER tokenization and never touch offsets:
  *    `remove_long` drops tokens of ≥ 255 BYTES
  *    (RemoveLongFilter::limit(DEFAULT_REMOVE_TOKEN_LENGTH),
  *    quickwit-query/src/tokenizers/mod.rs:38), `lower_caser` lowercases,
  *    `ascii_folding` folds the same accent set as the column-side
  *    [[Tokenizers.asciiFold]].
  *
  * Offsets are UTF-8 BYTE offsets into the original text — tantivy's
  * convention, so multi-byte characters advance offsets by their encoded
  * width. */
object Analyze {
  import TokenizerRegistry._

  final case class Token(text: String, position: Int,
                         offsetFrom: Int, offsetTo: Int,
                         positionLength: Int = 1)

  private def byteLen(s: String): Int =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length

  // Rust char::is_alphanumeric = Alphabetic + Nd/Nl/No — wider than Java's
  // isLetterOrDigit (which omits Nl/No), same class as the column side's
  // `[\p{L}\p{N}]`
  private def isAlnum(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** (codepoint strings, cumulative byte offset per boundary — length n+1). */
  private def codePoints(text: String): (Vector[String], Vector[Int]) = {
    val cps = Vector.newBuilder[String]
    val offs = Vector.newBuilder[Int]
    var i = 0
    var off = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val s = new String(Character.toChars(cp))
      cps += s
      offs += off
      off += byteLen(s)
      i += Character.charCount(cp)
    }
    offs += off
    (cps.result(), offs.result())
  }

  private def simpleTokens(text: String): Seq[Token] = {
    val (cps, offs) = codePoints(text)
    val out = Seq.newBuilder[Token]
    var pos = 0
    var start = -1
    var i = 0
    while (i < cps.size) {
      if (isAlnum(cps(i).codePointAt(0))) { if (start < 0) start = i }
      else if (start >= 0) {
        out += Token(cps.slice(start, i).mkString, pos, offs(start), offs(i))
        pos += 1; start = -1
      }
      i += 1
    }
    if (start >= 0)
      out += Token(cps.slice(start, cps.size).mkString, pos, offs(start), offs(cps.size))
    out.result()
  }

  private def ngramTokens(text: String, minG: Int, maxG: Int,
                          prefixOnly: Boolean): Seq[Token] = {
    val (cps, offs) = codePoints(text)
    val n = cps.size
    if (n < minG) return Nil
    val starts = if (prefixOnly) Seq(0) else 0 to (n - minG)
    for {
      i <- starts
      g <- minG to maxG
      if i + g <= n
    } yield Token(cps.slice(i, i + g).mkString, 0, offs(i), offs(i + g))
  }

  private def regexTokens(text: String, pattern: String): Seq[Token] = {
    val (_, offs) = codePoints(text)
    // char-index → codepoint-index map for translating matcher offsets
    def byteOffOfCharIdx(charIdx: Int): Int =
      offs(text.codePointCount(0, charIdx))
    val m = java.util.regex.Pattern.compile(pattern).matcher(text)
    val out = Seq.newBuilder[Token]
    var pos = 0
    while (m.find()) {
      if (m.group().nonEmpty) {
        out += Token(m.group(), pos, byteOffOfCharIdx(m.start()), byteOffOfCharIdx(m.end()))
        pos += 1
      }
    }
    out.result()
  }

  /** Tokens from a column-side segmenter, offsets recovered by locating
    * each token left-to-right in `locateIn` — the BODY for prefixed
    * multilang inputs (the reference's MultiLangTokenizer strips the
    * `ENG:`/`CMN:`/`JPN:`/`KOR:` prefix before tokenizing, so offsets are
    * body-relative and 0-based). The segmenters split without transforming
    * EXCEPT the documented Korean un-fused conjugations (합니다 → 하 ㅂ니다,
    * Tokenizers.korSegment) whose tokens have no verbatim source span —
    * those fall back to a monotone approximation: a span starting at the
    * previous token's end, as wide as the token, clamped to the text.
    * `evalText` (the full input, prefix included) is what the column
    * function sees, so an explicit language override still applies. */
  private def viaColumn(fn: Column => Column, evalText: String, locateIn: String,
                        spark: SparkSession): Seq[Token] = {
    import spark.implicits._
    val toks = Seq(evalText).toDF("t").select(fn(col("t")).as("toks"))
      .collect()(0).getSeq[String](0)
    val (_, offs) = codePoints(locateIn)
    val nCp = offs.size - 1
    def byteOffOfCharIdx(charIdx: Int): Int = offs(locateIn.codePointCount(0, charIdx))
    var from = 0
    toks.zipWithIndex.map { case (t, pos) =>
      val at = locateIn.indexOf(t, from)
      if (at >= 0) {
        from = at + t.length
        Token(t, pos, byteOffOfCharIdx(at), byteOffOfCharIdx(at + t.length))
      } else {
        val start = math.min(from, locateIn.length)
        val end = math.min(start + t.length, locateIn.length)
        from = end
        Token(t, pos, byteOffOfCharIdx(start), byteOffOfCharIdx(end))
      }
    }
  }

  private def stripLangPrefix(text: String): String =
    if (text.length >= 4 && Set("ENG:", "CMN:", "JPN:", "KOR:")(text.substring(0, 4)))
      text.substring(4)
    else text

  private def applyFilter(f: TokenFilter, toks: Seq[Token]): Seq[Token] = f match {
    case RemoveLong => toks.filter(t => byteLen(t.text) < 255)
    case LowerCaser =>
      toks.map(t => t.copy(text = t.text.toLowerCase(java.util.Locale.ROOT)))
    case AsciiFolding => toks.map { t =>
      // the SAME fold tables as the column-side filter (Tokenizers)
      t.copy(text = t.text.map { c =>
        val i = Tokenizers.AsciiFoldFrom.indexOf(c.toInt)
        if (i >= 0) Tokenizers.AsciiFoldTo(i) else c
      })
    }
  }

  /** analyze_text: base tokenizer, then the filter chain in order. */
  def tokens(cfg: TokenizerConfig, text: String, spark: SparkSession): Seq[Token] = {
    val base = cfg.tokenizerType match {
      case Simple                 => simpleTokens(text)
      case Ngram(minG, maxG, po)  => ngramTokens(text, minG, maxG, po)
      case Regex(pattern)         => regexTokens(text, pattern)
      case SourceCode =>
        viaColumn(Tokenizers.sourceCodeBare, text, text, spark)
      case Multilang =>
        viaColumn(Tokenizers.multilangBare, text, stripLangPrefix(text), spark)
    }
    cfg.filters.foldLeft(base)((acc, f) => applyFilter(f, acc))
  }

  /** The REST request body — a flattened TokenizerConfig plus `text`
    * (AnalyzeRequest, rest_handler.rs:829-835) — to the rendered Token
    * array. Config validation reuses the doc-mapping tokenizer-entry
    * parser, so unknown fields/variants fail with the same errors. */
  def analyzeJson(requestJson: String, spark: SparkSession): String = {
    val o = graft.util.Json.parse(requestJson).asInstanceOf[Map[String, Any]]
    val text = o.getOrElse("text",
      throw new IllegalArgumentException("missing field `text`")).asInstanceOf[String]
    val entryJson = graft.util.Json.render(
      Map("tokenizers" -> Seq(o - "text" + ("name" -> "_analyze"))))
    val cfg = graft.parse.MappingConfig.tokenizersFromJson(entryJson).head.config
    val body = tokens(cfg, text, spark).map { t =>
      s"""{"offset_from":${t.offsetFrom},"offset_to":${t.offsetTo},""" +
        s""""position":${t.position},"position_length":${t.positionLength},""" +
        s""""text":${graft.util.Json.quote(t.text)}}"""
    }
    body.mkString("[", ",", "]")
  }
}
