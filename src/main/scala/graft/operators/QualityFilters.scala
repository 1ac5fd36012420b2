package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data quality + repetition filters in the Gopher / C4 style
  * (Rae et al. 2021 appendix A.1.1 "Repetition removal" and A.1.2 "Quality
  * filtering"; Raffel et al. 2020 §2.2) — the document-level gate a
  * large-scale LLM ingest pipeline runs between parse and dedup.
  *
  * Everything here is a pure column expression (whole-stage codegen, no
  * UDFs, no shuffle) except [[topBigramCover]], whose "most frequent
  * n-gram per document" is a genuine distributed aggregation — explode to
  * (doc, gram), count, max — that shuffles only (doc_id, gram, count)
  * triples, never document text.
  *
  * Thresholds are the published Gopher numbers; the rule BOOLEANS are
  * emitted individually so a pipeline can re-weight them without
  * re-scanning.
  */
object QualityFilters {

  /** Gopher's required-stopword list (A.1.2): a doc must contain ≥2. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Whitespace words of a document (empty-token-free). */
  def words(text: Column): Column =
    filter(split(coalesce(text, lit("")), "\\s+"), w => w =!= "")

  /** Newline-separated lines of a document. */
  def lines(text: Column): Column = split(coalesce(text, lit("")), "\n")

  // ---- repetition signals (Gopher A.1.1) ---------------------------------

  /** Fraction of lines that are repeats of an earlier line:
    * (n_lines - n_distinct_lines) / n_lines. */
  def duplicateLineFraction(ls: Column): Column = {
    val n = size(ls).cast("double")
    when(n === 0.0, 0.0).otherwise((n - size(array_distinct(ls)).cast("double")) / n)
  }

  /** Fraction of CHARACTERS sitting in repeated lines: total line chars
    * minus each distinct line counted once, over total line chars. */
  def duplicateLineCharFraction(ls: Column): Column = {
    def chars(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val total = chars(ls).cast("double")
    when(total === 0.0, 0.0)
      .otherwise((total - chars(array_distinct(ls)).cast("double")) / total)
  }

  /** Word 2-grams of a document ("w1 w2" strings); empty below 2 words. */
  def bigrams(text: Column): Column = ngramsOf(words(text), 2)

  /** Per-document top-2-gram coverage (Gopher's top-n-gram char fraction,
    * n=2): for each doc, the maximum over its 2-grams of
    * `occurrences × gram_length` — the characters covered by the heaviest
    * 2-gram — plus the doc's total length for the caller to form the
    * fraction. Deterministic (a scalar max, no most-frequent tie-break).
    * Input must have (docId, text); output (docId, covered_chars, n_chars).
    */
  def topBigramCover(df: DataFrame, docId: String, text: String): DataFrame = {
    // Entirely per-document, so NO shuffle: sort the doc's bigram array and
    // fold over it counting equal-neighbor runs, keeping max(run × len).
    // The previous form exploded every bigram through two full shuffles —
    // at scale that moved ~2 string grams per word across the cluster for
    // what is a per-row scalar. State: (prev gram, run length, best cover).
    val gs = array_sort(bigrams(col(text)))
    val folded = aggregate(
      gs,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, g) => {
        val run = when(g === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(st.getField("best"), run * length(g).cast("long")).as("best"))
      },
      st => st.getField("best"))
    df.select(col(docId), folded.as("covered_chars"),
      length(col(text)).cast("long").as("n_chars"))
      .filter(col("covered_chars") > 0L) // <2-word docs have no bigrams (as before)
  }

  // ---- Gopher word-level quality rules (A.1.2) ---------------------------

  /** The per-document Gopher rule struct: raw features + one boolean per
    * published rule + the conjunction `keep`. */
  def gopherRules(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val ws = words(t)
    val nWords = size(ws).cast("long")
    val nWordsD = nWords.cast("double")
    val meanLen = when(nWords === 0, 0.0)
      .otherwise(aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / nWordsD)
    // symbols-to-words: '#' occurrences + '...' occurrences per word
    val nSymbols = (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("double")
    val symbolRatio = when(nWords === 0, 0.0).otherwise(nSymbols / nWordsD)
    val alphaFrac = when(nWords === 0, 0.0)
      .otherwise(size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / nWordsD)
    val stopHits = size(array_intersect(ws, array(GopherStopwords.map(lit): _*))).cast("long")
    val ls = lines(t)
    val nLines = size(ls).cast("double")
    val bulletFrac = when(nLines === 0.0, 0.0)
      .otherwise(size(filter(ls, l => l.rlike("^\\s*[-*•]"))).cast("double") / nLines)
    val ellipsisFrac = when(nLines === 0.0, 0.0)
      .otherwise(size(filter(ls, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / nLines)

    val okWords = nWords >= 50 && nWords <= 100000
    val okMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val okSymbols = symbolRatio <= 0.1
    val okBullets = bulletFrac <= 0.9
    val okEllipsis = ellipsisFrac <= 0.3
    val okAlpha = alphaFrac >= 0.8
    val okStops = stopHits >= 2
    struct(
      nWords.as("word_count"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("stop_hits"),
      bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"),
      okWords.as("ok_word_count"),
      okMeanLen.as("ok_mean_word_len"),
      okSymbols.as("ok_symbol_ratio"),
      okBullets.as("ok_bullet_lines"),
      okEllipsis.as("ok_ellipsis_lines"),
      okAlpha.as("ok_alpha_words"),
      okStops.as("ok_stopwords"),
      (okWords && okMeanLen && okSymbols && okBullets && okEllipsis &&
        okAlpha && okStops).as("keep"))
  }

  // ---- full n-gram repetition family (Gopher A.1.1) ----------------------

  /** Word n-grams ("w1 … wn" strings) of a word array; empty below n words. */
  def ngramsOf(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + 1 + k)): _*)))

  /** Gopher A.1.1's published repetition thresholds: a doc is dropped when
    * the metric EXCEEDS the bound (Rae et al. 2021 table A1). */
  val TopNGramMax: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  val DupNGramMax: Map[Int, Double] =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Grams of a sorted gram array that occur ≥2 times: one fold counting
    * equal-neighbor runs, appending each gram the moment its run hits 2. */
  private def duplicatedGrams(gs: Column): Column = aggregate(
    array_sort(gs),
    struct(lit("").as("prev"), lit(0L).as("run"),
      array().cast("array<string>").as("d")),
    (st, g) => {
      val run = when(g === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      struct(g.as("prev"), run.as("run"),
        when(run === 2L, array_append(st.getField("d"), g))
          .otherwise(st.getField("d")).as("d"))
    },
    st => st.getField("d"))

  /** The FULL Gopher A.1.1 n-gram repetition family (the line-level signals
    * live in [[duplicateLineFraction]]/[[duplicateLineCharFraction]]):
    * top-{2,3,4}-gram char fraction (occurrences × gram word chars of the
    * heaviest n-gram) and duplicated-{5..10}-gram char fraction (characters
    * of words covered by ANY occurrence of an n-gram that appears ≥2 times
    * — overlapping occurrences counted ONCE via an interval-merge fold over
    * the sorted duplicate start positions, the "careful not to
    * double-count" clause of A.1.1). All fractions are over total word
    * characters; a gram's word chars are strlen − (n−1) joiner spaces.
    *
    * Shaped as a DataFrame transform, not a scalar Column: the word and
    * gram arrays are bound as columns so each is computed ONCE per row —
    * inlining them into the higher-order lambdas would re-evaluate the
    * whole split/gram subtree per element (O(words²·n²) interpreted, a
    * measured hang at 500-word docs). Still per-row and shuffle-free at
    * any scale. Output: `docId` + the 9 fractions + `keep`. */
  def ngramRepetition(df: DataFrame, docId: String, text: Column): DataFrame = {
    val nsTop = Seq(2, 3, 4)
    val nsDup = 5 to 10
    var cur = df.select(col(docId), words(text).as("_ws"))
      .withColumn("_tot",
        aggregate(col("_ws"), lit(0L), (a, w) => a + length(w).cast("long")))
    for (n <- nsTop ++ nsDup)
      cur = cur.withColumn(s"_g$n", ngramsOf(col("_ws"), n))
    for (n <- nsDup)
      cur = cur.withColumn(s"_d$n", duplicatedGrams(col(s"_g$n")))
    val totD = col("_tot").cast("double")

    // top-n: one fold over the sorted grams, max(run × gram word chars).
    def topFrac(n: Int): Column = {
      val best = aggregate(
        array_sort(col(s"_g$n")),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, g) => {
          val run = when(g === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(g.as("prev"), run.as("run"),
            greatest(st.getField("best"),
              run * (length(g).cast("long") - (n - 1))).as("best"))
        },
        st => st.getField("best"))
      when(col("_tot") === 0L, 0.0).otherwise(best.cast("double") / totD)
    }

    // dup-n: duplicate start positions ascend, so each start i contributes
    // the word chars of indexes [max(i, end+1), i+n-1] — an interval merge
    // that counts every covered word exactly once.
    def dupFrac(n: Int): Column = {
      val gs = col(s"_g$n")
      val starts = filter(sequence(lit(0), size(gs) - 1),
        i => array_contains(col(s"_d$n"), element_at(gs, i + 1)))
      val covered = aggregate(
        starts,
        struct(lit(-1).as("end"), lit(0L).as("sum")),
        (st, i) => {
          val from = greatest(i, st.getField("end") + 1)
          val add = aggregate(slice(col("_ws"), from + 1, i + lit(n) - from),
            lit(0L), (a, w) => a + length(w).cast("long"))
          struct((i + lit(n - 1)).as("end"), (st.getField("sum") + add).as("sum"))
        },
        st => st.getField("sum"))
      when(size(gs) === 0, 0.0).otherwise(covered.cast("double") / totD)
    }

    val tops = nsTop.map(n => n -> topFrac(n))
    val dups = nsDup.map(n => n -> dupFrac(n))
    val fracCols =
      tops.map { case (n, f) => f.as(s"top${n}_gram_frac") } ++
        dups.map { case (n, f) => f.as(s"dup${n}_gram_frac") }
    val keep =
      (tops.map { case (n, f) => f <= TopNGramMax(n) } ++
        dups.map { case (n, f) => f <= DupNGramMax(n) }).reduce(_ && _)
    cur.select(col(docId) +: (fracCols :+ keep.as("keep")): _*)
  }

  // ---- C4 line/page cleaning (Raffel et al. 2020 §2.2) -------------------

  /** C4's per-line retention rule: a line survives iff it ends in a
    * terminal punctuation mark (period / exclamation / question / closing
    * quote), carries at least 3 words, and does not mention "javascript"
    * (the browser-requirement boilerplate rule). */
  def c4LineKeep(l: Column): Column =
    rtrim(l).rlike("[.!?\"]$") &&
      size(filter(split(l, "\\s+"), w => w =!= "")) >= 3 &&
      !contains(lower(l), lit("javascript"))

  /** C4's page gate over a newline-joined page: drop pages mentioning
    * "lorem ipsum" or containing a curly brace (code), and keep only pages
    * whose retained lines carry at least 5 sentences (terminal marks).
    * Returns counters + the cleaned page (retained lines re-joined) — all
    * pure column expressions, whole-stage codegen, no shuffle. */
  def c4Clean(page: Column): Column = {
    val p = coalesce(page, lit(""))
    val ls = split(p, "\n")
    val kept = filter(ls, c4LineKeep(_))
    val sentences = aggregate(kept, lit(0L),
      (acc, l) => acc + regexp_count(l, lit("[.!?]")).cast("long"))
    val keepPage = !contains(lower(p), lit("lorem ipsum")) &&
      !contains(p, lit("{")) && sentences >= 5L
    struct(
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      sentences.as("n_sentences"),
      keepPage.as("keep_page"),
      concat_ws("\n", kept).as("cleaned"))
  }

  // ---- PII redaction ------------------------------------------------------

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** Replace emails / IPv4s / phone-shaped digit runs with typed tags.
    * Order matters: emails first (an email's host part must not be eaten
    * by the IP rule), then IPs, then phones. */
  def redactPii(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val noEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** (emails, ips, phones) hit counts, evaluated with the same ordering
    * semantics as [[redactPii]]. */
  def piiCounts(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val noEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    struct(
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(noIp, lit(PhoneRe)).cast("long").as("n_phones"))
  }
}
