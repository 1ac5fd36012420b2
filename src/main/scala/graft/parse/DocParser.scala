package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The doc-mapper / DocProcessor analog: grok-style regex extraction over
  * `text`, schema-mode handling, and valid/dead-letter accounting.
  *
  * Reference semantics being mirrored:
  *  - JSON-parse + typed mapping-tree projection
  *    (quickwit-doc-mapper/src/doc_mapper.rs:57-78,
  *     default_doc_mapper/mapping_tree.rs:404-436) → here regex extraction
  *    of tool-call / error / severity patterns from turn text.
  *  - lenient | dynamic unmapped-field modes
  *    (default_mapper_builder.rs:87-95); strict mode, which rejects an
  *    unmapped field, is [[MappingTree]]'s.
  *  - per-doc valid / parse-error counters + byte totals
  *    (actors/doc_processor.rs:239-337).
  */
object DocParser {

  /** grok patterns (FIXTURES.md §1). */
  val ToolCallRe = "CALL ([A-Za-z_][A-Za-z0-9_]*)\\(([^)]*)\\) -> (OK|ERR)"
  val ErrorRe    = "ERROR\\[([0-9]{3})\\]: (.*)"
  val SeverityRe = "^(INFO|WARN|ERROR)\\b"

  /** `Lenient` keeps only the parsed columns; `Dynamic` adds the
    * `_dynamic` catch-all map. */
  sealed trait Mode
  case object Lenient extends Mode
  case object Dynamic extends Mode

  /** Extraction columns appended to the input. Pure projection — stays inside
    * whole-stage codegen; no shuffle. Each grok pattern's matcher runs ONCE
    * per row via [[graft.functions.RegexpGroups]]: every group read shares
    * the identical groups-array expression, which codegen subexpression
    * elimination computes once (per-group `regexp_extract` calls differ in
    * the group index, so CSE could NOT merge them and the matcher re-scanned
    * each row once per group). A measured attempt to instead fuse patterns
    * into a single `regexp_replace`-rewrite was slower on the 10M-turn
    * scaling input (the anchored-alternation rewrite allocates a rewritten
    * copy of every row and backtracks through `.*?`) — single-pass *extract*
    * is the right fusion, not rewrite. */
  def withParsedColumns(df: DataFrame): DataFrame = {
    import graft.functions.RegexpGroups.groups
    val t = col("text")
    // gate each matcher on a zero-allocation substring test for a literal
    // the pattern REQUIRES ("CALL " / "ERROR["): rows without it cannot
    // match, so the gate is semantics-preserving (false → NULL = miss) and
    // most rows skip both the matcher and its row.toString() allocation
    val tc = when(t.contains("CALL "), groups(t, ToolCallRe))  // [tool, args, status]
    val er = when(t.contains("ERROR["), groups(t, ErrorRe))    // [code, msg]
    val sev = groups(t, SeverityRe)                            // [level] or NULL on miss
    df.withColumn("called_tool", nullIfEmpty(tc.getItem(0)))
      .withColumn("call_status", nullIfEmpty(tc.getItem(2)))
      .withColumn("error_code",
        when(er.getItem(0) =!= "", er.getItem(0).cast("int")).otherwise(lit(-1)))
      .withColumn("error_msg", nullIfEmpty(er.getItem(1)))
      .withColumn("severity",
        coalesce(nullIfEmpty(sev.getItem(0)), lit("INFO")))
  }

  private def nullIfEmpty(c: Column): Column = when(c =!= "", c)

  /** Result of the parse stage: valid rows (parsed) and dead-letter rows
    * (with an error label), the two DocProcessor outputs. */
  final case class ParseResult(valid: DataFrame, deadLetter: DataFrame)

  /** DocProcessor counters (doc_processor.rs:239-337). */
  final case class Counters(numValidDocs: Long, numDocParsingErrors: Long, numBytesTotal: Long)

  /** Parse with an attached [[org.apache.spark.sql.Observation]]: after ANY
    * action on the returned `valid` frame, `counters(obs)` yields the exact
    * per-batch totals without a second pass — the `observe()` analog of the
    * reference's per-doc counter accumulation. */
  def parseObserved(input: DataFrame, mode: Mode = Lenient)
      : (ParseResult, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (parse(input, mode, Some(obs)), obs)
  }

  /** Block until the observation's action completes and unpack counters. */
  def counters(obs: org.apache.spark.sql.Observation): Counters = {
    val m = obs.get
    Counters(m("num_valid_docs").asInstanceOf[Long],
      m("num_doc_parsing_errors").asInstanceOf[Long],
      m("num_bytes_total").asInstanceOf[Long])
  }

  /** Full parse stage. With an `observation`, the input rows carry the
    * doc_processor.rs counters num_valid_docs, num_doc_parsing_errors and
    * num_bytes_total (read them with [[counters]]; see [[parseObserved]]).
    * Without one the plan observes nothing, so any number of parsed frames
    * can meet in one plan. */
  def parse(input: DataFrame, mode: Mode = Lenient,
            observation: Option[org.apache.spark.sql.Observation] = None): ParseResult = {
    // A row is valid iff text is non-null and, when it contains a CALL
    // pattern opener, the pattern is complete (the generator's malformed
    // rows are null text or a truncated `CALL x(` with no close). Validity
    // reads the already-extracted called_tool, so codegen CSE executes each
    // grok pattern exactly once per row.
    val parsedAll = withParsedColumns(input)
    val flagged = parsedAll.withColumn("_valid",
      col("text").isNotNull &&
        (!col("text").contains("CALL ") || col("called_tool").isNotNull))
    val observed = observation.fold(flagged)(flagged.observe(_,
      sum(when(col("_valid"), 1L).otherwise(0L)).as("num_valid_docs"),
      sum(when(!col("_valid"), 1L).otherwise(0L)).as("num_doc_parsing_errors"),
      sum(coalesce(octet_length(col("text")).cast("long"), lit(0L))).as("num_bytes_total")))
    val parsedCols = Seq("called_tool", "call_status", "error_code", "error_msg", "severity")
    val valid = observed.filter(col("_valid")).drop("_valid")
    val dead = flagged.filter(!col("_valid")).drop("_valid").drop(parsedCols: _*)
      .withColumn("error_label",
        when(col("text").isNull, lit("null_text")).otherwise(lit("truncated_pattern")))
    mode match {
      case Lenient => ParseResult(valid, dead)
      case Dynamic =>
        // leftover (unmapped) content funnels into a catch-all map column,
        // the `_dynamic` field analog (default_mapper.rs:151-155)
        val dyn = valid.withColumn("_dynamic",
          map(lit("raw_len"), octet_length(col("text")).cast("string")))
        ParseResult(dyn, dead)
    }
  }
}
