package graft.parse

import graft.SparkTestBase
import graft.model.Turn
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** DocProcessor-analog tests mirroring the reference fixture shape —
  * 4 raw docs → 2 valid / 2 parse errors + exact byte totals
  * (quickwit-indexing/src/actors/doc_processor.rs:576-640). */
class DocParserSpec extends SparkTestBase {

  private val ts = new Timestamp(1704067200000L)
  private val t1 = "INFO the quick brown fox"
  private val t2 = "WARN query plan CALL bash(arg=7) -> ERR ERROR[503]: shuffle failed"

  private def fixture = {
    import spark.implicits._
    Seq(
      Turn("c0", 0, "user", t1, null, ts),
      Turn("c0", 1, "tool", t2, "bash", ts),
      Turn("c1", 0, "user", null, null, ts),          // parse error: null text
      Turn("c1", 1, "tool", "CALL truncated(", "sql", ts) // parse error: truncated pattern
    ).toDS().toDF()
  }

  test("doc counters: 2 valid, 2 parse errors, exact byte total") {
    val r = DocParser.parse(fixture)
    assert(r.valid.count() === 2L)
    assert(r.deadLetter.count() === 2L)
    // num_bytes_total counts bytes of everything that carried text,
    // valid or not (the reference counts all doc bytes)
    val bytes = fixture.agg(
      sum(coalesce(octet_length(col("text")).cast("long"), lit(0L)))).collect()(0).getLong(0)
    assert(bytes === (t1.length + t2.length + "CALL truncated(".length).toLong)
  }

  test("observed counters match the fixture exactly (2 valid / 2 errors / bytes)") {
    val (r, obs) = DocParser.parseObserved(fixture)
    r.valid.count() // any action on `valid` completes the observation
    val c = DocParser.counters(obs)
    assert(c.numValidDocs === 2L)
    assert(c.numDocParsingErrors === 2L)
    assert(c.numBytesTotal === (t1.length + t2.length + "CALL truncated(".length).toLong)
  }

  test("two parsed batches combine in one plan: no observation unless one is passed") {
    // an unnamed parse must not attach a named metric: two of them in one
    // plan would fail analysis with DUPLICATED_METRICS_NAME
    val both = DocParser.parse(fixture).valid.union(DocParser.parse(fixture).valid)
    assert(both.count() === 4L)
  }

  test("dead letter rows are labeled by failure kind") {
    val labels = DocParser.parse(fixture).deadLetter
      .select("conv_id", "turn_idx", "error_label").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(labels === Map(("c1", 0) -> "null_text", ("c1", 1) -> "truncated_pattern"))
  }

  test("grok extraction: tool call, status, error code/msg, severity") {
    val parsed = DocParser.parse(fixture).valid
      .orderBy("conv_id", "turn_idx")
      .select("called_tool", "call_status", "error_code", "error_msg", "severity")
      .collect()
    // t1: no call pattern, defaults
    assert(parsed(0).isNullAt(0) && parsed(0).isNullAt(1))
    assert(parsed(0).getInt(2) === -1 && parsed(0).isNullAt(3))
    assert(parsed(0).getString(4) === "INFO")
    // t2: full extraction
    assert(parsed(1).getString(0) === "bash")
    assert(parsed(1).getString(1) === "ERR")
    assert(parsed(1).getInt(2) === 503)
    assert(parsed(1).getString(3) === "shuffle failed")
    assert(parsed(1).getString(4) === "WARN")
  }

  test("severity defaults to INFO when no prefix matches") {
    import spark.implicits._
    val df = Seq(Turn("c", 0, "user", "no severity here", null, ts)).toDS().toDF()
    assert(DocParser.withParsedColumns(df).select("severity").collect()(0).getString(0) === "INFO")
  }

  test("dynamic mode funnels leftovers into a _dynamic map column") {
    val r = DocParser.parse(fixture, DocParser.Dynamic)
    val dyn = r.valid.select(col("_dynamic")("raw_len")).collect().map(_.getString(0))
    assert(dyn.toSet === Set(t1.length.toString, t2.length.toString))
  }

  test("generator's malformed fraction lands in the dead letter sink") {
    import spark.implicits._
    val turns = graft.model.TranscriptGen.turns(numConvs = 100, avgTurns = 10)
    val df = turns.toDS().toDF()
    val r = DocParser.parse(df)
    val expectInvalid = turns.count(t =>
      t.text == null || (t.text.contains("CALL ") && !DocParserSpecOracle.toolCallRe.pattern.matcher(t.text).find()))
    assert(r.deadLetter.count() === expectInvalid.toLong)
    assert(r.valid.count() === (turns.size - expectInvalid).toLong)
    assert(expectInvalid > 0, "fixture should include malformed rows")
  }
}

object DocParserSpecOracle {
  val toolCallRe = "CALL ([A-Za-z_][A-Za-z0-9_]*)\\(([^)]*)\\) -> (OK|ERR)".r
}
