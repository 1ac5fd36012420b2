package graft.model

import java.sql.Timestamp
import scala.util.Random

/** Deterministic (seeded) synthetic transcript generator — the test/bench
  * input per FIXTURES.md §1. All text patterns are grok targets of the parse
  * stage; ~2% of rows are malformed to exercise the dead-letter path
  * (reference analog: DocProcessor test fixture, 2 valid / 2 invalid,
  * quickwit-indexing/src/actors/doc_processor.rs:576-640).
  *
  * No external data: everything derives from the seed.
  */
object TranscriptGen {

  val ToolVocab: Vector[String] = Vector(
    "search", "browse", "bash", "python", "sql", "read_file",
    "write_file", "calculator", "translate", "summarize", "embed", "ocr")

  val Roles: Vector[String] = Vector("user", "assistant", "system", "tool")

  val Severities: Vector[String] = Vector("INFO", "WARN", "ERROR")

  private val words = Vector(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "query", "plan", "shuffle", "join", "filter", "agg",
    "token", "split", "index", "merge", "route", "batch", "stream")

  /** Generate `numConvs` conversations; turns per conversation are
    * `avgTurns ± avgTurns/2`. If `skewed`, conversation 0 gets ~30% of all
    * rows (the hot-conv scenario the salted repartition must defuse).
    */
  def turns(numConvs: Int, avgTurns: Int, seed: Long = 42L,
            skewed: Boolean = false): Vector[Turn] = {
    val rng = new Random(seed)
    val baseMs = 1704067200000L // 2024-01-01T00:00:00Z
    val out = Vector.newBuilder[Turn]
    var convSizes = (0 until numConvs).map { _ =>
      math.max(1, avgTurns / 2 + rng.nextInt(math.max(1, avgTurns)))
    }.toVector
    if (skewed && numConvs > 1) {
      val total = convSizes.sum
      convSizes = convSizes.updated(0, math.max(convSizes(0), (total * 0.3).toInt))
    }
    var c = 0
    while (c < numConvs) {
      val convId = f"conv$c%06d"
      val n = convSizes(c)
      var t0 = baseMs + rng.nextInt(86400000)
      var i = 0
      while (i < n) {
        val role = Roles(rng.nextInt(Roles.length))
        val sev = Severities(rng.nextInt(Severities.length))
        val tool =
          if (role == "tool" || rng.nextInt(4) == 0) ToolVocab(rng.nextInt(ToolVocab.length))
          else null
        val malformed = rng.nextInt(50) == 0 // ~2%
        val text =
          if (malformed) {
            if (rng.nextBoolean()) null else "CALL truncated(" // no closing
          } else {
            val body = Vector.fill(3 + rng.nextInt(8))(words(rng.nextInt(words.length))).mkString(" ")
            val parts = new StringBuilder
            parts ++= s"$sev $body"
            if (tool != null) {
              val status = if (rng.nextInt(5) == 0) "ERR" else "OK"
              parts ++= s" CALL $tool(arg=${rng.nextInt(100)}) -> $status"
              if (status == "ERR")
                parts ++= s" ERROR[${100 + rng.nextInt(900)}]: ${words(rng.nextInt(words.length))} failed"
            }
            parts.result()
          }
        out += Turn(convId, i, role, text, tool, new Timestamp(t0))
        t0 += 1000 + rng.nextInt(60000)
        i += 1
      }
      c += 1
    }
    out.result()
  }

  /** Distributed generator: same statistical shape as `turns`, but built
    * entirely from `spark.range` + codegen'd column expressions — no driver
    * loop, so it generates at any scale (the 10^12-turn table is this with a
    * bigger range). All content derives from xxhash64(conv, turn, salt):
    * deterministic across runs and parallelism levels.
    *
    * `hotFraction` > 0 adds one extra conversation (id = numConvs) carrying
    * that fraction of the total rows — the hot-conv skew scenario. Its rows
    * come from a dedicated flat range (never a single giant exploded array,
    * which would pin the hot conv to one task at generation time too).
    */
  def distributedTurns(spark: org.apache.spark.sql.SparkSession, numConvs: Long,
                       avgTurns: Int, hotFraction: Double = 0.0)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val baseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
    def h(salt: Int): Column = xxhash64(col("cid"), col("turn_idx"), lit(salt))
    def hmod(salt: Int, m: Int): Column = pmod(h(salt), lit(m.toLong))

    val normal = spark.range(numConvs)
      .select(col("id").as("cid"),
        (lit(math.max(1, avgTurns / 2)) +
          pmod(xxhash64(col("id")), lit(math.max(1, avgTurns).toLong))).cast("int").as("n"))
      .select(col("cid"), explode(sequence(lit(0), col("n") - 1)).as("turn_idx"))
    val hotRows = (numConvs * avgTurns * hotFraction).toLong
    val base =
      if (hotRows <= 0) normal
      else normal.unionByName(
        spark.range(hotRows).select(lit(numConvs).as("cid"), col("id").cast("int").as("turn_idx")))

    val rolesArr = array(Roles.map(lit): _*)
    val toolsArr = array(ToolVocab.map(lit): _*)
    val sevArr = array(Severities.map(lit): _*)
    val wordsArr = array(words.map(lit): _*)

    val role = element_at(rolesArr, (hmod(1, Roles.length) + 1).cast("int"))
    val hasTool = role === "tool" || hmod(2, 4) === 0
    val tool = when(hasTool, element_at(toolsArr, (hmod(3, ToolVocab.length) + 1).cast("int")))
    val sev = element_at(sevArr, (hmod(4, Severities.length) + 1).cast("int"))
    val body = array_join(
      transform(sequence(lit(0), (lit(2) + hmod(5, 8)).cast("int")),
        i => element_at(wordsArr, (pmod(xxhash64(col("cid"), col("turn_idx"), i), lit(words.length.toLong)) + 1).cast("int"))),
      " ")
    val isErr = hmod(6, 5) === 0
    val callPart = when(tool.isNotNull,
      concat(lit(" CALL "), tool, lit("(arg="), hmod(7, 100).cast("string"), lit(") -> "),
        when(isErr, "ERR").otherwise("OK"),
        when(isErr, concat(lit(" ERROR["), (lit(100) + hmod(8, 900)).cast("string"), lit("]: "),
          element_at(wordsArr, (hmod(9, words.length) + 1).cast("int")), lit(" failed")))
          .otherwise(lit("")))).otherwise(lit(""))
    val malformed = hmod(10, 50) === 0 // ~2% dead-letter rows
    val text = when(malformed,
        when(hmod(11, 2) === 0, lit(null).cast("string")).otherwise(lit("CALL truncated(")))
      .otherwise(concat(sev, lit(" "), body, callPart))
    val ts = timestamp_micros(
      lit(baseMicros) + pmod(xxhash64(col("cid")), lit(86400L)) * 1000000L +
        col("turn_idx").cast("long") * 30000000L)

    base.select(
      format_string("conv%06d", col("cid")).as("conv_id"),
      col("turn_idx"),
      role.as("role"),
      text.as("text"),
      tool.as("tool"),
      ts.cast("timestamp").as("ts"))
  }

  /** tools dimension (left-join enrichment; FIXTURES.md §2). */
  def toolsDim: Seq[(String, String, String, Boolean)] =
    ToolVocab.map { t =>
      val category = t match {
        case "search" | "browse"                       => "web"
        case "bash" | "python" | "sql"                 => "exec"
        case "read_file" | "write_file"                => "fs"
        case _                                         => "ml"
      }
      (t, s"sink_$category", category, category == "exec" || category == "web")
    }

  /** roles dimension. */
  def rolesDim: Seq[(String, String, Double)] = Seq(
    ("user", "human", 1.0),
    ("assistant", "model", 0.5),
    ("system", "control", 0.1),
    ("tool", "machine", 0.25))
}
