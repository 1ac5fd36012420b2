package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded transcript generator with the FIXTURES §1 row shape
  * (conv_id, turn_idx, role, text, tool, ts). Every value derives from
  * xxhash64(seed, conversation, turn, salt), so a seed gives the same rows at
  * any parallelism. The program only ever sees the generated frame. */
object Gen {

  val Tools: Vector[String] = Vector(
    "search", "browse", "bash", "python", "sql", "read_file",
    "write_file", "calculator", "translate", "summarize", "embed", "ocr")

  /** Tool → sink per FIXTURES §2 (sink_<category>); kept here so the output
    * checks do not read the program's dimension tables. */
  val SinkOf: Map[String, String] = Tools.map { t =>
    t -> (t match {
      case "search" | "browse"        => "sink_web"
      case "bash" | "python" | "sql"  => "sink_exec"
      case "read_file" | "write_file" => "sink_fs"
      case _                          => "sink_ml"
    })
  }.toMap

  val Roles: Vector[String] = Vector("user", "assistant", "system", "tool")
  val Severities: Vector[String] = Vector("INFO", "WARN", "ERROR")

  /** Lower-case alphabetic words only, so a word is one token. */
  val Words: Vector[String] = Vector(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "query", "plan", "shuffle", "join", "filter", "agg", "token",
    "split", "index", "merge", "route", "batch", "stream", "cache", "prune",
    "leaf", "root", "segment", "posting", "doc", "field", "schema", "tag",
    "range", "window", "sketch", "metric", "trace", "span", "log", "event",
    "error", "retry", "queue", "commit", "publish", "source", "sink", "parse")

  val AvgTurns = 20
  val TurnStepS = 30L

  /** Generated rows.
    * @param rows       approximate row count
    * @param hotShare   share of rows in one extra hot conversation
    * @param malformed  share of rows with null or truncated text
    * @param baseMicros earliest conversation start
    * @param spanS      conversation starts spread over this many seconds; the
    *                   hot conversation starts at `baseMicros` and spans it
    * @param convPrefix conv_id prefix, to keep ids distinct across frames */
  def turns(spark: SparkSession, seed: Long, rows: Long, hotShare: Double,
            malformed: Double, baseMicros: Long, spanS: Long,
            convPrefix: String = "c"): DataFrame = {
    val hotRows = (rows * hotShare).toLong
    val numConvs = math.max(1L, (rows - hotRows) / AvgTurns)
    def h(salt: Int): Column = xxhash64(lit(seed), col("cid"), col("turn_idx"), lit(salt))
    def hmod(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def pick(v: Vector[String], salt: Int): Column =
      element_at(array(v.map(lit): _*), (hmod(salt, v.length) + 1).cast("int"))

    val normal = spark.range(numConvs)
      .select(col("id").as("cid"),
        (lit(AvgTurns / 2) + pmod(xxhash64(lit(seed), col("id")), lit(AvgTurns.toLong)))
          .cast("int").as("n"))
      .select(col("cid"), explode(sequence(lit(0), col("n") - 1)).as("turn_idx"),
        lit(TurnStepS).as("step"), lit(math.max(1L, spanS)).as("start_span"))
    val hot = spark.range(hotRows)
      .select(lit(numConvs).as("cid"), col("id").cast("int").as("turn_idx"),
        lit(math.max(1L, spanS / math.max(1L, hotRows))).as("step"), lit(1L).as("start_span"))
    val base = if (hotRows > 0) normal.unionByName(hot) else normal

    val role = pick(Roles, 1)
    val tool = when(role === "tool" || hmod(2, 4) === 0, pick(Tools, 3))
    val body = array_join(
      transform(sequence(lit(0), (lit(2) + hmod(5, 8)).cast("int")),
        i => element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), col("cid"), col("turn_idx"), i, lit(55)),
            lit(Words.length.toLong)) + 1).cast("int"))),
      " ")
    val isErr = hmod(6, 5) === 0
    val callPart = when(tool.isNotNull,
      concat(lit(" CALL "), tool, lit("(arg="), hmod(7, 100).cast("string"), lit(") -> "),
        when(isErr, lit("ERR")).otherwise(lit("OK")),
        when(isErr, concat(lit(" ERROR["), (lit(100) + hmod(8, 900)).cast("string"),
          lit("]: "), pick(Words, 9), lit(" failed"))).otherwise(lit(""))))
      .otherwise(lit(""))
    val bad = hmod(10, 1000000) < lit((malformed * 1000000).toLong)
    val text = when(bad, when(hmod(11, 2) === 0, lit(null).cast("string"))
        .otherwise(lit("CALL truncated(")))
      .otherwise(concat(pick(Severities, 4), lit(" "), body, callPart))
    val startUs = lit(baseMicros) +
      pmod(xxhash64(lit(seed), col("cid"), lit(12)), col("start_span")) * 1000000L
    val stepUs = col("step") * 1000000L
    val ts = timestamp_micros(startUs + col("turn_idx").cast("long") * stepUs +
      pmod(h(13), stepUs))

    base.select(
      concat(lit(convPrefix), format_string("%07d", col("cid"))).as("conv_id"),
      col("turn_idx"), role.as("role"), text.as("text"), tool.as("tool"),
      ts.as("ts"))
  }
}
