package graft.util

/** Minimal recursive-descent JSON parser (dependency-free; used only for the
  * manifest round-trip on the driver — never in an executor hot path).
  * Numbers parse as Double; objects as insertion-ordered Map[String, Any]
  * (VectorMap); arrays as Seq[Any].
  */
object Json {

  def parse(s: String): Any = {
    val p = new P(s)
    val v = p.value()
    p.ws()
    require(p.eof, s"trailing JSON at ${p.pos}")
    v
  }

  /** Inverse of [[parse]]: render a parsed value back to JSON text (whole
    * doubles print integrally, matching how they parsed). NaN/Infinity have
    * no JSON representation and render as `null` (the lossy-but-valid
    * choice most lenient serializers make; a bare `NaN` token would make
    * the output unparseable). */
  def render(v: Any): String = v match {
    case null       => "null"
    case b: Boolean => b.toString
    case d: Double  =>
      if (!java.lang.Double.isFinite(d)) "null"
      else if (d.isWhole && math.abs(d) < 9.007199254740992e15) d.toLong.toString else d.toString
    case f: Float   =>
      if (!java.lang.Float.isFinite(f)) "null"
      else if (f.isWhole && math.abs(f) < 1e15f) f.toLong.toString else f.toString
    case n: Number  => n.toString
    case s: String  => quote(s)
    case m: Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other      => render(other.toString)
  }

  /** `s` as a quoted JSON string literal: quote and backslash escaped,
    * newline/CR/tab as `\n`/`\r`/`\t`, every other control character
    * (< 0x20) as a 4-hex-digit unicode escape — a raw one would make the
    * output unparseable. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }
    def value(): Any = {
      ws()
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => pos += 4; true
        case 'f' => pos += 5; false
        case 'n' => pos += 4; null
        case _   => num()
      }
    }
    private def obj(): Map[String, Any] = {
      // VectorMap: preserves key INSERTION order at any size (a plain Map
      // switches to hash order past 4 entries, which scrambled multi-field
      // sort objects — review r3 s5 finding #9); == stays Map-compatible.
      expect('{'); ws()
      val b = scala.collection.immutable.VectorMap.newBuilder[String, Any]
      if (s.charAt(pos) == '}') { pos += 1; return b.result() }
      while (true) {
        ws()
        val k = str()
        ws(); expect(':')
        b += k -> value()
        ws()
        if (s.charAt(pos) == ',') pos += 1
        else { expect('}'); return b.result() }
      }
      b.result()
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      val b = Seq.newBuilder[Any]
      if (s.charAt(pos) == ']') { pos += 1; return b.result() }
      while (true) {
        b += value()
        ws()
        if (s.charAt(pos) == ',') pos += 1
        else { expect(']'); return b.result() }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"'  => sb += '"'
            case '\\' => sb += '\\'
            case '/'  => sb += '/'
            case 'n'  => sb += '\n'
            case 't'  => sb += '\t'
            case 'r'  => sb += '\r'
            case 'b'  => sb += '\b'
            case 'f'  => sb += '\f'
            case 'u'  =>
              sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case o => throw new IllegalArgumentException(s"bad escape \\$o")
          }
        } else sb += c
        pos += 1
      }
      pos += 1
      sb.result()
    }
    private def num(): Double = {
      val start = pos
      while (!eof && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      s.substring(start, pos).toDouble
    }
  }
}
