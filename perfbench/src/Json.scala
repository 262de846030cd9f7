package perfbench

/** Minimal JSON writing and reading for the benchmark's own files. */
object Json {

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number with all its digits (JSON has no NaN/Infinity). */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Flat `{"key": "value", ...}` object of strings (the expected-digest
    * file); anything else is rejected. */
  def readStringMap(text: String): Map[String, String] = {
    val body = text.trim
    require(body.startsWith("{") && body.endsWith("}"), "expected a JSON object")
    val pair = "\\s*\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"\\s*".r
    val inner = body.substring(1, body.length - 1).trim
    if (inner.isEmpty) Map.empty
    else inner.split(",").map {
      case pair(k, v) => k -> v
      case other => throw new IllegalArgumentException(s"bad entry: $other")
    }.toMap
  }
}
