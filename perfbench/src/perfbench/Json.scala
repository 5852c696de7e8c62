package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Just enough JSON output for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: String*): String = xs.mkString("[", ", ", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def write(f: File, json: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, (json + "\n").getBytes(UTF_8))
  }
}
