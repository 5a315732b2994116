package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON rendering for the harness outputs, and the pinned
  * digest file (a flat object of query name -> digest string). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Pinned {
  def read(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new ObjectMapper().readValue(new java.io.File(path),
      classOf[java.util.Map[String, String]]).asScala.toMap
  }

  def write(path: String, digests: Map[String, String]): Unit = {
    val body = digests.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
