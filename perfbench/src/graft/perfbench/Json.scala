package graft.perfbench

/** Minimal JSON rendering for the artifact and the result line. Values are
  * Scala maps, sequences, strings, numbers, booleans and `None`/null.
  */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }

  /** Write `text` to `path` atomically: a sibling temp file, then a rename. */
  def writeAtomic(path: java.nio.file.Path, text: String): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
