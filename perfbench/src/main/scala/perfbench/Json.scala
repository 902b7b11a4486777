package perfbench

import java.io.{File, PrintWriter}

/** Minimal JSON writer for the report (maps, sequences, strings, numbers,
  * booleans, options); a non-finite number is written as null. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def writeFile(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.println(write(v)) finally w.close()
  }

  /** Spans and jobs, one JSON object a line. A span's self time is its
    * duration less that of its direct children. */
  def writeSpans(f: File, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    f.getParentFile.mkdirs()
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val w = new PrintWriter(f, "UTF-8")
    try {
      spans.foreach(s => w.println(write(Map("span" -> s.id, "op" -> s.op,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.ms,
        "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0))))))
      jobs.foreach(j => w.println(write(Map("job" -> j.id, "module" -> j.module,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
        "tasks" -> j.tasks, "input_records" -> j.inputRecords,
        "shuffle_write_bytes" -> j.shuffleWrite))))
    } finally w.close()
  }
}
