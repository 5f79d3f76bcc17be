package graftbench

/** Minimal JSON writer for the benchmark's raw records (numbers, strings,
  * booleans, sequences and objects; nothing else is ever emitted). */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields)
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + write(x) }.mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
