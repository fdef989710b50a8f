package perfbench

/** Minimal JSON writer for the run record: maps (insertion-ordered when
  * given a `Seq` of pairs or a `ListMap`), sequences, strings, numbers and
  * booleans. Non-finite doubles are written as null. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] => obj(sb, m.toSeq.map { case (k, x) => (k.toString, x) })
    case s: Iterable[_] if s.headOption.exists(_.isInstanceOf[(_, _)]) &&
        s.forall { case (_: String, _) => true; case _ => false } =>
      obj(sb, s.toSeq.map { case (k: String, x) => (k, x); case _ => ("", null) })
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; put(sb, x) }
      sb += ']'
    case a: Array[_] => put(sb, a.toSeq)
    case other => str(sb, other.toString)
  }

  private def obj(sb: StringBuilder, kv: Seq[(String, Any)]): Unit = {
    sb += '{'
    kv.zipWithIndex.foreach { case ((k, x), i) =>
      if (i > 0) sb += ','
      str(sb, k); sb += ':'; put(sb, x)
    }
    sb += '}'
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
