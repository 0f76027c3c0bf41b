package graft.perfbench

/** The few JSON shapes the benchmark writes: maps, sequences, strings
  * and numbers. */
object Json {
  def str(s: String): String = graft.serving.Http.jstr(s)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case p: Product => value(p.productIterator.toSeq)
    case x => str(x.toString)
  }
}
