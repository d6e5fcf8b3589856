package perfbench

/** Output checks, independent of the engine: every expectation is
  * computed in plain Scala (see [[PayloadGen]]) and compared here, outside
  * the timed region. */
object Checks {

  /** Mismatches between `expected` and `actual`, one message per key
    * that is missing, unexpected, landed more than once, or differs. */
  def compare[K](what: String, expected: Map[K, Seq[Any]],
      actual: Seq[(K, Seq[Any])]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[K, Int]
    val out = Seq.newBuilder[String]
    actual.foreach { case (k, v) =>
      val n = seen.getOrElse(k, 0) + 1
      seen(k) = n
      if (n == 2) out += s"$what $k: present more than once"
      else if (n == 1) expected.get(k) match {
        case None => out += s"$what $k: not expected"
        case Some(e) if e != v =>
          out += s"$what $k: expected ${e.mkString("[", ",", "]")} got ${v.mkString("[", ",", "]")}"
        case _ =>
      }
    }
    expected.keysIterator.filterNot(seen.contains).foreach(k => out += s"$what $k: missing")
    out.result()
  }

  /** [[compare]] against an expectation that includes the known defect
    * `defect`. If `actual` instead equals the expectation without the
    * defect, the one mismatch reported is that the defect is gone, so the
    * benchmark is updated together with the fix. */
  def compareWithKnownDefect[K](what: String, defect: String, withDefect: Map[K, Seq[Any]],
      withoutDefect: Map[K, Seq[Any]], actual: Seq[(K, Seq[Any])]): Seq[String] = {
    val errors = compare(what, withDefect, actual)
    if (errors.nonEmpty && compare(what, withoutDefect, actual).isEmpty)
      Seq(s"known defect $defect no longer shows in the ${what}s: drop it from the check")
    else errors
  }

  /** Spark cell → the plain value [[PayloadGen]] uses (timestamps as
    * epoch seconds). */
  def plain(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime / 1000
    case other => other
  }
}
