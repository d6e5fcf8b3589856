package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val gen = new PayloadGen(5L, PayloadParams(sensors = 20,
    singleChannelShare = 0.25, duplicateShare = 0.1, stepSeconds = 3600L, startEpoch = 1704146400L))
  private val expected = gen.expectedReadings(0 until 3).map { case (k, v) => k -> v.toSeq }
  private val landed = expected.toSeq

  test("correct output passes") {
    assert(Checks.compare("reading", expected, landed).isEmpty)
  }

  test("a corrupted value fails the check") {
    val (k, v) = landed.head
    val col = v.indexWhere(_.isInstanceOf[Double])
    val bad = (k, v.updated(col, v(col).asInstanceOf[Double] + 0.01)) +: landed.tail
    assert(Checks.compare("reading", expected, bad).size == 1)
  }

  test("a lost, a duplicated and an unexpected reading each fail") {
    assert(Checks.compare("reading", expected, landed.tail).size == 1)
    assert(Checks.compare("reading", expected, landed :+ landed.head).size == 1)
    val (k, v) = landed.head
    assert(Checks.compare("reading", expected, landed :+ ((k._1 + 1, k._2), v)).size == 1)
  }

  test("a known defect is expected, and its fix fails the check by name") {
    def rows(countReserved: Boolean) = gen.expectedHourly(0 until 3, countReserved)
      .map { case (k, h) => k -> Seq[Any](h.n, h.sum, h.max) }
    val (defect, fixed) = (rows(countReserved = true), rows(countReserved = false))
    assert(defect != fixed)
    def check(emitted: Seq[((Long, Int), Seq[Any])]) =
      Checks.compareWithKnownDefect("hourly bucket", "d", defect, fixed, emitted)
    assert(check(defect.toSeq).isEmpty)
    assert(check(fixed.toSeq) == Seq("known defect d no longer shows in the hourly buckets: drop it from the check"))
    val (k, v) = defect.head
    assert(check((k, v.updated(2, -1.0)) +: defect.tail.toSeq).size == 1)
  }

  test("a wrong hourly bucket fails") {
    val hourly = gen.expectedHourly(0 until 3).map { case (k, h) => k -> Seq[Any](h.n, h.sum, h.max) }
    val emitted = hourly.toSeq
    assert(Checks.compare("hourly", hourly, emitted).isEmpty)
    val (k, v) = emitted.head
    assert(Checks.compare("hourly", hourly, (k, v.updated(0, 99L)) +: emitted.tail).size == 1)
  }
}
