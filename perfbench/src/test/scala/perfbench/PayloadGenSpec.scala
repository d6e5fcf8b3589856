package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class PayloadGenSpec extends AnyFunSuite {
  private val params = PayloadParams(sensors = 40, singleChannelShare = 0.25,
    duplicateShare = 0.1, stepSeconds = 3600L, startEpoch = 1704146400L)

  test("the same seed gives byte-identical payloads, another seed does not") {
    val a = new PayloadGen(7L, params)
    val b = new PayloadGen(7L, params)
    (0 until 5).foreach(k => assert(a.payload(k).getBytes("UTF-8") sameElements b.payload(k).getBytes("UTF-8")))
    assert(new PayloadGen(8L, params).payload(0) != a.payload(0))
  }

  test("a payload is columnar JSON over every catalog field") {
    val gen = new PayloadGen(3L, params)
    val json = new ObjectMapper().readTree(gen.payload(2))
    assert(json.get("data_time_stamp").asLong == gen.eventTime(2))
    assert(json.get("fields").size == 116)
    val rows = json.get("data")
    assert(rows.size == gen.rowOrder(2).size)
    assert(rows.size > params.sensors, "some rows are re-served")
    (0 until rows.size).foreach(r => assert(rows.get(r).size == 116))
  }

  test("single-channel sensors have null channel-B measures but keep thingspeak ids") {
    val gen = new PayloadGen(3L, params)
    val single = (0 until params.sensors).filter(gen.singleChannel)
    assert(single.nonEmpty && single.size < params.sensors)
    val fields = gen.wireFields.tail
    val r = gen.reading(0, single.head).drop(2)
    assert(r(fields.indexOf("pm2.5_b")) == null)
    assert(r(fields.indexOf("primary_id_b")) != null)
  }

  test("the hourly expectation counts distinct readings, or every served row when asked") {
    val gen = new PayloadGen(3L, params)
    val polls = 0 until 4
    assert(gen.expectedReadings(polls).size == 4 * params.sensors)
    val hourly = gen.expectedHourly(polls)
    assert(hourly.size == 4 * params.sensors)
    assert(hourly.values.map(_.n).sum == 4 * params.sensors)
    val withCopies = gen.expectedHourly(polls, countReserved = true)
    assert(withCopies.keySet == hourly.keySet)
    assert(withCopies.values.map(_.n).sum == gen.served(polls).size)
    assert(gen.served(polls).size > 4 * params.sensors)
  }

  test("fast polls come first, then the regular step") {
    val gen = new PayloadGen(3L, params.copy(stepSeconds = 65L, fastPolls = 3, fastStepSeconds = 7200L))
    assert((0 until 6).map(gen.eventTime(_) - params.startEpoch) == Seq(0L, 7200L, 14400L, 14465L, 14530L, 14595L))
  }

  test("workload parameters match the ones spec.json records") {
    val spec = new ObjectMapper().readTree(new java.io.File("spec.json"))
    def check(name: String, p: PayloadParams): Unit = {
      val w = spec.get("workloads").get(name).get("parameters")
      assert(w.get("sensors_per_poll").asInt == p.sensors, name)
      assert(w.get("single_channel_share").asDouble == p.singleChannelShare, name)
      assert(w.get("duplicate_share").asDouble == p.duplicateShare, name)
      assert(w.get("event_time_step_s").asLong == p.stepSeconds, name)
      assert(w.path("fast_polls").asInt(0) == p.fastPolls, name)
      assert(w.path("fast_event_time_step_s").asLong(0L) == p.fastStepSeconds, name)
    }
    check("ingest", Ingest.Params(1L))
    check("dashboard", DashboardLoad.Params(1L))
    val queries = spec.get("workloads").get("analytics").get("parameters").get("queries")
    Analytics.Families.foreach { case (family, qs) =>
      assert((0 until queries.get(family).size).map(queries.get(family).get(_).asText) == qs)
    }
  }
}
