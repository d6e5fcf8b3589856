package perfbench

import org.apache.spark.sql.types._

import graft.schema.{FieldCatalog, SensorField}

/** Workload parameters of the seeded PurpleAir payload generator.
  *
  * @param sensors            sensors listed in every poll
  * @param singleChannelShare share of sensors with single-channel hardware,
  *                           whose `_b` measures arrive as JSON null
  * @param duplicateShare     share of rows a poll serves twice (identical
  *                           copies the sink's PK dedup must drop)
  * @param stepSeconds        event-time advance between polls
  * @param startEpoch         event time of poll 0 (epoch seconds)
  * @param fastPolls          the first this many polls are instead
  *                           `fastStepSeconds` apart (poll `fastPolls`
  *                           is `stepSeconds` after poll `fastPolls - 1`),
  *                           so a warm-up closes windows and rolls dates
  * @param fastStepSeconds    event-time advance between the fast polls
  */
final case class PayloadParams(
    sensors: Int,
    singleChannelShare: Double,
    duplicateShare: Double,
    stepSeconds: Long,
    startEpoch: Long,
    fastPolls: Int = 0,
    fastStepSeconds: Long = 0L)

/** Seeded multi-sensor payload generator (FIXTURES.md §2), driven by
  * [[FieldCatalog]]: every value is a splitmix64 function of
  * (seed, poll, sensor, field), so the same seed gives byte-identical
  * payloads. It also computes, in plain Scala, what the engine must land:
  * the distinct conformed readings and the hourly `n`/`sum`/`max` rollup.
  *
  * Typed values follow [[FieldCatalog.conformedSchema]]: DOUBLE → Double,
  * INT → Int, LONG → Long, STRING → String, TIMESTAMP → epoch seconds
  * (Long), missing → null.
  */
final class PayloadGen(seed: Long, val params: PayloadParams) {
  import PayloadGen._

  private val fields: IndexedSeq[SensorField] = FieldCatalog.fields.toIndexedSeq
  /** The `fields` list every payload carries: the key plus all 115
    * catalog fields under their wire names. */
  val wireFields: IndexedSeq[String] = "sensor_index" +: fields.map(_.apiName)
  private val pm25 = fields.indexWhere(_.apiName == "pm2.5")
  private val nullOnSingle: IndexedSeq[Boolean] = fields.map(f =>
    f.apiName.endsWith("_b") && f.group != FieldCatalog.Groups.Thingspeak)

  def sensorIndex(i: Int): Int = 100000 + i * 37 + pick(seed ^ 0x5eed, 37)
  def sensorName(i: Int): String = s"PA ${Words(pick(seed * 31 + i, Words.length))} ${sensorIndex(i)}"
  /** `sensor_index` → name, for every sensor the generator lists. */
  lazy val names: Map[Int, String] =
    (0 until params.sensors).map(i => sensorIndex(i) -> sensorName(i)).toMap
  def singleChannel(i: Int): Boolean = unit(seed * 7919 + i) < params.singleChannelShare
  def eventTime(poll: Int): Long = {
    val fast = math.min(poll, math.max(0, params.fastPolls - 1))
    params.startEpoch + fast * params.fastStepSeconds + (poll - fast) * params.stepSeconds
  }
  private def duplicated(poll: Int, i: Int): Boolean =
    unit(seed * 104729 + poll * 1000003L + i * 2L + 1) < params.duplicateShare

  /** Field `fi`'s typed value for sensor `i` at `poll` (null when the
    * hardware variant has no such channel). */
  def value(poll: Int, i: Int, fi: Int): Any =
    if (nullOnSingle(fi) && singleChannel(i)) null
    else {
      val f = fields(fi)
      val h = mix(seed * 0x2545f4914f6cdd1dL + poll * 1000003L + i * 131L + fi) >>> 11
      f.dataType match {
        case DoubleType => BigDecimal(h % 100000, 2).toDouble
        case IntegerType => (h % 1000).toInt
        case LongType => h % 10000000L
        case TimestampType => eventTime(poll) - 86400L * 30 - (h % 86400L)
        case StringType if f.apiName == "name" => sensorName(i)
        case StringType => f.apiName.take(3).toUpperCase + "-" + (mix(seed + i * 17L + fi) >>> 40)
        case other => throw new IllegalArgumentException(other.toString)
      }
    }

  /** One typed reading: `(data_time_stamp, sensor_index)` then the 115
    * catalog fields in catalog order. */
  def reading(poll: Int, i: Int): IndexedSeq[Any] =
    IndexedSeq[Any](eventTime(poll), sensorIndex(i)) ++
      fields.indices.map(value(poll, i, _))

  /** Sensor positions in `poll`'s `data` array, re-served rows last. */
  def rowOrder(poll: Int): IndexedSeq[Int] = {
    val all = 0 until params.sensors
    all ++ all.filter(duplicated(poll, _))
  }

  /** The poll's columnar payload as the API serves it. */
  def payload(poll: Int): String = {
    val sb = new java.lang.StringBuilder(params.sensors * 1600)
    val t = eventTime(poll)
    sb.append("{\"api_version\":\"V1.0.11-0.0.40\",\"time_stamp\":").append(t + 30)
      .append(",\"data_time_stamp\":").append(t)
      .append(",\"max_age\":604800,\"firmware_default_version\":\"7.00\",\"fields\":[")
    wireFields.indices.foreach { j =>
      if (j > 0) sb.append(',')
      sb.append('"').append(wireFields(j)).append('"')
    }
    sb.append("],\"data\":[")
    rowOrder(poll).zipWithIndex.foreach { case (i, r) =>
      if (r > 0) sb.append(',')
      sb.append('[').append(sensorIndex(i))
      fields.indices.foreach { fi =>
        sb.append(',')
        value(poll, i, fi) match {
          case null => sb.append("null")
          case s: String => sb.append('"').append(s).append('"')
          case d: Double => sb.append(BigDecimal(d).setScale(2).toString)
          case v => sb.append(v.toString)
        }
      }
      sb.append(']')
    }
    sb.append("]}").toString
  }

  /** Rows served in `polls` (re-served copies included). */
  def served(polls: Range): Iterator[(Int, Int)] =
    polls.iterator.flatMap(k => rowOrder(k).iterator.map(k -> _))

  /** Distinct readings the 9 tables must hold after `polls`, keyed by
    * `(epoch seconds, sensor_index)`. */
  def expectedReadings(polls: Range): Map[(Long, Int), IndexedSeq[Any]] =
    polls.iterator.flatMap { k =>
      (0 until params.sensors).iterator.map(i => (eventTime(k), sensorIndex(i)) -> reading(k, i))
    }.toMap

  /** The hourly rollup of `pm2.5` over the distinct readings, keyed by
    * `(bucket epoch seconds, sensor_index)`; with `countReserved`, over
    * every served row, re-served copies included. */
  def expectedHourly(polls: Range, countReserved: Boolean = false): Map[(Long, Int), Hourly] =
    (if (countReserved) served(polls)
     else polls.iterator.flatMap(k => (0 until params.sensors).iterator.map(k -> _))).toSeq
      .groupBy { case (k, i) => (eventTime(k) / 3600 * 3600, sensorIndex(i)) }
      .map { case (key, rows) =>
        val vs = rows.map { case (k, i) => value(k, i, pm25).asInstanceOf[Double] }
        key -> Hourly(rows.size.toLong, vs.map(BigDecimal(_)).sum.toDouble, vs.max)
      }
}

/** Expected hourly bucket: row count, exact sum, max. */
final case class Hourly(n: Long, sum: Double, max: Double)

object PayloadGen {
  /** splitmix64 finalizer, the same mixer as `graft.GenRehearsal`. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def pick(z: Long, n: Int): Int = ((mix(z) >>> 8) % n).toInt
  def unit(z: Long): Double = (mix(z) >>> 11).toDouble / (1L << 53).toDouble

  private val Words = Array("Harbor", "Ridge", "Maple", "Canyon", "Mesa",
    "Bluff", "Garden", "Valley", "Summit", "Creek", "Pines", "Shore")
}
