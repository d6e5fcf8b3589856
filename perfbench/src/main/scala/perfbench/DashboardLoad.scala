package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.queries.Dashboard
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink

/** The `dashboard` workload: read-only Grafana refreshes over a
  * multi-day, multi-sensor history that set-up writes through
  * `FanOutSink.writeBatch(batchId = …)`, the `batch=<id>` layout the
  * streaming path leaves when nothing compacts it. One client; each
  * refresh is the 12 queries a viewer waits for: the sensor directory,
  * the combo un-concat, 9 panels and the station text panel, for one
  * seeded sensor over a seeded 1 h, 24 h or 7 d range. */
object DashboardLoad {
  /** History traffic: the single-channel share as in `Ingest.Params`;
    * the sensor count, the re-served share and the 15 min density (the
    * logger writes every 65 s) are assumptions, the density chosen so the
    * history writes within the per-run budget. */
  val Params: Long => PayloadParams = seed => PayloadParams(
    sensors = 16, singleChannelShare = 1.0 / 3, duplicateShare = 0.02,
    stepSeconds = 900L,
    startEpoch = 1704067200L + 86400L * PayloadGen.pick(seed, 300))
  val Days = 8
  /** One `batch=` directory per two days of history. */
  val Batches = 4
  val Polls: Int = Days * 86400 / 900
  val PollsPerBatch: Int = Polls / Batches
  /** (range, panel interval) pairs a refresh draws from. */
  val Ranges: Seq[(Long, Long)] = Seq(3600L -> 300L, 86400L -> 3600L, 7 * 86400L -> 21600L)
  val RawColumns = Seq("name", "model", "hardware", "firmware_version", "rssi",
    "uptime", "pa_latency", "memory")
  /** Every this many refreshes, the results are kept for the check. */
  val CheckEvery = 3

  private val tsColumns: Set[Int] = FieldCatalog.conformedSchema.fields.zipWithIndex
    .collect { case (f, i) if f.dataType == TimestampType => i }.toSet

  /** Write the history: one `writeBatch` per day, re-served rows included. */
  def history(spark: SparkSession, gen: PayloadGen, dir: String): Unit =
    (0 until Batches).foreach { b =>
      val rows = gen.served(b * PollsPerBatch until (b + 1) * PollsPerBatch).map { case (k, i) =>
        Row.fromSeq(gen.reading(k, i).zipWithIndex.map {
          case (v: Long, j) if tsColumns(j) => new java.sql.Timestamp(v * 1000)
          case (v, _) => v
        })
      }.toList
      FanOutSink.writeBatch(spark.createDataFrame(rows.asJava, FieldCatalog.conformedSchema),
        dir, batchId = Some(b.toLong))
    }

  final case class Refresh(sensor: Int, start: Long, end: Long, intervalS: Long) {
    def startIso: String = iso(start)
    def endIso: String = iso(end)
    def interval: String = s"$intervalS seconds"
  }
  private def iso(epoch: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(epoch))

  /** The columns `Dashboard.panel` aggregates for `group`. */
  private def measures(group: String): Seq[String] =
    FieldCatalog.groupCols(group).filter(c => FieldCatalog.byColName(c).dataType match {
      case DoubleType | IntegerType | LongType => true
      case _ => false
    })

  /** Scan counters of one executed query: files, bytes, partitions read,
    * partitions in the table, rows scanned. */
  private object Scans extends AdaptiveSparkPlanHelper {
    def of(df: DataFrame): (Long, Long, Long, Long, Long) = {
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      scans.foldLeft((0L, 0L, 0L, 0L, 0L)) { case ((f, b, p, t, r), s) =>
        val total = s.relation.location match {
          case idx: PartitioningAwareFileIndex => idx.partitionSpec().partitions.size.toLong
          case _ => 0L
        }
        (f + m(s, "numFiles"), b + m(s, "filesSize"), p + m(s, "numPartitions"), t + total,
          r + m(s, "numOutputRows"))
      }
    }
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int): Outcome = {
    val gen = new PayloadGen(seed, Params(seed))
    val t0 = System.nanoTime()
    val dir = work.resolve("dashboard").toString
    history(spark, gen, dir)
    def table(g: String) = FanOutSink.readTable(spark, dir, g)
    val station = FieldCatalog.Groups.Station
    val rng = new scala.util.Random(seed)
    val historyEnd = gen.eventTime(Polls)
    val queryTimes = mutable.ArrayBuffer.empty[Double]
    val refreshTimes = mutable.ArrayBuffer.empty[Double]
    val kept = mutable.ArrayBuffer.empty[(Refresh, String, Seq[Row])]
    val scans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    var failed = 0L
    var attempted = 0L

    /** Run one query to its rows; `None` if it threw. */
    def query(kind: String, df: => DataFrame): Option[Seq[Row]] = {
      attempted += 1
      val t0 = System.nanoTime()
      try Trace.span(s"dashboard.$kind") {
        val d = df
        Trace.span("dashboard.plan")(d.queryExecution.executedPlan)
        val rows = Trace.span("dashboard.exec")(d.collect().toSeq)
        queryTimes += (System.nanoTime() - t0) / 1e9
        if (Trace.enabled) { val s = Scans.of(d); scans += ((s._1, s._2, s._3, s._4, s._5, rows.size.toLong)) }
        Some(rows)
      } catch { case e: Exception =>
        System.err.println(s"[dashboard] $kind failed: $e")
        failed += 1
        None
      }
    }

    /** One Grafana refresh for a seeded sensor and range; `keep` keeps
      * its results for the check. */
    def refresh(keep: Boolean): Unit = {
      val i = rng.nextInt(gen.params.sensors)
      val (rangeS, intervalS) = Ranges(rng.nextInt(Ranges.size))
      val firstEnd = gen.eventTime(0) + 7 * 86400L
      val end = firstEnd + (rng.nextLong(historyEnd - firstEnd) / 900 * 900)
      val r = Refresh(gen.sensorIndex(i), end - rangeS, end, intervalS)
      val t0 = System.nanoTime()
      Trace.span("dashboard.refresh") {
        val combo = s"${gen.names(r.sensor)}, ${r.sensor}"
        query("directory", Dashboard.sensorDirectory(table(station)))
          .foreach(rows => if (keep) kept += ((r, "directory", rows)))
        val idx = query("combo", Dashboard.sensorDirectory(table(station))
          .filter(col("combo") === combo)
          .select(Dashboard.sensorIndexFromCombo(col("combo")).as("sensor_index")))
        idx.foreach(rows => if (keep) kept += ((r, "combo", rows)))
        idx.flatMap(_.headOption).map(_.getInt(0)).foreach { sensor =>
          FieldCatalog.Groups.all.foreach { g =>
            query("panel", Dashboard.panel(table(g), g, r.interval, sensor, r.startIso, r.endIso))
              .foreach(rows => if (keep) kept += ((r, g, rows)))
          }
          query("raw_panel", Dashboard.rawPanel(table(station), RawColumns, sensor, r.startIso, r.endIso))
            .foreach(rows => if (keep) kept += ((r, "raw", rows)))
        }
      }
      refreshTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[dashboard] refresh: ${refreshTimes.last}%.3f s")
    }

    // Set-up ends with one warm-up refresh, checked but not timed.
    refresh(keep = true)
    val setupS = (System.nanoTime() - t0) / 1e9
    queryTimes.clear(); refreshTimes.clear(); scans.clear()
    val heapSetup = Measure.retainedMb()
    val codegen0 = Measure.codegen()

    val spansBefore = Trace.all.size
    val tStart = System.nanoTime()
    var refreshes = 0
    while ((System.nanoTime() - tStart) / 1e9 < seconds) {
      refresh(keep = refreshes % CheckEvery == 0)
      refreshes += 1
    }
    val tEnd = System.nanoTime()
    val codegen1 = Measure.codegen()
    val heapEnd = Measure.retainedMb()

    // Checks, outside the timed region: each kept result against plain
    // Scala over the generator's readings.
    val fields = FieldCatalog.fields.toIndexedSeq
    def readings(r: Refresh): Seq[IndexedSeq[Any]] = (0 until Polls)
      .filter(k => gen.eventTime(k) >= r.start && gen.eventTime(k) < r.end)
      .flatMap(k => (0 until gen.params.sensors).filter(gen.sensorIndex(_) == r.sensor).map(gen.reading(k, _)))
    def colOf(name: String): Int = 2 + fields.indexWhere(_.colName == name)
    def maxOf(vs: Seq[Any]): Any = vs.filter(_ != null) match {
      case Seq() => null
      case nn => nn.maxBy(v => BigDecimal(v.toString))
    }
    val errors = kept.toSeq.flatMap { case (r, what, rows) =>
      val actual = rows.map(row => row.toSeq.map(Checks.plain))
      val mismatches = what match {
        case "directory" =>
          Checks.compare("directory", gen.names.map { case (s, n) => (s: Any) -> Seq[Any](s, n, s"$n, $s") },
            actual.map(v => v.head -> v))
        case "combo" => Checks.compare("combo", Map((0: Any) -> Seq[Any](r.sensor)), actual.map(v => (0: Any) -> v))
        case "raw" =>
          Checks.compare(s"raw panel $r", readings(r).map(v => (v(0): Any) -> (v(0) +: RawColumns.map(c => v(colOf(c))))).toMap,
            actual.map(v => v.head -> v))
        case g =>
          val ms = measures(g)
          val expected = readings(r).groupBy(v => v(0).asInstanceOf[Long] / r.intervalS * r.intervalS)
            .map { case (b, vs) => (b: Any) -> ((b: Any) +: ms.map(c => maxOf(vs.map(_(colOf(c)))))) }
          Checks.compare(s"panel $g $r", expected, actual.map(v => v.head -> v))
      }
      mismatches.take(3).foreach(m => System.err.println(s"[dashboard] check: $m"))
      if (mismatches.nonEmpty) Some(what) else None
    }

    val panelTimes = queryTimes.toSeq
    val timed = (tEnd - tStart) / 1e9
    val layers = if (!Trace.enabled) Map.empty[String, Double] else {
      val inWindow = Trace.all.drop(spansBefore).filter(s => s.startNs >= tStart && s.endNs <= tEnd)
      def p50(name: String) = Stats.median(inWindow.filter(_.name == name).map(_.seconds))
      val n = math.max(1, scans.size).toDouble
      Map(
        "dashboard.plan_s" -> p50("dashboard.plan"),
        "dashboard.exec_s" -> p50("dashboard.exec"),
        "dashboard.panel_p50_s" -> p50("dashboard.panel"),
        "dashboard.raw_panel_p50_s" -> p50("dashboard.raw_panel"),
        "dashboard.directory_p50_s" -> p50("dashboard.directory"),
        "dashboard.rows_scanned_per_row_returned" ->
          scans.map(_._5).sum.toDouble / math.max(1L, scans.map(_._6).sum),
        "sinks.read_files" -> scans.map(_._1).sum / n,
        "sinks.read_bytes" -> scans.map(_._2).sum / n,
        "sinks.date_partitions_read_ratio" ->
          scans.map(_._3).sum.toDouble / math.max(1L, scans.map(_._4).sum),
      ) ++ Substrate(inWindow.map(_.group), timed, math.max(1, panelTimes.size), codegen1 - codegen0)
    }

    Outcome(
      setupS = setupS,
      ops = panelTimes,
      opP50 = Stats.median(panelTimes),
      heapMb = math.max(heapSetup, heapEnd),
      attempted = attempted,
      failed = failed + errors.size,
      detail = Seq(("dashboard_panel_p50_s", Stats.median(panelTimes), "s")) ++
        Stats.tailMetric("dashboard_panel_tail_s", panelTimes) ++
        Seq(("dashboard_load_p50_s", Stats.median(refreshTimes.toSeq), "s")),
      layers = layers)
  }
}
