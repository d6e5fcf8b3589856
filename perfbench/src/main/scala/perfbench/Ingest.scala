package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.schema.FieldCatalog
import graft.sinks.FanOutSink
import graft.sources.{FileReplayFetcher, PollingSource}
import graft.streaming.ContinuousAggregate
import graft.transform.Transforms

/** [[FileReplayFetcher]] with spans around the two transport calls; the
  * traced run names it as the source's fetcher class. */
class TracedReplayFetcher extends FileReplayFetcher {
  override def latestCursor(current: Long, options: Map[String, String]): Long = {
    val t0 = System.nanoTime()
    val c = super.latestCursor(current, options)
    Trace.record("sources.latest_cursor", t0, System.nanoTime())
    c
  }
  override def fetch(from: Long, to: Long, options: Map[String, String]): Seq[(Long, String)] = {
    val t0 = System.nanoTime()
    val r = super.fetch(from, to, options)
    Trace.record("sources.fetch", t0, System.nanoTime())
    Ingest.payloadBytes.addAndGet(r.map(_._2.length.toLong).sum)
    r
  }
}

/** Commit notifications of the streaming queries: the highest source
  * cursor each query has committed, plus every progress report. */
final class Commits extends StreamingQueryListener {
  private val committed = mutable.Map.empty[UUID, Long]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val Cursor = """"cursor"\s*:\s*(\d+)""".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(Cursor.findFirstMatchIn(_)).foreach { m =>
        committed(p.id) = math.max(committed.getOrElse(p.id, 0L), m.group(1).toLong)
      }
    progress += p
    notifyAll()
  }

  /** Wait until every query in `ids` committed `cursor`; false on timeout. */
  def await(ids: Seq[UUID], cursor: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = ids.forall(committed.getOrElse(_, 0L) >= cursor)
    while (!done && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    done
  }
  def of(id: UUID): Seq[StreamingQueryProgress] = synchronized(progress.filter(_.id == id).toList)
}

/** The `ingest` workload: a closed loop with one client. The client writes
  * one seeded multi-sensor payload per poll into the replay directory and
  * waits until both streaming queries have committed it: the fan-out
  * query and the hourly continuous aggregate, wired as
  * `DataLoggerCli.runStream` wires them, except that the trigger is
  * `ProcessingTime(0)` and fast polling is allowed. */
object Ingest {
  /** Set-up serves `WarmPolls` polls, the first `FastPolls` of them 2 h
    * apart. The later warm-up polls run at the timed step while the JIT
    * settles: in a 40 s run poll latency kept falling for 20 polls. */
  val FastPolls = 4
  val WarmPolls = 8
  /** Traffic. The 65 s step is the logger's own cadence
    * (`PollingSource`'s minimum poll interval). The single-channel share
    * is that of the hardware-variant samples FIXTURES.md §1 lists (1 of
    * 3). The sensors per poll and the re-served share have no source in
    * the repository: they are assumptions, to be replaced by figures from
    * captured payloads. The fast warm-up polls are 2 h apart, so that by
    * the timed region two hourly windows per sensor have closed and been
    * evicted and the `date=` partition has rolled over; later polls are
    * 65 s apart, so each one updates the open window's state. */
  val Params: Long => PayloadParams = seed => PayloadParams(
    sensors = 200, singleChannelShare = 1.0 / 3, duplicateShare = 0.02,
    stepSeconds = 65L,
    // 22:00 UTC on a seeded day of 2024
    startEpoch = 1704067200L + 86400L * PayloadGen.pick(seed, 300) + 22 * 3600L,
    fastPolls = FastPolls, fastStepSeconds = 7200L)
  /** A defect of the program that the checks expect, by name: the hourly
    * aggregate reads the conformed stream before the sink's PK dedup (as
    * `DataLoggerCli.runStream` wires it), so a re-served row is counted
    * twice in its bucket's `n` and `sum`. The check fails once the buckets
    * count distinct readings instead, so a fix updates this benchmark. */
  val HourlyCountsReservedRows = "hourly-counts-reserved-rows"
  val CommitTimeoutMs = 60000L
  val payloadBytes = new java.util.concurrent.atomic.AtomicLong(0)

  /** One logger instance: replay directory, sink, checkpoints, and the
    * two running queries. */
  final class Logger(spark: SparkSession, dir: Path, gen: PayloadGen, commits: Commits) {
    val replay: Path = Files.createDirectories(dir.resolve("replay"))
    val out: String = dir.resolve("out").toString
    val aggDir: String = dir.resolve("hourly").toString
    private val ckpt = dir.resolve("checkpoint").toString
    var polls = 0
    /** Rows into the sink per traced micro-batch, with the job group of
      * its `sinks.write` span. */
    val sinkInput = mutable.ArrayBuffer.empty[(Long, String)]

    private def source(): DataFrame = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass,
        (if (Trace.enabled) classOf[TracedReplayFetcher] else classOf[FileReplayFetcher]).getName)
      .option(PollingSource.Options.MinPollIntervalSeconds, "65")
      .option(PollingSource.Options.AllowFastPolling, "true")
      .option("replay.dir", replay.toString)
      .load()
    private def conformed(wire: DataFrame): DataFrame =
      Transforms.conform(PollingSource.parseMulti(wire, gen.wireFields))

    val fanOut: StreamingQuery =
      if (!Trace.enabled)
        FanOutSink.stream(conformed(source()), out, ckpt, trigger = Trigger.ProcessingTime(0L))
      else source().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch((batch: DataFrame, id: Long) => tracedFanOut(batch, id))
        .start()

    val hourly: StreamingQuery = ContinuousAggregate
      .hourly(conformed(source()), "data_time_stamp", Seq("sensor_index", "name"), "pm2_5")
      .withColumn("date", to_date(col("bucket_ts")))
      .writeStream
      .option("checkpointLocation", s"${ckpt}_hourly")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .format("parquet")
      .partitionBy("date")
      .option("path", aggDir)
      .start()

    /** `FanOutSink.stream`'s micro-batch body as `runStream` leaves it
      * (parquet, no compaction): the same single `writeBatch` call, with
      * the lazy parse and conform stages forced at their layer boundary
      * so each lands in its own span. */
    private def tracedFanOut(wire: DataFrame, batchId: Long): Unit = Trace.span("ingest.batch") {
      def force(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }
      val (parsed, _) = Trace.span("sources.parse")(force(PollingSource.parseMulti(wire, gen.wireFields)))
      val (conf, rows) = Trace.span("transform.conform")(force(Transforms.conform(parsed)))
      Trace.span("sinks.write") {
        sinkInput += ((rows, Trace.currentGroup))
        FanOutSink.writeBatch(conf, out, batchId = Some(batchId))
      }
      conf.unpersist(); parsed.unpersist()
    }
    /** Serve the next poll's payload and wait for both commits; the
      * latency runs from the file's appearance to the later commit. */
    def poll(): Option[Double] = {
      val body = gen.payload(polls).getBytes("UTF-8")
      val name = f"poll-$polls%06d"
      val tmp = replay.resolve(s"$name.tmp")
      Files.write(tmp, body)
      val t0 = System.nanoTime()
      Files.move(tmp, replay.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
      polls += 1
      val ok = commits.await(Seq(fanOut.id, hourly.id), polls, CommitTimeoutMs)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ingest] poll $polls: $dt%.3f s")
      if (ok) Some(dt) else None
    }

    def stop(): Unit = { fanOut.stop(); hourly.stop() }
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int): Outcome = {
    val gen = new PayloadGen(seed, Params(seed))
    val commits = new Commits
    spark.streams.addListener(commits)
    var failed = 0L

    // Set-up: start the logger and serve the warm-up polls.
    val t0 = System.nanoTime()
    val logger = new Logger(spark, work.resolve("ingest"), gen, commits)
    (1 to WarmPolls).foreach(_ => if (logger.poll().isEmpty) failed += 1)
    val setupS = (System.nanoTime() - t0) / 1e9
    val heapSetup = Measure.retainedMb()
    val codegen0 = Measure.codegen()
    payloadBytes.set(0)
    val firstMeasured = logger.polls
    val spansBefore = Trace.all.size

    val latencies = mutable.ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    while ((System.nanoTime() - tStart) / 1e9 < seconds) logger.poll() match {
      case Some(s) => latencies += s
      case None => failed += 1
    }
    val tEnd = System.nanoTime()
    val measuredPolls = logger.polls - firstMeasured
    val codegen1 = Measure.codegen()
    val heapEnd = Measure.retainedMb()

    // The last buckets close once the watermark has passed them: wait for
    // the aggregate to run with the final watermark before stopping.
    val finalWatermark = gen.eventTime(logger.polls - 1) - 7200L
    val deadline = System.currentTimeMillis() + 30000L
    def watermark: Long = Option(logger.hourly.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(Long.MinValue)
    while (watermark < finalWatermark && System.currentTimeMillis() < deadline) Thread.sleep(20)
    logger.hourly.processAllAvailable()
    logger.stop()

    // Checks, outside the timed region.
    val polls = 0 until logger.polls
    val landed = Transforms.recombine(FieldCatalog.Groups.all.map { g =>
      g -> FanOutSink.readTable(spark, logger.out, g)
        .select((FieldCatalog.keyCols ++ FieldCatalog.groupCols(g)).map(col): _*)
    }.toMap).select((FieldCatalog.keyCols ++ FieldCatalog.fields.map(_.colName)).map(col): _*)
      .collect().toSeq.map { r =>
        val v = r.toSeq.map(Checks.plain)
        (v(0).asInstanceOf[Long], v(1).asInstanceOf[Int]) -> v
      }
    val readingErrors = Checks.compare("reading",
      gen.expectedReadings(polls).map { case (k, v) => k -> v.toSeq }, landed)
    def expectedHourly(countReserved: Boolean) = gen.expectedHourly(polls, countReserved).collect {
      case ((b, s), h) if b + 3600 <= watermark =>
        (b, s) -> Seq[Any](gen.names(s), h.n, h.sum, h.max)
    }
    val emitted = if (!Files.exists(Path.of(logger.aggDir, "_spark_metadata"))) Nil
      else spark.read.parquet(logger.aggDir).select("bucket_ts", "sensor_index", "name", "n", "sum_value", "max_value")
      .collect().toSeq.map { r =>
        val v = r.toSeq.map(Checks.plain)
        (v(0).asInstanceOf[Long], v(1).asInstanceOf[Int]) -> v.drop(2)
      }
    val hourlyErrors =
      (if (watermark < finalWatermark) Seq(s"hourly watermark $watermark never reached $finalWatermark")
       else Nil) ++ Checks.compareWithKnownDefect("hourly bucket", HourlyCountsReservedRows,
        expectedHourly(countReserved = true), expectedHourly(countReserved = false), emitted)
    val errors = readingErrors ++ hourlyErrors
    System.err.println(s"[ingest] checked ${landed.size} readings and ${emitted.size} closed hourly buckets")
    errors.take(10).foreach(e => System.err.println(s"[ingest] check: $e"))
    // A wrong reading or bucket fails every poll it came from.
    val badPolls = if (errors.isEmpty) 0 else math.min(errors.size, logger.polls)

    val bytes = Measure.parquetBytes(Path.of(logger.out))
    val files = Measure.parquetFiles(Path.of(logger.out))
    val distinct = gen.params.sensors.toLong * logger.polls
    val timed = latencies.sum
    val readings = gen.params.sensors.toLong * latencies.size

    val layers = if (!Trace.enabled) Map.empty[String, Double] else {
      val inWindow = Trace.all.drop(spansBefore).filter(s => s.startNs >= tStart && s.endNs <= tEnd)
      def perPoll(name: String) = Stats.median(inWindow.filter(_.name == name).map(_.seconds))
      val fanP = commits.of(logger.fanOut.id).filter(_.numInputRows > 0).takeRight(measuredPolls)
      val aggP = commits.of(logger.hourly.id).filter(_.numInputRows > 0).takeRight(measuredPolls)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val state = aggP.lastOption.flatMap(_.stateOperators.headOption)
      // The dedup and the split run inside the one writeBatch call: their
      // shares are the wall time of its shuffle-map stages (the PK dedup
      // and the clustering exchange) and of its result stages (the 9
      // projections, each written), from the stage metrics of the
      // sinks.write span's job group. Rows kept by the dedup are the rows
      // written to each of the 9 tables.
      val writes = inWindow.filter(_.name == "sinks.write").map(s => Trace.workOf(s.group))
      val tables = FieldCatalog.Groups.all.size
      val dd = logger.sinkInput.takeRight(measuredPolls)
        .map { case (in, g) => (in, Trace.workOf(g).recordsWritten / tables) }
      val ddIn = dd.map(_._1).sum.toDouble
      val groups = inWindow.map(_.group) ++ Seq(logger.hourly.runId.toString)
      val folded = { val t0 = System.nanoTime(); val n = FanOutSink.compactAll(spark, logger.out); (n, (System.nanoTime() - t0) / 1e9) }
      Map(
        "sources.fetch_s" -> perPoll("sources.fetch"),
        "sources.latest_cursor_s" -> perPoll("sources.latest_cursor"),
        "sources.parse_s" -> perPoll("sources.parse"),
        "sources.payload_bytes" -> payloadBytes.get.toDouble / math.max(1, inWindow.count(_.name == "sources.fetch")),
        "sources.fetches_per_poll" -> inWindow.count(_.name == "sources.fetch").toDouble / math.max(1, measuredPolls),
        "transform.conform_s" -> perPoll("transform.conform"),
        "transform.dedup_s" -> Stats.median(writes.map(_.shuffleStageMs / 1000.0)),
        "transform.dedup_rows_in" -> ddIn / math.max(1, dd.size),
        "transform.dedup_drop_ratio" -> (if (ddIn == 0) 0.0 else (ddIn - dd.map(_._2).sum) / ddIn),
        "transform.split_s" -> Stats.median(writes.map(_.resultStageMs / 1000.0)),
        "sinks.write_s" -> perPoll("sinks.write"),
        "sinks.files_per_poll" -> files.toDouble / logger.polls,
        "sinks.bytes_per_poll" -> bytes.toDouble / logger.polls,
        "sinks.bytes_per_reading" -> bytes.toDouble / distinct,
        "sinks.compact_s" -> folded._2,
        "sinks.runs_folded" -> folded._1.toDouble,
        "streaming.hourly_s" -> Stats.median(aggP.map(dur(_, "triggerExecution") / 1000)),
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.rows_dropped_by_watermark" -> aggP.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum.toDouble,
      ) ++ Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets").map { k =>
        s"streaming.${k}_ms" -> Stats.median(fanP.map(dur(_, k)))
      } ++ Substrate(groups, (tEnd - tStart) / 1e9, math.max(1, measuredPolls), codegen1 - codegen0)
    }

    Outcome(
      setupS = setupS,
      ops = latencies.toSeq,
      opP50 = Stats.median(latencies.toSeq),
      heapMb = math.max(heapSetup, heapEnd),
      attempted = logger.polls.toLong,
      failed = math.min(logger.polls.toLong, failed + badPolls),
      detail = Seq(
        ("ingest_poll_p50_s", Stats.median(latencies.toSeq), "s")) ++
        Stats.tailMetric("ingest_poll_tail_s", latencies.toSeq) ++ Seq(
        ("ingest_readings_per_s", readings / timed, "1/s"),
        ("ingest_bytes_per_reading", bytes.toDouble / distinct, "B")),
      layers = layers)
  }
}
