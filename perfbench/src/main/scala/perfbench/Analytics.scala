package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkEntry

/** Seeded tables for the `analytics` workload, shaped like the shipped
  * synthetic star schema (TESTDATA.md) at about a twentieth of sf0.1, so a
  * pass over the query list takes a few seconds. Timestamps are written
  * as TIMESTAMP_NTZ, as in the shipped test data. */
object AnalyticsData {
  val LineItems = 30000L
  val Orders = 7500
  val Customers = 750
  val Parts = 1000
  val Suppliers = 100
  val Documents = 1000L
  val Embeddings = 600L
  val Events = 10000L

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "zh", "es", "fr", "de")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    import PayloadGen.{mix, pick}
    def h(id: Long, field: Int): Long = seed * 0x632be59bd9b4e019L + id * 1000003L + field
    def ntz(c: org.apache.spark.sql.Column) = timestamp_micros(c).cast(TimestampNTZType)
    val day = 86400L * 1000000L
    val epoch1992 = 694224000L * 1000000L
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(spark.range(LineItems).map { b =>
      val id: Long = b
      val qty = 1 + pick(h(id, 3), 50)
      (1L + pick(h(id, 0), Orders), 1L + pick(h(id, 1), Parts), 1L + pick(h(id, 2), Suppliers),
        (1 + id % 7).toInt, qty.toDouble, qty * (90000 + pick(h(id, 4), 110000)) / 100.0,
        pick(h(id, 5), 11) / 100.0, pick(h(id, 6), 9) / 100.0,
        "ANR".substring(pick(h(id, 7), 3)).take(1), "OF".substring(pick(h(id, 8), 2)).take(1),
        epoch1992 + pick(h(id, 9), 2526) * day)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship_us")
      .withColumn("l_shipdate", ntz(col("ship_us"))).drop("ship_us"), "lineitem")

    save(spark.range(1, Orders + 1).map { b =>
      val id: Long = b
      (id, if (id == 1) 1L else 1L + pick(h(id, 10), Customers), "FOP".substring(pick(h(id, 11), 3)).take(1),
        (100000 + pick(h(id, 12), 40000000)) / 100.0, epoch1992 + pick(h(id, 13), 2400) * day,
        s"${1 + pick(h(id, 14), 5)}-PRIORITY")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "date_us", "o_orderpriority")
      .withColumn("o_orderdate", ntz(col("date_us"))).drop("date_us")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), "orders")

    save(spark.range(Documents).map { b =>
      val id: Long = b
      // every 125th document repeats an earlier one verbatim
      val tid = if (id % 125 == 124) id - 124 else id
      val n = 10 + pick(h(tid, 20), 91)
      val text = (0 until n).map(j => Vocab(pick(h(tid, 21) + j * 7919L, Vocab.length))).mkString(" ")
      (id, text, Langs(pick(h(id, 22), Langs.length)), "src" + pick(h(id, 23), 20),
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    save(spark.range(Embeddings).map { b =>
      val id: Long = b
      (id, Array.tabulate(64)(j => (mix(h(id, 30) + j) & 0xffffffL).toFloat / 0x1000000L.toFloat - 0.5f),
        pick(h(id, 31), 10))
    }.toDF("vec_id", "embedding", "label"), "embeddings")

    val types = Array("view", "click", "purchase", "signup", "error")
    save(spark.range(Events).map { b =>
      val id: Long = b
      (id, 1704067200000000L + id * 3500000L + (mix(h(id, 40)) & 0xfffffL),
        (mix(h(id, 41)) >>> 8) % Customers, types(pick(h(id, 42), types.length)),
        ((mix(h(id, 43)) >>> 8) % 56021L) / 100.0, s"""{"k": ${pick(h(id, 44), 100)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", ntz(col("ts_us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"), "events")
  }
}

/** The `analytics` workload: passes over a named list of registry queries
  * (`SparkEntry.queries`), in a seeded order per pass, one client. Between
  * queries, outside the timed region, it frees cached state as `Bench`
  * does; between passes it collects garbage. */
object Analytics {
  /** The list, by family: queries that reach the in-bucket pair idiom
    * (`collect_list → pair_combinations`), graph kernels, and cheap scans
    * that use neither and so expose the fixed per-query cost. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "pairs" -> Seq("q_dedup_ngram_jaccard", "q_embed_label_sim"),
    "graph" -> Seq("q_graph_bfs", "q_graph_clustering"),
    "scan" -> Seq("q1_pricing_summary", "q_a1_downsample_max"))
  val Queries: Seq[String] = Families.flatMap(_._2)
  val WarmSeconds = 20

  private def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
  private def reclaim(): Unit = { System.gc(); Thread.sleep(300) }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, checkDir: Path): Outcome = {
    val fns = Queries.map(q => q -> SparkEntry.queries(q))
    var failed = 0L
    var attempted = 0L
    /** Run one query to a count; its time, or `None` if it threw. */
    def once(q: String, fn: (SparkSession, String) => DataFrame, dir: String): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try { Trace.span(s"analytics.$q")(fn(spark, dir).count()); Some((System.nanoTime() - t0) / 1e9) }
        .map { t => System.err.println(f"[analytics] $q: $t%.3f s"); t }
        catch { case e: Exception => System.err.println(s"[analytics] $q failed: $e"); failed += 1; None }
      sweep(spark)
      r
    }

    // Set-up: the tables, then warm-up passes.
    val t0 = System.nanoTime()
    val dir = work.resolve("analytics").toString
    AnalyticsData.write(spark, dir, seed)
    // JIT and codegen keep speeding the queries up for several passes:
    // whole passes until WarmSeconds have gone since set-up began.
    var warm = 0
    while (warm == 0 || (System.nanoTime() - t0) / 1e9 < WarmSeconds) {
      fns.foreach { case (q, fn) => once(q, fn, dir) }
      warm += 1
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    attempted = 0; failed = 0
    reclaim()
    val heapSetup = Measure.retainedMb()
    val codegen0 = Measure.codegen()

    val rng = new scala.util.Random(seed)
    val perQuery = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val spansBefore = Trace.all.size
    val tStart = System.nanoTime()
    var passes = 0
    def timeUp = (System.nanoTime() - tStart) / 1e9 >= seconds
    // Passes in a seeded order until time is up, stopping mid-pass once
    // every query has at least two timings.
    while (passes < 2 || !timeUp) {
      rng.shuffle(fns).iterator.takeWhile(_ => passes < 2 || !timeUp).foreach { case (q, fn) =>
        once(q, fn, dir).foreach(s => perQuery(q) = s :: perQuery(q))
      }
      passes += 1
      reclaim()
    }
    val tEnd = System.nanoTime()
    // One pass's time as the sum of each query's median: steadier than
    // the median of the few whole passes a run holds.
    val passS = Queries.map(q => Stats.median(perQuery(q))).sum
    val executed = perQuery.values.map(_.size).sum
    val codegen1 = Measure.codegen()
    val heapEnd = Measure.retainedMb()

    // The results, for the DuckDB comparison that follows the run.
    Files.createDirectories(checkDir)
    fns.foreach { case (q, fn) =>
      fn(spark, dir).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
      sweep(spark)
    }
    val oracle = Queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    Files.write(checkDir.resolve("oracle_sql.json"), oracle.getBytes("UTF-8"))
    Files.write(checkDir.resolve("tables"), dir.getBytes("UTF-8"))

    val layers = if (!Trace.enabled) Map.empty[String, Double] else {
      val inWindow = Trace.all.drop(spansBefore).filter(s => s.startNs >= tStart && s.endNs <= tEnd)
      Queries.map(q => s"analytics.${q}_s" -> Stats.median(perQuery(q))).toMap ++
        Families.map { case (f, qs) => s"analytics.family.${f}_s" -> qs.map(q => Stats.median(perQuery(q))).sum } ++
        Substrate(inWindow.map(_.group), (tEnd - tStart) / 1e9, math.max(1, executed), codegen1 - codegen0)
    }

    Outcome(
      setupS = setupS,
      ops = perQuery.values.flatten.toSeq,
      opP50 = passS,
      heapMb = math.max(heapSetup, heapEnd),
      attempted = attempted,
      failed = failed,
      detail = Seq(("analytics_pass_s", passS, "s")),
      layers = layers)
  }
}
