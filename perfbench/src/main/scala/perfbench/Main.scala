package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Runs workloads in one JVM and writes what they measured as JSON:
  *
  * `Main --workload <ingest|dashboard|analytics|all> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>`
  *
  * The session is `local[nproc]` with shuffle partitions = nproc and the
  * engine's `EngineDefaults`; one client thread drives every workload.
  * `--work` holds inputs, outputs and checkpoints; the traced run also
  * writes its spans to `<out>.spans.jsonl`. */
object Main {
  val Workloads = Seq("ingest", "dashboard", "analytics")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val work = Path.of(opts("work")).toAbsolutePath
    val out = Path.of(opts("out"))
    require(workload == "all" || Workloads.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.EngineDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Trace.init(spark.sparkContext, opts("trace") == "1")

    val names = if (workload == "all") Workloads else Seq(workload)
    val results = names.map { w =>
      val o = w match {
        case "ingest" => Ingest.run(spark, work, seed, seconds)
        case "dashboard" => DashboardLoad.run(spark, work, seed, seconds)
        case "analytics" => Analytics.run(spark, work, seed, seconds, work.resolve("check-analytics"))
      }
      val p50 = o.opP50
      val metrics = Seq(
        "setup_s" -> (sessionS + o.setupS),
        "op_p50_s" -> p50,
        "heap_retained_mb" -> o.heapMb)
      val layers = if (Trace.enabled) o.layers + ("trace.op_p50_s" -> p50) else o.layers
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => System.err.println(s"[perfbench] $w layer $k = $v") }
      System.err.println(s"[perfbench] $w: ${o.ops.size} operations, p50 $p50 s, " +
        s"attempted ${o.attempted}, failed ${o.failed}")
      w -> Json.obj(Seq(
        "attempted" -> o.attempted.toString,
        "failed" -> o.failed.toString,
        "operations" -> o.ops.size.toString,
        "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
        "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "detail" -> o.detail.map { case (k, v, u) => s"[${Json.str(k)},${Json.num(v)},${Json.str(u)}]" }
          .mkString("[", ",", "]")))
    }
    if (Trace.enabled) Trace.write(Path.of(s"$out.spans.jsonl"))
    Files.write(out, Json.obj(Seq("session_s" -> Json.num(sessionS),
      "workloads" -> Json.obj(results))).getBytes("UTF-8"))
    spark.stop()
  }
}
