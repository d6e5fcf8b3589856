package perfbench

import java.nio.file.{Files, Path}

/** What one workload run measured.
  *
  * @param setupS   time of the workload's set-up, warm-up included
  * @param ops      latency of every client operation in the timed region
  * @param opP50    the median operation latency the workload reports
  * @param heapMb   old-generation use after a full GC, the larger of the
  *                 readings at the end of set-up and of the timed region
  * @param detail   the workload's own metrics as (name, value, unit)
  * @param layers   per-layer metrics (traced run only)
  */
final case class Outcome(
    setupS: Double,
    ops: Seq[Double],
    opP50: Double,
    heapMb: Double,
    attempted: Long,
    failed: Long,
    detail: Seq[(String, Double, String)],
    layers: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); none below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((100.0 * (s.size - 10) / s.size, s(s.size - 11)))
    }

  /** The tail as a metric named `<name>@p<percentile>`, or `<name>` with
    * no value when the sample is too small to support one. */
  def tailMetric(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    Seq(tail(xs).fold((name, Double.NaN, "s")) { case (p, v) => (f"$name@p$p%.0f", v, "s") })
}

object Measure {
  private val mb = 1024.0 * 1024.0

  /** Old-generation MB still in use after a full collection: the least
    * of three, since threads that keep running (streaming queries,
    * listeners) allocate between a collection and its reading. */
  def retainedMb(): Double = {
    import scala.jdk.CollectionConverters._
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (1 to 3).map { _ => System.gc(); Thread.sleep(50); used / mb }.min
  }

  /** Seconds spent compiling generated code so far (count × mean of
    * Spark's `CodegenMetrics` compilation-time histogram). */
  def codegen(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1000.0
  }

  private def parquet(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(p => p.getFileName.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
  def parquetBytes(dir: Path): Long = parquet(dir).map(Files.size).sum
  def parquetFiles(dir: Path): Long = parquet(dir).size.toLong
}

/** The Spark substrate's per-layer metrics over a set of job groups,
  * normalised per client operation. */
object Substrate {
  def apply(groups: Seq[String], wallS: Double, ops: Int, codegenS: Double): Map[String, Double] = {
    val w = Trace.totalWork(groups.distinct)
    val cores = Runtime.getRuntime.availableProcessors
    Map(
      "spark.tasks" -> w.tasks.toDouble / ops,
      "spark.busy_share" -> w.runMs / 1000.0 / (wallS * cores),
      "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble / ops,
      "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble / ops,
      "spark.spill_bytes" -> w.spill.toDouble / ops,
      "spark.gc_s" -> w.gcMs / 1000.0 / ops,
      "spark.peak_exec_mem_mb" -> w.peakExecMem / (1024.0 * 1024.0),
      "spark.codegen_compile_s" -> codegenS / ops)
  }
}
