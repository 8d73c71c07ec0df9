package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def str(s: String): String = "\"" + esc(s) + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A reported number with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run produced. Timings only ever come from operations
  * that completed and whose result was checked correct; `failed` counts the
  * operations that threw or returned a wrong result. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String] // wrong results
  val errors = mutable.ArrayBuffer.empty[String]   // operations that threw
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val report = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, String]

  def correct: Boolean = problems.isEmpty

  def problem(msg: String): Unit = if (problems.size < 20) problems += msg.take(400)

  def put(into: mutable.LinkedHashMap[String, Metric], name: String, value: Double, unit: String): Unit =
    into(name) = Metric(name, value, unit)

  /** A report line for the tail of `ms`, recording which percentile it is
    * and of how many samples; none when there are too few samples for the
    * tail to sit at or above the median. */
  def putTail(name: String, ms: Seq[Double]): Unit = Stats.tail(ms).filter(_.percentile >= 50).foreach { t =>
    put(report, name, t.value, "ms")
    info(name) = f"p${t.percentile}%.1f of n=${t.n}"
  }

  /** Run one operation: an exception or a wrong result (`check` returns a
    * message) counts it failed and drops its timing. */
  def attempt[T](what: String)(op: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Right(op) catch {
      case e: Exception =>
        if (errors.size < 20) errors += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        Left(())
    }
    r.toOption.flatMap { v =>
      check(v) match {
        case None => Some(v)
        case Some(msg) => problem(s"$what: $msg"); None
      }
    }.orElse { failed += 1; None }
  }
}

/** Every per-layer metric a traced run reports, with its unit. */
object Layers {
  val readKinds: Seq[String] = Seq("select_range", "select_limit", "select_last", "count",
    "sum_windows", "zoom", "sum_windows_all", "zoom_all")

  val all: scala.collection.immutable.ListMap[String, String] = scala.collection.immutable.ListMap(Seq(
    "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms",
    "streaming.source_rows_per_point" -> "ratio",
    "engine.replay_batch_ms" -> "ms",
    "engine.jobs_per_batch" -> "count",
    "engine.files_written_per_batch" -> "count",
    "engine.write_amp" -> "ratio",
    "engine.write_points_ms" -> "ms",
    "engine.delete_ms" -> "ms",
    "engine.series_range_ms" -> "ms",
    "engine.wm_files" -> "count",
    "engine.compact_ms_per_series" -> "ms",
    "engine.compact_buckets" -> "count",
    "engine.compact_bytes_written" -> "B",
    "engine.files_per_series_pre" -> "count",
    "engine.files_per_series_post" -> "count") ++
    readKinds.flatMap(k => Seq("p50_ms", "build_ms", "plan_ms", "exec_ms").map(p => s"read.$k.$p" -> "ms")) ++
    Seq(
      "read.files_opened_per_op" -> "count",
      "read.bytes_read_per_op" -> "B",
      "read.jobs_per_op" -> "count",
      "spark.driver_ms" -> "ms",
      "spark.task_cpu_ms" -> "ms",
      "spark.task_run_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B",
      "spark.tasks" -> "count",
      "spark.jobs" -> "count") ++
    PipelineBatch.Queries.flatMap(q => Seq(s"query.$q.wall_s" -> "s", s"query.$q.driver_s" -> "s",
      s"query.$q.task_cpu_s" -> "s", s"query.$q.shuffle_mb" -> "MB")) ++
    Seq("jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB"): _*)
}

/** Small local-file-system helpers (the benchmark observes the store from
  * outside, by listing it). */
object Disk {
  private def fs(p: String) = new Path(p).getFileSystem(new org.apache.hadoop.conf.Configuration())
  def children(p: String): Seq[Path] = { val f = fs(p); if (!f.exists(new Path(p))) Nil else f.listStatus(new Path(p)).map(_.getPath).toSeq }
  def size(p: String): Long = { val f = fs(p); if (!f.exists(new Path(p))) 0L else f.getContentSummary(new Path(p)).getLength }
  def count(p: String): Long = children(p).size.toLong
  def countParquet(p: String): Long = {
    val f = fs(p)
    val it = f.listFiles(new Path(p), true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
  def deleteTree(p: String): Unit = fs(p).delete(new Path(p), true)
}

/** Files the scans of an executed plan read (the scan nodes' `numFiles`
  * SQL metric), looking inside adaptive query stages. */
object PlanFiles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  def read(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
}
