package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its options and the
  * observation hooks that are live only in a traced run. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val work: Path, val tracer: Tracer,
                val listener: Option[JobListener], pinCpu: Option[Int]) {
  def trace: Boolean = tracer.enabled
  val out = new Outcome
  val calib = new Calibration

  /** One operation: in a traced run its jobs are attributed to `id` and it
    * gets a span named `kind`. */
  def op[T](kind: String, id: String)(body: => T): T =
    if (!trace) body
    else JobListener.withOp(spark.sparkContext, id)(tracer.span(kind, id)(body))

  def dir(name: String): String = work.resolve(name).toString

  private var gc0 = 0L
  private var fs0: FsSnap = FsSnap(0, 0)
  private var measuredFrom = 0L

  /** Start of the measured phase. Every thread of the JVM moves to one
    * CPU (`taskset -a`; threads started later inherit it), so none of them
    * spins, burning CPU time, while it waits for a thread whose virtual CPU
    * the host has paused; set-up runs on every CPU, where it is faster.
    * Then the calibration's first slices: five that let the JIT compile
    * it, ten that count. */
  def startMeasure(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    pinCpu.foreach { cpu =>
      val p = new ProcessBuilder("taskset", "-a", "-p", "-c", cpu.toString, ProcessHandle.current.pid.toString)
        .redirectErrorStream(true).start()
      val msg = new String(p.getInputStream.readAllBytes())
      require(p.waitFor() == 0, s"taskset failed: $msg")
    }
    calib.slices(5, record = false)
    calib.slices(10)
    gc0 = Jvm.gcMs()
    Jvm.resetPeak()
    fs0 = FsStats.snap()
    measuredFrom = tracer.now()
  }

  /** The end-to-end metric: CPU time per operation over `ops` operations
    * that took `cpuNs`, divided by the run's median calibration slice. */
  def putCpuPerOp(cpuNs: Long, ops: Int): Unit = {
    val perOpMs = cpuNs / 1e6 / ops
    out.put(out.e2e, "cpu_per_op_rel", perOpMs / calib.medianMs, "ratio")
    out.put(out.report, "cpu_ms_per_op", perOpMs, "ms")
    out.put(out.report, "calib_slice_ms", calib.medianMs, "ms")
    out.info("calib_slices") = calib.count.toString
  }

  /** End of the measured phase: Spark runtime and JVM layer totals, summed
    * over every top-level span that started inside the phase and the spans
    * under it. Driver time is a span's wall time not covered by any of
    * those spans' Spark jobs. */
  def endMeasure(): FsSnap = {
    val fs = FsStats.snap() - fs0
    val gc = Jvm.gcMs() - gc0
    val heap = Jvm.heapPeakMb()
    if (trace) {
      val l = listener.get
      l.settle()
      val ops = l.ops
      val all = tracer.all
      val kids = all.groupBy(_.parent)
      def opsUnder(s: Span): Seq[String] = s.op +: kids.getOrElse(s.id, Nil).flatMap(opsUnder)
      val tops = all.filter(s => s.parent == -1 && s.start >= measuredFrom)
      val under = tops.map(s => s -> opsUnder(s).distinct)
      val aggs = under.flatMap(_._2).distinct.flatMap(ops.get)
      var driverNs = 0L
      under.foreach { case (s, ids) =>
        val jobs = ids.flatMap(ops.get).flatMap(_.intervals).map { case (a, b) =>
          (tracer.fromWallMs(a) max s.start, tracer.fromWallMs(b) min s.end)
        }
        driverNs += (s.end - s.start) - Stats.unionLength(jobs)
      }
      val L = out.layers
      out.put(L, "spark.driver_ms", driverNs / 1e6, "ms")
      out.put(L, "spark.task_cpu_ms", aggs.map(_.cpuNs).sum / 1e6, "ms")
      out.put(L, "spark.task_run_ms", aggs.map(_.runMs).sum.toDouble, "ms")
      out.put(L, "spark.shuffle_write_bytes", aggs.map(_.shuffleWrite).sum.toDouble, "B")
      out.put(L, "spark.spill_bytes", aggs.map(_.spill).sum.toDouble, "B")
      out.put(L, "spark.tasks", aggs.map(_.tasks).sum.toDouble, "count")
      out.put(L, "spark.jobs", aggs.map(_.jobs).sum.toDouble, "count")
      out.put(L, "jvm.gc_ms", gc.toDouble, "ms")
      out.put(L, "jvm.heap_peak_mb", heap, "MB")
    }
    fs
  }
}

object Main {
  private def opt(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  /** Spark's task threads. One: the inputs are small enough that more
    * threads do not shorten a run, and a run that needs about one core is
    * disturbed less by whatever else shares the host. */
  val TaskThreads = 1

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$TaskThreads]")
      .config("spark.sql.shuffle.partitions", TaskThreads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = opt(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = opt(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed required"))
    val seconds = opt(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = opt(args, "--trace").contains("1")
    val work = Paths.get(opt(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    val spansOut = opt(args, "--spans").map(Paths.get(_))
    val pinCpu = opt(args, "--pin-cpu").map(_.toInt)
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(trace)
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, workload, seed, seconds, work, tracer, listener, pinCpu)
    val out = ctx.out
    try {
      val setupS = workload match {
        case "ingest_stream"  => IngestStream.run(ctx)
        case "query_mix"      => QueryMix.run(ctx)
        case "pipeline_batch" => PipelineBatch.run(ctx)
        case other            => sys.error(s"unknown workload $other")
      }
      out.put(out.e2e, "setup_s", sessionS + setupS, "s")
      out.put(out.report, "session_s", sessionS, "s")
    } finally spark.stop()
    out.put(out.report, "jvm_total_s", (System.nanoTime() - t0) / 1e9, "s")

    if (trace) {
      out.layers.keys.filterNot(Layers.all.contains).foreach(k => sys.error(s"undeclared layer metric $k"))
      // a layer this workload never calls did no work in it
      Layers.all.foreach { case (n, u) => if (!out.layers.contains(n)) out.put(out.layers, n, 0.0, u) }
      out.layers.values.foreach(m => require(m.unit == Layers.all(m.name), s"unit of ${m.name}"))
      spansOut.foreach(tracer.write)
      tracer.selfTimes.foreach { case (name, n, total, self) =>
        println(f"perfbench span $name%-28s n=$n%5d total_ms=$total%11.1f self_ms=$self%11.1f")
      }
    }
    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"), "nproc" -> cpus.toString, "pinned_cpu" -> pinCpu.fold(Json.str("none"))(_.toString), "spark_task_threads" -> TaskThreads.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString) ++
      out.info.toSeq.map { case (k, v) => k -> Json.str(v) }
    println("perfbench stamp " + Json.obj(stamp))
    (out.e2e.values ++ out.report.values).foreach { m =>
      println(f"perfbench metric ${m.name}%-28s ${m.value}%16.4f ${m.unit}")
    }
    out.problems.foreach(p => println(s"perfbench WRONG $p"))
    out.errors.foreach(e => println(s"perfbench FAILED $e"))
    def metrics(ms: Iterable[Metric]): String =
      Json.obj(ms.toSeq.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    println("perfbench e2e " + metrics(out.e2e.values))
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> metrics(if (trace) out.layers.values else out.e2e.values))))
  }
}
