package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.{SeriesRange, Tsdb, WriteResult}
import graft.streaming.StreamingIngest

/** `ingest_stream`: the write path. Seeded F2 points for `NSeries` series
  * are staged as one parquet file per micro-batch and drained through
  * `StreamingIngest.start` (one file per trigger): the first
  * `WarmupBatches` in set-up, the rest in `Segments` segments, each a
  * restart of the query on the same checkpoint. After each segment its
  * newest batch is re-sent through the sink's `writeBatch`, as an
  * at-least-once replay would: it must verify bit for bit and write
  * nothing. Finally `Tsdb.compact` runs on every
  * series, and a fresh `Tsdb` reopened on the root must see exactly the
  * acknowledged points. */
object IngestStream {
  val Db = "bench"
  val M = "f2"
  val NSeries = 4
  val PointsPerBatch = 1000
  /** Micro-batches per run: one per second of run length (a trigger takes
    * ~1.3 s of one core), at least 8. */
  def batches(seconds: Int): Int = seconds.max(8)
  /** Batch `b`'s points start at `Base + b * BatchSpanNs`; 1000 gaps of at
    * most 1000 ns fit in it, so no batch straddles a bucket and every seed
    * gives the same bucket layout, hence the same work per trigger. */
  val BatchSpanNs: Long = 1L << 20
  /** Exactly 4 batches of data per bucket, so each bucket collects 4 files. */
  val BucketWidth: Long = 4 * BatchSpanNs
  /** The first bucket boundary after F2's time base. */
  val Base: Long = Math.floorDiv(F2.T0, BucketWidth) * BucketWidth + BucketWidth
  /** Batches streamed before timing, by the query's first run. */
  val WarmupBatches = 3
  /** Measured stream segments; each ends with a replay of its newest batch. */
  val Segments = 2

  final case class Staged(series: Array[String], times: Array[Long], vals: Array[Array[Any]], digest: String) {
    def nBatches: Int = times.length / PointsPerBatch
    def batch(b: Int): Range = b * PointsPerBatch until (b + 1) * PointsPerBatch
  }

  def generate(seed: Long, nBatches: Int): Staged = {
    val rnd = new SplittableRandom(seed)
    val d = new F2.Digest
    val n = nBatches * PointsPerBatch
    val names = (0 until NSeries).map(i => f"s$i%02d")
    val series = new Array[String](n)
    val times = new Array[Long](n)
    val vals = new Array[Array[Any]](n)
    var t = Base
    (0 until n).foreach { i =>
      t = if (i % PointsPerBatch == 0) Base + (i / PointsPerBatch) * BatchSpanNs else t + F2.nextGap(rnd)
      series(i) = names(rnd.nextInt(NSeries))
      times(i) = t
      vals(i) = F2.values(rnd)
      d.point(series(i), t, vals(i))
    }
    Staged(series, times, vals, d.hex)
  }

  /** One parquet file per batch, written by one Spark job, renamed to
    * `batch-<k>.parquet` and given increasing modification times so the
    * file source takes them in batch order. */
  def stage(ctx: Ctx, st: Staged, dir: String): Unit = {
    val spark = ctx.spark
    val tmp = dir + ".tmp"
    val rows = st.times.indices.map(i => (i / PointsPerBatch, F2.row(st.series(i), st.times(i), st.vals(i))))
    val part = new Partitioner {
      def numPartitions: Int = st.nBatches
      def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val rdd = spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
      .partitionBy(part).values
    spark.createDataFrame(rdd, F2.rowStruct).write.parquet(tmp)
    val files = Disk.children(tmp).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(files.size == st.nBatches, s"staged ${files.size} files for ${st.nBatches} batches")
    val out = new java.io.File(dir)
    out.mkdirs()
    val base = System.currentTimeMillis() - 10L * st.nBatches * 1000
    files.zipWithIndex.foreach { case (p, k) =>
      val f = new java.io.File(out, f"batch-$k%05d.parquet")
      require(new java.io.File(p.toUri).renameTo(f), s"rename $p")
      f.setLastModified(base + k * 1000L)
    }
    Disk.deleteTree(tmp)
  }

  /** The store, the file source it streams from and the query's checkpoint. */
  final class Store(ctx: Ctx, st: Staged, staged: String) {
    val Seq(source, root, checkpoint) = Seq("source", "store", "checkpoint").map(ctx.dir)
    Seq(source, root, checkpoint).foreach(Disk.deleteTree)
    new java.io.File(source).mkdirs()
    val tsdb = new Tsdb(ctx.spark, root, BucketWidth)
    tsdb.createDatabase(Db)
    tsdb.createMeasurement(Db, M, F2.schema)
    private val points = ctx.spark.readStream.schema(F2.rowStruct).option("maxFilesPerTrigger", "1").parquet(source)
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    /** Move `batches` into the source and drain them with one run of the
      * query (a restart on the checkpoint after the first); false if it failed. */
    def stream(batches: Range, id: String): Boolean = {
      batches.foreach { b =>
        val file = f"batch-$b%05d.parquet"
        require(new java.io.File(staged, file).renameTo(new java.io.File(source, file)), s"move $file")
      }
      try {
        val ps = ctx.op("stream", id) {
          val q = StreamingIngest.start(tsdb, Db, M, points, "series", checkpoint)
          q.awaitTermination()
          q.recentProgress.filter(p => p.batchId >= 0 && p.numInputRows > 0).toSeq
        }
        progress ++= ps
        if (ctx.trace) traceTriggers(ctx, ps, id, ctx.tracer.all.find(_.op == id).map(_.id).getOrElse(-1))
        true
      } catch {
        case e: Exception =>
          ctx.out.errors += s"stream $id failed: ${e.getMessage}".take(400)
          false
      }
    }
  }

  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val out = ctx.out
    val setup0 = System.nanoTime()
    val st = generate(ctx.seed, WarmupBatches + batches(ctx.seconds))
    val nb = st.nBatches
    val measured = WarmupBatches until nb
    out.info("input_sha256") = st.digest
    out.info("sizes") = s"series=$NSeries batches=${measured.size} warmup_batches=$WarmupBatches " +
      s"points_per_batch=$PointsPerBatch segments=$Segments bucket_width_ns=$BucketWidth"
    val staged = ctx.dir("staged")
    Disk.deleteTree(staged)
    val s0 = System.nanoTime()
    ctx.op("stage", "setup:stage")(stage(ctx, st, staged))
    out.put(out.report, "staging_s", (System.nanoTime() - s0) / 1e9, "s")
    // warm-up: the first batches, streamed into the same store
    val store = new Store(ctx, st, staged)
    val tsdb = store.tsdb
    out.attempted += nb
    val warmOk = store.stream(0 until WarmupBatches, "setup:stream")
    val warmDone = store.progress.size
    val setupS = (System.nanoTime() - setup0) / 1e9

    ctx.startMeasure()
    val m0 = System.nanoTime()
    // segment after segment, each a restart of the query on its checkpoint
    // (counted in the stream's time); after each, its newest batch is
    // re-sent through the sink's writeBatch, as an at-least-once replay would
    var streamNs = 0L
    var streamCpuNs = 0L
    var streamFs = FsSnap(0, 0)
    val replayMs = mutable.ArrayBuffer.empty[Double]
    var ok = warmOk
    measured.grouped((measured.size + Segments - 1) / Segments).zipWithIndex.foreach { case (seg, i) =>
      if (ok) {
        val fs0 = FsStats.snap()
        val t0 = System.nanoTime()
        val c0 = Jvm.cpuNs()
        ok = store.stream(seg, s"m:stream$i")
        streamCpuNs += Jvm.cpuNs() - c0
        streamNs += System.nanoTime() - t0
        ctx.calib.slices(10)
        streamFs = streamFs + (FsStats.snap() - fs0)
      }
      if (ok) {
        val b = seg.last
        val id = s"m:replay$b"
        val t = System.nanoTime()
        out.attempt(id) {
          ctx.op("replay", id)(tsdb.writeBatch(Db, M, spark.read.parquet(f"${store.source}/batch-$b%05d.parquet")))
        }(r => checkReplay(r, st, b)).foreach(_ => replayMs += (System.nanoTime() - t) / 1e6)
      }
    }
    val streamS = streamNs / 1e9
    val progress = store.progress.drop(warmDone).toSeq
    out.failed += nb - store.progress.map(_.batchId).distinct.size
    val root = store.root
    val filesPre = filesPerSeries(root)
    val filesWritten = Disk.countParquet(s"$root/$Db/$M/data")
    val fsC = FsStats.snap()
    val c0 = System.nanoTime()
    var buckets = 0L
    (0 until NSeries).map(i => f"s$i%02d").foreach { s =>
      val id = s"m:compact:$s"
      out.attempt(id)(ctx.op("compact", id)(tsdb.compact(Db, M, s)))(_ => None).foreach(buckets += _)
    }
    val compactS = (System.nanoTime() - c0) / 1e9
    val compactFs = FsStats.snap() - fsC
    val elapsed = (System.nanoTime() - m0) / 1e9
    ctx.endMeasure()
    val batchesDone = progress.map(_.batchId).distinct.size

    // -------- correctness: reopen and compare with the acknowledged input
    val k0 = System.nanoTime()
    val seen = observe(new Tsdb(spark, root))
    checkStore(seen, st).foreach(out.problem)
    if (checkStore(corrupted(seen), st).isEmpty)
      out.problem("self-test: the store check accepted a corrupted store")
    if (checkReplay(Map("s00" -> WriteResult(1, 0, PointsPerBatch - 1)), st, 0).isEmpty)
      out.problem("self-test: the replay check accepted a replay that wrote a point")
    out.put(out.report, "check_s", (System.nanoTime() - k0) / 1e9, "s")

    // -------- metrics
    val nPoints = st.times.length.toDouble
    val mPoints = measured.size * PointsPerBatch.toDouble
    val triggerMs = progress.map(_.durationMs.get("triggerExecution").toDouble)
    val addMs = progress.map(_.durationMs.get("addBatch").toDouble)
    val pointsPerS = batchesDone * PointsPerBatch / streamS
    ctx.putCpuPerOp(streamCpuNs, batchesDone)
    out.put(out.report, "ingest_points_per_s", pointsPerS, "points/s")
    out.put(out.report, "ingest_trigger_p50_ms", Stats.median(triggerMs), "ms")
    out.putTail("ingest_trigger_tail_ms", triggerMs)
    out.put(out.report, "compact_s", compactS, "s")
    val stored = Disk.size(s"$root/$Db/$M/data")
    out.put(out.report, "stored_bytes_per_point", stored / nPoints, "B")
    out.put(out.report, "measured_s", elapsed, "s")
    if (replayMs.nonEmpty) out.put(out.report, "replay_p50_ms", Stats.median(replayMs.toSeq), "ms")
    out.info("store_on_disk") = f"${stored / 1048576.0}%.1f MiB"

    if (ctx.trace) {
      val L = out.layers
      // the split of the median trigger itself, so the two add up to its time
      val med = triggerMs.zip(addMs).sortBy(_._1).apply(math.ceil(triggerMs.size / 2.0).toInt - 1)
      out.put(L, "streaming.add_batch_ms", med._2, "ms")
      out.put(L, "streaming.overhead_ms", med._1 - med._2, "ms")
      out.put(L, "streaming.source_rows_per_point", progress.map(_.numInputRows).sum / mPoints, "ratio")
      if (replayMs.nonEmpty) out.put(L, "engine.replay_batch_ms", Stats.median(replayMs.toSeq), "ms")
      val ops = ctx.listener.get.ops
      val batchJobs = ops.collect { case (id, a) if id.startsWith("m:") && id.contains("/batch:") => a.jobs }.sum
      out.put(L, "engine.jobs_per_batch", batchJobs.toDouble / batchesDone, "count")
      // data files the stream left (replays write none); Hadoop's local file
      // system does not count file creations in its statistics
      out.put(L, "engine.files_written_per_batch", filesWritten.toDouble / store.progress.size, "count")
      out.put(L, "engine.write_amp", streamFs.bytesWritten / (mPoints * F2.UserBytesPerPoint), "ratio")
      out.put(L, "engine.wm_files", Disk.count(s"$root/$Db/$M/_wm").toDouble, "count")
      out.put(L, "engine.compact_ms_per_series", compactS * 1000 / NSeries, "ms")
      out.put(L, "engine.compact_buckets", buckets.toDouble, "count")
      out.put(L, "engine.compact_bytes_written", compactFs.bytesWritten.toDouble, "B")
      out.put(L, "engine.files_per_series_pre", filesPre, "count")
      out.put(L, "engine.files_per_series_post", filesPerSeries(root), "count")
    }
    setupS
  }

  /** The micro-batches as spans under their segment's stream span: the
    * trigger, with its addBatch phase inside. */
  def traceTriggers(ctx: Ctx, ps: Seq[StreamingQueryProgress], segment: String, parent: Int): Unit = ps.foreach { p =>
    val start = ctx.tracer.fromWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val op = JobListener.batchKey(segment, p.batchId)
    val trig = ctx.tracer.record("trigger", op, start, start + p.durationMs.get("triggerExecution") * 1000000L, parent)
    ctx.tracer.record("add_batch", op, start, start + p.durationMs.get("addBatch") * 1000000L, trig)
  }

  def filesPerSeries(root: String): Double = {
    val per = Disk.children(s"$root/$Db/$M/data").map(s => Disk.countParquet(s.toString))
    if (per.isEmpty) 0.0 else per.sum.toDouble / per.size
  }

  /** A replayed batch must write and discard nothing and verify every one
    * of its points as an identical overwrite. */
  def checkReplay(r: Map[String, WriteResult], st: Staged, b: Int): Option[String] = {
    val want = st.batch(b).groupBy(st.series(_)).map { case (s, idx) => s -> WriteResult(0, 0, idx.size) }
    if (r == want) None else Some(s"replay of batch $b returned $r, expected $want")
  }

  /** What a reopened root shows: visible rows ordered by (series, time),
    * and per series its watermark range and countPoints row. */
  final case class Observed(rows: Seq[Row], ranges: Map[String, Option[SeriesRange]],
                            counts: Map[String, Row], series: Seq[String])

  def observe(tsdb: Tsdb): Observed = {
    val series = tsdb.listSeries(Db, M)
    val rows = tsdb.visible(Db, M).select(("series" +: "time_ns" +: F2.fieldNames).map(col): _*)
      .orderBy(col("series"), col("time_ns")).collect().toSeq
    Observed(rows, series.map(s => s -> tsdb.seriesRange(Db, M, s)).toMap,
      series.map(s => s -> tsdb.countPoints(Db, M, s, Long.MinValue, Long.MaxValue).head()).toMap, series)
  }

  /** The check's self-test input: one visible row's timestamp moved. */
  def corrupted(o: Observed): Observed = {
    val r = o.rows.head.toSeq.toArray
    r(1) = r(1).asInstanceOf[Long] + 1
    o.copy(rows = Row.fromSeq(r.toSeq) +: o.rows.tail)
  }

  /** Every acknowledged point, and nothing else: per series a checksum of
    * the visible rows, the watermark range, and the count with
    * time_first/time_last. */
  def checkStore(o: Observed, st: Staged): Seq[String] = {
    val bySeries = st.times.indices.groupBy(st.series(_))
    val problems = mutable.ArrayBuffer.empty[String]
    if (o.series != bySeries.keys.toSeq.sorted)
      problems += s"series ${o.series}, expected ${bySeries.keys.toSeq.sorted}"
    val got = o.rows.groupBy(_.getString(0))
    bySeries.toSeq.sortBy(_._1).foreach { case (s, idx) =>
      val want = new F2.Digest
      idx.foreach(i => want.point(s, st.times(i), st.vals(i)))
      val have = new F2.Digest
      val rs = got.getOrElse(s, Nil)
      rs.foreach(r => have.point(s, r.getLong(1), r.toSeq.drop(2).toArray))
      if (have.hex != want.hex) problems += s"$s: ${rs.size} visible rows differ from the ${idx.size} acknowledged points"
      val wantRange = SeriesRange(st.times(idx.head), st.times(idx.last))
      val range = o.ranges.get(s).flatten
      if (!range.contains(wantRange)) problems += s"$s: seriesRange $range, expected $wantRange"
      o.counts.get(s) match {
        case Some(c) if c.getLong(0) == idx.size && c.getLong(1) == wantRange.timeFirst &&
                        c.getLong(2) == wantRange.timeLast =>
        case c => problems += s"$s: countPoints $c, expected (${idx.size}, ${wantRange.timeFirst}, ${wantRange.timeLast})"
      }
    }
    problems.toSeq
  }
}
