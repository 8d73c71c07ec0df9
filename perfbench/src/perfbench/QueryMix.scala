package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.engine.{SeriesRange, Tsdb, WriteResult}

/** `query_mix`: one closed-loop client runs the F2 soak mix against a
  * bulk-loaded, compacted store — 95% reads (range / LIMIT / LAST selects,
  * counts, windowed sums, zooms and a small share of the multi-series
  * faces), favouring recent time, and 5% delete-front + rotate-append with
  * a 100-point idempotent overwrite, dealt in whole decks until the run
  * length has passed. Every result is checked against an in-memory model of
  * the store. */
object QueryMix {
  val Db = "bench"
  val M = "f2"
  val NSeries = 32
  val PointsPerSeries = 512
  val BucketWidth: Long = 1L << 20 // one or two buckets per series
  val DeleteN = 64     // oldest points a write op deletes
  val AppendN = 64     // new points it appends
  val OverlapN = 100   // stored points it re-sends (bitwise-verified overwrite)

  /** The visible points of one series, as the engine should hold them. */
  final class SeriesModel(val name: String) {
    val times = mutable.ArrayBuffer.empty[Long]
    val vals = mutable.ArrayBuffer.empty[Array[Any]]
    var tf = 0L
    var tl = 0L

    private def lowerBound(t: Long): Int = {
      var lo = 0; var hi = times.size
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (times(mid) < t) lo = mid + 1 else hi = mid }
      lo
    }
    /** Index range [from, until) of the visible points inside [t0, t1]. */
    def range(t0: Long, t1: Long): (Int, Int) = {
      val (c0, c1) = (t0 max tf, t1 min tl)
      if (c0 > c1) (0, 0)
      else (lowerBound(c0), if (c1 == Long.MaxValue) times.size else lowerBound(c1 + 1))
    }
    def append(t: Long, v: Array[Any]): Unit = { times += t; vals += v; tl = t }
    def deleteUpTo(t: Long): Unit = {
      val k = lowerBound(t + 1)
      times.remove(0, k); vals.remove(0, k)
      tf = if (times.nonEmpty) times.head else t + 1
    }
  }

  def generate(seed: Long): (IndexedSeq[SeriesModel], String) = {
    val rnd = new SplittableRandom(seed)
    val d = new F2.Digest
    val series = (0 until NSeries).map { i =>
      val s = new SeriesModel(f"s$i%04d")
      var t = F2.T0 + rnd.nextInt(1000000)
      (0 until PointsPerSeries).foreach { _ =>
        t += F2.nextGap(rnd)
        val v = F2.values(rnd)
        s.append(t, v)
        d.point(s.name, t, v)
      }
      s.tf = s.times.head
      s
    }
    (series, d.hex)
  }

  // ------------------------------------------------------------ operations

  /** One generated mix operation; `expect` evaluates it on the model. */
  sealed trait Op { def kind: String }
  final case class Read(kind: String, series: Int, t0: Long, t1: Long, k: Int, w: Long) extends Op
  final case class Write(series: Int) extends Op { def kind = "write" }

  /** The mix as a deck of 40 operation kinds, dealt whole in a seeded order,
    * so every run has the same composition. The shares are the soak test's
    * (FIXTURES.md F2, from the reference tsdbtest `main.cc:598-606`): 95%
    * selects — range, LIMIT and LAST, which F2 does not split further, so a
    * third each — and 5% delete-front + rotate-append (2 of 40). The read
    * faces F2 lacks (`countPoints`, `sumWindows`, `zoom` and the
    * multi-series `sumWindowsAll` / `zoomAll`) each take one slot of the
    * selects' share, so each is probed once per deck. */
  val Deck: Seq[String] = Seq("select_range" -> 11, "select_limit" -> 11, "select_last" -> 11,
    "count" -> 1, "sum_windows" -> 1, "zoom" -> 1, "sum_windows_all" -> 1, "zoom_all" -> 1,
    "write" -> 2).flatMap { case (k, n) => Seq.fill(n)(k) }
  /** Decks per run: one per ~11 s of run length (a deck takes ~11 s on 4 cores). */
  def decks(seconds: Int): Int = math.round(seconds / 11.0).toInt.max(1)
  val RangeNs = 100000L  // ~200 points
  val LimitK = 50        // LIMIT / LAST n
  val WindowNs = 25000L  // 4 windows per range
  val ZoomPoints = 50    // maxDataPoints: always the windowed-mean mode

  def shuffled(rnd: SplittableRandom): Seq[String] = {
    val a = Deck.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** An operation of the given kind on a random series, over a range that
    * ends near the series' newest point (cubed uniform offset). */
  def nextOp(rnd: SplittableRandom, model: IndexedSeq[SeriesModel], kind: String, rotate: () => Int): Op = {
    if (kind == "write") return Write(rotate())
    val si = rnd.nextInt(model.size)
    val s = model(si)
    val u = rnd.nextDouble()
    val end = s.tl + 2000 - (u * u * u * (s.tl - s.tf - RangeNs)).toLong
    val k = kind match {
      case "select_limit" | "select_last" => LimitK
      case "zoom" | "zoom_all"            => ZoomPoints
      case _                              => 0
    }
    Read(kind, si, end - RangeNs, end, k, WindowNs)
  }

  def runRead(tsdb: Tsdb, model: IndexedSeq[SeriesModel], r: Read): DataFrame = {
    val s = model(r.series).name
    r.kind match {
      case "select_range"    => tsdb.select(Db, M, s, Nil, r.t0, r.t1)
      case "select_limit"    => tsdb.select(Db, M, s, Nil, r.t0, r.t1, limit = Some(r.k))
      case "select_last"     => tsdb.select(Db, M, s, Nil, r.t0, r.t1, last = Some(r.k))
      case "count"           => tsdb.countPoints(Db, M, s, r.t0, r.t1)
      case "sum_windows"     => tsdb.sumWindows(Db, M, s, F2.F64Name, r.t0, r.t1, r.w)
      case "zoom"            => tsdb.zoom(Db, M, s, F2.F64Name, r.t0, r.t1, r.k)
      case "sum_windows_all" => tsdb.sumWindowsAll(Db, M, F2.F64Name, r.t0, r.t1, r.w)
      case "zoom_all"        => tsdb.zoomAll(Db, M, F2.F64Name, r.t0, r.t1, r.k)
    }
  }

  /** Results whose row order the face does not define are compared sorted. */
  private val unordered = Set("zoom", "sum_windows_all", "zoom_all")

  def canonRows(rows: Seq[Row]): Seq[Seq[String]] = rows.map(_.toSeq.map(F2.canon))

  def expect(model: IndexedSeq[SeriesModel], r: Read): Seq[Seq[String]] = {
    def c(vs: Any*): Seq[String] = vs.map(F2.canon)
    def orNull(o: Option[Double]): Any = o.getOrElse(null)
    def sum(vs: Seq[Array[Any]]): (Option[Long], Option[Double], Option[Double], Long) = {
      val xs = vs.flatMap(v => Option(v(F2.F64)).map(_.asInstanceOf[Double]))
      if (xs.isEmpty) (None, None, None, 0L)
      else (Some(xs.map(F2.cents).sum), Some(xs.min), Some(xs.max), xs.size.toLong)
    }
    def pts(s: SeriesModel): Seq[(Long, Array[Any])] = {
      val (a, b) = s.range(r.t0, r.t1)
      (a until b).map(i => (s.times(i), s.vals(i)))
    }
    def full(p: (Long, Array[Any])): Seq[String] = c(p._1 +: p._2.toSeq: _*)
    def mean(cents: Long, n: Long): Double = F2.centsToDouble(cents) / n.toDouble
    def zoomRows(s: SeriesModel, prefix: Seq[Any]): Seq[Seq[String]] = {
      val ps = pts(s)
      if (ps.size <= r.k)
        ps.map { case (t, v) =>
          val x = v(F2.F64)
          c(prefix ++ Seq(t, x, if (x == null) 0L else 1L, "raw"): _*)
        }
      else {
        val w = (r.t1 - r.t0 + 1 + r.k - 1) / r.k
        ps.filter(_._2(F2.F64) != null).groupBy { case (t, _) => t - Math.floorMod(t, w) }.toSeq.map {
          case (ws, g) =>
            val (cs, _, _, n) = sum(g.map(_._2))
            c(prefix ++ Seq(ws, mean(cs.get, n), n, "mean"): _*)
        }
      }
    }
    val s = model(r.series)
    r.kind match {
      case "select_range" => pts(s).map(full)
      case "select_limit" => pts(s).take(r.k).map(full)
      case "select_last"  => pts(s).takeRight(r.k).map(full)
      case "count" =>
        val ps = pts(s)
        Seq(if (ps.isEmpty) c(0L, null, null) else c(ps.size.toLong, ps.head._1, ps.last._1))
      case "sum_windows" =>
        val w = r.w
        val w0 = graft.ops.TimeSeriesOps.firstWindowStart(r.t0, w)
        val nW = graft.ops.TimeSeriesOps.numWindows(r.t0, r.t1, w)
        val byWin = pts(s).groupBy { case (t, _) => t - t % w }
        (0L until nW).map { i =>
          val ws = w0 + i * w
          val (cs, mn, mx, n) = sum(byWin.getOrElse(ws, Nil).map(_._2))
          c(ws, cs.map(F2.centsToDouble).getOrElse(0.0), orNull(mn), orNull(mx), n)
        }
      case "zoom" => zoomRows(s, Nil)
      case "sum_windows_all" =>
        model.flatMap { sm =>
          pts(sm).groupBy { case (t, _) => t - Math.floorMod(t, r.w) }.toSeq.map { case (ws, g) =>
            val (cs, mn, mx, n) = sum(g.map(_._2))
            c(sm.name, ws, orNull(cs.map(F2.centsToDouble)), orNull(mn), orNull(mx), n)
          }
        }
      case "zoom_all" => model.flatMap(sm => zoomRows(sm, Seq(sm.name)))
    }
  }

  /** None when `got` equals the model's answer. */
  def check(model: IndexedSeq[SeriesModel], r: Read, got: Seq[Seq[String]]): Option[String] = {
    val want = expect(model, r)
    val (g, w) = if (unordered(r.kind)) (got.sortBy(_.mkString("|")), want.sortBy(_.mkString("|"))) else (got, want)
    if (g == w) None
    else {
      val firstDiff = g.zipAll(w, Nil, Nil).indexWhere { case (a, b) => a != b }
      Some(s"${r.kind} on ${model(r.series).name} [${r.t0},${r.t1}] k=${r.k} w=${r.w}: " +
        s"${g.size} rows, model ${w.size}; first difference at row $firstDiff: " +
        s"${g.lift(firstDiff).map(_.mkString(",")).getOrElse("-")} vs ${w.lift(firstDiff).map(_.mkString(",")).getOrElse("-")}")
    }
  }

  /** The check's self-test: a result with one row dropped, or a row added
    * when there is none, must be reported wrong. */
  def corrupted(got: Seq[Seq[String]]): Seq[Seq[String]] =
    if (got.nonEmpty) got.tail else Seq(Seq("l0"))

  // ------------------------------------------------------------ store

  def build(ctx: Ctx, model: IndexedSeq[SeriesModel], root: String, id: String): Tsdb = ctx.op("store_build", id) {
    val spark = ctx.spark
    val tsdb = new Tsdb(spark, root, BucketWidth)
    tsdb.createDatabase(Db)
    tsdb.createMeasurement(Db, M, F2.schema)
    val rows = model.flatMap(s => s.times.indices.map(i => F2.row(s.name, s.times(i), s.vals(i))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), F2.rowStruct)
    val written = ctx.tracer.span("bulk_load", id)(tsdb.bulkLoad(Db, M, df))
    require(written.values.sum == rows.size, s"bulk load wrote ${written.values.sum} of ${rows.size}")
    ctx.tracer.span("compact_all", id)(model.foreach(s => tsdb.compact(Db, M, s.name)))
    tsdb
  }

  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val out = ctx.out
    val setup0 = System.nanoTime()
    val (model, digest) = generate(ctx.seed)
    out.info("input_sha256") = digest
    out.info("sizes") = s"series=$NSeries points_per_series=$PointsPerSeries bucket_width_ns=$BucketWidth"

    val root = ctx.dir("store")
    val b0 = System.nanoTime()
    val tsdb = build(ctx, model, root, "setup:build")
    out.put(out.report, "store_build_s", (System.nanoTime() - b0) / 1e9, "s")

    var rotateNext = 0
    val rotate = () => { val s = rotateNext % model.size; rotateNext += 1; s }
    val samples = mutable.ArrayBuffer.empty[Sample]

    // an operation's time ends with its last engine call, before its check
    var end = 0L
    var endCpu = 0L
    def execute(op: Op, id: String, record: Boolean): Unit = op match {
      case r: Read =>
        var phases = (0L, 0L, 0L)
        var fs = FsSnap(0, 0)
        var files = 0L
        val t0 = System.nanoTime()
        val c0 = Jvm.cpuNs()
        val res = out.attempt(id) {
          ctx.op(s"read.${r.kind}", id) {
            val fs0 = if (ctx.trace) FsStats.snap() else null
            val a = System.nanoTime()
            val df = ctx.tracer.span("build", id)(runRead(tsdb, model, r))
            val b = System.nanoTime()
            if (ctx.trace) ctx.tracer.span("plan", id)(df.queryExecution.executedPlan)
            val c = System.nanoTime()
            val rows = ctx.tracer.span("exec", id)(df.collect().toSeq)
            end = System.nanoTime()
            endCpu = Jvm.cpuNs()
            phases = (b - a, c - b, end - c)
            if (ctx.trace) {
              fs = FsStats.snap() - fs0
              files = PlanFiles.read(df.queryExecution.executedPlan)
            }
            canonRows(rows)
          }
        }(got => check(model, r, got))
        val wall = end - t0
        res.foreach { got =>
          if (record) samples += Sample(r.kind, id, wall, endCpu - c0, phases, fs, files)
          if (!selfTested(r.kind) && check(model, r, corrupted(got)).isEmpty)
            out.problem(s"self-test: the ${r.kind} check accepted a corrupted result")
          selfTested += r.kind
        }
        if (ctx.trace && record) {
          val t = System.nanoTime()
          tsdb.seriesRange(Db, M, model(r.series).name)
          seriesRangeNs += System.nanoTime() - t
        }
      case Write(si) =>
        val s = model(si)
        val cut = s.times(DeleteN - 1)
        val rnd = new SplittableRandom(ctx.seed * 31 + rotateNext)
        val overlap = (s.times.size - OverlapN until s.times.size).map(i => (s.times(i), s.vals(i)))
        var t = s.tl
        val fresh = (0 until AppendN).map { _ => t += F2.nextGap(rnd); (t, F2.values(rnd)) }
        val rows = (overlap ++ fresh).map { case (tt, v) => F2.dataRow(tt, v) }
        var split = (0L, 0L)
        val t0 = System.nanoTime()
        val c0 = Jvm.cpuNs()
        val res = out.attempt(id) {
          ctx.op("write", id) {
            val a = System.nanoTime()
            ctx.tracer.span("delete", id)(tsdb.deleteUpTo(Db, M, s.name, cut))
            val b = System.nanoTime()
            val df = spark.createDataFrame(rows.asJava, F2.dataStruct)
            val r = ctx.tracer.span("write_points", id)(tsdb.writePoints(Db, M, s.name, df))
            end = System.nanoTime()
            endCpu = Jvm.cpuNs()
            split = (b - a, end - b)
            r
          }
        } { r =>
          s.deleteUpTo(cut)
          fresh.foreach { case (tt, v) => s.append(tt, v) }
          val want = WriteResult(AppendN, 0, OverlapN)
          val range = tsdb.seriesRange(Db, M, s.name)
          if (r != want) Some(s"writePoints returned $r, expected $want")
          else if (!range.contains(SeriesRange(s.tf, s.tl))) Some(s"seriesRange $range, model [${s.tf},${s.tl}]")
          else None
        }
        val wall = end - t0
        if (res.isDefined && record) samples += Sample("write", id, wall, endCpu - c0, (split._1, split._2, 0L), FsSnap(0, 0), 0L)
    }

    // warm-up: every operation kind once, on its own stream
    val warm = new SplittableRandom(ctx.seed ^ 0x5eedL)
    val warmOps = (Layers.readKinds :+ "write").map(k => nextOp(warm, model, k, rotate))
    warmOps.zipWithIndex.foreach { case (op, i) => execute(op, s"setup:warm$i", record = false) }
    val setupS = (System.nanoTime() - setup0) / 1e9

    val filesPre = filesPerSeries(root)
    ctx.startMeasure()
    val rnd = new SplittableRandom(ctx.seed)
    val m0 = System.nanoTime()
    var i = 0
    (1 to decks(ctx.seconds)).foreach(_ => shuffled(rnd).foreach { k =>
      execute(nextOp(rnd, model, k, rotate), s"m:op$i", record = true)
      ctx.calib.slices(1)
      i += 1
    })
    val elapsed = (System.nanoTime() - m0) / 1e9
    ctx.endMeasure()

    val ms = samples.map(_.wallNs / 1e6).toSeq
    val reads = samples.filter(_.kind != "write")
    val readMs = reads.map(_.wallNs / 1e6).toSeq
    // operations per second of the engine's time: the client's own result
    // checks between operations do not count
    val busyS = samples.map(_.wallNs).sum / 1e9
    ctx.putCpuPerOp(samples.map(_.cpuNs).sum, samples.size)
    out.put(out.report, "op_p50_ms", Stats.median(ms), "ms")
    out.putTail("op_tail_ms", ms)
    out.put(out.report, "mix_ops_per_s", samples.size / busyS, "ops/s")
    out.put(out.report, "measured_s", elapsed, "s")
    if (readMs.nonEmpty) out.put(out.report, "read_p50_ms", Stats.median(readMs), "ms")
    out.putTail("read_tail_ms", readMs)
    val writes = samples.filter(_.kind == "write")
    if (writes.nonEmpty) out.put(out.report, "write_p50_ms", Stats.median(writes.map(_.wallNs / 1e6).toSeq), "ms")
    val bytes = Disk.size(s"$root/$Db/$M/data")
    out.put(out.report, "store_bytes", bytes.toDouble, "B")
    out.info("store_on_disk") = f"${bytes / 1048576.0}%.1f MiB"

    if (ctx.trace) {
      val L = out.layers
      Layers.readKinds.foreach { k =>
        val ks = reads.filter(_.kind == k).sortBy(_.wallNs)
        if (ks.nonEmpty) {
          // the phases of the median operation itself, so they add up to its time
          val med = ks((math.ceil(ks.size / 2.0).toInt - 1).max(0))
          out.put(L, s"read.$k.p50_ms", med.wallNs / 1e6, "ms")
          out.put(L, s"read.$k.build_ms", med.phases._1 / 1e6, "ms")
          out.put(L, s"read.$k.plan_ms", med.phases._2 / 1e6, "ms")
          out.put(L, s"read.$k.exec_ms", med.phases._3 / 1e6, "ms")
        }
      }
      val ops = ctx.listener.get.ops
      if (reads.nonEmpty) {
        out.put(L, "read.files_opened_per_op", reads.map(_.files).sum.toDouble / reads.size, "count")
        out.put(L, "read.bytes_read_per_op", reads.map(_.fs.bytesRead).sum.toDouble / reads.size, "B")
        out.put(L, "read.jobs_per_op", reads.map(r => ops.get(r.id).map(_.jobs).getOrElse(0)).sum.toDouble / reads.size, "count")
        out.put(L, "engine.series_range_ms", seriesRangeNs / 1e6 / reads.size, "ms")
      }
      if (writes.nonEmpty) {
        out.put(L, "engine.delete_ms", Stats.median(writes.map(_.phases._1 / 1e6).toSeq), "ms")
        out.put(L, "engine.write_points_ms", Stats.median(writes.map(_.phases._2 / 1e6).toSeq), "ms")
      }
      out.put(L, "engine.files_per_series_pre", filesPre, "count")
      out.put(L, "engine.files_per_series_post", filesPerSeries(root), "count")
      out.put(L, "engine.wm_files", Disk.count(s"$root/$Db/$M/_wm").toDouble, "count")
    }
    setupS
  }

  final case class Sample(kind: String, id: String, wallNs: Long, cpuNs: Long, phases: (Long, Long, Long), fs: FsSnap, files: Long)
  private val selfTested = mutable.Set.empty[String]
  private var seriesRangeNs = 0L

  def filesPerSeries(root: String): Double = {
    val data = s"$root/$Db/$M/data"
    val perSeries = Disk.children(data).map(s => Disk.countParquet(s.toString))
    if (perSeries.isEmpty) 0.0 else perSeries.sum.toDouble / perSeries.size
  }
}
