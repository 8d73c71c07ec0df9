package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: times are nanoseconds since the tracer started;
  * `parent` is the id of the enclosing span (-1 for none) and `op` the
  * operation the span belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val base = System.nanoTime()
  private val baseWallMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def now(): Long = System.nanoTime() - base

  /** Wall-clock milliseconds (e.g. a streaming progress timestamp) on the
    * tracer's nanosecond time line. */
  def fromWallMs(ms: Long): Long = (ms - baseWallMs) * 1000000L

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.set(parents)
        synchronized { spans += Span(id, name, t0, t1, parents.headOption.getOrElse(-1), op) }
      }
    }

  /** Record an interval measured elsewhere; returns its span id. */
  def record(name: String, op: String, start: Long, end: Long, parent: Int = -1): Int =
    if (!enabled) -1
    else synchronized {
      nextId += 1
      spans += Span(nextId, name, start, end, parent, op)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: (count, total ms, self ms), where self time is a span's
    * duration minus the part of it its child spans cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.map { case (name, group) =>
      val total = group.map(s => s.end - s.start).sum
      val self = group.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        (s.end - s.start) - Stats.unionLength(kids)
      }.sum
      (name, group.size, total / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${Json.esc(s.name)}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":"${Json.esc(s.op)}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark work attributed to operations through the `perfbench.op` local
  * property (set on the calling thread and inherited by the jobs it runs)
  * and, for streaming micro-batches, that property with the
  * `streaming.sql.batchId` one. */
final class JobListener extends SparkListener {
  final class Agg {
    var jobs = 0; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // job [start, end) wall ms
  }
  private val byOp = mutable.Map.empty[String, Agg]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  private var started = 0
  private var ended = 0

  private def agg(op: String): Agg = byOp.getOrElseUpdate(op, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a micro-batch's jobs run on the query's own thread, which inherited the
    // operation of the thread that started the query; batch ids restart with
    // every checkpoint, so the key carries that operation too
    val op = prop("streaming.sql.batchId").map(b => JobListener.batchKey(prop(JobListener.OpKey)
        .orElse(prop("sql.streaming.queryId")).getOrElse("unattributed"), b.toLong))
      .orElse(prop(JobListener.OpKey))
      .getOrElse("unattributed")
    started += 1
    agg(op).jobs += 1
    jobOp(e.jobId) = (op, e.time)
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobOp.remove(e.jobId).foreach { case (op, t0) => agg(op).intervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg(stageOp.getOrElse(e.stageId, "unattributed"))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait (bounded) until every job seen starting has also ended and the
    * listener bus has delivered the trailing task events. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val sig = synchronized { if (started == ended) byOp.values.map(_.tasks).sum else -1L }
      if (sig >= 0 && sig == last) stable += 1 else stable = 0
      last = sig
    }
  }

  def ops: Map[String, Agg] = synchronized(byOp.toMap)
}

object JobListener {
  val OpKey = "perfbench.op"

  /** The key of micro-batch `batchId` of the streaming query started by operation `op`. */
  def batchKey(op: String, batchId: Long): String = s"$op/batch:$batchId"

  /** Run `body` with its Spark jobs attributed to `op`. */
  def withOp[T](sc: SparkContext, op: String)(body: => T): T = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}

/** Hadoop `FileSystem` statistics of the local file system (every engine,
  * streaming and Spark file operation in this single JVM goes through it). */
final case class FsSnap(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: FsSnap): FsSnap = FsSnap(bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def snap(): FsSnap = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsSnap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Garbage-collection time, heap peak and CPU time. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM so far. A KVM guest's kernel
    * leaves out the time its virtual CPU waited for the host (steal). */
  def cpuNs(): Long = os.getProcessCpuTime

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
