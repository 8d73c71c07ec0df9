package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable

/** A fixed piece of JVM work that calls nothing of the program — sort 200k
  * longs, fill and walk a 50k-entry hash map of strings — timed in CPU
  * time between the measured operations, on the same CPU. On a shared
  * host the CPU time of the same instructions changes with what the
  * neighbours run on the same physical cores; the slices show by how much
  * at the moment the operations ran. */
final class Calibration {
  private val threads = ManagementFactory.getThreadMXBean
  private val slicesMs = mutable.ArrayBuffer.empty[Double]
  /** The slices' results, stored so that the JIT cannot drop their work. */
  var sink = 0L

  private def work(seed: Int): Long = {
    val rnd = new SplittableRandom(seed)
    val a = Array.fill(200000)(rnd.nextLong())
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, String]()
    var i = 0
    while (i < 50000) { m.put(a(i * 4), java.lang.Long.toHexString(a(i))); i += 1 }
    var h = 0L
    val it = m.values.iterator
    while (it.hasNext) h += it.next().hashCode
    h
  }

  /** Run `n` slices; with `record` their CPU times count in the median. */
  def slices(n: Int, record: Boolean = true): Unit = (1 to n).foreach { _ =>
    val c0 = threads.getCurrentThreadCpuTime
    sink += work(slicesMs.size)
    val ms = (threads.getCurrentThreadCpuTime - c0) / 1e6
    if (record) slicesMs += ms
  }

  def count: Int = slicesMs.size

  /** Median CPU time of one recorded slice, in ms. */
  def medianMs: Double = Stats.median(slicesMs.toSeq)
}
