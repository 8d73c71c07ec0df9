package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Stale scratch-root cleanup for the dev mains. Engine queries build their
  * roots under `java.io.tmpdir` (one per invocation, by design — each write
  * bench starts from empty); across many Verify/Bench/test runs the leaked
  * directories accumulate into filesystem pressure that shows up as
  * bench-to-bench variance. Swept at harness startup only — never while a
  * session is using them — and only our own prefixes. The streaming faces
  * share one prefix, [[graft.streaming.StreamFace.Prefix]]: one root per
  * face call, whose `out/` is left for this sweep. */
object TempHygiene {
  private val Prefixes = Seq(
    "graft-engine-q-", "graft-engine-fx-", "graft-stage-", "graft-ckpt-",
    "graft-canon-",
    // every streaming face's root (its out/ outlives the call). NOT a
    // "graft-" catch-all: GenScale writes its scaled datasets to
    // /tmp/graft-sf<N> and a catch-all would sweep them mid-experiment.
    graft.streaming.StreamFace.Prefix,
    "graft-incidx-", // corpus band index, re-staged per JVM; oracle never reads it
    "graft-subidx-", // substring window-hash index, same staging contract
    "graft-lineidx-", // line-hash index, same staging contract
    "graft-mmstage-", // planted multimodal asset corpora, same staging contract
    // streaming incremental dedup (engine_stream_incremental): per-run
    // working index / stage / checkpoint / output, plus the per-JVM
    // epoch-form template
    "graft-incwork-", "graft-incstage-", "graft-incckpt-", "graft-incout-",
    "graft-incepoch-",
    "graft-bkt-", // bucketed-join staging tables (re-created per JVM)
    // NOT "graft-ivf-"/"graft-cluster-": the ANN quantizer dirs must outlive
    // the writing JVM until the driver's DuckDB oracle replay reads them
    // (SimilarityQueries invariant); the dead-PID + 24h reaper there bounds
    // their accumulation without racing the replay window.
    // test-suite scratch roots (stale from previous sbt test runs)
    "tsdb-test-", "soak-", "replay-tsdb-", "stream-ckpt-", "stream-src-",
    "stream-tsdb-", "roll-tsdb-", "roll-ckpt-", "refl-local-",
    "refl-remote-", "refl-src-", "refl-ckpt-")

  def sweep(): Unit = {
    val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    if (!Files.isDirectory(tmp)) return
    // age guard: only roots older than [[MinAgeMillis]] are stale. Without
    // it, two harnesses running concurrently (a dev subset-Verify next to
    // a full gate run) sweep each other's LIVE roots at startup — observed
    // r16: a parallel Verify deleted the gate's graft-incidx working index
    // mid-query. A single run finishes in minutes; 2 h is comfortably past
    // any live run and still bounds accumulation to one day's debris.
    val cutoff = System.currentTimeMillis() - MinAgeMillis
    val stream = Files.list(tmp)
    try stream.forEach { p =>
      val name = p.getFileName.toString
      if (Prefixes.exists(name.startsWith) &&
          (try Files.getLastModifiedTime(p).toMillis < cutoff
           catch { case _: Exception => false }))
        deleteRecursively(p)
    } finally stream.close()
  }

  /** Roots younger than this are presumed owned by a LIVE harness. */
  val MinAgeMillis: Long = 2L * 3600 * 1000

  private def deleteRecursively(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      finally walk.close()
    } catch { case _: Exception => () } // best-effort hygiene only
}
