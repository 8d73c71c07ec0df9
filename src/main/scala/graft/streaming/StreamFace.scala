package graft.streaming

import java.nio.file.Files
import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one lifecycle of a streaming face: feed a batch into a file-stream
  * stage dir, drain it to completion with an AvailableNow trigger, repeat —
  * every drain over ONE checkpoint, so state carried across drains is
  * exactly what the face gates (the replayable-source + checkpoint
  * contract).
  *
  * Streams start on a FACE session: `s.newSession()` with
  * `spark.sql.shuffle.partitions` = [[StatePartitions]] on it alone. A
  * stateful query fixes its state partitioning at first start and records
  * it in the checkpoint's offset log, and a few hundred finalized windows
  * do not need cpus × N batches of state-store commit files. The caller's
  * session is never changed. UDFs do not carry over to a new session, so
  * the graft natives (resolved by name, e.g. TextOps' `graft_*`) are
  * registered on it.
  *
  * Each call owns one temp root `graft-face-*` holding `stage/`, `ckpt/`
  * and `out/`. On return `stage/` and `ckpt/` are deleted; `out/` stays
  * because callers return a lazy read of it (TempHygiene sweeps stale
  * roots). On failure the whole root is deleted. */
object StreamFace {

  final case class Dirs(stage: String, ckpt: String, out: String)

  val Prefix = "graft-face-"

  private val StatePartitions = "4"

  /** Drain `plan(faceSession, stageDir)` into a parquet Append sink after
    * each feed; returns the `out/` dir. */
  def toParquet(s: SparkSession, feeds: Seq[String => Unit])(
      plan: (SparkSession, String) => Dataset[_]): String =
    run(s, feeds)((fs, d) => parquetSink(plan(fs, d.stage), d))

  /** The common sink: Append into `d.out`, checkpointed in `d.ckpt`. */
  def parquetSink(ds: Dataset[_], d: Dirs): StreamingQuery =
    ds.writeStream.option("checkpointLocation", d.ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", d.out)
      .start()

  /** Run each feed (given the stage dir), then one drain of
    * `start(faceSession, dirs)` to completion; returns the `out/` dir.
    * Faces with their own sink call this directly: `start` must checkpoint
    * in `d.ckpt` and use an AvailableNow trigger, or a drain never ends. */
  def run(s: SparkSession, feeds: Seq[String => Unit])(
      start: (SparkSession, Dirs) => StreamingQuery): String = {
    val root = Files.createTempDirectory(Prefix)
    val Seq(stage, ckpt, out) =
      Seq("stage", "ckpt", "out").map(n => Files.createDirectory(root.resolve(n)))
    val d = Dirs(stage.toString, ckpt.toString, out.toString)
    try {
      val fs = s.newSession()
      fs.conf.set("spark.sql.shuffle.partitions", StatePartitions)
      graft.functions.GraftFunctions.register(fs)
      feeds.foreach { feed =>
        feed(d.stage)
        start(fs, d).awaitTermination()
      }
    } catch { case e: Throwable =>
      FileUtil.fullyDelete(root.toFile)
      throw e
    }
    Seq(stage, ckpt).foreach(p => FileUtil.fullyDelete(p.toFile))
    d.out
  }
}
