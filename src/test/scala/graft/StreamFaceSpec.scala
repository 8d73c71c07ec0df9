package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.streaming.{StreamFace, StreamingOps}

class StreamFaceSpec extends SparkTestBase {
  import spark.implicits._

  private val W = 10000000L // 10 s windows, µs
  private val PointSchema = StructType(Seq(
    StructField("series", StringType), StructField("time_us", LongType),
    StructField("v", DoubleType)))

  private val batch1 = Seq(("a", 1000000L, 1.25), ("a", 4000000L, 2.5),
    ("b", 3000000L, 0.75), ("a", 12000000L, 4.0), ("b", 15000000L, 1.5))
  private val batch2 = Seq(("a", 18000000L, 0.25), ("b", 21000000L, 3.0),
    ("a", 27000000L, 5.5), ("b", 29000000L, 2.25))
  // far-future sentinel: its watermark closes every real window in drain 2
  private val sentinel = ("zzz_sentinel", 1000000000L, 0.0)

  private def feed(rows: Seq[(String, Long, Double)]): String => Unit =
    stage => rows.toDF("series", "time_us", "v").write.mode("append").parquet(stage)

  /** A caller session whose partitioning differs from the face's 4 (the
    * shared test session already uses 4, which would prove nothing). */
  private def caller() = {
    val c = spark.newSession()
    c.conf.set("spark.sql.shuffle.partitions", "7")
    c
  }

  test("a stateful face drains on its own session and cleans stage/ and ckpt/") {
    val c = caller()
    val started = scala.collection.mutable.ArrayBuffer[StreamingQuery]()
    val out = StreamFace.run(c, Seq(feed(batch1), feed(batch2 :+ sentinel))) {
      (fs, d) =>
        val q = StreamFace.parquetSink(StreamingOps.windowedSums(
          fs.readStream.schema(PointSchema).parquet(d.stage),
          windowUs = W, watermarkUs = 1000000L), d)
        started += q
        q
    }
    assert(c.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(started.size == 2)
    started.foreach { q =>
      assert(q.lastProgress.stateOperators(0).numShufflePartitions == 4)
    }
    val root = Paths.get(out).getParent
    assert(root.getFileName.toString.startsWith(StreamFace.Prefix))
    assert(!Files.exists(root.resolve("stage")))
    assert(!Files.exists(root.resolve("ckpt")))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "window_start", "sum_value", "min_value", "max_value", "n")
        .as[(String, Long, Double, Double, Double, Long)].collect().sorted.toSeq
    val streamed = c.read.parquet(out).filter(col("series") =!= sentinel._1)
    val expected = (batch1 ++ batch2).toDF("series", "time_us", "v")
      .groupBy(col("series"), (col("time_us") - col("time_us") % W).as("window_start"))
      .agg(graft.ops.TimeSeriesOps.sumExact2(col("v")).as("sum_value"),
        min("v").as("min_value"), max("v").as("max_value"), count("v").as("n"))
    assert(rows(streamed).size == 6)
    assert(rows(streamed) == rows(expected))
  }

  test("a failing feed leaves the caller's conf alone and removes the temp root") {
    val c = caller()
    var root: Path = null
    val e = intercept[IllegalStateException] {
      StreamFace.toParquet(c, Seq(
        stage => { root = Paths.get(stage).getParent; feed(batch1)(stage) },
        _ => throw new IllegalStateException("feed 2 failed"))) { (fs, stage) =>
        StreamingOps.windowedSums(fs.readStream.schema(PointSchema).parquet(stage),
          windowUs = W, watermarkUs = 1000000L)
      }
    }
    assert(e.getMessage == "feed 2 failed")
    assert(c.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(root != null && !Files.exists(root))
  }
}
