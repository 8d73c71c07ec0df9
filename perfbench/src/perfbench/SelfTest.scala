package perfbench

/** The benchmark's own tests (no Spark session): the order statistics on
  * known arrays, seeded input generation, and the query-mix result check
  * against hand-corrupted results. Run with `run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def expect(what: String)(cond: => Boolean): Unit =
    if (try cond catch { case _: Throwable => false }) passed += 1
    else { failures += 1; println(s"FAIL $what") }

  def main(args: Array[String]): Unit = {
    // nearest-rank percentiles
    val ten = (1 to 10).map(_.toDouble)
    expect("p50 of 1..10 is 5")(Stats.percentile(ten, 50) == 5.0)
    expect("p90 of 1..10 is 9")(Stats.percentile(ten, 90) == 9.0)
    expect("p100 of 1..10 is 10")(Stats.percentile(ten, 100) == 10.0)
    expect("p1 of 1..10 is 1")(Stats.percentile(ten, 1) == 1.0)
    expect("median of one sample")(Stats.median(Seq(7.0)) == 7.0)
    expect("median ignores input order")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median of even count is the lower middle")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    expect("percentile of nothing throws")(scala.util.Try(Stats.percentile(Nil, 50)).isFailure)

    // the tail: exactly ten samples beyond it
    expect("no tail at n = 10")(Stats.tail(ten).isEmpty)
    val eleven = (1 to 11).map(_.toDouble)
    expect("tail of 1..11 is 1 at p9.09")(Stats.tail(eleven).exists(t =>
      t.value == 1.0 && math.abs(t.percentile - 100.0 / 11) < 1e-9 && t.n == 11))
    val hundred = (1 to 100).reverse.map(_.toDouble)
    expect("tail of 1..100 is 90 at p90")(Stats.tail(hundred).contains(Stats.Tail(90.0, 90.0, 100)))
    val thousand = (1 to 1000).map(_.toDouble)
    expect("tail of 1..1000 is 990 at p99")(Stats.tail(thousand).contains(Stats.Tail(99.0, 990.0, 1000)))
    val spiky = Seq.fill(40)(1.0) ++ Seq.fill(10)(100.0)
    expect("ten spikes in 50 stay beyond the tail")(Stats.tail(spiky).map(_.value).contains(1.0))
    val spiky11 = Seq.fill(39)(1.0) ++ Seq.fill(11)(100.0)
    expect("eleven spikes in 50 reach the tail")(Stats.tail(spiky11).map(_.value).contains(100.0))

    // interval unions (driver time = wall minus time covered by jobs)
    expect("union of overlapping intervals")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    expect("union ignores empty intervals")(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    expect("nested intervals count once")(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)

    // seeded inputs: same seed, same bytes; another seed, other bytes
    expect("query_mix inputs repeat for a seed")(QueryMix.generate(7)._2 == QueryMix.generate(7)._2)
    expect("query_mix inputs differ across seeds")(QueryMix.generate(7)._2 != QueryMix.generate(8)._2)
    expect("ingest_stream inputs repeat for a seed")(IngestStream.generate(7, 12).digest == IngestStream.generate(7, 12).digest)
    expect("ingest_stream inputs differ across seeds")(IngestStream.generate(7, 12).digest != IngestStream.generate(8, 12).digest)
    Seq(7L, 8L).foreach { seed =>
      val st = IngestStream.generate(seed, 12)
      expect(s"no ingest_stream batch straddles a bucket (seed $seed)")((0 until st.nBatches).forall { b =>
        val r = st.batch(b)
        Math.floorDiv(st.times(r.head), IngestStream.BucketWidth) == Math.floorDiv(st.times(r.last), IngestStream.BucketWidth)
      })
      expect(s"pipeline_batch plants a fixed number of near-duplicates (seed $seed)")(
        PipelineBatch.generate(seed).nearDups == PipelineBatch.NDocs / 6)
    }
    expect("pipeline_batch inputs repeat for a seed")(PipelineBatch.generate(7).digest == PipelineBatch.generate(7).digest)
    expect("pipeline_batch inputs differ across seeds")(PipelineBatch.generate(7).digest != PipelineBatch.generate(8).digest)
    expect("pipeline_batch plants near-duplicate documents")(PipelineBatch.generate(7).nearDups > 10)

    // the pipeline result hash: order-independent, but not blind
    val rows = PipelineBatch.generate(5).docs.take(20)
    val h = PipelineBatch.hashRows(rows)
    expect("result hash ignores row order")(PipelineBatch.hashRows(rows.reverse) == h)
    expect("result hash sees a dropped row")(PipelineBatch.hashRows(PipelineBatch.corrupted(rows)) != h)
    expect("result hash sees a changed value")(
      PipelineBatch.hashRows(org.apache.spark.sql.Row(999L, "x", "en", "src0", 1L) +: rows.tail) != h)
    expect("result hash sees a row added to an empty result")(
      PipelineBatch.hashRows(PipelineBatch.corrupted(Nil)) != PipelineBatch.hashRows(Nil))
    expect("F2 nulls are rare but present") {
      val rnd = new java.util.SplittableRandom(1)
      val nulls = (0 until 20000).map(_ => F2.values(rnd).count(_ == null)).sum
      nulls > 80 && nulls < 250 // 8 fields x 20000 points x 1/1000
    }

    // the query-mix check against its model
    val (model, _) = QueryMix.generate(3)
    val s = model(0)
    val read = QueryMix.Read("select_range", 0, s.times(10), s.times(19), 0, 0)
    val want = QueryMix.expect(model, read)
    expect("model select_range has 10 rows")(want.size == 10)
    expect("check accepts the model's own answer")(QueryMix.check(model, read, want).isEmpty)
    expect("check rejects a dropped row")(QueryMix.check(model, read, QueryMix.corrupted(want)).isDefined)
    expect("check rejects a changed value")(
      QueryMix.check(model, read, want.updated(3, want(3).updated(6, "d0"))).isDefined)
    expect("check rejects reordered rows")(QueryMix.check(model, read, want.reverse).isDefined)
    val empty = QueryMix.Read("select_range", 0, s.tf - 100, s.tf - 1, 0, 0)
    expect("check rejects rows where the model has none")(
      QueryMix.expect(model, empty).isEmpty && QueryMix.check(model, empty, QueryMix.corrupted(Nil)).isDefined)
    val count = QueryMix.Read("count", 0, s.times(0), s.times(99), 0, 0)
    expect("model count is (100, first, last)")(QueryMix.expect(model, count) ==
      Seq(Seq(F2.canon(100L), F2.canon(s.times(0)), F2.canon(s.times(99)))))
    val sums = QueryMix.Read("sum_windows", 0, s.times(0), s.times(500), 0, 10000L)
    expect("model sum windows cover the range")(QueryMix.expect(model, sums).nonEmpty)

    println(s"perfbench selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
