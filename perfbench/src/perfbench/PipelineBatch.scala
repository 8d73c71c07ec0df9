package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `pipeline_batch`: the operator families. A seeded corpus — documents
  * with planted near-duplicates and clustered embeddings, in the shape of
  * `documents` / `embeddings` test tables — is written as parquet
  * during set-up; then a fixed list of registered queries, one per family,
  * runs through `SparkEntry.queries` in a seed-permuted order, pass after
  * pass. Every execution's rows are hashed order-independently and must
  * equal the first pass's; the last pass's rows are written out so that
  * `run.py` can compare them with the query's own DuckDB oracle
  * (`SparkEntry.oracleSql`) over the same parquet. */
object PipelineBatch {
  /** One query per family: dedup, text and multimodal. */
  val Queries: Seq[String] = Seq("dedup_minhash_lsh", "text_lm_score", "mm_decode_jpeg")
  val NDocs = 240
  val NVecs = 240
  val Dim = 64
  /** Passes over the list per run: one per ~4 s of run length (a pass takes
    * ~3.5 s of one core), at least 2. */
  def passes(seconds: Int): Int = math.round(seconds / 4.0).toInt.max(2)

  private val Vocab: IndexedSeq[String] = ("the a fast slow big small key order sort table scan " +
    "merge part window hash join batch stream spark group query row data filter customer line " +
    "value agg column vector dup index page site model token word text clean label score").split(' ').toIndexedSeq
  private val Langs = IndexedSeq("fr", "es", "zh", "de")

  final case class Corpus(docs: Seq[Row], vecs: Seq[Row], digest: String, nearDups: Int)

  /** Documents of 8..90 words over a small vocabulary, 40% `en`; every
    * sixth is a copy of an earlier one of at least 30 words with one word
    * replaced (Jaccard of 3-shingles >= 0.8). Embeddings: 64 dims, ten
    * labelled clusters, every fifth a near-copy of an earlier vector. The
    * seed picks the words, values and order, not the amounts: the lengths
    * and languages are a fixed list in a seeded order, so every seed gives
    * the queries the same work. */
  def generate(seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    val d = new F2.Digest
    val words = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val langs = mutable.ArrayBuffer.empty[String]
    var nearDups = 0
    val originals = NDocs - NDocs / 6
    val shapes = shuffle(rnd, (0 until originals).map { k =>
      (8 + k * 83 / originals, if (k % 5 < 2) "en" else Langs(k % Langs.size))
    })
    var nextShape = 0
    val docs = (0 until NDocs).map { i =>
      val long = words.indices.filter(words(_).size >= 30)
      val (ws, lang) =
        if (i % 6 == 5 && long.nonEmpty) {
          val j = long(rnd.nextInt(long.size))
          nearDups += 1
          (words(j).updated(rnd.nextInt(words(j).size), Vocab(rnd.nextInt(Vocab.size))), langs(j))
        } else {
          val (n, lang) = shapes(nextShape % originals)
          nextShape += 1
          (IndexedSeq.fill(n)(Vocab(rnd.nextInt(Vocab.size))), lang)
        }
      words += ws
      langs += lang
      val text = ws.mkString(" ")
      val r = Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      r.toSeq.foreach(v => d.add(F2.canon(v)))
      r
    }
    val centres = IndexedSeq.fill(10)(Array.fill(Dim)(rnd.nextDouble() * 2 - 1))
    val made = mutable.ArrayBuffer.empty[Array[Float]]
    val vecs = (0 until NVecs).map { i =>
      val label = rnd.nextInt(10)
      val v =
        if (i % 5 == 4) {
          val src = made(rnd.nextInt(made.size))
          src.map(x => (x + (rnd.nextDouble() - 0.5) * 0.02).toFloat)
        } else centres(label).map(c => (0.3 * c + rnd.nextDouble() - 0.5).toFloat)
      made += v
      v.foreach(x => d.add(java.lang.Float.floatToRawIntBits(x).toLong))
      d.add(label.toLong)
      Row(i.toLong, v.toSeq, label)
    }
    Corpus(docs, vecs, d.hex, nearDups)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Order-independent digest of a result: the row count and the sum
    * (mod 2^64) of a 64-bit hash of each row's canonical text. */
  final case class ResultHash(rows: Long, sum: Long) {
    override def toString: String = f"$rows rows, hash $sum%016x"
  }

  def canonValue(v: Any): String = v match {
    case s: scala.collection.Seq[_] => s.map(canonValue).mkString("[", ",", "]")
    case r: Row                     => r.toSeq.map(canonValue).mkString("(", ",", ")")
    case other                      => F2.canon(other)
  }

  def hashRows(rows: Seq[Row]): ResultHash = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(r.toSeq.map(canonValue).mkString("|").getBytes(StandardCharsets.UTF_8))
      sum += ByteBuffer.wrap(h).getLong
    }
    ResultHash(rows.size.toLong, sum)
  }

  /** The check's self-test input: one row dropped, or one added to an empty result. */
  def corrupted(rows: Seq[Row]): Seq[Row] = if (rows.nonEmpty) rows.tail else Seq(Row(0L))

  def shuffled(rnd: SplittableRandom): Seq[String] = shuffle(rnd, Queries)

  private def shuffle[T: scala.reflect.ClassTag](rnd: SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  final case class Exec(query: String, id: String, wallNs: Long, cpuNs: Long)

  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val out = ctx.out
    val setup0 = System.nanoTime()
    val corpus = generate(ctx.seed)
    val nPasses = passes(ctx.seconds)
    out.info("input_sha256") = corpus.digest
    out.info("sizes") = s"documents=$NDocs near_dup_documents=${corpus.nearDups} embeddings=$NVecs " +
      s"dim=$Dim queries=${Queries.size} passes=$nPasses"
    val data = ctx.dir("pipeline-data")
    ctx.op("stage", "setup:stage") {
      spark.createDataFrame(corpus.docs.asJava, docSchema).coalesce(1).write.parquet(s"$data/documents.parquet")
      spark.createDataFrame(corpus.vecs.asJava, vecSchema).coalesce(1).write.parquet(s"$data/embeddings.parquet")
    }
    val defs = SparkEntry.queries

    val first = mutable.Map.empty[String, ResultHash]
    val last = mutable.Map.empty[String, (Seq[Row], StructType)]
    val execs = mutable.ArrayBuffer.empty[Exec]
    def execute(q: String, id: String, record: Boolean): Unit = {
      var wall = 0L
      var cpu = 0L
      out.attempt(id) {
        ctx.op("query", id) {
          val t0 = System.nanoTime()
          val c0 = Jvm.cpuNs()
          val df = defs(q)(spark, data)
          val rows = df.collect().toSeq
          wall = System.nanoTime() - t0
          cpu = Jvm.cpuNs() - c0
          (rows, df.schema)
        }
      } { case (rows, _) =>
        val h = hashRows(rows)
        first.get(q) match {
          case None => first(q) = h; None
          case Some(f) if f == h => None
          case Some(f) => Some(s"$q returned $h, the first pass $f")
        }
      }.foreach { res =>
        last(q) = res
        if (record) execs += Exec(q, id, wall, cpu)
      }
    }

    // warm-up: one pass over the list, its results are the reference hashes
    Queries.foreach(q => execute(q, s"setup:$q", record = false))
    val setupS = (System.nanoTime() - setup0) / 1e9

    ctx.startMeasure()
    val rnd = new SplittableRandom(ctx.seed)
    val m0 = System.nanoTime()
    val passNs = (0 until nPasses).map { p =>
      val order = shuffled(rnd)
      if (p == 0) out.info("order") = order.mkString(",")
      val before = execs.map(_.wallNs).sum
      order.foreach { q =>
        execute(q, s"m:$q:$p", record = true)
        ctx.calib.slices(3)
      }
      execs.map(_.wallNs).sum - before
    }
    val elapsed = (System.nanoTime() - m0) / 1e9
    ctx.endMeasure()

    // self-test of the pass-to-pass check, then the rows for the oracle check
    first.headOption.foreach { case (q, h) =>
      if (hashRows(corrupted(last(q)._1)) == h)
        out.problem(s"self-test: the result hash of $q did not change on a corrupted result")
    }
    val dump = ctx.dir("pipeline-results")
    last.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$dump/$q")
    }
    val oracle = Queries.filter(last.contains).map(q =>
      q -> Json.str(SparkEntry.oracleSql.getOrElse(q, sys.error(s"$q has no oracle"))))
    Files.write(Paths.get(dump, "oracle.json"), Json.obj(Seq(
      "data" -> Json.str(data), "results" -> Json.str(dump),
      "executions" -> Json.obj(Queries.map(q => q -> (execs.count(_.query == q) + 1).toString)),
      "hashes" -> Json.obj(first.toSeq.sortBy(_._1).map { case (q, h) => q -> Json.str(h.toString) }),
      "oracle" -> Json.obj(oracle))).getBytes(StandardCharsets.UTF_8))

    val ms = execs.map(_.wallNs / 1e6).toSeq
    val busyS = execs.map(_.wallNs).sum / 1e9
    ctx.putCpuPerOp(execs.map(_.cpuNs).sum, execs.size)
    out.put(out.report, "queries_per_s", execs.size / busyS, "1/s")
    out.put(out.report, "op_p50_ms", Stats.median(ms), "ms")
    out.putTail("op_tail_ms", ms)
    out.put(out.report, "batch_total_s", Stats.median(passNs.map(_ / 1e9)), "s")
    out.put(out.report, "measured_s", elapsed, "s")
    Queries.foreach { q =>
      val qs = execs.filter(_.query == q)
      if (qs.nonEmpty) out.put(out.report, s"query.$q.p50_s", Stats.median(qs.map(_.wallNs / 1e9).toSeq), "s")
    }

    if (ctx.trace) {
      val L = out.layers
      val ops = ctx.listener.get.ops
      val spans = ctx.tracer.all.filter(s => s.name == "query" && s.op.startsWith("m:")).map(s => s.op -> s).toMap
      Queries.foreach { q =>
        val qs = execs.filter(_.query == q)
        if (qs.nonEmpty) {
          val aggs = qs.flatMap(e => ops.get(e.id))
          val driverNs = qs.map { e =>
            val s = spans(e.id)
            val jobs = ops.get(e.id).toSeq.flatMap(_.intervals).map { case (a, b) =>
              (ctx.tracer.fromWallMs(a) max s.start, ctx.tracer.fromWallMs(b) min s.end)
            }
            (s.end - s.start) - Stats.unionLength(jobs)
          }
          out.put(L, s"query.$q.wall_s", Stats.median(qs.map(_.wallNs / 1e9).toSeq), "s")
          out.put(L, s"query.$q.driver_s", driverNs.sum / 1e9 / qs.size, "s")
          out.put(L, s"query.$q.task_cpu_s", aggs.map(_.cpuNs).sum / 1e9 / qs.size, "s")
          out.put(L, s"query.$q.shuffle_mb", aggs.map(_.shuffleWrite).sum / 1048576.0 / qs.size, "MB")
        }
      }
    }
    setupS
  }
}
