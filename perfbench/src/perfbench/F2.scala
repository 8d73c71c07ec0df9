package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.engine.{Field, FieldType, MeasurementSchema}

/** The soak-test measurement shape (FIXTURES F2): eight nullable fields
  * covering all seven field types, each NULL with probability 1/1000, and
  * random inter-arrival times of 1..1000 ns.
  *
  * Float values are chosen exact in both binary and decimal form (f32 in
  * 1/64 steps, f64 in cents), so model arithmetic and the engine's decimal
  * sums agree bit for bit. */
object F2 {
  val schema: MeasurementSchema = MeasurementSchema(Seq(
    Field("field_bool", FieldType.Bool),
    Field("field_u32_1", FieldType.U32),
    Field("field_u32_2", FieldType.U32),
    Field("field_u64", FieldType.U64),
    Field("field_f32", FieldType.F32),
    Field("field_f64", FieldType.F64),
    Field("field_i32", FieldType.I32),
    Field("field_i64", FieldType.I64)))

  val fieldNames: Seq[String] = schema.fields.map(_.name)
  /** Index of the f64 field the windowed reads aggregate. */
  val F64 = 5
  val F64Name = "field_f64"

  /** Fixed-width bytes of one point as a user hands it over: time_ns plus
    * the eight field values (1 + 4 + 4 + 8 + 4 + 8 + 4 + 8). */
  val UserBytesPerPoint = 8 + 41

  /** Rows with the series tag (stream / bulk input). */
  val rowStruct: StructType = schema.rowStruct
  /** Rows without it (single-series `writePoints`). */
  val dataStruct: StructType = schema.dataStruct

  /** Time base of every generated store (2023-11-14T22:13:20Z). */
  val T0 = 1700000000000000000L

  def nextGap(rnd: SplittableRandom): Long = 1L + rnd.nextInt(1000)

  /** One point's field values in schema order; null is SQL NULL. */
  def values(rnd: SplittableRandom): Array[Any] = {
    def nullable(v: => Any): Any = if (rnd.nextInt(1000) == 0) null else v
    Array[Any](
      nullable(rnd.nextBoolean()),
      nullable(rnd.nextLong(1L << 32)),
      nullable(rnd.nextLong(1L << 32)),
      nullable(new JBigDecimal(new BigInteger(1, ByteBuffer.allocate(8).putLong(rnd.nextLong()).array()))),
      nullable((rnd.nextInt(2000001) - 1000000) / 64.0f),
      nullable((rnd.nextInt(20000001) - 10000000) / 100.0),
      nullable(rnd.nextInt()),
      nullable(rnd.nextLong()))
  }

  def row(series: String, t: Long, v: Array[Any]): Row = Row.fromSeq(series +: t +: v.toSeq)
  def dataRow(t: Long, v: Array[Any]): Row = Row.fromSeq(t +: v.toSeq)

  /** Canonical, exact text of one value: results and the model are compared
    * through it (floats by their raw bits, decimals by their integer value). */
  def canon(v: Any): String = v match {
    case null                => "null"
    case b: Boolean          => if (b) "T" else "F"
    case f: Float            => "f" + java.lang.Float.floatToRawIntBits(f)
    case d: Double           => "d" + java.lang.Double.doubleToRawLongBits(d)
    case d: JBigDecimal      => "n" + d.toBigIntegerExact
    case d: scala.math.BigDecimal => "n" + d.bigDecimal.toBigIntegerExact
    case i: Int              => "l" + i
    case l: Long             => "l" + l
    case s: String           => "s" + s
    case other               => other.getClass.getSimpleName + ":" + other
  }

  /** Cents of an f64 value (exact by construction). */
  def cents(d: Double): Long = math.round(d * 100.0)

  /** The engine's exact decimal-2 sum, as the double it returns. */
  def centsToDouble(c: Long): Double = JBigDecimal.valueOf(c, 2).doubleValue

  /** Streaming digest of generated inputs, for the input checksum. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      md.update(ByteBuffer.allocate(4).putInt(b.length).array()); md.update(b)
    }
    def add(l: Long): Unit = md.update(ByteBuffer.allocate(8).putLong(l).array())
    def point(series: String, t: Long, v: Array[Any]): Unit = {
      add(series); add(t); v.foreach(x => add(canon(x)))
    }
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }
}
