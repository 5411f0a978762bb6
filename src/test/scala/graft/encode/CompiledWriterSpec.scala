package graft.encode

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.run.Runner

/** The per-row encoders the compiled writers replaced: every row goes
  * through a FeatureValue map and [[TfExample.encode]] /
  * [[TfExample.encodeSequence]]. Kept as the byte-level oracle. */
object ReferenceEncoders {
  import TfExample._

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)

  def example(schema: StructType, row: Row): Array[Byte] = {
    val features = schema.fields.zipWithIndex.map { case (field, i) =>
      val value: FeatureValue =
        if (row.isNullAt(i)) Empty
        else field.dataType match {
          case ArrayType(elem, _) =>
            encodeSeq(elem, row.getSeq[Any](i).filter(_ != null), field.name)
          case dt => encodeSeq(dt, Seq(row.get(i)), field.name)
        }
      field.name -> value
    }.toMap
    TfExample.encode(features)
  }

  def sequence(schema: StructType, row: Row): Array[Byte] = {
    var context = Map.empty[String, FeatureValue]
    var lists = Map.empty[String, Seq[FeatureValue]]
    schema.fields.zipWithIndex.foreach { case (field, i) =>
      field.dataType match {
        case ArrayType(ArrayType(inner, _), _) =>
          lists += field.name -> (
            if (row.isNullAt(i)) Seq.empty[FeatureValue]
            else row.getSeq[Seq[Any]](i).map { vs =>
              if (vs == null) Empty else encodeSeq(inner, vs.filter(_ != null), field.name)
            })
        case ArrayType(elem, _) =>
          lists += field.name -> (
            if (row.isNullAt(i)) Seq.empty[FeatureValue]
            else row.getSeq[Any](i).map { v =>
              if (v == null) Empty else encodeSeq(elem, Seq(v), field.name)
            })
        case dt =>
          context += field.name -> (
            if (row.isNullAt(i)) Empty else encodeSeq(dt, Seq(row.get(i)), field.name))
      }
    }
    TfExample.encodeSequence(context, lists)
  }

  private def encodeSeq(dt: DataType, vs: Seq[Any], name: String): FeatureValue = dt match {
    case LongType    => Int64s(vs.map(_.asInstanceOf[Long]))
    case IntegerType => Int64s(vs.map(_.asInstanceOf[Int].toLong))
    case ShortType   => Int64s(vs.map(_.asInstanceOf[Short].toLong))
    case ByteType    => Int64s(vs.map(_.asInstanceOf[Byte].toLong))
    case BooleanType => Int64s(vs.map(v => if (v.asInstanceOf[Boolean]) 1L else 0L))
    case DoubleType  => Floats(vs.map(_.asInstanceOf[Double].toFloat))
    case FloatType   => Floats(vs.map(_.asInstanceOf[Float]))
    case StringType  => Bytes(vs.map(_.asInstanceOf[String].getBytes(UTF_8)))
    case BinaryType  => Bytes(vs.map(_.asInstanceOf[Array[Byte]]))
    case TimestampType =>
      Bytes(vs.map(v => TsFmt.format(v.asInstanceOf[Timestamp].toInstant).getBytes(UTF_8)))
    case TimestampNTZType =>
      Bytes(vs.map(v =>
        TsFmt.format(v.asInstanceOf[LocalDateTime].toInstant(ZoneOffset.UTC)).getBytes(UTF_8)))
    case DateType =>
      Bytes(vs.map(v => v.asInstanceOf[java.sql.Date].toString.getBytes(UTF_8)))
    case other =>
      throw new IllegalArgumentException(
        s"column '$name': type $other is not representable as tf.train.Feature " +
          "(supported: int/long/bool -> int64_list, float/double -> float_list, " +
          "string/binary/timestamp/date -> bytes_list, plus arrays thereof)")
  }
}

/** Generated schemas and rows for the writer-vs-reference properties. */
object EncodeGen {
  import Arbitrary.arbitrary

  val leafTypes: Seq[DataType] = Seq(LongType, IntegerType, ShortType, ByteType,
    BooleanType, DoubleType, FloatType, StringType, BinaryType, TimestampType,
    TimestampNTZType, DateType)
  val unsupported: Seq[DataType] = Seq(DecimalType(10, 2), MapType(StringType, LongType),
    ArrayType(DecimalType(10, 2)), ArrayType(ArrayType(DecimalType(10, 2))),
    ArrayType(ArrayType(LongType)))

  // year -1 .. ~12100: covers TsFmt's sign/era renderings outside 1-9999
  private val MinMs = -62200000000000L
  private val MaxMs = 320000000000000L
  private val ModernMs = (-2208988800000L, 4102444800000L) // 1900 .. 2100

  private val genMs: Gen[Long] =
    Gen.frequency(4 -> Gen.choose(ModernMs._1, ModernMs._2), 1 -> Gen.choose(MinMs, MaxMs))

  val genText: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumStr,
    3 -> Gen.listOf(arbitrary[Char]).map(_.mkString), // incl. lone surrogates
    2 -> Gen.listOf(Gen.oneOf("é", "名", "😀", "ß", "\u0000", " ")).map(_.mkString),
    1 -> Gen.choose(16500, 20000).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString))

  val genName: Gen[String] = Gen.frequency(
    6 -> Gen.identifier,
    2 -> Gen.nonEmptyListOf(Gen.oneOf("é", "名", "k", "😀", ".")).map(_.mkString),
    1 -> Gen.choose(128, 300).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString),
    1 -> Gen.const(""))

  def genLeaf(dt: DataType): Gen[Any] = dt match {
    case LongType => Gen.oneOf(Gen.long, Gen.choose(-300L, 300L),
      Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 0L))
    case IntegerType => Gen.oneOf(arbitrary[Int], Gen.choose(-200, 200))
    case ShortType => arbitrary[Short]
    case ByteType => arbitrary[Byte]
    case BooleanType => arbitrary[Boolean]
    case DoubleType => Gen.oneOf(arbitrary[Double],
      Gen.oneOf(Double.NaN, Double.NegativeInfinity, -0.0, 1e300, 1e-300))
    case FloatType => Gen.oneOf(arbitrary[Float], Gen.oneOf(Float.NaN, -0.0f))
    case StringType => genText
    case BinaryType => Gen.listOf(arbitrary[Byte]).map(_.toArray)
    case TimestampType => for {
      ms <- genMs
      nanos <- Gen.oneOf(Gen.const(0), Gen.choose(0, 999999999))
    } yield { val t = new Timestamp(ms); t.setNanos(nanos); t }
    case TimestampNTZType => for {
      ms <- genMs
      nanos <- Gen.choose(0, 999999999)
    } yield LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L), nanos, ZoneOffset.UTC)
    case DateType => genMs.map(new java.sql.Date(_))
    case _ => Gen.const(new java.math.BigDecimal("1.5")) // any non-NULL value
  }

  /** Arrays with NULL elements, empty arrays, and ≥ 16 KiB payloads. */
  def genArray(elem: Gen[Any], big: Boolean = true): Gen[Seq[Any]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    6 -> Gen.listOf(Gen.frequency(6 -> elem, 1 -> Gen.const(null))),
    (if (big) 1 else 0) -> Gen.listOfN(2000, elem))

  def genValue(dt: DataType): Gen[Any] = dt match {
    case ArrayType(ArrayType(e, _), _) =>
      genArray(Gen.frequency(5 -> genArray(genLeaf(e), big = false), 1 -> Gen.const(null)),
        big = false)
    case ArrayType(e, _) => genArray(genLeaf(e))
    case _ => genLeaf(dt)
  }

  /** A schema of 0-8 distinctly named columns and a row over it;
    * `nested` admits array<array<_>> as a supported shape. */
  def genCase(nested: Boolean): Gen[(StructType, Row)] = {
    val genType: Gen[DataType] = Gen.frequency(
      10 -> Gen.oneOf(leafTypes),
      5 -> Gen.oneOf(leafTypes).map(ArrayType(_)),
      (if (nested) 3 else 0) -> Gen.oneOf(leafTypes).map(t => ArrayType(ArrayType(t))),
      1 -> Gen.oneOf(unsupported))
    for {
      names <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, genName)).map(_.distinct)
      types <- Gen.listOfN(names.size, genType)
      schema = StructType(names.zip(types).map { case (n, t) => StructField(n, t) })
      allNull <- Gen.frequency(1 -> true, 12 -> false)
      values <- Gen.sequence[List[Any], Any](schema.fields.toList.map { f =>
        if (allNull) Gen.const(null)
        else Gen.frequency(6 -> genValue(f.dataType), 1 -> Gen.const(null))
      })
    } yield (schema, Row.fromSeq(values))
  }

  /** Whether two encodes agree: the same bytes, or the same error. */
  def agree(got: => Array[Byte], want: => Array[Byte]): Prop = {
    val (g, w) = (Try(got).toEither, Try(want).toEither)
    val same = (g, w) match {
      case (Right(a), Right(b)) => java.util.Arrays.equals(a, b)
      case (Left(a), Left(b)) => a.getMessage == b.getMessage
      case _ => false
    }
    def show(o: Either[Throwable, Array[Byte]]) =
      o.fold(_.toString, b => s"${b.length} bytes ${b.take(64).map(x => f"${x & 0xff}%02x").mkString}")
    same :| s" got=${show(g)}\nwant=${show(w)}"
  }
}

/** The compiled writers against the per-row reference, byte for byte. */
class CompiledWriterSpec extends AnyFunSuite {
  import EncodeGen._

  private def check(name: String, prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(1000).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, s"$name: ${res.status}")
    assert(res.succeeded >= 1000)
  }

  test("property: Example writer bytes equal the reference over 1000 schemas and rows") {
    var big, longName, nonAscii, negative, allNull, failed = 0
    check("tf.Example", Prop.forAll(genCase(nested = false)) { case (schema, row) =>
      val want = Try(ReferenceEncoders.example(schema, row))
      want.fold(_ => failed += 1, b => if (b.length >= 16384) big += 1)
      if (schema.fieldNames.exists(_.getBytes(UTF_8).length >= 128)) longName += 1
      if (schema.fieldNames.exists(_.exists(_ > 127))) nonAscii += 1
      if (row.toSeq.exists { case l: Long => l < 0; case _ => false }) negative += 1
      if (schema.nonEmpty && row.toSeq.forall(_ == null)) allNull += 1
      s"schema=${schema.simpleString}" |: agree(TfExampleEncoder.encode(schema, row), want.get)
    })
    // the generator really reached the multi-byte-length and edge cases
    Seq("≥16 KiB" -> big, "≥128 B name" -> longName, "non-ASCII name" -> nonAscii,
      "negative long" -> negative, "all-NULL row" -> allNull, "unsupported" -> failed)
      .foreach { case (what, n) => assert(n > 0, s"no generated case with $what") }
  }

  test("property: SequenceExample writer bytes equal the reference over 1000 schemas and rows") {
    check("tf.SequenceExample", Prop.forAll(genCase(nested = true)) { case (schema, row) =>
      s"schema=${schema.simpleString}" |: agree(
        TfSequenceExampleEncoder.encode(schema, row), ReferenceEncoders.sequence(schema, row))
    })
  }

  test("one compiled writer reused across rows matches the reference on every row") {
    val schema = StructType(leafTypes.zipWithIndex.flatMap { case (t, i) =>
      Seq(StructField(s"s$i", t), StructField(s"a$i", ArrayType(t)))
    })
    val genRow = Gen.sequence[List[Any], Any](schema.fields.toList.map(f =>
      Gen.frequency(6 -> genValue(f.dataType), 1 -> Gen.const(null)))).map(Row.fromSeq)
    val write = TfExampleEncoder.compile(schema)
    (0 until 200).foreach { i =>
      val row = genRow.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val (got, want) = (write(row), ReferenceEncoders.example(schema, row))
      assert(java.util.Arrays.equals(got, want),
        s"row $i: ${got.length} vs ${want.length} bytes, first difference at " +
          got.indices.find(j => j >= want.length || got(j) != want(j)))
    }
  }

  test("an unsupported type fails on its first non-NULL value, not at compile") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DecimalType(10, 2))))
    val write = TfExampleEncoder.compile(schema)
    assert(TfExample.decode(write(Row(1L, null)))("d") == TfExample.Empty)
    val e = intercept[IllegalArgumentException](write(Row(2L, new java.math.BigDecimal("1.50"))))
    assert(e.getMessage.startsWith("column 'd': type DecimalType(10,2) is not representable"))
    // a non-NULL array is a non-NULL value even when it holds no element
    val arr = StructType(Seq(StructField("a", ArrayType(DecimalType(10, 2)))))
    intercept[IllegalArgumentException](TfExampleEncoder.encode(arr, Row(Seq())))
    intercept[IllegalArgumentException](TfExampleEncoder.encode(arr, Row(Seq(null))))
    // sequence steps: a NULL element is an empty step, an empty inner array a value
    val nested = StructType(Seq(StructField("n", ArrayType(ArrayType(DecimalType(10, 2))))))
    val steps = TfExample.decodeSequence(TfSequenceExampleEncoder.encode(nested, Row(Seq(null))))._2
    assert(steps("n") == Seq(TfExample.Empty))
    intercept[IllegalArgumentException](TfSequenceExampleEncoder.encode(nested, Row(Seq(Seq()))))
  }

  test("duplicate column names are rejected at compile, naming them") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType),
      StructField("a", StringType)))
    Seq(TfExampleEncoder, TfSequenceExampleEncoder).foreach { enc =>
      val e = intercept[IllegalArgumentException](enc.compile(schema))
      assert(e.getMessage.contains("duplicate column names 'a'"))
    }
  }
}

/** The encode step as Runner runs it. */
class RunnerEncodeSpec extends SparkSpec {
  import TfExample._

  test("a column of an unsupported type that is NULL in every row still encodes") {
    val df = spark.range(3).select(col("id"), lit(null).cast("decimal(10,2)").as("d"))
    val decoded = Runner.encode(df).collect().map(decode)
    assert(decoded.length == 3)
    assert(decoded.forall(m => m.keySet == Set("id", "d") && m("d") == Empty))
    assert(decoded.map(_("id")).toSet == Set(0L, 1L, 2L).map(v => Int64s(Seq(v))))
  }

  test("duplicate column names are rejected before any task runs, naming them") {
    val df = spark.range(2).select(col("id").as("x"), col("id").as("y"), (col("id") + 1).as("x"))
    val e = intercept[IllegalArgumentException](Runner.encode(df))
    assert(e.getMessage.contains("duplicate column names 'x'"))
  }

  test("a PIT feature named like an entity column is rejected, not collapsed") {
    val job = graft.run.JobConfig(
      registry = graft.registry.YamlRegistry.load(
        """project: dup
          |views:
          |  - name: order_features
          |    source: orders.parquet
          |    entities: [o_custkey]
          |    timestamp: o_orderdate
          |    features: [o_totalprice]
          |""".stripMargin),
      dataDir = sf(),
      features = Left(Seq("order_features:o_totalprice")),
      entityQuery = "")
    val joined = Runner.retrieve(spark, job,
      "SELECT user_id AS o_custkey, ts AS event_timestamp, value AS o_totalprice FROM events")
    assert(joined.columns.count(_ == "o_totalprice") == 2)
    val e = intercept[IllegalArgumentException](Runner.encode(joined))
    assert(e.getMessage.contains("'o_totalprice'"))
    assert(e.getMessage.contains("fullFeatureNames"))
  }
}
