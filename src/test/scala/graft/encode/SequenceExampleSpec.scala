package graft.encode

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** tf.SequenceExample wire-format round-trips — the format the
  * reference declared but never implemented (converters.py:55-57). */
class SequenceExampleSpec extends AnyFunSuite {
  import TfExample._

  test("wire round-trip: context + feature lists") {
    val context = Map[String, FeatureValue](
      "id" -> Int64s(Seq(42L)), "label" -> Bytes(Seq("pos".getBytes)))
    val lists = Map[String, Seq[FeatureValue]](
      "embeds" -> Seq(Floats(Seq(1.5f)), Floats(Seq(-2.25f)), Floats(Seq(0f))),
      "toks" -> Seq(Bytes(Seq("a".getBytes)), Bytes(Seq("b".getBytes))),
      "empty_list" -> Seq.empty)
    val (ctx, ls) = decodeSequence(encodeSequence(context, lists))
    assert(ctx("id") == Int64s(Seq(42L)))
    val Bytes(Seq(lbl)) = ctx("label")
    assert(new String(lbl) == "pos")
    assert(ls("embeds") == Seq(Floats(Seq(1.5f)), Floats(Seq(-2.25f)), Floats(Seq(0f))))
    assert(ls("toks").map { case Bytes(Seq(b)) => new String(b) } == Seq("a", "b"))
    assert(ls("empty_list") == Seq.empty)
  }

  test("row encoder: scalars to context, arrays to steps, nested arrays to multi-value steps") {
    val schema = StructType(Seq(
      StructField("uid", LongType),
      StructField("name", StringType),
      StructField("scores", ArrayType(DoubleType)),
      StructField("token_ids", ArrayType(ArrayType(IntegerType)))))
    val row = Row(7L, "doc", Seq(0.5, 1.5), Seq(Seq(1, 2), Seq(3)))
    val (ctx, ls) = decodeSequence(TfSequenceExampleEncoder.encode(schema, row))
    assert(ctx("uid") == Int64s(Seq(7L)))
    assert(ctx.size == 2)
    assert(ls("scores") == Seq(Floats(Seq(0.5f)), Floats(Seq(1.5f))))
    assert(ls("token_ids") == Seq(Int64s(Seq(1L, 2L)), Int64s(Seq(3L))))
  }

  test("null handling: null scalar -> empty context feature, null array -> empty list, null element -> empty step") {
    val schema = StructType(Seq(
      StructField("uid", LongType),
      StructField("vals", ArrayType(LongType)),
      StructField("gone", ArrayType(StringType))))
    val row = Row(null, Seq(1L, null, 3L), null)
    val (ctx, ls) = decodeSequence(TfSequenceExampleEncoder.encode(schema, row))
    assert(ctx("uid") == Empty)
    assert(ls("vals") == Seq(Int64s(Seq(1L)), Empty, Int64s(Seq(3L))))
    assert(ls("gone") == Seq.empty)
  }

  test("row encoder bytes are pinned for the rows above") {
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val nested = StructType(Seq(
      StructField("uid", LongType),
      StructField("name", StringType),
      StructField("scores", ArrayType(DoubleType)),
      StructField("token_ids", ArrayType(ArrayType(IntegerType)))))
    assert(hex(TfSequenceExampleEncoder.encode(nested,
      Row(7L, "doc", Seq(0.5, 1.5), Seq(Seq(1, 2), Seq(3))))) ==
      "0a1f0a0f0a046e616d6512070a050a03646f630a0c0a0375696412051a030a0107123e0a1e0a06" +
        "73636f72657312140a0812060a040000003f0a0812060a040000c03f0a1c0a09746f6b656e5f" +
        "696473120f0a061a040a0201020a051a030a0103")
    val nulls = StructType(Seq(
      StructField("uid", LongType),
      StructField("vals", ArrayType(LongType)),
      StructField("gone", ArrayType(StringType))))
    assert(hex(TfSequenceExampleEncoder.encode(nulls, Row(null, Seq(1L, null, 3L), null))) ==
      "0a090a070a03756964120012240a080a04676f6e6512000a180a0476616c7312100a051a030a01" +
        "010a000a051a030a0103")
  }
}
