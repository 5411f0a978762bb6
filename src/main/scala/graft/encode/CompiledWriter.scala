package graft.encode

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Growable protobuf output buffer. The compiled writers stage value
  * payloads in one (reused across records) and write each finished
  * record into one allocated at its exact size. */
private[encode] final class WireBuf(var bytes: Array[Byte]) {
  var pos = 0

  private def ensure(n: Int): Unit =
    if (pos + n > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, pos + n))

  def byte(b: Int): Unit = { ensure(1); bytes(pos) = b.toByte; pos += 1 }

  def varint(v0: Long): Unit = {
    // exact near the end: an exact-size record buffer must never grow
    if (pos + 10 > bytes.length) ensure(WireBuf.varintSize(v0))
    var v = v0
    while ((v & ~0x7fL) != 0) { bytes(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7 }
    bytes(pos) = v.toByte; pos += 1
  }

  def fixed32(v: Int): Unit = {
    ensure(4)
    bytes(pos) = v.toByte; bytes(pos + 1) = (v >>> 8).toByte
    bytes(pos + 2) = (v >>> 16).toByte; bytes(pos + 3) = (v >>> 24).toByte
    pos += 4
  }

  def copy(src: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len); System.arraycopy(src, off, bytes, pos, len); pos += len
  }

  /** Non-negative `v` as `width` zero-padded ASCII digits. */
  def digits(v: Int, width: Int): Unit = {
    ensure(width)
    var x = v; var d = pos + width - 1
    while (d >= pos) { bytes(d) = ('0' + x % 10).toByte; x /= 10; d -= 1 }
    pos += width
  }

  /** tag(field, wire type 2) + length: a length-delimited field's head. */
  def header(field: Int, len: Int): Unit = { byte((field << 3) | 2); varint(len.toLong) }

  /** One `repeated bytes value = 1` element of a BytesList. */
  def bytesField(b: Array[Byte]): Unit = { header(1, b.length); copy(b, 0, b.length) }
}

private[encode] object WireBuf {
  def varintSize(v: Long): Int = {
    var n = 1; var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Encoded size of a length-delimited field (1-byte tag) of `len` bytes. */
  def fieldSize(len: Int): Int = 1 + varintSize(len.toLong) + len

  /** Map-entry key `0x0A len name`, serialized once per column. */
  def keyHeader(name: String): Array[Byte] = {
    val b = new WireBuf(new Array[Byte](16))
    b.bytesField(name.getBytes(UTF_8))
    java.util.Arrays.copyOf(b.bytes, b.pos)
  }
}

/** Writes non-NULL values of one Spark type into a `tf.train.Feature`
  * value list — THE type-mapping table (SURVEY.md §1.2), compiled once
  * per column:
  *
  *   - integer/boolean       → int64_list (bool as 0/1)
  *   - float/double          → float_list (lossy float32, like the reference)
  *   - string                → bytes_list (UTF-8)
  *   - binary                → bytes_list
  *   - timestamp             → bytes_list of ISO-8601 UTC (documented choice)
  *   - date                  → bytes_list of yyyy-MM-dd
  *   - struct/map/decimal…   → rejected, on the first non-NULL value
  */
private[encode] abstract class ValueWriter(val kind: Int) {
  /** Append one non-NULL value to the list payload being staged. */
  def put(v: Any, buf: WireBuf): Unit
  /** Throw if this type has no tf.train.Feature representation. */
  def requireSupported(): Unit = ()
}

private[encode] object ValueWriter {
  /** `Feature.kind` oneof field numbers; [[NoKind]] is the NULL feature. */
  final val NoKind = 0
  final val BytesList = 1
  final val FloatList = 2
  final val Int64List = 3

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)

  def apply(dt: DataType, name: String): ValueWriter = dt match {
    case LongType | IntegerType | ShortType | ByteType => new ValueWriter(Int64List) {
      def put(v: Any, b: WireBuf): Unit = b.varint(v.asInstanceOf[Number].longValue)
    }
    case BooleanType => new ValueWriter(Int64List) {
      def put(v: Any, b: WireBuf): Unit = b.varint(if (v.asInstanceOf[Boolean]) 1L else 0L)
    }
    case DoubleType | FloatType => new ValueWriter(FloatList) {
      def put(v: Any, b: WireBuf): Unit =
        b.fixed32(java.lang.Float.floatToIntBits(v.asInstanceOf[Number].floatValue))
    }
    case StringType => new ValueWriter(BytesList) {
      def put(v: Any, b: WireBuf): Unit = b.bytesField(v.asInstanceOf[String].getBytes(UTF_8))
    }
    case BinaryType => new ValueWriter(BytesList) {
      def put(v: Any, b: WireBuf): Unit = b.bytesField(v.asInstanceOf[Array[Byte]])
    }
    case TimestampType => new ValueWriter(BytesList) {
      def put(v: Any, b: WireBuf): Unit = {
        val t = v.asInstanceOf[java.sql.Timestamp].toInstant
        putIso(LocalDateTime.ofEpochSecond(t.getEpochSecond, t.getNano, ZoneOffset.UTC), b)
      }
    }
    case TimestampNTZType => new ValueWriter(BytesList) { // wall clock, rendered as-if UTC
      def put(v: Any, b: WireBuf): Unit = putIso(v.asInstanceOf[LocalDateTime], b)
    }
    case DateType => new ValueWriter(BytesList) {
      def put(v: Any, b: WireBuf): Unit =
        b.bytesField(v.asInstanceOf[java.sql.Date].toString.getBytes(UTF_8))
    }
    case other => new ValueWriter(NoKind) {
      private def fail() = throw new IllegalArgumentException(
        s"column '$name': type $other is not representable as tf.train.Feature " +
          "(supported: int/long/bool -> int64_list, float/double -> float_list, " +
          "string/binary/timestamp/date -> bytes_list, plus arrays thereof)")
      def put(v: Any, b: WireBuf): Unit = fail()
      override def requireSupported(): Unit = fail()
    }
  }

  /** `TsFmt` text of a UTC wall-clock time, written digit by digit for
    * years 1-9999 (where "yyyy" is plain zero-padded digits) and by
    * `TsFmt` itself outside them. */
  private def putIso(t: LocalDateTime, b: WireBuf): Unit = {
    val year = t.getYear
    if (year < 1 || year > 9999)
      b.bytesField(TsFmt.format(t.toInstant(ZoneOffset.UTC)).getBytes(UTF_8))
    else {
      b.header(1, 27)
      b.digits(year, 4); b.byte('-'); b.digits(t.getMonthValue, 2); b.byte('-')
      b.digits(t.getDayOfMonth, 2); b.byte('T'); b.digits(t.getHour, 2); b.byte(':')
      b.digits(t.getMinute, 2); b.byte(':'); b.digits(t.getSecond, 2); b.byte('.')
      b.digits(t.getNano / 1000, 6); b.byte('Z')
    }
  }
}

/** A Row → protobuf writer compiled once per schema: every column's
  * value writer and serialized key are fixed at construction, and
  * [[write]] reuses one staging buffer across records. Not thread-safe;
  * build one per partition. */
private[encode] abstract class CompiledWriter(schema: StructType) {
  import CompiledWriter._
  import ValueWriter.{BytesList, NoKind}
  import WireBuf.fieldSize

  ExampleEncoder.requireDistinctNames(schema)

  protected val n: Int = schema.length
  protected val keys: Array[Array[Byte]] = schema.fieldNames.map(WireBuf.keyHeader)
  private val shapes: Array[Int] = schema.fields.map(f => shapeOf(f.dataType))
  private val writers: Array[ValueWriter] = schema.fields.zip(shapes).map { case (f, shape) =>
    ValueWriter(leafType(f.dataType, shape), f.name)
  }

  /** Map-entry order: column indices sorted by name. */
  protected def sortedBy(cols: Seq[Int]): Array[Int] =
    cols.sortBy(schema.fieldNames(_)).toArray

  /** How a column becomes Features: one feature, or a step list. */
  protected def shapeOf(dt: DataType): Int

  private def leafType(dt: DataType, shape: Int): DataType = (shape, dt) match {
    case (Flat | Steps, ArrayType(e, _)) => e
    case (NestedSteps, ArrayType(ArrayType(e, _), _)) => e
    case _ => dt
  }

  // Staged features of the current record: feature j's list payload is
  // scratch[lo(j), hi(j)) of kind(j); column i staged features
  // [first(i), first(i + 1)).
  private val scratch = new WireBuf(new Array[Byte](256))
  private var lo = new Array[Int](math.max(n, 8))
  private var hi = new Array[Int](lo.length)
  private var kind = new Array[Int](lo.length)
  private var staged = 0
  protected val first = new Array[Int](n + 1)

  private def add(k: Int, from: Int): Unit = {
    if (staged == lo.length) {
      lo = java.util.Arrays.copyOf(lo, staged * 2)
      hi = java.util.Arrays.copyOf(hi, staged * 2)
      kind = java.util.Arrays.copyOf(kind, staged * 2)
    }
    lo(staged) = from; hi(staged) = scratch.pos; kind(staged) = k; staged += 1
  }

  private def scalar(w: ValueWriter, v: Any): Unit = {
    val from = scratch.pos
    w.put(v, scratch)
    add(w.kind, from)
  }

  /** One feature holding every non-NULL element (NULL elements drop). */
  private def elements(w: ValueWriter, vs: collection.Seq[Any]): Unit = {
    w.requireSupported()
    val from = scratch.pos
    val it = vs.iterator
    while (it.hasNext) { val v = it.next(); if (v != null) w.put(v, scratch) }
    add(w.kind, from)
  }

  /** Stage every column in schema order, so the first failing column
    * is the one reported. */
  protected def stage(row: Row): Unit = {
    scratch.pos = 0; staged = 0
    var i = 0
    while (i < n) {
      first(i) = staged
      val w = writers(i)
      if (row.isNullAt(i)) { if (shapes(i) <= Flat) add(NoKind, scratch.pos) }
      else shapes(i) match {
        case Scalar => scalar(w, row.get(i))
        case Flat => elements(w, row.getSeq[Any](i))
        case Steps =>
          val it = row.getSeq[Any](i).iterator
          while (it.hasNext) {
            val v = it.next()
            if (v == null) add(NoKind, scratch.pos) else scalar(w, v)
          }
        case NestedSteps =>
          val it = row.getSeq[collection.Seq[Any]](i).iterator
          while (it.hasNext) {
            val vs = it.next()
            if (vs == null) add(NoKind, scratch.pos) else elements(w, vs)
          }
      }
      i += 1
    }
    first(n) = staged
  }

  /** Serialized size of staged feature `j` (a `tf.train.Feature`). */
  protected def featureSize(j: Int): Int = {
    val len = hi(j) - lo(j)
    kind(j) match {
      case NoKind => 0
      case BytesList => fieldSize(len)
      case _ => fieldSize(fieldSize(len)) // packed list in its own message
    }
  }

  protected def writeFeature(j: Int, out: WireBuf): Unit = {
    val len = hi(j) - lo(j)
    kind(j) match {
      case NoKind =>
      case BytesList => out.header(1, len)
      case k => out.header(k, fieldSize(len)); out.header(1, len)
    }
    out.copy(scratch.bytes, lo(j), len)
  }

  /** Size of a map entry `{key = 1; value = 2}` whose value is `len` bytes. */
  protected def entrySize(col: Int, len: Int): Int = keys(col).length + fieldSize(len)

  protected def writeEntryHead(col: Int, len: Int, out: WireBuf): Unit = {
    out.header(1, entrySize(col, len))
    out.copy(keys(col), 0, keys(col).length)
    out.header(2, len)
  }

  /** A `Features` message body over scalar-or-flat columns `cols`. */
  protected def featuresSize(cols: Array[Int]): Int = {
    var size = 0; var k = 0
    while (k < cols.length) {
      val c = cols(k)
      size += fieldSize(entrySize(c, featureSize(first(c))))
      k += 1
    }
    size
  }

  protected def writeFeatures(cols: Array[Int], out: WireBuf): Unit = {
    var k = 0
    while (k < cols.length) {
      val c = cols(k)
      writeEntryHead(c, featureSize(first(c)), out)
      writeFeature(first(c), out)
      k += 1
    }
  }

  def write(row: Row): Array[Byte]
}

private[encode] object CompiledWriter {
  final val Scalar = 0      // one single-value feature
  final val Flat = 1        // array flattened into one feature
  final val Steps = 2       // array: one single-value feature per element
  final val NestedSteps = 3 // array<array>: one multi-value feature per inner array
}

/** `tf.train.Example`: every column one feature, arrays flattened,
  * NULL → present-but-empty feature, entries sorted by name. */
private[encode] final class ExampleWriter(schema: StructType) extends CompiledWriter(schema) {
  import CompiledWriter._

  protected def shapeOf(dt: DataType): Int = dt match {
    case ArrayType(_, _) => Flat
    case _ => Scalar
  }

  private val order = sortedBy(0 until n)

  def write(row: Row): Array[Byte] = {
    stage(row)
    val body = featuresSize(order)
    val out = new WireBuf(new Array[Byte](WireBuf.fieldSize(body)))
    out.header(1, body)
    writeFeatures(order, out)
    out.bytes
  }
}

/** `tf.train.SequenceExample`: scalar columns → context features,
  * array columns → a FeatureList of one single-value Feature per
  * element, array<array> → one multi-value Feature per inner array;
  * NULL → empty context feature / empty list, NULL element → empty
  * step. */
private[encode] final class SequenceExampleWriter(schema: StructType)
    extends CompiledWriter(schema) {
  import CompiledWriter._
  import WireBuf.fieldSize

  protected def shapeOf(dt: DataType): Int = dt match {
    case ArrayType(ArrayType(_, _), _) => NestedSteps
    case ArrayType(_, _) => Steps
    case _ => Scalar
  }

  private val (lists, context) =
    (0 until n).partition(i => schema(i).dataType.isInstanceOf[ArrayType]) match {
      case (l, c) => (sortedBy(l), sortedBy(c))
    }
  private val listSize = new Array[Int](n)

  def write(row: Row): Array[Byte] = {
    stage(row)
    val ctx = featuresSize(context)
    var listsBody = 0; var k = 0
    while (k < lists.length) {
      val c = lists(k)
      var size = 0; var j = first(c)
      while (j < first(c + 1)) { size += fieldSize(featureSize(j)); j += 1 }
      listSize(c) = size
      listsBody += fieldSize(entrySize(c, size))
      k += 1
    }
    val out = new WireBuf(new Array[Byte](fieldSize(ctx) + fieldSize(listsBody)))
    out.header(1, ctx)
    writeFeatures(context, out)
    out.header(2, listsBody)
    k = 0
    while (k < lists.length) {
      val c = lists(k)
      writeEntryHead(c, listSize(c), out)
      var j = first(c)
      while (j < first(c + 1)) { out.header(1, featureSize(j)); writeFeature(j, out); j += 1 }
      k += 1
    }
    out.bytes
  }
}
