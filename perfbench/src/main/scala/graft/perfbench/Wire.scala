package graft.perfbench

import java.io.{DataInputStream, EOFException, File, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32C, GZIPInputStream}

import scala.collection.mutable

/** A TFRecord reader and tf.Example decoder written for the benchmark's
  * checks and sharing no code with graft.io / graft.encode, so a codec
  * defect cannot hide behind itself. Every record's masked CRC32C is
  * verified. */
object Wire {

  sealed trait Values
  final case class Ints(v: Seq[Long]) extends Values
  final case class Floats(v: Seq[Float]) extends Values
  final case class Strs(v: Seq[String]) extends Values

  private def masked(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C
    c.update(b, off, len)
    val x = c.getValue.toInt
    ((x >>> 15) | (x << 17)) + 0xa282ead8
  }

  private def le(b: Array[Byte]): ByteBuffer = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

  /** Every record payload of one gzip TFRecord file. */
  def records(f: File): Seq[Array[Byte]] = {
    val in = new DataInputStream(new GZIPInputStream(new FileInputStream(f), 1 << 16))
    val out = mutable.ArrayBuffer.empty[Array[Byte]]
    try {
      val hdr = new Array[Byte](12)
      var more = true
      while (more) {
        try in.readFully(hdr) catch { case _: EOFException => more = false }
        if (more) {
          val len = le(hdr).getLong(0)
          require(le(hdr).getInt(8) == masked(hdr, 0, 8), s"$f: length CRC mismatch")
          val data = new Array[Byte](len.toInt)
          in.readFully(data)
          val crc = new Array[Byte](4)
          in.readFully(crc)
          require(le(crc).getInt(0) == masked(data, 0, data.length), s"$f: data CRC mismatch")
          out += data
        }
      }
    } finally in.close()
    out.toSeq
  }

  /** Record payloads of every shard under `dir/split`, in file order. */
  def split(dir: String, split: String): Seq[Array[Byte]] =
    Option(new File(dir, split).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tfrecord.gz")).sortBy(_.getName).toSeq
      .flatMap(records)

  private final class Buf(val b: Array[Byte], var i: Int, val end: Int) {
    def more: Boolean = i < end
    def varint(): Long = {
      var v = 0L; var shift = 0; var go = true
      while (go) {
        val x = b(i); i += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        go = (x & 0x80) != 0
      }
      v
    }
    def sub(): Buf = { val n = varint().toInt; val s = new Buf(b, i, i + n); i += n; s }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => i += 8
      case 2 => i += varint().toInt
      case 5 => i += 4
      case w => sys.error(s"unsupported wire type $w")
    }
  }

  /** tf.Example → feature name → values. An empty Feature decodes as
    * an empty list (the encoder's NULL). */
  def decode(rec: Array[Byte]): Map[String, Values] = {
    val out = mutable.Map.empty[String, Values]
    val ex = new Buf(rec, 0, rec.length)
    while (ex.more) {
      val tag = ex.varint().toInt
      if (tag >> 3 == 1 && (tag & 7) == 2) {
        val feats = ex.sub()
        while (feats.more) {
          val t2 = feats.varint().toInt
          if (t2 >> 3 == 1 && (t2 & 7) == 2) {
            val entry = feats.sub()
            var name = ""; var value: Values = Ints(Nil)
            while (entry.more) {
              val t3 = entry.varint().toInt
              if (t3 >> 3 == 1) name = { val s = entry.sub(); new String(s.b, s.i, s.end - s.i, "UTF-8") }
              else if (t3 >> 3 == 2) value = feature(entry.sub())
              else entry.skip(t3 & 7)
            }
            out(name) = value
          } else feats.skip(t2 & 7)
        }
      } else ex.skip(tag & 7)
    }
    out.toMap
  }

  private def feature(f: Buf): Values = {
    var v: Values = Ints(Nil)
    while (f.more) {
      val tag = f.varint().toInt
      val list = f.sub()
      (tag >> 3) match {
        case 1 =>
          val xs = mutable.ArrayBuffer.empty[String]
          while (list.more) {
            val t = list.varint().toInt
            if (t >> 3 == 1) { val s = list.sub(); xs += new String(s.b, s.i, s.end - s.i, "UTF-8") }
            else list.skip(t & 7)
          }
          v = Strs(xs.toSeq)
        case 2 =>
          val xs = mutable.ArrayBuffer.empty[Float]
          while (list.more) {
            val t = list.varint().toInt
            if ((t & 7) == 5) { xs += le(list.b).getFloat(list.i); list.i += 4 }
            else if ((t & 7) == 2) {
              val p = list.sub()
              while (p.more) { xs += le(p.b).getFloat(p.i); p.i += 4 }
            } else list.skip(t & 7)
          }
          v = Floats(xs.toSeq)
        case 3 =>
          val xs = mutable.ArrayBuffer.empty[Long]
          while (list.more) {
            val t = list.varint().toInt
            if ((t & 7) == 0) xs += list.varint()
            else if ((t & 7) == 2) { val p = list.sub(); while (p.more) xs += p.varint() }
            else list.skip(t & 7)
          }
          v = Ints(xs.toSeq)
        case _ => ()
      }
    }
    v
  }
}
