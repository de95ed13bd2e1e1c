package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.HashDump

/** Order-independent result digests.
  *
  * Frames are digested engine-side with [[graft.HashDump]] (the same
  * digest `tools/local_verify.py` recomputes over DuckDB oracle rows);
  * column types HashDump does not render (decimal, date, timestamp)
  * are cast to their exact string form first. Collected rows are
  * digested locally with the same sum-of-md5 construction.
  */
object Digest {

  /** "a:b:rows" of the HashDump digest; throws on an unsupported type. */
  def frame(df: DataFrame): String = {
    val norm = df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: DecimalType | DateType | TimestampType => col(f.name).cast("string").as(f.name)
        case _ => col(f.name)
      }
    }: _*)
    val d = HashDump.digestFrame(norm).getOrElse(
      throw new IllegalArgumentException(s"no digest rendering for schema ${df.schema.simpleString}"))
    val r = d.collect().head
    s"${r.getString(0)}:${r.getString(1)}:${r.getLong(3)}"
  }

  /** Canonical cell text: NULL sentinel, doubles to nine significant
    * digits (partial-aggregation order moves the last bits of a double
    * sum between physical plans), everything else by its string form.
    */
  private def cell(v: Any): String = v match {
    case null => "\u0002"
    case d: Double => "D" + String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
    case b: java.math.BigDecimal => "N" + b.toPlainString
    case s: String => "S" + s
    case o => "L" + o.toString
  }

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))

  private def halves(h: Array[Byte]): (Long, Long) = {
    val bb = java.nio.ByteBuffer.wrap(h)
    (bb.getLong(0), bb.getLong(8))
  }

  /** Order-independent digest of collected rows: wrapping sums of the
    * two md5 halves plus the row count.
    */
  def rows(rs: Seq[Row]): String = {
    var a = 0L
    var b = 0L
    rs.foreach { r =>
      val (x, y) = halves(md5(r.toSeq.map(cell).mkString("\u0001")))
      a += x
      b += y
    }
    s"${java.lang.Long.toUnsignedString(a)}:${java.lang.Long.toUnsignedString(b)}:${rs.size}"
  }

  /** Streaming order-dependent digest of generated input rows. */
  final class Stream {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(r: Row): Unit = {
      md.update(r.toSeq.map(cell).mkString("\u0001").getBytes(UTF_8))
      md.update('\n'.toByte)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }
}
