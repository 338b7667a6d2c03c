package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Util {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Discards what is written and counts the bytes; closing is a no-op. */
  final class CountingSink extends java.io.OutputStream {
    var bytes = 0L
    override def write(b: Int): Unit = bytes += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile, samples). Failed ops enter as +Inf, so they count
    * as slower than every sample. With fewer than eleven samples no
    * percentile qualifies and the maximum is reported as p100. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100, n)
    else {
      val idx = n - 11 // exactly ten samples above this one
      (s(idx), math.floor(100.0 * (idx + 1) / n).toInt, n)
    }
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Order-insensitive content digest of a face's rows: every value is
    * stringified canonically, rows are sorted, and the sorted lines are
    * hashed. Equal digests mean equal multisets of rows. */
  def fingerprint(df: DataFrame): String = {
    def canon(v: Any): String = v match {
      case null => "\\N"
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => canon(k) + ":" + canon(x) }.toSeq.sorted.mkString("<", ",", ">")
      case t: java.sql.Timestamp => t.toInstant.toString
      case i: java.time.Instant => i.toString
      case other => other.toString
    }
    val lines = df.collect().map(r => r.toSeq.map(canon).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${lines.length}:" + md.digest().take(12).map(x => f"$x%02x").mkString
  }

  /** Column checksums that survive a spreadsheet round trip: numbers
    * compare as doubles, dates as dates, everything else as strings. Each
    * is the row count plus, per column, the exact sum of 64-bit hashes. */
  def checksums(df: DataFrame): Seq[String] = {
    def canonical(f: StructField): Column = f.dataType match {
      case _: NumericType => col(f.name).cast("double")
      case DateType | TimestampType | TimestampNTZType => col(f.name).cast("date")
      case _ => col(f.name).cast("string")
    }
    val aggs = count(lit(1)).cast("string") +: df.schema.fields.toSeq.map(f =>
      coalesce(sum(xxhash64(canonical(f)).cast("decimal(38,0)")), lit(0)).cast("string"))
    df.agg(aggs.head, aggs.tail: _*).collect()(0).toSeq.map(_.toString)
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def loadavg(): Double =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}
