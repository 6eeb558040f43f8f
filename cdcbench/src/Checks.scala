package graft.cdcbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** Correctness checks of one run. A failed check does not stop the run; it
  * is printed to stderr and makes the result `correct: false` (exit 1).
  */
final class Checks {
  val failures: ArrayBuffer[String] = ArrayBuffer()

  def expect(what: String, actual: Any, expected: Any): Unit =
    if (actual != expected) {
      val msg = s"$what: got $actual, expected $expected"
      failures += msg
      System.err.println(s"[cdcbench] CHECK FAILED $msg")
    }
}

object Checks {

  /** Order-insensitive content digest of a result: its row count and the
    * sum of a 64-bit hash per row, computed in the JVM from the
    * collected rows. Floating-point values are hashed as FLOAT, so that
    * last-bit differences from another summation order do not count as a
    * different answer; maps are hashed as sorted entries.
    */
  def digest(df: DataFrame): (Long, String) = digest(df.collect().toSeq)

  def digest(rows: Seq[Row]): (Long, String) = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(BigInt(0)) { (acc, row) =>
      val h = sha.digest(norm(row).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc + BigInt(java.nio.ByteBuffer.wrap(h).getLong)
    }
    (rows.length.toLong, sum.toString)
  }

  private def norm(v: Any): String = v match {
    case null => "\u2400"
    case d: Double => java.lang.Float.toString(d.toFloat)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(norm).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "\u0002" + norm(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", "\u0001", "]")
    case a: Array[Byte] => a.mkString("b", ",", "")
    case other => other.toString
  }
}
