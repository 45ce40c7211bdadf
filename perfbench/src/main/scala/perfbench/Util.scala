package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

object Files {
  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c => copyTree(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
}

/** Order-independent content fingerprint of a DataFrame: row count plus
  * the sum of per-row 64-bit hashes over every column. */
object Fingerprint {
  def of(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def show(f: (Long, BigDecimal)): String = s"${f._1}:${f._2}"
}
