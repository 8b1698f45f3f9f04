package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Output checks. Values are compared at 6 significant digits, the
  * rendering `graft.rel.Digest` uses to absorb reduce-order noise. */
object Check {

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.US, "%.6g", Double.box(d + 0d))
    case f: Float => render(f.toDouble)
    case other => other.toString
  }

  /** order-free digest of a set of row digests */
  def combine(rowDigests: Iterable[String]): String = md5(rowDigests.toSeq.sorted.mkString("\n"))

  /** row count and order-free content digest of any frame */
  def frameDigest(df: DataFrame): (Long, String) = {
    val ds = graft.rel.Digest.rows(df, Nil).select("row_digest").collect().map(_.getString(0))
    (ds.length.toLong, combine(ds))
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** one row's digest; `base`, the run's input directory, is cut out
    * of string values so paths digest the same in every temp root */
  private def rowDigest(cols: Seq[String], values: Seq[Any], base: String): String =
    md5(cols.zip(values).map {
      case (c, v: String) => s"$c=${v.replace(base, "")}"
      case (c, v) => s"$c=${render(v)}"
    }.mkString("|"))

  /** the feature parquet parts of a CLI output directory, collected
    * and digested on the driver (a Spark-side digest would plan one
    * expression per column of the wide table) */
  def parquetOutcome(spark: SparkSession, out: Path, base: String): Outcome = {
    val df = readParquet(spark, out)
    val cols = df.columns.toSeq
    val feats = cols.indices.filter(i => cols(i).startsWith("feat_"))
    val rows = df.collect()
    val digests = rows.map(r => rowDigest(cols, r.toSeq, base))
    val tomb = if (feats.isEmpty) 0L else rows.count(r => feats.forall(r.isNullAt)).toLong
    Outcome(rows.length.toLong, cols, combine(digests), tomb)
  }

  private def readParquet(spark: SparkSession, out: Path): DataFrame = {
    val parts = Files.list(out).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    require(parts.nonEmpty, s"no .parquet written under $out")
    spark.read.parquet(parts: _*)
  }
}
