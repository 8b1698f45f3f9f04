package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Edge cases of the p-query digest fold: null vs NaN vs -0.0, column
  * renames, and value drift must all flip (or preserve) the row digest
  * exactly as intended — this is what makes the committed goldens a
  * real value gate. */
class DigestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("a", DoubleType),
    StructField("b", DoubleType)))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def digestOf(rows: Seq[Row]): Seq[(String, String)] =
    Digest.rows(df(rows), Seq("k")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  test("null, NaN, and numeric values digest distinctly") {
    val base = digestOf(Seq(Row("r", 1.0, 2.0)))
    val withNull = digestOf(Seq(Row("r", null, 2.0)))
    val withNaN = digestOf(Seq(Row("r", Double.NaN, 2.0)))
    assert(Set(base, withNull, withNaN).size == 3)
  }

  test("-0.0 canonicalizes to 0.0 (reduce-order sign-of-zero noise)") {
    assert(digestOf(Seq(Row("r", -0.0, 2.0))) == digestOf(Seq(Row("r", 0.0, 2.0))))
  }

  test("sub-ULP noise is absorbed; 6th-significant-digit drift flips the digest") {
    val v = 1.2345678901234
    assert(digestOf(Seq(Row("r", v, 2.0))) == digestOf(Seq(Row("r", v + 1e-13, 2.0))))
    assert(digestOf(Seq(Row("r", v, 2.0))) != digestOf(Seq(Row("r", v + 1e-3, 2.0))))
  }

  test("a renamed column flips both row and schema digests") {
    val renamed = StructType(Seq(
      StructField("k", StringType), StructField("a2", DoubleType),
      StructField("b", DoubleType)))
    val d1 = Digest.rows(df(Seq(Row("r", 1.0, 2.0))), Seq("k")).collect().head
    val d2 = Digest.rows(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("r", 1.0, 2.0)), 1), renamed),
      Seq("k")).collect().head
    assert(d1.getString(1) != d2.getString(1)) // row digest
    assert(d1.getString(2) != d2.getString(2)) // schema digest
  }

  test("digest is partitioning-invariant") {
    val rows = (0 until 50).map(i => Row(s"k$i", i * 0.3333333333, i / 7.0))
    val one = Digest.rows(df(rows).coalesce(1), Seq("k")).collect().toSeq
    val many = Digest.rows(df(rows).repartition(13), Seq("k")).collect().toSeq
    assert(one == many)
  }

  test("fusedDigester equals Digest.rows on a generated wide frame") {
    val keys = Seq("ks", "kl", "ki")
    val wide = StructType(Seq(StructField("ks", StringType),
      StructField("kl", LongType), StructField("ki", IntegerType)) ++
      (0 until 16).map(i => StructField(s"d$i", DoubleType)) ++ Seq(
        StructField("f", FloatType), StructField("s", StringType),
        StructField("n", LongType)))
    val rnd = new scala.util.Random(11)
    val specials = Array[Any](null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0)
    def dbl(): Any =
      if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.length))
      else rnd.nextGaussian() * math.pow(10, rnd.nextInt(25) - 12)
    val rows = (0 until 300).map { i =>
      Row.fromSeq(Seq(s"k$i", rnd.nextLong(), rnd.nextInt()) ++
        (0 until 16).map(_ => dbl()) ++ Seq(
          dbl() match { case d: Double => d.toFloat; case other => other },
          if (rnd.nextInt(4) == 0) null else rnd.alphanumeric.take(6).mkString,
          if (rnd.nextInt(4) == 0) null else rnd.nextLong()))
    }
    val viaRows = Digest.rows(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), wide), keys)
      .collect().map(r => (0 until 5).map(r.getString)).toSet
    val (schemaDigest, digestFn) = Digest.fusedDigester(wide)
    val fused = rows.map { r =>
      (0 until 3).map(r.get(_).toString) ++ Seq(digestFn(r.toSeq.toArray), schemaDigest)
    }.toSet
    assert(viaRows.size == 300)
    assert(fused == viaRows)
  }
}
