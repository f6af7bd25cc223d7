package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentiles carry their sample count") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(percentile(xs, 50) == Pct(5.0, 10))
    assert(percentile(xs, 90) == Pct(9.0, 10))
    assert(percentile(xs, 91) == Pct(10.0, 10))
    assert(percentile(xs, 100) == Pct(10.0, 10))
    assert(percentile(Seq(7.0), 90) == Pct(7.0, 1))
    intercept[IllegalArgumentException](percentile(Nil, 50))
    intercept[IllegalArgumentException](percentile(xs, 0))
  }

  test("median of odd and even counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("idle time is the wall minus the union of task intervals") {
    // overlapping, nested, touching and out-of-window intervals
    val busy = Seq((1.0, 3.0), (2.0, 4.0), (2.5, 2.6), (4.0, 5.0),
      (7.0, 8.0), (-5.0, 0.5), (9.5, 12.0))
    assert(unionLength(busy, 0, 10) == 0.5 + 4.0 + 1.0 + 0.5)
    assert(idle(busy, 0, 10) == 10 - 6.0)
    assert(idle(Nil, 2, 5) == 3.0)
    assert(idle(Seq((0.0, 100.0)), 2, 5) == 0.0)
  }

  test("R² from one pass of sums matches the two-pass definition") {
    val y = Seq(3.0, -1.0, 4.0, 1.5, 9.0)
    val yhat = Seq(2.5, -0.5, 4.5, 1.0, 8.0)
    val mean = y.sum / y.size
    val ssRes = y.zip(yhat).map { case (a, b) => (a - b) * (a - b) }.sum
    val ssTot = y.map(a => (a - mean) * (a - mean)).sum
    val got = r2(y.size, y.sum, y.map(a => a * a).sum, ssRes)
    assert(math.abs(got - (1 - ssRes / ssTot)) < 1e-12)
    assert(r2(3, 6.0, 14.0, 0.0) == 1.0)
    intercept[IllegalArgumentException](r2(2, 2.0, 2.0, 0.0))
  }

  test("the output digest ignores row order and partitioning only") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def digest(df: org.apache.spark.sql.DataFrame): String = {
        val cols = Digest.columns(df)
        val row = df.agg(cols.head, cols.tail: _*).head()
        Digest.of(Obs(row.getValuesMap(row.schema.fieldNames.toSeq)))
      }
      val base = spark.range(0, 1000).select(col("id"),
        (col("id") * 0.5).as("x"), concat(lit("k"), col("id")).as("s"),
        array(col("id"), lit(1L)).as("a"))
      val d = digest(base)
      assert(digest(base.orderBy(col("x").desc)) == d)
      assert(digest(base.repartition(7)) == d)
      assert(digest(base.union(base.limit(0))) == d)
      // a changed value, a dropped row and a duplicated row all show
      assert(digest(base.withColumn("x",
        when(col("id") === 500, 0.0).otherwise(col("x")))) != d)
      assert(digest(base.filter(col("id") =!= 3)) != d)
      assert(digest(base.union(base.filter(col("id") === 3))) != d)
    } finally spark.stop()
  }
}
