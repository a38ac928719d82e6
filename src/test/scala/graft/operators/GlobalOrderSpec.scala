package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GlobalOrder's two-phase global windows must be BIT-IDENTICAL to
  * the single-partition `Window.orderBy(...)` forms they replace —
  * the converted gates are hash-gated against DuckDB oracles the
  * single-partition forms currently match. Fuzzed over seeded random
  * frames with heavy ties on the leading key (ties are the semantic
  * hazard: they must co-bucket), ascending and descending leads,
  * ntile's uneven-bucket edge (n not divisible by k), and the
  * degenerate all-equal-key frame (one bucket).
  */
class GlobalOrderSpec extends SparkSpec {
  import spark.implicits._

  private def frame(seed: Long, n: Int, tieRange: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = if (tieRange > 0) rnd.nextInt(tieRange).toLong
              else rnd.nextLong() % 100000
      (i.toLong, v, rnd.nextInt(1000).toLong)
    }.toDF("id", "k", "x")
  }

  private val cases = Seq(
    (1L, 500, 7),    // heavy ties
    (2L, 500, 0),    // near-unique keys
    (3L, 37, 3),     // tiny frame, ties
    (4L, 200, 1))    // ALL keys equal — single degenerate bucket

  test("rowNumber matches single-partition row_number, asc and desc") {
    for ((seed, n, ties) <- cases; desc <- Seq(false, true)) {
      val df = frame(seed, n, ties)
      val lead = if (desc) col("k").desc else col("k").asc
      val order = Seq(lead, col("id").asc)
      val expect = df.withColumn("rn",
        row_number().over(Window.orderBy(order: _*)))
      val got = GlobalOrder.rowNumber(df, col("k"), desc, order, "rn")
      assert(got.select("id", "rn").except(expect.select("id", "rn")).isEmpty &&
        expect.select("id", "rn").except(got.select("id", "rn")).isEmpty,
        s"rowNumber mismatch seed=$seed ties=$ties desc=$desc")
    }
  }

  test("ntile matches single-partition ntile including uneven buckets") {
    for ((seed, n, ties) <- cases; k <- Seq(3, 5, 10); desc <- Seq(false, true)) {
      val df = frame(seed, n, ties)
      val lead = if (desc) col("k").desc else col("k").asc
      val order = Seq(lead, col("id").asc)
      val expect = df.withColumn("t",
        ntile(k).over(Window.orderBy(order: _*)))
      val got = GlobalOrder.ntile(df, k, col("k"), desc, order, "t")
      assert(got.select("id", "t").except(expect.select("id", "t")).isEmpty &&
        expect.select("id", "t").except(got.select("id", "t")).isEmpty,
        s"ntile mismatch seed=$seed ties=$ties k=$k desc=$desc")
    }
  }

  test("runningSum matches single-partition cumulative sum") {
    // plus a frame whose upper key range holds only null values: those
    // buckets' local prefixes are all null while earlier buckets have
    // a sum, which the built-in carries forward
    val nullTail = frame(5L, 300, 0).withColumn("x",
      when(col("k") > 0, lit(null).cast("long")).otherwise(col("x")))
    val inputs = cases.map { case (seed, n, ties) =>
      frame(seed, n, ties) -> s"seed=$seed ties=$ties"
    } :+ (nullTail -> "null-valued upper keys")
    for ((df, label) <- inputs) {
      val order = Seq(col("k").asc, col("id").asc)
      val expect = df.withColumn("s",
        sum("x").over(Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val got = GlobalOrder.runningSum(df, col("k"), leadDesc = false,
        order, col("x"), "s")
      assert(got.select("id", "s").except(expect.select("id", "s")).isEmpty &&
        expect.select("id", "s").except(got.select("id", "s")).isEmpty,
        s"runningSum mismatch $label")
    }
  }

  test("prefixMax matches exclusive running max (null leading row)") {
    for ((seed, n, ties) <- cases) {
      val df = frame(seed, n, ties)
      val order = Seq(col("k").asc, col("id").asc)
      val expect = df.withColumn("m",
        max("x").over(Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, -1)))
      val got = GlobalOrder.prefixMax(df, col("k"), leadDesc = false,
        order, col("x"), "m")
      assert(got.select("id", "m").except(expect.select("id", "m")).isEmpty &&
        expect.select("id", "m").except(got.select("id", "m")).isEmpty,
        s"prefixMax mismatch seed=$seed ties=$ties")
    }
  }
}
