package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.VecExprs

/** The native vec_dot kernel must be BIT-IDENTICAL to the composed
  * `aggregate(zip_with(...))` form it replaced — same fold order, same
  * float→double widening, same null semantics (length mismatch or null
  * element → NULL). Differential over random float vectors plus the
  * explicit edge cases. */
class VecDotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-vecdot-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def legacyDot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("vec_dot == aggregate(zip_with) bit-for-bit on random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map { i =>
      val d = 1 + rnd.nextInt(96)
      (i, Array.fill(d)(rnd.nextFloat() * 2e3f - 1e3f),
        Array.fill(d)(rnd.nextFloat() * 2e3f - 1e3f))
    }
    val df = rows.toDF("id", "a", "b").repartition(3) // off the local-relation path
    val got = df.select(col("id"),
        VecExprs.vec_dot(col("a"), col("b")).as("nat"),
        legacyDot(col("a"), col("b")).as("leg"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), s"id=${r.getInt(0)}")
    }
  }

  test("vec_dot null semantics: mismatched lengths and null elements") {
    import spark.implicits._
    val df = Seq(
      (1, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f, 4f)),
      (2, Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](1f, 1f)), // mismatch
      (3, Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 1f, 1f)), // null elem
      (4, Seq.empty[java.lang.Float], Seq.empty[java.lang.Float])
    ).toDF("id", "a", "b").repartition(2)
    val got = df.select(col("id"),
        VecExprs.vec_dot(col("a"), col("b")).as("nat"),
        legacyDot(col("a"), col("b")).as("leg"))
      .collect().map(r => r.getInt(0) -> ((
        if (r.isNullAt(1)) null else (r.getDouble(1): Any),
        if (r.isNullAt(2)) null else (r.getDouble(2): Any)))).toMap // id -> (nat, leg)

    def both(id: Int): (Any, Any) = { val t = got(id); (t._1, t._2) }
    assert(both(1) == ((11.0, 11.0)))
    assert(both(2) == ((null, null)))
    assert(both(3) == ((null, null)))
    assert(both(4) == ((0.0, 0.0)))
  }

  test("vec_dot handles double arrays and float/double mixes") {
    import spark.implicits._
    val df = Seq((1, Seq(1.5f, -2.25f), Seq(2.0, 4.0))).toDF("id", "a", "b")
      .repartition(2)
    val got = df.select(
        VecExprs.vec_dot(transform(col("a"), x => x.cast("double")), col("b")).as("dd"),
        VecExprs.vec_dot(col("a"), col("b")).as("fd"))
      .collect()(0)
    assert(got.getDouble(0) == 1.5 * 2.0 + -2.25 * 4.0)
    assert(got.getDouble(1) == got.getDouble(0))
  }
}
