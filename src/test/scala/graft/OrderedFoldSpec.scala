package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.OrderedFold

/** Property oracle for the ordered-fold contract: on random groups with
  * duplicate keys, signed zeros, NaN and nulls, [[OrderedFold.sum]] is
  * bitwise a plain-Scala left fold from 0.0 over the group's
  * `(k1, k2, value)` rows sorted by Spark's ordering, and
  * [[OrderedFold.values]] is the same sorted projection — at 1 and at 7
  * partitions, with the rows arriving in a different order.
  */
class OrderedFoldSpec extends SparkSpec {

  private type R = (Int, Long, String, Option[Double])

  private val valueGen: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> Gen.oneOf(0.0, -0.0, Double.NaN).map(Some(_)),
    // mixed magnitudes, so the sum's last bits depend on the order
    30 -> Gen.oneOf(Gen.choose(-1e6, 1e6),
      Gen.oneOf(1e-17, -0.1, 0.1, 1e17, -1e17)).map(Some(_)))
  private val rowGen: Gen[R] = for {
    g <- Gen.choose(0, 2)
    k1 <- Gen.choose(0L, 3L)
    k2 <- Gen.oneOf("a", "b", "c")
    v <- valueGen
  } yield (g, k1, k2, v)
  private val tableGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, rowGen))

  private val schema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("k1", LongType, nullable = false),
    StructField("k2", StringType, nullable = false),
    StructField("v", DoubleType, nullable = true)))

  /** Spark's ascending order on a nullable double: nulls first, `-0.0`
    * equal to `0.0`, NaN equal to NaN and above everything else.
    */
  private def cmpValue(a: Option[Double], b: Option[Double]): Int =
    (a, b) match {
      case (None, None) => 0
      case (None, _) => -1
      case (_, None) => 1
      case (Some(x), Some(y)) =>
        if (x == y) 0 else java.lang.Double.compare(x, y)
    }

  private def cmpRow(a: R, b: R): Int = {
    val c1 = java.lang.Long.compare(a._2, b._2)
    if (c1 != 0) c1
    else {
      val c2 = a._3.compareTo(b._3)
      if (c2 != 0) c2 else cmpValue(a._4, b._4)
    }
  }

  private def bits(v: Option[Double]): Option[Long] =
    v.map(doubleToRawLongBits)

  /** Per group: the engine's sum and values at `parts` partitions. */
  private def engine(rows: Seq[R], parts: Int)
      : Map[Int, (Option[Double], Seq[Option[Double]])] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (g, k1, k2, v) =>
        Row(g, k1, k2, v.map(Double.box).orNull)
      }, parts), schema)
    df.groupBy(col("g"))
      .agg(OrderedFold.sum(col("v"), col("k1"), col("k2")).as("s"),
        OrderedFold.values(col("v"), col("k1"), col("k2")).as("vs"))
      .collect()
      .map { r =>
        val s = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        val vs = r.getSeq[java.lang.Double](2).map(Option(_).map(_.doubleValue))
        r.getInt(0) -> ((s, vs))
      }.toMap
  }

  /** The group's rows in the contract's order (a stable sort). */
  private def replaySorted(rows: Seq[R]): Seq[R] =
    rows.sortWith((a, b) => cmpRow(a, b) < 0)

  private def replaySum(sorted: Seq[R]): Option[Double] =
    if (sorted.exists(_._4.isEmpty)) None
    else Some(sorted.foldLeft(0.0)(_ + _._4.get))

  /** `got` is the sorted projection of `sorted`: equal raw bits, except
    * that rows the ordering cannot tell apart (`-0.0` vs `0.0` under the
    * same keys) may come in either order — so each run of such rows is
    * compared as a multiset of raw bits.
    */
  private def sameValues(got: Seq[Option[Double]], sorted: Seq[R]): Boolean =
    got.length == sorted.length && {
      val runStarts = sorted.indices.filter(i =>
        i == 0 || cmpRow(sorted(i - 1), sorted(i)) != 0) :+ sorted.length
      runStarts.sliding(2).forall { case Seq(a, b) =>
        got.slice(a, b).map(bits).sortBy(_.toString) ==
          sorted.slice(a, b).map(r => bits(r._4)).sortBy(_.toString)
      }
    }

  private def run(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: OrderedFold.sum and values equal a sorted plain-Scala " +
    "left fold, bitwise, at any partitioning") {
    run(Prop.forAllNoShrink(tableGen, Gen.choose(0L, Long.MaxValue)) {
      (rows, seed) =>
        val want = rows.groupBy(_._1).map { case (g, rs) =>
          g -> replaySorted(rs)
        }
        val shuffled = new scala.util.Random(seed).shuffle(rows)
        Seq(engine(rows, 1), engine(shuffled, 7)).forall { got =>
          got.keySet == want.keySet && want.forall { case (g, sorted) =>
            val (s, vs) = got(g)
            bits(s) == bits(replaySum(sorted)) && sameValues(vs, sorted)
          }
        }
    }, n = 40)
  }

  test("an empty global group sums to 0.0 and has no values") {
    val r = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
      .groupBy()
      .agg(OrderedFold.sum(col("v"), col("k1")).as("s"),
        OrderedFold.values(col("v"), col("k1")).as("vs"))
      .collect()
    assert(r.length == 1)
    assert(doubleToRawLongBits(r(0).getDouble(0)) == doubleToRawLongBits(0.0))
    assert(r(0).getSeq[java.lang.Double](1).isEmpty)
  }
}
