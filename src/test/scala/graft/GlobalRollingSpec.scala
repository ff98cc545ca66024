package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Windows

/** The scalable total-order rolling window must equal the
  * single-partition WindowExec result exactly — including warm-up nulls
  * and boundary rows between range partitions.
  */
class GlobalRollingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scalable global rolling equals single-partition window result") {
    // local function VALUE — a method reference would capture the spec
    // instance in the task closure (not serializable)
    val poly: Seq[Double] => Double = xs =>
      xs(0) + math.pow(xs(1), 2) + math.pow(xs(2), 3) + math.pow(xs(3), 4)
    val ev = Tables.events(spark, TestSpark.sf)
    val reference = Windows
      .rollingCollect(ev, col("value"), Seq(col("event_id")), Nil, 4, "v")(poly)
      .select("event_id", "v")
      .as[(Long, Option[Double])]
      .collect()
      .toMap

    val scalable = Windows
      .rollingGlobalScalable(ev, "event_id", "value", 4, "v",
        numPartitions = 7)(poly)
      .as[(Long, Option[Double])]
      .collect()
      .toMap

    assert(scalable.size === reference.size)
    reference.foreach { case (k, exp) =>
      (exp, scalable(k)) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-9, s"event $k: $a vs $b")
        case (None, None) => ()
        case other => fail(s"event $k: $other")
      }
    }
  }

  test("partitions smaller than the window still chain carries correctly") {
    // 10 rows over 8 partitions → most partitions have 1-2 rows < w-1
    val tiny = (1L to 10L).map(i => (i, i.toDouble)).toDF("t", "value")
    val got = Windows
      .rollingGlobalScalable(tiny, "t", "value", 4, "v", numPartitions = 8)(
        _.sum)
      .as[(Long, Option[Double])]
      .collect()
      .toMap
    assert(got(3L) === None) // warm-up
    assert(got(4L) === Some(1.0 + 2 + 3 + 4))
    assert(got(10L) === Some(7.0 + 8 + 9 + 10))
  }

  test("null values leave the frame, as in rollingCollect") {
    // every fifth value null: a 3-row frame holding it has 2 values,
    // below minPeriods, so those rows are null
    val df = (1L to 40L)
      .map(i => (i, if (i % 5 == 2) None else Some(i * 1.5)))
      .toDF("t", "value")
    val want = Windows
      .rollingCollect(df, col("value"), Seq(col("t")), Nil, 3, "v")(_.sum)
      .select("t", "v")
      .as[(Long, Option[Double])]
      .collect()
      .toMap
    val got = Windows
      .rollingGlobalScalable(df, "t", "value", 3, "v", numPartitions = 6)(_.sum)
      .as[(Long, Option[Double])]
      .collect()
      .toMap
    assert(got === want)
    assert(want.values.count(_.isDefined) === 15)
  }

  test("ties on the order key: each row once, ties broken by value") {
    // 15 keys on four rows each, values repeating within a key, so
    // tie groups cross the range boundaries and the read-ahead margin
    val df = (0L until 60L)
      .map(i => (i / 4, if (i % 7 == 3) None else Some(((i * 37) % 5).toDouble)))
      .toDF("t", "value")
    val want = Windows
      .rollingCollect(df, col("value"), Seq(col("t"), col("value")), Nil, 3, "v")(_.sum)
      .select("t", "v")
      .as[(Long, Option[Double])]
      .collect()
      .toSeq
    val scalable = Windows.rollingGlobalScalable(df, "t", "value", 3, "v", numPartitions = 6)(_.sum)
    val plan = scalable.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    val got = scalable.as[(Long, Option[Double])].collect().toSeq
    assert(got.size === 60)
    assert(got.sorted === want.sorted)
  }
}
