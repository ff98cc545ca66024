package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.progress.Progress

/** Progress accounting (reference progress_bars.py): row counters ticked
  * inside distributed operators reach the driver; the task listener
  * counts completed work.
  */
class ProgressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("row counter ticks once per processed row across partitions") {
    val counter = Progress.rowCounter(spark, "test-rows")
    val n = Tables.lineitem(spark, TestSpark.sf).count()
    val ds = Tables
      .lineitem(spark, TestSpark.sf)
      .repartition(8)
      .select("l_quantity")
      .as[Double]
      .map { x => counter.tick(); x * 2 }
    ds.write.format("noop").mode("overwrite").save()
    assert(counter.value === n)
  }

  test("O1 black-box apply ticks once per row (apply accounting)") {
    val counter = Progress.rowCounter(spark, "acct-apply")
    val li = Tables.lineitem(spark, TestSpark.sf)
    val n = li.count()
    graft.ops.RowApply(li, Some(counter))(_.getAs[Double]("l_quantity") * 2)
      .write.format("noop").mode("overwrite").save()
    assert(counter.value === n)
  }

  test("O2 applymap ticks rows × cols (applymap accounting)") {
    val counter = Progress.rowCounter(spark, "acct-applymap")
    val part = Tables.part(spark, TestSpark.sf)
    val n = part.count()
    graft.ops.ColApply
      .applymap(
        part,
        c => c * 2,
        cols = Seq("p_size", "p_retailprice"),
        keep = Seq("p_partkey"),
        counter = Some(counter))
      .write.format("noop").mode("overwrite").save()
    assert(counter.value === n * 2)
  }

  test("O5 black-box group UDF ticks once per group (group accounting)") {
    val counter = Progress.rowCounter(spark, "acct-groups")
    val li = Tables.lineitem(spark, TestSpark.sf)
    val nGroups = Progress.totals.groups(li, Seq("l_returnflag"))
    graft.ops.GroupApply
      .flatMapGroups(li.select("l_returnflag", "l_quantity"), Seq("l_returnflag"), Some(counter))(
        _.getString(0)) { (k, it) =>
        Iterator.single((k, it.map(_.getDouble(1)).sum))
      }
      .write.format("noop").mode("overwrite").save()
    assert(counter.value === nGroups)
  }

  test("O6/O7 rolling UDF ticks once per evaluated window") {
    import org.apache.spark.sql.functions.col
    val counter = Progress.rowCounter(spark, "acct-rolling")
    val ev = Tables.events(spark, TestSpark.sf)
    // the UDF runs only on full windows: per user, max(0, count - 3) rows
    val expected = ev
      .groupBy("user_id").count()
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.greatest(
          col("count") - 3, org.apache.spark.sql.functions.lit(0L))))
      .head().getLong(0)
    graft.ops.Windows
      .rollingCollect(
        ev,
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        window = 4,
        outName = "v",
        counter = Some(counter))(xs => xs.sum)
      .write.format("noop").mode("overwrite").save()
    assert(counter.value === expected)
  }

  test("task listener observes completed stages and tasks") {
    val l = Progress.installListener(spark)
    Tables.lineitem(spark, TestSpark.sf).repartition(4).count()
    // listener events are delivered asynchronously — poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (l.tasksDone.get() < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(l.tasksDone.get() >= 4)
    assert(l.stagesDone.get() >= 1)
  }

  test("console bar wraps a body and returns its result") {
    val counter = Progress.rowCounter(spark, "test-bar")
    val r = Progress.withConsoleBar(counter, total = 10, intervalMs = 20) {
      counter.acc.add(10); 42
    }
    assert(r === 42)
  }

  test("adaptive ticker: every tick lands, flushes are throttled") {
    val counter = Progress.rowCounter(spark, "test-adaptive")
    val t = new Progress.AdaptiveTicker(counter)
    val n = 500000
    (1 to n).foreach(_ => t.tick())
    t.flush()
    assert(counter.value === n.toLong) // no tick lost to batching
    // the point of the throttle: far fewer accumulator flushes than rows
    // (the reference's ~4 Hz put-interval adaptation, progress_bars.py:205-217)
    assert(t.flushes < n / 100)
  }

  test("adaptive progress tap counts every row of a distributed frame") {
    val counter = Progress.rowCounter(spark, "test-adaptive-tap")
    val li = Tables.lineitem(spark, TestSpark.sf).repartition(8)
    val n = li.count()
    Progress
      .tickedAdaptive(li, counter)
      .write.format("noop").mode("overwrite").save()
    assert(counter.value === n)
  }

  test("callback renderer receives refreshes (notebook-widget hook)") {
    val counter = Progress.rowCounter(spark, "test-cb")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    var closedWith = -1L
    val r = new Progress.CallbackRenderer((done, _) => {
      seen.incrementAndGet(); closedWith = done
    })
    val out = Progress.withBar(counter, total = 5, renderer = r, intervalMs = 10) {
      counter.acc.add(5)
      Thread.sleep(60)
      "ok"
    }
    assert(out === "ok")
    assert(seen.get() >= 2) // polled during the body plus the final close
    assert(closedWith === 5L)
  }

  test("notebook renderer emits bar/percent/count HTML and success style") {
    val frames = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = new Progress.NotebookRenderer(frames += _)
    r.update(1, 4)
    assert(frames.last.contains("25.00%"))
    assert(frames.last.contains("1 / 4"))
    assert(frames.last.contains("#2196f3")) // in-flight style
    r.close(4, 4)
    assert(frames.last.contains("100.00%"))
    assert(frames.last.contains("4 / 4"))
    assert(frames.last.contains("#4caf50")) // success style (ref bar_style)
    assert(r.lastHtml === frames.last) // pull-style frontends can poll
  }

  test("notebook renderer is total-less safe (indeterminate input)") {
    val frames = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = new Progress.NotebookRenderer(frames += _)
    r.update(7, 0) // no total known — must not divide by zero
    assert(frames.last.contains("0.00%"))
    assert(frames.last.contains("7 / 0"))
  }

  test("default worker count is physical cores, within logical bound") {
    val phys = graft.Session.physicalCores()
    val logical = Runtime.getRuntime.availableProcessors()
    assert(phys >= 1)
    assert(phys <= logical)
  }
}
