package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{Session, SparkEntry}

/** Dev-only smoke/profiling main (not part of the driver contract).
  * Usage: runMain graft.tools.Scratch <queryName> [sfDir] [reps]
  * Prints per-run wall time and a per-stage breakdown (duration, tasks)
  * for the LAST run — the quickest way to find a hot stage.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q14_minhash_neardup"
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.initialize(Session.workers())

    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val ms = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield a - b).getOrElse(-1L)
        stages.add((i.stageId, i.name.takeWhile(_ != '\n'), ms, i.numTasks))
      }
    })

    if (reps == 0) { // reps=0: dump the executed plan instead of running
      println(SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString)
      spark.stop()
      return
    }
    (1 to reps).foreach { r =>
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write
        .format("noop").mode("overwrite").save()
      println(f"[scratch] $name run $r: ${(System.nanoTime - t0) / 1e9}%.2f s")
    }
    // listener events arrive on an async bus — give the final stages'
    // completions time to land before printing (else the hottest, last
    // stages are exactly the ones missing from the table)
    Thread.sleep(1500)
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_._3).take(12).foreach {
      case (id, n, ms, tasks) =>
        println(f"[stage] $id%4d ${ms}%6d ms $tasks%4d tasks  $n")
    }
    spark.stop()
  }
}
