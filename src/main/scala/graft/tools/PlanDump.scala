package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.{Session, SparkEntry}

/** Dev-only plan dumper (not part of the driver contract).
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [query...]
  * Writes `explain("formatted")` output for each declared query (all of
  * `SparkEntry.queries` when no names are given) to `<outDir>/<query>.txt`.
  * Query construction may build side indexes (same as Verify); plans are
  * captured without executing the final frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [query...]")
    val d = args(0)
    val out = Paths.get(args(1))
    Files.createDirectories(out)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.initialize(Session.workers())
    names.foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, d)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"PLAN DUMP FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.write(out.resolve(s"$name.txt"), txt.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"[plandump] $name (${txt.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
