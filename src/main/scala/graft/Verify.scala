package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (dev loop; the driver always passes two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.initialize(Session.workers())
    new java.io.File(outDir).mkdirs()
    // Queries that raise (analysis error, runtime failure) produce no
    // parquet and would silently vanish from the driver's CORRECTNESS
    // report, reading as "untested" when they mean "failed". Track them
    // and publish the set explicitly (r7 post-mortem: 22 queries broke
    // this way and the report showed 160/182 rows with no red flag).
    val unchecked = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        unchecked += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(
      Paths.get(s"$outDir/unchecked.json"),
      unchecked.sorted.map(q).mkString("[", ",", "]"))
    if (unchecked.nonEmpty) {
      System.err.println(
        s"[verify] UNCHECKED (${unchecked.size}): ${unchecked.sorted.mkString(", ")}")
    }
    spark.stop()
  }
}
