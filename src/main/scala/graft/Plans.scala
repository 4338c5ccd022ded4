package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan-capture tool for the optimization rounds: dumps
  * `explain("formatted")` of registered queries to `<outDir>/<name><suffix>.txt`
  * so before/after plan shapes (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) are committed
  * evidence, not prose claims.
  *
  *   runMain graft.Plans <outDir> <suffix> [query ...]
  *
  * With no query names, dumps the whole catalog. Side-effectful entries
  * (the versioned/layout harness queries) run their build steps while the
  * frame is constructed — that is the registered shape; the dump captures
  * the final read plan the bench times.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = if (args.length > 1) args(1) else ""
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), plan)
        println(s"[plans] wrote $n")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal, not Throwable: swallowing an OOM/VM error and
        // continuing the loop would produce misleading partial dumps
        // from an undefined JVM state (ADVICE r16)
        System.err.println(s"[plans] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
