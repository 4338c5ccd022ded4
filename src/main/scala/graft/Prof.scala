package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-query job profiler — the measure-first tool behind the bench-tail
  * work: `runMain graft.Prof <query>...` runs each registered query
  * once to warm (plan analysis + codegen), once timed with a job
  * listener, and prints the warm wall, the Spark job count, the
  * job-time sum, and the slowest jobs with their stage call sites. The
  * interesting signal is usually the GAP between wall and job sum
  * (driver-side planning/manifest/footer time — e.g. r13 found
  * stageNonEmpty reading one parquet footer PER FILE of a 32-file
  * 90-row rollup state dir) and the job COUNT (each job carries
  * ~30-70 ms of fixed scheduling+analysis cost at bench SF, so a
  * 27-job metadata-heavy query pays ~2 s before any data moves). */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = mutable.Map[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = (System.nanoTime(),
          js.stageInfos.map(si => si.name.take(45)).mkString(" ;; ").take(140))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, d) =>
          jobs += ((je.jobId, (System.nanoTime() - t0) / 1e9, d)) }
    })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      Thread.sleep(300)
      jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"PROF $name wall=$wall%.2f jobs=${jobs.size} jobsum=${jobs.map(_._2).sum}%.2f")
      jobs.sortBy(-_._2).take(20).foreach { case (id, s, d) =>
        println(f"  job$id%4d $s%6.3f  $d") }
    }
    spark.stop()
  }
}
