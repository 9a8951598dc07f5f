package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: what the bench build of SparkEntry queries plans and runs.
  *
  *  - `plan <sfDir> name...` prints each query's formatted physical
  *    plan (`explain("formatted")`); `plan <sfDir> --out <dir> <suffix>
  *    name...` writes it to `<dir>/<name>_<suffix>.txt` instead — one
  *    JVM for the whole batch;
  *  - `jobs <sfDir> name...` runs each query once to warm it (codegen,
  *    footer caches, artifact memos), then once more, printing every
  *    Spark job and stage with its wall time and the warm pass total —
  *    the "where do the seconds go" view.
  *
  * `sbt "runMain graft.Peek plan /data/sf0.01 groupby_agg"`.
  * Parallelism is SPARK_GRAFT_CPUS (default: all cores), as in Verify
  * and Bench. */
object Peek {
  private val usage =
    "usage: Peek plan <sfDir> [--out <dir> <suffix>] name... | Peek jobs <sfDir> name..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(mode, sfDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.local(cpus)
    def build(name: String) = SparkEntry.benchQueries(name)(spark, sfDir)
    try mode match {
      case "plan" =>
        val (out, names) = args.drop(2).toSeq match {
          case Seq("--out", dir, suffix, names @ _*) => (Some((dir, suffix)), names)
          case names => (None, names)
        }
        out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
        for (n <- names) CacheScope.withScope {
          try {
            val plan = build(n).queryExecution.explainString(FormattedMode)
            out match {
              case Some((dir, suffix)) =>
                Files.writeString(Paths.get(dir, s"${n}_$suffix.txt"), plan)
                println(s"[peek] $n ok")
              case None => println(s"===== $n =====\n$plan")
            }
          } catch { case e: Throwable => println(s"[peek] $n FAILED: ${e.getMessage}") }
        }
      case "jobs" =>
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            starts.put(e.jobId, (e.time, e.properties.getProperty("spark.job.description", "")))
          override def onJobEnd(e: SparkListenerJobEnd): Unit = {
            val (t0, desc) = starts.getOrDefault(e.jobId, (e.time, "?"))
            println(f"[job ${e.jobId}%3d] ${(e.time - t0) / 1e3}%7.3f s  ${desc.take(110)}")
          }
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val s = e.stageInfo
            val ms = for {a <- s.completionTime; b <- s.submissionTime} yield a - b
            println(f"  [stage ${s.stageId}%3d] ${ms.getOrElse(0L) / 1e3}%7.3f s  ${s.numTasks}%4d tasks  ${s.name.take(90)}")
          }
        })
        def once(name: String): Double = CacheScope.withScope {
          val t0 = System.nanoTime()
          build(name).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        for (n <- args.drop(2)) {
          once(n)
          println(s"=== warm pass of $n ===")
          val t = once(n)
          println(f"total: $t%.3f s")
        }
      case _ => sys.error(usage)
    } finally spark.stop()
  }
}
