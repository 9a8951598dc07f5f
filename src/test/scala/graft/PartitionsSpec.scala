package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Partitions}
import graft.sources.Tables

/** The partition policy reads the optimized plan's size estimate —
  * no job runs — and an explicit count always wins. */
class PartitionsSpec extends SparkSpec {

  private val Advisory = 64L << 20 // spark.sql.adaptive.advisoryPartitionSizeInBytes

  /** `f`'s result and the descriptions of the jobs it started: a
    * sentinel job posted after `f` bounds the listener-bus wait. */
  private def withJobs[T](f: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      spark.sparkContext.setJobDescription("partitions-spec-sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("partitions-spec-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("partitions-spec-sentinel"), "listener never saw the sentinel job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.filterNot(_ == "partitions-spec-sentinel"))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def cap = spark.sessionState.conf.numShufflePartitions

  test("a plan with a huge size estimate gets the session's cap, with no job") {
    val (n, jobs) = withJobs(Partitions.of(spark.range(0L, Long.MaxValue)))
    assert(n == cap && cap == 4)
    assert(jobs.isEmpty, s"the policy ran jobs: $jobs")
  }

  test("an sf0.001 table gets one partition, with no job") {
    // the reads (schema and footer jobs) happen outside the count
    val tables = Seq("orders", "lineitem", "events").map(Tables(spark, sfDir, _))
    val (ns, jobs) = withJobs(tables.map(Partitions.of))
    assert(ns == Seq(1, 1, 1))
    assert(jobs.isEmpty, s"the policy ran jobs: $jobs")
  }

  test("the count is ceil(estimated bytes / advisory bytes), floored at 1") {
    // Range estimates 8 bytes per element
    def of(elems: Long) = Partitions.of(spark.range(0L, elems))
    assert(of(0L) == 1)
    assert(of(Advisory / 8) == 1)
    assert(of(2 * Advisory / 8 + 1) == 3)
  }

  test("byRange: an explicit count wins over the plan") {
    val tiny = spark.range(0L, 10L).toDF()
    def plan(buckets: Int): String =
      Partitions.byRange(tiny, buckets, col("id")).queryExecution.executedPlan.toString
    assert(plan(7).contains("rangepartitioning(id#") && plan(7).contains(", 7)"))
    assert(plan(Partitions.FromPlan).contains("Exchange SinglePartition"))
    intercept[IllegalArgumentException](Partitions.byRange(tiny, 0, col("id")))
  }

  test("AsOfJoin: explicit range buckets, plan count, or a hash exchange") {
    import spark.implicits._
    val l = Seq((1, 10L), (2, 20L)).toDF("k", "t")
    val r = Seq((1, 5L, "a"), (2, 15L, "b")).toDF("k", "t", "v")
    def plan(rb: Int): String =
      AsOfJoin.asof(l, r, "k", "t", Seq("v"), rangeBuckets = rb)
        .queryExecution.executedPlan.toString
    assert(plan(5).contains("rangepartitioning(k#") && plan(5).contains(", 5)"))
    assert(plan(Partitions.FromPlan).contains("Exchange SinglePartition"))
    assert(plan(0).contains("hashpartitioning(k#"))
  }

  test("spread repartitions to the session's cap") {
    val df: DataFrame = spark.range(0L, 10L, 1L, 1).toDF()
    assert(Partitions.spread(df).queryExecution.executedPlan.toString
      .contains(s"RoundRobinPartitioning($cap)"))
  }
}
