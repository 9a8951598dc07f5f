package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-(JVM, dataset) artifact memo and the ANN family built on it. */
class FixturesSpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("memo_ds").toString

  test("memo: computes once per (name, dataset)") {
    val d = freshDir()
    var runs = 0
    assert(Fixtures.memo("t_once", d) { runs += 1; runs } == 1)
    assert(Fixtures.memo("t_once", d) { runs += 1; runs } == 1)
    assert(runs == 1)
    assert(Fixtures.cached[Int]("t_once", d) == Some(1))
    assert(Fixtures.cached[Int]("t_absent", d).isEmpty)
  }

  test("memo: a nested call is reentrant") {
    val d = freshDir()
    assert(Fixtures.memo("t_outer", d)(Fixtures.memo("t_inner", d)(20) + 1) == 21)
    assert(Fixtures.cached[Int]("t_inner", d) == Some(20))
  }

  test("memo: a throwing compute caches nothing; the next call recomputes") {
    val d = freshDir()
    intercept[IllegalStateException](
      Fixtures.memo[Int]("t_throw", d)(throw new IllegalStateException("boom")))
    assert(Fixtures.cached[Int]("t_throw", d).isEmpty)
    assert(Fixtures.memo("t_throw", d)(7) == 7)
  }

  test("memo: two dataset dirs never share an entry") {
    val (a, b) = (freshDir(), freshDir())
    assert(Fixtures.memo("t_ds", a)("a") == "a")
    assert(Fixtures.memo("t_ds", b)("b") == "b")
    assert(Fixtures.writeOnce("t_file", a)(_ => ()) !=
      Fixtures.writeOnce("t_file", b)(_ => ()))
  }

  /** The executed plans of every action `body` ran. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "fixtures_spec_marker"
    def markerSeen = qes.toArray(Array.empty[QueryExecution])
      .exists(_.analyzed.output.exists(_.name == marker))
    spark.listenerManager.register(listener)
    try {
      body
      // events arrive in order: once the marker's is in, so are those
      // of every action `body` ran
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "query execution events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    qes.toArray(Array.empty[QueryExecution]).toSeq
      .filterNot(_.analyzed.output.exists(_.name == marker)).map(_.executedPlan)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  test("the embeddings family collects its head once and shares each quantizer") {
    // a fresh dataset dir: every memo of the family starts cold
    val d = freshDir()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "embeddings.parquet"),
      java.nio.file.Paths.get(d, "embeddings.parquet"))
    val memoBacked = Seq("ann_radius_ivf", "ann_delta_search",
      "ann_stream_search", "ann_ivf", "ann_batch_ivf", "ann_pq", "ann_ivfpq",
      "cluster_assign", "sample_diverse", "kmeans_step", "dedup_embcos",
      "dedup_semantic")
    val plans = executedPlans(graft.CacheScope.withScope(
      memoBacked.foreach(n => graft.SparkEntry.benchQueries(n)(spark, d))))
    val embeddings = s"$d/embeddings.parquet"
    def scansEmbeddings(p: SparkPlan) = nodes(p).exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.endsWith(embeddings))
      case _ => false
    }
    val headCollects = plans.count(p => nodes(p).exists {
      case t: TakeOrderedAndProjectExec => scansEmbeddings(t.child)
      case _ => false
    })
    assert(headCollects == 1, s"$headCollects TakeOrdered collects over $embeddings")

    // the four √N-cell indexes see one quantizer
    val sqrtN = Seq(AnnQueries.ivfRadiusIndexFor(spark, d)._2,
      AnnQueries.ivfDeltaIndexFor(spark, d)._2,
      AnnQueries.streamSearchFor(spark, d)._2,
      AnnQueries.ivfBatchIndexFor(spark, d)._2)
    assert(sqrtN.forall(_ eq sqrtN.head))
  }
}
