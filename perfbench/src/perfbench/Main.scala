package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SQLExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.{CacheScope, GraftSession, SparkEntry}
import graft.model.GraftDataset
import graft.sources.Load
import graft.sources.hdf5.Hdf5Save

/** One op of a workload, as `workloads.json` defines it. `kind` is
  * `query` (a `SparkEntry` query by name) or a writer call (see
  * `Runner.write`); `rows` is the nominal input row count.
  * `benchOverride`: graft registers a bench-only build for the query.
  * `recallOf`: the query's Verify build is a recall verdict, and its
  * bench build returns the top-k itself, which is checked against the
  * exact top-k that the named query's Verify build returns. */
final case class OpDef(name: String, module: String, kind: String,
    rows: Long, benchOverride: Boolean, recallOf: Option[String], writes: Boolean)

final case class Workload(name: String, tables: Map[String, Long],
    tailPercentile: Double, ops: Seq[OpDef])

/** Outcome of one op execution. `wrong`: the op completed but its
  * output failed the check. */
final case class OpRun(op: OpDef, pass: Int, buildS: Double, planS: Double,
    actionS: Double, fp: Option[(Long, Long)], error: Option[String],
    span: Long, shape: Map[String, Long], writtenBytes: Long, wrong: Boolean = false) {
  def latencyS: Double = buildS + planS + actionS
}

/** One timed pass: nominal rows of the ops that completed, wall and
  * process CPU seconds, and the share of the machine's CPU time the
  * hypervisor gave to other guests meanwhile. */
final case class PassCost(pass: Int, rows: Long, wallS: Double, cpuS: Double, steal: Double)

/** The benchmark's JVM: generates the inputs, runs every op of the
  * workload once untimed (fixtures, code generation, memos and the
  * output reference), then runs whole seeded passes over the ops in one
  * closed-loop client for about `--seconds` (at least `MinPasses`), and
  * writes the metrics as JSON. With `--trace 1` it also records spans
  * and listener counters and writes the per-layer metrics. */
object Main {
  val Cores = 4
  /** Passes the timing metrics use: enough latency samples for the
    * tail percentile to fall among one op's low samples, few enough
    * that a run stays within the benchmark's time budget. */
  private val MinPasses = 6
  /** A recall op's bench build must return exactly `RecallK` rows, at
    * least `RecallMinHits` of them in the exact top-k: the rule of
    * graft's recall verdict. */
  private val RecallK = 10L
  private val RecallMinHits = 3L
  private val TableSeed = 42L
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = loadWorkload(new File(args("spec")), args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile

    val probeBefore = Probe.run()
    val tSession = System.nanoTime()
    val spark = GraftSession.withDefaults(SparkSession.builder()
      .master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    val dataDir = new File(work, "data").getPath
    val tData = System.nanoTime()
    DataGen.write(spark, dataDir, wl.tables, TableSeed, seed)
    val runner = new Runner(spark, dataDir, new File(work, "out"), tracer)
    runner.setup(wl, TableSeed)
    val tFirst = System.nanoTime()
    val runSpan = tracer.map(_.open("run", wl.name, 0L, 0L))

    // untimed first pass: the reference fingerprint of every op is its
    // Verify build's (SparkEntry.queries). A bench override runs too,
    // so its memos are warm, and must match Verify — except for a
    // recall op, whose Verify build returns the recall verdict: that
    // must match its constant oracle, and the bench build's top-k is
    // checked against the exact top-k before it becomes the reference
    val rng = new scala.util.Random(seed)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val reference = mutable.Map.empty[String, (Long, Long)]
    val parent = runSpan.fold(0L)(_.id)
    rng.shuffle(wl.ops).foreach { op =>
      val v = runner.run(op, verify = true, 0, parent)
      if (op.kind != "query") {
        // a reopened snapshot must reduce to what the generated table does
        runs += check(v, Map(op.name -> runner.sourceFingerprint))
        reference(op.name) = runner.sourceFingerprint
      } else op.recallOf match {
        case None =>
          runs += v
          v.fp.foreach(reference(op.name) = _)
          if (op.benchOverride) runs += check(runner.run(op, verify = false, 0, parent), reference)
        case Some(exact) =>
          runs += guarded(v, "oracle")(check(v, Map(op.name -> runner.oracleFingerprint(op.name))))
          val b = runner.run(op, verify = false, 0, parent)
          val checked = guarded(b, "recall check")(runner.recall(op.name, exact) match {
            case (RecallK, hits) if hits >= RecallMinHits => b
            case (rows, hits) => b.copy(wrong = true, error = Some(s"bench top-k has $rows " +
              s"rows (want $RecallK), $hits in $exact's exact top-k (want >= $RecallMinHits)"))
          })
          runs += checked
          if (checked.error.isEmpty) checked.fp.foreach(reference(op.name) = _)
      }
    }

    // timed loop: whole passes, so every run measures the same op mix
    tracer.foreach(_.resetPeak())
    val storedBefore = cachedBlocks(spark)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - probeBefore
    val t0 = System.nanoTime()
    val setupParts = Seq("session_s" -> (tData - tSession) / 1e9,
      "inputs_s" -> (tFirst - tData) / 1e9, "first_pass_s" -> (t0 - tFirst) / 1e9)
    def elapsedS = (System.nanoTime() - t0 - runner.excludedNs) / 1e9
    val passCost = mutable.ArrayBuffer.empty[PassCost]
    var pass = 0
    // at least `MinPasses` passes, then another pass if at least half of
    // it should fit in the run time
    while (pass < MinPasses || elapsedS * (pass + 0.5) / pass < seconds) {
      pass += 1
      val (w0, c0, j0) = (elapsedS, osBean.getProcessCpuTime, cpuJiffies)
      val passRuns = rng.shuffle(wl.ops).map(op =>
        check(runner.run(op, verify = false, pass, parent), reference))
      runs ++= passRuns
      val j1 = cpuJiffies
      passCost += PassCost(pass, passRuns.filter(_.error.isEmpty).map(_.op.rows).sum,
        elapsedS - w0, (osBean.getProcessCpuTime - c0) / 1e9,
        (j1._1 - j0._1).toDouble / math.max(1L, j1._2 - j0._2))
    }
    val loopS = elapsedS
    runSpan.foreach(s => tracer.get.close(s))
    val probeAfter = Probe.run()

    val timed = runs.filter(_.pass > 0).toSeq
    val ok = runs.count(_.error.isEmpty)
    // the timing metrics come from the `MinPasses` passes in which the
    // hypervisor stole the least CPU time; per-pass figures are medians
    // over them
    val measured = passCost.sortBy(_.steal).take(MinPasses).toSeq
    val measuredIds = measured.map(_.pass).toSet
    val lat = timed.filter(r => r.error.isEmpty && measuredIds(r.pass)).map(_.latencyS).sorted
    val e2e = Seq(
      "rows_per_s" -> median(measured.map(p => p.rows / p.wallS)),
      "latency_p50_s" -> percentile(lat, 0.5),
      "latency_tail_s" -> percentile(lat, wl.tailPercentile),
      "cpu_s" -> median(measured.map(_.cpuS)),
      "ok_frac" -> ok.toDouble / runs.size,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb)

    val out = mapper.createObjectNode()
    out.put("workload", wl.name).put("seed", seed).put("trace", traced)
    out.put("attempted", runs.size).put("failed", runs.size - ok)
      .put("wrong", runs.count(_.wrong))
    val errs = out.putArray("errors")
    runs.filter(_.error.nonEmpty).foreach(r =>
      errs.addObject().put("op", r.op.name).put("pass", r.pass).put("error", r.error.get))
    putAll(out.putObject("end_to_end"), e2e)
    val info = out.putObject("info")
    info.put("probe_before_s", probeBefore).put("probe_after_s", probeAfter)
      .put("passes", pass).put("timed_ops", timed.size)
      .put("tail_percentile", wl.tailPercentile)
      .put("tail_samples_beyond", lat.count(_ > percentile(lat, wl.tailPercentile)))
      .put("loop_s", loopS)
      .put("steal_max", passCost.map(_.steal).max)
      .put("bench_overrides", wl.ops.filter(_.benchOverride).map(_.name).mkString(","))
    putAll(info, setupParts)

    tracer.foreach { t =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      // async unpersists of the last op settle before blocks are counted
      Thread.sleep(1000)
      val leaked = math.max(0L, cachedBlocks(spark) - storedBefore)
      val layers = perLayer(t, timed, pass, leaked)
      putAll(out.putObject("per_layer"), layers)
      val doc = mapper.createObjectNode()
      doc.put("workload", wl.name).put("seed", seed).put("passes", pass)
      putAll(doc.putObject("per_layer"), layers)
      putAll(doc.putObject("traced_end_to_end"), e2e)
      putAll(doc.putObject("self_time_s_per_pass"),
        t.selfTimesUs(timed.map(_.span).toSet).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v / 1e6 / pass })
      val opsNode = doc.putArray("ops")
      timed.foreach { r =>
        val c = Option(t.counters.get(r.span)).getOrElse(new OpCounters)
        val o = opsNode.addObject().put("op", r.op.name).put("module", r.op.module)
          .put("pass", r.pass).put("build_s", r.buildS).put("plan_s", r.planS)
          .put("action_s", r.actionS).put("ok", r.error.isEmpty)
          .put("jobs", c.jobs).put("build_jobs", c.buildJobs).put("stages", c.stages)
          .put("tasks", c.tasks).put("shuffle_write_mb", c.shuffleWriteBytes / 1e6)
          .put("shuffle_read_mb", c.shuffleReadBytes / 1e6)
          .put("input_rows", c.inputRows)
        putAll(o.putObject("plan"), r.shape.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toDouble })
      }
      val spanNode = doc.putArray("spans")
      t.spans.asScala.toSeq.sortBy(_.id).foreach { s =>
        spanNode.addObject().put("id", s.id).put("parent", s.parent).put("kind", s.kind)
          .put("name", s.name).put("op", s.op).put("start_us", s.startUs).put("end_us", s.endUs)
      }
      Files.write(new File(args("trace-out")).toPath,
        mapper.writeValueAsString(doc).getBytes(UTF_8))
    }
    Files.write(new File(args("result")).toPath,
      mapper.writeValueAsString(out).getBytes(UTF_8))
    spark.stop()
  }

  /** An op's output must match its reference fingerprint. */
  private def check(r: OpRun, reference: collection.Map[String, (Long, Long)]): OpRun =
    if (r.error.nonEmpty) r
    else reference.get(r.op.name) match {
      case None => r.copy(error = Some("no reference: its first-pass check failed"))
      case Some(ref) if r.fp.contains(ref) => r
      case Some(ref) => r.copy(wrong = true, error = Some(
        s"output differs from the reference: rows ${r.fp.get._1} vs ${ref._1}, " +
          s"hash ${r.fp.get._2} vs ${ref._2}"))
    }

  /** `body`, a check of `r`, unless `r` already failed; an exception
    * of the check fails `r`. */
  private def guarded(r: OpRun, what: String)(body: => OpRun): OpRun =
    if (r.error.nonEmpty) r
    else try body catch { case NonFatal(e) => r.copy(error = Some(s"$what: ${e.getMessage}")) }

  /** Whether graft registers a bench-only build for the query: each
    * lambda's class stands for the place that defines it, so the bench
    * build differs from the Verify build exactly when its class does. */
  private def hasBenchOverride(name: String): Boolean =
    SparkEntry.benchQueries(name).getClass ne SparkEntry.queries(name).getClass

  private def perLayer(t: Tracer, timed: Seq[OpRun], passes: Int,
      leaked: Long): Seq[(String, Double)] = {
    val c = timed.flatMap(r => Option(t.counters.get(r.span)))
    def sum(f: OpCounters => Long): Double = c.map(f).sum.toDouble / passes
    def shape(k: String): Double = timed.map(_.shape.getOrElse(k, 0L)).sum.toDouble / passes
    def opS(module: String): Double =
      timed.filter(_.op.module == module).map(_.latencyS).sum / passes
    val writers = timed.filter(_.op.writes)
    val opWallS = timed.map(_.latencyS).sum
    Seq(
      "queries.build_s" -> timed.map(_.buildS).sum / passes,
      "queries.build_jobs" -> sum(_.buildJobs),
      "planning.plan_s" -> timed.map(_.planS).sum / passes,
      "plan.exchanges" -> shape("exchanges"),
      "plan.joins_broadcast" -> shape("joins_broadcast"),
      "plan.joins_sortmerge" -> shape("joins_sortmerge"),
      "plan.sorts" -> shape("sorts"),
      "plan.cached" -> shape("cached"),
      "scheduling.jobs" -> sum(_.jobs),
      "scheduling.stages" -> sum(_.stages),
      "scheduling.tasks" -> sum(_.tasks),
      "scheduling.delay_s" -> sum(_.schedDelayMs) / 1e3,
      "scheduling.slot_util" -> sum(_.runMs) * passes / 1e3 / (opWallS * Cores),
      "scheduling.failed_tasks" -> sum(_.failedTasks),
      "execution.run_s" -> sum(_.runMs) / 1e3,
      "execution.cpu_s" -> sum(_.cpuNs) / 1e9,
      "execution.gc_s" -> sum(_.gcMs) / 1e3,
      "execution.spill_mb" -> sum(_.spillBytes) / 1e6,
      "shuffle.write_mb" -> sum(_.shuffleWriteBytes) / 1e6,
      "shuffle.read_mb" -> sum(_.shuffleReadBytes) / 1e6,
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "sources.input_mb" -> sum(_.inputBytes) / 1e6,
      "sources.input_rows" -> sum(_.inputRows),
      "sources.output_mb" -> (sum(_.outputBytes) +
        timed.map(_.writtenBytes).sum.toDouble / passes) / 1e6,
      "sources.write_s" -> writers.map(_.buildS).sum / passes,
      "sources.reopen_s" -> writers.map(r => r.planS + r.actionS).sum / passes,
      "CacheScope.cached_mb" -> t.peakCachedBytes / 1e6,
      "CacheScope.leaked_blocks" -> leaked.toDouble / passes,
      "model.op_s" -> opS("model"),
      "operators.op_s" -> opS("operators"),
      "functions.op_s" -> opS("functions"),
      "dedup.op_s" -> opS("dedup"),
      "ann.op_s" -> opS("ann"),
      "sources.op_s" -> opS("sources"))
  }

  /** Operator counts of the final (post-AQE) physical plan,
    * subqueries included; a reused exchange is not counted again. */
  def planShape(root: SparkPlan): Map[String, Long] = {
    val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => m("exchanges") += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
            m("joins_broadcast") += 1
          case _: SortMergeJoinExec => m("joins_sortmerge") += 1
          case _: SortExec => m("sorts") += 1
          case _: InMemoryTableScanExec => m("cached") += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    m.toMap
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = p * (sorted.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  /** (steal, all) jiffies of the machine's CPUs, from /proc/stat. */
  private def cpuJiffies: (Long, Long) = {
    val f = procLines("/proc/stat").head.trim.split("\\s+").slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }

  private def peakRssMb: Double =
    procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def procLines(path: String): Seq[String] =
    Files.readAllLines(new File(path).toPath).asScala.toSeq

  private def cachedBlocks(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  private def putAll(node: ObjectNode, kv: Seq[(String, Double)]): Unit =
    kv.foreach { case (k, v) => node.put(k, v) }

  def loadWorkload(spec: File, name: String): Workload = {
    val w = mapper.readTree(spec).get("workloads").get(name)
    require(w != null, s"unknown workload $name")
    Workload(name,
      w.get("tables").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap,
      w.get("tail_percentile").asDouble() / 100.0,
      w.get("ops").elements().asScala.map { o =>
        val op = o.get("name").asText()
        val kind = Option(o.get("kind")).fold("query")(_.asText())
        OpDef(op, o.get("module").asText(), kind, o.get("rows").asLong(),
          kind == "query" && hasBenchOverride(op), Option(o.get("recall_of")).map(_.asText()),
          Option(o.get("writes")).exists(_.asBoolean()))
      }.toSeq)
  }
}

/** Executes ops through graft's public entry points and fingerprints
  * their output. */
final class Runner(spark: SparkSession, dataDir: String, outRoot: File,
    tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  private var srcHdf5 = ""
  /** Fingerprint of the reduced generated table the writer ops copy. */
  var sourceFingerprint = (0L, 0L)
  private var outSeq = 0
  /** Time spent deleting writer outputs, which the loop does not time. */
  var excludedNs = 0L

  /** The writer ops' source snapshot: `lineitem` as a chunked-HDF5
    * snapshot written by Hdf5Save. */
  def setup(wl: Workload, tableSeed: Long): Unit =
    if (wl.ops.exists(_.kind != "query")) {
      outRoot.mkdirs()
      srcHdf5 = new File(outRoot, "src_hdf5").getPath
      val source = DataGen.starTable(spark, "lineitem", DataGen.sf01Rows ++ wl.tables,
          tableSeed).select("row_id", "l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      sourceFingerprint = fingerprint(reduce(source))
      Hdf5Save.save(source, "row_id", srcHdf5)
    }

  /** Fingerprint of a recall op's oracle, a constant SELECT. */
  def oracleFingerprint(name: String): (Long, Long) =
    fingerprint(spark.sql(SparkEntry.oracleSql(name)))

  /** (rows, hits): the row count of the bench build of `name`, and how
    * many of its `vec_id`s the Verify build of `exact` returns too. */
  def recall(name: String, exact: String): (Long, Long) = CacheScope.withScope {
    val ann = SparkEntry.benchQueries(name)(spark, dataDir)
    val top = SparkEntry.queries(exact)(spark, dataDir).select("vec_id")
    (ann.count(), ann.join(top, Seq("vec_id"), "left_semi").count())
  }

  /** Order-insensitive reduction of a reopened snapshot. */
  private def reduce(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"),
    sum("l_orderkey").as("keys"), sum("l_linenumber").as("lines"),
    sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("cents"),
    sum(col("l_quantity").cast("long")).as("qty"))

  def run(op: OpDef, verify: Boolean, pass: Int, parent: Long): OpRun = {
    val opSpan = tracer.map(_.open("op", op.name, parent, 0L))
    var buildS, planS, actionS = 0.0
    var fp: Option[(Long, Long)] = None
    var shape = Map.empty[String, Long]
    var out: File = null
    def phase[T](kind: String)(body: => T): (T, Double) = {
      val sp = tracer.map(t => t.open(kind, s"${op.name}.$kind", opSpan.get.id, opSpan.get.id))
      sp.foreach(s => sc.setLocalProperty("perfbench.span", s.id.toString))
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally {
        sp.foreach(s => tracer.get.close(s))
        sc.setLocalProperty("perfbench.span", null)
      }
    }
    val error = try {
      CacheScope.withScope {
        val (df, b) = phase("build") {
          if (op.kind == "query")
            (if (verify) SparkEntry.queries else SparkEntry.benchQueries)(op.name)(spark, dataDir)
          else {
            outSeq += 1
            out = new File(outRoot, s"${op.name}_$outSeq")
            write(op.kind, out.getPath)
            null
          }
        }
        buildS = b
        val (planned, p) = phase("plan") {
          val d = if (df != null) df else reduce(Load.dataFrame(spark, out.getPath))
          d.queryExecution.executedPlan
          d
        }
        planS = p
        val (f, a) = phase("action")(fingerprint(planned))
        actionS = a
        fp = Some(f)
        if (tracer.nonEmpty) shape = Main.planShape(planned.queryExecution.executedPlan)
      }
      None
    } catch {
      case NonFatal(e) =>
        Some(String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300) +
          s" (${e.getClass.getSimpleName})")
    }
    opSpan.foreach(s => tracer.get.close(s))
    // bytes on disk of the writer calls, which Spark's task output metrics do not count
    val written = if (out != null && tracer.nonEmpty) du(out) else 0L
    if (out != null) {
      val t0 = System.nanoTime()
      delete(out)
      excludedNs += System.nanoTime() - t0
    }
    OpRun(op, pass, buildS, planS, actionS, fp, error, opSpan.fold(0L)(_.id), shape, written)
  }

  private def write(kind: String, out: String): Unit = kind match {
    case "copy_to_zarr" => Load.copyToZarr(spark, srcHdf5, out)
    case "copy_to_hdf5" => Load.copyToHdf5(spark, srcHdf5, out)
    case "save_zarr" => GraftDataset(Load.dataFrame(spark, srcHdf5)).saveZarr(out, "row_id")
  }

  /** (row count, Σ xxhash64 of each row's bytes): equal for equal
    * row multisets in any order. Executes the same physical plan a
    * write or collect would. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        while (it.hasNext) {
          val r = proj(it.next())
          n += 1
          h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        }
        Iterator.single((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
    }
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length()

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
