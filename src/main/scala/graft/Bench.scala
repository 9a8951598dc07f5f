package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line (driver contract).
  *
  * Queries run against the "noop" sink so the FULL result is computed
  * (count() alone would let Catalyst prune projections) without
  * paying parquet-write cost. One warmup query primes the JVM/codegen
  * caches; each query then runs once, in sorted name order for
  * run-to-run comparability.
  *
  * The JSON object is also written to [[RecordPath]] (relative to the
  * working directory, the project root under `sbt runMain`), and its
  * stdout line is the last line of the run's output.
  */
object Bench {
  val RecordPath = "target/bench.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.withDefaults(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // A failed query reports the 1e9 sentinel, not its (near-zero)
    // wall time — a broken query must never look like a speedup.
    // CacheScope.withScope: operator-internal persists (shingle
    // frames, offset catalogs) are released once the query's action
    // completes — without this, 51 queries × 2 passes accumulate dead
    // cached partitions and later queries pay eviction churn.
    // benchQueries: each query's one build — the frame Verify checks,
    // directly or through the verdict gate of the sketch and ANN
    // recall queries (the gate's exact side is never timed)
    // failure reasons ride IN the JSON line: the driver keeps only the
    // tail of the run's output, so stderr messages from early queries
    // are lost — round 6's three sentinel rows arrived reason-less
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def exec(name: String): Double = CacheScope.withScope {
      val t0 = System.nanoTime()
      try {
        SparkEntry.benchQueries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n').take(80)
          .replaceAll("""[\\"\p{Cntrl}]""", " ")
        errors(name) = msg
        1e9
      }
    }

    // Load-calibration probe: a fixed CPU-bound job (xxhash64 fold
    // over 2^28 ids, one partition per core) whose wall time depends
    // only on machine conditions, never on graft code. INTERLEAVED
    // every `probeSeg` queries (plus one final probe), so a mid-pass
    // load burst is localized to its segment instead of hiding
    // between clean before/after probes (the r5 driver pass burst hit
    // mid-pass: per-query times 6-20x high while the bracketing
    // probes stayed under threshold). probes[i] precedes segment i;
    // a query in segment i is suspect when
    // max(probes[i], probes[i+1]) > 1.5x the recorded probe_sec.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      // xxhash64 per row = fixed CPU work; % bounds the ANSI-checked sum
      spark.range(0L, 1L << 28, 1L, cpus.toInt)
        .selectExpr("sum(xxhash64(id) % 100000)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // best-of-2 per probe point: single probe runs carry scheduler
    // jitter that would false-flag clean segments at the 1.5x rule
    def probe(): Double = math.min(probeOnce(), probeOnce())

    exec("groupby_agg") // warmup: JVM + codegen + parquet footer caches
    probe() // warmup the probe plan too — its own first-run codegen
    // (~0.3 s) would otherwise false-flag segment 0 as load
    // best-of-n passes (default 2, SPARK_GRAFT_BENCH_RUNS to raise):
    // single runs carry up to ±25% noise from codegen compilation and
    // machine load; the min approximates steady-state capability
    // optional args = subset of query names (local iteration aid; the
    // driver passes none and gets the full set)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val names = if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.benchQueries.keys.toSeq.sorted
    val probeSeg = 15
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results = names.zipWithIndex.map { case (n, i) =>
      if (i % probeSeg == 0) probes += probe()
      n -> Seq.fill(runs)(exec(n)).min
    }
    probes += probe()
    val probeSec = probes.min
    // a transient failure on one attempt (or the warmup) must not
    // flag a query whose recorded best-of-n is a real success — keep
    // a reason only where the recorded value IS the sentinel
    val failed = results.filter(_._2 >= 1e8).map(_._1).toSet
    errors.filterInPlace { case (k, _) => failed(k) }
    // 4-decimal (0.1 ms) formatting: the driver records only the TAIL
    // of the run's output, and full-precision doubles pushed the JSON
    // line past that window (round 6 lost the `total` and the early
    // queries to truncation). 0.1 ms is far below run-to-run noise.
    def fmt(v: Double): String =
      if (v >= 1e8) "1.0E9" // keep the failure sentinel exact
      // Locale.ROOT: a comma decimal separator would break the JSON
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val ps = probes.map(fmt).mkString("[", ",", "]")
    // total = sum of SUCCESSFUL queries only: clamping a 1e9 sentinel
    // into the sum made the real runtime unrecoverable (and two
    // failures indistinguishable from one) — failures are counted
    // separately in n_failed and named in errors
    val ok = results.filterNot { case (k, _) => failed(k) }
    val total = ok.map(_._2).sum
    val errs = if (errors.isEmpty) "" else errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString(""","errors":{""", ",", "}")
    // summary fields AFTER the per-query map, never before: the driver
    // stores only the trailing ~2 KB of output, and a 107-entry map is
    // wider than that window — r6/r7 lost `total` and the first ~30
    // queries to front truncation. queries-first ordering keeps the
    // surviving tail self-sufficient (total, probes, env, errors).
    val summary = s""""metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"probe_sec":${fmt(probeSec)},"probes":$ps,"probe_seg":$probeSeg,"cpus":${cpus.toInt},"runs":$runs$errs"""
    // the 10 slowest successful queries, folded into the SAME object:
    // a second trailing {"slowest":...} JSON line (rounds 6-12) made
    // the driver's last-JSON-line parse find no "queries" key, so
    // PERF per-query/scaling comparisons ran blind (parsed:null every
    // round). ONE stdout JSON line is the contract; ordering puts
    // queries first and slowest+summary last so the stored ~2 KB tail
    // window still ends with the self-sufficient compact fields.
    val slowest = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line = s"""{"queries":$qs,"slowest":$slowest,$summary}"""
    spark.stop() // before the line: nothing the session logs may follow it
    // the whole object also goes to a fixed file: an output tail of
    // ~2 KB cannot hold the 186-entry map
    val out = java.nio.file.Paths.get(RecordPath)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    println(line)
  }
}
