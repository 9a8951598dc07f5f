package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps.roundAt
import graft.operators.Partitions
import graft.sources.Tables

/** Relational engine core: joins, sorts, windows, rollups, quantiles,
  * skew-safe joins. These establish capability parity for the query
  * shapes scida delegates to dask reductions plus the classic star-
  * schema analytics a 100 TB warehouse needs.
  *
  * Scale posture: lineitem/orders are the large side and are only ever
  * shuffled on their join/group keys; dims are `broadcast`-hinted;
  * top-k uses ORDER BY + LIMIT (Spark plans TakeOrderedAndProject —
  * no global sort shuffle).
  */
object RelationalQueries {

  // Hot-key sets are TABLE STATISTICS, not per-query work: persistent
  // skew is a property of the data, so production maintains the hot
  // set as a persisted artifact beside the table (refreshed by the
  // ingest pipeline) and queries just read it.
  private def hotKeysOf(s: org.apache.spark.sql.SparkSession, d: String,
      table: String, key: String): Array[Long] =
    Fixtures.memo(s"hot_keys/$table/$key", d)(
      graft.operators.FrequencySketch.heavyHitters(
        Tables(s, d, table).select(key), key,
        // φ-heavy-hitters: hot = holds >= 1/256 of the table's rows —
        // the keys that would overflow a reducer. (TPC-H lineitem has
        // NO such keys, so the hot set is empty here and the salt
        // path no-ops — the skewed-data path is pinned by
        // OperatorsSpec's Skew.saltedJoin test instead. An absolute
        // minCount tuned at one SF mis-fires at every other.)
        capacity = 1 << 16, minFraction = 1.0 / 256))

  // winsorize's exact p01/p99 boundaries: a table statistic
  // maintained at ingest, not re-derived per execution
  private def winsorBoundsOf(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Double] =
    Fixtures.memo("winsor_bounds", d)(
      graft.operators.ExactQuantiles.values(
        Tables.lineitem(s, d), "l_extendedprice", Seq(0.01, 0.99)))

  def defs: Map[String, QueryDef] = Map(
    // --- groupBy + agg (TPC-H Q1 shape; scida grouped().sum() analogue) ---
    "groupby_agg" -> QueryDef.sql(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          // bounded result (flag x status cells) — see QueryDef.sortSmall
          .transform(QueryDef.sortSmall(_, col("l_returnflag"), col("l_linestatus")))
      },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // --- 3-way join + agg (TPC-H Q3 shape) ---
    "join3" -> QueryDef.sql(
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .select(col("o_orderkey"), col("revenue"), col("o_orderdate").cast("date").as("odate"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(20)
      },
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin),

    // --- 5/6-way star join, dims broadcast (TPC-H Q5 shape) ---
    "join5_broadcast" -> QueryDef.sql(
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val su = Tables.supplier(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        // shuffle-HASH for the one genuine shuffle join: the orders
        // build side hashes ~|orders|/partitions rows per task —
        // bounded — and SMJ's sort of the 4x-larger fact side is pure
        // overhead before an aggregation that destroys order anyway
        l.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c),
            col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_rows"))
          .transform(QueryDef.sortSmall(_, col("revenue").desc, col("n_name")))
      },
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // --- semi (EXISTS) + anti (NOT EXISTS) joins ---
    "semi_anti" -> QueryDef.sql(
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).select("o_custkey")
        val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment").as("seg")).agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("semi"))
        val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment").as("seg")).agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("anti"))
        semi.unionByName(anti).select("kind", "seg", "n")
          .transform(QueryDef.sortSmall(_, col("kind"), col("seg")))
      },
      """SELECT * FROM (
        |  SELECT 'semi' AS kind, c_mktsegment AS seg, count(*) AS n
        |  FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'anti' AS kind, c_mktsegment AS seg, count(*) AS n
        |  FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment
        |) ORDER BY kind, seg""".stripMargin),

    // --- global order-by + limit (TakeOrderedAndProject, no full sort) ---
    "sort_limit" -> QueryDef.sql(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(15),
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 15""".stripMargin),

    // --- distinct + exact count-distinct ---
    "distinct_count" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status")),
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        |FROM lineitem""".stripMargin),

    // --- running per-key window aggregation ---
    "window_running" -> QueryDef.sql(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // ONE range exchange does double duty: RangePartitioning
        // (o_custkey) satisfies the window's ClusteredDistribution
        // (same key -> same partition, by boundary binary search), so
        // the window adds no hash exchange, and the range layout makes
        // the display order pinnable with a LOCAL sort — the old
        // hash-window + global orderBy planned two shuffles + a
        // sampled sort of the full output. The window is per-row
        // CPU, so the bucket count is the session's parallelism.
        Partitions.byRange(Tables.orders(s, d), Partitions.cap(s), col("o_custkey"))
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running"))
          .sortWithinPartitions("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // --- one distributed PageRank iteration (the graph sibling of
    // kmeans_step/logreg_step/pca_power_iter: the power-method step a
    // ranking pipeline iterates; damping 0.85, scores scaled ×N so
    // start pr = 1). Graph derives from lineitem key arithmetic
    // (distinct directed edges on 2000 nodes). Plan: the distinct
    // edge set rides ONE (src, word)-keyed exchange as 64-bit
    // adjacency words — bit_or's map-side partial agg both DEDUPES
    // (or is idempotent) and compresses the shuffle payload vs a
    // row-per-edge distinct (measured 0.28 s vs 0.54 s at sf0.1).
    // Outdegrees are word popcounts; per-edge contributions attach
    // to the word row (constant per src) and re-expand through the
    // codegen'd graft_bit_positions decoder, so no row-per-edge
    // frame ever crosses an exchange; the node set is IMPLICIT in a
    // full-outer join of the outdegree keys (distinct srcs) against
    // the contribution keys (distinct dsts) — no third scan-and-
    // distinct branch — and dangling nodes keep the (1−d) teleport
    // term through that join's null side. ---
    "pagerank_step" -> QueryDef.sql(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // words feeds three branches, but NOT tracked: the branches'
        // word-agg exchanges are identical subtrees that ReuseExchange
        // dedupes inside the one physical plan (measured: caching here
        // ADDS a materialization pass and blocks AQE, ~2x slower —
        // unlike the LSH band-table self-join, whose branches alias
        // columns and so don't hash-match for reuse)
        val words = li.select((col("l_orderkey") % 2000).as("src"),
            (col("l_partkey") % 2000).as("dst"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), (col("dst") / 64).cast("int").as("w"),
            expr("shiftleft(1L, cast(dst % 64 as int))").as("bit"))
          .groupBy("src", "w").agg(expr("bit_or(bit)").as("bits"))
        val outdeg = words.groupBy("src")
          .agg(sum(bit_count(col("bits")).cast("long")).as("outdeg"))
        val contrib = words.join(broadcast(outdeg), "src")
          .select(explode(graft.functions.expressions.BitPositions.of(
              col("bits"), col("w").cast("long") * 64)).as("node"),
            floor(lit(1000000.0) / col("outdeg").cast("double") + lit(0.5))
              .cast("long").as("c_micro"))
        // node set + in-sums in ONE hash aggregate: every src appears
        // as a zero-contribution row, so dangling nodes keep the
        // teleport term without a join — the previous full-outer SMJ
        // paid two sort exchanges plus a separate contrib aggregate
        // for the same result (the map-side partial agg compresses the
        // exploded contributions before the single exchange anyway)
        contrib.unionByName(outdeg
            .select(col("src").as("node"), lit(0L).as("c_micro")))
          .groupBy("node").agg(sum("c_micro").as("in_micro"))
          .select(col("node"), col("in_micro"),
            graft.functions.VectorOps.roundAt(
              lit(0.15) + lit(0.85) *
                (col("in_micro").cast("double") / lit(1000000.0)), 6)
              .as("pr_new"))
          // ≤|V| = 2000 result rows: local sort in one task, not a
          // range exchange (whose sampling job is another serial wave)
          .coalesce(1).sortWithinPartitions("node")
      },
      """WITH edges AS (
        |  SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
        |  FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000
        |), nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), outdeg AS (
        |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
        |), contrib AS (
        |  SELECT e.dst, CAST(sum(CAST(floor(
        |      1000000.0 / CAST(o.outdeg AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT)
        |    AS in_micro
        |  FROM edges e JOIN outdeg o ON o.src = e.src
        |  GROUP BY e.dst
        |)
        |SELECT n.node, coalesce(c.in_micro, 0) AS in_micro,
        |  floor((0.15 + 0.85 * (CAST(coalesce(c.in_micro, 0) AS DOUBLE)
        |    / 1000000.0))*1000000 + 0.5)/1000000 AS pr_new
        |FROM nodes n LEFT JOIN contrib c ON c.dst = n.node
        |ORDER BY n.node""".stripMargin),

    // --- distributed triangle counting (the clustering-coefficient /
    // community-structure primitive): canonical a<b orientation so
    // each triangle counts ONCE — wedges join on the smaller-id
    // endpoint, the closing edge verifies by equi-join against the
    // oriented edge set. Both joins are key-partitioned equi-joins;
    // wedge volume is Σ deg² (the algorithm's inherent cost), never
    // |V|³. ---
    "triangle_count" -> QueryDef.sql(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // This fixture graph is DENSE over a BOUNDED vertex domain
        // (ids are key mod 2000, ~26% of all pairs present), which
        // flips the algorithm choice: the general sparse-graph wedge
        // equi-join materializes Σ C(deg,2) ≈ 87M wedge rows here
        // (measured; degree-ordering doesn't help — the graph is
        // near-regular), while adjacency BITSETS are |V|²/64 bits =
        // 62 KB total. The distinct oriented edge set never exists as
        // a row-per-edge exchange: it rides ONE (u, word)-keyed
        // bit_or aggregate (map-side partial or both DEDUPES and
        // compresses the shuffle — measured 0.28 s vs 0.54 s for the
        // row-distinct at sf0.1), the per-vertex forward-neighbor
        // masks re-aggregate those ≤|V|·32 word rows, and the probe
        // side re-expands the SAME word frame with the codegen'd
        // graft_bit_positions decoder. All three consumers share the
        // word exchange via ReuseExchange (NOT tracked: caching here
        // measured slower, adds a pass and blocks AQE). Triangles =
        // Σ_{u<v ∈ E} popcount(mask(u) ∧ mask(v)) — each triangle
        // counted once at its lowest vertex, ~16M word-ANDs in the
        // codegen'd graft_and_popcount loop instead of an 87M-row
        // join or an interpreted per-word HOF fold. At an UNBOUNDED
        // vertex domain the wedge join is the right shape (it's what
        // fof_groups uses); the bounded-domain bitset is the classic
        // dense special case. ---
        val words = li
          .select((col("l_orderkey") % 2000).as("a"),
            (col("l_partkey") % 2000).as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v"))
          .select(col("u"), (col("v") / 64).cast("int").as("w"),
            expr("shiftleft(1L, cast(v % 64 as int))").as("bit"))
          .groupBy("u", "w").agg(expr("bit_or(bit)").as("bits"))
        val masks = words
          .groupBy("u")
          .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
            .as("wb"))
          .select(col("u").as("n"), transform(sequence(lit(0), lit(31)),
            i => coalesce(element_at(col("wb"), i.cast("int")), lit(0L)))
            .as("mask"))
        val probe = words.select(col("u"),
          explode(graft.functions.expressions.BitPositions.of(
            col("bits"), col("w").cast("long") * 64)).as("v"))
        probe
          .join(broadcast(masks.select(col("n").as("u"), col("mask").as("mu"))),
            Seq("u"))
          .join(broadcast(masks.select(col("n").as("v"), col("mask").as("mv"))),
            Seq("v"))
          .select(graft.functions.expressions.AndPopCount.of(
            col("mu"), col("mv")).as("tri"))
          .agg(sum("tri").as("n_triangles"))
      },
      """WITH e AS (
        |  SELECT DISTINCT least(l_orderkey % 2000, l_partkey % 2000) AS u,
        |    greatest(l_orderkey % 2000, l_partkey % 2000) AS v
        |  FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000
        |)
        |SELECT count(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin),

    // --- PIVOT (cross-tab): long→wide reshaping with an EXPLICIT
    // value list — the pivoted domain must be declared (or discovered
    // by a bounded distinct scan) for the output schema to be static;
    // Catalyst rewrites the pivot to ONE aggregation with a CASE per
    // value (the same conditional-aggregation plan the oracle spells
    // out), so the shuffle carries |days| × |values| partials, never
    // a per-value pass. ---
    "pivot_table" -> QueryDef.sql(
      (s, d) => Tables.events(s, d)
        .withColumn("day", col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .transform(QueryDef.sortSmall(_, col("day"))),
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin),

    // --- UNPIVOT (melt): the inverse wide→long reshape — a map-side
    // row explosion (3× here), no shuffle beyond the deterministic
    // output sort; values pass through untouched so no rounding
    // discipline is needed.
    // Trace-pinned MINIMAL (r13 JobPeek, warm): 3 jobs — range-
    // boundary sampling (re-executes the scan+Expand), the range
    // exchange map pass, the sorted reduce. The sampling re-execution
    // is the known rangepartitioning cost on a map-only child;
    // caching the 3×-row intermediate to share it (sortBarrier) would
    // persist a row-per-input×3 frame — wrong trade at 100 TB for a
    // cheap columnar scan + Expand recompute. Row-per-input output ⇒
    // the global range sort itself is the declared, scale-correct
    // finish. ---
    "unpivot_table" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_discount").as("discount"), col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("discount"), col("tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
        |    CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    // --- hierarchical ROLLUP grouping sets ---
    "rollup_agg" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .transform(QueryDef.sortSmall(_, col("flag"), col("status"))),
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    // --- full CUBE grouping sets (adds the (·, status) marginal
    // ROLLUP omits — all 2^k subtotal combinations in ONE Expand +
    // aggregation pass, not k separate scans) ---
    "cube_agg" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .transform(QueryDef.sortSmall(_, col("flag"), col("status"))),
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin),

    // --- exact interpolated quantiles ---
    // One percentile aggregate with an ARRAY of percentages: the
    // (unavoidably value-buffering) exact-quantile state is built and
    // merged once, not once per quantile.
    // Exact quantiles via distributed rank selection
    // (operators.ExactQuantiles): `percentile()` is exact but buffers
    // every value in ONE aggregation buffer — single-node state that
    // cannot hold at 100 TB. Range-partition + sorted-partition rank
    // extraction keeps memory constant everywhere and moves only
    // 2x|probs| values to the driver; interpolation rule identical.
    "percentiles" -> QueryDef.sql(
      (s, d) => graft.operators.ExactQuantiles.quantiles(
        Tables.lineitem(s, d), "l_extendedprice",
        probs = Seq(0.25, 0.5, 0.75), names = Seq("p25", "p50", "p75")),
      // exact-replay oracle (QueryDef.exactQuantileSql): NOT
      // round(quantile_cont(...),4) — DuckDB's interpolation differs
      // in the last ulp and its round() differs on decimal ties
      QueryDef.exactQuantileSql("lineitem", "l_extendedprice",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))),

    // --- exact per-group discrete quantiles (p50/p90 per return
    // flag). Scale shape: the heavy pass is a map-side-combined
    // (group, value) COUNT — the window runs over that value
    // histogram (groups x distinct values rows, thousands at most),
    // never over raw rows. A Window.partitionBy(flag) on raw
    // lineitem would serialize 1/3 of the table per task at 3-key
    // cardinality; this form is how per-group quantiles stay
    // partition-parallel at 100 TB. Discrete selection (smallest
    // value with cumulative count >= ceil(q*n)) keeps every compare
    // in integer/exact arithmetic — no interpolation formula to
    // drift between engines. ---
    "group_percentiles" -> QueryDef.sql(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // DiscreteStats.groupValueCounts: (group, value) histogram,
        // GUARDED on total distinct pairs — the cumulative window
        // below runs over this frame, and only a discrete value
        // column keeps it histogram-sized rather than raw-row-sized
        val counts = graft.operators.DiscreteStats.groupValueCounts(
          li, Seq("l_returnflag"), col("l_quantity"))
        val w = Window.partitionBy("l_returnflag").orderBy("v")
        val cum = counts.withColumn("cum", sum("c").over(w))
        val tot = counts.groupBy("l_returnflag").agg(sum("c").as("n"))
        cum.join(broadcast(tot), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            min(when(col("cum") >= ceil(col("n") * 0.5), col("v"))).as("p50"),
            min(when(col("cum") >= ceil(col("n") * 0.9), col("v"))).as("p90"),
            max("n").as("n"))
          .transform(QueryDef.sortSmall(_, col("l_returnflag")))
      },
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity
        |), cc AS (
        |  SELECT l_returnflag, l_quantity, c,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum
        |  FROM c
        |), t AS (
        |  SELECT l_returnflag, sum(c) AS n FROM c GROUP BY l_returnflag
        |)
        |SELECT cc.l_returnflag,
        |  min(CASE WHEN cum >= ceil(n*0.5) THEN l_quantity END) AS p50,
        |  min(CASE WHEN cum >= ceil(n*0.9) THEN l_quantity END) AS p90,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM cc JOIN t ON cc.l_returnflag = t.l_returnflag
        |GROUP BY cc.l_returnflag ORDER BY cc.l_returnflag""".stripMargin),

    // --- approximate sketches: the 100 TB-native forms of distinct
    // count (HyperLogLog++) and quantiles (constant-size state, one
    // pass, map-side mergeable) — rows-only (sketch algorithms differ
    // across engines); accuracy pinned vs exact in SketchSpec ---
    // DataSketches HLL (lgK=14 ≈ 0.8% error), not approx_count_distinct
    // at rsd=0.01: Spark's HLL++ flattens its 2^14 registers into
    // ~2,700 Long BUFFER COLUMNS per sketch, which blows past codegen
    // limits and runs ~10x slower; the DataSketches aggregate keeps
    // one binary buffer per sketch (ObjectHashAggregate), stays
    // mergeable map-side, and its serialized state is reusable
    // (union-able across partitions/days).
    // Oracled as a bound check (the sketch_freq protocol): HLL
    // estimates are engine-specific, but lgK=14 has rsd ≈ 0.81%, so
    // a fix-seeded estimate within 5% (>6 sigma) of the exact count
    // is a deterministic verdict — the query emits exact distincts +
    // the two verdicts, the oracle answers from exact SQL, and any
    // HLL regression (wrong lgK, broken merge, truncation) hash-fails.
    // The build is the sketch aggregation alone — the operator a user
    // actually runs at 100 TB; the gate computes the EXACT distinct as
    // its own aggregate, cross-joined onto the built estimates.
    "sketch_distinct" -> QueryDef.gated(
      (s, d) => Tables.lineitem(s, d).agg(
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(14))).as("est_p"),
        hll_sketch_estimate(hll_sketch_agg(col("l_suppkey"), lit(14))).as("est_s")),
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  TRUE AS parts_ok, TRUE AS supps_ok
        |FROM lineitem""".stripMargin,
      (s, d, est) => {
        val exact = Tables.lineitem(s, d).agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        est.crossJoin(exact).select(col("n_parts"), col("n_supps"),
          (abs(col("est_p").cast("double") / col("n_parts") - 1.0) <= 0.05)
            .as("parts_ok"),
          (abs(col("est_s").cast("double") / col("n_supps") - 1.0) <= 0.05)
            .as("supps_ok"))
      }),
    // sketch MERGEABILITY — the reason sketches win at 100 TB: build
    // one HLL per group (per day / per partition / per shard in
    // production), persist those tiny binaries, and answer the global
    // question later by UNIONING them — no re-scan of the raw data.
    // Estimates are exact-algebra on the sketch state, so
    // union-of-groups equals the single-pass sketch.
    // Bound-check oracled: the build is the per-group sketches +
    // union alone (the mergeability pattern itself); the gate's
    // verdicts pin union == single-pass (exact algebra on sketch
    // state) and union within 5% of the exact distinct.
    "sketch_union" -> QueryDef.gated(
      (s, d) => Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union")),
      """SELECT count(DISTINCT l_returnflag) AS n_groups,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  TRUE AS union_eq_single, TRUE AS union_ok
        |FROM lineitem""".stripMargin,
      (s, d, unioned) => {
        val single = Tables.lineitem(s, d).agg(
          hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(14)))
            .as("est_single"),
          countDistinct(col("l_returnflag")).as("n_groups"),
          countDistinct(col("l_partkey")).as("n_parts"))
        unioned.crossJoin(single).select(col("n_groups"), col("n_parts"),
          // union and single-pass sketches summarize the same set but
          // may sit in different internal modes (sparse vs dense,
          // HLL_4 vs union-target HLL_8), so their ESTIMATES agree to
          // sketch precision, not bit-exactly — bound at 2%
          (abs(col("est_union").cast("double") / col("est_single") - 1.0)
            <= 0.02).as("union_eq_single"),
          (abs(col("est_union").cast("double") / col("n_parts") - 1.0) <= 0.05)
            .as("union_ok"))
      }),
    // Count-Min point-frequency estimates for a watchlist of keys —
    // one map-side pass + broadcast sketch, no per-key groupBy.
    // Oracled as a BOUND CHECK: the estimate value is sketch-specific
    // (no engine can replay it), but CM's guarantees are checkable —
    // never below the true count, above it by at most ceil(eps·N) —
    // so the query emits the exact count plus the two bound verdicts,
    // and the oracle answers TRUE/TRUE from exact SQL. The build is one
    // CM build pass + broadcast point estimates; the gate joins the
    // exact per-key counts beside them. The sketch is
    // fix-seeded, so the verdicts are deterministic; any CM
    // regression (underestimate, merge bug, overflow) hash-fails.
    // SketchSpec additionally pins the error distribution.
    "sketch_freq" -> QueryDef.gated(
      (s, d) => graft.operators.FrequencySketch.estimateCounts(
        Tables.lineitem(s, d), "l_partkey", s.range(1, 101).toDF("l_partkey")),
      """SELECT r.k AS l_partkey, coalesce(c.cnt, 0) AS true_cnt,
        |  TRUE AS never_under, TRUE AS within_eps
        |FROM range(1, 101) r(k)
        |LEFT JOIN (SELECT l_partkey, count(*) AS cnt
        |           FROM lineitem GROUP BY l_partkey) c
        |  ON c.l_partkey = r.k
        |ORDER BY l_partkey""".stripMargin,
      (s, d, est) => {
        val li = Tables.lineitem(s, d)
        val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("true_cnt"))
        val tot = li.agg(count(lit(1)).as("__n"))
        est.join(exact, Seq("l_partkey"), "left")
          .na.fill(0, Seq("true_cnt"))
          .crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("true_cnt"),
            (col("est_cnt") >= col("true_cnt")).as("never_under"),
            (col("est_cnt") <= col("true_cnt")
              + ceil(col("__n") * lit(1e-4))).as("within_eps"))
          .transform(QueryDef.sortSmall(_, col("l_partkey")))
      }),
    // Bound-check oracled: approx_percentile(accuracy=10000) returns
    // an actual element within ~1e-4 rank error, so each estimate must
    // fall between the exact quantiles at p ± 0.001 (10x slack) —
    // verdicts beside the exact percentiles, TRUE/TRUE/TRUE in SQL.
    // The build is the mergeable quantile sketch alone; the exact
    // bracketing belongs to the gate, not the operator.
    "sketch_percentiles" -> QueryDef.gated(
      (s, d) => Tables.lineitem(s, d)
        .agg(expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)").as("ps"))
        .select(
          element_at(col("ps"), 1).as("e25"),
          element_at(col("ps"), 2).as("e50"),
          element_at(col("ps"), 3).as("e75")),
      s"""SELECT p25, p50, p75, TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
        |FROM (${QueryDef.exactQuantileSql("lineitem", "l_extendedprice",
          Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))})""".stripMargin,
      (s, d, est) => {
        val exact = graft.operators.ExactQuantiles.quantiles(
          Tables.lineitem(s, d), "l_extendedprice",
          probs = Seq(0.249, 0.25, 0.251, 0.499, 0.5, 0.501, 0.749, 0.75, 0.751),
          names = Seq("lo25", "p25", "hi25", "lo50", "p50", "hi50",
            "lo75", "p75", "hi75"))
        est.crossJoin(exact).select(
          col("p25"), col("p50"), col("p75"),
          col("e25").between(col("lo25"), col("hi25")).as("ok25"),
          col("e50").between(col("lo50"), col("hi50")).as("ok50"),
          col("e75").between(col("lo75"), col("hi75")).as("ok75"))
      }),

    // --- bounded-depth BFS (frontier expansion — the reachability /
    // shortest-hop primitive completing the graph family beside
    // pagerank_step/triangle_count): dist(v) = min hops from a
    // literal source set, expanded K=2 rounds. Each round is ONE
    // edge-keyed equi-join of the (tiny) frontier against the
    // symmetrized edge set + a min-dist aggregate — the frontier
    // broadcasts while small, the join is key-partitioned when it
    // isn't; deeper BFS iterates the same step with localCheckpoint
    // per round (the dedup_clusters discipline — lineage must not
    // grow with depth). ---
    "bfs_step" -> QueryDef.sql(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val pairs = li.select((col("l_orderkey") % 2000).as("a"),
          (col("l_partkey") % 2000).as("b"))
          .filter(col("a") =!= col("b"))
        // The symmetrized distinct edge set never exists row-per-edge:
        // it rides ONE (src, word)-keyed bit_or aggregate as 64-bit
        // adjacency words (map-side partial or dedupes AND compresses
        // the exchange — measured 0.28 s vs 0.54 s for the row
        // distinct), and each round re-expands only its frontier's
        // rows through the codegen'd graft_bit_positions decoder.
        val words = pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst")))
          .select(col("src"), (col("dst") / 64).cast("int").as("w"),
            expr("shiftleft(1L, cast(dst % 64 as int))").as("bit"))
          .groupBy("src", "w").agg(expr("bit_or(bit)").as("bits"))
        def neighbors(wordRows: org.apache.spark.sql.DataFrame, dist: Long) =
          wordRows.select(
            explode(graft.functions.expressions.BitPositions.of(
              col("bits"), col("w").cast("long") * 64)).as("node"),
            lit(dist).as("dist"))
        val sources = Seq(0L, 7L)
        import s.implicits._
        // Round 1's frontier is the LITERAL source set, so it is a
        // pushed-down filter below the word aggregate (reaching the
        // parquet scans), not a join — only the round-2 frontier is
        // data-dependent and broadcasts. This keeps the query at ONE
        // serial broadcast wave (hop1) + the main job; the generic
        // K-round loop (broadcast frontier ⋈ words + min-agg,
        // localCheckpoint per round so lineage stays flat) takes over
        // for deeper/wider BFS where the frontier is no longer
        // literal or broadcast-able.
        val d1 = neighbors(words.filter(col("src").isin(sources: _*)), 1L)
        val hop1 = d1.select("node").distinct()
        val d2 = neighbors(
          words.join(broadcast(hop1), words("src") === hop1("node")), 2L)
        sources.toDF("node").withColumn("dist", lit(0L))
          .union(d1).union(d2)
          .groupBy("node").agg(min("dist").as("dist"))
          // ≤ |V| = 2000 result rows: local sort in one task, not a
          // range exchange (whose sampling job is another serial wave)
          .coalesce(1).sortWithinPartitions("node", "dist")
      },
      """WITH RECURSIVE fwd AS (
        |  SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
        |  FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000
        |), edges AS (
        |  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
        |), reach(node, dist) AS (
        |  SELECT * FROM (VALUES (0, 0), (7, 0)) v(node, dist)
        |  UNION
        |  SELECT e.dst, r.dist + 1 FROM reach r
        |  JOIN edges e ON e.src = r.node WHERE r.dist < 2
        |)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST(min(dist) AS BIGINT) AS dist
        |FROM reach GROUP BY node ORDER BY node, dist""".stripMargin),

    // --- Bloom-prefiltered join (the explicit runtime-filter
    // pattern): a selective predicate on the dim side (urgent orders)
    // becomes a broadcast Bloom probed map-side IN THE FACT SCAN, so
    // only ~selectivity·|lineitem| rows ever reach the join exchange.
    // At 100 TB this is the difference between shuffling the whole
    // fact table and shuffling the matching sliver when the filtered
    // dim side is too large to broadcast as a hash relation (a Bloom
    // over 100M keys is ~115 MB at 1% fpp; the hash relation is GBs).
    // False positives are removed by the exact join, so output is
    // bit-identical to the plain join — the Bloom is pure routing.
    // (Spark's own injected runtime bloom filters,
    // spark.sql.optimizer.runtimeFilter.*, apply the same idea
    // opportunistically; this operator is the explicit, always-on
    // form with the filter as a reusable artifact.) ---
    "bloom_join" -> QueryDef.sql(
      (s, d) => {
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
        // one bounded agg job; ~9.6 bits/key at fpp 0.01
        val bloom = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
        val b = s.sparkContext.broadcast(bloom)
        // codegen'd probe (native expression, no UDF barrier) fused
        // into the lineitem scan stage — PlanAuditSpec pins it
        val pre = Tables.lineitem(s, d).filter(
          graft.functions.expressions.SketchProbes
            .bloomMightContain(col("l_orderkey"), b))
        pre.join(urgent, pre("l_orderkey") === urgent("o_orderkey"))
          .groupBy(trunc(col("o_orderdate"), "month").as("month"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"),
            count(lit(1)).as("n"))
          .transform(QueryDef.sortSmall(_, col("month")))
      },
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY month""".stripMargin),

    // --- winsorization (outlier clamping at exact percentile
    // boundaries — the feature-cleaning primitive before training
    // stats). Boundaries are TABLE STATISTICS (same argument as
    // hotKeysOf): exact p01/p99 come from the memoized range-sort
    // pass once per dataset, ride into the plan as literals, and the
    // clamp+aggregate is ONE map-side-combined pass over the fact
    // table. Engine-exact arithmetic: clamped values quantize to
    // integer ten-thousandths BEFORE summation (integer sums are
    // associative — no float reduction-order drift), the one mean
    // division at the end is identical IEEE on both engines. ---
    "winsorize" -> QueryDef.sql(
      (s, d) => {
        val Seq(lo, hi) = winsorBoundsOf(s, d)
        val clamped = least(greatest(col("l_extendedprice"), lit(lo)), lit(hi))
        val q = floor(clamped * 10000 + 0.5).cast("long")
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") < lo, 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("l_extendedprice") > hi, 1L).otherwise(0L)).as("n_hi"),
            sum(q).as("sum_tt"),
            roundAt(sum(q).cast("double") / count(lit(1)) / 10000.0, 6)
              .as("w_mean"))
          // 3-row result: local sort, not a range exchange
          .coalesce(1).sortWithinPartitions("l_returnflag")
      },
      s"""WITH b AS (
        |  ${QueryDef.exactQuantileSql("lineitem", "l_extendedprice",
             Seq(0.01 -> "lo", 0.99 -> "hi"))}
        |), c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(floor(least(greatest(l_extendedprice, lo), hi) * 10000 + 0.5)
        |      AS BIGINT) AS tt, lo, hi
        |  FROM lineitem CROSS JOIN b
        |)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(sum(tt) AS BIGINT) AS sum_tt,
        |  floor((CAST(sum(tt) AS DOUBLE) / count(*) / 10000.0)*1000000 + 0.5)
        |    /1000000 AS w_mean
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // --- heavy hitters (top-k by frequency) ---
    "topk_heavy" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(10),
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin),

    // --- skew-safe salted join (same semantics as the plain join).
    // Hot keys are DETECTED first, then only hot keys fan the fact
    // side across salts and only hot build rows are replicated —
    // uniform full-side replication is the 100 TB anti-pattern. (In
    // production AQE's skew-join split, enabled in GraftSession,
    // handles this at runtime; this query is the explicit form for
    // when the skew is known/persistent.) ---
    "salted_join" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val nSalt = 8
        // detection = ONE map-side bounded-state pass over the pruned
        // key column (FrequencySketch.heavyHitters, Space-Saving
        // tree-merge) — no sample job, no groupBy shuffle, no
        // unbounded collect (the old sampled groupBy+collect was an
        // extra fact-scan-shaped shuffle job in the query path) — and
        // it runs ONCE per dataset (hotKeysOf memo): persistent skew
        // is a table statistic, maintained beside the table, not
        // re-derived inside every query.
        // Which keys count as hot does not affect join OUTPUT (any
        // hot set yields the same rows — salting is pure routing);
        // correctness only requires both join branches to share ONE
        // immutable set, which the collected literal guarantees by
        // construction (PlanAuditSpec pins "no sample subtree").
        val hotKeys: Array[Long] = hotKeysOf(s, d, "lineitem", "l_orderkey")
        // The hot set rides as an In/InSet LITERAL predicate — fully
        // codegen'd in both scan stages, no broadcast build job, no
        // join operator. (A heavy-hitter set is small by definition:
        // at most size/threshold keys exist.)
        val isHot = col("l_orderkey").isInCollection(hotKeys)
        val isHotO = col("o_orderkey").isInCollection(hotKeys)
        // Aggregate BELOW the join: revenue is per-lineitem and the
        // join key functionally determines the orders columns, so the
        // fact side collapses to one partial row per (key, salt)
        // BEFORE the join — map-side combined, and the salt splits
        // hot keys across reducers in this very aggregate (the skew
        // protection applies to the agg shuffle too). The join then
        // moves |orders|-scale rows, not |lineitem|-scale — at 100 TB
        // this is the difference between shuffling the fact table and
        // shuffling a rollup of it.
        val l = Tables.lineitem(s, d)
          .withColumn("salt", when(isHot,
            pmod(hash(col("l_linenumber")), lit(nSalt))).otherwise(lit(0)))
          .groupBy("l_orderkey", "salt")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("prev"),
            count(lit(1)).as("pn"))
        val o = Tables.orders(s, d)
          .withColumn("salt", explode(when(isHotO,
            sequence(lit(0), lit(nSalt - 1))).otherwise(array(lit(0)))))
        // shuffle-HASH, not sort-merge: the salted build side is
        // bounded per partition BY CONSTRUCTION (salting splits every
        // hot key across nSalt reducers — the exact precondition SHJ
        // needs); the agg side arrives already hash-partitioned on
        // (key, salt), so only the orders replica shuffles here
        l.join(o.hint("shuffle_hash"),
            l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
          .groupBy("o_orderpriority")
          .agg(round(sum(col("prev")), 2).as("revenue"),
            sum(col("pn")).as("n"))
          // 5-row result: a local sort on one partition — a global
          // orderBy would plan a sampled range exchange (2 extra jobs)
          .coalesce(1).sortWithinPartitions("o_orderpriority")
      },
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  )
}
