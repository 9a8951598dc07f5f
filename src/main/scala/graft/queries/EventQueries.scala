package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VectorOps.roundAt
import graft.operators.{AsOfJoin, Partitions, RangeJoin, Sessionize}
import graft.sources.Tables

/** Event-time operators over the `events` table: tumbling-window
  * aggregation, gap sessionization, and the time as-of join — the
  * batch equivalents of the Structured Streaming runtime in
  * graft.streaming (scida has no streaming surface; these extend the
  * engine to the event/stream side of a training-data pipeline).
  *
  * All time arithmetic is on `ts_ns` (epoch nanos as int64, see
  * Tables.normalizeEvents) — integer math, no timezone or double
  * precision hazards, and cheap at 100 TB.
  */
object EventQueries {

  private val HourNs = 3600L * 1000 * 1000 * 1000
  private val GapUs = 1800L * 1000 * 1000 // 30 min session gap, micros
  // as-of staleness bound: 48 h in micros (~median click-view gap is
  // 35 h, so the bound genuinely splits rows). ONE constant feeds
  // both the Spark build and the oracle SQL — the sides cannot drift.
  private val TolUs = 172800000000L
  // interval-join window: each view opens a 72 h attribution window.
  // Bucket width = window length, so every interval spans <= 2 buckets.
  private val WinUs = 259200000000L
  private val DayUs = 86400000000L

  def defs: Map[String, QueryDef] = Map(
    // --- tumbling-window aggregation (batch equiv of streaming agg) ---
    // Bin id computed map-side (integer div) → partial agg → tiny
    // shuffle of (bucket, type) partials: O(buckets), not O(rows).
    "event_window_agg" -> QueryDef.sql(
      (s, d) => Tables.events(s, d)
        .groupBy(expr(s"ts_ns div $HourNs").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundAt(sum("value"), 2).as("sum_value"))
        // bounded result (time buckets x types) — see QueryDef.sortSmall
        .transform(QueryDef.sortSmall(_, col("hour_bucket"), col("event_type"))),
      s"""SELECT epoch_ns(ts)//$HourNs AS hour_bucket, event_type,
        |  count(*) AS n, floor(sum(value)*100 + 0.5)/100 AS sum_value
        |FROM events GROUP BY hour_bucket, event_type
        |ORDER BY hour_bucket, event_type""".stripMargin),

    // --- RANGE-framed sliding window (the time-based frame ROWS
    // frames can't express: each event sees the aggregates of its
    // user's trailing hour BY TIMESTAMP, ties included). Values
    // quantize to integer micros BEFORE the frame sum — engines build
    // sliding sums in different association orders (incremental vs
    // segment tree), which only exact integers survive. Partitioned
    // by user (never a global window); frame state is O(frame), not
    // O(partition). ---
    "window_range" -> QueryDef.sql(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts_ns"))
          .rangeBetween(-HourNs, 0)
        Tables.events(s, d)
          .withColumn("vm", floor(col("value") * 1000000 + lit(0.5)).cast("long"))
          .select(col("event_id"), col("user_id"), col("ts_ns"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("vm")).over(w).as("sum_micro_1h"))
          .orderBy("event_id")
      },
      s"""SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(floor(value*1000000 + 0.5) AS BIGINT)) OVER w
        |    AS BIGINT) AS sum_micro_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN $HourNs PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // --- sliding ROWS window (last-3-events rolling stats per user —
    // the recency-feature shape beside window_running's cumulative
    // and window_range's time-based frames, completing the window
    // family). ROWS frames are ORDER-dependent, so the sort key is a
    // total order — (ts_ns, event_id) — making the frame
    // deterministic under ties; micro-quantized values keep every
    // windowed aggregate integer-exact. One user-keyed exchange. ---
    "window_rolling" -> QueryDef.sql(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
          .rowsBetween(-2, 0)
        Tables.events(s, d)
          .withColumn("vm", floor(col("value") * 1000000 + lit(0.5)).cast("long"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_3"),
            sum("vm").over(w).as("sum_micro_3"),
            min("vm").over(w).as("min_micro_3"),
            max("vm").over(w).as("max_micro_3"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_3,
        |  CAST(sum(vm) OVER w AS BIGINT) AS sum_micro_3,
        |  min(vm) OVER w AS min_micro_3,
        |  max(vm) OVER w AS max_micro_3
        |FROM (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |  CAST(floor(value*1000000 + 0.5) AS BIGINT) AS vm FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // --- burst collapsing (the ingest-hygiene twin of streaming
    // dedup: double-fired beacons / client retries land within
    // seconds of the original): a RUN of events of the same (user,
    // type), each < 5 s after the previous, collapses to its first
    // event — followers are dups. (Lag-vs-previous-RAW semantics by
    // design: a steady sub-5 s cadence IS one burst; debouncing
    // against the last KEPT event would be a stateful chain, the
    // streaming gate's job.) One partitioned window over the (user,
    // type) key — exactly the shuffle the downstream sessionize /
    // funnel pass needs anyway — then a per-type rollup. Times in
    // epoch MICROS on both sides (the sessionize rule: DuckDB
    // truncates nanosecond timestamps to its microsecond TIMESTAMP,
    // so nanos must never reach a compared value); deterministic
    // total order (ts_us, event_id). ---
    "window_dedup" -> QueryDef.sql(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev", lag("ts_us", 1).over(w))
          .withColumn("dup", col("prev").isNotNull &&
            col("ts_us") - col("prev") < lit(5000000L))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("dup"), 0L).otherwise(1L)).as("n_kept"))
          .transform(QueryDef.sortSmall(_, col("event_type")))
      },
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |  FROM events
        |), l AS (
        |  SELECT event_type, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) AS prev
        |  FROM e
        |), f AS (
        |  SELECT event_type,
        |    (prev IS NOT NULL AND ts_us - prev < 5000000) AS dup
        |  FROM l
        |)
        |SELECT event_type, count(*) AS n_total,
        |  CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT) AS n_dup,
        |  CAST(count(CASE WHEN NOT dup THEN 1 END) AS BIGINT) AS n_kept
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- gap-based sessionization (lag + cumulative session index) ---
    // Times in epoch MICROS on both sides: DuckDB truncates the
    // nanosecond parquet timestamps to its microsecond TIMESTAMP, so
    // the oracle can't see nanos — `ts_ns div 1000` matches exactly.
    "sessionize" -> QueryDef.sql(
      // ONE range exchange feeds the whole pipeline: both session
      // windows AND the per-session rollup cluster on user_id, which
      // RangePartitioning(user_id) satisfies — no hash exchange, no
      // global output sort (local sort over the range layout pins the
      // order). The windows are per-row CPU, so the bucket count is
      // the session's parallelism (Partitions.cap), not the plan's
      // byte count, which plans one task for a ~MB table.
      (s, d) => Sessionize.sessions(
        Partitions.byRange(Tables.events(s, d), Partitions.cap(s), col("user_id")),
        "user_id", col("ts_us"), GapUs, col("value"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          (col("t_end") - col("t_start")).as("dur_us"),
          roundAt(col("value_sum"), 2).as("value_sum"))
        .sortWithinPartitions("user_id", "session_seq"),
      s"""WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= $GapUs THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), se AS (
        |  SELECT user_id, ts_us, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM t)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  max(ts_us) - min(ts_us) AS dur_us,
        |  floor(sum(value)*100 + 0.5)/100 AS value_sum
        |FROM se GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    // --- time as-of join: each click gets the latest prior view's
    // value for the same user (inclusive). Composed union+window —
    // one shuffle on user_id (operators.AsOfJoin). ---
    "asof_join" -> QueryDef.sql(
      (s, d) => {
        // micros, not nanos: DuckDB's ASOF compares micro-truncated
        // timestamps, so a same-micro later-nano view must count as
        // "at or before" on the Spark side too
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
        // one RANGE exchange total: the union enters the as-of window
        // range-partitioned by user, and the (user_id, event_id)
        // display order is pinned with a local sort over that layout
        // (the old orderBy(event_id) re-sorted the output globally)
        AsOfJoin.asof(clicks, views, "user_id", "ts_us", Seq("view_value"),
            rangeBuckets = Partitions.cap(s))
          .filter(col("view_value").isNotNull)
          .select(col("event_id"), col("user_id"),
            roundAt(col("view_value"), 2).as("view_value"))
          .sortWithinPartitions("user_id", "event_id")
      },
      """SELECT a.event_id, a.user_id,
        |  floor(b.view_value*100 + 0.5)/100 AS view_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') a
        |ASOF JOIN (SELECT user_id, ts, value AS view_value FROM events
        |           WHERE event_type = 'view') b
        |  ON a.user_id = b.user_id AND b.ts <= a.ts
        |ORDER BY a.user_id, a.event_id""".stripMargin),

    // --- as-of with a tolerance bound (pandas merge_asof tolerance):
    // matches further than 48 hours in the past are nulled; output
    // keeps only within-tolerance matches. Same single key shuffle. ---
    "asof_tolerance" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
        AsOfJoin.asofTolerance(clicks, views, "user_id", "ts_us",
            Seq("view_value"), TolUs, rangeBuckets = Partitions.cap(s))
          .filter(col("view_value").isNotNull)
          .select(col("event_id"), col("user_id"),
            roundAt(col("view_value"), 2).as("view_value"))
          .sortWithinPartitions("user_id", "event_id")
      },
      s"""SELECT a.event_id, a.user_id,
         |  floor(b.view_value*100 + 0.5)/100 AS view_value
         |FROM (SELECT event_id, user_id, ts FROM events
         |      WHERE event_type = 'click') a
         |ASOF JOIN (SELECT user_id, ts, value AS view_value FROM events
         |           WHERE event_type = 'view') b
         |  ON a.user_id = b.user_id AND b.ts <= a.ts
         |WHERE epoch_us(a.ts) - epoch_us(b.ts) <= $TolUs
         |ORDER BY a.user_id, a.event_id""".stripMargin),

    // --- forward as-of: the EARLIEST view at-or-after each click
    // (lead-time attribution). Same composition on negated time. ---
    "asof_forward" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
        AsOfJoin.asofForward(clicks, views, "user_id", "ts_us",
            Seq("view_value"), rangeBuckets = Partitions.cap(s))
          .filter(col("view_value").isNotNull)
          .select(col("event_id"), col("user_id"),
            roundAt(col("view_value"), 2).as("view_value"))
          .sortWithinPartitions("user_id", "event_id")
      },
      """SELECT a.event_id, a.user_id,
        |  floor(b.view_value*100 + 0.5)/100 AS view_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') a
        |ASOF JOIN (SELECT user_id, ts, value AS view_value FROM events
        |           WHERE event_type = 'view') b
        |  ON a.user_id = b.user_id AND b.ts >= a.ts
        |ORDER BY a.user_id, a.event_id""".stripMargin),

    // --- nearest as-of (pandas merge_asof direction='nearest'; the
    // snapshot-matching rule series workflows use when "closest in
    // time" beats "latest before"): backward + forward passes compose
    // — each ONE window over the same key — then a codegen'd per-row
    // pick, ties backward. dt is exact integer micros on both
    // engines. ---
    "asof_nearest" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("value").as("view_value"),
            col("ts_us").as("view_ts"))
        // rangeBuckets = 0: the two window directions share ONE hash
        // exchange on user_id (no RangePartitioner sampling job); the
        // display sort below is local either way
        AsOfJoin.asofNearest(clicks, views, "user_id", "ts_us",
            Seq("view_value", "view_ts"))
          .filter(col("view_value").isNotNull)
          .select(col("event_id"), col("user_id"),
            roundAt(col("view_value"), 2).as("view_value"),
            abs(col("ts_us") - col("view_ts")).as("dt_us"))
          .sortWithinPartitions("user_id", "event_id")
      },
      """WITH a AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), v AS (
        |  SELECT user_id, ts, value AS view_value FROM events
        |  WHERE event_type = 'view'
        |), b AS (
        |  SELECT a.event_id, a.user_id, a.ts, bb.view_value AS bv,
        |    bb.ts AS bt
        |  FROM a ASOF LEFT JOIN v bb
        |    ON a.user_id = bb.user_id AND bb.ts <= a.ts
        |), bf AS (
        |  SELECT b.event_id, b.user_id, b.ts, b.bv, b.bt,
        |    ff.view_value AS fv, ff.ts AS ft
        |  FROM b ASOF LEFT JOIN v ff
        |    ON b.user_id = ff.user_id AND ff.ts >= b.ts
        |)
        |SELECT event_id, user_id,
        |  floor((CASE WHEN ft IS NULL
        |      OR (bt IS NOT NULL AND epoch_us(ts) - epoch_us(bt)
        |          <= epoch_us(ft) - epoch_us(ts))
        |    THEN bv ELSE fv END)*100 + 0.5)/100 AS view_value,
        |  CAST(CASE WHEN ft IS NULL
        |      OR (bt IS NOT NULL AND epoch_us(ts) - epoch_us(bt)
        |          <= epoch_us(ft) - epoch_us(ts))
        |    THEN epoch_us(ts) - epoch_us(bt)
        |    ELSE epoch_us(ft) - epoch_us(ts) END AS BIGINT) AS dt_us
        |FROM bf WHERE (CASE WHEN ft IS NULL
        |      OR (bt IS NOT NULL AND epoch_us(ts) - epoch_us(bt)
        |          <= epoch_us(ft) - epoch_us(ts))
        |    THEN bv ELSE fv END) IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin),

    // --- bounded interval (point-in-range) join: every click joins
    // the same-user views whose 72 h attribution window contains it.
    // A raw BETWEEN join plans as a nested loop — operators.RangeJoin
    // rewrites it as an EQUI-join on (user_id, time-bucket) with the
    // exact containment re-filtered after the hash join, so the plan
    // shuffles instead of looping (bucket width = window length ⇒
    // each interval lands in at most 2 buckets). ---
    "interval_join" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("v_start"),
            (col("ts_us") + lit(WinUs)).as("v_end"), col("value"))
        RangeJoin.pointInInterval(clicks, views,
            "user_id", "ts_us", "v_start", "v_end", bucketWidth = WinUs)
          .groupBy("event_id", "user_id")
          .agg(count(lit(1)).as("n_views"),
            roundAt(sum("value"), 2).as("view_value_sum"))
          .orderBy("event_id")
      },
      s"""SELECT a.event_id, a.user_id, count(*) AS n_views,
         |  floor(sum(b.value)*100 + 0.5)/100 AS view_value_sum
         |FROM (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
         |      WHERE event_type = 'click') a
         |JOIN (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + $WinUs AS e,
         |        value FROM events WHERE event_type = 'view') b
         |  ON a.user_id = b.user_id AND a.t >= b.s AND a.t <= b.e
         |GROUP BY a.event_id, a.user_id
         |ORDER BY a.event_id""".stripMargin),

    // --- robust per-type anomaly statistics (median/MAD outlier
    // gate — the monitoring primitive that mean/stddev z-scores get
    // wrong under the very outliers they hunt): values quantize to
    // integer cents, per-type median and MAD come from the DISCRETE
    // value-histogram machinery (DiscreteStats, cardinality-guarded),
    // and the outlier rule |v − med| > 3·MAD stays all-integer.
    // Scale shape: the raw scan aggregates ONCE into the (type,
    // value) histogram; both medians, the deviation histogram (built
    // from the value histogram, never a second scan) and the outlier
    // count are histogram-sized work; the 5-row stat tables broadcast.
    // Discrete selection (smallest value with 2·cum ≥ n + n mod 2)
    // avoids interpolation drift entirely. ---
    "anomaly_zscore" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        val hist = graft.operators.DiscreteStats.groupValueCounts(
          ev, Seq("event_type"), col("vc"))
        // ONE job, two shuffles: raw scan partial-aggs into the
        // (type, value) histogram, a second combine folds each type's
        // histogram into ONE (v, c) array row, and median /
        // deviation-histogram / MAD / outlier-count happen inside the
        // native graft_hist_robust_stats expression — one tight
        // two-sort integer loop per group row. The r9 form spent 4
        // partitioned windows + 2 cache materializations + 3
        // broadcast joins on a 5-row result (~20x DuckDB); per-type
        // arrays stay bounded by the SAME cardinality guard that kept
        // the window form histogram-sized — at 100 TB the heavy work
        // is still the one map-side-combined scan.
        hist.groupBy("event_type")
          .agg(collect_list(struct(col("v"), col("c"))).as("h"))
          .select(col("event_type"),
            graft.functions.expressions.HistRobustStats.of(col("h")).as("s"))
          .select(col("event_type"), col("s.n").as("n"),
            col("s.med").as("med_c"), col("s.mad").as("mad_c"),
            col("s.outliers").as("n_outliers"))
          .transform(QueryDef.sortSmall(_, col("event_type")))
      },
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        |  FROM events
        |), h AS (
        |  SELECT event_type, vc AS v, count(*) AS c FROM ev GROUP BY 1, 2
        |), cm AS (
        |  SELECT event_type, v, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h
        |), med AS (
        |  SELECT event_type, min(v) AS med_c, CAST(max(n) AS BIGINT) AS n
        |  FROM cm WHERE cum*2 >= n + n % 2 GROUP BY 1
        |), dh AS (
        |  SELECT h.event_type, abs(h.v - m.med_c) AS dev, sum(h.c) AS c
        |  FROM h JOIN med m USING (event_type) GROUP BY 1, 2
        |), dcm AS (
        |  SELECT event_type, dev, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM dh
        |), mad AS (
        |  SELECT event_type, min(dev) AS mad_c
        |  FROM dcm WHERE cum*2 >= n + n % 2 GROUP BY 1
        |)
        |SELECT m.event_type, m.n, m.med_c, a.mad_c,
        |  CAST(coalesce(sum(CASE WHEN d.dev > 3*a.mad_c THEN d.c END), 0)
        |    AS BIGINT) AS n_outliers
        |FROM med m JOIN mad a USING (event_type) JOIN dh d USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin),

    // --- per-key interval coverage (union length): each view event
    // spans [ts, ts + value-derived duration); per user, merge
    // overlapping spans and report distinct covered time + island
    // count — the "total active time" / coverage primitive (same
    // sweep as genomic interval union). ONE user-keyed shuffle: the
    // island sweep is a per-user window (prev-max-end), and the two
    // downstream aggregations cluster on supersets of user_id, which
    // HashPartitioning(user_id) already satisfies — no further
    // exchange (a per-key sweep is bounded by the key's own events,
    // never the table). All arithmetic on integer micros; island
    // COUNT and covered length are invariant to tie order among
    // equal starts, so the result is deterministic without a global
    // tiebreak. ---
    "interval_union" -> QueryDef.sql(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("t_start", "t_end")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val spans = Tables.events(s, d)
          .filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("t_start"),
            (col("ts_us") + greatest(floor(col("value") * 1000000 + 0.5)
              .cast("long"), lit(1L))).as("t_end"))
        val islands = spans
          .withColumn("prev_max", max(col("t_end")).over(w))
          .withColumn("is_new",
            when(col("prev_max").isNull || col("t_start") > col("prev_max"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("is_new")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user_id").orderBy("t_start", "t_end")
              .rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        islands.groupBy("user_id", "island")
          .agg(min("t_start").as("i_start"), max("t_end").as("i_end"),
            count(lit(1)).as("n_spans"))
          .groupBy("user_id")
          .agg(sum(col("i_end") - col("i_start")).as("covered_us"),
            count(lit(1)).as("n_islands"),
            sum("n_spans").as("n_intervals"))
          .orderBy("user_id")
      },
      """WITH spans AS (
        |  SELECT user_id, epoch_us(ts) AS t_start,
        |    epoch_us(ts) + greatest(CAST(floor(value * 1000000 + 0.5)
        |      AS BIGINT), 1) AS t_end
        |  FROM events WHERE event_type = 'view'
        |), m AS (
        |  SELECT user_id, t_start, t_end,
        |    max(t_end) OVER (PARTITION BY user_id ORDER BY t_start, t_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM spans
        |), f AS (
        |  SELECT user_id, t_start, t_end,
        |    CAST(sum(CASE WHEN prev_max IS NULL OR t_start > prev_max
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY t_start, t_end
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM m
        |), isl AS (
        |  SELECT user_id, island, min(t_start) AS i_start,
        |    max(t_end) AS i_end, count(*) AS n_spans
        |  FROM f GROUP BY user_id, island
        |)
        |SELECT user_id, CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
        |  count(*) AS n_islands, CAST(sum(n_spans) AS BIGINT) AS n_intervals
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin),

    // --- ORDERED funnel (view → click → purchase, strictly later
    // steps): per user, the earliest view anchors the funnel, the
    // first click AFTER it advances it, the first purchase after
    // that completes it. Three cascaded per-user min-aggregations,
    // each a user-keyed shuffle of a filtered slice — never a
    // collect-events-per-user buffer, so a power user with millions
    // of events costs the same as anyone else. All comparisons on
    // integer micros. ---
    "event_funnel" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
        def slice(t: String) = e.filter(col("event_type") === t)
          .select(col("user_id"), col("ts_us"))
        // v feeds c AND the final count, c feeds p AND the final
        // count — Catalyst shares no subplans across branches, so
        // without barriers the events scan + user shuffles run twice;
        // the cached frames are one row per funnel user (CacheScope
        // releases them when the query's action completes)
        val v = graft.CacheScope.track(
          slice("view").groupBy("user_id").agg(min("ts_us").as("t1")))
        val c = graft.CacheScope.track(
          slice("click").join(v, "user_id")
            .filter(col("ts_us") > col("t1"))
            .groupBy("user_id").agg(min("ts_us").as("t2")))
        val p = slice("purchase").join(c, "user_id")
          .filter(col("ts_us") > col("t2"))
          .groupBy("user_id").agg(min("ts_us").as("t3"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_full")))
      },
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
        |  GROUP BY e.user_id
        |)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_view_click,
        |       (SELECT count(*) FROM p) AS n_full""".stripMargin),

    // --- weekly cohort retention matrix: users grouped by the week
    // of their FIRST event; each cell counts distinct users from
    // cohort week cw active wk weeks later. Integer day/week
    // arithmetic on epoch micros end to end; one user-keyed shuffle
    // for the first-activity anchor, one (cohort, offset)-keyed
    // count-distinct. ---
    "retention_cohort" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), expr(s"(ts_ns div 1000) div $DayUs").as("day"))
        val first = e.groupBy("user_id").agg(min("day").as("d0"))
        e.join(first, "user_id")
          .select(col("user_id"), expr("d0 div 7").as("cohort_week"),
            expr("(day - d0) div 7").as("offset_week"))
          .groupBy("cohort_week", "offset_week")
          .agg(countDistinct("user_id").as("n_users"))
          .transform(QueryDef.sortSmall(_, col("cohort_week"), col("offset_week")))
      },
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day FROM events
         |), f AS (
         |  SELECT user_id, min(day) AS d0 FROM e GROUP BY user_id
         |)
         |SELECT f.d0 // 7 AS cohort_week, (e.day - f.d0) // 7 AS offset_week,
         |  count(DISTINCT e.user_id) AS n_users
         |FROM e JOIN f ON e.user_id = f.user_id
         |GROUP BY cohort_week, offset_week
         |ORDER BY cohort_week, offset_week""".stripMargin),

    // --- semi-structured extraction: the JSON `props` payload parsed
    // map-side at scan speed (codegen'd path extraction, no UDF) and
    // reduced per type — the event-log shape where every record
    // carries a JSON blob nobody pre-flattened. At 100 TB the parse
    // rides the scan stage; the shuffle is O(types). ---
    "json_extract_agg" -> QueryDef.sql(
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .transform(QueryDef.sortSmall(_, col("event_type"))),
      // double TRY_CAST mirrors Spark's null-on-anything semantics:
      // Spark's get_json_object returns NULL for BOTH malformed JSON
      // and a non-integer k, while DuckDB's ->> ERRORS on malformed
      // JSON — TRY_CAST(props AS JSON) first turns a bad blob into
      // NULL (extraction of NULL is NULL), then TRY_CAST ... AS
      // BIGINT covers the non-integer value case, so a generator
      // regression can never abort the oracle where Spark tolerates
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), 'k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), 'k') AS BIGINT)) AS min_k,
        |  max(TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), 'k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- path analysis: the most common ADJACENT event-type
    // transitions per user timeline (top-10 bigrams). One user-keyed
    // window for the lead, map-side partial counts, TakeOrdered for
    // the global top-k — no global sort. Ordering ties on (ts,
    // event_id) so the lead is engine-invariant. ---
    "event_paths" -> QueryDef.sql(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("event_type"), col("next_type"))
          .limit(10)
      },
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY n DESC, event_type, next_type LIMIT 10""".stripMargin)
  )
}
