package graft.operators

import graft.Tables
import graft.plans.IntervalJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time semantics over the `events` table (SURVEY.md §7.3 M3) —
  * batch-first implementations whose window logic is identical under
  * Structured Streaming (see graft.streaming.StreamingOps for the
  * readStream/watermark wrappers of the same aggregations).
  *
  * Buckets are computed with epoch arithmetic (floor(epoch/width)) so
  * the DuckDB oracle can express the exact same alignment — Spark's
  * `window()` struct and DuckDB's `time_bucket` agree on alignment but
  * not output shape.
  */
object Events {

  /** The sessionization rule: consecutive events of a user belong to
    * one session while each gap stays within `SessionGapS` seconds. */
  private[graft] final val SessionGapS = 1800L

  /** Tumbling 10-minute event-time windows: count + sum per
    * (window, event_type). Partial aggregation makes the shuffle carry
    * one row per (window × type × partition). */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(
        (unix_timestamp($"ts") - pmod(unix_timestamp($"ts"), lit(600L))).as("win_start_s"),
        $"event_type", $"value")
      .groupBy($"win_start_s", $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .orderBy($"win_start_s", $"event_type")
  }

  /** Sliding windows (width 10 min, slide 5 min): each event lands in 2
    * windows, generated by exploding the two candidate starts — the
    * relational form of Spark's `window(ts, '10 minutes', '5 minutes')`. */
  def sliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slideStart = unix_timestamp($"ts") - pmod(unix_timestamp($"ts"), lit(300L))
    Tables.events(s, dir)
      .select($"event_type", $"value",
        explode(array(slideStart, slideStart - 300L)).as("win_start_s"))
      .groupBy($"win_start_s", $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .orderBy($"win_start_s", $"event_type")
  }

  /** Gap-based sessionization (30-min inactivity): classic lag + running
    * sum of session-start flags. One shuffle on user_id; window funcs
    * run within the partition. Streaming twin: flatMapGroupsWithState /
    * session_window in StreamingOps. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val withGap = Tables.events(s, dir)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy($"user_id", $"session_id")
      .agg(
        unix_timestamp(min($"ts")).as("session_start_s"),
        unix_timestamp(max($"ts")).as("session_end_s"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("session_value"))
      .orderBy($"user_id", $"session_id")
  }

  /** Semi-structured extraction: pull `k` out of the JSON `props`
    * column and aggregate — JSON parse is map-side, codegen'd. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        round(avg($"k"), 4).as("avg_k"))
      .orderBy($"event_type")
  }

  /** Semi-structured extraction on Spark 4's VARIANT type — the typed
    * twin of [[jsonExtract]] and the shape that wins at 100 TB: the
    * JSON string parses ONCE into the binary variant encoding
    * (`parse_json`), and every subsequent access is a TYPED
    * `variant_get` path lookup against that encoding instead of a
    * fresh string parse per `get_json_object` call — with parquet
    * variant shredding, the reader materializes hot paths columnar and
    * the parse disappears entirely. `try_parse_json` (not the strict
    * form) keeps the null-not-error contract on DIRTY rows too: a
    * malformed props string becomes a null variant → null extractions,
    * matching ev_json's get_json_object and the oracle's
    * json_extract_string on the same row, instead of aborting a
    * 100 TB job on one bad record; `try_variant_get` on EVERY path
    * (not just the absent one) completes the contract — the strict
    * `variant_get` would still throw on a present-but-uncastable
    * value (props = {"k":"abc"}), which is exactly the
    * one-bad-record abort this shape exists to avoid. n_miss pins
    * the absent-path arm at 0.
    * Everything is map-side before one partial-agged event_type
    * shuffle; sums stay in exact longs so the DuckDB oracle
    * hash-matches. */
  def variantExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", try_parse_json($"props").as("v"))
      .select($"event_type",
        expr("try_variant_get(v, '$.k', 'long')").as("k"),
        expr("try_variant_get(v, '$.missing', 'long')").as("miss"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        sum($"k").as("sum_k"), count($"miss").as("n_miss"))
      .orderBy($"event_type")
  }

  /** As-of join (composed from built-ins, preference (a) of the custom-
    * operator ladder): each purchase event picks up the timestamp of
    * the same user's most recent PRIOR click — `last(_, ignoreNulls)`
    * over an unbounded-preceding-to-previous-row frame. One shuffle on
    * user_id; no self-join, no range explosion — the shape that holds
    * at 100 TB because the window is computed in a single sorted pass
    * per user partition. */
  def asofPurchaseClick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"ts", $"event_type",
        when($"event_type" === "click", unix_timestamp($"ts")).as("click_s"))
      .withColumn("prior_click_s", last($"click_s", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id",
        unix_timestamp($"ts").as("purchase_s"), $"prior_click_s")
      .orderBy($"user_id", $"event_id")
  }

  /** Point-in-interval join: every event joined back into its user's
    * session interval via [[graft.plans.IntervalJoin]] (bucketed
    * equi-join, NOT a nested-loop theta join), then counted — the
    * result must reproduce sessionize's own n_events, which the shared
    * oracle verifies. */
  def intervalJoinSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sessions = sessionize(s, dir)
      .select($"user_id", $"session_id", $"session_start_s", $"session_end_s")
    val points = Tables.events(s, dir)
      .select($"user_id", unix_timestamp($"ts").as("ts_s"))
    IntervalJoin.join(points, sessions,
      "ts_s", "session_start_s", "session_end_s", Seq("user_id"), 1800L)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_joined"))
      .orderBy($"user_id", $"session_id")
  }

  /** Conversion funnel: of users who ever signed up, how many later
    * purchased (first purchase strictly after first signup). One
    * shuffle on user_id with conditional-min partial aggregation, then
    * a single-row summary — the classic product-analytics query. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "signup", unix_timestamp($"ts"))).as("first_signup"),
        min(when($"event_type" === "purchase", unix_timestamp($"ts"))).as("first_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        count($"first_signup").as("n_signed_up"),
        count(when($"first_purchase" > $"first_signup", lit(1))).as("n_converted"))
  }

  /** Event-time top-k with ranking per window: busiest users per
    * tumbling hour. Window agg → window rank, two shuffles total. */
  def hourlyTopUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, dir)
      .select(unix_timestamp(date_trunc("hour", $"ts")).as("hr_s"), $"user_id")
      .groupBy($"hr_s", $"user_id")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"hr_s").orderBy($"n".desc, $"user_id")
    hourly.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .orderBy($"hr_s", $"rk")
  }

  /** Cohort retention — the day-grain activity matrix every growth
    * dashboard computes: users are cohorted by their FIRST event day,
    * and each (cohort, day-offset) cell counts that cohort's distinct
    * users active that many days later. Join-free: first-seen day is
    * a min over a user-partitioned window (the same user_id shuffle
    * the activity distinct needs anyway — the groupBy-then-join-back
    * formulation pays a second pass over the events); the cell
    * aggregation runs on the compact distinct (cohort, offset, user)
    * frame. Two shuffles total, never a global window. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(s, dir)
      .select($"user_id", floor(unix_timestamp($"ts") / lit(86400L)).as("day"))
      .withColumn("first_day", min($"day").over(w))
      .select($"user_id", ($"first_day" * 86400L).as("cohort_day_s"),
        ($"day" - $"first_day").as("offset_days"))
      .distinct()
      .groupBy($"cohort_day_s", $"offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day_s", $"offset_days")
  }

  /** Within-session Markov transition matrix over event types: for
    * each ordered pair of consecutive events by the same user no more
    * than the session gap (1800 s, the [[sessionize]] contract) apart,
    * count the (from_type → to_type) transition and its per-from
    * probability in exact parts-per-million (long division — no float
    * drift between engines).
    *
    * Scale shape: consecutive pairs come from a lag window over the
    * same (user_id)/(ts, event_id) clustering every event-time
    * operator here uses — one user-keyed shuffle of 3 narrow columns;
    * the pair count is a map-side-partial aggregation onto a
    * |types|²-row frame, and the probability normalizer windows over
    * that bounded frame, not the event stream. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("from_type", lag($"event_type", 1).over(byUser))
      .withColumn("from_s", lag(unix_timestamp($"ts"), 1).over(byUser))
      .filter($"from_type".isNotNull &&
        unix_timestamp($"ts") - $"from_s" <= SessionGapS)
    pairs.groupBy($"from_type", $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm", expr("n * 1000000L div " +
        "sum(n) over (partition by from_type)"))
      .select($"from_type", $"to_type", $"n", $"p_ppm")
      .orderBy($"from_type", $"to_type")
  }

  /** Volume-anomaly surfacing — the ops-monitoring query every event
    * pipeline runs: hourly event counts per type, z-scored against the
    * type's own distribution, top-`topK` most anomalous buckets per
    * type. All moments derive from EXACT integer sums (k, Σn, Σn²
    * are longs < 2⁵³), so mean/variance/z are single-rounded IEEE
    * doubles both engines compute bit-identically — fully
    * oracle-checkable, unlike stddev_samp-style running aggregates
    * whose accumulation order floats. Top-k (not a z>3 cut) so the
    * result is non-empty at every sf.
    *
    * Scale shape: the count rollup is a partial-agged groupBy on
    * (type, hour) — the shuffle carries one row per non-empty bucket,
    * bounded by |types| × hours regardless of event volume; moments
    * window over that bounded frame partitioned by type (never the
    * event stream); WindowGroupLimit prunes the rank. */
  def anomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topK = 3
    val byType = Window.partitionBy($"event_type")
    val epoch = unix_timestamp($"ts")
    val buckets = Tables.events(s, dir)
      .select($"event_type", (epoch - epoch % 3600).as("bucket_s"))
      .groupBy($"event_type", $"bucket_s")
      .agg(count(lit(1)).as("n"))
    val k = count(lit(1)).over(byType).cast("double")
    val s1 = sum($"n").over(byType).cast("double")
    val s2 = sum($"n" * $"n").over(byType).cast("double")
    buckets
      .withColumn("mean", s1 / k)
      .withColumn("variance", (s2 - s1 * s1 / k) / k)
      .filter($"variance" > 0.0)
      .withColumn("z", ($"n".cast("double") - $"mean") / sqrt($"variance"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"z".desc, $"bucket_s")).cast("long"))
      .filter($"rk" <= topK)
      .select($"event_type", $"bucket_s", $"n",
        (floor($"z" * 10000.0) / 10000.0).as("zscore"), $"rk")
      .orderBy($"event_type", $"rk")
  }

  /** Top within-session 3-step event-type paths — the path-analysis
    * complement of [[transitions]] (first-order Markov misses
    * multi-step structure; 3-grams are the standard funnel-discovery
    * granularity). Two lag windows over ONE user-keyed shuffle build
    * (prev2, prev1, cur) triples; both steps must close within
    * `SessionGapS` (the sessionization rule shared with [[transitions]]);
    * the global top-`topK` resolves via orderBy+limit →
    * TakeOrderedAndProject (per-partition heaps, never a global
    * sort/window). Fully oracle-checkable: paths are exact strings,
    * counts exact longs, ties break on the path string. */
  def paths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topK = 10
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sec = unix_timestamp($"ts")
    val steps = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("t0", sec)
      .withColumn("e1", lag($"event_type", 1).over(byUser))
      .withColumn("t1", lag(sec, 1).over(byUser))
      .withColumn("e2", lag($"event_type", 2).over(byUser))
      .withColumn("t2", lag(sec, 2).over(byUser))
      .filter($"e2".isNotNull &&
        $"t1" - $"t2" <= SessionGapS && $"t0" - $"t1" <= SessionGapS)
    steps
      .select(concat_ws(">", $"e2", $"e1", $"event_type").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(topK)
  }

  /** DAU/WAU stickiness — the engagement ratio every product
    * dashboard leads with (distinct daily actives over distinct
    * trailing-7-day actives). The scale trap is the trailing window:
    * a day × [d−6, d] range join is a nested loop, and
    * count_distinct over a sliding frame isn't supported. Instead
    * each distinct (user, day) row EXPLODES its coverage — the 7 days
    * it contributes to — map-side (`sequence(day, day+6)`), and WAU
    * is a plain count-distinct groupBy on the covered day: one
    * equi-shuffle, rows = 7 × |user-days|, no non-equi join anywhere.
    * Exact ppm ratio via integer division. Output restricted to days
    * with activity (inner join against the observed day set, which
    * rides the same distinct frame). */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select($"user_id", expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val dau = du.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = du
      .select($"user_id", explode(sequence($"day", $"day" + 6L)).as("day"))
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau",
        expr("dau * 1000000L div wau").as("stickiness_ppm"))
      .orderBy($"day")
  }

  /** Gap-filled daily activity series — sparse-to-dense
    * densification, the prerequisite of every moving-average /
    * day-over-day dashboard (a missing day must read 0, not vanish):
    * a day SPINE generated by Spark 4.1's recursive CTE (UNION ALL,
    * acyclic, bounded by the date range — the construct's sweet spot
    * now that it exists in Catalyst), cross-joined with the distinct
    * type set, left-joined against the per-(type, day) counts,
    * zero-filled. Spine endpoints are driver-side scalar literals
    * (the ccnet-cutoff pattern), so the recursion is self-contained.
    *
    * Scale shape: the count rollup partial-aggs to one row per
    * non-empty (type, day) — the only corpus-sized work; the spine ×
    * types frame is |days| × |types| (hundreds), broadcast into the
    * left join. Recursion depth = days in range: the range is checked
    * against `spark.sql.cteRecursionLevelLimit` UP FRONT with a clear
    * error (one level per day — a session covering years must raise
    * the conf at build; silently raising it here would violate the
    * registry's conf-hygiene contract and hide a genuinely deep
    * recursion). An empty events table yields an empty frame (min/max
    * aggregate to NULL — there is no spine to build). Fully
    * oracle-checked (DuckDB runs the same recursive spine). */
  def gapfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val dayCol = expr("unix_timestamp(ts) div 86400")
    val r = ev.agg(min(dayCol), max(dayCol)).head()
    if (r.isNullAt(0)) {
      return Seq.empty[(String, Long, Long)].toDF("event_type", "day", "n")
    }
    val (d0, d1) = (r.getLong(0), r.getLong(1))
    val limit = s.conf.get("spark.sql.cteRecursionLevelLimit", "100").toInt
    require(d1 - d0 + 1 <= limit,
      s"gapfill spine needs ${d1 - d0 + 1} recursion levels (one per day in " +
        s"[$d0, $d1]) but spark.sql.cteRecursionLevelLimit=$limit — raise the " +
        "conf at session build for ranges past the default")
    ev.createOrReplaceTempView("graft_events")
    s.sql(s"""
      WITH RECURSIVE spine(day) AS (
        SELECT CAST($d0 AS BIGINT) AS day
        UNION ALL
        SELECT day + 1 FROM spine WHERE day < $d1),
      b AS (SELECT event_type, unix_timestamp(ts) div 86400 AS day,
              count(1) AS n
            FROM graft_events GROUP BY 1, 2),
      ty AS (SELECT DISTINCT event_type FROM graft_events)
      SELECT ty.event_type, spine.day, coalesce(b.n, 0) AS n
      FROM ty CROSS JOIN spine
      LEFT JOIN b ON b.event_type = ty.event_type AND b.day = spine.day
      ORDER BY ty.event_type, spine.day""")
  }

  /** RFM user scoring — the classic engagement segmentation (Hughes
    * 1994; every CRM/analytics stack ships it): per user, Recency
    * (days since last event, against the corpus max), Frequency
    * (event count) and Monetary (value total in CENTS — an exact long
    * sum, immune to float accumulation order), each banded 1–5
    * against the population MEAN at fixed multipliers rather than
    * quantiles — quantile banding needs a global sort/window (the
    * unpartitioned-window scale-killer this registry bans); mean
    * banding is one scalar aggregate, and every comparison is exact
    * integer or single-rounded IEEE, so the whole score
    * oracle-checks. Combined score = r·100 + f·10 + m.
    *
    * Scale shape: one user-keyed shuffle (partial-agged); the two
    * scalar artifacts (corpus max ts, population means) are 1-row
    * aggregates pulled driver-side like the ccnet cutoffs —
    * bounded at any corpus size. */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val sec = unix_timestamp($"ts")
    val maxTs = ev.agg(max(sec)).head().getLong(0)
    val u = ev.groupBy($"user_id").agg(
      count(lit(1)).as("f"),
      sum(round($"value" * 100.0).cast("long")).as("m_cents"),
      expr(s"($maxTs - max(unix_timestamp(ts))) div 86400").as("r_days"))
    val st = u.agg(
      (sum($"f").cast("double") / count(lit(1)).cast("double")).as("mf"),
      (sum($"m_cents").cast("double") / count(lit(1)).cast("double")).as("mm"),
      (sum($"r_days").cast("double") / count(lit(1)).cast("double")).as("mr")).head()
    val (mf, mm, mr) = (st.getDouble(0), st.getDouble(1), st.getDouble(2))
    def band(x: Column, mean: Double): Column =
      when(x >= mean * 1.2, 5L).when(x >= mean * 1.05, 4L)
        .when(x >= mean * 0.95, 3L).when(x >= mean * 0.8, 2L).otherwise(1L)
    // recency: LOWER is better, so the band inverts
    def bandInv(x: Column, mean: Double): Column =
      when(x <= mean * 0.8, 5L).when(x <= mean * 0.95, 4L)
        .when(x <= mean * 1.05, 3L).when(x <= mean * 1.2, 2L).otherwise(1L)
    u.select($"user_id", $"f", ($"m_cents".cast("double") / 100.0).as("monetary"),
        $"r_days",
        bandInv($"r_days".cast("double"), mr).as("r_score"),
        band($"f".cast("double"), mf).as("f_score"),
        band($"m_cents".cast("double"), mm).as("m_score"))
      .withColumn("rfm", $"r_score" * 100 + $"f_score" * 10 + $"m_score")
      .orderBy($"user_id")
  }
}
