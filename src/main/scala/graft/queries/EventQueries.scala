package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.functions.Rounding.round4

/** Driver-gated queries over the `events` table: the batch twins of the
  * Structured Streaming pipelines in graft.streaming (same tumbling-window
  * semantics, oracled in SQL — SURVEY.md §7.4 keeps streaming itself out of
  * the correctness-gated set).
  */
object EventQueries {

  val all: Seq[Q] = Seq(

    // Watermark late-data accounting, replayed: which rows would a
    // streaming query with a 2-hour watermark DROP? Arrival order :=
    // event_id; ~1% planted stragglers (event_id % 97, shifted back 3h)
    // make the flag discriminating — the natural stream is in-order.
    // The running global max is the distributed prefix scan, never a
    // single-partition window; the oracle replays it AS that window.
    Q("q_stream_late_replay",
      """WITH e AS (SELECT event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP))
        |             - CASE WHEN event_id % 97 = 0
        |                    THEN 10800000000 ELSE 0 END AS ts_us
        |           FROM events),
        |w AS (SELECT event_id, ts_us,
        |             max(ts_us) OVER (ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS wm
        |      FROM e)
        |SELECT event_id, coalesce(ts_us < wm - 7200000000, FALSE) AS late
        |FROM w ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("event_id"),
        (unix_micros(col("ts")) -
          when(col("event_id") % 97 === 0, 10800000000L).otherwise(0L))
          .as("ts_us"))
      graft.streaming.EventStreams
        .watermarkLateReplay(e, "event_id", "ts_us", 7200000000L)
        .select("event_id", "late").orderBy("event_id")
    },

    // Stream-stream interval join, batch-replayed: every purchase within
    // 30 minutes AFTER a click by the same user, through the LITERAL
    // streaming operator (EventStreams.joinWithin — withWatermark is a
    // no-op under batch execution, so the gate runs the exact production
    // code path and the oracle pins its complete-data semantics; the
    // watermark's only streaming-mode effect is state eviction, which by
    // construction never changes emitted rows for in-order data). Output
    // is integer µs deltas — no timestamp column shapes in the dump.
    Q("q_stream_join_replay",
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |                  CAST(ts AS TIMESTAMP) AS c_ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |             CAST(ts AS TIMESTAMP) AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id,
        |       epoch_us(p_ts) - epoch_us(c_ts) AS delta_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      graft.streaming.EventStreams.joinWithin(
          clicks, "c_user", "c_ts", purch, "p_user", "p_ts",
          watermark = "1 hour", within = "30 minutes")
        .select(col("c_user").as("user_id"), col("click_id"),
          col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .as("delta_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // Retention cohorts — the warehouse-classic user-lifecycle analytic:
    // users grouped by first-seen ISO week, distinct-counted in each
    // later week, as (cohort, weeks_since, n_users). Both engines
    // truncate to Monday weeks and derive weeks_since as day-diff ÷ 7
    // (integer on aligned Mondays, so no week-numbering convention can
    // disagree). Two shuffles: the per-user min and the cohort-week
    // distinct count.
    Q("q_events_retention",
      """WITH e AS (SELECT user_id,
        |             CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
        |               AS DATE) AS wk
        |           FROM events),
        |fs AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
        |SELECT f.cohort,
        |       CAST(date_diff('day', f.cohort, e.wk) // 7 AS INT)
        |         AS weeks_since,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN fs f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      val first = e.groupBy("user_id").agg(min("wk").as("cohort"))
      e.join(first, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("int")
            .as("weeks_since"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "weeks_since")
    },

    // Peak concurrency by sweep line: every event opens a 30-minute
    // session; (+1 at start, −1 at end) points swept in (time, delta,
    // id) order give the live-session count at every instant, and the
    // per-day max is the capacity-planning number. The global running
    // sum is Packing.runningTotal's distributed prefix scan (range
    // exchange + one signed long per partition to the driver) — the
    // oracle replays it AS the single-task window it must never be.
    // Day keys are integer µs-epoch days; all arithmetic integer.
    Q("q_events_concurrency",
      """WITH base AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |                     event_id
        |              FROM events),
        |pts AS (SELECT t, CAST(1 AS BIGINT) AS delta, event_id FROM base
        |        UNION ALL
        |        SELECT t + 1800000000, CAST(-1 AS BIGINT), event_id
        |        FROM base),
        |sw AS (SELECT t, sum(delta)
        |                  OVER (ORDER BY t, delta, event_id) AS cum
        |       FROM pts)
        |SELECT t // 86400000000 AS day_idx,
        |       CAST(max(cum) AS BIGINT) AS peak
        |FROM sw GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "events")
        .select(unix_micros(col("ts")).as("t"), col("event_id"))
      val pts = base.select(col("t"), lit(1L).as("delta"), col("event_id"))
        .unionByName(base.select((col("t") + 1800000000L).as("t"),
          lit(-1L).as("delta"), col("event_id")))
      graft.operators.Packing.runningTotal(pts,
          Seq(col("t"), col("delta"), col("event_id")), "delta")
        .groupBy(expr("t div 86400000000").as("day_idx"))
        .agg(max("cum").as("peak"))
        .orderBy("day_idx")
    },

    // Funnel conversion by first-occurrence ordering: a user converts
    // through click → view → purchase iff their FIRST click precedes
    // their first view precedes their first purchase. One shuffle (the
    // per-user min-per-step rollup); step counts and strictly-ordered
    // conversions are integer-exact. Ties (equal first timestamps)
    // break by the step's µs value being strictly smaller — equal
    // instants do NOT convert, same rule both engines.
    Q("q_events_funnel",
      """WITH m AS (SELECT user_id,
        |             min(CASE WHEN event_type = 'click'
        |                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t1,
        |             min(CASE WHEN event_type = 'view'
        |                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t2,
        |             min(CASE WHEN event_type = 'purchase'
        |                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t3
        |           FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |       CAST(sum(CASE WHEN t1 IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS step1,
        |       CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS step2,
        |       CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS step3
        |FROM m""".stripMargin) { (s, dir) =>
      val m = t(s, dir, "events").groupBy("user_id")
        .agg(
          min(when(col("event_type") === "click",
            unix_micros(col("ts")))).as("t1"),
          min(when(col("event_type") === "view",
            unix_micros(col("ts")))).as("t2"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("t3"))
      m.agg(count(lit(1)).as("n_users"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("step1"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1"), 1L)
          .otherwise(0L)).as("step2"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1")
          && col("t3") > col("t2"), 1L).otherwise(0L)).as("step3"))
    },

    // Relative-rank window surface: percent_rank and cume_dist per
    // partition — the remaining two ranking functions the catalog hadn't
    // pinned. Both are exact rational values of small-integer rank
    // arithmetic ((rank−1)/(n−1), peers/n) — identical IEEE divisions on
    // both engines, no rounding step needed; ntile(7) rides the same
    // window. Windows partition by nation (distributed across groups).
    Q("q_window_percentiles",
      """SELECT c_custkey,
        |       c_nationkey,
        |       round(percent_rank() OVER w, 4) AS pr,
        |       round(cume_dist() OVER w, 4) AS cd,
        |       ntile(7) OVER w AS bucket
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          round4(percent_rank().over(w)).as("pr"),
          round4(cume_dist().over(w)).as("cd"),
          ntile(7).over(w).as("bucket"))
        .orderBy("c_custkey")
    },

    // Event-sequence transition matrix: per user, consecutive event
    // pairs in (ts, event_id) order — the bigram counts a session-flow /
    // Markov analysis starts from. The lag window partitions by user
    // (distributed across users); the rollup is one small shuffle.
    Q("q_events_transitions",
      """WITH seq AS (SELECT user_id, event_type,
        |               lag(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS prev_type
        |             FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lag("event_type", 1).over(w).as("prev_type"))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    },

    // Tumbling 1-hour window aggregation (batch twin of
    // EventStreams.hourlyRollup; window(ts) start == date_trunc('hour')).
    Q("q_events_window",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |       event_type, count(*) AS cnt,
        |       round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) {
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            round4(sum("value")).as("total_value"))
          .select(col("window.start").as("hour_start"), col("event_type"),
            col("cnt"), col("total_value"))
          .orderBy("hour_start", "event_type")
    },

    // As-of (point-in-time) join: each click matched to the user's most
    // recent purchase at-or-before it. The operator is the union+window
    // algorithm (one shuffle, no range explosion — operators.AsOfJoin);
    // the oracle is DuckDB's native ASOF LEFT JOIN.
    Q("q_asof_join",
      """WITH clicks AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, p.ts AS purchase_ts, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin) { (s, dir) =>
      import graft.operators.AsOfJoin
      val e = t(s, dir, "events")
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("value").as("purchase_value"))
        .withColumn("purchase_ts", col("ts"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_ts", "purchase_value"))
        .select("event_id", "user_id", "purchase_ts", "purchase_value")
        .orderBy("event_id")
    },

    // Window-function breadth: lag/lead offsets, a moving-average frame
    // (ROWS BETWEEN), and ntile quartiles over a per-user event ordering.
    Q("q_window_analytics",
      """SELECT event_id, user_id,
        |       lag(value) OVER w AS prev_value,
        |       lead(value) OVER w AS next_value,
        |       round(avg(value) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg,
        |       ntile(4) OVER w AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          lag("value", 1).over(w).as("prev_value"),
          lead("value", 1).over(w).as("next_value"),
          round4(avg("value").over(w.rowsBetween(-2, 0))).as("moving_avg"),
          ntile(4).over(w).as("quartile"))
        .orderBy("event_id")
    },

    // Statistical aggregates: sample stddev, correlation, covariance,
    // exact interpolated median — rounded so the two engines' summation
    // orders agree.
    Q("q_agg_stats",
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round4(stddev_samp("l_quantity")).as("sd_qty"),
            round4(corr("l_quantity", "l_extendedprice"))
              .as("corr_qty_price"),
            round4(covar_samp("l_quantity", "l_extendedprice"))
              .as("cov_qty_price"),
            round4(expr("percentile(l_quantity, 0.5)")).as("median_qty"))
          .orderBy("l_returnflag")
    },

    // Batch gap-based sessionization (operators.Sessionize — the batch twin
    // of EventStreams.sessionize): 6-hour inactivity gap, one window pass
    // per user, session bounds + totals per session. session_id is cast to
    // BIGINT on the oracle side because DuckDB's integer sum widens to
    // HUGEINT.
    Q("q_events_sessionize",
      """WITH d AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |              OR date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w,
        |                           CAST(ts AS TIMESTAMP)) > 21600
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |      FROM d)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |       max(ts) AS session_end, count(*) AS n_events,
        |       round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      graft.operators.Sessionize
        .aggregate(t(s, dir, "events"), Seq("user_id"), "ts", 21600L,
          Seq(col("event_id")), "value")
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"),
          round4(col("value_sum")).as("total_value"))
        .orderBy("user_id", "session_id")
    },

    // Native session_window aggregation — Spark's built-in gap-session
    // operator (the declarative sibling of the manual lag/sum islands in
    // q_events_sessionize, and the API the STREAMING runtime shares):
    // windows [ts, ts+gap) merge while they overlap, so a session breaks
    // exactly when the microsecond diff >= gap — STRICT semantics,
    // different from the batch operator's second-truncated boundary, and
    // replayed as such in the oracle (epoch_us arithmetic); window.end =
    // last event + gap by definition. One shuffle on user_id; the merge
    // runs inside the session-window aggregation, no self-join.
    Q("q_events_session_window",
      """WITH d AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |              OR epoch_us(CAST(ts AS TIMESTAMP))
        |                 - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |                 >= 21600000000
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 21600 SECOND AS session_end,
        |       count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "21600 seconds").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round4(sum("value")).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("total_value"))
        .orderBy("user_id", "session_start")
    },

    // Pure range join (no equi key): views matched to the 15-minute window
    // after any purchase. The operator (operators.RangeJoin.bucketed)
    // manufactures an equi key by time-bucketing so the plan is a shuffled
    // equi join, not the nested-loop Spark would pick for a bare
    // inequality condition; the oracle is DuckDB's native IEJoin over the
    // same predicate.
    Q("q_join_range",
      """WITH v AS (SELECT event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id,
        |             CAST(ts AS TIMESTAMP) AS win_start,
        |             CAST(ts AS TIMESTAMP) + INTERVAL 15 MINUTE AS win_end
        |      FROM events WHERE event_type = 'purchase')
        |SELECT view_id, purchase_id
        |FROM v JOIN p ON view_ts >= win_start AND view_ts < win_end
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val views = e.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 15 MINUTES")).as("win_end"))
      graft.operators.RangeJoin
        .bucketed(views, "view_ts", purchases, "win_start", "win_end", 900L)
        .select("view_id", "purchase_id")
        .orderBy("view_id", "purchase_id")
    },

    // Value-based RANGE window frame: per-user trailing-hour sum over
    // event-time seconds — the sliding-aggregate shape ROWS frames can't
    // express (peers enter by VALUE distance, so no tiebreak is needed
    // for determinism).
    Q("q_window_range_frame",
      """SELECT event_id,
        |       round(sum(value) OVER (
        |         PARTITION BY user_id
        |         ORDER BY date_diff('second', TIMESTAMP '2024-01-01',
        |                            CAST(ts AS TIMESTAMP))
        |         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
        |         AS hour_sum
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val epoch = col("ts").cast("long") -
        lit("2024-01-01 00:00:00").cast("timestamp").cast("long")
      val w = Window.partitionBy("user_id").orderBy(epoch)
        .rangeBetween(-3600, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"),
          round4(sum("value").over(w)).as("hour_sum"))
        .orderBy("event_id")
    },

    // Batch replay of the streaming content-fingerprint ingest dedup
    // (EventStreams.dedupByFingerprint): first arrival per normalized
    // fingerprint wins. Arrival order here is a deterministic scramble
    // (md5 of the id — NOT id order, so the gate can't pass by keeping
    // min doc_id like the exact-dedup gate). The rn = 1 filter plans a
    // partial WindowGroupLimit below the fingerprint exchange; the
    // StreamingSpec twin asserts the streaming path makes the identical
    // keep decisions on the same arrival order.
    Q("q_stream_dedup_replay",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) || '!!'
        |  FROM documents WHERE doc_id < 50),
        |arr AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS arrival,
        |         md5(regexp_replace(regexp_replace(lower(text),
        |             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fp
        |  FROM aug),
        |r AS (SELECT doc_id, fp,
        |             row_number() OVER (PARTITION BY fp
        |               ORDER BY arrival, doc_id) AS rn
        |      FROM arr)
        |SELECT doc_id, fp FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // planted crawl copies: same normalized content under new ids
      // (case/punctuation noise a crawler would introduce) — the
      // scrambled arrival decides each pair's winner, so the gate fails
      // under keep-min-id semantics
      val aug = docs.select("doc_id", "text").union(
        docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(upper(col("text")), lit("!!")).as("text")))
      graft.streaming.EventStreams.dedupByFingerprintReplay(
          aug.select(col("doc_id"),
            md5(col("doc_id").cast("string")).as("arrival"),
            col("text")),
          "text", arrivalCols = Seq("arrival", "doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },

    // STREAMING gap sessionization through the driver hash
    // (EventStreams.sessionizeKeyed — flatMapGroupsWithState with
    // event-time timeouts, the one stateful-streaming shape the
    // foreachBatch sinks don't exercise): a bounded event feed
    // (event_id < 2000 — fixed-size at any sf, oracle carries the same
    // bound) split across two micro-batches at its time median, so
    // sessions SPANNING the batch boundary must merge through the state
    // store; two sentinel batches then advance the watermark past every
    // open session's timeout so the final sessions emit through the real
    // timeout path. The result must hash-match the batch Sessionize
    // oracle exactly — state arithmetic is microsecond-exact and the
    // gap test is second-truncated, matching the batch operator and
    // DuckDB's date_diff boundary counting; the per-session value fold
    // orders by (ts, event_id), so ties can't flip low bits.
    Q("q_stream_sessionize_replay",
      """WITH d AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |              OR date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w,
        |                           CAST(ts AS TIMESTAMP)) > 21600
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events WHERE event_id < 2000
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |      FROM d)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |       max(ts) AS session_end, count(*) AS n_events,
        |       round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.expressions.Window
      import graft.streaming.EventStreams
      // scoped low-fan-out session: flatMapGroupsWithState instantiates
      // one state store per shuffle partition per micro-batch — at the
      // bench's 32 partitions x 3 rounds that is pure fixed overhead for
      // a 2,000-row fixture. A child session (shared SparkContext, own
      // SQLConf) bounds it without mutating the caller's conf.
      val s2 = s.newSession()
      // the scoped child's checkpoint pins must release with the
      // CALLER's releaseAll (checkpoint tracking is keyed by root
      // session, not SparkContext — sibling-session isolation)
      graft.operators.OperatorCaches.adoptSession(s2, s)
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
      import s2.implicits._
      val gapSeconds = 21600L
      val rows = t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .as[EventStreams.KeyedEvent].collect()
        .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val src = MemoryStream[EventStreams.KeyedEvent]
      val name = "sessions_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = EventStreams.sessionizeKeyed(src.toDS(), gapSeconds)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val sessions = try {
        val (a, b) = rows.splitAt(rows.length / 2)
        // sentinels (filtered below; their own sessions never emit):
        // flush1 rides the second half and pushes the watermark past
        // every real timeout, flush2 gives the timeouts a micro-batch
        // to fire in
        val maxTs = rows.last.ts.getTime
        val flush1 = new java.sql.Timestamp(
          maxTs + (gapSeconds + 7200L) * 1000L)
        val flush2 = new java.sql.Timestamp(flush1.getTime + 3600_000L)
        src.addData(a.toIndexedSeq: _*); q.processAllAvailable()
        src.addData(b.toIndexedSeq
          :+ EventStreams.KeyedEvent(-1L, 0L, flush1, 0.0): _*)
        q.processAllAvailable()
        src.addData(EventStreams.KeyedEvent(-2L, 0L, flush2, 0.0))
        q.processAllAvailable()
        val w = Window.partitionBy("user_id").orderBy("session_start")
        // eager checkpoint (release-tracked): the temp view is dropped
        // in the finally, so the result must sever from it here
        graft.operators.OperatorCaches.checkpointed(
          s2.table(name).where(col("user_id") >= 0)
            .withColumn("session_id",
              (row_number().over(w) - 1).cast("long"))
            .select(col("user_id"), col("session_id"),
              col("session_start"), col("session_end"),
              col("n_events").cast("long").as("n_events"),
              round4(col("total_value")).as("total_value"))
            .orderBy("user_id", "session_id"))
      } finally {
        q.stop()
        s2.catalog.dropTempView(name)
      }
      sessions
    },

    // Multimodal metadata via REAL byte parsing: image payloads are built
    // as genuine PNG/BMP/JPEG headers (ImageCodec.buildPng/buildBmp/
    // buildJpeg — actual signature + IHDR / BITMAPINFOHEADER / JFIF+SOF0
    // bytes), then decodeImageMeta parses those bytes back in the
    // mapPartitions seam; the JPEG path exercises the SOFn segment walk
    // (APP0 must be skipped by its length field to reach the frame
    // header). The oracle knows only the dimension FORMULA — it matches
    // iff encode→parse round-trips exactly (a header off-by-one,
    // endianness slip, or mis-skipped segment fails the gate).
    // Scale: header-only parse, scan-local, no shuffle.
    Q("q_multimodal_meta",
      """SELECT doc_id AS media_id,
        |       (['bmp', 'png', 'jpeg'])[CAST(doc_id % 3 + 1 AS INT)]
        |         AS format,
        |       CAST(doc_id % 640 + 16 AS INT) AS width,
        |       CAST(doc_id % 480 + 16 AS INT) AS height,
        |       CAST((CASE doc_id % 3 WHEN 0 THEN 26 WHEN 1 THEN 24
        |             ELSE 33 END) + doc_id % 32 AS INT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodeImageMeta(
          Multimodal.syntheticImages(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // FULL PNG pixel decode (ImageCodec.parsePngPixels): the fixture
    // encodes formula pixels as real PNGs — zlib-deflated IDAT, CRC'd
    // chunks, and ALL FIVE §9 row filters in rotation — and the Spark
    // side must inflate + un-filter them back. The oracle knows only the
    // pixel FORMULA (value k = (id·31+k·7+13) mod 251): it matches iff
    // the byte-exact encode→inflate→unfilter round-trip reproduces every
    // pixel (a single wrong Paeth predictor or off-by-one scanline
    // offset shifts px_wsum). Exact integer stats only — no doubles.
    // Scale: decode is scan-local mapPartitions, no shuffle.
    Q("q_multimodal_pixels",
      """WITH p AS (SELECT doc_id,
        |                  CAST(doc_id % 13 + 4 AS INT) AS width,
        |                  CAST(doc_id % 11 + 4 AS INT) AS height,
        |                  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END
        |                       AS INT) AS channels
        |           FROM documents),
        |px AS (SELECT doc_id, width, height, channels,
        |              unnest(range(0, width * height * channels)) AS k
        |       FROM p),
        |v AS (SELECT doc_id, width, height, channels, k,
        |             (doc_id * 31 + k * 7 + 13) % 251 AS val
        |      FROM px)
        |SELECT doc_id AS media_id, width, height, channels,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(sum(val) AS BIGINT) AS px_sum,
        |       CAST(min(val) AS INT) AS px_min,
        |       CAST(max(val) AS INT) AS px_max,
        |       CAST(sum((k + 1) * val) AS BIGINT) AS px_wsum
        |FROM v GROUP BY doc_id, width, height, channels
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodePixelStats(
          Multimodal.syntheticPixelImages(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // Adam7 INTERLACED PNG decode through the driver hash: the same
    // formula pixels as q_multimodal_pixels delivered as seven
    // independently filtered passes (the progressive layout crawled web
    // PNGs ship — IHDR interlace=1, per-pass filter rotation, §8.2 pass
    // grid). The oracle is the sequential gate's verbatim, so the
    // pass-grid reassembly must converge on identical statistics — a
    // transposed origin, wrong stride, or cross-pass filter bleed shifts
    // px_wsum immediately. The JDK's independent decoder byte-agrees
    // with ours on these payloads (MultimodalSpec).
    Q("q_multimodal_png_interlaced",
      """WITH p AS (SELECT doc_id,
        |                  CAST(doc_id % 13 + 4 AS INT) AS width,
        |                  CAST(doc_id % 11 + 4 AS INT) AS height,
        |                  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END
        |                       AS INT) AS channels
        |           FROM documents),
        |px AS (SELECT doc_id, width, height, channels,
        |              unnest(range(0, width * height * channels)) AS k
        |       FROM p),
        |v AS (SELECT doc_id, width, height, channels, k,
        |             (doc_id * 31 + k * 7 + 13) % 251 AS val
        |      FROM px)
        |SELECT doc_id AS media_id, width, height, channels,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(sum(val) AS BIGINT) AS px_sum,
        |       CAST(min(val) AS INT) AS px_min,
        |       CAST(max(val) AS INT) AS px_max,
        |       CAST(sum((k + 1) * val) AS BIGINT) AS px_wsum
        |FROM v GROUP BY doc_id, width, height, channels
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodePixelStats(
          Multimodal.syntheticPixelImagesInterlaced(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // Audio-header decode (AudioCodec.parseWav over real RIFF bytes built
    // by the fixture): channels / rate / bits / frame count read from the
    // actual chunk walk — including an odd-sized LIST chunk every third
    // row, so a walker that misses WORD alignment derails and fails the
    // gate. The oracle replays the planted parameter formulas; duration
    // is integer µs arithmetic on both sides.
    Q("q_multimodal_audio",
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 2 + 1 AS INT) AS channels,
        |       ([8000, 16000, 44100])[CAST(doc_id % 3 + 1 AS INT)]
        |         AS sample_rate,
        |       ([8, 16])[CAST(doc_id % 2 + 1 AS INT)] AS bits,
        |       CAST(doc_id % 1000 + 1 AS BIGINT) AS n_frames,
        |       CAST((doc_id % 1000 + 1) * 1000000
        |            // ([8000, 16000, 44100])[CAST(doc_id % 3 + 1 AS INT)]
        |         AS BIGINT) AS duration_us
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodeAudioMeta(
          Multimodal.syntheticAudio(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // REAL PCM sample decode (AudioCodec.parseWavSamples): formula
    // samples encoded as actual WAV data chunks — 8-bit unsigned on
    // every third id (odd data sizes put the RIFF pad byte on the gated
    // path), 16-bit signed LE otherwise — decoded back to exact integer
    // statistics. The position-weighted sum catches any interleave or
    // endianness slip; a sign-extension bug shifts s_min/s_max.
    Q("q_multimodal_pcm",
      """WITH p AS (SELECT doc_id,
        |                  CAST(doc_id % 2 + 1 AS INT) AS channels,
        |                  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END
        |                       AS INT) AS bits,
        |                  CAST(doc_id % 50 + 4 AS BIGINT) AS n_frames
        |           FROM documents),
        |s AS (SELECT doc_id, channels, bits, n_frames,
        |             unnest(range(0, n_frames * channels)) AS k
        |      FROM p),
        |v AS (SELECT doc_id, channels, bits, n_frames, k,
        |             CASE WHEN bits = 8 THEN (doc_id * 7 + k * 13) % 256
        |                  ELSE ((doc_id * 7 + k * 13) % 65536) - 32768
        |             END AS val
        |      FROM s)
        |SELECT doc_id AS media_id, channels, bits, n_frames,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(val) AS BIGINT) AS s_sum,
        |       CAST(min(val) AS INT) AS s_min,
        |       CAST(max(val) AS INT) AS s_max,
        |       CAST(sum((k + 1) * val) AS BIGINT) AS s_wsum
        |FROM v GROUP BY doc_id, channels, bits, n_frames
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodePcmStats(
          Multimodal.syntheticPcmAudio(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // Multimodal resize metadata (Multimodal.resizeImages over the derived
    // media table): aspect-preserving fit into a 64×64 box, floor
    // semantics, upscale suppressed. The metadata arithmetic is exact IEEE
    // double on both engines, so the whole transform is hash-gated; the
    // pixel re-encode is the marked seam and changes none of this.
    Q("q_multimodal_resize",
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         CAST(doc_id % 640 + 16 AS INT) AS width,
        |         CAST(doc_id % 480 + 16 AS INT) AS height
        |  FROM documents),
        |r AS (SELECT media_id, width, height,
        |             least(1.0, 64.0 / greatest(width, height)) AS scale
        |      FROM media WHERE kind = 'image')
        |SELECT media_id, width, height,
        |       CAST(greatest(1, floor(width * scale)) AS INT) AS out_width,
        |       CAST(greatest(1, floor(height * scale)) AS INT) AS out_height
        |FROM r ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.resizeImages(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")), 64)
        .select("media_id", "width", "height", "out_width", "out_height")
        .orderBy("media_id")
    },

    // Multimodal frame-sampling plan (Multimodal.sampleFrames): explode a
    // deterministic offset per frame index — the real version seeks key
    // frames at the same offsets; the PLAN (scan-local explode, no
    // shuffle) is what the gate pins.
    Q("q_multimodal_frames",
      """SELECT doc_id AS media_id, CAST(j AS INT) AS frame_idx,
        |       CAST(j * octet_length(encode(text)) AS DOUBLE) / 4
        |         AS byte_offset
        |FROM documents, range(0, 4) AS t(j)
        |WHERE doc_id % 3 = 2
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")), 4)
        .orderBy("media_id", "frame_idx")
    },

    // REAL animated-container frame indexing (GifCodec.parseFrames): the
    // fixture encodes formula frames as structurally real GIF89a bytes —
    // graphic-control delays, image descriptors, length-prefixed LZW
    // sub-blocks (including zero-length fillers) — and the Spark side
    // must walk the actual block stream back. The oracle knows only the
    // frame FORMULAS: one mis-skipped sub-block desynchronizes the walk
    // and every later frame's geometry fails the hash. Byte offsets are
    // pinned separately in MultimodalSpec (structure arithmetic).
    Q("q_multimodal_gif",
      """SELECT doc_id AS media_id, CAST(j AS INT) AS frame_idx,
        |       CAST((doc_id + j) % 3 AS INT) AS x,
        |       CAST((doc_id + 2 * j) % 2 AS INT) AS y,
        |       CAST((doc_id + j) % 13 + 1 AS INT) AS width,
        |       CAST((doc_id + 2 * j) % 11 + 1 AS INT) AS height,
        |       CAST((doc_id + j) % 50 + 2 AS INT) AS delay_cs
        |FROM documents, range(0, 5) AS t(j)
        |WHERE j < doc_id % 5 + 1
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.indexGifFrames(
          Multimodal.syntheticGifs(t(s, dir, "documents")))
        .select("media_id", "frame_idx", "x", "y", "width", "height",
          "delay_cs")
        .orderBy("media_id", "frame_idx")
    },

    // FULL GIF pixel decode (GifCodec.parseGifPixels): the fixture
    // LZW-compresses formula color indices behind a formula global
    // palette (GifCodec.buildGifPixels — real GIF89a, every third id
    // interlaced), and the Spark side must decompress the actual
    // variable-width code stream back — dictionary growth, width
    // bumps, KwKwK, de-interlace, and palette lookup all sit on the
    // gated path. The oracle knows only the index/palette FORMULAS:
    // one mis-stepped code width or interlace pass shifts idx_wsum.
    // Exact integer stats only. Scale: scan-local mapPartitions.
    Q("q_multimodal_gif_pixels",
      """WITH p AS (SELECT doc_id,
        |                  CAST(doc_id % 13 + 4 AS INT) AS width,
        |                  CAST(doc_id % 11 + 4 AS INT) AS height,
        |                  CAST(1 << CAST(doc_id % 4 + 2 AS INT) AS INT)
        |                    AS n_colors
        |           FROM documents),
        |px AS (SELECT doc_id, width, height, n_colors,
        |              unnest(range(0, width * height)) AS k
        |       FROM p),
        |v AS (SELECT doc_id, width, height, n_colors, k,
        |             (doc_id * 17 + k * 23 + 5) % n_colors AS idx
        |      FROM px)
        |SELECT doc_id AS media_id, width, height, n_colors,
        |       CAST(count(*) AS BIGINT) AS n_px,
        |       CAST(sum(idx) AS BIGINT) AS idx_sum,
        |       CAST(sum((k + 1) * idx) AS BIGINT) AS idx_wsum,
        |       CAST(sum((3 * idx + 7) % 256 + (5 * idx + 11) % 256
        |                + (7 * idx + 13) % 256) AS BIGINT) AS rgb_sum
        |FROM v GROUP BY doc_id, width, height, n_colors
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      import graft.multimodal.Multimodal
      Multimodal.decodeGifPixelStats(
          Multimodal.syntheticGifPixels(t(s, dir, "documents")))
        .orderBy("media_id")
    },

    // Time-series gap fill with LOCF: daily per-type value sums, gaps
    // PLANTED deterministically (days divisible by 5 withheld), the full
    // day range regenerated per type (sequence/generate_series — scan-
    // local explode, one row per day, never a driver loop) and missing
    // days filled by last-observation-carried-forward — an IGNORE NULLS
    // running last inside the per-type window. The 4-dp rounding happens
    // BEFORE the fill so the carried value is bit-identical to the
    // observed one it copies.
    Q("q_events_gapfill",
      """WITH obs AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                    round(sum(value), 4) AS v
        |             FROM events
        |             WHERE day(CAST(ts AS DATE)) % 5 != 0
        |             GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |         FROM obs GROUP BY 1),
        |days AS (SELECT event_type,
        |                CAST(unnest(generate_series(d0, d1,
        |                     INTERVAL 1 DAY)) AS DATE) AS day
        |         FROM span),
        |joined AS (SELECT d.event_type, d.day, o.v,
        |                  o.v IS NOT NULL AS observed
        |           FROM days d LEFT JOIN obs o
        |             ON o.event_type = d.event_type AND o.day = d.day)
        |SELECT event_type, day,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS filled_v,
        |       observed
        |FROM joined ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val obs = t(s, dir, "events")
        .withColumn("day", col("ts").cast("date"))
        .where(dayofmonth(col("day")) % 5 =!= 0)
        .groupBy("event_type", "day")
        .agg(round4(sum("value")).as("v"))
      val days = obs.groupBy("event_type")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
            .as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(obs, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          last(col("v"), ignoreNulls = true).over(w).as("filled_v"),
          col("v").isNotNull.as("observed"))
        .orderBy("event_type", "day")
    },

    // Sliding (hopping) windows: 2-hour windows every 1 hour — each event
    // lands in exactly two windows, the overlap structure tumbling
    // windows can't express (rate trends, smoothed rollups). Spark's
    // `window(ts, '2 hours', '1 hour')` is a scan-local 2-row explode
    // before the aggregation; the oracle materializes the same two
    // window starts per event. Counts are exact ints.
    Q("q_events_sliding",
      """WITH w AS (SELECT event_type,
        |             unnest([date_trunc('hour', CAST(ts AS TIMESTAMP))
        |                       - INTERVAL 1 HOUR,
        |                     date_trunc('hour', CAST(ts AS TIMESTAMP))])
        |               AS wstart
        |           FROM events)
        |SELECT wstart, wstart + INTERVAL 2 HOUR AS wend, event_type,
        |       count(*) AS cnt
        |FROM w GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("wstart"),
          col("window.end").as("wend"), col("event_type"), col("cnt"))
        .orderBy("wstart", "event_type")
    },

    // Robust anomaly flagging on daily event volumes: median + MAD per
    // type (outlier-immune, unlike mean/stddev), flag days deviating
    // > 3 MAD. Medians of integer counts are exact (.0/.5) doubles, so
    // every comparison is engine-exact with no rounding step at all; the
    // data yields two genuine anomalies at sf0.01, so the gate
    // discriminates flags, not just zeros. Two percentile passes over
    // tiny per-type day counts — at 100 TB the daily rollup (the only
    // corpus-sized scan) is the same one-shuffle aggregation, and the
    // median/MAD legs run over days-per-type rows, not events.
    Q("q_events_anomaly",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
        |      FROM d GROUP BY 1),
        |md AS (SELECT d.event_type,
        |              quantile_cont(abs(d.cnt - m.med), 0.5) AS mad
        |       FROM d JOIN m USING (event_type) GROUP BY 1)
        |SELECT d.event_type, d.day, d.cnt, m.med, md.mad,
        |       abs(d.cnt - m.med) > 3 * md.mad AS is_anomaly
        |FROM d JOIN m USING (event_type) JOIN md USING (event_type)
        |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val m = d.groupBy("event_type")
        .agg(expr("percentile(cnt, 0.5)").as("med"))
      val md = d.join(m, "event_type")
        .groupBy("event_type")
        .agg(expr("percentile(abs(cnt - med), 0.5)").as("mad"))
      d.join(broadcast(m), "event_type")
        .join(broadcast(md), "event_type")
        .select(col("event_type"), col("day"), col("cnt"), col("med"),
          col("mad"),
          (abs(col("cnt") - col("med")) > lit(3) * col("mad"))
            .as("is_anomaly"))
        .orderBy("event_type", "day")
    },
  )
}
