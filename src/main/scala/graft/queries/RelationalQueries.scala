package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Expressions._
import graft.engine.Tables.t
import graft.operators.GlobalRank
import graft.functions.Rounding.round4

/** Driver-gated queries covering the reference's relational operator
  * inventory (SURVEY.md §2 families A–G) over the synthetic testdata.
  *
  * Every query:
  *  - orders its output by a total key (driver hash-compare determinism),
  *  - aliases computed columns identically to its DuckDB oracle,
  *  - rounds doubles produced by order-sensitive aggregation (sum/avg) so
  *    Spark partial-agg order and DuckDB scan order can't flip low bits.
  *
  * Scale notes are per-query; the shared principles: broadcast the dim side
  * of every star join, keep aggregates partial-ready (map-side combine),
  * never rank on a single partition (GlobalRank), and let AQE coalesce.
  */
object RelationalQueries {

  val all: Seq[Q] = Seq(

    // A10/B13 — scan + projection with computed, aliased columns. The
    // projection reaches the parquet scan (ReadSchema prunes to 5 cols).
    Q("q_scan_project",
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice * (1 - l_discount), 4) AS net_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem").select(
            col("l_orderkey"), col("l_linenumber"),
            round4(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("net_price"))
          .orderBy("l_orderkey", "l_linenumber")
    },

    // B14/H41 — null-propagating md5 surrogate key + IS NOT NULL filter
    // (core/movie_hub.sql:13,17 pattern).
    Q("q_filter_nullkey",
      """SELECT md5(c_name || CAST(c_nationkey AS VARCHAR)) AS cust_key,
        |       c_custkey
        |FROM customer
        |WHERE md5(c_name || CAST(c_nationkey AS VARCHAR)) IS NOT NULL
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      c.select(
          surrogateKey(col("c_name"), col("c_nationkey")).as("cust_key"),
          col("c_custkey"))
        .where(surrogateKey(col("c_name"), col("c_nationkey")).isNotNull)
        .orderBy("c_custkey")
    },

    // B15 — NOT IN value-list filter (etl_layer_transfer.py:18).
    Q("q_filter_not_in",
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .where(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // B16/D31 — "latest snapshot" selector: col IN (SELECT max(col) ...).
    // Spark shape: broadcast scalar-agg + semi join — no driver collect.
    Q("q_latest_snapshot",
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate IN (SELECT max(l_shipdate) FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val mx = l.agg(max(col("l_shipdate")).as("l_shipdate"))
      l.join(broadcast(mx), Seq("l_shipdate"), "left_semi")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // B17/B18 — column-permutation repair: rows failing the domain check
    // get fields rotated back; good rows pass through; DELETE+INSERT
    // becomes filter + union (etl_layer_transfer.py:10-20).
    Q("q_repair_rotate",
      """SELECT event_id, user_id,
        |       CASE WHEN event_type IN ('click','view','purchase','signup')
        |            THEN event_type ELSE props END AS event_type,
        |       CASE WHEN event_type IN ('click','view','purchase','signup')
        |            THEN props ELSE event_type END AS props
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val known = Seq("click", "view", "purchase", "signup")
      val e = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "props")
      val good = e.where(col("event_type").isin(known: _*))
      val repaired = e.where(!col("event_type").isin(known: _*))
        .select(col("event_id"), col("user_id"),
          col("props").as("event_type"), col("event_type").as("props"))
      good.union(repaired).orderBy("event_id")
    },

    // C19 — inner equi join, single key; dim side broadcast.
    Q("q_join_inner",
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // C20 — inner join on a composite key (core/movie_genre_link.sql:18
    // pattern: two-column equality).
    Q("q_join_composite",
      """WITH dim AS (
        |  SELECT l_partkey, l_suppkey, count(*) AS pair_cnt
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT l.l_orderkey, l.l_linenumber, d.pair_cnt
        |FROM lineitem l
        |JOIN dim d ON l.l_partkey = d.l_partkey AND l.l_suppkey = d.l_suppkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val dim = l.groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("pair_cnt"))
      l.join(dim, Seq("l_partkey", "l_suppkey"))
        .select("l_orderkey", "l_linenumber", "pair_cnt")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // C21 — join on a computed md5 expression
    // (core/movie_info_sat.sql:37-39 pattern).
    Q("q_join_expr",
      """SELECT c_custkey, n.n_name
        |FROM customer c
        |JOIN (SELECT md5(CAST(n_nationkey AS VARCHAR)) AS nkey, n_name
        |      FROM nation) n
        |  ON md5(CAST(c_nationkey AS VARCHAR)) = n.nkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val dim = t(s, dir, "nation")
        .select(surrogateKey(col("n_nationkey")).as("nkey"), col("n_name"))
      t(s, dir, "customer")
        .join(broadcast(dim), surrogateKey(col("c_nationkey")) === col("nkey"))
        .select("c_custkey", "n_name")
        .orderBy("c_custkey")
    },

    // C22/D30 — 3-way join chain + group aggregate. Two broadcast joins,
    // one shuffle (the groupBy) — the canonical star-schema plan.
    Q("q_join_3way",
      """SELECT r_name, n_name, count(*) AS cust_cnt,
        |       round(sum(c_acctbal), 4) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("cust_cnt"),
            round4(sum(col("c_acctbal"))).as("total_bal"))
          .orderBy("r_name", "n_name")
    },

    // C23 — FULL OUTER join + coalesce key resurrection
    // (mart/rating_slide.sql:28,33-34 pattern): early vs late spend.
    Q("q_join_full_outer",
      """WITH a AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS early_spend
        |           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |           GROUP BY o_custkey),
        |     b AS (SELECT o_custkey, round(sum(o_totalprice), 4) AS late_spend
        |           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |           GROUP BY o_custkey)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
        |       a.early_spend, b.late_spend
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val cut = lit("1998-01-01").cast(TimestampType)
      val a = o.where(col("o_orderdate") < cut).groupBy("o_custkey")
        .agg(round4(sum("o_totalprice")).as("early_spend")).alias("a")
      val b = o.where(col("o_orderdate") >= cut).groupBy("o_custkey")
        .agg(round4(sum("o_totalprice")).as("late_spend")).alias("b")
      a.join(b, col("a.o_custkey") === col("b.o_custkey"), "full_outer")
        .select(
          coalesce(col("a.o_custkey"), col("b.o_custkey")).as("custkey"),
          col("early_spend"), col("late_spend"))
        .orderBy("custkey")
    },

    // C24 — left join + IS NULL change detection (ddl.py:538 pattern):
    // customers with no urgent order. (Every customer has SOME order in
    // this synthetic data — the unfiltered form is vacuously empty and
    // couldn't catch a broken left join; 203 rows at sf0.01.)
    Q("q_join_left_isnull",
      """SELECT c_custkey, c_name
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |  ON c_custkey = o.o_custkey
        |WHERE o.o_orderkey IS NULL ORDER BY c_custkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders")
              .where(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .where(col("o_orderkey").isNull)
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
    },

    // C25 — anti join (ddl.py:552 NOT IN pattern; pk non-null so left_anti
    // matches): parts with no 2001 shipment (every part has SOME shipment
    // — the unfiltered form is vacuous; 49 rows at sf0.01).
    Q("q_join_anti",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey NOT IN
        |  (SELECT DISTINCT l_partkey FROM lineitem
        |   WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .join(t(s, dir, "lineitem")
            .where(col("l_shipdate") >= lit("2001-01-01").cast(TimestampType)),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // Skew-mitigation salted join (operators.Salting): result-identical to
    // the plain join — the oracle IS the plain join — only the partitioning
    // of work changes (hot-key rows spread over saltFactor reducers). The
    // derived nation key (o_custkey % 5) is deliberately low-cardinality:
    // every key is "hot", the shape AQE's block-splitting can't fix.
    Q("q_join_salted",
      """SELECT o_orderkey, o_custkey % 5 AS nat, n_name
        |FROM orders JOIN nation ON o_custkey % 5 = n_nationkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val big = t(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") % 5).as("nat"))
      val small = t(s, dir, "nation")
        .select(col("n_nationkey").as("nat"), col("n_name"))
      graft.operators.Salting.saltedJoin(big, small, Seq("nat"), saltFactor = 8)
        .select(col("o_orderkey"), col("nat"), col("n_name"))
        .orderBy("o_orderkey")
    },

    // C26 — semi join (IN-subquery filter): suppliers with shipments.
    Q("q_join_semi",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // C27/F36 — correlated ORDER BY ... DESC LIMIT 1 subquery, rewritten as
    // a partitioned window top-1 (the Spark-legal form; SURVEY.md C27).
    Q("q_top1_per_group",
      """SELECT p_brand, p_name, p_retailprice FROM (
        |  SELECT p_brand, p_name, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn = 1 ORDER BY p_brand""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("p_brand")
          .orderBy(desc("p_retailprice"), asc("p_partkey"))
        t(s, dir, "part")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("p_brand", "p_name", "p_retailprice")
          .orderBy("p_brand")
    },

    // C27 (max_by form) — the same top-1 via arg_max, the aggregation-only
    // rewrite used by genre_metrics (no window, one shuffle). DuckDB 1.0's
    // arg_max takes only scalar ordering keys, so the (price, partkey)
    // tiebreak is encoded as one exact double: price*1e7 + partkey stays
    // under 2^53 at every sf, and both engines compute it identically.
    Q("q_argmax_per_group",
      """SELECT p_brand,
        |       arg_max(p_name, p_retailprice * 10000000 + p_partkey) AS top_part
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) {
      (s, dir) =>
        t(s, dir, "part")
          .groupBy("p_brand")
          .agg(max_by(col("p_name"),
            col("p_retailprice") * 10000000 + col("p_partkey")).as("top_part"))
          .orderBy("p_brand")
    },

    // D28 — group-by + sum/avg over casts (TPC-H Q1 shape; map-side partial
    // aggregation then one shuffle on the tiny group key).
    Q("q_agg_avg_cast",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round4(sum("l_quantity")).as("sum_qty"),
          round4(avg("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // D29 — group-by max (order-insensitive, no rounding needed).
    Q("q_agg_group_max",
      """SELECT l_partkey, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(max("l_extendedprice").as("max_price"))
          .orderBy("l_partkey")
    },

    // D30 — group-by avg + count (mart/genre_metrics.sql:62-65 shape).
    Q("q_agg_avg_count",
      """SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal,
        |       count(c_custkey) AS cust_cnt
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(round4(avg("c_acctbal")).as("avg_bal"),
            count("c_custkey").as("cust_cnt"))
          .orderBy("c_mktsegment")
    },

    // D31 — global scalar max, no GROUP BY (single-row output).
    Q("q_agg_global_max",
      """SELECT max(o_totalprice) AS max_price,
        |       max(o_orderdate) AS max_date FROM orders""".stripMargin) {
      (s, dir) =>
        t(s, dir, "orders")
          .agg(max("o_totalprice").as("max_price"),
            max("o_orderdate").as("max_date"))
    },

    // D32 — "two most recent snapshots" (mart/rating_slide.sql:23):
    // dense_rank ≤ 2 over distinct dates, then semi join back.
    Q("q_second_latest",
      """WITH d AS (SELECT DISTINCT o_orderdate FROM orders),
        |     r AS (SELECT o_orderdate,
        |                  dense_rank() OVER (ORDER BY o_orderdate DESC) AS rk
        |           FROM d)
        |SELECT o.o_orderdate, count(*) AS order_cnt
        |FROM orders o JOIN r ON o.o_orderdate = r.o_orderdate
        |WHERE r.rk <= 2 GROUP BY o.o_orderdate
        |ORDER BY o.o_orderdate""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      // Distinct dates are few; orderBy+limit replaces the single-partition
      // dense_rank window (same result, no 1-task window at scale).
      val latest2 = o.select("o_orderdate").distinct()
        .orderBy(desc("o_orderdate")).limit(2)
      o.join(broadcast(latest2), Seq("o_orderdate"), "left_semi")
        .groupBy("o_orderdate")
        .agg(count(lit(1)).as("order_cnt"))
        .orderBy("o_orderdate")
    },

    // D33 — ordered string aggregation of a group (string_agg analog,
    // ddl.py:454 — data-plane form).
    Q("q_string_agg",
      """SELECT r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ", ")
          .as("nations"))
        .orderBy("r_name")
    },

    // D34 — DISTINCT dedup (pervasive in the reference's core scripts).
    Q("q_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // E35 — global leaderboard rank. The reference's empty-PARTITION
    // row_number funnels all rows through one task; GlobalRank computes the
    // identical numbering via range-repartition + zipWithIndex (SURVEY §4.4).
    Q("q_window_rank",
      """SELECT o_custkey, spend,
        |       row_number() OVER (ORDER BY spend DESC, o_custkey) AS place
        |FROM (SELECT o_custkey, round(sum(o_totalprice), 4) AS spend
        |      FROM orders GROUP BY o_custkey)
        |ORDER BY place""".stripMargin) { (s, dir) =>
      val spend = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(round4(sum("o_totalprice")).as("spend"))
      GlobalRank.withRowNumber(spend, "place",
          Seq(desc("spend"), asc("o_custkey")))
        .withColumn("place", col("place").cast(LongType))
        .orderBy("place")
    },

    // F36/F37 — global ORDER BY DESC + LIMIT top-k (range-partitioned sort;
    // Spark plans limit as TakeOrderedAndProject — no full sort at scale).
    Q("q_orderby_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, dir) =>
        t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(100)
    },

    // G38 — deduplicating UNION (PG UNION semantics = union + distinct,
    // positional columns).
    Q("q_union_dedup",
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nk"))
          .union(t(s, dir, "supplier").select(col("s_nationkey")))
          .distinct()
          .orderBy("nk")
    },

    // G39 — UNION ALL (dedup deferred, core/genre_hub.sql:13 pattern).
    Q("q_union_all",
      """SELECT c_nationkey AS nk FROM customer
        |UNION ALL SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nk"))
          .union(t(s, dir, "supplier").select(col("s_nationkey")))
          .orderBy("nk")
    },

    // Beyond-reference breadth: distinct aggregation (two-phase plan:
    // partial distinct per partition, then exchange on the group key).
    Q("q_agg_distinct_count",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("distinct_parts"))
          .orderBy("l_returnflag")
    },

    // ROLLUP hierarchy totals. Subtotal rows carry NULLs — normalized with
    // coalesce sentinels for a total cross-engine sort order. The oracle
    // text is ANSI and runs verbatim through spark.sql (the SQL entry
    // path; the DataFrame rollup API trips Spark's ambiguous-self-join
    // analyzer when grouping columns flow out of a join).
    {
      val rollupSql =
        """SELECT coalesce(r_name, '(all)') AS region,
          |       coalesce(n_name, '(all)') AS nation,
          |       count(*) AS cust_cnt
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY region, nation""".stripMargin
      Q("q_agg_rollup", rollupSql) { (s, dir) =>
        graft.engine.Tables.registerAll(s, dir)
        s.sql(rollupSql)
      }
    },

    // CUBE over two dimensions (all grouping-set combinations).
    Q("q_agg_cube",
      """SELECT coalesce(l_returnflag, '(all)') AS rflag,
        |       coalesce(l_linestatus, '(all)') AS lstatus,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round4(sum("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("sum_qty"))
        .orderBy("rflag", "lstatus")
    },

    // Explicit GROUPING SETS (beyond cube/rollup): disjoint per-dimension
    // rollups in one aggregation pass. Expressed through the SQL surface
    // (Tables.registerAll makes oracle text valid Spark SQL); nulls from
    // non-member dimensions coalesce like the cube gate.
    Q("q_agg_groupsets",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       count(*) AS cnt, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT coalesce(o_orderstatus, '(all)') AS status,
          |       coalesce(o_orderpriority, '(all)') AS priority,
          |       count(*) AS cnt, sum(o_totalprice) AS total_raw
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |""".stripMargin)
        .select(col("status"), col("priority"), col("cnt"),
          graft.functions.Rounding.round4(col("total_raw")).as("total"))
        .orderBy("status", "priority")
    },

    // Histogram bucketing: fixed 50k-wide bins, clamped top bin — the
    // distribution-profiling pass. The bin expression is the SAME
    // explicit arithmetic on both sides (a width_bucket builtin would
    // pin each engine's internal float association at bin boundaries).
    Q("q_agg_histogram",
      """SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 10)
        |         AS bucket,
        |       count(*) AS n,
        |       round(min(o_totalprice), 4) AS lo,
        |       round(max(o_totalprice), 4) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(least(floor(col("o_totalprice") / 50000).cast(LongType),
          lit(10L)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Rounding.round4(min("o_totalprice")).as("lo"),
          graft.functions.Rounding.round4(max("o_totalprice")).as("hi"))
        .orderBy("bucket")
    },

    // Table reconciliation (Validate.bucketChecksums): 16 bucket
    // checksums summarize the orders table for cross-system comparison —
    // the oracle recomputes them in DuckDB, so the gate literally IS the
    // cross-engine reconciliation it implements.
    Q("q_table_checksum",
      """WITH h AS (
        |  SELECT o_orderkey % 16 AS bucket,
        |         CAST(list_reduce(list_transform(range(1, 12),
        |           i -> CAST(strpos('0123456789abcdef',
        |                  substr(md5(concat_ws('|',
        |                    CAST(o_orderkey AS VARCHAR), o_orderstatus,
        |                    o_orderpriority)), CAST(i AS INT), 1)) - 1
        |                AS BIGINT)),
        |           (a, b) -> a * 16 + b) AS BIGINT) AS rh
        |  FROM orders)
        |SELECT bucket, count(*) AS n,
        |       CAST(sum(rh) % 2305843009213693951 AS BIGINT) AS checksum
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      import graft.operators.Validate
      Validate.bucketChecksums(t(s, dir, "orders"),
          col("o_orderkey"), 16,
          Seq(col("o_orderkey").cast("string"), col("o_orderstatus"),
            col("o_orderpriority")))
        .orderBy("bucket")
    },

    // LATERAL correlated subquery in FROM: per-region top-2 nations by
    // key — the iterate-per-row SQL surface (Catalyst decorrelates it
    // into a ranked join; same engine path as C27's rewrite).
    Q("q_join_lateral",
      """SELECT r.r_name, t.n_name
        |FROM region r, LATERAL (
        |  SELECT n_name FROM nation n
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY n_name LIMIT 2) t
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "region").createOrReplaceTempView("region")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """SELECT r.r_name, t.n_name
          |FROM region r, LATERAL (
          |  SELECT n_name FROM nation n
          |  WHERE n.n_regionkey = r.r_regionkey
          |  ORDER BY n_name LIMIT 2) t""".stripMargin)
        .orderBy("r_name", "n_name")
    },

    // UNION BY NAME: positional-mismatch-proof unions (schema evolution
    // across sources — columns align by name, not position).
    Q("q_union_by_name",
      """SELECT c_custkey AS id, c_name AS name FROM customer
        |WHERE c_custkey <= 100
        |UNION ALL BY NAME
        |SELECT s_name AS name, s_suppkey + 1000000 AS id FROM supplier
        |ORDER BY id""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").where(col("c_custkey") <= 100)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val b = t(s, dir, "supplier")
        .select(col("s_name").as("name"),
          (col("s_suppkey") + 1000000).as("id"))
      a.unionByName(b).orderBy("id")
    },

    // try_ arithmetic: division by planted zeros yields NULL instead of
    // an ANSI error — the error-tolerant ingest surface next to try_cast.
    Q("q_expr_try_divide",
      """SELECT o_orderkey,
        |       round(CASE WHEN o_orderkey % 50 = 0 THEN NULL
        |                  ELSE o_totalprice / (o_orderkey % 50) END, 4)
        |         AS per_unit
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.functions.Rounding.round4(
            try_divide(col("o_totalprice"),
              pmod(col("o_orderkey"), lit(50)).cast("double")))
            .as("per_unit"))
        .orderBy("o_orderkey")
    },

    // Aggregate FILTER clause — per-aggregate predicates in one pass
    // (the conditional-aggregation surface q_pivot expresses with
    // sum(CASE...)); exercised through the Spark SQL parser so the SQL
    // surface itself is gated.
    Q("q_agg_filter",
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |       round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000),
        |             4) AS big_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority,
          |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
          |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
          |       sum(o_totalprice) FILTER (WHERE o_totalprice > 100000)
          |         AS big_raw
          |FROM orders GROUP BY o_orderpriority""".stripMargin)
        .select(col("o_orderpriority"), col("n_open"), col("n_finished"),
          graft.functions.Rounding.round4(col("big_raw")).as("big_total"))
        .orderBy("o_orderpriority")
    },

    // Struct (nested record) columns: construction, field access, and
    // struct comparison driving a join-free lookup; scalars extracted for
    // the comparator.
    Q("q_expr_struct",
      """SELECT c_custkey,
        |       {'nation': c_nationkey, 'seg': c_mktsegment}.seg AS seg_out,
        |       ({'a': c_nationkey} = {'a': 3}) AS is_n3
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          struct(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("seg")).getField("seg").as("seg_out"),
          (struct(col("c_nationkey").as("a")) ===
            struct(lit(3).cast(IntegerType).as("a"))).as("is_n3"))
        .orderBy("c_custkey")
    },

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): rows with a
    // null key still match the null dimension row — a plain `=` would
    // silently drop one segment's worth of customers, so row count
    // discriminates the semantics.
    Q("q_join_nullsafe",
      """WITH a AS (SELECT c_custkey,
        |                  nullif(c_mktsegment, 'BUILDING') AS seg
        |           FROM customer),
        |d AS (SELECT DISTINCT seg FROM a)
        |SELECT a.c_custkey, a.seg
        |FROM a JOIN d ON a.seg IS NOT DISTINCT FROM d.seg
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val d = a.select(col("seg").as("dseg")).distinct()
      a.join(d, col("seg") <=> col("dseg"))
        .select("c_custkey", "seg")
        .orderBy("c_custkey")
    },

    // IGNORE NULLS window navigation: last non-null status seen per
    // customer in order-date order — gap-filling over sparse columns,
    // the forward-fill primitive.
    Q("q_window_ignore_nulls",
      """SELECT o_orderkey,
        |       last_value(nullif(o_orderstatus, 'P') IGNORE NULLS) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_seen
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          last(nullif(col("o_orderstatus"), lit("P")), ignoreNulls = true)
            .over(w).as("last_seen"))
        .orderBy("o_orderkey")
    },

    // Declarative data-quality validation (operators.Validate — the
    // engine-side form of the reference's meta.etl_col constraint
    // registry): four row-level expectations in ONE aggregation pass plus
    // a key-uniqueness check; two rules have planted violations so the
    // gate discriminates counts, not just zeros.
    Q("q_quality_checks",
      """SELECT 'date_modern' AS rule,
        |       count(*) FILTER (WHERE NOT o_orderdate >= TIMESTAMP '1996-01-01')
        |         AS violations FROM orders
        |UNION ALL
        |SELECT 'orderkey_unique',
        |       count(*) FILTER (WHERE o_orderkey IS NOT NULL)
        |       - count(DISTINCT o_orderkey)
        |       + count(*) FILTER (WHERE o_orderkey IS NULL) FROM orders
        |UNION ALL
        |SELECT 'status_known',
        |       count(*) FILTER (WHERE NOT o_orderstatus IN ('O','F','P'))
        |  FROM orders
        |UNION ALL
        |SELECT 'status_not_null',
        |       count(*) FILTER (WHERE nullif(o_orderstatus, 'P') IS NULL)
        |  FROM orders
        |UNION ALL
        |SELECT 'totalprice_positive',
        |       count(*) FILTER (WHERE NOT o_totalprice > 0) FROM orders
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      import graft.operators.Validate
      val o = t(s, dir, "orders")
      Validate.report(o, Seq(
          "date_modern" -> (col("o_orderdate") >= lit("1996-01-01").cast("timestamp")),
          "status_known" -> col("o_orderstatus").isin("O", "F", "P"),
          "status_not_null" -> nullif(col("o_orderstatus"), lit("P")).isNotNull,
          "totalprice_positive" -> (col("o_totalprice") > 0)))
        .union(Validate.uniqueness(o, "orderkey_unique", Seq("o_orderkey")))
        .orderBy("rule")
    },

    // Null-ordering semantics: ASC NULLS FIRST + LIMIT makes null
    // placement decide row MEMBERSHIP (the comparator sorts rows, so bare
    // ORDER BY can't distinguish null policies — top-k can; PG ranks
    // NULLS FIRST on DESC, engines differ by default, hence explicit).
    Q("q_orderby_nulls",
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status
        |FROM orders
        |ORDER BY status ASC NULLS FIRST, o_orderkey LIMIT 200""".stripMargin) {
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            nullif(col("o_orderstatus"), lit("P")).as("status"))
          .orderBy(col("status").asc_nulls_first, col("o_orderkey"))
          .limit(200)
    },

    // Cross join (explicit cartesian) — bounded dimension × dimension
    // enumeration, the one join shape where an O(n·m) plan is the point.
    Q("q_join_cross",
      """SELECT n.n_name, r.r_name
        |FROM nation n CROSS JOIN region r
        |ORDER BY n_name, r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "nation").select("n_name")
        .crossJoin(t(s, dir, "region").select("r_name"))
        .orderBy("n_name", "r_name")
    },

    // Fuzzy entity-matching join (operators.FuzzyJoin): edit-distance ≤ 1
    // with prefix+suffix equi-join blocking — the conflation the reference
    // does by exact movie_name equality, made typo-tolerant without an
    // n² levenshtein. Planted single-edit variants (prefix edit caught by
    // the suffix block, suffix edit by the prefix block) of customer
    // names; the oracle replays blocking + verify exactly.
    Q("q_join_fuzzy",
      """WITH l AS (SELECT c_custkey AS id, lower(c_name) AS key
        |           FROM customer WHERE c_custkey < 200),
        |r AS (SELECT c_custkey + 1000000 AS id,
        |             lower(CASE WHEN c_custkey % 2 = 0
        |               THEN 'X' || substring(c_name, 2)
        |               ELSE substring(c_name, 1, length(c_name) - 1) || 'X'
        |             END) AS key
        |      FROM customer WHERE c_custkey < 50),
        |cand AS (
        |  SELECT l.id AS l_id, l.key AS l_key, r.id AS r_id, r.key AS r_key
        |  FROM l JOIN r ON substring(l.key, 1, 4) = substring(r.key, 1, 4)
        |  UNION
        |  SELECT l.id, l.key, r.id, r.key
        |  FROM l JOIN r
        |    ON substring(l.key, length(l.key) - 3, 4)
        |     = substring(r.key, length(r.key) - 3, 4))
        |SELECT l_id, r_id, CAST(levenshtein(l_key, r_key) AS INT) AS dist
        |FROM cand WHERE levenshtein(l_key, r_key) <= 1
        |ORDER BY l_id, r_id""".stripMargin) { (s, dir) =>
      import graft.operators.FuzzyJoin
      val cust = t(s, dir, "customer")
      val left = cust.where(col("c_custkey") < 200)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val right = cust.where(col("c_custkey") < 50)
        .select((col("c_custkey") + 1000000).as("id"),
          when(col("c_custkey") % 2 === 0,
            concat(lit("X"), expr("substring(c_name, 2)")))
            .otherwise(concat(
              expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")))
            .as("name"))
      FuzzyJoin.byEditDistance(left, right, "id", "name", "id", "name",
          maxDist = 1, blockLen = 4)
        .orderBy("l_id", "r_id")
    },

    // Sorted-neighborhood record linkage (FuzzyJoin.sortedNeighborhood,
    // Hernández & Stolfo merge/purge): customers plus planted one-edit
    // twins sort adjacently by name; each record candidate-pairs with
    // only its next 3 neighbors in the global sort order — O(n·w)
    // candidates via GlobalRank's range exchange, never a window over one
    // task, never a cross product — and levenshtein prunes to true
    // near-matches. The oracle replays the identical sort (total order on
    // (key, id)) with a rank band join.
    Q("q_linkage_snm",
      """WITH base AS (SELECT c_custkey AS id, lower(c_name) AS key
        |              FROM customer),
        |pert AS (SELECT c_custkey + 1000000 AS id,
        |                lower(substring(c_name, 1, length(c_name) - 1)
        |                      || 'x') AS key
        |         FROM customer WHERE c_custkey < 50),
        |recs AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |r AS (SELECT id, key,
        |             row_number() OVER (ORDER BY key, id) AS rn
        |      FROM recs)
        |SELECT a.id AS id1, b.id AS id2,
        |       CAST(levenshtein(a.key, b.key) AS INT) AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
        |WHERE levenshtein(a.key, b.key) <= 1
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      import graft.operators.FuzzyJoin
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey").as("rid"),
        col("c_name").as("name"))
      val pert = cust.where(col("c_custkey") < 50)
        .select((col("c_custkey") + 1000000).as("rid"),
          concat(expr("substring(c_name, 1, length(c_name) - 1)"),
            lit("x")).as("name"))
      FuzzyJoin.sortedNeighborhood(base.unionByName(pert), "rid", "name",
          window = 3, maxDist = 1)
        .orderBy("id1", "id2")
    },

    // Entity-resolution capstone (composition): the full conflation
    // pipeline a warehouse runs to merge records across sources —
    // blocked fuzzy candidate generation (FuzzyJoin.byEditDistance,
    // never n²), levenshtein verify, transitive closure over match
    // pairs (ConnectedComponents), canonical id + cluster size per
    // record (singletons stay their own canonical). The oracle replays
    // every stage independently: the same blocking, DuckDB's native
    // levenshtein, and a recursive-CTE closure — so Spark's blocking,
    // verify, AND label propagation must all agree row for row.
    Q("q_entity_resolution",
      """WITH RECURSIVE
        |l AS (SELECT c_custkey AS id, lower(c_name) AS key
        |      FROM customer WHERE c_custkey < 200),
        |r AS (SELECT c_custkey + 1000000 AS id,
        |             lower(CASE WHEN c_custkey % 2 = 0
        |               THEN 'X' || substring(c_name, 2)
        |               ELSE substring(c_name, 1, length(c_name) - 1) || 'X'
        |             END) AS key
        |      FROM customer WHERE c_custkey < 50),
        |all_rec AS (SELECT id FROM l UNION ALL SELECT id FROM r),
        |cand AS (
        |  SELECT l.id AS l_id, l.key AS l_key, r.id AS r_id, r.key AS r_key
        |  FROM l JOIN r ON substring(l.key, 1, 4) = substring(r.key, 1, 4)
        |  UNION
        |  SELECT l.id, l.key, r.id, r.key
        |  FROM l JOIN r
        |    ON substring(l.key, length(l.key) - 3, 4)
        |     = substring(r.key, length(r.key) - 3, 4)),
        |pairs AS (SELECT l_id AS a, r_id AS b FROM cand
        |          WHERE levenshtein(l_key, r_key) <= 1),
        |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, rt) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.b, reach.rt FROM reach JOIN sym s ON s.a = reach.id),
        |lab AS (SELECT id, min(rt) AS canonical FROM reach GROUP BY id),
        |rec AS (SELECT ar.id, coalesce(lab.canonical, ar.id) AS canonical
        |        FROM all_rec ar LEFT JOIN lab USING (id)),
        |siz AS (SELECT canonical, count(*) AS cluster_size
        |        FROM rec GROUP BY canonical)
        |SELECT rec.id, rec.canonical,
        |       CAST(siz.cluster_size AS BIGINT) AS cluster_size
        |FROM rec JOIN siz USING (canonical)
        |ORDER BY rec.id""".stripMargin) { (s, dir) =>
      import graft.operators.{ConnectedComponents, FuzzyJoin, OperatorCaches}
      val cust = t(s, dir, "customer")
      // staged: the two filtered record sets are re-read by every fuzzy
      // blocking branch, the closure's symmetric union, AND the final
      // all-records frame — ~10 table scans without the cache, 1 with
      // (the r9 plan audit's 10 s was repeated parquet scans, not CC)
      val left = OperatorCaches.cache(cust.where(col("c_custkey") < 200)
        .select(col("c_custkey").as("id"), col("c_name").as("name")))
      val right = OperatorCaches.cache(cust.where(col("c_custkey") < 50)
        .select((col("c_custkey") + 1000000).as("id"),
          when(col("c_custkey") % 2 === 0,
            concat(lit("X"), expr("substring(c_name, 2)")))
            .otherwise(concat(
              expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")))
            .as("name")))
      // staged: the closure probes/validates/propagates over the edge
      // set several times — materialize the (tiny) match pairs once
      // instead of re-running the blocked fuzzy chain per action
      val pairs = OperatorCaches.cache(
        FuzzyJoin.byEditDistance(left, right, "id", "name",
            "id", "name", maxDist = 1, blockLen = 4)
          .select(col("l_id").as("id1"), col("r_id").as("id2")))
      val labels = ConnectedComponents.canonicalize(pairs)
      val allRec = left.select("id").unionByName(right.select("id"))
      val rec = allRec.join(labels, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("canonical"), col("id")).as("canonical"))
      // cluster size via a window on the canonical key: one pass over
      // rec instead of a groupBy + join re-derivation of the whole
      // upstream (clusters are tiny, so the per-key window is bounded;
      // measured ~3 s off the gate's fixed cost at local[4])
      rec.withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("canonical")))
        .select("id", "canonical", "cluster_size")
        .orderBy("id")
    },

    // Recursive CTE parity (Spark 4's WITH RECURSIVE): a forest derived
    // from orderkeys (parent = k div 7, roots = nodes whose parent is
    // absent), walked root-down with depth and root carried, then rolled
    // up per (root, depth). BOTH engines execute the same recursive SQL
    // — Spark through spark.sql (Catalyst's UnionLoop), DuckDB natively
    // — so the gate pins the engine's recursion semantics (iterate to
    // fixpoint, UNION ALL accumulation), not an operator re-expression.
    // All arithmetic integer; the hierarchy-explosion guard is
    // structural (a forest: each node has one parent, termination by
    // construction).
    Q("q_recursive_tree", {
      def text(intDiv: String) =
        s"""WITH RECURSIVE
           |nodes AS (SELECT DISTINCT o_orderkey AS k FROM orders
           |          WHERE o_orderkey >= 1 AND o_orderkey < 2000),
           |tree(k, depth, root) AS (
           |  SELECT k, 0 AS depth, k AS root FROM nodes n
           |  WHERE NOT EXISTS (SELECT 1 FROM nodes p
           |                    WHERE p.k = n.k $intDiv 7)
           |  UNION ALL
           |  SELECT c.k, t.depth + 1, t.root
           |  FROM tree t JOIN nodes c ON c.k $intDiv 7 = t.k)
           |SELECT root, depth, count(*) AS n,
           |       CAST(sum(k) AS BIGINT) AS sum_k
           |FROM tree GROUP BY root, depth ORDER BY root, depth""".stripMargin
      text("//")
    }) { (s, dir) =>
      graft.engine.Tables.t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH RECURSIVE
          |nodes AS (SELECT DISTINCT o_orderkey AS k FROM orders
          |          WHERE o_orderkey >= 1 AND o_orderkey < 2000),
          |tree(k, depth, root) AS (
          |  SELECT k, 0 AS depth, k AS root FROM nodes n
          |  WHERE NOT EXISTS (SELECT 1 FROM nodes p
          |                    WHERE p.k = n.k div 7)
          |  UNION ALL
          |  SELECT c.k, t.depth + 1, t.root
          |  FROM tree t JOIN nodes c ON c.k div 7 = t.k)
          |SELECT root, depth, count(*) AS n,
          |       CAST(sum(k) AS BIGINT) AS sum_k
          |FROM tree GROUP BY root, depth ORDER BY root, depth""".stripMargin)
    },

    // Incremental aggregation by partial-state merge: daily partials
    // (count, sum) roll up to monthly figures WITHOUT rescanning the
    // facts, and the derived avg comes from the merged states — the
    // incremental-view-maintenance shape (only changed days recompute at
    // 100 TB). The oracle computes the month directly from the facts, so
    // the gate proves merge(partials) == direct.
    Q("q_agg_incremental",
      """SELECT o_orderpriority,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |       count(*) AS cnt,
        |       round(sum(o_totalprice), 4) AS total,
        |       round(round(sum(o_totalprice), 4) / count(*), 4) AS avg_price
        |FROM orders GROUP BY 1, 2 ORDER BY o_orderpriority, mo""".stripMargin) {
      (s, dir) =>
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderpriority"),
            date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("d_cnt"), sum("o_totalprice").as("d_sum"))
        daily
          .groupBy(col("o_orderpriority"),
            date_trunc("month", col("day")).cast(DateType).as("mo"))
          .agg(sum("d_cnt").as("cnt"), sum("d_sum").as("raw_total"))
          // avg derives from the ROUNDED total: the raw sums differ in low
          // bits across engines (different partial-merge order), and a
          // quotient landing on a scale-4 half (e.g. x.38125) would round
          // apart; the rounded total is bit-identical on both sides
          .select(col("o_orderpriority"), col("mo"), col("cnt"),
            graft.functions.Rounding.round4(col("raw_total")).as("total"),
            graft.functions.Rounding
              .round4(graft.functions.Rounding.round4(col("raw_total"))
                / col("cnt"))
              .as("avg_price"))
          .orderBy("o_orderpriority", "mo")
    },

    // Correlated EXISTS / NOT EXISTS through the SQL surface (Catalyst
    // rewrites them to left-semi / left-anti joins — asserted by
    // PlanShapeSpec): customers with at least one big-ticket order and no
    // finished orders.
    Q("q_filter_exists",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F')
          |""".stripMargin)
        .orderBy("c_custkey")
    },

    // Distributed quantiles: exact interpolated percentiles (single
    // aggregation pass, oracle-matched) PLUS the approx_percentile sketch
    // (t-digest-style, engine-specific internals) self-gated by a
    // within-5% flag the oracle pins to TRUE — the q_agg_approx_distinct
    // pattern applied to quantile sketches.
    Q("q_agg_quantiles",
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |       TRUE AS approx_ok
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("ep50"),
          expr("percentile(o_totalprice, 0.95)").as("ep95"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
          expr("approx_percentile(o_totalprice, 0.95, 1000)").as("ap95"))
        .select(col("o_orderpriority"),
          graft.functions.Rounding.round4(col("ep50")).as("p50"),
          graft.functions.Rounding.round4(col("ep95")).as("p95"),
          (abs(col("ap50") - col("ep50")) / col("ep50") <= 0.05 &&
            abs(col("ap95") - col("ep95")) / col("ep95") <= 0.05)
            .as("approx_ok"))
        .orderBy("o_orderpriority")
    },

    // Rank-statistics window family: dense_rank / percent_rank / cume_dist
    // over a total per-partition order (unique tiebreak → deterministic
    // fractions; rounded for cross-engine doubles).
    Q("q_window_rank_stats",
      """SELECT l_returnflag, l_orderkey, l_linenumber,
        |       dense_rank() OVER w AS drk,
        |       round(percent_rank() OVER w, 4) AS prk,
        |       round(cume_dist() OVER w, 4) AS cd
        |FROM lineitem WHERE l_orderkey < 100
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_returnflag")
          .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        t(s, dir, "lineitem").where(col("l_orderkey") < 100)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            dense_rank().over(w).cast(LongType).as("drk"),
            graft.functions.Rounding.round4(percent_rank().over(w)).as("prk"),
            graft.functions.Rounding.round4(cume_dist().over(w)).as("cd"))
          .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },

    // Sketch aggregation: HyperLogLog++ distinct estimate. Estimator
    // internals differ per engine, so the estimate itself can't be
    // hash-compared — instead the query EMITS its own accuracy contract:
    // the exact per-group count (oracle-checkable) plus a within-5%
    // boolean the oracle pins to TRUE. If the sketch ever drifts past its
    // rsd bound, the flag flips and the driver's hash compare fails —
    // a real gate, not rows-only.
    Q("q_agg_approx_distinct",
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        // tolerance = 8% = 4 sigma of the requested rsd (0.02): wide enough
        // that the deterministic HLL++ estimate cannot flip the flag on an
        // unvalidated scale factor (observed error is ~1% at sf0.001-0.1),
        // tight enough that real estimator drift still fails the gate
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("exact_parts"),
            approx_count_distinct("l_partkey", 0.02).as("approx_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")) <=
              col("exact_parts") * 0.08).as("within_tol"))
          .orderBy("l_returnflag")
    },

    // INTERSECT / EXCEPT set operations (absent from the reference;
    // completes the set-op family). EXCEPT compares customers with urgent
    // orders against those with low-priority orders — a difference that is
    // non-empty at every sf (17/188/1759 rows), so the gate discriminates;
    // the natural key differences (customer∖orders etc.) are all vacuously
    // empty in this synthetic data.
    Q("q_set_except",
      """SELECT o_custkey AS ck FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY ck""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("ck"))
        .except(o.where(col("o_orderpriority") === "5-LOW")
          .select(col("o_custkey")))
        .orderBy("ck")
    },
    Q("q_set_intersect",
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) {
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nk"))
          .intersect(t(s, dir, "supplier").select(col("s_nationkey")))
          .orderBy("nk")
    },

    // Frequent co-occurring pairs (market-basket): part pairs appearing
    // together in ≥ 3 orders, with support counts. The pair explosion is
    // a per-basket self-join on the order key — bounded by basket size
    // (≤ 7 lineitems per TPC-H order ⇒ ≤ 21 pairs), the same
    // bounded-blowup discipline as the LSH bucket cap: at 100 TB the
    // candidate volume is Σ C(basket,2), never corpus², and a pipeline
    // caps pathological baskets before this step. One shuffle on the
    // basket key, one on the pair.
    Q("q_basket_pairs",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
        |               FROM lineitem),
        |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |          FROM items a JOIN items b
        |            ON a.l_orderkey = b.l_orderkey
        |           AND a.l_partkey < b.l_partkey)
        |SELECT p1, p2, count(*) AS support
        |FROM pairs GROUP BY p1, p2 HAVING count(*) >= 3
        |ORDER BY p1, p2""".stripMargin) { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      val a = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = items.select(col("l_orderkey"), col("l_partkey").as("p2"))
      a.join(b, Seq("l_orderkey")).where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        .where(col("support") >= 3)
        .orderBy("p1", "p2")
    },

    // MULTISET set ops (ALL variants): bag semantics preserve
    // multiplicity — EXCEPT ALL keeps max(a−b, 0) copies per key,
    // INTERSECT ALL keeps min(a, b) — the correct accounting when rows
    // are events, not members. The aggregated rollup pins the per-key
    // copy counts exactly (a raw dump would hash-match trivially on any
    // multiplicity bug that preserves the key set).
    Q("q_set_ops_all",
      """WITH ex AS (SELECT o_custkey AS ck FROM orders
        |            WHERE o_orderpriority = '1-URGENT'
        |            EXCEPT ALL
        |            SELECT o_custkey FROM orders
        |            WHERE o_orderpriority = '5-LOW'),
        |ix AS (SELECT o_custkey AS ck FROM orders
        |       WHERE o_orderpriority = '1-URGENT'
        |       INTERSECT ALL
        |       SELECT o_custkey FROM orders
        |       WHERE o_orderpriority = '5-LOW')
        |SELECT 'except_all' AS op, count(*) AS n_rows,
        |       count(DISTINCT ck) AS n_keys FROM ex
        |UNION ALL
        |SELECT 'intersect_all', count(*), count(DISTINCT ck) FROM ix
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val urgent = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("ck"))
      val low = o.where(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey").as("ck"))
      val ex = urgent.exceptAll(low)
        .agg(count(lit(1)).as("n_rows"), countDistinct("ck").as("n_keys"))
        .select(lit("except_all").as("op"), col("n_rows"), col("n_keys"))
      val ix = urgent.intersectAll(low)
        .agg(count(lit(1)).as("n_rows"), countDistinct("ck").as("n_keys"))
        .select(lit("intersect_all").as("op"), col("n_rows"), col("n_keys"))
      ex.unionByName(ix).orderBy("op")
    },

    // UNPIVOT (wide → long): the inverse of q_pivot, oracled via the
    // union-all expansion (identical semantics; DuckDB's UNPIVOT reorders
    // output, the explicit form doesn't).
    Q("q_unpivot",
      """SELECT c_custkey, metric, val FROM (
        |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE)
        |  FROM customer)
        |ORDER BY c_custkey, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast(DoubleType))
        .unpivot(Array(col("c_custkey")),
          Array(col("c_acctbal").as("acctbal"),
            col("c_nationkey").as("nationkey")),
          "metric", "val")
        .orderBy("c_custkey", "metric")
    },

    // Calendar functions: extract-year/month/day, day arithmetic, and day
    // difference (both engines' ANSI extract + date_diff semantics).
    Q("q_expr_datetime",
      """SELECT o_orderkey,
        |       CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        |       CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
        |       CAST(extract(day FROM o_orderdate) AS INTEGER) AS dy,
        |       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        |       date_diff('day', CAST(o_orderdate AS DATE),
        |                 DATE '2002-01-01') AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dy"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).cast(DateType)
            .as("due_date"),
          datediff(lit("2002-01-01").cast(DateType),
            col("o_orderdate").cast(DateType)).cast(LongType)
            .as("days_to_2002"))
        .orderBy("o_orderkey")
    },

    // Right-to-be-forgotten cascade: a hash-selected forget-set of
    // customers propagates through orders to lineitem by key containment,
    // and the gate certifies the surviving/deleted row counts per table.
    // Scale shape: the customer forget-set (~1/16 of a dimension)
    // broadcasts at any size, but the dropped-ORDER keyset scales with
    // the orders FACT table — at full scale it exceeds any broadcast
    // threshold and the lineitem hop becomes a shuffled semi-join on
    // l_orderkey (the broadcast here is a test-SF convenience, not the
    // 100 TB plan). The DELETE-WHERE rewrite A17/B17 applies the same
    // flags to rewrite files; this gate pins the blast-radius accounting.
    Q("q_delete_cascade",
      """WITH forget AS (
        |  SELECT c_custkey FROM customer
        |  WHERE instr('0123456789abcdef',
        |              substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1 = 0),
        |odrop AS (SELECT o_orderkey FROM orders
        |          WHERE o_custkey IN (SELECT c_custkey FROM forget)),
        |ldrop AS (SELECT l_orderkey FROM lineitem
        |          WHERE l_orderkey IN (SELECT o_orderkey FROM odrop))
        |SELECT * FROM (
        |  SELECT 'customer' AS tbl,
        |         (SELECT count(*) FROM customer)
        |           - (SELECT count(*) FROM forget) AS kept,
        |         (SELECT count(*) FROM forget) AS dropped
        |  UNION ALL
        |  SELECT 'lineitem',
        |         (SELECT count(*) FROM lineitem)
        |           - (SELECT count(*) FROM ldrop),
        |         (SELECT count(*) FROM ldrop)
        |  UNION ALL
        |  SELECT 'orders',
        |         (SELECT count(*) FROM orders)
        |           - (SELECT count(*) FROM odrop),
        |         (SELECT count(*) FROM odrop)
        |) ORDER BY tbl""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val forget = cust
        .where(expr("instr('0123456789abcdef', " +
          "substring(md5(CAST(c_custkey AS STRING)), 1, 1)) - 1") === 0)
        .select(col("c_custkey").as("k"))
      def audit(df: DataFrame, name: String, key: Column) = df
        .join(broadcast(forget.select(col("k"))), key === col("k"), "left")
        .agg((count(lit(1)) - count(col("k"))).as("kept"),
          count(col("k")).as("dropped"))
        .select(lit(name).as("tbl"), col("kept"), col("dropped"))
      val odropKeys = ord
        .join(broadcast(forget), col("o_custkey") === col("k"), "left_semi")
        .select(col("o_orderkey").as("ok"))
      def auditVia(df: DataFrame, name: String, key: Column) = df
        .join(broadcast(odropKeys), key === col("ok"), "left")
        .agg((count(lit(1)) - count(col("ok"))).as("kept"),
          count(col("ok")).as("dropped"))
        .select(lit(name).as("tbl"), col("kept"), col("dropped"))
      audit(cust, "customer", col("c_custkey"))
        .unionAll(auditVia(li, "lineitem", col("l_orderkey")))
        .unionAll(auditVia(ord, "orders", col("o_orderkey")))
        .orderBy("tbl")
    },
  )
}
