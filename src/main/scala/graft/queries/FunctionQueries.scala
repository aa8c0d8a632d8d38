package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Expressions._
import graft.engine.Tables.t
import graft.functions.Rounding.round4

/** Driver-gated queries covering the reference's scalar-function surface
  * (SURVEY.md §2 family H). All expressions are codegen'd built-ins — no
  * UDFs — so they fold into the scan's WholeStageCodegen span.
  */
object FunctionQueries {

  val all: Seq[Q] = Seq(

    // H42 — PG `||` concatenation with literals and implicit int→text cast
    // (mart/genre_metrics.sql:53 `movie_nm||', '||movie_duration||' min'`).
    Q("q_expr_concat",
      """SELECT p_partkey,
        |       p_name || ', ' || CAST(p_size AS VARCHAR) || ' size' AS label
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          pgConcat(col("p_name"), lit(", "), col("p_size"), lit(" size"))
            .as("label"))
        .orderBy("p_partkey")
    },

    // H43/H46/H47 — replace, CASE WHEN sentinel cleansing, coalesce
    // (mart/employee_data.sql:5-7 shape).
    Q("q_expr_cleanse",
      """SELECT doc_id,
        |       CASE WHEN lang = 'en' THEN ''
        |            ELSE replace(source, 'src', 'source-') END AS src_fix,
        |       coalesce(nullif(lang, 'en'), 'english') AS lang2
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("lang") === "en", lit(""))
            .otherwise(regexp_replace(col("source"), "src", "source-"))
            .as("src_fix"),
          coalesce(nullif(col("lang"), lit("en")), lit("english")).as("lang2"))
        .orderBy("doc_id")
    },

    // Math expression surface — restricted to IEEE-EXACT operations
    // (sqrt is correctly rounded by standard, abs/sign/mod/multiply are
    // exact), so no rounding tolerance is needed; transcendentals (exp,
    // pow) are deliberately excluded from hash gates (entropy's ln is the
    // one rounded exception). DuckDB sign() yields TINYINT while Spark
    // signum yields DOUBLE — the oracle casts to DOUBLE for hash parity.
    Q("q_expr_math",
      """SELECT o_orderkey,
        |       sqrt(o_totalprice) AS root,
        |       abs(o_totalprice - 200000) AS dist,
        |       CAST(sign(o_totalprice - 200000) AS DOUBLE) AS side,
        |       o_orderkey % 7 AS m7,
        |       o_totalprice * o_totalprice AS sq
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          sqrt(col("o_totalprice")).as("root"),
          abs(col("o_totalprice") - 200000).as("dist"),
          signum(col("o_totalprice") - 200000).as("side"),
          pmod(col("o_orderkey"), lit(7)).as("m7"),
          (col("o_totalprice") * col("o_totalprice")).as("sq"))
        .orderBy("o_orderkey")
    },

    // Bitwise expression surface: and/or/xor/shifts/negation — the key
    // manipulation layer under the sketch operators, gated directly.
    Q("q_expr_bitwise",
      """SELECT o_orderkey,
        |       o_orderkey & 255 AS lo,
        |       o_orderkey | 4096 AS with_flag,
        |       xor(o_orderkey, 21845) AS mixed,
        |       o_orderkey << 3 AS shl,
        |       o_orderkey >> 2 AS shr
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderkey").bitwiseAND(255).as("lo"),
          col("o_orderkey").bitwiseOR(4096).as("with_flag"),
          col("o_orderkey").bitwiseXOR(21845).as("mixed"),
          shiftleft(col("o_orderkey"), 3).as("shl"),
          shiftright(col("o_orderkey"), 2).as("shr"))
        .orderBy("o_orderkey")
    },

    // String padding/repetition/reversal — fixed-width formatting layer.
    Q("q_expr_pad",
      """SELECT p_partkey,
        |       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_id,
        |       rpad(p_brand, 12, '.') AS brand_cell,
        |       repeat('-', CAST(p_size % 8 AS INT)) AS bar,
        |       reverse(p_name) AS rev_name
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          lpad(col("p_partkey").cast("string"), 10, "0").as("padded_id"),
          rpad(col("p_brand"), 12, ".").as("brand_cell"),
          repeat(lit("-"), pmod(col("p_size"), lit(8)).cast("int")).as("bar"),
          reverse(col("p_name")).as("rev_name"))
        .orderBy("p_partkey")
    },

    // greatest/least (Spark side exercises its null-skipping greatest via
    // an explicit NULL operand) and bool_and/bool_or aggregates per group.
    // The ORACLE deliberately avoids least/greatest-with-NULL: DuckDB's
    // NULL handling for those functions is version-dependent (the r7
    // driver-mismatch class), so the null-skipping comparison is spelled
    // as a CASE over the two non-null operands — identical result in
    // every engine version.
    Q("q_agg_bool",
      """SELECT l_returnflag,
        |       bool_and(l_quantity > 0) AS all_positive,
        |       bool_or(l_discount > 0.09) AS any_big_discount,
        |       max(CASE WHEN l_quantity >= l_discount * 100 THEN l_quantity
        |                ELSE l_discount * 100 END) AS gmax,
        |       min(least(l_quantity, l_extendedprice)) AS lmin
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(bool_and(col("l_quantity") > 0).as("all_positive"),
            bool_or(col("l_discount") > 0.09).as("any_big_discount"),
            max(greatest(col("l_quantity"), lit(null).cast(DoubleType),
              col("l_discount") * 100)).as("gmax"),
            min(least(col("l_quantity"), col("l_extendedprice"))).as("lmin"))
          .orderBy("l_returnflag")
    },

    // explode_outer: rows whose array is empty survive with a null
    // element (plain explode silently drops them — planted empties make
    // row count discriminate). DuckDB: LEFT JOIN LATERAL unnest.
    Q("q_expr_explode_outer",
      """SELECT p.p_partkey, u.word
        |FROM part p LEFT JOIN LATERAL (
        |  SELECT unnest(CASE WHEN p.p_partkey % 10 = 0 THEN []
        |                     ELSE string_split(p.p_type, ' ') END) AS word
        |) u ON TRUE
        |ORDER BY p_partkey, word""".stripMargin) { (s, dir) =>
      val words = when(pmod(col("p_partkey"), lit(10)) === 0,
          array().cast("array<string>"))
        .otherwise(split(col("p_type"), " "))
      t(s, dir, "part")
        .select(col("p_partkey"), explode_outer(words).as("word"))
        .orderBy("p_partkey", "word")
    },

    // Map-typed columns: literal map construction, dynamic key lookup,
    // cardinality. DuckDB map extraction yields a single-element LIST, so
    // the oracle scalarizes with [1]; the key set is total over the data
    // so the lookup never misses (ANSI element_at would throw on a miss).
    Q("q_expr_map",
      """SELECT o_orderkey,
        |       (MAP {'O': 1, 'F': 2, 'P': 3})[o_orderstatus][1]
        |         AS status_code,
        |       CAST(cardinality(MAP {'O': 1, 'F': 2, 'P': 3}) AS INT)
        |         AS n_keys
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val m = map(lit("O"), lit(1), lit("F"), lit(2), lit("P"), lit(3))
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          element_at(m, col("o_orderstatus")).as("status_code"),
          size(m).as("n_keys"))
        .orderBy("o_orderkey")
    },

    // Higher-order lambda functions over arrays: transform → filter →
    // fold, the modern-SQL surface for nested data. Integer-only math so
    // both engines' folds agree exactly. (Engine hot paths use codegen'd
    // expressions instead of HOFs — SCALE.md; this gates the SURFACE.)
    Q("q_expr_lambda",
      """SELECT doc_id,
        |       CAST(coalesce(list_sum(list_filter(list_transform(
        |         string_split_regex(trim(lower(text)), '\s+'),
        |         t -> length(t) * length(t)), x -> x > 9)), 0) AS BIGINT)
        |         AS sq_len_sum,
        |       len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |           t -> length(t) > 3)) AS n_long
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(trim(lower(col("text"))), "\\s+")
      t(s, dir, "documents")
        .select(col("doc_id"),
          aggregate(
            filter(transform(toks, t => length(t) * length(t)), _ > 9),
            lit(0L), (acc, x) => acc + x).as("sq_len_sum"),
          size(filter(toks, t => length(t) > 3)).cast(LongType).as("n_long"))
        .orderBy("doc_id")
    },

    // Z-order (Morton) clustering key — the multi-dimensional data-layout
    // primitive (expressions.ZOrder62, codegen'd): sorting by zkey
    // co-locates rows close in BOTH dimensions so row-group min/max stats
    // prune scans on either column. The oracle replays the bit interleave
    // arithmetically.
    Q("q_layout_zorder",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(list_sum(list_transform(range(0, 31), i ->
        |         (((l_partkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i))
        |         + (((l_suppkey & 2147483647) >> i) & 1)
        |           * (1::BIGINT << (2*i + 1)))) AS BIGINT) AS zkey
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .selectExpr("l_orderkey", "l_linenumber",
            "zorder62(l_partkey, l_suppkey) AS zkey")
          .orderBy("l_orderkey", "l_linenumber")
    },

    // 2-D zone-map pruning under Z-ORDER vs single-column sort
    // (Analyze.zoneMapPruning2 over expressions.ZOrder62): the same
    // (partkey × suppkey) box predicates against lineitem laid out as
    // 500-row files in Morton order vs in l_partkey order. Per-file
    // zones bound BOTH columns under Z-order, so the box skips most
    // files; the partkey sort prunes only its lead column and every
    // suppkey-selective box scans broadly. rows_scanned(zorder) ≪
    // rows_scanned(lead-column) at identical rows_selected IS what
    // multi-dimensional clustering buys — measured, integer-exact,
    // layout replayed in the oracle bit for bit (the Morton key is the
    // proven q_layout_zorder interleave).
    Q("q_layout_zorder_prune", {
      val zkey =
        """CAST(list_sum(list_transform(range(0, 31), i ->
          |  (((l_partkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i))
          |  + (((l_suppkey & 2147483647) >> i) & 1)
          |    * (1::BIGINT << (2*i + 1)))) AS BIGINT)""".stripMargin
      val preds =
        """preds AS (
          |  SELECT 1 AS pred_id, 100 AS lo_a, 300 AS hi_a,
          |         10 AS lo_b, 30 AS hi_b
          |  UNION ALL SELECT 2, 1500, 1600, 50, 90
          |  UNION ALL SELECT 3, 0, 2000000, 5, 6)""".stripMargin
      def layout(tag: String, name: String, ob: String) =
        s"""$tag AS (SELECT l_partkey AS va, l_suppkey AS vb,
           |           row_number() OVER (ORDER BY $ob) AS rn
           |         FROM lineitem),
           |${tag}f AS (SELECT p.pred_id, p.lo_a, p.hi_a, p.lo_b, p.hi_b,
           |           (rn - 1) // 500 AS file_id,
           |           min(va) AS min_a, max(va) AS max_a,
           |           min(vb) AS min_b, max(vb) AS max_b,
           |           count(*) AS n_rows,
           |           count(*) FILTER (WHERE va >= p.lo_a AND va < p.hi_a
           |             AND vb >= p.lo_b AND vb < p.hi_b) AS m
           |         FROM $tag CROSS JOIN preds p
           |         GROUP BY 1, 2, 3, 4, 5, 6),
           |${tag}s AS (SELECT '$name' AS layout, pred_id,
           |           CAST(count(*) AS BIGINT) AS n_files,
           |           CAST(sum(CASE WHEN max_a < lo_a OR min_a >= hi_a
           |                      OR max_b < lo_b OR min_b >= hi_b
           |                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           |           CAST(sum(CASE WHEN max_a < lo_a OR min_a >= hi_a
           |                      OR max_b < lo_b OR min_b >= hi_b
           |                    THEN 0 ELSE n_rows END) AS BIGINT)
           |             AS rows_scanned,
           |           CAST(sum(m) AS BIGINT) AS rows_selected
           |         FROM ${tag}f GROUP BY 1, 2)""".stripMargin
      s"""WITH $preds,
         |${layout("zo", "zorder",
          s"$zkey, l_orderkey, l_linenumber")},
         |${layout("lc", "lead_col",
          "l_partkey, l_orderkey, l_linenumber")}
         |SELECT * FROM zos UNION ALL SELECT * FROM lcs
         |ORDER BY layout, pred_id""".stripMargin
    }) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ranges = Seq(
        (1, lit(100L), lit(300L), lit(10L), lit(30L)),
        (2, lit(1500L), lit(1600L), lit(50L), lit(90L)),
        (3, lit(0L), lit(2000000L), lit(5L), lit(6L)))
      val zo = graft.operators.Analyze.zoneMapPruning2(li,
          "l_partkey", "l_suppkey",
          Seq(expr("zorder62(l_partkey, l_suppkey)"), col("l_orderkey"),
            col("l_linenumber")), 500, ranges)
        .withColumn("layout", lit("zorder"))
      val lc = graft.operators.Analyze.zoneMapPruning2(li,
          "l_partkey", "l_suppkey",
          Seq(col("l_partkey"), col("l_orderkey"), col("l_linenumber")),
          500, ranges)
        .withColumn("layout", lit("lead_col"))
      zo.unionByName(lc)
        .select("layout", "pred_id", "n_files", "n_skipped",
          "rows_scanned", "rows_selected")
        .orderBy("layout", "pred_id")
    },

    // Hilbert-curve clustering key (expressions.Hilbert62, codegen'd) —
    // the z-order upgrade lakehouse formats offer: consecutive keys are
    // ALWAYS Manhattan-adjacent cells (Morton jumps diagonally at every
    // quadrant boundary), so equal key ranges have tighter bounding
    // boxes. The oracle replays the full top-down quadrant walk — per
    // level the (3·rx)⊕ry quadrant contribution, bit strip, and
    // rotate/reflect — as a 31-step recursive CTE, so a single wrong
    // reflection arm or mask diverges every key.
    Q("q_layout_hilbert",
      """WITH RECURSIVE h(l_orderkey, l_linenumber, x, y, s, d) AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_partkey & 2147483647 AS BIGINT),
        |         CAST(l_suppkey & 2147483647 AS BIGINT),
        |         CAST(1073741824 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN (y & s) <> 0 THEN x & (s - 1)
        |              WHEN (x & s) <> 0 THEN s - 1 - (y & (s - 1))
        |              ELSE y & (s - 1) END,
        |         CASE WHEN (y & s) <> 0 THEN y & (s - 1)
        |              WHEN (x & s) <> 0 THEN s - 1 - (x & (s - 1))
        |              ELSE x & (s - 1) END,
        |         s // 2,
        |         d + s * s * xor(CASE WHEN (x & s) <> 0 THEN 3 ELSE 0 END,
        |                         CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END)
        |  FROM h WHERE s > 0)
        |SELECT l_orderkey, l_linenumber, d AS hkey
        |FROM h WHERE s = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_linenumber",
          "hilbert62(l_partkey, l_suppkey) AS hkey")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Hilbert vs Z-order zone-map pruning, measured head to head (the
    // same boxes and 500-row files as q_layout_zorder_prune): both are
    // space-filling curves, but Hilbert's no-diagonal-jump walk gives
    // files tighter 2-D bounding boxes, so box predicates skip at least
    // as many files. The gate emits the measured accounting for BOTH
    // layouts under one hash — the oracle replays the Morton interleave
    // arithmetically and the Hilbert walk recursively, then the same
    // integer file/zone accounting over each ordering.
    Q("q_layout_hilbert_prune", {
      val preds =
        """preds AS (
          |  SELECT 1 AS pred_id, 100 AS lo_a, 300 AS hi_a,
          |         10 AS lo_b, 30 AS hi_b
          |  UNION ALL SELECT 2, 1500, 1600, 50, 90
          |  UNION ALL SELECT 3, 0, 2000000, 5, 6)""".stripMargin
      val zkey =
        """CAST(list_sum(list_transform(range(0, 31), i ->
          |  (((l_partkey & 2147483647) >> i) & 1) * (1::BIGINT << (2*i))
          |  + (((l_suppkey & 2147483647) >> i) & 1)
          |    * (1::BIGINT << (2*i + 1)))) AS BIGINT)""".stripMargin
      def acct(tag: String, name: String) =
        s"""${tag}f AS (SELECT p.pred_id, p.lo_a, p.hi_a, p.lo_b, p.hi_b,
           |           (rn - 1) // 500 AS file_id,
           |           min(va) AS min_a, max(va) AS max_a,
           |           min(vb) AS min_b, max(vb) AS max_b,
           |           count(*) AS n_rows,
           |           count(*) FILTER (WHERE va >= p.lo_a AND va < p.hi_a
           |             AND vb >= p.lo_b AND vb < p.hi_b) AS m
           |         FROM $tag CROSS JOIN preds p
           |         GROUP BY 1, 2, 3, 4, 5, 6),
           |${tag}s AS (SELECT '$name' AS layout, pred_id,
           |           CAST(count(*) AS BIGINT) AS n_files,
           |           CAST(sum(CASE WHEN max_a < lo_a OR min_a >= hi_a
           |                      OR max_b < lo_b OR min_b >= hi_b
           |                    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           |           CAST(sum(CASE WHEN max_a < lo_a OR min_a >= hi_a
           |                      OR max_b < lo_b OR min_b >= hi_b
           |                    THEN 0 ELSE n_rows END) AS BIGINT)
           |             AS rows_scanned,
           |           CAST(sum(m) AS BIGINT) AS rows_selected
           |         FROM ${tag}f GROUP BY 1, 2)""".stripMargin
      s"""WITH RECURSIVE $preds,
         |hk(l_orderkey, l_linenumber, va, vb, x, y, s, d) AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |         CAST(l_partkey & 2147483647 AS BIGINT),
         |         CAST(l_suppkey & 2147483647 AS BIGINT),
         |         CAST(1073741824 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, va, vb,
         |         CASE WHEN (y & s) <> 0 THEN x & (s - 1)
         |              WHEN (x & s) <> 0 THEN s - 1 - (y & (s - 1))
         |              ELSE y & (s - 1) END,
         |         CASE WHEN (y & s) <> 0 THEN y & (s - 1)
         |              WHEN (x & s) <> 0 THEN s - 1 - (x & (s - 1))
         |              ELSE x & (s - 1) END,
         |         s // 2,
         |         d + s * s * xor(CASE WHEN (x & s) <> 0 THEN 3 ELSE 0 END,
         |                         CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END)
         |  FROM hk WHERE s > 0),
         |hi AS (SELECT va, vb, row_number() OVER (
         |         ORDER BY d, l_orderkey, l_linenumber) AS rn
         |       FROM hk WHERE s = 0),
         |zo AS (SELECT l_partkey AS va, l_suppkey AS vb,
         |         row_number() OVER (ORDER BY $zkey,
         |           l_orderkey, l_linenumber) AS rn
         |       FROM lineitem),
         |${acct("hi", "hilbert")},
         |${acct("zo", "zorder")}
         |SELECT * FROM his UNION ALL SELECT * FROM zos
         |ORDER BY layout, pred_id""".stripMargin
    }) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ranges = Seq(
        (1, lit(100L), lit(300L), lit(10L), lit(30L)),
        (2, lit(1500L), lit(1600L), lit(50L), lit(90L)),
        (3, lit(0L), lit(2000000L), lit(5L), lit(6L)))
      val hi = graft.operators.Analyze.zoneMapPruning2(li,
          "l_partkey", "l_suppkey",
          Seq(expr("hilbert62(l_partkey, l_suppkey)"), col("l_orderkey"),
            col("l_linenumber")), 500, ranges)
        .withColumn("layout", lit("hilbert"))
      val zo = graft.operators.Analyze.zoneMapPruning2(li,
          "l_partkey", "l_suppkey",
          Seq(expr("zorder62(l_partkey, l_suppkey)"), col("l_orderkey"),
            col("l_linenumber")), 500, ranges)
        .withColumn("layout", lit("zorder"))
      hi.unionByName(zo)
        .select("layout", "pred_id", "n_files", "n_skipped",
          "rows_scanned", "rows_selected")
        .orderBy("layout", "pred_id")
    },

    // Zone-map (file min/max statistics) pruning accounting
    // (operators.Analyze.zoneMapPruning): orders laid out as 500-row
    // files under TWO layouts — clustered by (o_orderdate, o_orderkey)
    // vs arrival (o_orderkey) — then, per half-open date predicate, the
    // files a reader skips on zones alone and the rows the surviving
    // files force it to scan. rows_scanned(clustered) ≪
    // rows_scanned(arrival) at identical rows_selected IS the measured
    // value of re-clustering, the decision a 100 TB lake optimizes on
    // row-group stats. File assignment is the distributed GlobalRank,
    // never a one-task window; all outputs integer-exact.
    Q("q_layout_zonemap", {
      val preds =
        """preds AS (
          |  SELECT 1 AS pred_id, TIMESTAMP '1996-01-01' AS lo,
          |         TIMESTAMP '1996-07-01' AS hi
          |  UNION ALL SELECT 2, TIMESTAMP '1999-01-01',
          |                    TIMESTAMP '2000-01-01'
          |  UNION ALL SELECT 3, TIMESTAMP '2001-06-01',
          |                    TIMESTAMP '2002-01-01')""".stripMargin
      def layout(tag: String, name: String, ob: String) =
        s"""$tag AS (SELECT o_orderdate AS v,
           |           row_number() OVER (ORDER BY $ob) AS rn
           |         FROM orders),
           |${tag}f AS (SELECT p.pred_id, p.lo, p.hi,
           |           (rn - 1) // 500 AS file_id,
           |           min(v) AS min_v, max(v) AS max_v,
           |           count(*) AS n_rows,
           |           count(*) FILTER (WHERE v >= p.lo AND v < p.hi) AS m
           |         FROM $tag CROSS JOIN preds p GROUP BY 1, 2, 3, 4),
           |${tag}s AS (SELECT '$name' AS layout, pred_id,
           |           CAST(count(*) AS BIGINT) AS n_files,
           |           CAST(sum(CASE WHEN max_v < lo OR min_v >= hi
           |                         THEN 1 ELSE 0 END) AS BIGINT)
           |             AS n_skipped,
           |           CAST(sum(CASE WHEN max_v < lo OR min_v >= hi
           |                         THEN 0 ELSE n_rows END) AS BIGINT)
           |             AS rows_scanned,
           |           CAST(sum(m) AS BIGINT) AS rows_selected
           |         FROM ${tag}f GROUP BY 1, 2)""".stripMargin
      s"""WITH $preds,
         |${layout("cl", "clustered", "o_orderdate, o_orderkey")},
         |${layout("ar", "arrival", "o_orderkey")}
         |SELECT * FROM cls UNION ALL SELECT * FROM ars
         |ORDER BY layout, pred_id""".stripMargin
    }) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val ranges = Seq(
        (1, lit("1996-01-01").cast("timestamp"),
          lit("1996-07-01").cast("timestamp")),
        (2, lit("1999-01-01").cast("timestamp"),
          lit("2000-01-01").cast("timestamp")),
        (3, lit("2001-06-01").cast("timestamp"),
          lit("2002-01-01").cast("timestamp")))
      val cl = graft.operators.Analyze.zoneMapPruning(orders, "o_orderdate",
          Seq(col("o_orderdate"), col("o_orderkey")), 500, ranges)
        .withColumn("layout", lit("clustered"))
      val ar = graft.operators.Analyze.zoneMapPruning(orders, "o_orderdate",
          Seq(col("o_orderkey")), 500, ranges)
        .withColumn("layout", lit("arrival"))
      cl.unionByName(ar)
        .select("layout", "pred_id", "n_files", "n_skipped",
          "rows_scanned", "rows_selected")
        .orderBy("layout", "pred_id")
    },

    // Parquet bloom-filter layout (sources.ParquetBloom): orders written
    // with split-block blooms on o_custkey — the unsorted
    // high-cardinality key where zone maps are useless (every group's
    // [min,max] spans the domain) — in ~1 MB row groups, then an IN
    // point-lookup over a formula key set with most probes ABSENT at
    // small sf, so the reader-side bloom row-group skip sits on the
    // executed path (parquet.filter.bloom.enabled is default-on for
    // pushed = / IN). ParquetBloomSpec proves footer presence,
    // membership answers, and measured group pruning; this gate owns
    // end-to-end row fidelity through the bloom-enabled files.
    Q("q_layout_parquet_bloom", {
      val keys = (0 until 24).map(k => 7L + 131L * k)
      s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |            AS BIGINT) AS cents
         |FROM orders WHERE o_custkey IN (${keys.mkString(", ")})
         |GROUP BY 1 ORDER BY o_custkey""".stripMargin
    }) { (s, dir) =>
      import graft.sources.ParquetBloom
      val keys = (0 until 24).map(k => 7L + 131L * k)
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_pq_bloom_" + Integer.toHexString(dir.hashCode)).toString
      ParquetBloom.writeWithBloom(
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        tmp, Seq("o_custkey"), rowGroupBytes = 1L << 20)
      s.read.parquet(tmp)
        .where(col("o_custkey").isin(keys: _*))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
        .orderBy("o_custkey")
    },

    // Array-column surface (beyond the reference, which only ever unnests):
    // sort / slice / membership / distinct-cardinality on a tokens array,
    // all codegen'd array intrinsics — the nested-type operations a
    // metadata-bearing training-data schema leans on. The sliced head is
    // re-joined to a string so the gate compares scalars, not list cells.
    Q("q_expr_array",
      """SELECT doc_id,
        |       array_to_string(
        |         list_sort(string_split_regex(trim(lower(text)), '\s+'))[1:3],
        |         ' ') AS head3,
        |       list_contains(string_split_regex(trim(lower(text)), '\s+'),
        |                     'the') AS has_the,
        |       len(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
        |         AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(trim(lower(col("text"))), "\\s+")
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(array_sort(toks), 1, 3), " ").as("head3"),
          array_contains(toks, "the").as("has_the"),
          size(array_distinct(toks)).cast(LongType).as("n_distinct"))
        .orderBy("doc_id")
    },

    // H44 — string_to_array + unnest (core/genre_hub.sql:5-8) =
    // split + explode, a built-in Generator.
    Q("q_expr_split_explode",
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
        |FROM part ORDER BY p_partkey, word""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          explode(split(col("p_type"), " ")).as("word"))
        .orderBy("p_partkey", "word")
    },

    // H45 — JSON field extraction from a text column
    // (core/movie_genre_link.sql:5 json path; events.props is `{"k": N}`).
    Q("q_expr_json",
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy("event_id")
    },

    // H50 — digit extraction: money-string → integer
    // (imdb parser.py:85 `int(''.join(filter(str.isdigit, s)))`).
    Q("q_expr_digits",
      """SELECT o_orderkey,
        |       CAST(regexp_replace(o_orderpriority, '[^0-9]', '', 'g') AS BIGINT)
        |         AS prio_num
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          digitsToLong(col("o_orderpriority")).as("prio_num"))
        .orderBy("o_orderkey")
    },

    // H51 — duration normalization "Xh Ym" → total minutes
    // (imdb parser.py:103-113). The string is synthesized from columns so
    // both engines parse the identical input.
    Q("q_expr_duration",
      """SELECT p_partkey,
        |       CAST(nullif(regexp_extract(dur_str, '(\d+)\s*h', 1), '') AS INTEGER) * 60
        |       + CAST(nullif(regexp_extract(dur_str, '(\d+)\s*m', 1), '') AS INTEGER)
        |         AS minutes
        |FROM (SELECT p_partkey,
        |             CAST(p_size AS VARCHAR) || 'h ' ||
        |             CAST(p_partkey % 60 AS VARCHAR) || 'm' AS dur_str
        |      FROM part) ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          pgConcat(col("p_size"), lit("h "), col("p_partkey") % 60, lit("m"))
            .as("dur_str"))
        .select(col("p_partkey"),
          durationMinutes(col("dur_str")).cast(IntegerType).as("minutes"))
        .orderBy("p_partkey")
    },

    // H52/H53 — 4-digit year extraction from a stringified date + ÷10
    // rescale (metacritic parser.py:56-58,82).
    Q("q_expr_year_rescale",
      """SELECT event_id,
        |       CAST(regexp_extract(CAST(CAST(ts AS TIMESTAMP) AS VARCHAR),
        |                           '(\d{4})', 1) AS INTEGER) AS yr,
        |       round(value / 10, 4) AS value_rescaled
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          yearOf(col("ts").cast(StringType)).as("yr"),
          round4(col("value") / 10).as("value_rescaled"))
        .orderBy("event_id")
    },

    // H54 — character stripping at ingest (imdb parser.py:241 strips `'`;
    // same regexp_replace shape on a character class).
    Q("q_expr_strip",
      """SELECT doc_id, replace(source, 's', '') AS src_stripped
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("source"), "s", "").as("src_stripped"))
        .orderBy("doc_id")
    },

    // H48/§1.3 — strict vs lenient casts: TRY_CAST of garbage → NULL
    // (scraped 'None'/'NaN' sentinel handling), strict cast of clean ints.
    Q("q_expr_try_cast",
      """SELECT event_id, TRY_CAST(props AS INTEGER) AS maybe_int,
        |       CAST(user_id AS VARCHAR) AS uid_str
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          expr("try_cast(props AS int)").as("maybe_int"),
          col("user_id").cast(StringType).as("uid_str"))
        .orderBy("event_id")
    },
  )
}
