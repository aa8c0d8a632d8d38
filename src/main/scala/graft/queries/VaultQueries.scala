package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.CoreQueries
import graft.engine.Expressions._
import graft.engine.Tables.t

/** Driver-gated queries for the reference's OWN transforms (core/<n>.sql,
  * mart/genre_metrics.sql): raw-movie-shaped inputs are derived
  * deterministically from the testdata `part`/`lineitem` tables — two
  * overlapping "sources" (imdb = even part keys, metacritic = part keys
  * divisible by 3) — then the engine's CoreQueries run against a DuckDB
  * oracle that replays the reference SQL semantics on the same derivation.
  *
  * This is the "matches the reference's results on its own test queries"
  * gate: union-dedup conflation, both genre parse paths, md5 key joins,
  * satellite keys, and the genre_metrics aggregation (correlated-LIMIT-1
  * rewritten with a deterministic tiebreak — documented inline).
  */
object VaultQueries {

  // ---- derivation: raw movie tables from `part` ------------------------

  /** @param shift      rating offset — a "second load" with changed ratings
    * @param dropMod    exclude p_partkey multiples (a movie that vanished) */
  private[graft] def rawMovies(s: SparkSession, dir: String, mod: Int,
                        shift: Int = 0, dropMod: Int = 0): DataFrame = {
    val base = t(s, dir, "part").where(pmod(col("p_partkey"), lit(mod)) === 0)
    val p = if (dropMod == 0) base
            else base.where(pmod(col("p_partkey"), lit(dropMod)) =!= 0)
    p.select(
      concat(lit("http://t/"), col("p_partkey").cast(StringType)).as("url"),
      col("p_name").as("movie_name"),
      upper(col("p_name")).as("original_name"),
      (lit(1900) + pmod(col("p_partkey"), lit(120))).cast(StringType).as("year"),
      col("p_brand").as("certificate"),
      pmod(col("p_size") + shift, lit(10)).cast(StringType).as("rating"),
      concat(lit("['"), col("p_type"), lit("', '"), col("p_brand"),
        lit("']")).as("genres"),
      (col("p_partkey") * 1000).cast(StringType).as("budget"),
      (col("p_partkey") * 3000).cast(StringType).as("gross_worldwide"),
      (lit(60) + pmod(col("p_partkey"), lit(120))).cast(StringType)
        .as("min_duration"))
  }

  /** DuckDB twin of [[rawMovies]] (chr(39)=' and chr(34)=" dodge quote
    * escaping through the JSON dump). */
  private def sqlRawMovies(mod: Int, shift: Int = 0, dropMod: Int = 0): String = {
    val drop = if (dropMod == 0) "" else s" AND p_partkey % $dropMod != 0"
    s"""SELECT 'http://t/' || CAST(p_partkey AS VARCHAR) AS url,
       |  p_name AS movie_name, upper(p_name) AS original_name,
       |  CAST(1900 + p_partkey % 120 AS VARCHAR) AS year,
       |  p_brand AS certificate,
       |  CAST((p_size + $shift) % 10 AS VARCHAR) AS rating,
       |  concat('[', chr(39), p_type, chr(39), ', ', chr(39), p_brand,
       |         chr(39), ']') AS genres,
       |  CAST(p_partkey * 1000 AS VARCHAR) AS budget,
       |  CAST(p_partkey * 3000 AS VARCHAR) AS gross_worldwide,
       |  CAST(60 + p_partkey % 120 AS VARCHAR) AS min_duration
       |FROM part WHERE p_partkey % $mod = 0$drop""".stripMargin
  }

  // ---- derivation: raw actor tables from lineitem ⋈ part ---------------

  /** Memoized+persisted per (session, dir, mod) in [[SessionMemo]]: the
    * actor derivation joins lineitem, and four vault queries re-derive
    * the same frame — the same reason the reference materializes temp
    * staging tables (A11). Hubs, links and satellites memoize the same
    * way. */
  private[graft] def rawActors(s: SparkSession, dir: String, mod: Int): DataFrame =
    SessionMemo.frame(s, dir, s"raw_actors_$mod")(
      rawActorsUncached(s, dir, mod))

  /** Materialize every CROSS-GATE staging frame (hubs, links,
    * satellites, the actor derivations) — the vault analog of "load the
    * staging tables before the marts run". Bench calls this in its
    * UNTIMED warmup (reported as `staging_sec`): these frames are
    * memoized per (session, dir) and shared by many gates, so their
    * build otherwise lands on whichever vault gate a map-ordered sweep
    * happens to run FIRST — r14's driver charged ~13 s of staging to
    * q_vault_rating_slide purely by iteration order (the r10-12
    * attribution pathology; the r15 position test reproduced it in all
    * three orders). Gate-specific frames (rating_slide_sat) are NOT
    * warmed — a gate still pays for its own work. */
  def warmStaging(s: SparkSession, dir: String): Unit = {
    rawActors(s, dir, 2).count()
    rawActors(s, dir, 3).count()
    Seq(hubC(s, dir), ehubC(s, dir), ghubC(s, dir), melC(s, dir),
      satC(s, dir), lnkC(s, dir), esatC(s, dir)).foreach(_.count())
  }

  private def hubC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "movie_hub")(
      CoreQueries.movieHub(rawMovies(s, dir, 2), rawMovies(s, dir, 3)))

  private def ehubC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "employee_hub")(
      CoreQueries.employeeHub(rawActors(s, dir, 2), rawActors(s, dir, 3)))

  private def melC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "movie_emp_link")(
      CoreQueries.movieEmpLink(rawActors(s, dir, 2), rawActors(s, dir, 3),
        ehubC(s, dir), hubC(s, dir)))

  private def ghubC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "genre_hub")(
      CoreQueries.genreHub(rawMovies(s, dir, 2), rawMovies(s, dir, 3)))

  private def satC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "movie_info_sat")(
      CoreQueries.movieInfoSat(rawMovies(s, dir, 2), rawMovies(s, dir, 3),
        hubC(s, dir)))

  private def lnkC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "movie_genre_link")(
      CoreQueries.movieGenreLink(rawMovies(s, dir, 2), rawMovies(s, dir, 3),
        hubC(s, dir), ghubC(s, dir)))

  private def esatC(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, dir, "emp_movie_l_sat")(
      CoreQueries.empMovieLSat(rawActors(s, dir, 2), rawActors(s, dir, 3),
        melC(s, dir)))

  private def rawActorsUncached(s: SparkSession, dir: String,
                                mod: Int): DataFrame =
    t(s, dir, "lineitem").where(col("l_linenumber") <= 2)
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .where(pmod(col("p_partkey"), lit(mod)) === 0)
      .select(
        col("p_name").as("movie_name"),
        (lit(60) + pmod(col("p_partkey"), lit(120))).cast(IntegerType)
          .as("movie_duration"),
        concat(lit("Person "), col("l_suppkey").cast(StringType)).as("name"),
        concat(lit("role "), col("l_linenumber").cast(StringType))
          .as("raw_role"),
        element_at(array(lit("actor"), lit("director"), lit("producer"),
          lit("writer")), (pmod(col("l_suppkey"), lit(4)) + 1).cast("int"))
          .as("role"))

  private def sqlRawActors(mod: Int): String =
    s"""SELECT p_name AS movie_name,
       |  CAST(60 + p_partkey % 120 AS INTEGER) AS movie_duration,
       |  'Person ' || CAST(l_suppkey AS VARCHAR) AS name,
       |  'role ' || CAST(l_linenumber AS VARCHAR) AS raw_role,
       |  (['actor','director','producer','writer'])[(l_suppkey % 4) + 1]
       |    AS role
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_linenumber <= 2 AND p_partkey % $mod = 0""".stripMargin

  // ---- shared oracle CTEs ----------------------------------------------

  private val sqlMovieHub =
    """SELECT DISTINCT
      |  md5(movie_nm || CAST(movie_duration AS VARCHAR)) AS movie_id,
      |  movie_nm, movie_duration
      |FROM (SELECT DISTINCT movie_name AS movie_nm,
      |             CAST(min_duration AS INTEGER) AS movie_duration
      |      FROM (SELECT movie_name, min_duration FROM imdb
      |            UNION ALL
      |            SELECT movie_name, min_duration FROM meta))
      |WHERE md5(movie_nm || CAST(movie_duration AS VARCHAR)) IS NOT NULL""".stripMargin

  private val sqlGenreHub =
    """SELECT md5(genre) AS genre_id, genre AS genre_nm
      |FROM (SELECT DISTINCT
      |        unnest(string_split(replace(replace(replace(genres, '[', ''),
      |               ']', ''), chr(39), ''), ', ')) AS genre
      |      FROM (SELECT genres FROM imdb
      |            UNION ALL SELECT genres FROM meta))""".stripMargin

  private val sqlEmpHub =
    """SELECT DISTINCT md5(name) AS emp_id, name AS emp_nm
      |FROM (SELECT DISTINCT * FROM
      |        (SELECT * FROM ai UNION ALL SELECT * FROM am))""".stripMargin

  /** movie_emp_link rows (expects ai/am/hub CTEs in scope). */
  private val sqlMovieEmpLink =
    """SELECT DISTINCT md5(h.movie_id || t2.emp_id) AS movie_emp_link_id,
      |       h.movie_id, t2.emp_id
      |FROM (SELECT md5(movie_nm || CAST(duration AS VARCHAR)) AS movie_id,
      |             md5(name) AS emp_id
      |      FROM (SELECT DISTINCT movie_name AS movie_nm,
      |                   movie_duration AS duration, name
      |            FROM (SELECT movie_name, movie_duration, name FROM ai
      |                  UNION ALL
      |                  SELECT movie_name, movie_duration, name FROM am))
      |      WHERE md5(movie_nm || CAST(duration AS VARCHAR)) IS NOT NULL) t2
      |JOIN (SELECT DISTINCT md5(name) AS emp_id FROM
      |        (SELECT name FROM ai UNION ALL SELECT name FROM am)) e
      |  ON t2.emp_id = e.emp_id
      |JOIN hub h ON h.movie_id = t2.movie_id""".stripMargin

  /** emp_movie_l_sat rows (expects ai/am/mel CTEs in scope). */
  private val sqlEmpMovieLSat =
    """SELECT DISTINCT
      |  md5(m.movie_emp_link_id || t3.raw_role || t3.role)
      |    AS movie_emp_role_id,
      |  m.movie_emp_link_id, t3.raw_role AS description, t3.role
      |FROM (SELECT DISTINCT
      |        md5(movie_id || emp_id) AS emp_movie_link_id, raw_role, role
      |      FROM (SELECT md5(movie_name || CAST(movie_duration AS VARCHAR))
      |                     AS movie_id,
      |                   md5(name) AS emp_id, raw_role, role
      |            FROM (SELECT DISTINCT * FROM
      |                    (SELECT * FROM ai UNION ALL SELECT * FROM am)))) t3
      |JOIN mel m ON t3.emp_movie_link_id = m.movie_emp_link_id""".stripMargin

  // ---- queries ----------------------------------------------------------

  val all: Seq[Q] = Seq(

    // core/movie_hub.sql — union-dedup conflation of two sources, md5
    // business key with null propagation.
    Q("q_vault_movie_hub",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)})
         |SELECT movie_id, movie_nm, movie_duration FROM ($sqlMovieHub)
         |ORDER BY movie_id""".stripMargin) { (s, dir) =>
      hubC(s, dir).orderBy("movie_id")
    },

    // core/genre_hub.sql — split-based genre parse (path 1) over UNION ALL.
    Q("q_vault_genre_hub",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)})
         |SELECT genre_id, genre_nm FROM ($sqlGenreHub)
         |ORDER BY genre_id""".stripMargin) { (s, dir) =>
      ghubC(s, dir).orderBy("genre_id")
    },

    // core/employee_hub.sql — md5(name) hub over preprocessed actor union.
    Q("q_vault_employee_hub",
      s"""WITH ai AS (${sqlRawActors(2)}), am AS (${sqlRawActors(3)})
         |SELECT DISTINCT md5(name) AS emp_id, name AS emp_nm
         |FROM (SELECT DISTINCT * FROM
         |        (SELECT * FROM ai UNION ALL SELECT * FROM am))
         |ORDER BY emp_id""".stripMargin) { (s, dir) =>
      CoreQueries.employeeHub(rawActors(s, dir, 2), rawActors(s, dir, 3))
        .orderBy("emp_id")
    },

    // core/movie_genre_link.sql — the JSON genre parse (path 2), composite-
    // key hub join, genre equi join, md5 link key.
    Q("q_vault_movie_genre_link",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |hub AS ($sqlMovieHub), ghub AS ($sqlGenreHub),
         |src AS (SELECT DISTINCT * FROM (
         |  SELECT movie_name AS movie_nm,
         |         CAST(min_duration AS INTEGER) AS duration,
         |         unnest(CAST(CAST(replace(genres, chr(39), chr(34)) AS JSON)
         |                AS VARCHAR[])) AS genres
         |  FROM imdb
         |  UNION ALL
         |  SELECT movie_name, CAST(min_duration AS INTEGER),
         |         unnest(CAST(CAST(replace(genres, chr(39), chr(34)) AS JSON)
         |                AS VARCHAR[]))
         |  FROM meta))
         |SELECT DISTINCT md5(h.movie_id || g.genre_id) AS mv_gen_link_id,
         |       h.movie_id, g.genre_id
         |FROM src s
         |JOIN hub h ON s.movie_nm = h.movie_nm
         |          AND s.duration = h.movie_duration
         |JOIN ghub g ON g.genre_nm = s.genres
         |ORDER BY mv_gen_link_id""".stripMargin) { (s, dir) =>
      lnkC(s, dir).orderBy("mv_gen_link_id")
    },

    // core/movie_info_sat.sql — join on the recomputed md5 expression
    // (C21), satellite key md5(movie_id||url). Same movie from both
    // sources shares title_item_id → scr_nm completes the sort key.
    Q("q_vault_movie_info_sat",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |hub AS ($sqlMovieHub),
         |films AS (SELECT DISTINCT * FROM (
         |  SELECT movie_name, CAST(min_duration AS INTEGER) AS duration,
         |         original_name, year, certificate, rating, budget,
         |         gross_worldwide, 'IMDB' AS scr_nm, url
         |  FROM imdb
         |  UNION ALL
         |  SELECT movie_name, CAST(min_duration AS INTEGER), original_name,
         |         year, certificate, rating, budget, gross_worldwide,
         |         'METACRITIC', url
         |  FROM meta))
         |SELECT DISTINCT md5(h.movie_id || f.url) AS title_item_id,
         |       h.movie_id, f.original_name, f.year, f.certificate,
         |       f.rating, f.budget, f.gross_worldwide, f.scr_nm, f.url
         |FROM films f
         |JOIN hub h
         |  ON md5(f.movie_name || CAST(f.duration AS VARCHAR)) = h.movie_id
         |ORDER BY title_item_id, scr_nm""".stripMargin) { (s, dir) =>
      satC(s, dir).orderBy("title_item_id", "scr_nm")
    },

    // core/movie_emp_link.sql — actor rows keyed to both hubs with the
    // null-propagating computed movie key.
    Q("q_vault_movie_emp_link",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |ai AS (${sqlRawActors(2)}), am AS (${sqlRawActors(3)}),
         |hub AS ($sqlMovieHub),
         |ehub AS (SELECT DISTINCT md5(name) AS emp_id FROM
         |           (SELECT name FROM ai UNION ALL SELECT name FROM am)),
         |t2 AS (SELECT md5(movie_nm || CAST(duration AS VARCHAR)) AS movie_id,
         |              md5(name) AS emp_id
         |       FROM (SELECT DISTINCT movie_name AS movie_nm,
         |                    movie_duration AS duration, name
         |             FROM (SELECT movie_name, movie_duration, name FROM ai
         |                   UNION ALL
         |                   SELECT movie_name, movie_duration, name FROM am))
         |       WHERE md5(movie_nm || CAST(duration AS VARCHAR)) IS NOT NULL)
         |SELECT DISTINCT md5(h.movie_id || t2.emp_id) AS movie_emp_link_id,
         |       h.movie_id, t2.emp_id
         |FROM t2
         |JOIN ehub e ON t2.emp_id = e.emp_id
         |JOIN hub h ON h.movie_id = t2.movie_id
         |ORDER BY movie_emp_link_id""".stripMargin) { (s, dir) =>
      melC(s, dir).orderBy("movie_emp_link_id")
    },

    // core/emp_movie_l_sat.sql — role satellite keyed off the just-built
    // movie_emp_link (the reference's intra-load dependency, J64).
    Q("q_vault_emp_movie_l_sat",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |ai AS (${sqlRawActors(2)}), am AS (${sqlRawActors(3)}),
         |hub AS ($sqlMovieHub), mel AS ($sqlMovieEmpLink)
         |SELECT movie_emp_role_id, movie_emp_link_id, description, role
         |FROM ($sqlEmpMovieLSat)
         |ORDER BY movie_emp_role_id""".stripMargin) { (s, dir) =>
      esatC(s, dir).orderBy("movie_emp_role_id")
    },

    // mart/movie_data.sql — hub ⋈ latest-snapshot satellite, null→''
    // coalescing (SCD2 stamp at a fixed load ts; the latest-snapshot
    // filter then keeps all current rows).
    Q("q_vault_movie_data",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |hub AS ($sqlMovieHub),
         |films AS (SELECT DISTINCT * FROM (
         |  SELECT movie_name, CAST(min_duration AS INTEGER) AS duration,
         |         original_name, year, certificate, rating, budget,
         |         gross_worldwide, 'IMDB' AS scr_nm, url FROM imdb
         |  UNION ALL
         |  SELECT movie_name, CAST(min_duration AS INTEGER), original_name,
         |         year, certificate, rating, budget, gross_worldwide,
         |         'METACRITIC', url FROM meta)),
         |sat AS (SELECT DISTINCT md5(h.movie_id || f.url) AS title_item_id,
         |               h.movie_id, f.original_name, f.year, f.rating,
         |               f.budget, f.gross_worldwide, f.scr_nm, f.url
         |        FROM films f
         |        JOIN hub h
         |          ON md5(f.movie_name || CAST(f.duration AS VARCHAR))
         |             = h.movie_id)
         |SELECT s.title_item_id, h.movie_nm AS movie_name, h.movie_duration,
         |       coalesce(s.original_name, '') AS original_name,
         |       coalesce(s.year, '') AS year, s.rating,
         |       coalesce(s.budget, '') AS budget,
         |       coalesce(s.gross_worldwide, '') AS worldwide_gross,
         |       s.scr_nm AS rating_source, s.url
         |FROM hub h JOIN sat s USING (movie_id)
         |ORDER BY title_item_id, rating_source""".stripMargin) { (s, dir) =>
      val sat = graft.engine.Scd2.stamp(satC(s, dir), "2024-01-01 00:00:00")
      graft.engine.MartQueries.movieData(hubC(s, dir), sat)
        .orderBy("title_item_id", "rating_source")
    },

    // mart/employee_data.sql — person roles over current link + satellite
    // versions, description cleansed.
    Q("q_vault_employee_data",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |ai AS (${sqlRawActors(2)}), am AS (${sqlRawActors(3)}),
         |hub AS ($sqlMovieHub), ehub AS ($sqlEmpHub),
         |mel AS ($sqlMovieEmpLink), esat AS ($sqlEmpMovieLSat)
         |SELECT DISTINCT esat.movie_emp_role_id, e.emp_nm AS name,
         |       esat.role,
         |       CASE WHEN esat.description = 'NaN' THEN ''
         |            ELSE replace(replace(esat.description, '(', ''),
         |                         ')', '') END AS role_description
         |FROM ehub e
         |JOIN mel ON e.emp_id = mel.emp_id
         |JOIN esat ON mel.movie_emp_link_id = esat.movie_emp_link_id
         |ORDER BY movie_emp_role_id""".stripMargin) { (s, dir) =>
      val T1 = "2024-01-01 00:00:00"
      graft.engine.MartQueries.employeeData(ehubC(s, dir),
          graft.engine.Scd2.stamp(melC(s, dir), T1),
          graft.engine.Scd2.stamp(esatC(s, dir), T1))
        .orderBy("movie_emp_role_id")
    },

    // mart/movie_employee_link.sql — denormalized movie↔person bridge.
    Q("q_vault_movie_employee_link",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |ai AS (${sqlRawActors(2)}), am AS (${sqlRawActors(3)}),
         |hub AS ($sqlMovieHub), ehub AS ($sqlEmpHub),
         |mel AS ($sqlMovieEmpLink)
         |SELECT DISTINCT mel.movie_emp_link_id, h.movie_nm,
         |       h.movie_duration, e.emp_nm
         |FROM hub h
         |JOIN mel ON h.movie_id = mel.movie_id
         |JOIN ehub e ON mel.emp_id = e.emp_id
         |ORDER BY movie_emp_link_id""".stripMargin) { (s, dir) =>
      graft.engine.MartQueries.movieEmployeeLink(hubC(s, dir),
          melC(s, dir), ehubC(s, dir))
        .orderBy("movie_emp_link_id")
    },

    // mart/rating_slide.sql — the two-snapshot leaderboard: SCD2-stamped
    // satellite across two loads (load 2 shifts ratings and drops some
    // movies), leaderboard of the latest load full-outer-joined against
    // the leaderboard of the two latest loads. Exercises the distributed
    // GlobalRank (E35) + full-outer resurrection (C23) end-to-end; rank
    // ties broken by movie_id in both engines.
    Q("q_vault_rating_slide", {
      val T1 = "2024-01-01 00:00:00"
      val T2 = "2024-02-01 00:00:00"
      def sqlSat(src: String, vf: String) =
        s"""SELECT DISTINCT md5(h.movie_id || f.url) AS title_item_id,
           |       h.movie_id, f.rating, TIMESTAMP '$vf' AS valid_from
           |FROM (SELECT DISTINCT movie_name,
           |             CAST(min_duration AS INTEGER) AS duration, rating,
           |             url FROM $src) f
           |JOIN hub h ON md5(f.movie_name || CAST(f.duration AS VARCHAR))
           |              = h.movie_id""".stripMargin
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |imdb2 AS (${sqlRawMovies(2, 3, 30)}),
         |meta2 AS (${sqlRawMovies(3, 3, 30)}),
         |hub AS ($sqlMovieHub),
         |sat AS (${sqlSat("(SELECT * FROM imdb UNION ALL SELECT * FROM meta)", T1)}
         |        UNION ALL
         |        ${sqlSat("(SELECT * FROM imdb2 UNION ALL SELECT * FROM meta2)", T2)}),
         |lb1 AS (SELECT h.movie_nm, s.movie_id, h.movie_duration,
         |               avg(CAST(s.rating AS DOUBLE)) AS rating
         |        FROM sat s JOIN hub h USING (movie_id)
         |        WHERE s.valid_from = TIMESTAMP '$T2'
         |        GROUP BY h.movie_nm, s.movie_id, h.movie_duration),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY rating DESC NULLS FIRST,
         |         movie_duration DESC NULLS FIRST, movie_id)
         |         AS latest_place FROM lb1),
         |lb2 AS (SELECT h.movie_nm, s.movie_id, h.movie_duration,
         |               avg(CAST(s.rating AS DOUBLE)) AS rating
         |        FROM sat s JOIN hub h USING (movie_id)
         |        GROUP BY h.movie_nm, s.movie_id, h.movie_duration),
         |r2 AS (SELECT *, row_number() OVER (ORDER BY rating DESC NULLS FIRST,
         |         movie_duration DESC NULLS FIRST, movie_id)
         |         AS pre_latest_place FROM lb2)
         |SELECT coalesce(r1.movie_id, r2.movie_id) AS movie_id,
         |       r1.movie_nm AS movie_name,
         |       r1.movie_duration AS duration,
         |       r1.rating AS current_rating,
         |       r1.latest_place AS current_place
         |FROM r1 FULL JOIN r2 ON r1.movie_id = r2.movie_id
         |ORDER BY current_place NULLS LAST, movie_id""".stripMargin
    }) { (s, dir) =>
      import graft.engine.{CoreQueries => CQ, MartQueries, Scd2}
      val (i2, m2) = (rawMovies(s, dir, 2, shift = 3, dropMod = 30),
        rawMovies(s, dir, 3, shift = 3, dropMod = 30))
      val hub = hubC(s, dir)
      // the leaderboards consume the satellite four ways (loads scan, two
      // semi joins, two aggregations) — materialize once, like the
      // reference's temp_ staging table; load 1 reuses the memoized satC.
      // Held in SessionMemo so SessionMemo.evict can release it.
      val sat = SessionMemo.frame(s, dir, "rating_slide_sat")(
        Scd2.stamp(satC(s, dir), "2024-01-01 00:00:00")
          .unionByName(Scd2.stamp(CQ.movieInfoSat(i2, m2, hub),
            "2024-02-01 00:00:00")))
      MartQueries.ratingSlide(hub, sat)
        .orderBy(asc_nulls_last("current_place"), asc("movie_id"))
    },

    // mart/genre_metrics.sql — per-movie avg of string-cast metrics, 3-way
    // join to genres, per-genre best movies. The reference's correlated
    // ORDER BY ... DESC LIMIT 1 is nondeterministic under ties (and max_by
    // inherits that), so this gate fixes the tiebreak to (metric DESC,
    // movie_id) in BOTH engines — same rewrite MartQueries.genreMetrics
    // uses, made total.
    Q("q_vault_genre_metrics",
      s"""WITH imdb AS (${sqlRawMovies(2)}), meta AS (${sqlRawMovies(3)}),
         |hub AS ($sqlMovieHub), ghub AS ($sqlGenreHub),
         |films AS (SELECT DISTINCT * FROM (
         |  SELECT movie_name, CAST(min_duration AS INTEGER) AS duration,
         |         rating, budget, gross_worldwide, url FROM imdb
         |  UNION ALL
         |  SELECT movie_name, CAST(min_duration AS INTEGER), rating, budget,
         |         gross_worldwide, url FROM meta)),
         |sat AS (SELECT DISTINCT md5(h.movie_id || f.url) AS title_item_id,
         |               h.movie_id, f.rating, f.budget, f.gross_worldwide
         |        FROM films f
         |        JOIN hub h ON md5(f.movie_name || CAST(f.duration AS VARCHAR))
         |                      = h.movie_id),
         |per_movie AS (SELECT movie_id,
         |                     avg(CAST(rating AS DOUBLE)) AS rating,
         |                     avg(CAST(budget AS BIGINT)) AS budget,
         |                     avg(CAST(gross_worldwide AS BIGINT)) AS gross
         |              FROM sat GROUP BY movie_id),
         |lnk AS (SELECT DISTINCT h.movie_id, g.genre_id
         |        FROM (SELECT DISTINCT * FROM (
         |                SELECT movie_name AS movie_nm,
         |                       CAST(min_duration AS INTEGER) AS duration,
         |                       unnest(CAST(CAST(replace(genres, chr(39),
         |                         chr(34)) AS JSON) AS VARCHAR[])) AS genres
         |                FROM imdb
         |                UNION ALL
         |                SELECT movie_name, CAST(min_duration AS INTEGER),
         |                       unnest(CAST(CAST(replace(genres, chr(39),
         |                         chr(34)) AS JSON) AS VARCHAR[]))
         |                FROM meta)) s
         |        JOIN hub h ON s.movie_nm = h.movie_nm
         |                  AND s.duration = h.movie_duration
         |        JOIN ghub g ON g.genre_nm = s.genres),
         |t3 AS (SELECT p.*, h.movie_nm, h.movie_duration,
         |              g.genre_id, g.genre_nm,
         |              concat(h.movie_nm, ', ',
         |                CAST(h.movie_duration AS VARCHAR), ' min') AS label
         |       FROM per_movie p
         |       JOIN hub h USING (movie_id)
         |       JOIN lnk USING (movie_id)
         |       JOIN ghub g USING (genre_id)),
         |ranked AS (SELECT *,
         |  row_number() OVER (PARTITION BY genre_id
         |                     ORDER BY budget DESC, movie_id) AS rb,
         |  row_number() OVER (PARTITION BY genre_id
         |                     ORDER BY gross DESC, movie_id) AS rg,
         |  row_number() OVER (PARTITION BY genre_id
         |                     ORDER BY rating DESC, movie_id) AS rr
         |  FROM t3)
         |SELECT g.genre_id, g.genre_nm AS genre,
         |       max(CASE WHEN rb = 1 THEN label END) AS max_budget_movie,
         |       max(CASE WHEN rg = 1 THEN label END) AS max_gross_movie,
         |       max(CASE WHEN rr = 1 THEN label END) AS best_rated_movie,
         |       round(avg(rating), 4) AS average_rating,
         |       count(movie_id) AS genre_movie_quant
         |FROM ranked g
         |GROUP BY g.genre_id, g.genre_nm
         |ORDER BY genre_movie_quant DESC, genre_id""".stripMargin) {
      (s, dir) =>
        // The gate runs the SHIPPED mart function (ADVICE r1): the
        // production max_by path is made total via tiebreakCol, and only
        // presentation concerns (round4 for cross-engine double repr,
        // total ORDER BY) are layered on top.
        graft.engine.MartQueries.genreMetrics(satC(s, dir), hubC(s, dir),
            lnkC(s, dir).select("movie_id", "genre_id"), ghubC(s, dir),
            tiebreakCol = Some("movie_id"))
          .withColumn("average_rating",
            graft.functions.Rounding.round4(col("average_rating")))
          .orderBy(desc("genre_movie_quant"), asc("genre_id"))
    },
  )
}
