package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Expressions._

/** The 5 data-mart queries, re-expressed as DataFrame functions. Each
  * mirrors one `mart/<name>.sql` script (embedded copies at ddl.py:243-377).
  *
  * The reference's "latest snapshot" idiom `col in (select max(col) ...)`
  * (SURVEY.md B16/D31) becomes an uncorrelated scalar-aggregate + semi join —
  * Catalyst executes the scalar as a subquery broadcast, no driver collect.
  *
  * The one genuine translation point: PostgreSQL's correlated `ORDER BY x
  * DESC LIMIT 1` subqueries (mart/genre_metrics.sql:53-61) are not valid
  * Spark SQL — rewritten as max_by with a PG-faithful ordering key
  * (DESC NULLS FIRST, SURVEY.md C27).
  */
object MartQueries {

  /** Semi-join a frame to rows carrying the global max of `c` (B16). */
  private def latestBy(df: DataFrame, c: String): DataFrame = {
    val mx = df.agg(max(col(c)).as("__mx"))
    df.join(broadcast(mx), df(c) === col("__mx"), "left_semi")
  }

  /** mart/movie_data.sql — current movie catalog: hub ⋈ latest satellite
    * rows, nulls coalesced to ''. */
  def movieData(movieHub: DataFrame, movieInfoSat: DataFrame): DataFrame = {
    val mis = latestBy(movieInfoSat, Scd2.ValidTo)
    broadcast(movieHub).join(mis, Seq("movie_id"))
      .select(
        col("title_item_id"),
        col("movie_nm").as("movie_name"),
        col("movie_duration"),
        coalesce(col("original_name"), lit("")).as("original_name"),
        coalesce(col("year"), lit("")).as("year"),
        col("rating"),
        coalesce(col("budget"), lit("")).as("budget"),
        coalesce(col("gross_worldwide"), lit("")).as("worldwide_gross"),
        col("scr_nm").as("rating_source"),
        col("url"))
  }

  /** mart/employee_data.sql — current roles per person, description
    * cleansed (NaN → '', parens stripped). */
  def employeeData(employeeHub: DataFrame, movieEmpLink: DataFrame,
                   empMovieLSat: DataFrame): DataFrame =
    broadcast(employeeHub)
      .join(latestBy(movieEmpLink, Scd2.ValidTo), Seq("emp_id"))
      .join(latestBy(empMovieLSat, Scd2.ValidTo), Seq("movie_emp_link_id"))
      .select(
        col("movie_emp_role_id"),
        col("emp_nm").as("name"),
        col("role"),
        cleanseDescription(col("description")).as("role_description"))
      .distinct()

  /** mart/movie_employee_link.sql — denormalized movie↔person bridge. */
  def movieEmployeeLink(movieHub: DataFrame, movieEmpLink: DataFrame,
                        employeeHub: DataFrame): DataFrame =
    broadcast(movieHub)
      .join(movieEmpLink, Seq("movie_id"))
      .join(broadcast(employeeHub), Seq("emp_id"))
      .select(col("movie_emp_link_id"), col("movie_nm"),
        col("movie_duration"), col("emp_nm"))
      .distinct()

  /** mart/genre_metrics.sql — per-genre aggregates + the three correlated
    * top-1 subqueries rewritten as max_by (C27). PG sorts NULLS FIRST on
    * DESC, so a movie with NULL budget wins max_budget_movie when present —
    * reproduced via a (isnull, value) struct ordering key.
    *
    * The reference's `ORDER BY metric DESC LIMIT 1` is nondeterministic
    * under metric ties (and max_by inherits that). `tiebreakCol` makes the
    * pick total: ties resolve to the smallest value of that column
    * (per-genre `row_number` over (metric DESC, tiebreak ASC) — a window,
    * not max_by, because max_by cannot express "min id on ties" for string
    * ids). This is the variant the DuckDB oracle gates
    * (`q_vault_genre_metrics`); with `tiebreakCol = None` the PG-parity
    * nulls-first max_by path runs instead.
    */
  def genreMetrics(movieInfoSat: DataFrame, movieHub: DataFrame,
                   movieGenreLink: DataFrame, genreHub: DataFrame,
                   tiebreakCol: Option[String] = None): DataFrame = {
    val perMovie = movieInfoSat.groupBy("movie_id").agg(
      avg(col("rating").cast(DoubleType)).as("rating"),
      avg(col("budget").cast(LongType)).as("budget"),
      avg(col("gross_worldwide").cast(LongType)).as("gross_worldwide"))
    val t3 = perMovie
      .join(broadcast(movieHub), Seq("movie_id"))
      .join(movieGenreLink, Seq("movie_id"))
      .join(broadcast(genreHub), Seq("genre_id"))
    val movieLabel = pgConcat(col("movie_nm"), lit(", "),
      col("movie_duration"), lit(" min"))
    tiebreakCol match {
      case Some(tb) =>
        import org.apache.spark.sql.expressions.Window
        def top(metric: String) = row_number().over(
          Window.partitionBy("genre_id").orderBy(desc(metric), asc(tb)))
        t3.withColumn("label", movieLabel)
          .withColumn("rb", top("budget"))
          .withColumn("rg", top("gross_worldwide"))
          .withColumn("rr", top("rating"))
          .groupBy(col("genre_id"), col("genre_nm").as("genre"))
          .agg(
            max(when(col("rb") === 1, col("label"))).as("max_budget_movie"),
            max(when(col("rg") === 1, col("label"))).as("max_gross_movie"),
            max(when(col("rr") === 1, col("label"))).as("best_rated_movie"),
            avg(col("rating")).as("average_rating"),
            count(col("movie_id")).as("genre_movie_quant"))
          .orderBy(desc("genre_movie_quant"))
      case None =>
        // PG `ORDER BY x DESC LIMIT 1` ranks NULLs first; struct ordering
        // on (x IS NULL, x) reproduces that under max_by.
        def pgDescFirst(c: String) = struct(col(c).isNull, col(c))
        t3.groupBy(col("genre_id"), col("genre_nm").as("genre"))
          .agg(
            max_by(movieLabel, pgDescFirst("budget")).as("max_budget_movie"),
            max_by(movieLabel, pgDescFirst("gross_worldwide")).as("max_gross_movie"),
            max_by(movieLabel, pgDescFirst("rating")).as("best_rated_movie"),
            avg(col("rating")).as("average_rating"),
            count(col("movie_id")).as("genre_movie_quant"))
          .orderBy(desc("genre_movie_quant"))
    }
  }

  /** mart/rating_slide.sql — leaderboard of the latest load full-outer-joined
    * on `movie_id` against the leaderboard of the two latest loads. The
    * reference's single-partition `row_number() over (order by ...)` is
    * replaced by the distributed GlobalRank operator.
    *
    * The two-load leaderboard feeds only its keys to the join, so one rank
    * serves: one aggregation over the two latest loads carries the latest
    * load's average (`avg FILTER latest`) and an in-latest flag, and one
    * rank orders flagged movies first — their places are the latest
    * leaderboard's. A movie only in the previous load keeps its
    * `movie_id` and nulls elsewhere. The join's multiplicity is kept too:
    * a latest movie appears once per hub row of its id (more than one
    * only when two (name, duration) pairs share an md5 key), which the
    * broadcast join on the hub's ids reproduces. No trailing sort: the
    * mart's row order is not part of its contract, and readers that need
    * one sort (the q_vault_rating_slide gate does).
    */
  def ratingSlide(movieHub: DataFrame, movieInfoSat: DataFrame): DataFrame = {
    import graft.operators.GlobalRank

    val loads = movieInfoSat.select(col(Scd2.ValidFrom)).distinct()
      .orderBy(desc(Scd2.ValidFrom)).limit(2)
      .agg(max(Scd2.ValidFrom).as("__latest"), min(Scd2.ValidFrom).as("__prev"))
    val latest = col(Scd2.ValidFrom) === col("__latest")
    val perMovie = movieInfoSat.crossJoin(broadcast(loads))
      .where(col(Scd2.ValidFrom) >= col("__prev"))
      .groupBy("movie_id")
      .agg(avg(when(latest, col("rating").cast(DoubleType))).as("rating"),
        max(latest).as("__in_latest"))
    val board = broadcast(movieHub).join(perMovie, Seq("movie_id"))
      .select(col("movie_nm"), col("movie_id"),
        col("movie_duration").cast(IntegerType).as("movie_duration"),
        col("rating"), col("__in_latest"))
    // PG `ORDER BY x DESC` ranks NULLS FIRST (mart/rating_slide.sql:7) —
    // Spark desc() is nulls-last, so make the PG ordering explicit.
    val ranked = GlobalRank.withRowNumber(board, "__place",
      Seq(desc("__in_latest"), desc_nulls_first("rating"),
        desc_nulls_first("movie_duration"), asc("movie_id")))
    val inLatest = col("__in_latest")
    ranked.join(broadcast(movieHub.select(col("movie_id").as("__id"))),
        col("movie_id") === col("__id") && inLatest, "left_outer")
      .select(col("movie_id"),
        when(inLatest, col("movie_nm")).as("movie_name"),
        when(inLatest, col("movie_duration")).as("duration"),
        when(inLatest, col("rating")).as("current_rating"),
        when(inLatest, col("__place")).as("current_place"))
  }
}
