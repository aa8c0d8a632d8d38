package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import Runner._

/** The concrete reference pipeline: 4 raw tables → preprocess → 7 core
  * tables → 5 marts, in the reference's declared order
  * (etl_layer_transfer.py:35-41,57-61). Each spec names the tables its
  * transform reads; [[Runner.runLoad]] runs the specs by that lineage.
  *
  * Raw tables are provided by the caller under the names below; everything
  * downstream is derived. Declared schemas come from meta.etl_col
  * (ddl.py:378-444).
  */
object Pipeline {

  val RawMovieImdb = "movie_raw_data_imdb"
  val RawMovieMeta = "movie_raw_data_metacritic"
  val RawActorImdb = "actor_raw_data_imdb"
  val RawActorMeta = "actor_raw_data_metacritic"

  private val RawMovies = Seq(RawMovieImdb, RawMovieMeta)
  private val RawActors = Seq(RawActorImdb, RawActorMeta)

  private def s(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Preprocessed actor views (B17/B18 repair). The reference rotates ONLY
    * the IMDB actor table (etl_layer_transfer.py:10-20 targets
    * actor_raw_data_imdb alone); metacritic rows pass through untouched. */
  private def actors(wh: Warehouse): (DataFrame, DataFrame) =
    (CoreQueries.preprocessActors(wh(RawActorImdb)), wh(RawActorMeta))

  /** Core (stg) layer specs — hubs insert-only, links/sats SCD2
    * (mode rule ddl.py:526). Schemas: ddl.py:378-414. */
  val coreSpecs: Seq[TableSpec] = Seq(
    TableSpec("genre_hub",
      s("genre_id" -> StringType, "genre_nm" -> StringType),
      pk = Seq("genre_id"), attrs = Seq("genre_nm"),
      InsertOnlyNew, RawMovies,
      wh => CoreQueries.genreHub(wh(RawMovieImdb), wh(RawMovieMeta))),
    TableSpec("employee_hub",
      s("emp_id" -> StringType, "emp_nm" -> StringType),
      pk = Seq("emp_id"), attrs = Seq("emp_nm"),
      InsertOnlyNew, RawActors,
      wh => { val (ai, am) = actors(wh); CoreQueries.employeeHub(ai, am) }),
    TableSpec("movie_hub",
      s("movie_id" -> StringType, "movie_nm" -> StringType,
        "movie_duration" -> IntegerType),
      pk = Seq("movie_id"), attrs = Seq("movie_nm", "movie_duration"),
      InsertOnlyNew, RawMovies,
      wh => CoreQueries.movieHub(wh(RawMovieImdb), wh(RawMovieMeta))),
    TableSpec("movie_info_sat",
      s("title_item_id" -> StringType, "movie_id" -> StringType,
        "original_name" -> StringType, "year" -> StringType,
        "certificate" -> StringType, "rating" -> StringType,
        "budget" -> StringType, "gross_worldwide" -> StringType,
        "scr_nm" -> StringType, "url" -> StringType),
      pk = Seq("title_item_id"),
      attrs = Seq("movie_id", "original_name", "year", "certificate",
        "rating", "budget", "gross_worldwide", "scr_nm", "url"),
      Scd2Merge, RawMovies :+ "movie_hub",
      wh => CoreQueries.movieInfoSat(wh(RawMovieImdb), wh(RawMovieMeta),
        wh("movie_hub"))),
    TableSpec("movie_genre_link",
      s("mv_gen_link_id" -> StringType, "movie_id" -> StringType,
        "genre_id" -> StringType),
      pk = Seq("mv_gen_link_id"), attrs = Seq("movie_id", "genre_id"),
      Scd2Merge, RawMovies ++ Seq("movie_hub", "genre_hub"),
      wh => CoreQueries.movieGenreLink(wh(RawMovieImdb), wh(RawMovieMeta),
        wh("movie_hub"), wh("genre_hub"))),
    TableSpec("movie_emp_link",
      s("movie_emp_link_id" -> StringType, "movie_id" -> StringType,
        "emp_id" -> StringType),
      pk = Seq("movie_emp_link_id"), attrs = Seq("movie_id", "emp_id"),
      Scd2Merge, RawActors ++ Seq("employee_hub", "movie_hub"),
      wh => { val (ai, am) = actors(wh)
        CoreQueries.movieEmpLink(ai, am, wh("employee_hub"),
          wh("movie_hub")) }),
    TableSpec("emp_movie_l_sat",
      s("movie_emp_role_id" -> StringType, "movie_emp_link_id" -> StringType,
        "description" -> StringType, "role" -> StringType),
      pk = Seq("movie_emp_role_id"),
      attrs = Seq("movie_emp_link_id", "description", "role"),
      Scd2Merge, RawActors :+ "movie_emp_link",
      wh => { val (ai, am) = actors(wh)
        CoreQueries.empMovieLSat(ai, am,
          wh("movie_emp_link")) }),
  )

  /** Mart layer specs — all insert-only-new (ddl.py:526, schema
    * 'data_mart'); schemas ddl.py:415-444. */
  val martSpecs: Seq[TableSpec] = Seq(
    TableSpec("employee_data",
      s("movie_emp_role_id" -> StringType, "name" -> StringType,
        "role" -> StringType, "role_description" -> StringType),
      pk = Seq("movie_emp_role_id"), attrs = Nil, InsertOnlyNew,
      Seq("employee_hub", "movie_emp_link", "emp_movie_l_sat"),
      wh => MartQueries.employeeData(wh("employee_hub"),
        wh("movie_emp_link"), wh("emp_movie_l_sat"))),
    TableSpec("movie_data",
      s("title_item_id" -> StringType, "movie_name" -> StringType,
        "movie_duration" -> IntegerType, "original_name" -> StringType,
        "year" -> StringType, "rating" -> StringType,
        "budget" -> StringType, "worldwide_gross" -> StringType,
        "rating_source" -> StringType, "url" -> StringType),
      pk = Seq("title_item_id"), attrs = Nil, InsertOnlyNew,
      Seq("movie_hub", "movie_info_sat"),
      wh => MartQueries.movieData(wh("movie_hub"), wh("movie_info_sat"))),
    TableSpec("movie_employee_link",
      s("movie_emp_link_id" -> StringType, "movie_nm" -> StringType,
        "movie_duration" -> IntegerType, "emp_nm" -> StringType),
      pk = Seq("movie_emp_link_id"), attrs = Nil, InsertOnlyNew,
      Seq("movie_hub", "movie_emp_link", "employee_hub"),
      wh => MartQueries.movieEmployeeLink(wh("movie_hub"),
        wh("movie_emp_link"), wh("employee_hub"))),
    TableSpec("genre_metrics",
      s("genre_id" -> StringType, "genre" -> StringType,
        "max_budget_movie" -> StringType, "max_gross_movie" -> StringType,
        "best_rated_movie" -> StringType, "average_rating" -> DoubleType,
        "genre_movie_quant" -> IntegerType),
      pk = Seq("genre_id"), attrs = Nil, InsertOnlyNew,
      Seq("movie_info_sat", "movie_hub", "movie_genre_link", "genre_hub"),
      wh => MartQueries.genreMetrics(wh("movie_info_sat"), wh("movie_hub"),
        wh("movie_genre_link"), wh("genre_hub"))),
    TableSpec("rating_slide",
      s("movie_id" -> StringType, "movie_name" -> StringType,
        "duration" -> IntegerType, "current_rating" -> DoubleType,
        "current_place" -> IntegerType),
      pk = Seq("movie_id"), attrs = Nil, InsertOnlyNew,
      Seq("movie_hub", "movie_info_sat"),
      wh => MartQueries.ratingSlide(wh("movie_hub"), wh("movie_info_sat"))),
  )

  val allSpecs: Seq[TableSpec] = coreSpecs ++ martSpecs

  /** mart/movie_employee_link.sql as registered SQL TEXT — the form
    * `meta.etl_tab_script` actually stores (ddl.py:559-570). Must stay
    * semantically identical to [[MartQueries.movieEmployeeLink]]; the
    * PipelineSpec SQL-registry scenario asserts the two produce the same
    * mart. DISTINCT collapses the SCD2 version duplicates exactly like
    * the programmatic transform. */
  val movieEmployeeLinkSql: String =
    """SELECT DISTINCT l.movie_emp_link_id, h.movie_nm,
      |       h.movie_duration, e.emp_nm
      |FROM movie_hub h
      |JOIN movie_emp_link l ON h.movie_id = l.movie_id
      |JOIN employee_hub e ON e.emp_id = l.emp_id""".stripMargin

  /** [[allSpecs]] with `name`'s transform swapped for registered SQL text
    * run via [[Runner.sqlTransform]] — the SQL-text registry execution
    * path. The spec's inputs become the tables the text reads, so the
    * load schedules it after their producers. */
  def withSqlTransform(name: String, sqlText: String): Seq[TableSpec] =
    allSpecs.map { sp =>
      if (sp.name == name) sp.copy(inputs = Runner.sqlInputs(sqlText),
        transform = Runner.sqlTransform(sqlText))
      else sp
    }

  /** One full load: raw tables in, core + marts merged, independent
    * specs concurrently. */
  def runLoad(wh: Warehouse, loadTs: String): Warehouse =
    Runner.runLoad(wh, allSpecs, loadTs)
}
