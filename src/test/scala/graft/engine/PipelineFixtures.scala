package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import Runner.Warehouse

/** Mini raw tables in the reference's own schemas (SURVEY.md §5.2 #4):
  * two movies whose Matrix rating is the loads' moving part, and actor
  * credits with one column-rotated row for the preprocess step. */
object PipelineFixtures {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def movieRaw(rating: String) = Seq(
    ("http://m/1", "The Matrix", "The Matrix", "1999", "R", rating,
      "['Action', 'Sci-Fi']", "63000000", "467222728", "136"),
    ("http://m/2", "Heat", "Heat", "1995", "R", "8.3",
      "['Action', 'Crime']", "60000000", "187436818", "170")
  ).toDF("url", "movie_name", "original_name", "year", "certificate",
    "rating", "genres", "budget", "gross_worldwide", "min_duration")

  private lazy val actorRaw = Seq(
    ("The Matrix", 136, "Keanu Reeves", "Neo", "actor"),
    ("The Matrix", 136, "Lana Wachowski", "directed by", "director"),
    ("Heat", 170, "Al Pacino", "Vincent Hanna", "actor"),
    // column-rotated row (B18): name/raw_role/role shifted
    ("Heat", 170, "Robert De Niro", "Neil McCauley", "actor")
  ).toDF("movie_name", "movie_duration", "name", "raw_role", "role")

  private lazy val rotated = Seq(
    // role column holds the name → preprocess must rotate back
    ("Heat", 170, "Vincent Hanna2", "actor", "Val Kilmer")
  ).toDF("movie_name", "movie_duration", "raw_role", "role", "name")
    .select("movie_name", "movie_duration", "name", "raw_role", "role")

  /** Lands the four raw tables of one load; `withActors = false` leaves
    * both actor sources empty. */
  def land(wh: Warehouse, rating: String, withActors: Boolean = true): Unit = {
    wh.put(Pipeline.RawMovieImdb, movieRaw(rating))
    wh.put(Pipeline.RawMovieMeta, movieRaw(rating).limit(0))
    wh.put(Pipeline.RawActorImdb,
      if (withActors) actorRaw.union(rotated) else actorRaw.limit(0))
    wh.put(Pipeline.RawActorMeta, actorRaw.limit(0))
  }

  /** A table's rows as sorted strings over its columns sorted by name:
    * equal for equal tables whichever path wrote them. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect()
      .map(_.toString).toSeq.sorted
}
