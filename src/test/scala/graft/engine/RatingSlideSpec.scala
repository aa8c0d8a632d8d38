package graft.engine

import graft.SparkSpec
import PipelineFixtures.rowsOf

/** `MartQueries.ratingSlide` against mart/rating_slide.sql as written:
  * two ranked leaderboards full-outer-joined on `movie_id`. */
class RatingSlideSpec extends SparkSpec {

  import spark.implicits._

  private val referenceSql =
    """WITH loads AS (SELECT DISTINCT valid_from FROM sat
      |               ORDER BY valid_from DESC LIMIT 2),
      |board AS (SELECT h.movie_nm, s.movie_id, h.movie_duration,
      |                 avg(CAST(s.rating AS DOUBLE)) AS rating
      |          FROM sat s JOIN hub h ON s.movie_id = h.movie_id
      |          WHERE s.valid_from = (SELECT max(valid_from) FROM loads)
      |          GROUP BY h.movie_nm, s.movie_id, h.movie_duration),
      |ranked AS (SELECT *, row_number() OVER (ORDER BY rating DESC NULLS FIRST,
      |             movie_duration DESC NULLS FIRST, movie_id) AS place
      |           FROM board),
      |board2 AS (SELECT h.movie_nm, s.movie_id, h.movie_duration
      |           FROM sat s JOIN hub h ON s.movie_id = h.movie_id
      |           WHERE s.valid_from IN (SELECT valid_from FROM loads)
      |           GROUP BY h.movie_nm, s.movie_id, h.movie_duration)
      |SELECT coalesce(r.movie_id, b.movie_id) AS movie_id,
      |       r.movie_nm AS movie_name, r.movie_duration AS duration,
      |       r.rating AS current_rating, r.place AS current_place
      |FROM ranked r FULL JOIN board2 b ON r.movie_id = b.movie_id""".stripMargin

  test("one rank gives the rows, places and multiplicity of the two-leaderboard join") {
    // m4 has two hub rows: "Kid 1"||160 and "Kid 11"||60 share an md5 key
    val hub = Seq(("m1", "Heat", 170), ("m2", "Alien", 117),
        ("m3", "Ran", 160), ("m4", "Kid 1", 160), ("m4", "Kid 11", 60),
        ("m5", "Up", 96), ("m6", "Jaws", 124))
      .toDF("movie_id", "movie_nm", "movie_duration")
    val sat = Seq(
        // the oldest load is outside the two latest
        ("m1", "5", "2024-01-01"), ("m6", "9", "2024-01-01"),
        ("m1", "8", "2024-02-01"), ("m2", "7", "2024-02-01"),
        ("m5", "6", "2024-02-01"),
        ("m1", "7", "2024-03-01"), ("m1", "9", "2024-03-01"),
        ("m2", "8", "2024-03-01"), ("m3", null, "2024-03-01"),
        ("m4", "8", "2024-03-01"), ("m9", "9", "2024-03-01"))
      .toDF("movie_id", "rating", "valid_from")
      .withColumn("valid_from", $"valid_from".cast("timestamp"))
      .withColumn("valid_to", Scd2.OpenEnd)
    hub.createOrReplaceTempView("hub")
    sat.createOrReplaceTempView("sat")
    val want = rowsOf(spark.sql(referenceSql))
    assert(rowsOf(MartQueries.ratingSlide(hub, sat)) == want)
    // m4 twice per hub row, m5 (previous load only) as a bare key
    assert(want.size == 8 && want.count(_.contains(",m4,")) == 4 &&
      want.contains("[null,null,null,m5,null]"))
  }
}
