package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The real content lives in [[graft.queries.Catalog]]: one named query per
  * implemented operator (SURVEY.md §2), each with its DuckDB oracle SQL.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Catalog.entry(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Insertion-ordered (SeqMap), NOT hash-ordered: Bench iterates this
    * map, and hash order is arbitrary — it put `q_vault_movie_data` (a
    * mart over memoized staging frames) at position 1 of 294, where it
    * ran JVM-cold AND absorbed the whole vault staging derivation that
    * the 11 later vault gates reused warm (driver rounds 10–12 recorded
    * it at 12× its isolated floor for exactly this reason). Catalog
    * order groups families and builds staging bottom-up (hubs → links →
    * sats → marts), so each gate pays its own incremental cost and the
    * attribution is stable when gates are added or renamed.
    *
    * Every gate first runs [[Functions.ensure]] on its session, so gate
    * bodies use the native SQL functions without registering them. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.SeqMap.from(
      Catalog.queries.map { q =>
        q.name -> { (s: SparkSession, dir: String) =>
          Functions.ensure(s)
          q.fn(s, dir)
        }
      })

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → weaker rows-only check. */
  def oracleSql: Map[String, String] =
    scala.collection.immutable.SeqMap.from(
      Catalog.queries.flatMap(q => q.oracle.map(q.name -> _)))
}
