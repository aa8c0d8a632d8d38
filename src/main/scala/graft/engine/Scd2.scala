package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCD Type-2 historization engine — the Spark-native re-expression of the
  * reference's `stg_checker` stored procedure (ddl.py:463-558).
  *
  * The reference UPDATEs open rows in place and INSERTs new versions
  * (ddl.py:537-549). Vanilla Spark has no UPDATE, so the merge is a
  * deterministic table rebuild from exactly one shuffle:
  *
  *   history (closed rows)                              — untouched, unioned back
  *   open ⟗ snapshot (full outer on pk)                 — one join classifies every row,
  *   and each joined row yields one or two versions:
  *     pk only in open              → close out (valid_to := loadTs)   [ddl.py:537-542]
  *     both sides, attrs changed    → close out + insert new version   [ddl.py:537-549]
  *     both sides, attrs unchanged  → keep open row as-is
  *     pk only in snapshot          → insert new open version          [ddl.py:544-549]
  *
  * Scale notes (100 TB target):
  *  - `history` never joins — it is a pure union leg, so cost is O(changed),
  *    not O(table). The storage side delivers the same bound:
  *    [[Runner.Warehouse.putScd2]] partitions history by the `valid_to`
  *    date and swaps in only the open + close-date partitions
  *    (PipelineSpec asserts closed partitions are file-level untouched).
  *  - The single full-outer join shuffles on pk, and the plan refers to it
  *    once: each joined row explodes into its one or two versions, so the
  *    join runs once per merge. AQE skew-join splits hot keys. Both legs
  *    are pre-projected to pk+attrs (column pruning).
  *
  * Null semantics of the change predicate (SURVEY.md J59): the reference
  * builds `l.c1 != t.c1 or ...` which is null-hostile — a NULL on either side
  * makes the comparison UNKNOWN, so the row is neither closed nor re-inserted
  * (treated as unchanged). Reproduced here with `=!=` + coalesce(_, false).
  */
object Scd2 {

  /** Open-row sentinel (ddl.py:527), and its date: the name of the
    * partition that holds every open row of a persisted SCD2 table. */
  val OpenEndDate = "9999-12-31"
  val OpenEnd: Column = lit(s"$OpenEndDate 00:00:00").cast(TimestampType)

  val ValidFrom = "valid_from"
  val ValidTo = "valid_to"
  private val validityCols = Seq(ValidFrom, ValidTo)

  /** Stamp a freshly computed snapshot with validity columns, as `temp_table`
    * does for SCD2-eligible tables (ddl.py:527-529). `loadTs` is frozen once
    * per run — PG `current_timestamp` is transaction-stable (SURVEY.md H49).
    */
  def stamp(snapshot: DataFrame, loadTs: String): DataFrame =
    snapshot
      .withColumn(ValidFrom, lit(loadTs).cast(TimestampType))
      .withColumn(ValidTo, OpenEnd)

  /** The SCD2 merge (links + satellites branch, ddl.py:526-549).
    *
    * Contract: `snapshot` must be pk-unique (true for every pipeline table
    * — the transforms end in distinct over md5 keys). Conflicting rows
    * sharing a pk would multiply through the full-outer join (as they
    * would corrupt the reference's UPDATE/INSERT legs); exact duplicate
    * rows are dropped defensively below.
    *
    * Output: `history` unioned with one pass over the join. A row with an
    * open side yields that version, kept open when the snapshot carries
    * it unchanged and closed at `loadTs` otherwise; a row with a snapshot
    * side that is new or changed also yields the snapshot's version, open
    * from `loadTs`.
    *
    * @param target   current table incl. validity columns (may be empty)
    * @param snapshot freshly computed rows, pk + attrs only (no validity)
    * @param pk       primary-key columns (non-null by construction: md5 keys)
    * @param attrs    descriptive columns compared by the change predicate
    */
  def merge(target: DataFrame, snapshot: DataFrame, pk: Seq[String],
            attrs: Seq[String], loadTs: String): DataFrame = {
    val outCols = pk ++ attrs ++ validityCols
    val snapshotDeduped = snapshot.dropDuplicates(pk ++ attrs)

    val open = target.filter(col(ValidTo) === OpenEnd)
    val history = target.filter(col(ValidTo) =!= OpenEnd)

    val o = open.select(outCols.map(col): _*).alias("o")
    val s = stamp(snapshotDeduped, loadTs).select(outCols.map(col): _*)
      .alias("s")

    val joinCond = pk.map(k => col(s"o.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = o.join(s, joinCond, "full_outer")

    val inOpen = pk.map(k => col(s"o.$k").isNotNull).reduce(_ && _)
    val inSnap = pk.map(k => col(s"s.$k").isNotNull).reduce(_ && _)
    // Null-hostile `!=` of the reference (ddl.py:532-534): UNKNOWN → unchanged.
    val changed =
      if (attrs.isEmpty) lit(false)
      else coalesce(attrs.map(a => col(s"o.$a") =!= col(s"s.$a"))
        .reduce(_ || _), lit(false))

    val closedAtLoad = lit(loadTs).cast(TimestampType)
    val oVersion = struct(outCols.map {
      case ValidTo => when(inSnap && !changed, col(s"o.$ValidTo"))
        .otherwise(closedAtLoad).as(ValidTo)
      case c => col(s"o.$c").as(c)
    }: _*)
    val sVersion = struct(outCols.map(c => col(s"s.$c").as(c)): _*)
    val isNew = inSnap && (!inOpen || changed)
    val versions = joined
      .select(explode(filter(array(when(inOpen, oVersion), when(isNew, sVersion)),
        _.isNotNull)).as("v"))
      .select("v.*")

    history.select(outCols.map(col): _*).unionByName(versions)
  }

  /** Insert-only-new branch for hubs and marts (ddl.py:551-556): append
    * snapshot rows whose pk is absent; existing rows are immutable, so marts
    * accrete across runs (SURVEY.md J62). One shuffle (the anti join) —
    * broadcast the snapshot side when it is small relative to the target.
    */
  def insertOnlyNew(target: DataFrame, snapshot: DataFrame,
                    pk: Seq[String]): DataFrame = {
    // PG `key not in (select key ...)` never inserts a NULL key (UNKNOWN);
    // left_anti WOULD re-append NULL-pk rows on every run (a NULL key never
    // matches), accreting duplicates — filter them like the reference.
    val nonNullPk = pk.map(col(_).isNotNull).reduce(_ && _)
    target.unionByName(
      snapshot.select(target.columns.map(col): _*)
        .where(nonNullPk)
        .join(target.select(pk.map(col): _*), pk, "left_anti"))
  }

  /** Schema reconciliation (stg_checker's add/alter/drop loops,
    * ddl.py:486-520): the declared schema wins over the physical one on
    * every run. 35 lines of PL/pgSQL DDL become one projection:
    * present column → cast to declared type; missing → typed NULL;
    * undeclared → dropped (simply not selected).
    */
  def reconcile(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }
}
