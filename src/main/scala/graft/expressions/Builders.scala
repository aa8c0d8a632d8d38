package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Shared arity validation for the function builders of the
  * [[graft.Functions]] table.
  *
  * Function builders receive `Seq[Expression]` straight from the
  * analyzer; indexing it blindly turns a user's wrong argument count
  * into an `IndexOutOfBoundsException` (too few args) or a silent drop
  * (too many). Wrapping every builder in [[arity]] makes both cases a
  * descriptive invalid-argument-count error at analysis time — the same
  * `IllegalArgumentException` discipline as `MinHash.intArg`.
  */
private[graft] object Builders {

  /** Wrap `build` so it first validates `children.length == n`. */
  def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.length != n) throw new IllegalArgumentException(
        s"$name expects exactly $n argument${if (n == 1) "" else "s"}, " +
          s"got ${children.length}")
      build(children)
    }
}
