package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectations — declarative contract checks over a table,
  * compiled into ONE aggregation pass (the Great-Expectations-style gate a
  * pipeline runs before publishing a dataset).
  *
  * The reference has no data-quality surface (its validation is the
  * JoinValidate example DAG, tez-examples/.../JoinValidate.java:131-210 —
  * a bespoke anti-join); this generalizes that idea into a rule library.
  *
  * Scale design: every rule lowers to an aggregate expression over the
  * same scan — N rules cost ONE pass with partial aggregation, not N
  * passes. `Unique` lowers to `count(*) − count(DISTINCT struct(cols))`
  * inside the same aggregate (Catalyst plans the distinct via one Expand —
  * still a single scan). The result is rows-per-rule, derived from the
  * single aggregated row by an inline explode — no second job.
  *
  * Determinism: every output is an exact integer violation count and a
  * boolean — no float surface at all.
  */
object Expectations {

  /** One declarative check; `violates` is the per-row violation predicate
    * (null-safe: a NULL predicate counts per the rule's own definition).
    */
  sealed trait Rule { def name: String }

  /** Column must be non-null. */
  final case class NotNull(col: String) extends Rule {
    def name = s"not_null($col)"
  }

  /** Column must lie in [lo, hi] (NULLs do not violate — compose with
    * [[NotNull]] to forbid them; a contract should say which it means).
    */
  final case class InRange(col: String, lo: Double, hi: Double) extends Rule {
    def name = s"in_range($col)"
  }

  /** Column must be one of `values` (NULLs do not violate). */
  final case class AcceptedValues(col: String, values: Seq[String]) extends Rule {
    def name = s"accepted_values($col)"
  }

  /** String column must match the regex (NULLs do not violate). */
  final case class MatchesRegex(col: String, regex: String) extends Rule {
    def name = s"matches_regex($col)"
  }

  /** The column tuple must be unique across the table; violations = the
    * number of surplus rows (count − distinct count).
    */
  final case class Unique(cols: Seq[String]) extends Rule {
    def name = s"unique(${cols.mkString(",")})"
  }

  /** Cross-table referential integrity: every non-NULL value of `col`
    * must exist in the reference table's `refCol` (NULLs do not violate —
    * compose with [[NotNull]] to forbid them). The reference table is
    * looked up by `refName` in the `refs` map passed to [[check]].
    * Violations = the exact count of rows whose key has no match.
    *
    * Unlike the single-table rules this cannot lower into the shared
    * aggregate — it IS a join: the reference key distinct-projects
    * (partial aggregation collapses it before any exchange; a dimension
    * side broadcasts under AQE) and the checked table anti-joins on one
    * equality, then reduces to a single count row. One join + one scalar
    * per rule is the honest minimum for the check at any scale.
    */
  final case class ForeignKey(col: String, refName: String, refCol: String)
      extends Rule {
    def name = s"foreign_key($col -> $refName.$refCol)"
  }

  private def violationCount(r: Rule): Column = {
    // coalesce: sum over an EMPTY table is NULL — an empty dataset has
    // zero violations, not an unknown count
    def zsum(c: Column) = coalesce(sum(c), lit(0L))
    r match {
      case NotNull(c) =>
        zsum(when(col(c).isNull, 1L).otherwise(0L))
      case InRange(c, lo, hi) =>
        zsum(when(col(c).isNotNull &&
          (col(c) < lit(lo) || col(c) > lit(hi)), 1L).otherwise(0L))
      case AcceptedValues(c, vs) =>
        zsum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L).otherwise(0L))
      case MatchesRegex(c, re) =>
        zsum(when(col(c).isNotNull && !col(c).rlike(re), 1L).otherwise(0L))
      case Unique(cs) =>
        count(lit(1)) - count_distinct(struct(cs.map(col): _*))
      case fk: ForeignKey =>
        throw new IllegalStateException(s"${fk.name} is cross-table — handled in check()")
    }
  }

  /** One anti-join violation count for a [[ForeignKey]] rule: a 1-row
    * frame shaped like the single-pass rows.
    */
  private def fkCount(df: DataFrame, fk: ForeignKey, ref: DataFrame): DataFrame =
    df.filter(col(fk.col).isNotNull).select(col(fk.col).as("__k"))
      .join(ref.filter(col(fk.refCol).isNotNull)
        .select(col(fk.refCol).as("__k")).distinct(), Seq("__k"), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .select(lit(fk.name).as("rule"), col("violations"),
        (col("violations") === 0L).as("pass"))

  /** Evaluate all rules: the single-table rules compile into ONE
    * aggregation pass; each [[ForeignKey]] rule adds one anti-join count
    * (its inherent cost) unioned beneath. Output: one row per rule —
    * (rule, violations, pass) — single-table rules first in declaration
    * order, then the FK rules (the driver gate sorts rows anyway).
    * `refs` maps each FK rule's `refName` to its reference table. Run
    * per micro-batch, the reports are the monitoring series a pipeline
    * alerts on: the offline contract (q161) and the online monitor are
    * one rule set.
    */
  def check(df: DataFrame, rules: Seq[Rule],
      refs: Map[String, DataFrame] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "no rules")
    val (fks, aggRules) =
      rules.partition(_.isInstanceOf[ForeignKey]) match {
        case (f, a) => (f.map(_.asInstanceOf[ForeignKey]), a)
      }
    val aggFrame = if (aggRules.isEmpty) None else Some {
      val aggd = df.agg(
        violationCount(aggRules.head).as("v0"),
        aggRules.tail.zipWithIndex.map { case (r, i) =>
          violationCount(r).as(s"v${i + 1}") }: _*)
      val rows = aggRules.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rule"), col(s"v$i").cast("long").as("violations"))
      }
      aggd.select(explode(array(rows: _*)).as("r"))
        .select(col("r.rule").as("rule"), col("r.violations").as("violations"),
          (col("r.violations") === 0L).as("pass"))
    }
    val fkFrames = fks.map { fk =>
      val ref = refs.getOrElse(fk.refName, throw new IllegalArgumentException(
        s"${fk.name}: no reference table '${fk.refName}' in refs"))
      fkCount(df, fk, ref)
    }
    (aggFrame.toSeq ++ fkFrames).reduce(_ unionByName _)
  }
}
