package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation — the Deequ-style rule engine a
  * production ingest pipeline runs before admitting a batch: uniqueness,
  * completeness, ranges, referential integrity, functional dependencies.
  * Output is one (rule, violations) row per rule, all exact bigint
  * counts, so the whole report replays in SQL.
  *
  * Scale shape (100 TB): every ROW-LOCAL rule (not-null, range,
  * predicate) folds into ONE shared aggregation pass over the table —
  * conditional sums, map-side combinable, no shuffle beyond the final
  * 1-row combine. Each KEYED rule (uniqueness, functional dependency)
  * is one groupBy on its own key; referential integrity is one
  * left-anti join against the dimension (broadcast when small). Nothing
  * collects more than the one-row-per-rule report.
  */
object Constraints {

  sealed trait Rule { def name: String }

  /** Rows whose `col` is null. */
  final case class NotNull(name: String, col: String) extends Rule

  /** Rows where `col` falls outside [lo, hi] (nulls count as violations). */
  final case class InRange(name: String, col: String, lo: Long, hi: Long) extends Rule

  /** Rows failing an arbitrary boolean SQL predicate (nulls = violation). */
  final case class Check(name: String, predicateSql: String) extends Rule

  /** Rows sharing a key with at least one other row (i.e. every member
    * of every duplicated key group counts).
    */
  final case class Unique(name: String, cols: Seq[String]) extends Rule

  /** Key groups mapping to more than one distinct value combination. */
  final case class FunctionalDep(name: String, lhs: Seq[String],
      rhs: Seq[String]) extends Rule

  /** Rows whose `fkCol` has no match in `dim.pkCol` (orphans). Null FKs
    * count as orphans — use NotNull separately to distinguish.
    */
  final case class RefIntegrity(name: String, fkCol: String, dim: DataFrame,
      pkCol: String) extends Rule

  /** Run every rule; returns (rule, violations) — one bigint row each. */
  def validate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules")
    val rowLocal: Seq[(String, Column)] = rules.collect {
      case NotNull(n, c) => n -> col(c).isNull
      case InRange(n, c, lo, hi) =>
        n -> !(col(c) >= lo && col(c) <= hi) // null-safe: null comparisons
      // are null -> coalesce below flags them
      case Check(n, p) => n -> !expr(p)
    }
    val rowLocalReport: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else {
        // one shared pass: every row-local rule is a conditional sum
        val aggs = rowLocal.map { case (n, bad) =>
          sum(when(coalesce(bad, lit(true)), 1L).otherwise(0L)).as(n)
        }
        val row = df.agg(aggs.head, aggs.tail: _*)
        Some(row.select(explode(map(rowLocal.flatMap { case (n, _) =>
          Seq(lit(n), coalesce(col(n), lit(0L)))
        }: _*)).as(Seq("rule", "violations"))))
      }

    val keyed: Seq[DataFrame] = rules.collect {
      case Unique(n, cols0) =>
        df.groupBy(cols0.map(col): _*).agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1)
          .agg(coalesce(sum("__c"), lit(0L)).as("violations"))
          .select(lit(n).as("rule"), col("violations"))
      case FunctionalDep(n, lhs, rhs) =>
        df.groupBy(lhs.map(col): _*)
          .agg(countDistinct(struct(rhs.map(col): _*)).as("__d"))
          .filter(col("__d") > 1)
          .agg(count(lit(1)).as("violations"))
          .select(lit(n).as("rule"), col("violations"))
      case RefIntegrity(n, fk, dim, pk) =>
        df.join(dim.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(n).as("rule"), col("violations"))
    }

    (rowLocalReport.toSeq ++ keyed).reduce(_ unionByName _)
  }
}
