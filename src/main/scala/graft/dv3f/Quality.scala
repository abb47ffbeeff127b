package graft.dv3f

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks — the dbt `unique` / `not_null` schema tests as
  * operators (reference: dbt_core/models/example/schema.yml:4-22).
  * Each returns the VIOLATION count (0 = pass) so callers can assert or
  * report. Both are single-pass aggregations — one shuffle for unique
  * (by the checked column), none for notNull. [[stagingChecks]] fuses
  * a table's whole suite into ONE aggregation (one Spark action) rather
  * than one action per check.
  */
object Quality {

  /** dbt `unique` test: number of distinct values that occur more than
    * once. NULLs are ignored (dbt semantics).
    */
  def uniqueViolations(df: DataFrame, column: String): Long =
    df.filter(col(column).isNotNull)
      .groupBy(col(column)).count()
      .filter(col("count") > 1)
      .count()

  /** dbt `not_null` test: number of NULL rows. */
  def notNullViolations(df: DataFrame, column: String): Long =
    df.filter(col(column).isNull).count()

  /** Schema check constraint `maxLength: N` (reference:
    * scripts/config/config.yaml:22 declares maxLength 4 on annee; the
    * reference never enforces it — we do): number of non-NULL values
    * whose string length exceeds `maxLen`. Map-only count, no shuffle.
    */
  def maxLengthViolations(df: DataFrame, column: String, maxLen: Int): Long =
    df.filter(col(column).isNotNull &&
      length(col(column).cast("string")) > maxLen).count()

  /** dbt `accepted_values` test: number of non-NULL rows whose value is
    * outside the allowed set. Map-only (the set is a literal IN list).
    */
  def acceptedValuesViolations(df: DataFrame, column: String,
      allowed: Seq[String]): Long =
    df.filter(col(column).isNotNull &&
      !col(column).isin(allowed: _*)).count()

  /** dbt `accepted_values` with `store_failures`: one row per distinct
    * offending value with its count, sorted by value (empty when clean).
    * Shuffle key is the offending value — output cardinality is bounded
    * by distinct bad values, never by rows.
    */
  def acceptedValuesReport(df: DataFrame, column: String,
      allowed: Seq[String]): DataFrame =
    df.filter(col(column).isNotNull && !col(column).isin(allowed: _*))
      .groupBy(col(column).cast("string").as("bad_value"))
      .agg(count(lit(1)).as("violations"))
      .orderBy("bad_value")

  /** dbt `relationships` test (referential integrity): number of child
    * rows whose non-NULL foreign key has no match in the parent. ONE
    * left-anti join on the key — at scale the parent side reduces to its
    * distinct keys and broadcasts when dimension-sized.
    */
  def relationshipViolations(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): Long =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")
      .count()

  final case class CheckResult(table: String, column: String,
      check: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  /** One-pass column profiling — the dbt-test family generalized: per
    * column, row count, null count, exact distinct count, and min/max
    * (stringified for a uniform schema). All columns profile in a
    * SINGLE aggregation job (one scan; countDistinct expands to one
    * Expand + aggregate), then the one wide row is unpivoted driver-free.
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt, _}
    val aggs = cnt(lit(1)).as("__n") +: columns.flatMap { c =>
      Seq(cnt(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = columns.map { c =>
      struct(lit(c).as("column"), col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Run the reference's test suite shape over a staging frame:
    * unique(uid) + not_null(uid) (+ not_null on every id var, which the
    * uid hash requires — SURVEY.md §7.4.4), plus the declared maxLength
    * constraints (config.yaml:22: annee maxLength 4).
    *
    * ONE aggregation answers the whole suite: group by the primary key
    * once, counting per group its rows, its NULL id vars and its
    * over-length values, then fold the groups into one row holding
    * every violation count. The counts are exactly those of the
    * single-check functions above: a key group with more than one row
    * is a unique violation (the NULL-key group is not), and the NULL-key
    * group's row count is the not_null(pk) violation count.
    */
  def stagingChecks(df: DataFrame, table: StagingTable): Seq[CheckResult] = {
    val pk = table.primaryKey
    val lengths = table.maxLengths.toSeq.sortBy(_._1)
    // per-row violation flags, in the order of the returned results
    val flags: Seq[Column] = table.idVars.map(c => col(c).isNull) ++
      lengths.map { case (c, n) =>
        col(c).isNotNull && length(col(c).cast("string")) > n }
    val flagCounts = flags.indices.map(i => s"__f$i")
    val groups = df.groupBy(col(pk).as("__pk")).agg(count(lit(1)).as("__n"),
      flags.zip(flagCounts).map { case (f, name) => count(when(f, 1)).as(name) }: _*)
    val total = (c: Column) => coalesce(sum(c), lit(0L))
    val folded = groups.agg(
      total(when(col("__pk").isNotNull && col("__n") > 1, 1L)),
      total(when(col("__pk").isNull, col("__n"))) +:
        flagCounts.map(c => total(col(c))): _*).head()
    val checks = Seq((pk, "unique"), (pk, "not_null")) ++
      table.idVars.map(_ -> "not_null") ++
      lengths.map { case (c, n) => (c, s"max_length_$n") }
    checks.zipWithIndex.map { case ((c, check), i) =>
      CheckResult(table.name, c, check, folded.getLong(i)) }
  }
}
