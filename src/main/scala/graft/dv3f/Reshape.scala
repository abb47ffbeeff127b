package graft.dv3f

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The four reshape operators at the heart of the reference's transform
  * (reference: scripts/extract_load.py:119-201), re-expressed as pure
  * Catalyst built-ins — zero UDFs, fully codegen'd, shuffle only at the
  * pivot's aggregation. See SURVEY.md §2 T1-T4.
  */
object Reshape {

  /** T1 — unpivot (melt): wide `<metric>_cod<NNN>` columns → long
    * (cod_full, valeur). reference: scripts/extract_load.py:143-153.
    * All value columns are cast to double (pandas melt produces one
    * object column; our common type is the declared metric type ceiling).
    * Narrow-only op: no shuffle, stays in whole-stage codegen.
    */
  def unpivotWide(df: DataFrame, idVars: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(idVars.contains)
    df.unpivot(
      idVars.map(col).toArray,
      valueCols.map(c => col(c).cast(DoubleType)).toArray,
      "cod_full", "valeur")
  }

  /** T2 — split cod_full on its LAST underscore into (metric name, code),
    * then strip the literal "cod" prefix. reference:
    * scripts/extract_load.py:156-161 uses pandas rsplit + a row lambda;
    * here two regexp_extracts and a regexp_replace. The reference's
    * `.replace("cod","")` removes ALL occurrences (codes are numeric so
    * behavior matches the non-anchored replace — replicated bit-exactly).
    */
  def splitCod(df: DataFrame): DataFrame = df
    .withColumn("cod", regexp_replace(
      regexp_extract(col("cod_full"), codSplit, 2), "cod", ""))
    .withColumn("cod_full", regexp_extract(col("cod_full"), codSplit, 1))

  /** The (metric name, code) split of [[splitCod]], also applied by the
    * `dv3f` source's staging-shaped reader.
    */
  private[graft] val codSplit = "^(.*)_([^_]*)$"

  /** T3 — pivot long → wide, one column per metric, first non-null value
    * per cell. reference: scripts/extract_load.py:164-169
    * (pandas pivot_table aggfunc="first").
    *
    * The pivot value list comes from config, NOT from a distinct scan —
    * deterministic output schema at any scale, and one less job. Columns
    * with no data become typed NULL columns (pandas drops them; the
    * reference's downstream name-based upsert NULL-fills them anyway, so
    * end state matches — SURVEY.md §7.4.1).
    */
  def pivotFirst(df: DataFrame, table: StagingTable): DataFrame = {
    val keys = table.idVars :+ "cod"
    // pandas pivot_table(dropna=True) drops index rows whose cells are all
    // NaN; filtering null measures pre-pivot reproduces that (groups with
    // no non-null metric never form) and matches SQL UNPIVOT's default
    // null exclusion. Also shrinks the shuffle.
    val wide = df.filter(col("valeur").isNotNull)
      .groupBy(keys.map(col): _*)
      .pivot("cod_full", table.metricNames)
      .agg(first(col("valeur"), ignoreNulls = true))
    // restore declared metric types (long for nbtrans, double otherwise)
    // in one projection
    wide.select(keys.map(col) ++
      table.metricFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** T4 — content-hash surrogate key: sha256 hex over the UTF-8 concat of
    * (annee, dep|reg, cod), all cast to string. reference:
    * scripts/extract_load.py:171-193 (a per-row hashlib lambda); here the
    * built-in, codegen'd sha2(concat(...)). Key columns must be non-null
    * (Quality.notNull guards this) — concat null-propagates where pandas
    * would render "None" (SURVEY.md §7.4.4).
    */
  def uidColumn(table: StagingTable): Column =
    sha2(concat(
      col("annee").cast(StringType),
      col(table.codeCol).cast(StringType),
      col("cod").cast(StringType)), 256)

  def withUid(df: DataFrame, table: StagingTable): DataFrame =
    df.withColumn("uid", uidColumn(table))

  /** Full transform: wide API frame → staging rows (T1∘T2∘T3∘T4),
    * with columns in declared schema order.
    */
  def transform(df: DataFrame, table: StagingTable): DataFrame = {
    val piv = pivotFirst(splitCod(unpivotWide(df, table.idVars)), table)
    withUid(piv, table).select(table.schema.fieldNames.map(col): _*)
  }
}
