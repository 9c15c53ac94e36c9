package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Correction operators (SURVEY.md §2.7) as pure Column transforms —
  * the reference applies them as one UPDATE per cell
  * (utils.py:1444-1576); here each is a vectorized projection.
  */
object Corrections {

  /** C1/C9: null-out sentinel or flagged values. */
  def nullOut(c: Column, flagged: Column): Column =
    when(flagged, lit(null)).otherwise(c)

  /** C3: trim + collapse internal whitespace. */
  def fixSpaces(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** C5: strip special characters (utils.py:1473-1478 regex). */
  def stripSpecials(c: Column): Column = regexp_replace(c, "[^A-Za-z0-9]+", "")

  /** C10: the reference's `string_to_capitalize` is Python
    * str.capitalize — ONLY the first char uppercased, rest lowercased
    * (not initcap; SURVEY.md §2.7 C10 parity note).
    */
  def capitalize(c: Column): Column =
    when(c.isNull, lit(null))
      .otherwise(concat(upper(c.substr(lit(1), lit(1))),
        lower(c.substr(lit(2), length(c)))))

  /** C12: currency strip + rate conversion, 2dp (utils.py:1351-1374). */
  def currencyToNumber(c: Column, rate: Double): Column =
    round(regexp_replace(c, "[^0-9.]+", "").cast("double") * rate, 2)

  /** A11/C14: null-safe column-pair equality over the whole frame —
    * one aggregate per pair, no row loops (functions.sql:1423-1447).
    */
  def duplicateColumnPairs(df: DataFrame, cols: Seq[String]): Seq[(String, String)] = {
    if (cols.size < 2) return Nil
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      max(when(!(col(a) <=> col(b)), 1).otherwise(0)).as(s"${a}__$b")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // max over an EMPTY frame is null: no rows → no duplicate evidence
    pairs.zipWithIndex.collect {
      case ((a, b), i) if !row.isNullAt(i) && row.getInt(i) == 0 => (a, b)
    }
  }

  /** C15: 1NF column splitter gate (utils.py:651-659): split only when
    * >50% of rows contain a space AND avg token count <= 3.
    */
  def splittable(df: DataFrame, c: String): Boolean = {
    val row = df.agg(
      avg(col(c).contains(" ").cast("double")).as("space_rate"),
      avg(size(split(col(c), " "))).as("avg_tokens")).head()
    row.getDouble(0) > 0.5 && row.getDouble(1) <= 3.0
  }

  /** C15: split into `col_0..n-1` keeping sub-columns with >= 50%
    * non-null of the original count (utils.py:667-693).
    */
  def splitColumn(df: DataFrame, c: String, maxParts: Int = 4): DataFrame = {
    // get() (not getItem): ANSI mode throws on out-of-bounds indices
    val parts = (0 until maxParts).map(i =>
      get(split(col(c), " "), lit(i)).as(s"${c}_$i"))
    val withParts = df.select((df.columns.map(col) ++ parts): _*)
    val total = df.where(col(c).isNotNull).count().toDouble
    val keepRates = withParts.agg(
      count(col(s"${c}_0")).cast("double").as("k0"),
      (1 until maxParts).map(i => count(col(s"${c}_$i")).cast("double").as(s"k$i")): _*).head()
    val keep = (0 until maxParts).filter(i => keepRates.getDouble(i) / total >= 0.5)
    withParts.select((df.columns.filter(_ != c).map(col) ++
      keep.map(i => col(s"${c}_$i"))): _*)
  }
}
