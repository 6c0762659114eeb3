package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Data-quality probes (reference notebook cells 13, 17-18; SURVEY.md
  * §2.2 P12 / §2.4 A2): one global aggregation computing a
  * null/NaN/sentinel count per column in a single pass — N conditional
  * count expressions, one job, no per-column scans.
  */
object DataQuality {

  /** Count of "missing-ish" values per column: NULL, empty string,
    * literal 'None'/'NULL' substrings, NaN (numeric cols only). */
  def nullProbe(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val exprs: Seq[Column] = cols.map { c =>
      val base = col(c).isNull ||
        col(c).cast("string").contains("None") ||
        col(c).cast("string").contains("NULL") ||
        (col(c).cast("string") === "")
      val probe = types(c) match {
        case DoubleType | FloatType => base || isnan(col(c))
        case _                      => base
      }
      count(when(probe, lit(1))).alias(c)
    }
    df.select(exprs: _*)
  }
}
