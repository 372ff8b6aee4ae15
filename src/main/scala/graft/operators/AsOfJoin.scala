package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of ("most recent prior") join — an operator Spark lacks natively.
  *
  * Preference ladder (SURVEY.md / builder prompt): compose built-ins
  * before writing a custom SparkPlan. An as-of join where both sides
  * share a partition key reduces exactly to: tag the reference rows,
  * union (or co-filter) the streams, take an ignore-nulls `last` over a
  * (key, time, tie) window with a strictly-prior frame, keep the probe
  * rows. Cost: ONE shuffle on the key + a sort — the same lower bound a
  * dedicated as-of physical operator would pay, so a custom
  * SparkPlan/Strategy buys nothing here (it becomes worthwhile only for
  * tolerance-bounded scans over pre-sorted bucketed storage).
  *
  * Determinism: ties on the timestamp are broken by `tieCol` (a unique
  * id), so results are total-order stable and oracle-checkable.
  */
object AsOfJoin {

  /** Rows of one table where `probePred` rows get the most recent
    * strictly-prior `refPred` row's `tieCol` value per `keyCol`, ordered
    * by (`timeCol`, `tieCol`). A two-table as-of reduces to this by
    * unioning minimal projections with a tag column.
    */
  def priorRefId(df: DataFrame,
                 keyCol: String, timeCol: String, tieCol: String,
                 refPred: Column, probePred: Column,
                 outCol: String = "prior_ref_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(refPred || probePred)
      .withColumn(outCol, last(when(refPred, col(tieCol)), ignoreNulls = true).over(w))
      .filter(probePred)
  }
}
