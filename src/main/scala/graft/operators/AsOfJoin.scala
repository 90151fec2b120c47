package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic as-of join: for each left row, the most recent right row with
  * `rightTime <= leftTime` (strict: `<`) within the same key group.
  *
  * Semantics from the reference's temporal lookups: last hardware state
  * change before an observation (`tiles/lofar_antenna_state/getState.py:
  * 275-301`), nearest-ObsID bad-dipole row (`fluxcal/lofar_fluxcal.py:
  * 177-197`), polyco segment selection (`pulsestack.py:43-44`).
  *
  * Implementation is the distributed-friendly union+window form: tag both
  * sides, union, single window per key ordered by (time, side) — one
  * shuffle on the key, no per-row subquery, no broadcast requirement, so
  * it scales to both sides being large (100 TB design point). Rows from
  * the left emerge with the payload of the latest preceding right row.
  *
  * @param left       probe side
  * @param right      build/state side
  * @param keyCols    equi-key columns present on both sides
  * @param leftTime   event-time column on `left`
  * @param rightTime  event-time column on `right`
  * @param payload    columns of `right` to carry (must not collide with left)
  * @param strict     if true, right rows at exactly leftTime are excluded
  */
object AsOfJoin {
  def apply(left: DataFrame, right: DataFrame, keyCols: Seq[String],
            leftTime: String, rightTime: String, payload: Seq[String],
            strict: Boolean = false,
            tiebreak: Option[(String, String)] = None): DataFrame = {
    val lCols = left.columns
    val (lTb, rTb) = tiebreak.getOrElse((leftTime, rightTime))
    // side ordering inside equal timestamps: right (0) before left (1) for
    // non-strict (right row at t is visible to left row at t); reversed
    // for strict.
    val lSide = if (strict) 0 else 1
    val rSide = 1 - lSide
    // Payload travels as ONE struct column so every field of the output
    // comes from the SAME latest-preceding right row — filling each payload
    // column independently would mix fields of different right rows whenever
    // the latest row holds a null in one of them.
    val plType = org.apache.spark.sql.types.StructType(payload.map(right.schema(_)))
    val lTagged = left
      .withColumn("__t", col(leftTime).cast("decimal(38,9)"))
      .withColumn("__side", lit(lSide))
      .withColumn("__tb", col(lTb).cast("decimal(38,9)"))
      .select((keyCols.map(col) :+ col("__t") :+ col("__side") :+ col("__tb")) ++
        lCols.filterNot(keyCols.contains).map(col) :+
        lit(null).cast(plType).as("__pl"): _*)
    val rTagged = right
      .withColumn("__t", col(rightTime).cast("decimal(38,9)"))
      .withColumn("__side", lit(rSide))
      .withColumn("__tb", col(rTb).cast("decimal(38,9)"))
      .select((keyCols.map(col) :+ col("__t") :+ col("__side") :+ col("__tb")) ++
        lCols.filterNot(keyCols.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__pl"): _*)
    val unioned = lTagged.unionByName(rTagged)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof", last(col("__pl"), ignoreNulls = true).over(w))
      .filter(col("__side") === lSide)
      .select((lCols.map(col) ++ payload.map(p => col("__asof").getField(p).as(p))).toIndexedSeq: _*)
  }
}
