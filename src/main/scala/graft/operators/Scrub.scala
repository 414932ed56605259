package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scope

/** One df >= 3 boilerplate-scrub family: a unit (text segment, winnow
  * fingerprint) held by >= 3 distinct documents is boilerplate, and
  * the readout counts, per source, the docs, their units, the
  * boilerplate units and the flagged docs. q191
  * ([[Dedup.crossSegFamily]]) and q192 ([[Dedup.winnowFamily]]) differ
  * only in the data this value carries; the batch fold here and the
  * incremental gate ([[graft.streaming.ScrubGate]]) run over either.
  *
  * @param derive     documents (doc_id, source, text) to the distinct
  *                   per-(unit, doc) rows: `key`, doc_id, source,
  *                   `weightCols`
  * @param key        the unit key column
  * @param unitsSub   the gate's unit-row sub-table (the flip probe)
  * @param dfSub      the gate's per-unit df partials sub-table
  * @param weightCols the stored per-(unit, doc) weight columns
  * @param grids      one (doc flag column, per-row weight) per grid: a
  *                   doc's flag is set by a boilerplate unit of
  *                   positive weight in that grid; a row's unit count
  *                   is the sum of its grid weights
  * @param units      the per-doc unit-count column; `dup_<units>` and
  *                   `n_<units>` are its boilerplate and source sums
  * @param indicators the doc-level 0/1 indicators summed at source
  *                   grain, each a function of the doc's flags (looked
  *                   up by name); every one is 0 on all-zero flags
  * @param readoutCols columns the readout derives from the source grain
  */
private[graft] final case class Scrub(
    derive: DataFrame => DataFrame,
    key: String,
    unitsSub: String,
    dfSub: String,
    weightCols: Seq[String],
    grids: Seq[(String, Column)],
    units: String,
    indicators: Seq[(String, (String => Column) => Column)],
    readoutCols: Seq[Column]) {

  val dupUnits: String = s"dup_$units"
  val flags: Seq[String] = grids.map(_._1)
  /** Unit-row columns, in stored order. */
  val unitCols: Seq[String] = Seq(key, "doc_id", "source") ++ weightCols
  /** Per-doc stat columns after (doc_id, source), in stored order. */
  val docCols: Seq[String] = Seq(units, dupUnits) ++ flags
  /** Per-source stat columns after source, in stored order. */
  val srcCols: Seq[String] = Seq("n_docs", s"n_$units", dupUnits) ++ indicators.map(_._1)

  private val weight: Column = grids.map(_._2).reduce(_ + _)

  /** The boilerplate rule. */
  def dup(df: Column): Column = df >= 3

  /** One stat row per doc of unit `rows` carrying their unit's `df`:
    * its units, its boilerplate units and one flag per grid.
    */
  def docStats(rows: DataFrame, df: Column): DataFrame =
    rows.groupBy(col("doc_id"), col("source"))
      .agg(sum(weight).as(units),
        sum(when(dup(df), weight).otherwise(0L)).as(dupUnits) +:
          grids.map { case (f, w) =>
            max(when(dup(df) && w > 0, 1L).otherwise(0L)).as(f)
          }: _*)

  /** The stat row a doc's unit row adds when its unit becomes
    * boilerplate after the doc was counted: no new units, the row's
    * units now boilerplate, its grids flagged.
    */
  def flipStats(rows: DataFrame): DataFrame =
    rows.select(col("doc_id") +: col("source") +: lit(0L).as(units) +:
      weight.as(dupUnits) +:
      grids.map { case (f, w) => when(w > 0, 1L).otherwise(0L).as(f) }: _*)

  /** Source grain of one-row-per-doc stats. */
  def srcGrain(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(units)).as(s"n_$units") +: sum(col(dupUnits)).as(dupUnits) +:
          indicators.map { case (n, ind) => sum(ind(col(_))).as(n) }: _*)

  /** The published shape of a source-grain table. */
  def readout(src: DataFrame): DataFrame =
    src.select(col("*") +: readoutCols: _*).orderBy(col("source"))

  /** The batch readout over unit rows: df re-aggregated from them
    * (rows already per-(unit, doc) distinct), a unit-keyed equi-join
    * back (AQE-splittable boilerplate keys, never a window), then the
    * doc- and source-grain folds. All-integer output.
    */
  def fold(unitRows: DataFrame): DataFrame = {
    val dfq = unitRows.groupBy(col(key)).agg(count(lit(1)).as("df"))
    readout(srcGrain(docStats(unitRows.join(dfq, key), col("df"))))
  }

  /** The batch query over `docs`; the unit rows are checkpointed, as
    * they feed df AND the join-back fold.
    */
  def batch(docs: DataFrame, sc: Scope): DataFrame =
    sc.seal(fold(sc.ckpt(derive(docs))))
}
