package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion for the
  * classic (non-Connect) runtime. Lives in the org.apache.spark.sql
  * package namespace solely to access package-private API; contains no
  * Spark-internal logic of its own.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The catalog-declared bucket count of `table` (None when the table
    * is not bucketed). Used by the segment store to verify that an
    * existing catalog entry still matches the store's recorded physical
    * spec after a bucket-count escalation (a stale in-session entry is
    * re-declared from the spec file, the on-disk source of truth).
    */
  def numBuckets(spark: SparkSession, table: String): Option[Int] =
    bucketSpecOf(spark, table).map(_._1)

  /** (numBuckets, bucketColumnNames) of a catalog table — the write
    * side uses it to pre-partition an INSERT by the bucket function,
    * collapsing per-partition file counts from (write tasks x buckets)
    * to <= buckets.
    */
  def bucketSpecOf(spark: SparkSession, table: String): Option[(Int, Seq[String])] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val id = cs.sessionState.sqlParser.parseTableIdentifier(table)
    cs.sessionState.catalog.getTableMetadata(id).bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames))
  }
}
