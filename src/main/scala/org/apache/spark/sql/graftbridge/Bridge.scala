package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's private[sql] Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils). Lives under
  * org.apache.spark.sql so the private[sql] members resolve — the
  * standard pattern for third-party Catalyst expression libraries.
  * Nothing else in this repo lives outside the graft namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Structural type equality modulo nullability flags — parquet
    * round trips and aggregate output schemas disagree on
    * nullable/containsNull for IDENTICAL value types, and
    * `DataType.equalsIgnoreNullability` is private[sql].
    */
  def sameTypeIgnoringNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.types.DataType.equalsIgnoreNullability(a, b)

  /** Up to `parts - 1` ascending, distinct bounds that split the single
    * column of `keys` into `parts` ranges of about equal row count, in
    * Catalyst form. Sampled the way a range exchange samples, in one
    * Spark job: a reservoir sample per input partition, weighted by that
    * partition's row count. Null keys are not sampled; no non-null key
    * gives no bounds.
    */
  def sampleRangeBounds(keys: org.apache.spark.sql.DataFrame, parts: Int): Seq[Any] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
    import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
    val dt = keys.schema.head.dataType
    val rdd = keys.queryExecution.toRdd
      .mapPartitions(_.filter(!_.isNullAt(0)).map(_.copy()))
    val size = math.min(
      org.apache.spark.sql.internal.SQLConf.get.rangeExchangeSampleSizePerPartition.toDouble * parts,
      1e6)
    val perPartition = math.ceil(3.0 * size / math.max(1, rdd.partitions.length)).toInt
    val (_, sketched) = org.apache.spark.RangePartitioner.sketch(rdd, perPartition)
    val candidates = scala.collection.mutable.ArrayBuffer.empty[(InternalRow, Float)]
    sketched.foreach { case (_, n, sample) =>
      sample.foreach(k => candidates += ((k, (n.toDouble / sample.length).toFloat)))
    }
    if (candidates.isEmpty) return Nil
    implicit val ordering: Ordering[InternalRow] = new LazilyGeneratedOrdering(
      Seq(SortOrder(BoundReference(0, dt, nullable = true), Ascending)))
    org.apache.spark.RangePartitioner.determineBounds(candidates, parts).toSeq.map(_.get(0, dt))
  }

  /** A DataFrame over `rdd`, whose rows hold `output`, planned as a leaf
    * scan (`LogicalRDD`, through the private[sql] `Dataset.ofRows`) that
    * declares `partitioning` and `ordering`: the planner trusts both, so
    * the caller must make them true of every partition.
    */
  def scanRdd(spark: org.apache.spark.sql.SparkSession,
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning,
      ordering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder])
      : org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(output, rdd, partitioning, ordering)(session))
  }

  /** Expose the private[sql] optimizer-rule builder so specs can
    * assert what a SparkSessionExtensions instance injects.
    */
  def optimizerRules(
      e: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[
      org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    e.buildOptimizerRules(spark)
}
