package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Limit
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/**
 * InternalRow-level entry/exit for DataFrames. Spark 4 keeps
 * `internalCreateDataFrame` `private[sql]` on the classic session, so
 * operators that process partitions with primitive-layout code (no
 * row-object encoders, no boxing — e.g. the connected-components
 * union-find step) need this one-file package escape hatch, exactly
 * like [[ColumnBridge]] does for Column <-> Expression.
 */
object InternalRowBridge {
  /** The query's executed RDD of (Unsafe) InternalRows — zero decode:
    * `getLong`/`getDouble` read the Tungsten buffer directly. */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[Dataset[_]].queryExecution.toRdd

  /** Wrap an RDD of InternalRows (callers must hand over immutable
    * rows — copy any reused UnsafeRow buffer) as a DataFrame. */
  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The first `n` rows of `df` in partition order — the rows
    * `df.limit(n).collect()` returns — and, when `count` is set, the
    * number of rows in all of `df`, from ONE SQL execution named `name`.
    * It runs on the calling thread, so the thread's job group (and with
    * it job-group cancellation) and the session's
    * `QueryExecutionListener`s see it. The execution is a fresh
    * QueryExecution of `df`'s analyzed plan: `df`'s own is never
    * executed, so a long-lived frame does not pin an executed plan and
    * its shuffle files. The rows come back with their schema, decoded
    * as `collect()` decodes them. */
  def headAndCount(df: DataFrame, n: Int, count: Boolean,
      name: String): (StructType, Seq[Row], Option[Long]) = {
    require(n >= 0, s"row limit must be non-negative, got $n")
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    // without the count a limit query stops early; with it every
    // partition is read to its end anyway, so the head rides along
    val qe = spark.sessionState.executePlan(
      if (count) plan else Limit(Literal(n), plan))
    val (rows, total) = SQLExecution.withNewExecutionId(qe, Some(name)) {
      if (!count) (qe.executedPlan.executeCollect().toSeq, None)
      else {
        val parts = spark.sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => {
            val head = Array.newBuilder[InternalRow]
            var seen = 0L
            while (it.hasNext) {
              val row = it.next()
              // Spark reuses the row buffer: keep a copy
              if (seen < n) head += row.copy()
              seen += 1
            }
            (head.result(), seen)
          })
        (parts.iterator.flatMap(_._1).take(n).toSeq,
          Some(parts.iterator.map(_._2).sum))
      }
    }
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(plan.schema))
      .resolveAndBind().createDeserializer()
    (plan.schema, rows.map(toRow), total)
  }
}
