package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ catalyst Expression bridge. Spark 4 made the classic
  * `ExpressionUtils` conversions `private[sql]`; graft's column-mapping
  * layer needs exactly one thing from them — rewrite the attribute NAMES
  * inside a user predicate (logical → physical) and hand the result back
  * as a `Column`. Placed in `org.apache.spark.sql` for access, like any
  * Spark-extension library's shim; no behavior beyond delegation.
  */
object GraftColumnBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Re-root a computed batch frame as a STREAMING frame — the V1
    * streaming `Source.getBatch` contract (the incremental executor
    * rejects plain batch relations in a streaming plan). Same delegation
    * pattern as above: `internalCreateDataFrame` is `private[sql]`.
    */
  def streamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    classicSpark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[streamingFrame]]: a streaming micro-batch frame
    * (the one `Sink.addBatch` receives, rooted in an incremental plan)
    * re-rooted as a plain BATCH frame, so the normal table write path can
    * run its own jobs over it. The RDD pins the batch's source offsets,
    * so recomputation is deterministic within the batch.
    */
  def batchFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    classicSpark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** `FieldReference`/`LiteralValue` constructors for DSv2 runtime
    * filtering — both are `private[sql]` in Spark's source. Delegation
    * only, like everything in this shim.
    */
  def fieldReference(name: String): org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference(Seq(name))

  def literalValueOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[(Any, org.apache.spark.sql.types.DataType)] =
    e match {
      case l: org.apache.spark.sql.connector.expressions.LiteralValue[_] =>
        Some((l.value, l.dataType))
      case _ => None
    }

  /** A lazy local checkpoint whose storage is RELEASABLE: the classic
    * `Dataset.localCheckpoint` pins the checkpointed RDD blocks in
    * executor storage with no public handle to free them, so a retry
    * loop that checkpoints its source per attempt leaks blocks for the
    * session lifetime. Same recipe as `Dataset.checkpoint(eager=false,
    * reliable=false)` — copy the reused UnsafeRow buffers, localCheckpoint
    * the internal RDD — but the RDD reference is kept and handed back as
    * an unpersist closure for a `finally` block. Like `checkpoint`, the
    * frame keeps the source plan's size estimate, so a small checkpointed
    * MERGE source is still broadcast into its joins.
    */
  def localCheckpointReleasable(df: DataFrame): (DataFrame, () => Unit) = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = classicDf.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    val out = classic.Dataset.ofRows(classicDf.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        rdd, classicDf, isStreaming = false))
    (out, () => { rdd.unpersist(blocking = false); () })
  }

  /** An analyzed logical plan back as a DataFrame — the SQL DML bridge
    * re-executes a MERGE statement's resolved source plan as the frame
    * handed to the table's merge primitive. Delegation only:
    * `Dataset.ofRows` is `private[sql]`.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
