package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column <-> Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) for the engine's
  * custom Catalyst expressions. Lives inside the org.apache.spark.sql
  * package solely to satisfy the access modifier — the standard pattern
  * for third-party Spark extension libraries on Spark 4's split
  * Column API.
  */
package object graftbridge {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Spark's own wrong-arity analysis error (the factory is
    * private[sql], hence bridged here), so a registered graft function
    * called with the wrong number of arguments fails analysis naming
    * the function instead of leaking an IndexOutOfBounds.
    */
  def wrongNumArgsError(fn: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(fn, Seq(expected), actual)

  /** `localCheckpoint` that TRUNCATES inherited plan statistics.
    *
    * Spark 4's `Dataset.localCheckpoint` copies the checkpointed
    * plan's estimated `Statistics` (and constraints) onto the
    * resulting `LogicalRDD` (`LogicalRDD.rewriteStatsAndConstraints`).
    * In an iterative algorithm that self-joins its own checkpoint each
    * round (connected components' label jump), the size-only estimate
    * therefore SQUARES per round — surviving straight through every
    * checkpoint — and after ~24 rounds the BigInt byte count exceeds
    * `BigInteger`'s supported range and planning itself throws
    * (`java.lang.ArithmeticException: BigInteger would overflow
    * supported range`, hit by q47 at sf1). This variant re-wraps the
    * checkpointed RDD in a fresh `LogicalRDD` with NO origin stats
    * (falls back to `defaultSizeInBytes` — constant, so per-round
    * estimates stop compounding) while keeping the materialized
    * blocks, output partitioning and ordering.
    */
  def flatLocalCheckpoint(df: DataFrame,
                          storageLevel: Option[org.apache.spark.storage.StorageLevel] = None): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ck = storageLevel match {
      case Some(sl) => ds.localCheckpoint(eager = true, storageLevel = sl)
      case None     => ds.localCheckpoint()
    }
    ck.queryExecution.logical match {
      case l: execution.LogicalRDD =>
        classic.Dataset.ofRows(ck.sparkSession,
          execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(
            ck.sparkSession, None, None))
      case other =>
        // A non-LogicalRDD checkpoint plan means a Spark upgrade moved
        // the stats we exist to truncate: returning it silently would
        // quietly reintroduce the BigInteger-overflow planning failure.
        // Surface it as a clear error at the checkpoint site instead of
        // a deep ArithmeticException ~24 join rounds later.
        throw new IllegalStateException(
          "graftbridge.flatLocalCheckpoint: localCheckpoint produced a " +
            s"${other.getClass.getName} instead of LogicalRDD; cannot " +
            "truncate inherited plan statistics. Spark's checkpoint plan " +
            "shape changed — update flatLocalCheckpoint for this version.")
    }
  }
}
