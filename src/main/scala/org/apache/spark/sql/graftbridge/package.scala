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

  /** Frees the blocks behind a `localCheckpoint` result (Spark's own or
    * [[flatLocalCheckpoint]]'s). `Dataset.unpersist` does nothing there:
    * the checkpoint persists its RDD directly and never registers with
    * the `CacheManager`, so each superseded round of an iterative loop
    * would stay in the block manager until the session ends. A frame
    * whose plan is not a checkpoint scan holds no blocks of its own and
    * is left alone. Every frame still reading `df` fails once this has
    * run, so call it only after its successor has materialized. The
    * blocks go through the context because `RDD.unpersist` logs a
    * warning that the lineage is lost, for every release, and losing
    * it is the point here.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: execution.LogicalRDD =>
        l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ =>
    }

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
    *
    * Returns the checkpoint with its row count. The count is the job
    * that materializes the checkpoint: Spark's eager checkpoint runs
    * the same count on the same RDD and drops the result, so a loop
    * that needs its round's size gets it without a second action.
    */
  def flatLocalCheckpoint(df: DataFrame,
                          storageLevel: Option[org.apache.spark.storage.StorageLevel] = None): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ck = storageLevel match {
      case Some(sl) => ds.localCheckpoint(eager = false, storageLevel = sl)
      case None     => ds.localCheckpoint(eager = false)
    }
    ck.queryExecution.logical match {
      case l: execution.LogicalRDD =>
        val rows = l.rdd.count()
        (classic.Dataset.ofRows(ck.sparkSession,
          execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(
            ck.sparkSession, None, None)), rows)
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
