package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftDmlBridge, SparkSession}

/** Runs a `foreachBatch` body on the session that started the stream.
  *
  * Every started stream executes on a clone of its caller's session,
  * and Spark gives each session id its own executor class loader. The
  * generated-code cache is keyed by (class loader, source), so a body
  * that runs on the clone compiles its plans afresh for every stream
  * start, even when the code is byte-identical to the previous
  * start's; the JVM then JIT-compiles each new class again. Re-binding
  * the micro-batch to the caller's session runs the body's jobs under
  * the caller's session id, whose class loader and codegen cache
  * outlive each stream. The re-bound batch is a scan of the rows the
  * clone planned for the batch ([[GraftDmlBridge.rebind]]), with the
  * batch's columns: the batch is planned once, and its rows are not
  * converted to `Row`s and back.
  *
  * The saving exists only for a stream that is started once per
  * arrival (`Trigger.AvailableNow`): a long-running stream keeps one
  * clone, whose codegen cache already hits from its second batch on.
  *
  * The body gives up the clone's isolation. It runs on the caller's
  * live conf, not the copy the clone took when the stream started, and
  * a temp view or conf it sets through `batch.sparkSession` lands in
  * the caller's session, shared with every other stream of that
  * session. So wrap only the library's own bodies, which set neither;
  * a user-supplied sink or handler stays on the clone.
  *
  * {{{
  * events.writeStream
  *   .trigger(Trigger.AvailableNow())
  *   .foreachBatch(CallerSession(spark) { (batch, batchId) => ... })
  * }}}
  */
object CallerSession {

  /** `body`, called with each micro-batch re-bound to `spark`. */
  def apply(spark: SparkSession)(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => body(GraftDmlBridge.rebind(spark, batch), batchId)
}
