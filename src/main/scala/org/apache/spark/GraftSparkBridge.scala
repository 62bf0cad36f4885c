package org.apache.spark

/** Private-API bridge (same documented pattern as GraftSqlBridge for
  * org.apache.spark.sql): `TaskContext.setTaskContext` is private[spark],
  * but a helper thread that consumes a partition iterator on behalf of a
  * task MUST carry that task's context — upstream operator code under the
  * iterator may acquire execution memory or update metrics through it.
  * Spark's own PythonRunner writer thread does exactly this. */
object GraftSparkBridge {
  def setTaskContext(tc: TaskContext): Unit = TaskContext.setTaskContext(tc)

  /** The class Catalyst's `raise_error` throws (private[spark] upstream). */
  type UserRaisedError = SparkRuntimeException

  /** Exactly what `raise_error(msg)` throws, for a check that runs in task
    * code: a bad input then fails with the same exception, class and
    * message, whether a Catalyst expression or task code meets it. */
  def userRaisedError(msg: String): UserRaisedError =
    new SparkRuntimeException("USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** Blocks until every event posted so far has reached its listeners
    * (`listenerBus` is private[spark]). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations of generated code in this JVM so far, driver and
    * local executors alike (`CodegenMetrics` is private[spark]). */
  def codegenCompiles: Long = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
