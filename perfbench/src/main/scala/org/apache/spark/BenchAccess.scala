package org.apache.spark

/** The two Spark internals the harness needs that have no public form.
  * It lives in Spark's package only to reach them. */
object BenchAccess {

  /** Block until every event already posted to the listener bus has
    * been delivered, so per-op listener totals are complete when the
    * harness reads them. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The operation scope name of an RDD in a stage, such as
    * "WholeStageCodegen (3)"; it links a stage to a codegen stage of the
    * physical plan. */
  def scopeName(info: storage.RDDInfo): Option[String] =
    info.scope.map(_.name)
}
