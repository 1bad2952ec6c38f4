package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** One-method bridge into Spark's `private[spark]` surface: the active
  * `SparkContext` and its live `SparkConf` (`SparkContext.getActive`
  * and `SparkContext.conf`; `getConf` hands back a copy). A session
  * extension runs after the context exists and before the session's
  * `SQLConf` merges that conf, so a default set here reaches the
  * session the extension is building. Same pattern as [[PlanFrame]]. */
object ActiveContextConf {

  /** Sets `key` to `value` on the active context's conf unless the conf
    * already names `key` (a value the user set wins); no-op when no
    * context is active. */
  def setDefault(key: String, value: String): Unit =
    SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))
}
