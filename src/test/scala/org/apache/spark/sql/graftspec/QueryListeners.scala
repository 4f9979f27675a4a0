package org.apache.spark.sql.graftspec

import org.apache.spark.sql.SparkSession

/** The number of QueryExecutionListeners registered on a session. The
  * manager's listing is package-private, so this bridge lives under
  * `org.apache.spark.sql`.
  */
object QueryListeners {
  def count(spark: SparkSession): Int =
    spark.listenerManager.listListeners().length
}
