package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Spec-side view of the listeners registered on a session: the
  * SparkContext's listener bus and the session's query-execution listener
  * manager both keep their lists private[spark] / private[sql]. */
object Listeners {
  def sparkListeners(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq

  def executionListeners(spark: SparkSession): Seq[AnyRef] =
    spark.listenerManager.listListeners().toSeq
}
