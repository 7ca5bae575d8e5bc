package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus and job-tag property: the
  * tracer must see every event of a run before it attributes jobs and
  * tasks to spans, and it reads each job's tags from its properties.
  */
object BusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def jobTags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .toSeq.flatMap(_.split(SparkContext.SPARK_JOB_TAGS_SEP)).filter(_.nonEmpty)
}
