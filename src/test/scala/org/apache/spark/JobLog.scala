package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs one block of code starts, by call site: a listener
  * records the name of each job's stages (`"<method> at <File>:<line>"`,
  * the first frame outside Spark), and the listener bus is drained before
  * and after the block, so no job of the block is missed and none from
  * before it is counted. In `org.apache.spark` for the bus drain. */
object JobLog {
  def of[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.name).headOption.getOrElse(""))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
