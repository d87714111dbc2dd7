package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Which RDDs that a block of code persisted were freed only by the
  * ContextCleaner. Code that releases an RDD unpersists it (one
  * unpersist event); the ContextCleaner unpersists it again once a GC
  * has made it unreachable, and reports each such cleaning to its
  * listeners. An RDD with no more unpersist events than cleanings was
  * never released by the code: it was forgotten, and a GC hid it from a
  * `getPersistentRDDs` check. Only RDDs created inside the block count.
  * In `org.apache.spark` for the cleaner listener and the bus drain. */
object ReleaseLog {
  private val cleaned = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[ContextCleaner, java.lang.Boolean]())

  private def count(m: java.util.concurrent.ConcurrentHashMap[Integer, Integer],
      id: Int): Unit = m.merge(id, 1, (a: Integer, b: Integer) => a + b)

  /** The cleaner keeps its listeners for its life, so one is attached
    * per cleaner. */
  private def watch(sc: SparkContext): Unit = sc.cleaner.foreach { c =>
    watched.synchronized {
      if (watched.add(c)) c.attachListener(new CleanerListener {
        def rddCleaned(rddId: Int): Unit = count(cleaned, rddId)
        def shuffleCleaned(shuffleId: Int): Unit = ()
        def broadcastCleaned(broadcastId: Long): Unit = ()
        def accumCleaned(accId: Long): Unit = ()
        def checkpointCleaned(rddId: Long): Unit = ()
      })
    }
  }

  /** `body`'s value and the ids of the RDDs it created that were freed by
    * the ContextCleaner alone, as of the block's end. */
  def of[A](spark: SparkSession)(body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    watch(sc)
    val first = sc.newRddId()
    val unpersists = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId > first) count(unpersists, e.rddId)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val cleanerOnly = unpersists.asScala.collect {
        case (id, n) if n <= cleaned.getOrDefault(id, 0) => id.intValue
      }.toSet
      (out, cleanerOnly)
    } finally sc.removeSparkListener(listener)
  }
}
