package org.apache.spark.sql.graft

import org.apache.spark.{CleanerListener, SparkContext}

/** Test seam to the private[spark] ContextCleaner listener: reports the
  * RDD ids the cleaner unpersisted after their RDD was garbage-collected,
  * so a test counting `SparkListenerUnpersistRDD` events can tell the
  * engine's own unpersists from the cleaner's. Same pattern as
  * [[ListenerBridge]]. The listener stays attached for the context's life.
  */
object CleanerBridge {
  def onRddCleaned(sc: SparkContext)(f: Int => Unit): Unit =
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      override def rddCleaned(rddId: Int): Unit = f(rddId)
      override def shuffleCleaned(shuffleId: Int): Unit = ()
      override def broadcastCleaned(broadcastId: Long): Unit = ()
      override def accumCleaned(accId: Long): Unit = ()
      override def checkpointCleaned(rddId: Long): Unit = ()
    }))
}
