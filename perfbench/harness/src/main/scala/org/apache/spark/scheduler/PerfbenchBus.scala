package org.apache.spark.scheduler

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered each event posted before
  * the call, so a traced run attributes each event to the query that
  * caused it before the next query starts. It posts a marker event and
  * waits for a receiver in every queue to see it. The bus's own
  * `waitUntilEmpty` polls in 10 ms steps, longer than the shortest
  * queries, and it and `activeQueues` are private to Spark. */
object PerfbenchBus {
  private case class Marker(latch: CountDownLatch) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }
  private class Receiver extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Marker(latch) => latch.countDown()
      case _ =>
    }
  }
  private val joined = mutable.Set[String]()

  def drain(sc: SparkContext): Unit = synchronized {
    val bus = sc.listenerBus
    for (q <- bus.activeQueues() -- joined) {
      bus.addToQueue(new Receiver, q)
      joined += q
    }
    val latch = new CountDownLatch(joined.size)
    bus.post(Marker(latch))
    if (!latch.await(60, TimeUnit.SECONDS)) bus.waitUntilEmpty()
  }
}
