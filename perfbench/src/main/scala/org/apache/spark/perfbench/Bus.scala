package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{CleanerListener, SparkContext}

/** Access to the driver's listener bus and context cleaner, which Spark
  * keeps package-private.
  */
object Bus {

  /** Block until every event posted so far has reached every listener, so a
    * summary taken after an operation sees all of that operation's events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val cleaned = new AtomicLong(0)
  @volatile private var watched: Option[SparkContext] = None

  /** Collect garbage until the context cleaner has nothing more to clean:
    * the shuffle files, broadcasts and cached blocks of everything no
    * longer referenced are deleted before this returns. Gives up after
    * about three seconds.
    */
  def settleCleaner(sc: SparkContext): Unit = {
    if (!watched.contains(sc)) {
      sc.cleaner.foreach(_.attachListener(new CleanerListener {
        def rddCleaned(rddId: Int): Unit = cleaned.incrementAndGet()
        def shuffleCleaned(shuffleId: Int): Unit = cleaned.incrementAndGet()
        def broadcastCleaned(broadcastId: Long): Unit = cleaned.incrementAndGet()
        def accumCleaned(accId: Long): Unit = cleaned.incrementAndGet()
        def checkpointCleaned(rddId: Long): Unit = cleaned.incrementAndGet()
      }))
      watched = Some(sc)
    }
    var rounds = 0
    var before = -1L
    while (rounds < 12 && before != cleaned.get) {
      before = cleaned.get
      System.gc()
      Thread.sleep(250)
      rounds += 1
    }
  }
}
