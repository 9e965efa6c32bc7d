package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact count of the Spark jobs `body` launches. Two marker jobs in their
  * own job groups bracket `body`: the listener bus delivers job starts in
  * order, so every job counted arrived after the first marker and before the
  * second — no settle-sleep, and no stray events from earlier work.
  */
object JobCount {
  def apply(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (open, close) = (s"jobcount-open-$id", s"jobcount-close-$id")
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`open`) => opened.countDown()
          case Some(`close`) => closed.countDown()
          case _ => if (opened.getCount == 0) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS), "listener bus stalled")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
