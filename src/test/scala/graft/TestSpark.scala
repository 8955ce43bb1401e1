package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5 transfer). A
  * suite that stops it gets a fresh one from the next [[spark]] call.
  */
object TestSpark {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) {
      session = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      session.sparkContext.setLogLevel("WARN")
    }
    session
  }

  /** `f`'s result and the number of Spark jobs it started. */
  def withJobCount[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc) // earlier work's events
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.TestListenerBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
}
