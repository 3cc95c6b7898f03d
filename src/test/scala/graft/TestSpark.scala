package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One shared local session for the whole test run (JVM-wide). */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    val cores = GraftSession.cores
    val s = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` and returns its result with the job starts and SQL
    * execution starts it caused, on [[spark]]'s SparkContext (so sessions
    * cloned with `newSession()` count too). Events arrive asynchronously
    * but in order: a marker action runs after `body`, and once its job
    * start is seen every event before it has been seen as well.
    */
  def eventsDuring[A](body: => A): (A, Seq[SparkListenerEvent]) = {
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s): Unit
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val marker = s"test-marker-${java.util.UUID.randomUUID}"
    def isMarker(e: SparkListenerEvent): Boolean = e match {
      case j: SparkListenerJobStart =>
        Option(j.properties).exists(p =>
          String.valueOf(p.getProperty("spark.job.description")).contains(marker))
      case s: SparkListenerSQLExecutionStart => s.description.contains(marker)
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobDescription(marker)
      try spark.range(1).count(): Unit finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30_000_000_000L
      def drained = seen.asScala.exists(e => e.isInstanceOf[SparkListenerJobStart] && isMarker(e))
      while (!drained && System.nanoTime() < deadline) Thread.sleep(50)
      assert(drained, "listener bus did not drain")
      (result, seen.asScala.toSeq.filterNot(isMarker))
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs `body` started. */
  def jobsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val (result, events) = eventsDuring(body)
    (result, events.collect { case j: SparkListenerJobStart => j })
  }
}
