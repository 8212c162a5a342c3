package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-global mutable state).
  */
object SparkSpec {
  lazy val session: SparkSession = Session("graft-test", cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs it started. Only jobs submitted
    * from this thread (or threads it starts) are counted, so suites
    * running beside it on the shared session do not leak in. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val key = "graft.spec.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) { jobs.add(e); () }
    }
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      Session.drainEvents(spark)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, saved)
      sc.removeSparkListener(listener)
    }
  }
}
