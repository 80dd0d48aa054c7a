package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir(sf: String): String = s"/root/testdata/sf$sf"

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** The executions of every named query `body` runs on this session
    * (actions, commands, the writes inside engine calls), in completion
    * order, read from Spark's own `QueryExecutionListener` channel. */
  def captureQueries(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftBridge.waitListenerBusEmpty(spark) // earlier queries' events stay out
    spark.listenerManager.register(listener)
    try { body; GraftBridge.waitListenerBusEmpty(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
