package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; stopped by JVM exit

  /** `body`'s result and the number of Spark jobs it started, counted by a
    * listener through a job group. Listener events arrive in order, so once
    * a marker job run afterwards is seen, every job of `body` has been. */
  def jobsStarted[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(jobs.containsValue(s"$group-marker"))
      }
      out
    } finally sc.removeSparkListener(listener)
    (out, jobs.values.asScala.count(_ == group))
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
      // same default posture as Sessions.local: config-based native
      // function registration, so newSession() children resolve them too
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // see Sessions.local: keep lit(0) window partition keys (the
      // bounded-domain annotation) from being folded back into anonymous
      // no-partition warnings
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
