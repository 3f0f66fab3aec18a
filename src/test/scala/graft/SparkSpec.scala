package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — sbt
  * forks a single test JVM). */
object TestSpark {
  // structural/plan suites must see deterministic PLAIN-layout plans
  // regardless of clustered layouts earlier runs left in the tmpdir
  // (Tables.layoutMode is `auto` by default); layout suites opt in
  // explicitly via Tables.lineitemClustered or a scoped prop flip.
  Tables.pinPlainLayoutDefault()
  /** The production profile's codegen cache size, read by key: Spark
    * sizes that cache once per JVM, so suites that re-run a chain meet
    * the same eviction behaviour as every entry point. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config(CodegenCacheKey, Sessions.productionConfs(4).toMap.apply(CodegenCacheKey))
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = math.abs(a - b) <= tol

  /** The Spark jobs `body` starts (build-time collects included),
    * counted under a job group of its own. */
  def jobsOf(body: => Unit): Int = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted jobs")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
