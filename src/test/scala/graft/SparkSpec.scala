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
  /** The production profile's codegen cache size and class naming,
    * read by key: Spark sizes that cache once per JVM, so suites that
    * re-run a chain meet the same cache hits and evictions as every
    * entry point. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val ClassNameIdKey = "spark.sql.codegen.useIdInClassName"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config(CodegenCacheKey, Sessions.productionConfs(4).toMap.apply(CodegenCacheKey))
    .config(ClassNameIdKey, Sessions.productionConfs(4).toMap.apply(ClassNameIdKey))
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

  /** Minhash kernels in the executed plan of each SQL execution `body`
    * runs: MinHashArray expressions over the distinct physical
    * operators, through adaptive stages, command results and into
    * cached relations. */
  def kernelsPerExecution(body: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def kernels(root: SparkPlan): Int = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def walk(p: SparkPlan): Int = if (!seen.add(p)) 0 else {
        val here = p.expressions.map(_.collect { case _: graft.functions.MinHashArray => 1 }.size).sum
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case m: InMemoryTableScanExec => m.relation.cacheBuilder.cachedPlan +: m.children
          case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
          case o                        => o.children
        }
        here + (kids ++ p.subqueries).map(walk).sum
      }
      walk(root)
    }
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = counts.add(kernels(qe.executedPlan)): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(counts).asScala.toSeq
  }
}
