package graft

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
    .withExtensions(new GraftExtensions)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = math.abs(a - b) <= tol
}
