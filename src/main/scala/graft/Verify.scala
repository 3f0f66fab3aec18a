package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Exit-code policy for the output-type lint: under `--lint-strict`
    * any non-portable output column is FATAL (exit 2) so a query added
    * without specs can't reach the driver gate carrying a DECIMAL/
    * array/struct column (round-9 incident class); without the flag
    * the lint only warns (the driver's own comparison is the gate).
    * Pure function so the policy is unit-testable without forking a
    * JVM (PlanSpec). */
  def lintExitCode(lintHits: Seq[String], strict: Boolean): Int =
    if (strict && lintHits.nonEmpty) 2 else 0

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // harness runs certify/measure the PLAIN layout unless explicitly
    // opted in (SPARK_GRAFT_BUCKETED / SPARK_GRAFT_LAYOUT): results
    // must not depend on layouts a previous run left on disk
    Tables.pinPlainLayoutDefault()
    // Bench's session and per-query width (Sessions.harness /
    // useWidthFor): the oracle certifies the plans Bench times
    val spark = Sessions.harness()
    // Tell queries with driver-recorded oracle literals (q_volcano's p
    // column) to capture them during this run; Bench never sets this,
    // so it never pays the extra recording action.
    System.setProperty("graft.record.oracle", "1")
    // The winnowing/shared-span family's ORACLE mode: md5 gram hashes
    // are what the DuckDB oracle SQL replays (HAVING over md5-hash
    // minima). Production (Bench, library default) runs the rolling
    // Karp-Rabin kernel — same recall guarantee, ~5-10× less CPU, no
    // SQL image (see Dedup.defaultRollingHash).
    System.setProperty("graft.gramhash", "md5")
    new java.io.File(outDir).mkdirs()
    // optional extra args: `--lint-strict` promotes the output-type
    // lint to a fatal gate; remaining args = query-name filter for
    // local iteration (the driver passes exactly two args → full
    // registry, warn-only). NOTE a filtered run's oracle_sql.json
    // lacks oracleGen entries for queries that did not run — only use
    // the filtered form to refresh result dirs.
    val strict = args.drop(2).contains("--lint-strict")
    val only = args.drop(2).filterNot(_.startsWith("--")).toSet
    val lintHits = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          Sessions.useWidthFor(spark, name)
          val df = fn(spark, sfDir)
          // Output-type lint (round-9 incident): a DECIMAL/array/struct
          // output hash-mismatches the driver gate even when values are
          // bit-identical. PlanSpec fails the build on this; here we
          // scream in the dump log too so a driver run can't silently
          // carry a non-portable column to the hasher.
          val bad = PlanChecks.nonPortableOutputColumns(df.schema)
          if (bad.nonEmpty) {
            lintHits += s"$name: ${bad.mkString(", ")}"
            System.err.println(s"[verify] LINT $name emits non-portable output " +
              s"type(s): ${bad.mkString(", ")} — expect a driver hash mismatch " +
              "(see Moments.sumExactScale4 scaladoc)")
          }
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val code = lintExitCode(lintHits.toSeq, strict)
    if (code != 0) {
      System.err.println(s"[verify] --lint-strict: ${lintHits.size} non-portable " +
        s"output column(s): ${lintHits.mkString("; ")}")
      sys.exit(code)
    }
  }
}
