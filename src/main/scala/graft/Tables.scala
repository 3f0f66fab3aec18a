package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Columns are pruned at call sites via `select` so Catalyst pushes
  * projection into the parquet scan (`ReadSchema`); filters written
  * against these frames push down as `PushedFilters`.
  */
object Tables {
  /** `sfDir/name.parquet`, its schema memoised ([[graft.io.SchemaMemo]]):
    * a re-open of the unchanged table runs no footer-read job. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.io.SchemaMemo.read(spark, s"$sfDir/$name.parquet", "parquet", Map.empty)

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events` with `ts` normalized to nanos-since-epoch long. The
    * driver's testdata has shipped two physical types for `ts`:
    * TIMESTAMP(NANOS) (read as long via nanosAsLong=true) and plain µs
    * TIMESTAMP/TIMESTAMP_NTZ (current). Downstream queries keep one
    * contract — ts is a nanos long — and the conversion here is a
    * row-local projection over the scan (column pruning and filter
    * pushdown on the other columns are unaffected). NTZ wall-clock is
    * interpreted in the session timezone (UTC everywhere in this repo),
    * matching DuckDB's epoch_ns/epoch_us of the same naive timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.withColumn("ts", tsToNanos(col("ts"), df.schema("ts").dataType))
  }

  /** nanos-since-epoch long from whichever type `ts` was read as. */
  def tsToNanos(ts: Column, dt: DataType): Column = dt match {
    case LongType => ts
    case TimestampType | TimestampNTZType => unix_micros(ts.cast(TimestampType)) * 1000L
    case other => throw new IllegalArgumentException(s"unsupported events.ts type: $other")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // ---- key-clustered (bucketed + sorted) layout opt-in ----
  //
  // The per-supplier stat chains (Kruskal-Wallis, Mann-Whitney) are
  // keyed by l_suppkey in EVERY stage — tie groupBys, the rank window,
  // the stitch join — so on a key-clustered layout all of them reuse
  // the storage partitioning instead of re-shuffling the fact table
  // per query (the identical chain measured 2.9x / 11→5 exchanges at
  // sf10, BENCH_NOTES "Round-14 (cont.): the kruskal layout lever,
  // measured"; at 100 TB a per-key family without
  // key-clustered layout re-shuffles the full table per query).
  // Plain parquet stays the default: the driver's testdata is
  // unbucketed, and the clustered view costs a ONE-TIME bucketed
  // rewrite that only amortizes across repeated keyed jobs.

  /** `SPARK_GRAFT_BUCKETED=1` routes the per-key stat chains through
    * [[lineitemClustered]]. Results are layout-invariant
    * (SkewSpec asserts identity); only the plan changes. */
  def bucketedEnabled: Boolean =
    sys.env.get("SPARK_GRAFT_BUCKETED").exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Layout routing posture (round-17, verdict-16 item 2 — "decide the
    * default"): `-Dgraft.layout` / `$SPARK_GRAFT_LAYOUT` =
    *  - `auto` (LIBRARY DEFAULT — the production posture): the keyed
    *    stat families read a key-clustered layout whenever a COMPLETED
    *    build already exists for (source mtime, key, buckets); auto
    *    never triggers a build, so the first run on plain parquet
    *    stays plain and a deployment that has paid the one-time
    *    bucketed rewrite gets its shuffle-free plans on every
    *    subsequent job without any per-job flag;
    *  - `plain`: never route (the harness mains — Bench, Verify,
    *    PlanAudit — pin this unless explicitly overridden, so driver
    *    bench numbers and committed plan evidence stay comparable and
    *    reproducible regardless of layouts left on disk);
    *  - `clustered`: always route, building if needed — same as
    *    `SPARK_GRAFT_BUCKETED=1`, which takes precedence for
    *    back-compat. */
  def layoutMode: String =
    if (bucketedEnabled) "clustered"
    else sys.props.get("graft.layout")
      .orElse(sys.env.get("SPARK_GRAFT_LAYOUT"))
      .getOrElse("auto")

  /** Pin `plain` routing for a harness main unless the user explicitly
    * chose a layout (env or prop). Call BEFORE any table load. */
  def pinPlainLayoutDefault(): Unit =
    if (!bucketedEnabled && sys.props.get("graft.layout").isEmpty &&
        sys.env.get("SPARK_GRAFT_LAYOUT").isEmpty)
      sys.props("graft.layout") = "plain"

  /** Whether a completed clustered build for this (source, key) is
    * on disk AND still whole: its [[graft.io.BuildManifest]] verifies
    * against the directory (a partial/failed build, or one a tmp
    * reaper has thinned, is never routed). A source mtime of 0 (source
    * not visible) is never a valid cache key; the mtime itself is part
    * of the build's path. */
  def clusteredBuildExists(sfDir: String, name: String, key: String,
      numBuckets: Int = ClusterBuckets): Boolean = {
    val (_, path, mtime) = layoutAddress(sfDir, name, key, numBuckets)
    buildVerifies(path, mtime)
  }

  private def buildVerifies(path: String, mtime: Long): Boolean =
    mtime != 0L && graft.io.BuildManifest.verifies(path)

  /** Deterministic (catalog table, scratch path, source mtime) address
    * of a clustered layout — ONE definition shared by the builder and
    * the auto-routing existence check so they can never disagree. */
  private def layoutAddress(sfDir: String, name: String, key: String,
      numBuckets: Int): (String, String, Long) = {
    val mtime = new java.io.File(s"$sfDir/$name.parquet").lastModified()
    val sane = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_${name}_by_${key}_b${numBuckets}_${sane}_$mtime"
    (tbl, s"${System.getProperty("java.io.tmpdir")}/graft_layout_$tbl", mtime)
  }

  val LineitemClusterKey = "l_suppkey"
  /** Cluster key of the feature-keyed (per-part) stat family —
    * q_volcano / q_volcano_surface / q_min_valid_in_any_group all key
    * EVERY corpus-scale stage by `l_partkey` (r15 sf100: q_volcano
    * solo exponent 1.14 on plain parquet — the same super-scan shape
    * whose suppkey twin dropped 1.11→0.90 on the clustered layout). */
  val PartClusterKey = "l_partkey"
  val ClusterBuckets = 32

  /** The lineitem view the per-suppkey query family reads: clustered
    * when the env knob is set, plain parquet otherwise. */
  def lineitemKeyed(s: SparkSession, d: String): DataFrame =
    lineitemKeyedBy(s, d, LineitemClusterKey)

  /** Per-FAMILY clustered routing (round-16): same opt-in as
    * [[lineitemKeyed]] but with the family's own cluster key, so the
    * partkey-grouped chains stop re-shuffling the fact table per query
    * the way the suppkey family already does. Each key costs ONE
    * bucketed rewrite (amortized across every keyed job on that key);
    * results are layout-invariant (SkewSpec asserts bitwise identity
    * for both families). */
  def lineitemKeyedBy(s: SparkSession, d: String, key: String): DataFrame =
    if (routeClustered(layoutMode, clusteredBuildExists(d, "lineitem", key)))
      lineitemClustered(s, d, key)
    else lineitem(s, d)

  /** Pure routing decision (unit-testable without prop flips):
    * `clustered` always routes (building if needed), `plain` never,
    * `auto` routes iff the one-time build has already been paid. */
  private[graft] def routeClustered(mode: String, buildExists: => Boolean): Boolean =
    mode match {
      case "clustered" => true
      case "plain"     => false
      case _           => buildExists
    }

  def lineitemClustered(
      s: SparkSession, d: String,
      key: String = LineitemClusterKey,
      numBuckets: Int = ClusterBuckets): DataFrame =
    clustered(s, d, "lineitem", key, numBuckets)

  /** Bucketed+sorted catalog view of `sfDir/name.parquet` clustered by
    * `key`. Built ONCE per (source mtime, key, bucket count) into a
    * deterministic scratch path (the ANN-index ensure pattern:
    * completed builds are reused across sessions; a catalog-only miss
    * re-registers the existing files with the same bucket DDL instead
    * of rewriting). Every call first verifies the build's
    * [[graft.io.BuildManifest]]; a build that fails it (absent, partial, or
    * thinned on disk since) is dropped from the catalog and rewritten.
    * Spark reads bucket metadata from the catalog, so later
    * equi-joins/groupBys on `key` skip their shuffles entirely. */
  def clustered(
      spark: SparkSession, sfDir: String, name: String,
      key: String, numBuckets: Int): DataFrame = synchronized {
    val (tbl, path, mtime) = layoutAddress(sfDir, name, key, numBuckets)
    val whole = buildVerifies(path, mtime)
    if (!whole) spark.sql(s"DROP TABLE IF EXISTS $tbl") // external: drops the entry only
    if (!spark.catalog.tableExists(tbl)) {
      val src = table(spark, sfDir, name)
      if (whole)
        spark.sql(
          s"CREATE TABLE $tbl (${src.schema.toDDL}) USING PARQUET " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $numBuckets BUCKETS " +
          s"LOCATION '$path'")
      else {
        src.write.mode("overwrite")
          .bucketBy(numBuckets, key).sortBy(key)
          .option("path", path).format("parquet").saveAsTable(tbl)
        graft.io.BuildManifest.write(path)
      }
    }
    spark.table(tbl)
  }
}
