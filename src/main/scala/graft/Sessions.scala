package graft

import org.apache.spark.sql.SparkSession

/** The production session profile — the heap-aware tuning the
  * benchmark harness certified at sf10/sf100, packaged so LIBRARY
  * users get the same session shape as every entry point's
  * [[harness]] session (round-13 verdict item 8).
  *
  * What the profile encodes (evidence in BENCH_NOTES rounds 11-13):
  *  - `nanosAsLong`: driver testdata has shipped TIMESTAMP(NANOS)
  *    parquet (INVARIANTS.md §4) — every session must read it.
  *  - AQE on + shuffles BORN WIDE (64, or 256 on constrained heaps)
  *    and coalesced down by runtime stats: bounds concurrent SMJ sort
  *    working sets; the 8 GiB OOM modes died exactly here (BENCH_NOTES
  *    "Round-11 sf10 certification", "Round-12: the 8 GiB cliff
  *    closed", "Round-13: per-family shuffle width at 8 GiB").
  *  - `storageFraction 0.3`: the library's session-lifetime memo
  *    caches (span histograms, minhash triples, ANN layouts) are
  *    MEMORY_AND_DISK — protecting the default 50% of unified memory
  *    for them starved execution on constrained heaps.
  *  - `periodicGC 2min`: completed queries' shuffle files are only
  *    reclaimed after a driver GC; the 30 min default outlives whole
  *    runs and accumulated >20 GB of dead shuffle scratch at sf100.
  *
  * "Constrained heap" = under [[graft.ops.Caches.MinHeapPerCoreMb]]
  * per core — the same floor that degrades memo caches to DISK_ONLY.
  */
object Sessions {

  /** The SMJ-heavy families whose concurrent sort working sets cause
    * the constrained-heap OOM mode — ONLY these keep the wide (256)
    * initial shuffle width there; everything else plans at 64
    * (measured 35-50% faster at 8g/sf10, identical on provisioned
    * heaps where both resolve to 64). Membership is the
    * round-11/12 crash + heavy-tail evidence: the span family (SMJ
    * chains over gram pairs), the pair-join family (banded triples
    * self-joins), and the TF shuffle pair tfidf/lm. */
  val WideFamilies: Set[String] = Set(
    "q_shared_span_pairs", "q_span_budget_pairs", "q_span_budget_clusters",
    "q_winnowing_fingerprints", "q_jaccard_pairs",
    "q_neardup_budget_pairs", "q_neardup_budget_clusters",
    "q_dedup_clusters", "q_tfidf_topk", "q_lm_score")

  /** Same floor [[graft.ops.Caches.memoLevelFor]] uses: under
    * ~384 MB/core the session is "constrained" — memos go DISK_ONLY
    * and shuffles start wide. */
  def constrainedHeap(maxHeapBytes: Long, cores: Int): Boolean =
    ops.Caches.memoLevelFor(maxHeapBytes, cores) ==
      org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Session-default initial shuffle width (AQE coalesces DOWN from
    * here): the SAFE wide value on a constrained heap, 64 otherwise.
    * Round-11 A/B/C at sf10 (32 threads, 8g): born at the core count,
    * the span/tfidf SMJ chains starved the unified pool
    * (UNABLE_TO_ACQUIRE_MEMORY); 256 completed but paid ~96 s over the
    * shuffle-heavy tail; 64 kept ~4/5 of the 32-partition speed
    * (q_tfidf_topk 39.5 s vs 35.3 s, 49.1 s at 256) and survived the
    * crash scenario. Round 12: on a constrained heap only 256 bounded
    * the concurrent SMJ sort working sets, at ~8% on that tail. */
  def defaultInitialPartitions(maxHeapBytes: Long, cores: Int): String =
    if (constrainedHeap(maxHeapBytes, cores)) "256" else "64"

  /** Per-query width: only [[WideFamilies]] members keep 256 on a
    * constrained heap; untagged queries narrow back to 64
    * (`initialPartitionNum` is a runtime SQL conf — set it before
    * each query so each plans under its own width). */
  def initialPartitionsFor(queryName: String, maxHeapBytes: Long, cores: Int): String =
    if (constrainedHeap(maxHeapBytes, cores) && WideFamilies(queryName)) "256"
    else "64"

  /** The full conf set, exposed so harnesses and specs can assert
    * against the same source of truth the builder applies. */
  def productionConfs(
      cores: Int,
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      defaultInitialPartitions(maxHeapBytes, cores),
    "spark.memory.storageFraction" -> "0.3",
    "spark.cleaner.periodicGC.interval" -> "2min",
    // Allow shuffled-hash join where its size conditions hold
    // (optimization guide §3.1/§9): broadcast still wins when a side
    // fits the threshold, and large-large joins fail
    // canBuildLocalHashMap and stay sort-merge — the flip only fires
    // where one side builds a per-partition hash table, which skips
    // sorting the big side. Measured r16 at sf100 on the bucketed
    // layout (both join children already hash-partitioned by the
    // bucket key, so SMJ's only remaining cost was two 600M-row
    // sorts): q_min_valid_in_any_group 113.3 -> 58.6 s and
    // q_median_collapse 108.3 -> 81.6 s, same window, clean:true,
    // oracle-checked results; q_volcano solo-flat (49.3 vs 48.8).
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** Executor memory to REQUEST under a `local-cluster[n,c,m]` master.
    *
    * The master string's `m` sizes the WORKER's capacity only;
    * executors still ask for the `spark.executor.memory` default
    * (1 GiB) unless the session requests more — the round-15 sf10
    * topology run OOMed exactly there (8192 MB workers, 1 GiB
    * executor heaps, the span-memo build dead at exit 52). [[harness]]
    * passes this alongside `spark.executor.extraClassPath`. None for
    * non-local-cluster masters or an unparseable spec (caller keeps
    * Spark's default). */
  def localClusterExecutorMemory(master: String): Option[String] =
    if (!master.startsWith("local-cluster")) None
    else master.replaceAll("[^0-9,]", "").split(',').lift(2)
      .filter(_.nonEmpty).map(_ + "m")

  private val InitialPartitionNum =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** `SPARK_GRAFT_CPUS` (default 4): the per-executor core count every
    * entry point's session is sized for. */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session every `main` in this package runs under (Bench,
    * Verify, PlanAudit, EntrySmoke, ParityDump, NotebookParity), so the
    * oracle certifies the plans Bench times and library users run: the
    * [[production]] profile on `SPARK_GRAFT_MASTER` (default
    * `local[SPARK_GRAFT_CPUS]`), UI off. `local-cluster` executors get
    * the app classpath, which they do not inherit, and the worker's
    * memory share ([[localClusterExecutorMemory]]; None keeps Spark's
    * default). `SPARK_GRAFT_INITIAL_PARTITIONS` overrides the session
    * default width (the sf100 recipes pin it). */
  def harness(logLevel: String = "WARN"): SparkSession = {
    val cpus = harnessCpus
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = production(SparkSession.builder(), cpus)
      .master(master)
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
      localClusterExecutorMemory(master).foreach(builder.config("spark.executor.memory", _))
    }
    sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS").foreach(builder.config(InitialPartitionNum, _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Plan the next query on a [[harness]] session under its own width:
    * [[initialPartitionsFor]], or `SPARK_GRAFT_INITIAL_PARTITIONS` when
    * set. A runtime SQL conf, so set it before building each query. */
  def useWidthFor(spark: SparkSession, queryName: String): Unit =
    spark.conf.set(InitialPartitionNum, sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
      initialPartitionsFor(queryName, Runtime.getRuntime.maxMemory, harnessCpus)))

  /** Apply the production profile to a builder. Master, UI, and any
    * deployment-specific confs stay the caller's: cluster users set
    * their own master/resources and then layer this profile on top.
    * `cores` should be the PER-EXECUTOR core count (local mode: the
    * local[N] thread count). */
  def production(
      builder: SparkSession.Builder,
      cores: Int,
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory): SparkSession.Builder =
    productionConfs(cores, maxHeapBytes).foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }
}
