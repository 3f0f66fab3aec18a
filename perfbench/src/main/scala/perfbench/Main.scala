package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Sessions, Tables}

final case class PassOut(opsS: Seq[Double], digest: String)
final case class Check(name: String, ok: Boolean, detail: String)
final case class Prefix(name: String, parent: String, seconds: Double)

/** A benchmark workload. A pass runs its whole workflow once and times
  * each op inside it; [[reset]] releases what a pass leaves in the
  * session (caches, index directories) so passes stay independent. */
trait Workload {
  def opsPerPass: Int
  /** Untimed passes between the set-ups and the measured window. */
  def warmupPasses: Int
  def reset(spark: SparkSession): Unit
  def pass(spark: SparkSession): PassOut
  /** Wall time of materialising each prefix of the chain on its own. */
  def prefixes(spark: SparkSession): Seq[Prefix]
  /** Counts and ratios of the layers, measured once in a traced run. */
  def layerCounts(spark: SparkSession): Map[String, Double]
  /** Output checks, run once after the measured window. */
  def checks(spark: SparkSession): Seq[Check]
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-independent digest of collected outputs. */
  def digest(parts: Seq[Any]*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { rows =>
      rows.map {
        case r: Row => r.toSeq.mkString("\u0001")
        case x => String.valueOf(x)
      }.sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
      md.update("\u0002".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Runs one workload in one JVM and writes its measurements as JSON:
  *
  *   perfbench.Main --workload lfq_workflow|corpus_ingest --inputs DIR
  *     --work DIR --out FILE --seconds N --trace 0|1
  *     [--splits lo:hi,...] [--launched-ms EPOCH_MS]
  *
  * The set-up creates the session and runs one cold pass. After the
  * workload's warm-up passes, the measured window runs passes back to
  * back (one client thread, closed loop) until `seconds` have elapsed
  * and at least two untraced passes ran; with `--trace 1` every other
  * pass is traced, and the chain's prefixes are then timed on their own. */
object Main {
  /** Prefix profiles per traced run; self times use each prefix's median. */
  val PrefixReps = 2

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val work = a("work")
    Tables.pinPlainLayoutDefault()
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = a("workload") match {
      case "lfq_workflow" => new Lfq(a("inputs"), work)
      case "corpus_ingest" =>
        new Corpus(a("inputs"), work, a("splits").split(",").toSeq.map { r =>
          val Array(lo, hi) = r.split(":"); (lo.toLong, hi.toLong)
        })
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the session and one cold pass
    val t0 = System.nanoTime()
    val spark = Sessions.production(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local"), cores).getOrCreate()
    wl.reset(spark)
    wl.pass(spark)
    val setupS = Workload.secs(t0)
    System.err.println(f"[perfbench] setup: $setupS%.3f s")
    for (i <- 1 to wl.warmupPasses) {
      wl.reset(spark)
      val t0 = System.nanoTime()
      wl.pass(spark)
      System.err.println(f"[perfbench] warmup $i: ${Workload.secs(t0)}%.3f s")
    }

    val passes = ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    // at least two untraced passes (passes alternate when traced), so a
    // pass longer than the window is not measured by one sample alone
    val minPasses = if (trace) 3 else 2
    while (Workload.secs(start) < a("seconds").toDouble || passes.length < minPasses) {
      val traced = trace && passes.length % 2 == 1
      wl.reset(spark)
      if (traced) Trace.setup(spark)
      val c0 = cpuNs()
      val g0 = gcMs()
      val a0 = allocatedBytes()
      val w0 = System.nanoTime()
      val out = Try(wl.pass(spark))
      val wall = Workload.secs(w0)
      val cpu = (cpuNs() - c0) / 1e9
      val gc = (gcMs() - g0) / 1e3
      val allocMb = allocatedSince(a0) / (1024.0 * 1024.0)
      val (spans, counters) =
        if (traced) { val r = Trace.collect(spark); Trace.teardown(spark); r }
        else (Nil, Map.empty[String, Double])
      System.err.println(f"[perfbench] pass ${passes.length} traced=$traced: $wall%.3f s" +
        out.failed.map(e => s" failed: $e").getOrElse(""))
      passes += Map(
        "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc, "alloc_mb" -> allocMb,
        "ops_s" -> out.map(_.opsS).getOrElse(Nil),
        "digest" -> out.map(_.digest).getOrElse(""),
        "error" -> (out match { case Failure(e) => e.toString; case Success(_) => null }),
        "counters" -> counters,
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.jobs)))
    }

    val checks = Try(wl.checks(spark)) match {
      case Success(cs) => cs
      case Failure(e) => Seq(Check("checks", ok = false, e.toString))
    }
    val prefixes = if (trace) (1 to PrefixReps).flatMap(_ => wl.prefixes(spark)) else Nil
    val counts = if (trace) wl.layerCounts(spark) else Map.empty[String, Double]
    wl.reset(spark)

    val result = Map(
      "workload" -> a("workload"), "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "ops_per_pass" -> wl.opsPerPass,
      "jvm_start_s" -> a.get("launched-ms").map(l => (entryMs - l.toLong) / 1e3).getOrElse(0.0),
      "setup_pass_s" -> setupS,
      "passes" -> passes.toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "prefixes" -> prefixes.map(p => Map("name" -> p.name, "parent" -> p.parent, "s" -> p.seconds)),
      "layer_counts" -> counts,
      "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> peakPoolMb(MemoryType.HEAP),
      "peak_non_heap_mb" -> peakPoolMb(MemoryType.NON_HEAP))
    val f = new java.io.PrintWriter(a("out"))
    try f.print(Json(result)) finally f.close()
    spark.stop()
    sys.exit(0)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Collection time of every collector in this JVM (local mode: the
    * executors' GC too). */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  private def threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes allocated so far by each live thread, by thread id. */
  private def allocatedBytes(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Heap bytes allocated since `before` by the threads alive now (in
    * local mode the executors' task threads too). Unlike the pools' peak
    * usage it does not depend on when the collector ran or how far it
    * grew the heap. */
  private def allocatedSince(before: Map[Long, Long]): Long =
    allocatedBytes().map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  /** The JVM's own peak memory use: the peak usage of its heap or
    * non-heap pools since start. It follows the collector's sizing of the
    * young generation, so it goes to the artifact only. */
  private def peakPoolMb(t: MemoryType): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == t).map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** High-water resident set size of this process. It follows how far
    * the collector grew the heap more than what the program keeps in
    * it, so it goes to the artifact only. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
