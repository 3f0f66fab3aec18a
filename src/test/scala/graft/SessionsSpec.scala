package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The production session profile is the library's public packaging of
  * the bench-certified tuning — these tests pin its content and that
  * the builder applies exactly it (Bench derives from the same
  * functions, so harness and library cannot drift apart). */
class SessionsSpec extends AnyFunSuite {

  private val gb = 1L << 30

  test("profile content: the certified confs, heap-aware width") {
    val provisioned = Sessions.productionConfs(32, 16 * gb).toMap
    assert(provisioned("spark.sql.legacy.parquet.nanosAsLong") == "true") // INVARIANTS.md §4
    assert(provisioned("spark.sql.adaptive.enabled") == "true")
    assert(provisioned("spark.sql.shuffle.partitions") == "32")
    assert(provisioned("spark.sql.session.timeZone") == "UTC")
    assert(provisioned("spark.memory.storageFraction") == "0.3")
    assert(provisioned("spark.cleaner.periodicGC.interval") == "2min")
    assert(provisioned("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "64")
    // 8 GiB / 32 cores = 256 MB/core < the 384 MB/core floor → wide
    val constrained = Sessions.productionConfs(32, 8 * gb).toMap
    assert(constrained("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "256")
    // same floor as the memo-cache level decision
    assert(Sessions.constrainedHeap(8 * gb, 32))
    assert(!Sessions.constrainedHeap(16 * gb, 32))
  }

  test("per-query width: only WideFamilies stay wide, only on constrained heaps") {
    assert(Sessions.initialPartitionsFor("q_tfidf_topk", 8 * gb, 32) == "256")
    assert(Sessions.initialPartitionsFor("q1_agg", 8 * gb, 32) == "64")
    assert(Sessions.initialPartitionsFor("q_tfidf_topk", 16 * gb, 32) == "64")
    // families named in the rule must exist in the registry
    val registered = graft.queries.Registry.queries.keySet
    val missing = Sessions.WideFamilies.diff(registered)
    assert(missing.isEmpty, s"WideFamilies not in registry: $missing")
  }

  test("builder applies exactly productionConfs (no drift with Bench)") {
    val builder = Sessions.production(SparkSession.builder(), 32, 16 * gb)
    // the builder's pending options map is not public API — walk the
    // class hierarchy for the HashMap field (stable across Spark 4.x;
    // if the internals move, this fails loudly and the spec gets
    // updated rather than silently not asserting)
    def optionsOf(b: SparkSession.Builder): Map[String, String] = {
      var cls: Class[_] = b.getClass
      while (cls != null) {
        cls.getDeclaredFields.find(f =>
          classOf[scala.collection.mutable.HashMap[_, _]].isAssignableFrom(f.getType))
          .foreach { f =>
            f.setAccessible(true)
            return f.get(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
          }
        cls = cls.getSuperclass
      }
      fail("no options HashMap field found on SparkSession.Builder")
    }
    val applied = optionsOf(builder)
    val expected = Sessions.productionConfs(32, 16 * gb).toMap
    expected.foreach { case (k, v) =>
      assert(applied.get(k).contains(v), s"builder missing/differs on $k")
    }
    assert(applied.keySet == expected.keySet,
      s"builder applied extra confs: ${applied.keySet.diff(expected.keySet)}")
  }

  test("Sessions is the only file in src/main that builds a SparkSession") {
    // every entry point runs under Sessions.harness, so the oracle
    // certifies the plans Bench times; a main that builds its own
    // session drifts from that profile. Comments may name the builder.
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val hits = files.filter { f =>
      val code = Files.readString(f)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      builderCall.findFirstIn(code).nonEmpty
    }.map(root.relativize(_).toString).sorted
    assert(hits == Seq("graft/Sessions.scala"), s"SparkSession.builder() outside Sessions: $hits")
  }

  test("local-cluster executor-memory request parses the worker share") {
    // the master's m component is the WORKER capacity — executors must
    // request it explicitly or run at the 1 GiB default (the round-15
    // sf10 topology OOM)
    assert(Sessions.localClusterExecutorMemory("local-cluster[2,16,8192]")
      .contains("8192m"))
    assert(Sessions.localClusterExecutorMemory("local-cluster[1,4,1024]")
      .contains("1024m"))
    // non-local-cluster masters and malformed specs: caller keeps
    // Spark's default rather than guessing
    assert(Sessions.localClusterExecutorMemory("local[32]").isEmpty)
    assert(Sessions.localClusterExecutorMemory("spark://host:7077").isEmpty)
    assert(Sessions.localClusterExecutorMemory("local-cluster[2,16]").isEmpty)
  }
}
