package graft.io

import java.nio.file.{Files, Path}

import graft.{SparkSpec, Tables}

class BuildManifestSpec extends SparkSpec {

  private def tree(): Path = {
    val root = Files.createTempDirectory("manifest")
    Files.createDirectories(root.resolve("_cell=1"))
    Files.writeString(root.resolve("_cell=1/part-0.parquet"), "abc")
    Files.writeString(root.resolve("_side.txt"), "side")
    Files.writeString(root.resolve(".part-0.parquet.crc"), "hidden")
    root
  }

  test("write lists every committed file with its length; verifies against the listing") {
    val root = tree()
    assert(!BuildManifest.verifies(root.toString) && BuildManifest.files(root.toString).isEmpty)
    BuildManifest.write(root.toString)
    assert(Files.readString(root.resolve("_graft_manifest")) ==
      "_cell=1/part-0.parquet\t3\n_side.txt\t4\n")
    assert(BuildManifest.files(root.toString).contains(Seq("_cell=1/part-0.parquet", "_side.txt")))
    assert(BuildManifest.verifies(root.toString))
    assert(BuildManifest.verifies("file:" + root))
    // hidden files never count
    Files.writeString(root.resolve("_cell=1/.staging"), "x")
    assert(BuildManifest.verifies(root.toString))
    // a changed length, an extra file and a missing file each fail
    Files.writeString(root.resolve("_side.txt"), "side2")
    assert(!BuildManifest.verifies(root.toString))
    BuildManifest.write(root.toString)
    assert(BuildManifest.verifies(root.toString))
    Files.writeString(root.resolve("_cell=1/part-1.parquet"), "d")
    assert(!BuildManifest.verifies(root.toString))
    Files.delete(root.resolve("_cell=1/part-1.parquet"))
    assert(BuildManifest.verifies(root.toString))
    Files.delete(root.resolve("_cell=1/part-0.parquet"))
    assert(!BuildManifest.verifies(root.toString))
  }

  test("a manifest in an earlier format is neither parsed nor verified") {
    val root = tree()
    val manifest = root.resolve("_graft_manifest")
    // the clustered layout's key=value counts
    Files.writeString(manifest, "files=1\nbytes=3\nrows=1\nsource_mtime=7\n")
    assert(BuildManifest.files(root.toString).isEmpty && !BuildManifest.verifies(root.toString))
    // the ANN index's bare path list
    Files.writeString(manifest, "_cell=1/part-0.parquet\n")
    assert(BuildManifest.files(root.toString).isEmpty && !BuildManifest.verifies(root.toString))
    assert(!BuildManifest.verifies(root.resolve("absent").toString))
  }

  test("a clustered layout holding the earlier key=value manifest is rebuilt, never routed") {
    val sfDir = "/root/testdata/sf0.001"
    val (key, buckets) = ("l_orderkey", 4) // a layout no other suite builds
    val built = Tables.clustered(spark, sfDir, "lineitem", key, buckets)
    val dir = new java.io.File(new java.net.URI(built.inputFiles.head)).getParentFile
    val manifest = dir.toPath.resolve("_graft_manifest")
    try {
      assert(Tables.clusteredBuildExists(sfDir, "lineitem", key, buckets))
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
      val mtime = new java.io.File(s"$sfDir/lineitem.parquet").lastModified()
      Files.writeString(manifest, s"files=${parts.length}\nbytes=${parts.map(_.length).sum}\n" +
        s"rows=${built.count()}\nsource_mtime=$mtime\n")
      assert(!Tables.clusteredBuildExists(sfDir, "lineitem", key, buckets))
      // a routed read rebuilds: only the build publishes a manifest in
      // the current format
      val rebuilt = Tables.clustered(spark, sfDir, "lineitem", key, buckets)
      assert(rebuilt.count() == Tables.lineitem(spark, sfDir).count())
      assert(Tables.clusteredBuildExists(sfDir, "lineitem", key, buckets))
      assert(Files.readString(manifest).linesIterator.forall(_.contains('\t')))
    } finally {
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(s"graft_lineitem_by_${key}_b$buckets"))
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      scala.reflect.io.Directory(dir).deleteRecursively()
    }
  }
}
