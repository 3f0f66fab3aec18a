package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Completion record of a build that is reused from disk: the ANN
  * serving indexes, the incremental-dedup index and the clustered
  * table layouts.
  *
  * Format: one line per committed file under the build root, giving
  * its root-relative path and byte length, tab-separated. Committed
  * means every file of the tree except hidden ones (a path segment
  * starting with '.': checksums and staging) and the manifest itself.
  *
  * Contract: ONE writer per build. It writes the manifest last, after
  * every data and side file has been written, to a hidden tmp file
  * renamed into place, so a build that crashed before the end has no
  * manifest. Readers trust a build only through this object:
  *  - [[verifies]] compares the manifest with a directory listing
  *    (no Spark job). A missing file, a changed length, an extra file,
  *    an absent or corrupt manifest, or one in any other format, all
  *    mean "not built", and the caller rebuilds.
  *  - [[files]] reads the committed list without listing the tree;
  *    it is what the serving reads open.
  *
  * Listing uses recursive `listStatus`, not `listFiles(root, true)`:
  * the latter builds a `LocatedFileStatus` with block locations per
  * file, which on the local filesystem costs seconds over an index of
  * ~850 files.
  */
object BuildManifest {

  private val FileName = "_graft_manifest"

  /** Publish `root`'s current tree as the build's manifest. */
  def write(root: String): Unit = {
    val (fs, base) = resolve(root)
    val body = listing(fs, base).map { case (rel, len) => s"$rel\t$len\n" }.mkString
    val tmp = new Path(base, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    val dst = new Path(base, FileName)
    fs.delete(dst, false) // a rebuild that kept the old manifest
    require(fs.rename(tmp, dst), s"could not publish the build manifest at $dst")
  }

  /** The committed root-relative file paths, or None when `root` has
    * no manifest in this format. */
  def files(root: String): Option[Seq[String]] = {
    val (fs, base) = resolve(root)
    read(fs, base).map(_.map(_._1))
  }

  /** Whether `root` holds a manifest that names exactly the files on
    * disk, each at its recorded length. */
  def verifies(root: String): Boolean = {
    val (fs, base) = resolve(root)
    read(fs, base).exists(_.toMap == listing(fs, base).toMap)
  }

  private def resolve(root: String): (FileSystem, Path) = {
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sessionState.newHadoopConf())
    val base = new Path(root)
    (base.getFileSystem(conf), base)
  }

  private def read(fs: FileSystem, base: Path): Option[Seq[(String, Long)]] = {
    val body =
      try {
        val in = fs.open(new Path(base, FileName))
        try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
      } catch { case _: java.io.FileNotFoundException | _: ChecksumException => None }
    body.flatMap { b =>
      val entries = b.split("\n").toSeq.filter(_.nonEmpty).map(_.split('\t') match {
        case Array(rel, len) => len.toLongOption.map(rel -> _)
        case _               => None
      })
      if (entries.forall(_.isDefined)) Some(entries.flatten) else None
    }
  }

  /** (root-relative path, length) of every committed file, sorted. */
  private def listing(fs: FileSystem, base: Path): Seq[(String, Long)] = {
    def walk(dir: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.filterNot(_.getPath.getName.startsWith(".")).flatMap { st =>
        val rel = prefix + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, rel + "/")
        else if (rel == FileName) Nil
        else Seq(rel -> st.getLen)
      }
    try walk(base, "").sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Nil }
  }
}
