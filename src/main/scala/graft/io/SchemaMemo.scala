package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Inferred schemas of unchanged files, kept so a repeat read runs no
  * inference job. Schema inference is a Spark job per read (a CSV
  * sample pass, a parquet footer read); a pass that re-reads the same
  * table pays it every time.
  *
  * A memoised schema is trusted only while its key matches: the
  * format and reader options, the session's SQL confs
  * (`spark.conf.getAll` — they steer inference), and the Hadoop
  * status of the path. A file keys on its qualified path, length and
  * modification time; a directory on its own status plus its
  * immediate children's, so adding, removing or rewriting a part file
  * is a miss. A glob, a path that cannot be listed, or anything else
  * infers exactly as a plain read does. A rewrite that keeps both the
  * length and the modification time is not seen.
  */
object SchemaMemo {

  private final case class Key(
      format: String, options: Map[String, String], confs: Map[String, String],
      status: Seq[(String, Long, Long)])

  /** Least-recently-used bound on kept schemas. */
  private val MaxEntries = 256

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
        size > MaxEntries
    })

  /** `spark.read.format(format).options(options).load(path)`, with the
    * schema memoised as described above. */
  def read(spark: SparkSession, path: String, format: String,
      options: Map[String, String]): DataFrame = {
    val reader = spark.read.format(format).options(options)
    key(spark, path, format, options) match {
      case None => reader.load(path)
      case Some(k) => Option(memo.get(k)) match {
        case Some(schema) => reader.schema(schema).load(path)
        case None =>
          val df = reader.load(path)
          memo.put(k, df.schema)
          df
      }
    }
  }

  private def key(spark: SparkSession, path: String, format: String,
      options: Map[String, String]): Option[Key] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val self = fs.getFileStatus(p)
      val children = if (self.isDirectory) fs.listStatus(p).toSeq else Nil
      def row(s: FileStatus) = (fs.makeQualified(s.getPath).toString, s.getLen, s.getModificationTime)
      Key(format, options, spark.conf.getAll, row(self) +: children.map(row).sortBy(_._1))
    }.toOption
}
