package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}

/** The Hive-style `col=value` partition-directory layout that every
  * partitioned graft store is written in (`partitionBy` — the
  * MergeWriter stores, the ANN landing tables, the streaming sinks):
  * the ONE place that lists those directories and decodes their
  * values. Values decode with Spark's own `unescapePathName`, the exact
  * inverse of the `escapePathName` its writer applies (a URL decoder is
  * not: it turns a literal `+`, which Spark leaves unescaped, into a
  * space). Listing is driver-side and bounded by the directory count —
  * one `exists` plus one `listStatus` of the root, no file index. */
object PartitionDirs {

  /** One partition directory under a store root: its decoded value. */
  final case class Dir(value: String, path: Path, fs: FileSystem) {
    /** The files directly inside this partition (one `listStatus`). */
    def files: Seq[FileStatus] = fs.listStatus(path).toSeq.filter(_.isFile)
  }

  /** The `col=value` directories directly under `root` (empty when the
    * root is missing). */
  def list(spark: SparkSession, root: String, col: String): Seq[Dir] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = escapePathName(col) + "="
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        Dir(unescapePathName(st.getPath.getName.drop(prefix.length)), st.getPath, fs)
    }
  }

  /** Delete every `col=value` directory under `root` whose value
    * satisfies `which`; returns the dropped values. Files only — a
    * catalog table over the store drops its partitions itself. */
  def drop(spark: SparkSession, root: String, col: String)
          (which: String => Boolean): Seq[String] =
    list(spark, root, col).filter(d => which(d.value)).map { d =>
      d.fs.delete(d.path, true)
      d.value
    }
}
