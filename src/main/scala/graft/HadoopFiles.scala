package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** How src/main reaches Hadoop's FileSystem API: through a session's
  * own Hadoop conf, so with the `file:` filesystem
  * [[GraftExtensions.register]] installed, and by listing with
  * `listStatus`. `listFiles` and `listLocatedStatus` build each
  * `LocatedFileStatus` from a status's permission, owner and group,
  * which the stock local filesystem reads with one `ls -ld` process per
  * file; Spark's own file index builds them field by field for the
  * same reason.
  */
object HadoopFiles {

  /** `s`'s Hadoop conf: the context's, plus the session's SQL confs. */
  def conf(s: SparkSession): Configuration =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Every file under `root`, recursively (`root` itself if it is a
    * file); `FileNotFoundException` if it does not exist.
    */
  def files(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val (dirs, plain) = fs.listStatus(root).toSeq.partition(_.isDirectory)
    plain ++ dirs.flatMap(d => files(fs, d.getPath))
  }

  /** Write each `(path, bytes)` with no `.crc` sidecars: they double the
    * metadata operations of a landing of many small files. The switch
    * goes to a FileSystem instance of the landing's own, closed after,
    * so it never reaches a cached instance other writers share.
    */
  def writeWithoutChecksums(conf: Configuration, root: Path)(
      files: Iterator[(Path, Array[Byte])]): Unit = {
    val fs = FileSystem.newInstance(root.toUri, conf)
    try {
      fs.setWriteChecksum(false)
      files.foreach { case (p, bytes) =>
        val os = fs.create(p, true)
        try os.write(bytes) finally os.close()
      }
    } finally fs.close()
  }
}
