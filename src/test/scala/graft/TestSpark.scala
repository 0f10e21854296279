package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  // a fixed core count so test timings and partition layouts do not
  // follow the host; a private warehouse so saveAsTable tests never
  // write into the checkout
  lazy val session: SparkSession = Session("graft-test", master = "local[8]",
    conf = Map("spark.sql.warehouse.dir" -> tempDir("graft_wh").toString))

  /** A fresh, empty directory for one test's files, deleted at JVM exit
    * ([[Scratch.temp]]).
    */
  def tempDir(prefix: String): Path = Paths.get(Scratch.temp(prefix))
}
