package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  // a fixed core count so test timings and partition layouts do not
  // follow the host; a private warehouse so saveAsTable tests never
  // write into the checkout
  lazy val session: SparkSession = Session("graft-test", master = "local[8]",
    conf = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
