package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. Warehouse goes to a
  * fresh temp dir so managed-table tests (bucketing) never collide with a
  * previous run's leftovers. */
object TestSpark {
  lazy val spark: SparkSession = {
    // SparkConf reads spark.* system properties: the one setting the suite
    // adds to GraftSession.local
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    GraftSession.local("graft-test")
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
