package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Engine.session(appName = "graft-test", master = "local[4]",
      shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** DROP TABLE IF EXISTS `name`, then remove the managed-table
    * directory an aborted earlier run may have left under
    * `spark-warehouse/`, so its CREATE or IMPORT does not fail with
    * LOCATION_ALREADY_EXISTS. */
  def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    val d = new java.io.File("spark-warehouse/" + name)
    if (d.exists()) rm(d)
  }
}
