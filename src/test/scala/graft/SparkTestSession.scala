package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
