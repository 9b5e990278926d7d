package graft.dev

import graft.GraftSession

object AnsiAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(8)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { fn(spark, sfDir).count(): Unit }
      catch { case e: Throwable =>
        bad += 1
        println(s"ANSI-FAIL $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.next()}")
      }
    }
    println(s"ANSI-AUDIT done, failures=$bad")
    spark.stop()
  }
}
