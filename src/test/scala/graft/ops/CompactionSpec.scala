package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_compact_").toString + "/t"

  test("compact folds many small files into the planned count, content intact") {
    val dir = freshDir()
    val df = (1 to 5000).map(i => (i.toLong, s"val_$i", i % 7)).toDF("id", "s", "g")
    df.repartition(40).write.parquet(dir)
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.length).sum
    val target = math.max(1L, totalBytes / 3)
    val planned = Compaction.planFiles(spark, dir, target)
    val stats = Compaction.compact(spark, dir, target)
    assert(stats.filesBefore == 40)
    assert(stats.filesAfter == planned.toLong)
    assert(stats.filesAfter < stats.filesBefore)
    val back = spark.read.parquet(dir).as[(Long, String, Int)].collect().toSet
    assert(back == df.as[(Long, String, Int)].collect().toSet)
    // swap left no debris
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles.map(_.getName).toSet == Set("t"))
  }

  test("compact with sortBy produces non-overlapping key ranges per file") {
    val dir = freshDir()
    (1 to 4000).map(i => (i.toLong, i % 13)).toDF("k", "v")
      .repartition(20).write.parquet(dir)
    Compaction.compact(spark, dir, targetBytes = 1L, sortBy = Seq("k"))
    // targetBytes=1 caps nothing (one file per input byte is clamped by
    // row count); what matters: per-file min/max ranges must not overlap
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"file ranges overlap: $a vs $b")
    }
  }

  test("hive-partitioned dirs: refused without partitionBy, layout preserved with it") {
    val dir = freshDir()
    (1 to 2000).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "part")
      .repartition(12).write.partitionBy("part").parquet(dir)
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, dir, targetBytes = 1L << 20)
    }
    val stats = Compaction.compact(spark, dir, targetBytes = 1L << 20,
      partitionBy = Seq("part"))
    assert(stats.filesAfter < stats.filesBefore)
    // subdir layout survives and content round-trips
    val subdirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("part=")).sorted
    assert(subdirs.toSeq == Seq("part=g0", "part=g1", "part=g2"))
    assert(spark.read.parquet(dir).count() == 2000L)
  }

  test("compactZorder: files cover narrow ranges on BOTH dims, content intact") {
    val dir = freshDir()
    val rnd = new scala.util.Random(11)
    val df = (1 to 20000).map(_ => (rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong))
      .toDF("x", "y")
    df.repartition(30).write.parquet(dir)
    val stats = Compaction.compactZorder(spark, dir, targetBytes = 1L, Seq("x", "y"))
    assert(stats.filesAfter < stats.filesBefore || stats.filesAfter >= 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 20000L)
    // per-file spans: z-ordering keeps BOTH dims well under the global
    // range for most files (the data-skipping property)
    val spans = back.groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .as[(String, Long, Long)].collect()
    assert(spans.length > 1)
    val medianSx = spans.map(_._2).sorted.apply(spans.length / 2)
    val medianSy = spans.map(_._3).sorted.apply(spans.length / 2)
    assert(medianSx < 6000 && medianSy < 6000,
      s"files span too much of the 10000 range: sx=$medianSx sy=$medianSy")
  }

  test("planFiles: at most one output file per ScanPrune.PageRowLimit input rows") {
    val dir = freshDir()
    (1 to 5000).map(i => (i, i)).toDF("a", "b").repartition(5).write.parquet(dir)
    // by bytes alone targetBytes = 1 plans one file per input byte
    assert(Compaction.planFiles(spark, dir, 1L) == 3)
    val stats = Compaction.compact(spark, dir, targetBytes = 1L)
    assert(stats.filesAfter == 3L)
    assert(spark.read.parquet(dir).count() == 5000L)
  }

  test("planFiles: a plan that only merges files is ceil(bytes/target), no row bound") {
    val dir = freshDir()
    (1 to 5000).map(i => (i, i)).toDF("a", "b").repartition(5).write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // five files into five: by rows the plan would be 3, but a plan no
    // finer than the input's files reads no footer
    assert(Compaction.planFiles(spark, dir, (bytes + 4) / 5) == 5)
    assert(Compaction.planFiles(spark, dir, bytes) == 1)
  }

  test("planFiles: ceil(bytes/target), floor of one file") {
    val dir = freshDir()
    (1 to 100).map(i => (i, i)).toDF("a", "b").coalesce(1).write.parquet(dir)
    assert(Compaction.planFiles(spark, dir, Long.MaxValue) == 1)
    intercept[IllegalArgumentException] {
      Compaction.planFiles(spark, dir, 0L)
    }
  }
}
