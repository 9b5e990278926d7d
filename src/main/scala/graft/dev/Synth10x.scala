package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev tool: synthesize an N-fold corpus under /tmp from an sf dir, for
  * probing scaling behavior beyond the driver's sf0.1 (`graft.Bench`
  * reads the result with SPARK_GRAFT_SF_DIR pointed at it). Replication
  * is shaped like a real web corpus: most copies are byte-identical
  * (exact-dup mass the pipeline must collapse), a minority get a
  * distinct suffix token (near-dups for MinHash). Events
  * and embeddings replicate with shifted ids (fresh users/vectors).
  * Usage: graft.dev.Synth10x [srcDir] [outDir] [factor] */
object Synth10x {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale10x")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(df: DataFrame, idCols: Seq[String], f: Long => DataFrame => DataFrame = _ => identity): DataFrame =
      (0 until factor).map { k =>
        val shift = k.toLong * 10000000L
        val shifted = idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + shift))
        f(k.toLong)(shifted)
      }.reduce(_.unionByName(_))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    // copy 0 = originals; other copies: 70% byte-identical, 30% near-dup
    val docs10 = replicate(docs, Seq("doc_id"), k => d =>
      if (k == 0) d
      else d.withColumn("text",
        when(pmod(col("doc_id"), lit(10)) < 3,
          concat(col("text"), lit(s" variant$k"))).otherwise(col("text"))))
    docs10.coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val events = spark.read.parquet(s"$src/events.parquet")
    replicate(events, Seq("event_id", "user_id"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    replicate(emb, Seq("vec_id"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    replicate(orders, Seq("o_orderkey", "o_custkey"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // fact/dim tables for the join-family probes (bloom, zorder, heavy
    // hitters): fact keys replicate shifted; the dim key spaces replicate
    // matching the fact shifts so join selectivities are scale-invariant
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    replicate(li, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .coalesce(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    replicate(part, Seq("p_partkey"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/part.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    replicate(cust, Seq("c_custkey"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/customer.parquet")

    println(s"synthesized ${factor}x corpus at $out")
    spark.stop()
  }
}
