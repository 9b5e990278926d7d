package graft.vec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF ANN index — the vector counterpart of
  * [[graft.text.DedupIndex]]: [[VectorOps.ivfTopK]] trains centroids and
  * assigns the whole corpus on EVERY call, which is the right shape for
  * a one-shot query but wrong for a served index over a slowly-growing
  * embedding corpus. Build once, probe many:
  *
  *  - `centroids/` (centroid_id, centroid array<double>) — nlist rows,
  *    collected driver-side at probe time (tiny by construction).
  *  - `lists/` partitioned by list_id: (id, vec) — the inverted lists.
  *    A probe reads ONLY the nprobe lists its queries rank best:
  *    the probed list ids are literals by the time the scan plans, so
  *    partition pruning skips every other list on disk — the I/O shape
  *    that matters when the corpus is 100 TB and nprobe/nlist is 1/4th
  *    of it.
  *  - `params/` (nlist, dim, kmeans_iters): dimension is CHECKED at
  *    probe time — querying a 64-dim index with 128-dim vectors would
  *    otherwise fail deep inside a fold with a row-level error.
  *  - `stats/` (list_id, n) — per-list occupancy, maintained
  *    incrementally by build/append/[[rebalance]] so [[listStats]] can
  *    report skew (the signal that appends have outgrown the frozen
  *    centroids and a rebalance is due) without ever scanning the lists.
  *
  * Queries and scoring match `ivfTopK` exactly (same centroid ranking
  * projection, same cosine/tie ordering), so its measured recall table
  * (COVERAGE.md) transfers to the persisted form.
  */
object VecIndex {

  /** Train + assign + persist. Deterministic: seeds are the nlist
    * smallest ids, refinement is [[VectorOps.kmeansCentroids]] — the
    * same discipline (and therefore the same centroids) as the
    * in-memory path. */
  def build(vectors: DataFrame, indexDir: String,
            idCol: String = "vec_id", vecCol: String = "embedding",
            nlist: Int = 16, kmeansIters: Int = 2): Unit = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin)
    val seed = base.orderBy(col("id")).limit(nlist)
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(seed.nonEmpty, "VecIndex.build: empty vector table")
    val dim = seed.head._2.length
    val cents = VectorOps.kmeansCentroids(base, "vec", seed, kmeansIters)
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    base.withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    Seq((nlist, dim, kmeansIters)).toDF("nlist", "dim", "kmeans_iters")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/params")
    refreshStatCounts(spark, indexDir)
  }

  /** Append new vectors into their lists without retraining: the
    * centroids stay fixed (the IVF contract — rebuild when drift
    * matters), new rows are assigned by the same ranking projection and
    * appended to their partitions. */
  // cross-process quiesce for every swap-based repair verb: the swap
  // is not concurrent-safe against an in-flight append in ANOTHER
  // Spark application, so the repair runs HOLDING the durable lease
  // (graft.ops.Lease.withHeld) — merely checking absence would let a
  // writer acquire it and start appending mid-swap. The holder's own
  // process passes through (e.g. appendWithPolicy's auto-rebalance
  // under the writer's lease).
  private def withMaintLease[A](spark: SparkSession, indexDir: String,
                                what: String,
                                ttlMs: Long = graft.ops.Lease.DefaultTtlMs)
                               (body: => A): A =
    graft.ops.Lease.withHeld(spark, indexDir, ttlMs,
      s"VecIndex $what")(body)

  def append(vectors: DataFrame, indexDir: String,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    // a writer that took graft.ops.Lease.acquire(indexDir) stays fresh
    // through every batch (refresh-only: lease-free callers untouched)
    // and SELF-FENCES: a writer whose lease was reclaimed (>TTL stall)
    // aborts here instead of appending as a zombie mid-maintenance
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    checkDim(spark, indexDir, vectors, idCol, vecCol)
    val assigned = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .transform(graft.ops.Pins.pin) // one assignment pass feeds write AND stat delta
    // write-boundary re-fence: a writer stalled past the TTL in the
    // assignment/checkpoint work aborts before a zombie append lands
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    assigned.write.mode("append").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    mergeStatCounts(spark, indexDir,
      assigned.groupBy(col("list_id")).agg(count(lit(1)).as("n")))
  }

  private def loadCentroids(spark: SparkSession,
                            indexDir: String): Seq[(Long, Array[Double])] = {
    healReassign(spark, indexDir)
    spark.read.parquet(s"$indexDir/centroids")
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
  }

  private def checkDim(spark: SparkSession, indexDir: String,
                       vectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val dim = spark.read.parquet(s"$indexDir/params").head().getAs[Int]("dim")
    val got = vectors.select(size(col(vecCol))).head().getInt(0)
    require(got == dim,
      s"VecIndex at $indexDir holds $dim-dim vectors; got $got-dim input")
  }

  // ------------------------------------------------------- IVF-PQ variant

  /** Persisted IVF-PQ index ("IVFADC" — the Faiss billion-scale
    * default): same inverted-list layout as [[build]], but each list row
    * stores the vector's RESIDUAL (v - centroid) PQ-encoded to m codes
    * instead of the vector itself — at dim=64/m=8 the lists shrink 32x,
    * which is the difference between an index that fits a serving tier
    * and one that re-reads the corpus. Residual encoding and scoring
    * semantics match [[VectorOps.ivfPqTopK]] exactly; the layout adds:
    *
    *  - `pq/` (subspace, code, entry array<double>) — the trained
    *    codebooks, m * ksub rows, driver-sized.
    *  - lists hold (id, codes array<int>), partitioned by list_id.
    *
    * The original vectors are NOT stored: exact re-ranking joins back to
    * the caller's vector table ([[topKPq]] `refineWith`), keeping the
    * index itself pure codes. */
  def buildPq(vectors: DataFrame, indexDir: String,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nlist: Int = 16, kmeansIters: Int = 2,
              m: Int = 8, ksub: Int = 64, pqIters: Int = 2): Unit = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin)
    val seed = base.orderBy(col("id")).limit(nlist)
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(seed.nonEmpty, "VecIndex.buildPq: empty vector table")
    val dim = seed.head._2.length
    val cents = VectorOps.kmeansCentroids(base, "vec", seed, kmeansIters)
    def centVec(cid: org.apache.spark.sql.Column) =
      cents.foldLeft(lit(null).cast("array<double>")) { case (acc, (id, cv)) =>
        when(cid === id, typedLit(cv.toSeq)).otherwise(acc)
      }
    val resid = base
      .withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .withColumn("residual",
        zip_with(col("vec"), centVec(col("list_id")), (x, c) => x - c))
      .transform(graft.ops.Pins.pin) // feeds PQ training sweeps AND the encode below
    val model = VectorOps.pqTrain(resid, "id", "residual", m, ksub, pqIters)
    VectorOps.pqEncode(resid, "id", "residual", model, keep = Seq("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (e, c) => (j, c, e.toSeq) }
    }.toDF("subspace", "code", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/pq")
    Seq((nlist, dim, kmeansIters, m, ksub, pqIters))
      .toDF("nlist", "dim", "kmeans_iters", "m", "ksub", "pq_iters")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/params")
    refreshStatCounts(spark, indexDir)
  }

  /** Append into the PQ lists without retraining: centroids AND
    * codebooks stay fixed (rebuild when drift matters — the same IVF
    * contract as [[append]]); new vectors are assigned, residual-encoded
    * with the persisted model, and appended to their list partitions. */
  def appendPq(vectors: DataFrame, indexDir: String,
               idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    val model = loadPqModel(spark, indexDir)
    checkDim(spark, indexDir, vectors, idCol, vecCol)
    def centVec(cid: org.apache.spark.sql.Column) =
      cents.foldLeft(lit(null).cast("array<double>")) { case (acc, (id, cv)) =>
        when(cid === id, typedLit(cv.toSeq)).otherwise(acc)
      }
    val resid = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .withColumn("residual",
        zip_with(col("vec"), centVec(col("list_id")), (x, c) => x - c))
      .transform(graft.ops.Pins.pin) // one assignment pass feeds write AND stat delta
    // write-boundary re-fence (see append's note)
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    VectorOps.pqEncode(resid, "id", "residual", model, keep = Seq("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    mergeStatCounts(spark, indexDir,
      resid.groupBy(col("list_id")).agg(count(lit(1)).as("n")))
  }

  private def loadPqModel(spark: SparkSession,
                          indexDir: String): VectorOps.PqModel = {
    val p = spark.read.parquet(s"$indexDir/params").head()
    val m = p.getAs[Int]("m")
    val subDim = p.getAs[Int]("dim") / m
    val rows = spark.read.parquet(s"$indexDir/pq").collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getSeq[Double](2).toArray))
    val cbs = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, es) => es.sortBy(_._2).map(_._3).toSeq }
    VectorOps.PqModel(m, subDim, cbs)
  }

  /** ADC top-k over the persisted PQ lists: per (query, probed list) the
    * driver builds the ADC table from the query's residual to that
    * centroid; probed list partitions are pruned at the scan exactly
    * like [[topK]], and candidates are scored through their m codes —
    * the float corpus is never read. With `refineWith` (the original
    * vector table), the ADC shortlist of `k * refine` is exact-L2
    * re-ranked by joining vectors back for shortlist members only.
    * Output: (query_id, rank, neighbor_id, dist) — squared L2, like the
    * other PQ searchers. */
  def topKPq(queries: DataFrame, indexDir: String,
             idCol: String = "vec_id", vecCol: String = "embedding",
             k: Int = 5, nprobe: Int = 4,
             refineWith: Option[DataFrame] = None,
             refine: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = loadCentroids(spark, indexDir)
    val model = loadPqModel(spark, indexDir)
    checkDim(spark, indexDir, queries, idCol, vecCol)
    val kAdc = if (refineWith.isDefined) k * refine else k
    val qRows = queries.select(col(idCol).cast("long").as("qid"),
        VectorOps.asDouble(col(vecCol)).as("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probeTables = qRows.toSeq.flatMap { case (qid, qv) =>
      cents.map { case (cid, cv) => (cosD(qv, cv), cid, cv) }
        .sortBy { case (c, cid, _) => (-c, cid) }
        .take(nprobe)
        .map { case (_, cid, cv) =>
          val qRes = qv.zip(cv).map { case (x, c) => x - c }
          val tab = model.codebooks.zipWithIndex.map { case (cb, j) =>
            val qs = qRes.slice(j * model.subDim, (j + 1) * model.subDim)
            cb.map(e => e.zip(qs).map { case (a, b) => (a - b) * (a - b) }.sum).toSeq
          }
          (qid, cid, tab)
        }
    }.toDF("query_id", "list_id", "tables")
    val probedLists = probeTables.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(s"$indexDir/lists")
      .where(col("list_id").isin(probedLists.map(x => x: Any): _*))
    val scored = lists.join(broadcast(probeTables), Seq("list_id"))
      .where(col("id") =!= col("query_id"))
      // ADC stays the HOF form HERE deliberately: swapping in the
      // adc_lookup kernel measured a consistent LOSS on this parquet-
      // scan + broadcast-join path (q_x_ann_vecidx_pq 2.77-3.33 ->
      // 3.31-3.97 s, exhaustive 1.62-1.73 -> 1.85-1.97 s, 3 interleaved
      // min-of-5 samples each) while the same kernel WINS on the
      // in-memory pqTopK path (VectorOps) — the fallback split appears
      // to be load-bearing for this stage's shape at local scale.
      .withColumn("dist",
        aggregate(zip_with(col("codes"), col("tables"),
            (c, tab) => element_at(tab, c + 1)),
          lit(0.0), (acc, x) => acc + x))
    val adc = scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col("id"))))
      .where(col("rank") <= kAdc)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"), round(col("dist"), 4).as("dist"))
    refineWith match {
      case None => adc
      case Some(vectors) =>
        val shortlist = adc.select(col("query_id"), col("neighbor_id"))
        val qv = queries.select(col(idCol).cast("long").as("query_id"),
          VectorOps.asDouble(col(vecCol)).as("q_vec"))
        vectors
          .select(col(idCol).cast("long").as("neighbor_id"),
            VectorOps.asDouble(col(vecCol)).as("cand_vec"))
          .join(broadcast(shortlist), Seq("neighbor_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("dist", VectorOps.l2sq(col("cand_vec"), col("q_vec")))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("dist"), col("neighbor_id"))))
          .where(col("rank") <= k)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("neighbor_id"), round(col("dist"), 4).as("dist"))
    }
  }

  /** Top-k cosine neighbors for a query frame, probing the nprobe
    * best-ranked lists per query. Output shape matches the other
    * searchers: (query_id, rank, neighbor_id, cos). */
  def topK(queries: DataFrame, indexDir: String,
           idCol: String = "vec_id", vecCol: String = "embedding",
           k: Int = 5, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCentroids(spark, indexDir)
    checkDim(spark, indexDir, queries, idCol, vecCol)
    val probes = queries
      .select(col(idCol).as("query_id"),
        VectorOps.asDouble(col(vecCol)).as("q_vec"))
      .withColumn("list_id",
        explode(slice(VectorOps.centroidRanking(col("q_vec"), cents), 1, nprobe)))
      .transform(graft.ops.Pins.pin)
    // the probed list set is a collected LITERAL by plan time, so the
    // partitioned read prunes every unprobed list directory
    val probedLists = probes.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(s"$indexDir/lists")
      .where(col("list_id").isin(probedLists.map(x => x: Any): _*))
    val scored = lists.join(broadcast(probes), Seq("list_id"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cos", VectorOps.cosine(col("vec"), col("q_vec")))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"))
  }

  // ------------------------------------------------------- IVF-SQ8 variant

  /** Persisted IVF index with SQ8-compressed lists: same inverted-list
    * layout as [[build]], but each list row stores the vector as
    * [[Quantize]] 1-byte-per-dim codes instead of doubles — lists
    * shrink ~8x vs the double-array layout (the parquet int encoding
    * bit-packs the 0..255 codes), the middle tier between the exact
    * index ([[build]]) and the 32x-but-lossy PQ residual index
    * ([[buildPq]]). Because SQ8 is DETERMINISTIC, an exhaustive probe
    * is exactly reproducible in SQL — this is the only compressed ANN
    * layout whose search results hash-match a DuckDB oracle rather
    * than being gated through an uncompressed twin.
    *
    * Layout adds `sq8/` (i, mn, mx) — the per-dimension affine scales,
    * dims rows, driver-sized. Assignment uses the FULL-precision
    * vectors (build-time only; probes never need them). */
  def buildSq8(vectors: DataFrame, indexDir: String,
               idCol: String = "vec_id", vecCol: String = "embedding",
               nlist: Int = 16, kmeansIters: Int = 2): Unit = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin)
    val seed = base.orderBy(col("id")).limit(nlist)
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(seed.nonEmpty, "VecIndex.buildSq8: empty vector table")
    val dim = seed.head._2.length
    val model = Quantize.sq8Train(base, "vec", dim)
    val cents = VectorOps.kmeansCentroids(base, "vec", seed, kmeansIters)
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    model.mins.indices.map(i => (i, model.mins(i), model.maxs(i)))
      .toDF("i", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/sq8")
    base.withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .select(col("id"), Quantize.sq8Encode(col("vec"), model).as("codes"),
        col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    Seq((nlist, dim, kmeansIters)).toDF("nlist", "dim", "kmeans_iters")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/params")
    refreshStatCounts(spark, indexDir)
  }

  /** Append into an SQ8 index without retraining: centroids AND scales
    * stay frozen (the quantization grid is part of the index contract —
    * re-scaling would silently shift every stored code's meaning).
    * Out-of-range values clamp to the grid ends, the standard frozen-
    * quantizer behavior; rebuild when drift makes clamping lossy. */
  def appendSq8(vectors: DataFrame, indexDir: String,
                idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    checkDim(spark, indexDir, vectors, idCol, vecCol)
    val model = loadSq8Model(spark, indexDir)
    val assigned = vectors.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("vec"))
      .withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .select(col("id"), Quantize.sq8Encode(col("vec"), model).as("codes"),
        col("list_id"))
      .transform(graft.ops.Pins.pin)
    // write-boundary re-fence (see append's note)
    graft.ops.Lease.fenceIfLost(spark, indexDir)
    assigned.write.mode("append").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    mergeStatCounts(spark, indexDir,
      assigned.groupBy(col("list_id")).agg(count(lit(1)).as("n")))
  }

  private def loadSq8Model(spark: SparkSession,
                           indexDir: String): Quantize.Sq8Model = {
    val rows = spark.read.parquet(s"$indexDir/sq8")
      .orderBy(col("i")).collect()
    Quantize.Sq8Model(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Probe the SQ8 index: same pruned partitioned read as [[topK]]
    * (unprobed list directories never touched), candidates dequantized
    * in the scan projection (row-local, scales as literals — no join),
    * full-precision queries — the asymmetric-distance discipline of
    * [[Quantize.sq8TopK]] against the persisted layout. */
  def topKSq8(queries: DataFrame, indexDir: String,
              idCol: String = "vec_id", vecCol: String = "embedding",
              k: Int = 5, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCentroids(spark, indexDir)
    checkDim(spark, indexDir, queries, idCol, vecCol)
    val model = loadSq8Model(spark, indexDir)
    val probes = queries
      .select(col(idCol).as("query_id"),
        VectorOps.asDouble(col(vecCol)).as("q_vec"))
      .withColumn("list_id",
        explode(slice(VectorOps.centroidRanking(col("q_vec"), cents), 1, nprobe)))
      .transform(graft.ops.Pins.pin)
    val probedLists = probes.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(s"$indexDir/lists")
      .where(col("list_id").isin(probedLists.map(x => x: Any): _*))
      .withColumn("vec", Quantize.sq8Dequant(col("codes"), model))
    val scored = lists.join(broadcast(probes), Seq("list_id"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cos", VectorOps.cosine(col("vec"), col("q_vec")))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"))
  }

  // ------------------------------------------------------- maintenance

  /** Per-list occupancy summary. `cv` is the population coefficient of
    * variation of list sizes over ALL centroids (empty lists count as 0:
    * an empty list is precisely the skew a probe pays for — its nprobe
    * budget buys nothing there). CV ~0 means balanced lists; a CV
    * drifting past ~1 after appends means probe cost has become
    * hostage to whichever list the data drifted into — time to
    * [[rebalance]]. */
  final case class ListStats(nLists: Long, nVectors: Long, minSize: Long,
                             maxSize: Long, meanSize: Double, cv: Double)

  /** Read the skew stats. Sizes come from the persisted `stats/` table —
    * one row per nonempty list, maintained incrementally by
    * build/append/rebalance, so this call is metadata-scale and NEVER
    * scans the lists (at 100 TB an operator checks skew between every
    * append; a scan per check would dwarf the appends). Indexes written
    * before stats existed self-heal: the one-time fallback counts rows
    * from the parquet footers (no data columns read) and persists. */
  def listStats(spark: SparkSession, indexDir: String): ListStats = {
    // heal BEFORE the counts read: loadCentroids heals a crashed
    // reassign (which rewrites stats/), so reading counts first could
    // combine pre-heal counts with post-heal centroid ids — wrong
    // min/max/cv for exactly one call, but that call may be the one
    // appendWithPolicy bases its rebalance decision on
    healReassign(spark, indexDir)
    val counts = loadStatCounts(spark, indexDir)
    val centIds = loadCentroids(spark, indexDir).map(_._1)
    val sizes = centIds.map(cid => counts.getOrElse(cid, 0L))
    val n = sizes.sum
    val mean = if (sizes.isEmpty) 0.0 else n.toDouble / sizes.size
    val varp = if (sizes.isEmpty) 0.0
      else sizes.map(s => (s - mean) * (s - mean)).sum / sizes.size
    ListStats(sizes.size.toLong, n,
      if (sizes.isEmpty) 0L else sizes.min,
      if (sizes.isEmpty) 0L else sizes.max,
      mean, if (mean == 0) 0.0 else math.sqrt(varp) / mean)
  }

  /** The append-time skew verdict: post-append occupancy stats, whether
    * the policy tripped (cv > maxCv), and whether a rebalance was
    * actually performed this call. */
  final case class SkewVerdict(stats: ListStats, needsRebalance: Boolean,
                               rebalanced: Boolean)

  /** [[append]] with the auto-rebalance POLICY attached: after the
    * append, read the (incrementally-maintained, metadata-scale) list
    * stats; if the size CV exceeds `maxCv`, either RECOMMEND a
    * rebalance (default — rebalance is not concurrent-safe against
    * in-flight probes, so the operator picks the window) or PERFORM it
    * when `autoRebalance = true`. The policy check costs a stats read,
    * never a list scan, so running it on every append is free at any
    * index size. `maxCv` default 1.0: past that, probe cost is hostage
    * to whichever list the appended mass drifted into (see
    * [[ListStats]]). */
  def appendWithPolicy(vectors: DataFrame, indexDir: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       maxCv: Double = 1.0,
                       autoRebalance: Boolean = false,
                       kmeansIters: Int = 2): SkewVerdict = {
    val spark = vectors.sparkSession
    append(vectors, indexDir, idCol, vecCol)
    val st = listStats(spark, indexDir)
    if (st.cv > maxCv) {
      if (autoRebalance) {
        val (_, after) = rebalance(spark, indexDir, kmeansIters)
        SkewVerdict(after, needsRebalance = true, rebalanced = true)
      } else SkewVerdict(st, needsRebalance = true, rebalanced = false)
    } else SkewVerdict(st, needsRebalance = false, rebalanced = false)
  }

  /** [[appendPq]] with the same policy check — RECOMMEND-ONLY:
    * [[rebalancePq]] needs the full original vector table (the lists
    * hold codes), which an append call does not carry, so the verdict
    * names the repair and the operator runs it with the vectors in
    * hand. */
  def appendPqWithPolicy(vectors: DataFrame, indexDir: String,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxCv: Double = 1.0): SkewVerdict = {
    val spark = vectors.sparkSession
    appendPq(vectors, indexDir, idCol, vecCol)
    val st = listStats(spark, indexDir)
    SkewVerdict(st, needsRebalance = st.cv > maxCv, rebalanced = false)
  }

  /** Re-fit the lists to the data they now hold: k-means refinement
    * restarted FROM THE CURRENT CENTROIDS over the current rows (so the
    * verb is deterministic and incremental — centroids move toward the
    * appended mass instead of being re-seeded from scratch), every row
    * re-assigned, and lists + centroids + stats rewritten through the
    * same tmp + live/_bak swap discipline as [[graft.ops.Compaction]].
    * Fixes what [[append]] cannot: appends assign into FROZEN lists, so
    * drifted data piles into few lists and probe cost degrades silently
    * (the nprobe budget buys ever-fatter lists). Not concurrent-safe
    * against an in-flight probe — run between serving windows, like
    * [[graft.text.DedupIndex.compact]]. A crash between the lists swap
    * and the centroids swap leaves new lists under old centroids: every
    * result is still well-defined (assignment only steers pruning, and
    * refinement started from those old centroids, so ranking stays
    * aligned) and the next rebalance converges it.
    * Returns (before, after) skew stats. PQ indexes must use
    * [[rebalancePq]] — their lists hold codes, not vectors. */
  def rebalance(spark: SparkSession, indexDir: String,
                kmeansIters: Int = 2): (ListStats, ListStats) =
      withMaintLease(spark, indexDir, "rebalance") {
    require(!spark.read.parquet(s"$indexDir/params").columns.contains("m"),
      s"VecIndex at $indexDir is IVF-PQ (lists hold codes, not vectors); " +
        "use rebalancePq with the original vector table")
    require(!isSq8(spark, indexDir),
      s"VecIndex at $indexDir is IVF-SQ8 (lists hold codes, not vectors); " +
        "use refreshCentroidsSq8 — it re-fits from the dequantized codes")
    val before = listStats(spark, indexDir)
    val cents0 = loadCentroids(spark, indexDir)
    val base = spark.read.parquet(s"$indexDir/lists")
      .select(col("id"), col("vec"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin) // feeds refinement sweeps AND the re-assignment
    val cents = VectorOps.kmeansCentroids(base, "vec", cents0, kmeansIters)
    reassignAll(spark, indexDir, base, cents)
    (before, listStats(spark, indexDir))
  }

  /** Centroid REFRESH for a drifted index — the bounded-cost form of
    * [[rebalance]]: appends assign into FROZEN centroids, so as the
    * data distribution drifts, mass piles into few lists and probe
    * recall decays (the skew policy sees the count imbalance, but only
    * moving the CENTROIDS toward the drifted mass repairs recall).
    * [[rebalance]]'s k-means refinement sweeps the FULL lists table
    * `kmeansIters` times; here the sweeps run over a bounded
    * DETERMINISTIC uniform sample (hash-mod thinning sized from the
    * metadata-scale `stats/` count — no scan, no RNG, replay-stable),
    * so refinement cost is flat in the corpus. The reassignment pass
    * that rewrites every row into its new list is shared with rebalance
    * (tmp + atomic swap) — that pass is the irreducible cost of ANY
    * centroid change, not of the refresh. Same concurrency contract as
    * rebalance: not safe against in-flight probes.
    * Returns (before, after) skew stats. */
  def refreshCentroids(spark: SparkSession, indexDir: String,
                       sampleSize: Int = 100000,
                       kmeansIters: Int = 2): (ListStats, ListStats) =
      withMaintLease(spark, indexDir, "refreshCentroids") {
    require(sampleSize >= 1, s"refreshCentroids: sampleSize >= 1, got $sampleSize")
    require(!spark.read.parquet(s"$indexDir/params").columns.contains("m"),
      s"VecIndex at $indexDir is IVF-PQ (lists hold codes, not vectors); " +
        "use refreshCentroidsPq with the original vector table")
    require(!isSq8(spark, indexDir),
      s"VecIndex at $indexDir is IVF-SQ8 (lists hold codes, not vectors); " +
        "use refreshCentroidsSq8 — it re-fits from the dequantized codes")
    val before = listStats(spark, indexDir)
    val cents0 = loadCentroids(spark, indexDir)
    val base = spark.read.parquet(s"$indexDir/lists")
      .select(col("id"), col("vec"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin) // feeds the sample filter AND the re-assignment
    val cents = VectorOps.kmeansCentroids(
      kmeansSample(base, before.nVectors, Some(sampleSize)), "vec",
      cents0, kmeansIters)
    reassignAll(spark, indexDir, base, cents)
    (before, listStats(spark, indexDir))
  }

  /** The shared reassign-and-swap tail of [[rebalance]] and
    * [[refreshCentroids]]: every row lands in its nearest NEW centroid's
    * list, installed through [[installReassigned]]'s crash-consistent
    * pending-epoch protocol (centroids and stats rewritten to match). */
  private def reassignAll(spark: SparkSession, indexDir: String,
                          base: DataFrame,
                          cents: Seq[(Long, Array[Double])]): Unit = {
    val tmp = s"$indexDir/lists__rebal_tmp"
    base.withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    installReassigned(spark, indexDir, tmp, cents)
  }

  private val ReassignEpochFile = "_REASSIGN_EPOCH"

  /** Install freshly reassigned lists TOGETHER with the centroids they
    * were assigned against. Two directories cannot swap atomically, and
    * either interim state (new lists routed by old centroids, or the
    * reverse) silently collapses probe recall — the exact decay
    * [[refreshCentroids]] exists to repair. So the interim states are
    * made detectable and healable instead: the new centroids persist
    * FIRST under `centroids__pending` stamped with a fresh epoch, the
    * new lists carry the SAME epoch through their swap (an `_`-prefixed
    * marker file travels with the directory rename; parquet readers
    * ignore it), and [[healReassign]] — run on every [[loadCentroids]],
    * i.e. by every probe/append/maintenance entry — either completes
    * the install (epochs match: the lists swap committed, the pending
    * centroids are the routing table those lists need) or aborts it
    * (epochs differ: the lists swap never happened; the old state is
    * intact and self-consistent, the caller just reruns). */
  private def installReassigned(spark: SparkSession, indexDir: String,
                                tmp: String,
                                cents: Seq[(Long, Array[Double])]): Unit = {
    import spark.implicits._
    val epoch = java.util.UUID.randomUUID().toString
    val pending = s"$indexDir/centroids__pending"
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(pending)
    writeEpoch(spark, pending, epoch)
    writeEpoch(spark, tmp, epoch)
    graft.ops.FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, s"$indexDir/lists")
    completePending(spark, indexDir)
  }

  /** Finish a committed pending install: centroids, then stats, then
    * retire the pending dir. Idempotent — a crash at any point leaves
    * the pending in place and the next heal retries the whole tail. */
  private def completePending(spark: SparkSession, indexDir: String): Unit = {
    val pending = s"$indexDir/centroids__pending"
    val cents = spark.read.parquet(pending)
      .select(col("centroid_id"), col("centroid"))
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    writeCentroids(spark, indexDir, cents)
    refreshStatCounts(spark, indexDir)
    val (f, p) = fsPath(spark, pending)
    f.delete(p, true): Unit
  }

  /** Heal-on-open for [[installReassigned]]'s crash windows. First
    * restores any half-finished [[graft.ops.FsPaths.swapDir]] (live
    * renamed away, data intact under `_bak` — a raw read would otherwise
    * fail loudly on a healthy index), then resolves a leftover pending install by epoch
    * comparison. Runs on every [[loadCentroids]]; maintenance ops are
    * single-writer by contract, so the heal never races an in-flight
    * install. */
  private def healReassign(spark: SparkSession, indexDir: String): Unit = {
    Seq("lists", "centroids", "stats").foreach { d =>
      val (f, live) = fsPath(spark, s"$indexDir/$d")
      graft.ops.FsPaths.restoreBak(f, live)
    }
    val pending = s"$indexDir/centroids__pending"
    val (f, pp) = fsPath(spark, pending)
    if (f.exists(pp)) {
      val pe = readEpoch(spark, pending)
      val le = readEpoch(spark, s"$indexDir/lists")
      if (pe.isDefined && pe == le) completePending(spark, indexDir)
      else f.delete(pp, true): Unit
    }
  }

  private def fsPath(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeEpoch(spark: SparkSession, dir: String,
                         epoch: String): Unit = {
    val (f, _) = fsPath(spark, dir)
    val out = f.create(
      new org.apache.hadoop.fs.Path(s"$dir/$ReassignEpochFile"), true)
    try out.write(epoch.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readEpoch(spark: SparkSession, dir: String): Option[String] = {
    val (f, _) = fsPath(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ReassignEpochFile")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(buf.toString("UTF-8"))
      } finally in.close()
    }
  }

  /** [[rebalance]] for the IVF-PQ layout. The index stores codes only,
    * so the caller supplies the original vector table (the same contract
    * as [[topKPq]] `refineWith`); every indexed id must be present —
    * missing rows would silently vanish from the index, so that is
    * checked and refused. Centroids are re-refined and rows re-assigned
    * + residual-RE-ENCODED against their new centroid; the PQ CODEBOOKS
    * stay frozen (they were trained on residual distributions, which a
    * centroid nudge barely moves — retraining them is a [[buildPq]]
    * rebuild, a different verb). */
  def rebalancePq(vectors: DataFrame, indexDir: String,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  kmeansIters: Int = 2): (ListStats, ListStats) =
    rebalancePqImpl(vectors, indexDir, idCol, vecCol, kmeansIters,
      sampleSize = None)

  /** [[refreshCentroids]] for the IVF-PQ layout: the k-means sweeps run
    * over a bounded deterministic sample (same 1-in-d hash thinning,
    * sized from the metadata-scale stats count), so refinement cost is
    * flat in the corpus. The caller still supplies the FULL original
    * vector table — new centroids change every residual, so every row
    * must re-encode regardless of how the centroids were fit; that
    * reassign-and-reencode pass is the irreducible cost of ANY centroid
    * change on a PQ index, not of the refresh (the same contract as
    * [[rebalancePq]], whose coverage check and epoch-stamped install
    * this shares). The PQ CODEBOOKS stay frozen: they were trained on
    * residual distributions, which a centroid nudge barely moves —
    * retraining them is a [[buildPq]] rebuild, a different verb. */
  def refreshCentroidsPq(vectors: DataFrame, indexDir: String,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         sampleSize: Int = 100000,
                         kmeansIters: Int = 2): (ListStats, ListStats) = {
    require(sampleSize >= 1,
      s"refreshCentroidsPq: sampleSize >= 1, got $sampleSize")
    rebalancePqImpl(vectors, indexDir, idCol, vecCol, kmeansIters,
      sampleSize = Some(sampleSize))
  }

  private def rebalancePqImpl(vectors: DataFrame, indexDir: String,
                              idCol: String, vecCol: String,
                              kmeansIters: Int,
                              sampleSize: Option[Int]): (ListStats, ListStats) = {
    val spark = vectors.sparkSession
    withMaintLease(spark, indexDir,
        if (sampleSize.isEmpty) "rebalancePq" else "refreshCentroidsPq") {
    val before = listStats(spark, indexDir)
    val cents0 = loadCentroids(spark, indexDir)
    val model = loadPqModel(spark, indexDir)
    checkDim(spark, indexDir, vectors, idCol, vecCol)
    val ids = spark.read.parquet(s"$indexDir/lists").select(col("id"))
    val base = ids.join(
        vectors.select(col(idCol).as("id"),
          VectorOps.asDouble(col(vecCol)).as("vec")), Seq("id"))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin)
    val nIdx = ids.count()
    val nGot = base.count()
    require(nGot == nIdx,
      s"rebalancePq: vector table covers $nGot of $nIdx indexed ids — " +
        "a rebalance with missing vectors would silently drop them")
    val cents = VectorOps.kmeansCentroids(
      kmeansSample(base, before.nVectors, sampleSize), "vec",
      cents0, kmeansIters)
    def centVec(cid: org.apache.spark.sql.Column) =
      cents.foldLeft(lit(null).cast("array<double>")) { case (acc, (id, cv)) =>
        when(cid === id, typedLit(cv.toSeq)).otherwise(acc)
      }
    val resid = base
      .withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .withColumn("residual",
        zip_with(col("vec"), centVec(col("list_id")), (x, c) => x - c))
    val tmp = s"$indexDir/lists__rebal_tmp"
    VectorOps.pqEncode(resid, "id", "residual", model, keep = Seq("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    installReassigned(spark, indexDir, tmp, cents)
    (before, listStats(spark, indexDir))
    }
  }

  /** [[refreshCentroids]] for the IVF-SQ8 layout — self-contained: SQ8
    * codes DEQUANTIZE deterministically, so the drifted index repairs
    * itself from its own lists with no original vector table. K-means
    * refines over a bounded sample of the dequantized vectors, every
    * row reassigns to its nearest new centroid by its dequantized form
    * — which is exactly the representation probes SCORE, so assignment
    * and scoring stay aligned — and the codes themselves ride along
    * UNCHANGED (the frozen quantization grid is index contract; only
    * list membership moves). Same epoch-stamped install and concurrency
    * contract as every reassign. */
  def refreshCentroidsSq8(spark: SparkSession, indexDir: String,
                          sampleSize: Int = 100000,
                          kmeansIters: Int = 2): (ListStats, ListStats) =
      withMaintLease(spark, indexDir, "refreshCentroidsSq8") {
    require(sampleSize >= 1,
      s"refreshCentroidsSq8: sampleSize >= 1, got $sampleSize")
    require(isSq8(spark, indexDir),
      s"VecIndex at $indexDir has no sq8/ scales — " +
        "use refreshCentroids (plain) or refreshCentroidsPq (PQ)")
    val before = listStats(spark, indexDir)
    val cents0 = loadCentroids(spark, indexDir)
    val model = loadSq8Model(spark, indexDir)
    val base = spark.read.parquet(s"$indexDir/lists")
      .select(col("id"), col("codes"))
      .withColumn("vec", Quantize.sq8Dequant(col("codes"), model))
      .repartition(col("id"))
      .transform(graft.ops.Pins.pin) // feeds the sample filter AND the re-assignment
    val cents = VectorOps.kmeansCentroids(
      kmeansSample(base, before.nVectors, Some(sampleSize)), "vec",
      cents0, kmeansIters)
    val tmp = s"$indexDir/lists__rebal_tmp"
    base.withColumn("list_id",
        element_at(VectorOps.centroidRanking(col("vec"), cents), 1))
      .select(col("id"), col("codes"), col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    installReassigned(spark, indexDir, tmp, cents)
    (before, listStats(spark, indexDir))
  }

  /** The shared 1-in-d deterministic thinning the refresh verbs feed
    * k-means: d sized from the incrementally-maintained stats count, so
    * the sample never costs a scan to size; None = full table (the
    * rebalance verbs). */
  private def kmeansSample(base: DataFrame, nVectors: Long,
                           sampleSize: Option[Int]): DataFrame =
    sampleSize match {
      case Some(sz) =>
        val d = math.max(1L, nVectors / sz)
        if (d == 1L) base
        else base.where(pmod(xxhash64(col("id"), lit("cref")), lit(d)) === 0)
      case None => base
    }

  private def isSq8(spark: SparkSession, indexDir: String): Boolean = {
    val (f, _) = fsPath(spark, indexDir)
    f.exists(new org.apache.hadoop.fs.Path(s"$indexDir/sq8"))
  }

  /** Fold the lists' per-append small files. [[append]] and its PQ/SQ8
    * siblings add one file set per call, and a WELL-BALANCED index never
    * triggers the cv-driven rebalance that would rewrite them — so a
    * long-appended index hits the small-files wall with no repair verb
    * on its cadence. This is that verb: a pure file reorganisation of
    * `lists/` (layout-agnostic — plain vectors, PQ codes and SQ8 codes
    * all fold the same; the `list_id` partitioning is preserved, which
    * is what probe-time partition pruning keys on), installed through
    * [[graft.ops.Compaction]]'s live/_bak swap — the SAME `_bak` suffix
    * [[healReassign]] already restores on every open, so a mid-swap
    * crash heals like every other maintenance crash here. Row counts
    * are untouched, so `stats/` stays valid. Not concurrent-safe
    * against in-flight probes (the rebalance contract). */
  def compactLists(spark: SparkSession, indexDir: String,
                   targetBytes: Long = 0L,
                   ttlMs: Long = graft.ops.Lease.DefaultTtlMs)
      : graft.ops.Compaction.CompactionStats =
    // targetBytes = 0 means the 128 MB default (callers forwarding an
    // optional byte policy pass their knob through unchanged);
    // ttlMs is the deployment's crash-detection knob (Lease invariant)
    withMaintLease(spark, indexDir, "compactLists", ttlMs) {
      healReassign(spark, indexDir)
      graft.ops.Compaction.compact(spark, s"$indexDir/lists",
        if (targetBytes > 0L) targetBytes else 128L << 20,
        partitionBy = Seq("list_id"))
    }

  /** Is maintenance DUE on this index? One row per policy signal, fs
    * metadata only: the lists' committed part-file count against
    * `maxFiles` (repair: [[compactLists]]) and the occupancy cv against
    * `maxCv` (repair: [[rebalance]] / the layout's refresh verb) — cv
    * comes from the incrementally-maintained `stats/`, never a scan.
    * The curation pipeline's [[graft.streaming.StreamOps.maintenanceDue]]
    * sibling, for standalone-index operators. */
  def maintenanceDue(spark: SparkSession, indexDir: String,
                     maxFiles: Int = 64, maxCv: Double = 1.0,
                     targetBytes: Long = 0L): DataFrame = {
    require(maxFiles >= 1 && maxCv > 0,
      s"maintenanceDue: bad thresholds ($maxFiles, $maxCv)")
    require(targetBytes >= 0L,
      s"maintenanceDue: targetBytes >= 0, got $targetBytes")
    import spark.implicits._
    val (f, _) = fsPath(spark, indexDir)
    val perDir = graft.ops.FsPaths.committedPartDirStats(f,
      new org.apache.hadoop.fs.Path(s"$indexDir/lists"))
    val nFiles = perDir.map(_._1).sum
    val st = listStats(spark, indexDir)
    Seq(
      // byte-aware when a compaction target is supplied (the shared
      // FsPaths.fileCountDue rule, per list_id partition dir): a
      // deployment derives "too many files" from its byte target, not
      // a fixed count
      ("lists_files", nFiles.toDouble, maxFiles.toDouble,
        graft.ops.FsPaths.fileCountDue(perDir, maxFiles, targetBytes),
        "compactLists"),
      ("occupancy_cv", st.cv, maxCv, st.cv > maxCv,
        "rebalance/refreshCentroids"))
      .toDF("component", "value", "threshold", "due", "repair")
  }

  private def writeCentroids(spark: SparkSession, indexDir: String,
                             cents: Seq[(Long, Array[Double])]): Unit = {
    import spark.implicits._
    val tmp = s"$indexDir/centroids__rebal_tmp"
    cents.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.ops.FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, s"$indexDir/centroids")
  }

  /** Exact per-list row counts from the just-written lists directory,
    * read DIRECTLY from the parquet footers on the driver: each
    * `list_id=<n>` partition dir's files carry their row count in ~8
    * bytes of footer metadata, so a refresh is O(files) metadata reads
    * — no Spark job, no data pages, no shuffle. (The previous
    * `read.groupBy(list_id).count()` form was correct but scheduled a
    * full distributed scan per index BUILD, a measurable tax when the
    * build itself is sub-second.) Driver-side is the right home: the
    * file list is already driver-held after the write, and even a
    * 100 TB index is only O(nlist * files-per-list) footers. */
  private def refreshStatCounts(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(s"$indexDir/lists")
    val fs = base.getFileSystem(conf)
    val counts = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
      .map { d =>
        val lid = d.getPath.getName.stripPrefix("list_id=").toLong
        val n = fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        (lid, n)
      }
      .filter(_._2 > 0L).sortBy(_._1)
    writeStatCounts(spark, indexDir, counts.toDF("list_id", "n"))
  }

  private def mergeStatCounts(spark: SparkSession, indexDir: String,
                              delta: DataFrame): Unit = {
    import spark.implicits._
    val merged = (loadStatCounts(spark, indexDir).toSeq ++
        delta.select(col("list_id").cast("long"), col("n").cast("long"))
          .as[(Long, Long)].collect())
      .groupBy(_._1).map { case (lid, xs) => (lid, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    writeStatCounts(spark, indexDir, merged.toDF("list_id", "n"))
  }

  private def writeStatCounts(spark: SparkSession, indexDir: String,
                              counts: DataFrame): Unit = {
    val tmp = s"$indexDir/stats__tmp"
    counts.select(col("list_id").cast("long"), col("n").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.ops.FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, s"$indexDir/stats")
  }

  private def loadStatCounts(spark: SparkSession,
                             indexDir: String): Map[Long, Long] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) { // pre-stats index: one-time footer-count heal
      refreshStatCounts(spark, indexDir)
    }
    spark.read.parquet(s"$indexDir/stats")
      .as[(Long, Long)].collect().toMap
  }
}
