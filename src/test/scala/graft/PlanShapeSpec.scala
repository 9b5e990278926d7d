package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Store

/** Plan-shape guards for the scale-critical properties: these assert WHAT
  * Catalyst planned, not just what the query returned, so a regression
  * that silently de-optimizes (filter stops reaching the scan, broadcast
  * turns into a shuffle, top-1 window loses its partial limit) fails CI
  * even while results stay correct. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val store: Store = {
    val root = Files.createTempDirectory("graft_planshape_").toString
    val st = new Store(spark, root, "ps")
    st.initialize()
    val df = (0 until 2000).map(i =>
        (i, s"label$i", 2000 + i % 20, s"fuel${i % 5}", i * 1.0))
      .toDF("row", "label", "year", "fuel", "value")
    st.ingest(df, "1.1", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(df, "2.1", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    st
  }

  test("mandatory table predicate prunes PROD partitions at the scan") {
    val q = store.readProd().where(col("table_name") === "1.1")
      .where(col("year") === 2005).select("label", "value")
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // partition pruning: the table_name predicate is a PartitionFilter,
    // not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*table_name[^\\]]*\\].*"),
      plan.take(1200))
    // data predicate pushed to the reader
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(year)"),
      plan.take(1200))
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    val q = store.readProd().where(col("table_name") === "1.1")
      .select("label", "value")
    val plan = q.queryExecution.executedPlan.toString.replaceAll("\\s+", " ")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("MISSING")
    assert(readSchema.contains("label") && readSchema.contains("value") &&
      !readSchema.contains("year") && !readSchema.contains("fuel"),
      s"ReadSchema was: $readSchema")
  }

  test("snapshot join broadcasts the log winners — RAW is never shuffled") {
    val snap = store.snapshot()
    snap.count()
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    // the RAW scan must feed the join with no Exchange in between — the
    // tiny log may shuffle inside its own broadcast subtree (32 rows),
    // but the big side streams straight from the parquet scan. In the
    // printed tree the RAW branch sits between the join node and the
    // BroadcastExchange of the build side.
    val jx = plan.indexOf("BroadcastHashJoin")
    val bx = plan.indexOf("BroadcastExchange", jx)
    assert(jx >= 0 && bx > jx, plan.take(1200))
    val rawSide = plan.substring(jx, bx)
    assert(rawSide.contains("FileScan parquet"), rawSide)
    assert(!rawSide.contains("Exchange hashpartitioning"), rawSide)
  }

  test("approx column stats plan has no exact-distinct aggregation") {
    // exact mode plans a two-level distinct per column — an Exchange on
    // (table_name, value), i.e. an O(distinct-values) shuffle; the approx
    // mode must plan as plain partial/final HLL aggregates with no
    // distinct expansion of any kind (neither the two-level rewrite nor
    // a multi-distinct Expand)
    val exactPlan = store.columnStats(store.readProd(), exact = true)
      .queryExecution.executedPlan.toString
    val approxPlan = store.columnStats(store.readProd(), exact = false)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("count(distinct"), exactPlan.take(800))
    assert(approxPlan.contains("approx_count_distinct"), approxPlan.take(800))
    assert(!approxPlan.contains("count(distinct") && !approxPlan.contains("Expand"),
      approxPlan.take(800))
  }

  test("decontaminate plans a broadcast left-anti join (corpus never shuffles)") {
    // at 100 TB the corpus is the streaming side and the benchmark
    // fingerprint set is tiny — a shuffled anti join here would be the
    // most expensive mistake in the whole preprocessing pipeline
    val docs = (0 until 1000).map(i => (i.toLong, s"doc text number $i with words"))
      .toDF("id", "text")
    val bench = Seq("doc text number 5 with words").toDF("text")
    val q = graft.text.TextOps.decontaminate(docs, bench, "text", "text")
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("bm25 prunes postings with a broadcast semi-join before the shuffle") {
    // at 100 TB the exploded postings list is the corpus times avg doc
    // length — it must be cut down to query-term matches by a BROADCAST
    // left-semi join on the tiny query-term set BEFORE the (id, term)
    // aggregation shuffles anything
    val docs = (0 until 500).map(i => (i.toLong, s"alpha beta w$i gamma"))
      .toDF("id", "text")
    val q = graft.text.TextOps.bm25TopK(docs, "id", "text",
      queries = Seq("q1" -> "alpha gamma"), k = 5)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    val semi = plan.indexOf("BroadcastHashJoin")
    assert(semi >= 0 && plan.contains("LeftSemi"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("trainingMix broadcasts the target map — one stratum shuffle only") {
    val df = (0 until 600).map(i => (s"s${i % 3}", i.toLong)).toDF("g", "id")
    val q = graft.functions.Sampling.trainingMix(df, "g", "id",
      Map("s0" -> 5, "s1" -> 2))
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("tokenBudgetMix broadcasts the budget map; splitAssign plans no exchange at all") {
    val df = (0 until 600).map(i => (s"s${i % 3}", i.toLong, 10L))
      .toDF("g", "id", "n_tok")
    val q = graft.functions.Sampling.tokenBudgetMix(df, "g", "id", "n_tok",
      Map("s0" -> 50L, "s1" -> 20L))
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    // split assignment is a pure projection — a shuffle here would mean
    // the "free at any scale" claim is wrong
    val s = graft.functions.Sampling.splitAssign(
      spark.range(1000).toDF("id"), "id")
    s.count()
    val sPlan = s.queryExecution.executedPlan.toString
    assert(!sPlan.contains("Exchange"), sPlan.take(1200))
  }

  test("repeatedPassages counts distinct docs without an Expand node") {
    // count(distinct id) per gram via Expand would double the exploded
    // corpus in flight; the two-stage distinct + count must not plan one
    val docs = (0 until 200).map(i => (i.toLong, s"a b c d e f g w$i"))
      .toDF("id", "text")
    val q = graft.text.TextOps.repeatedPassages(docs, "id", "text",
      n = 3, minDocs = 2)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(1200))
  }

  test("bloom semi join: might_contain filters BEFORE the join, on the scan side") {
    val big = spark.range(20000).select(col("id").as("row_id"),
      pmod(col("id"), lit(500)).as("k"))
    val small = (0L until 50L).map(i => (i * 7, i)).toDF("sk", "tag")
    val q = graft.ops.BloomJoin.semiJoin(big, small, "k", "sk")
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // the probe must sit below the join (prefilter at the scan), so in the
    // bottom-up plan string the deepest Filter with might_contain appears
    // AFTER the join node's line
    val joinIdx = plan.indexOf("Join")
    val probeIdx = plan.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"might_contain not under the join:\n${plan.take(1500)}")
  }

  test("zorder cluster plans exactly one wide exchange (the range shuffle)") {
    val df = spark.range(20000).select(col("id"),
      pmod(col("id"), lit(97)).as("x"), pmod(col("id"), lit(89)).as("y"))
    val q = graft.ops.Zorder.cluster(df, Seq("x", "y"), numPartitions = 8)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(plan.contains("rangepartitioning"), plan.take(1200))
    assert(exchanges == 1, s"expected 1 exchange, found $exchanges:\n${plan.take(1500)}")
  }

  test("heavy hitters: the exact pass aggregates candidates, never the key domain") {
    val skewed = spark.range(5000).select(
      when(col("id") < 2000, lit(1L)).otherwise(col("id")).as("k"))
    val q = graft.functions.Sketches.heavyHitters(skewed, "k", support = 0.2)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // the candidate membership probe compiles to a scan-side In/InSet
    // filter feeding the agg — no join against a key-domain frame
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan.take(1500))
  }

  test("composed as-of join keeps the partial top-1 (WindowGroupLimit)") {
    val left = (1 to 100).map(i => (i.toLong, i.toLong % 5,
      Timestamp.valueOf(s"2026-01-${i % 27 + 1} 00:00:00"))).toDF("eid", "k", "t")
    val right = (1 to 50).map(i => (i.toLong % 5,
      Timestamp.valueOf(s"2026-01-${i % 27 + 1} 00:00:00"), i.toLong)).toDF("k2", "rt", "v")
    val q = graft.ops.AsOf.join(left, right, "k", "k2", "t", "rt", Seq("eid"), Seq("v"))
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  /** Set confs for the duration of `body`, restore after — the session is
    * shared across suites, so nothing may leak. */
  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("funnel plans exactly one exchange — the user shuffle, no joins") {
    val events = spark.range(0, 1000).selectExpr(
      "id % 50 AS user_id",
      "timestampadd(MINUTE, CAST(id AS INT), TIMESTAMP'2026-01-01 00:00:00') AS t",
      "CASE WHEN id % 3 = 0 THEN 'signup' WHEN id % 3 = 1 THEN 'view' " +
        "ELSE 'click' END AS typ")
    val q = graft.ops.EventOps.funnel(events, "user_id", "t", "typ",
      Seq("signup", "view", "click"))
    q.collect()
    // AQE's toString prints Final AND Initial sections — count the final only
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500)) // the fold replaced the self-joins
  }

  test("dynamic partition pruning: a filtered dim join prunes PROD partitions at runtime") {
    // the 100 TB shape: fact partitioned on table_name, a dim filter that
    // only resolves at runtime — DPP must push a subquery into the scan's
    // partition filters instead of reading every partition. The dim goes
    // through parquet: a Seq-literal dim constant-folds to a
    // LocalTableScan with the filter absorbed, and DPP's
    // hasSelectivePredicate check then sees nothing selective to reuse.
    val dimDir = Files.createTempDirectory("graft_dpp_dim_").toString
    Seq(("1.1", "keep"), ("2.1", "drop")).toDF("table_name", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where($"tag" === "keep")
    val q = store.readProd().join(dim, "table_name").select("label", "value")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(1500))
  }

  test("AQE splits a skewed shuffle join at runtime (skew-join safety net)") {
    // one celebrity key holding ~95% of the left side; broadcast disabled
    // so the sort-merge path must absorb the skew via AQEShuffleRead
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8KB") {
      val left = spark.range(0, 200000)
        .selectExpr("CASE WHEN id % 20 < 19 THEN 0 ELSE id % 97 END AS k",
          "uuid() AS payload")
      val right = spark.range(0, 97).selectExpr("id AS k", "id * 2 AS attr")
      val q = left.join(right, "k")
      // collect() (not count()) so THIS query execution runs to its
      // adaptive final plan — count() plans a separate aggregation and
      // leaves q's own plan at isFinalPlan=false
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead") && plan.contains("skewed"),
        plan.take(2000))
    }
  }

  test("round-10g plans: URL kernels are exchange-free; privacy/label audits shuffle once") {
    // url canonicalization + domain extraction are row-local claims —
    // an Exchange here would break "scan speed at 100 TB"
    val urls = spark.range(500).selectExpr(
      "concat('http://www.s', id % 5, '.co.uk/p/', id, '?utm_source=x&b=1') AS url")
    val uq = urls.select(
      graft.text.UrlOps.canonicalizeUrl(col("url")).as("c"),
      graft.text.UrlOps.registrableDomain(
        graft.text.UrlOps.hostOf(col("url"))).as("d"))
    uq.count()
    assert(!uq.queryExecution.executedPlan.toString.contains("Exchange"),
      uq.queryExecution.executedPlan.toString.take(1200))
    // the k-anonymity class audit is ONE keyed aggregation: exactly one
    // hash-partitioning exchange (partial agg before it = map-side combine)
    val ppl = spark.range(2000).selectExpr("concat('z', id % 7) AS zip")
    val kq = graft.ops.Privacy.kAnonymity(ppl, Seq("zip" -> col("zip")), 10)
    kq.count()
    val kPlan = kq.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(kPlan).length == 1, kPlan.take(1500))
    assert(kPlan.contains("partial_count") || kPlan.contains("partial"), kPlan.take(1500))
    // majority vote is two keyed aggregations -> at most two exchanges,
    // never a join or window over the corpus
    val ann = spark.range(3000).selectExpr("id % 600 AS item",
      "id % 5 AS annotator", "id % 3 AS label")
    val mq = graft.text.Labels.majorityVote(ann, "item", "annotator", "label")
    mq.count()
    val mPlan = mq.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(mPlan).length <= 3, mPlan.take(1500))
    assert(!mPlan.contains("SortMergeJoin") && !mPlan.contains("Window"),
      mPlan.take(1500))
  }

  /** Matches of `pattern` per `src/main/scala/graft` file (path relative
    * to that root), ignoring mentions inside comments and scaladoc (lines
    * led by `*` or `//`). */
  private def codeSites(pattern: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val re = pattern.r
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val n = re.findAllIn(src).matchData.count { m =>
          val lineStart = src.lastIndexOf('\n', m.start) + 1
          val lead = src.slice(lineStart, m.start).trim
          !lead.startsWith("*") && !lead.startsWith("//")
        }
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    found.toMap
  }

  test("unpartitioned windows are confined to the audited bounded-input sites") {
    // A Window.orderBy with NO partitionBy plans as a single-partition
    // global sort — fine on a bounded/validation-mode input, a cluster
    // killer on a corpus. Every such site in main is enumerated here
    // with WHY its input is bounded; a new one fails this test until it
    // is either partitioned or audited onto the list.
    val allowed = Map(
      // bench-only corpus loader: caps the table before numbering
      "text/TextOps.scala" -> 1,
      // exactRank oracle-VALIDATION mode; default path is approx cuts
      "text/Curation.scala" -> 1,
      // AUC sweep runs on the distinct-SCORE domain, not the corpus
      "text/Eval.scala" -> 1,
      // top-k word list is LIMITed before ranking
      "text/CorpusStats.scala" -> 1,
      // ingest log: one row per ingest, metadata-sized
      "store/Store.scala" -> 1,
      // per-sheet row numbering at READ: sheets are workbook-sized
      "etl/Transform.scala" -> 1)
    val found = codeSites("""Window(\s*\n\s*)?\.orderBy""")
    assert(found == allowed,
      s"unpartitioned Window sites changed: found=$found allowed=$allowed — " +
        "partition the new window or audit it into this allowlist with a " +
        "bounded-input justification")
  }

  test("crossJoins are confined to the audited broadcast/1-row/capped sites") {
    // A crossJoin between two corpus-sized frames is a cluster killer;
    // every site in main is enumerated here with WHY its blowup is
    // bounded (a broadcast 1-row/driver-sized side, or a documented
    // capped validation mode). A new one fails this test until it is
    // audited onto the list — the unpartitioned-window discipline
    // applied to cross products.
    val allowed = Map(
      // scalar Procrustes seed-pair fold: broadcast driver-sized side
      "vec/Bitext.scala" -> 1,
      // SQ8 exhaustive probe: broadcast query side (probe-batch-sized)
      "vec/Quantize.scala" -> 1,
      // brute-force/ADC/RP probes: broadcast query side each
      "vec/VectorOps.scala" -> 3,
      // MMR pooling: broadcast query side
      "vec/Mmr.scala" -> 1,
      // beam search entry step: broadcast query-id frame x entry row
      "vec/GraphAnn.scala" -> 1,
      // normalization fold: broadcast 1-row min/max agg
      "functions/Stats.scala" -> 1,
      // shard planner: broadcast 1-row total agg
      "etl/Shards.scala" -> 1,
      // zipf fit + log-likelihood folds: broadcast 1-row aggs
      "text/CorpusStats.scala" -> 3,
      // AUC: two 1-row aggs (positive/negative totals)
      "text/Eval.scala" -> 1,
      // health report: 1-row corpus totals agg
      "text/SnapshotOps.scala" -> 1,
      // kappa/alpha/BT folds: broadcast 1-row/domain-sized aggs
      "text/Labels.scala" -> 4,
      // containment validation mode (CAPPED exhaustive, documented) +
      // two broadcast 1-row stats folds + substring-dedup stats folds
      // (two 1-row agg sides)
      "text/TextOps.scala" -> 5,
      // q_x_ann oracle harness (8-query broadcast) + near-dup 1-row agg
      "SparkEntry.scala" -> 2,
      // curationRender's corpus total: a 1-row aggregate side riding the
      // render query (replaces an eager driver count — r16)
      "streaming/StreamOps.scala" -> 1)
    val found = codeSites("""\.crossJoin\(""")
    assert(found == allowed,
      s"crossJoin sites changed: found=$found allowed=$allowed — bound the " +
        "new cross product (broadcast a 1-row/driver-sized side, or cap " +
        "and document a validation mode) and audit it into this allowlist")
  }

  test("every SparkSession is built by GraftSession") {
    // one conf set for every main and the test session: each extra
    // builder is a place for the session's confs to drift apart
    val found = codeSites("""SparkSession\s*\.\s*builder""")
    assert(found == Map("GraftSession.scala" -> 1),
      s"SparkSession builders outside GraftSession: $found — build the " +
        "session with GraftSession.builder/local instead")
  }

  test("substring dedup: reassembly agg reuses the coverage window's doc partitioning") {
    val docs = (0 until 500).map(i =>
        (i.toLong, if (i % 5 == 0) "a b c d e f g h" else s"u$i v$i w$i x$i y$i z$i q$i r$i"))
      .toDF("doc_id", "text")
    val q = graft.text.TextOps.dedupSubstrings(docs, "doc_id", "text", 3)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // the wide work is two hash exchanges (gram key; doc id for the
    // coverage window) plus the small rebuilt/changed join sides — a
    // corpus-sized cross product or nested-loop join must never appear,
    // and the groupBy after the coverage window must NOT re-shuffle
    // (its hash(id) requirement is satisfied by the window's exchange:
    // no exchange may sit between the covend Window and the collect
    // agg above it)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    val aggIdx = plan.indexOf("collect_list")
    // first window below the final agg = the covend coverage window
    // (the gram row_number window sits deeper, inside the union child)
    val winIdx = plan.indexOf("windowspecdefinition", aggIdx)
    assert(aggIdx >= 0 && winIdx > aggIdx, plan.take(1500))
    val between = plan.substring(aggIdx, winIdx)
    assert(between.contains("covend"), plan.take(1500))
    assert(!between.contains("Exchange"),
      s"reassembly re-shuffled after the coverage window:\n$between")
  }

  test("parquet aggregate pushdown: count/min/max answer from footer stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aggpd_").toString
    spark.range(0, 10000).selectExpr("id", "id % 7 AS v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    assert(graft.ops.ScanStats.probePushdown(spark, dir, Seq("v")))
    val row = graft.ops.ScanStats.tableStats(spark, dir, Seq("v")).collect()(0)
    assert(row.getLong(0) == 10000L && row.getLong(1) == 0L && row.getLong(2) == 6L)
    // scoped confs restored: a follow-up read plans through the v1 path again
    assert(spark.conf.getOption("spark.sql.sources.useV1SourceList").forall(_.contains("parquet")) ||
      spark.conf.getOption("spark.sql.sources.useV1SourceList").isEmpty)
  }
}
