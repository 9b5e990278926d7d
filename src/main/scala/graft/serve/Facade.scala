package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Config, Transform, Validate}
import graft.etl.Config.TableConfig
import graft.io.{Export, WorkbookReader}
import graft.io.WorkbookReader.Workbook
import graft.store.Store

/** The user-facing library facade — the reference's Python facade + CLI
  * verbs (facade.py, cli.py) as one object: ingest, stage, query, export,
  * info. A long-lived SparkSession + Store pair backs every verb.
  */
final class Facade(spark: SparkSession, root: String, collection: String) {

  val store = new Store(spark, root, collection)
  store.initialize()
  lazy val queryService = new QueryService(spark, store)

  /** Ingest one logical table from a workbook through transform ->
    * validate -> RAW append (the §3.3 write path). Returns the ingest id. */
  def ingest(wb: Workbook, cfg: TableConfig,
             template: Option[DataFrame] = None,
             ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): Long = {
    val frame = cfg.kind match {
      case Config.MultiSheet =>
        Transform.processMultiSheetsToFrame(spark, wb, cfg, template)
      case Config.Custom(name) =>
        val flow = Transform.customFlows.getOrElse(name,
          throw new IllegalArgumentException(s"unknown custom transform '$name'"))
        flow(spark, wb, cfg, template)
      case Config.SingleSheet =>
        Transform.processSheetToFrame(spark, wb, cfg, template)
    }
    val validated = Validate.validateSchema(frame, cfg.table,
      schemaFor(frame, cfg.table))
    val id = store.ingest(validated, cfg.table,
      url = cfg.url.getOrElse(""),
      description = cfg.description.getOrElse(""), ingestTs = ingestTs)
    queryService.refresh() // the view carries the table descriptions
    id
  }

  /** The canonical schema restricted to the columns this frame produced
    * (the wide schema is sparse; validation enforces dtypes/nullability on
    * the populated subset and rejects columns outside the declared set). */
  private def schemaFor(frame: DataFrame, table: String) = {
    import org.apache.spark.sql.types._
    val canonical = graft.model.CanonicalSchema.struct
    val cols = ("table_name" +: frame.columns.toIndexedSeq).distinct
    StructType(cols.map { c =>
      canonical.fields.find(_.name == c)
        .getOrElse(StructField(c, StringType, nullable = true))
    })
  }

  /** Snapshot RAW -> PROD as of an optional cutoff; rebuilds metadata and
    * drops the serving view (a stage by another Store shows through the
    * view's stage-marker check instead). */
  def stage(cutoff: Option[Timestamp] = None): Unit = {
    store.stage(cutoff)
    queryService.refresh()
  }

  /** Incremental re-stage: rewrites only tables whose winning ingest
    * changed (beyond reference parity — the reference rebuilds PROD
    * wholesale) and removes tables with no winner under the cutoff. The
    * serving view is invalidated only when something actually changed.
    * Returns the rewritten and removed table names. */
  def stageIncremental(cutoff: Option[Timestamp] = None): Seq[String] = {
    val changed = store.stageIncremental(cutoff)
    if (changed.nonEmpty) queryService.refresh()
    changed
  }

  /** Ingested-versions list (reference: facade.versions ->
    * get_data_versions, etl/process.py:337-392): distinct successful
    * (table_name, ingest_ts), newest first per table, optionally filtered
    * by table. */
  def versions(table: Option[String] = None): DataFrame = {
    // scope to THIS collection: the log file is shared by every
    // collection under the root (same filter every other log reader uses)
    val log = store.readLog()
      .filter(col("success") === 1 && col("data_collection") === collection)
    val scoped = table.fold(log)(t => log.filter(col("table_name") === t))
    scoped.select(col("table_name"), col("ingest_ts")).distinct()
      .orderBy(col("table_name").asc, col("ingest_ts").desc)
  }

  /** Per-table column metadata for staged data (reference: facade.metadata,
    * facade.py:88-110): queryable columns + inferred dtypes/stats. With no
    * table, the whole metadata frame (the CLI's --meta over all tables).
    * Served from the staged view, sorted by table then column: a
    * driver-local frame whose collect runs no Spark job. */
  def metadata(table: Option[String] = None): DataFrame =
    queryService.view.metadata(table)

  /** Query PROD with the JSON filter DSL (the §3.1 read path). */
  def query(table: String, filtersJson: String = "{}",
            limit: Int = queryService.DefaultLimit,
            cursor: Option[Long] = None): QueryService.Page =
    queryService.query(table, filtersJson, limit, cursor)

  /** Export one table or the whole collection, read through the serving
    * view: no listing or schema job per call. */
  def exportTable(table: String, outDir: String, format: String = "csv"): String =
    queryService.withView(v => Export.exportTable(v.prod, collection, table, outDir, format))
  def exportAll(outDir: String, format: String = "csv"): Seq[String] =
    queryService.withView(v => Export.exportAll(v.prod, collection, outDir, format))

  /** Info report: per staged table, ingest provenance + year range + row
    * count (reference: process.py:318-390, the A3 aggregate). */
  def info(): DataFrame = {
    val prod = store.readProd()
    val perTable = prod.groupBy(col("table_name")).agg(
      min(col("year")).as("min_year"), max(col("year")).as("max_year"),
      count(lit(1)).as("n_rows"),
      max(col("ingest_id")).as("ingest_id"))
    val log = store.readLog().select(col("ingest_id"), col("ingest_ts"),
      col("url"), col("table_description"))
    perTable.join(broadcast(log), Seq("ingest_id"), "left")
      .orderBy(col("table_name"))
  }

  // ------------------------------------------------------------------
  // Corpus verbs — the text-family operators exposed at the facade the
  // way the reference exposes every capability through facade + CLI
  // (facade.py, cli.py:41-166). Each reads an arbitrary parquet corpus
  // (these operate on external training data, not the collection's
  // staged tables) and returns the audit frame the library op produces.
  // ------------------------------------------------------------------

  private def corpus(inPath: String): DataFrame = spark.read.parquet(inPath)

  /** Per-conversation chat audit (`graft.text.Chat.stats`): turn counts
    * by role, whitespace tokens, schema-contract verdict. */
  def chatStats(inPath: String, idCol: String = "doc_id",
                jsonCol: String = "text"): DataFrame =
    graft.text.Chat.stats(corpus(inPath), idCol, jsonCol)

  /** HTML -> main-text extraction (`graft.text.Html.mainText`) with the
    * page's link count — the crawl-triage projection. */
  def htmlExtract(inPath: String, idCol: String = "doc_id",
                  htmlCol: String = "text", minChars: Int = 30,
                  minStopRatio: Double = 0.05): DataFrame =
    corpus(inPath).select(col(idCol),
      graft.text.Html.mainText(col(htmlCol), minChars, minStopRatio).as("txt"),
      graft.text.Html.linkCount(col(htmlCol)).as("links"))

  /** Preference-pair hygiene (`graft.text.Preference.pairStats`):
    * token counts, chosen/rejected Jaccard, identical verdict, keep rule. */
  def prefStats(inPath: String, idCol: String = "pair_id",
                promptCol: String = "prompt", chosenCol: String = "chosen",
                rejectedCol: String = "rejected",
                maxJaccard: Double = 0.9): DataFrame =
    graft.text.Preference.pairStats(corpus(inPath), idCol, promptCol,
      chosenCol, rejectedCol, maxJaccard)

  /** Raw-JSONL triage (`graft.ops.JsonProfile`): with no keys, the
    * top-level key-coverage profile; with keys, per-key field stats. */
  def jsonProfile(inPath: String, jsonCol: String = "text",
                  keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) graft.ops.JsonProfile.keyProfile(corpus(inPath), jsonCol)
    else graft.ops.JsonProfile.fieldStats(corpus(inPath), jsonCol, keys)

  /** Sentence-aware RAG chunking (`graft.text.TextOps.chunkSentences`):
    * greedy whole-sentence fill to `maxTokens` per chunk. */
  def chunk(inPath: String, idCol: String = "doc_id",
            textCol: String = "text", maxTokens: Int = 256): DataFrame =
    graft.text.TextOps.chunkSentences(corpus(inPath), idCol, textCol, maxTokens)

  /** WordPiece encode (`graft.text.Wordpiece`): vocab derived from the
    * corpus (top words + character alphabet), greedy longest-match
    * pieces, one row per (doc, word, piece). */
  def wordpiece(inPath: String, idCol: String = "doc_id",
                textCol: String = "text", topWords: Int = 30): DataFrame = {
    val df = corpus(inPath)
    val vocab = graft.text.Wordpiece.buildVocab(df, textCol, topWords)
    graft.text.Wordpiece.encode(df, idCol, textCol, vocab)
  }

  /** SQ8 quantization audit (`graft.vec.Quantize`): per-vector L2
    * reconstruction error of the 1-byte-per-dim round trip — run
    * before committing a corpus to a compressed tier. */
  def sq8Audit(inPath: String, idCol: String = "vec_id",
               vecCol: String = "embedding", dims: Int = 64): DataFrame = {
    val df = corpus(inPath)
    val model = graft.vec.Quantize.sq8Train(df, vecCol, dims)
    graft.vec.Quantize.sq8ReconError(df, idCol, vecCol, model)
  }

  /** MMR diversified retrieval (`graft.vec.Mmr`): queries from
    * `queryPath` diversified against candidates from `inPath`. */
  def mmr(inPath: String, queryPath: String, idCol: String = "vec_id",
          vecCol: String = "embedding", k: Int = 5,
          lambda: Double = 0.7, pool: Int = 20): DataFrame =
    graft.vec.Mmr.mmrTopK(corpus(inPath), corpus(queryPath),
      idCol, vecCol, k, lambda, pool)

  /** Embedding dimensionality reduction (`graft.vec.Reduce`): "rp" =
    * deterministic dense-sign random projection, "pca" = exact PCA
    * (one covariance pass + driver Jacobi). */
  def embedReduce(inPath: String, method: String = "rp",
                  vecCol: String = "embedding", inDim: Int = 64,
                  outDim: Int = 16, seed: Int = 7): DataFrame = method match {
    case "rp" =>
      graft.vec.Reduce.randomProject(corpus(inPath), vecCol, "proj",
        inDim, outDim, seed)
    case "pca" =>
      val df = corpus(inPath)
      val model = graft.vec.Reduce.pca(df, vecCol, inDim)
      graft.vec.Reduce.pcaProject(df, vecCol, "proj", model, outDim)
    case other =>
      throw new IllegalArgumentException(
        s"embedReduce: method must be 'rp' or 'pca', got '$other'")
  }

  /** DSIR importance selection (`graft.text.Dsir`): fit the target-vs-
    * raw log-ratio model, draw `n` docs by deterministic Gumbel top-k.
    * With n = 0, returns the per-doc weights instead of the draw. */
  def dsir(rawPath: String, targetPath: String, idCol: String = "doc_id",
           textCol: String = "text", n: Int = 0): DataFrame = {
    val raw = corpus(rawPath)
    val model = graft.text.Dsir.fit(corpus(targetPath), raw, textCol, idCol)
    if (n == 0) graft.text.Dsir.logWeights(raw, idCol, textCol, model)
    else graft.text.Dsir.resample(raw, idCol, textCol, model, n)
  }

  /** Selector eval (`graft.text.Eval`): "auc" = Mann-Whitney ROC AUC,
    * "calibration" = reliability bins, "pr" = precision/recall at k. */
  def evalMetric(inPath: String, metric: String, scoreCol: String = "score",
                 labelCol: String = "label", idCol: String = "doc_id",
                 k: Int = 10): DataFrame = metric match {
    case "auc" => graft.text.Eval.auc(corpus(inPath), scoreCol, labelCol)
    case "calibration" =>
      graft.text.Eval.calibration(corpus(inPath), scoreCol, labelCol, bins = k)
    case "pr" =>
      graft.text.Eval.prAtK(corpus(inPath), idCol, scoreCol, labelCol, k)
    case other =>
      throw new IllegalArgumentException(
        s"evalMetric: metric must be 'auc', 'calibration' or 'pr', got '$other'")
  }

  /** Generation eval (`graft.text.GenEval`) over a (id, cand, ref)
    * pairs table: "rouge1"/"rouge2"/"rougeN" = per-pair clipped n-gram
    * P/R/F1, "rougeL" = per-pair LCS P/R/F1, "bleu" = one corpus-BLEU
    * row. */
  def genEval(inPath: String, metric: String, idCol: String = "id",
              candCol: String = "cand", refCol: String = "ref",
              n: Int = 4): DataFrame = metric match {
    case "rouge1" => graft.text.GenEval.rougeN(corpus(inPath), idCol, candCol, refCol, 1)
    case "rouge2" => graft.text.GenEval.rougeN(corpus(inPath), idCol, candCol, refCol, 2)
    case "rougeN" => graft.text.GenEval.rougeN(corpus(inPath), idCol, candCol, refCol, n)
    case "rougeL" => graft.text.GenEval.rougeL(corpus(inPath), idCol, candCol, refCol)
    case "bleu"   => graft.text.GenEval.bleu(corpus(inPath), candCol, refCol, n)
    case "chrf"   => graft.text.GenEval.chrF(corpus(inPath), idCol, candCol, refCol)
    case other => throw new IllegalArgumentException(
      s"genEval: metric must be rouge1|rouge2|rougeN|rougeL|chrf|bleu, got '$other'")
  }

  /** Ranked-retrieval eval (`graft.text.Eval.rankMetrics/rankSummary`)
    * of a run table against a qrels table; `summary = true` collapses
    * to the one-row MRR / mean-nDCG / mean-recall scoreboard. */
  def rankEval(runPath: String, qrelsPath: String, k: Int = 10,
               summary: Boolean = false, queryCol: String = "query_id",
               docCol: String = "doc_id", rankCol: String = "rank",
               relCol: String = "rel"): DataFrame =
    if (summary)
      graft.text.Eval.rankSummary(corpus(runPath), corpus(qrelsPath),
        queryCol, docCol, rankCol, relCol, k)
    else
      graft.text.Eval.rankMetrics(corpus(runPath), corpus(qrelsPath),
        queryCol, docCol, rankCol, relCol, k)

  /** Pretraining-objective transforms (`graft.text.Corruption`):
    * "fim" = fill-in-the-middle PSM splits, "span" = T5 block span
    * corruption (inputs/targets with sentinels). */
  def corrupt(inPath: String, mode: String = "span",
              idCol: String = "doc_id", textCol: String = "text",
              blockSize: Int = 20, spanLen: Int = 3): DataFrame = mode match {
    case "fim" =>
      graft.text.Corruption.fimSplit(corpus(inPath), idCol, textCol)
    case "span" =>
      graft.text.Corruption.spanCorrupt(corpus(inPath), idCol, textCol,
        blockSize, spanLen)
    case other => throw new IllegalArgumentException(
      s"corrupt: mode must be 'fim' or 'span', got '$other'")
  }

  /** Winnowing fingerprints (`graft.text.Winnow`, the MOSS scheme):
    * "fingerprints" = per-doc (pos, hash) frame, "overlap" = the
    * cross-document shared-passage pair report. */
  def winnow(inPath: String, mode: String = "overlap",
             idCol: String = "doc_id", textCol: String = "text",
             k: Int = 8, w: Int = 4): DataFrame = mode match {
    case "fingerprints" =>
      graft.text.Winnow.fingerprints(corpus(inPath), idCol, textCol, k, w)
    case "overlap" =>
      graft.text.Winnow.overlap(corpus(inPath), idCol, textCol, k, w)
    case other => throw new IllegalArgumentException(
      s"winnow: mode must be 'fingerprints' or 'overlap', got '$other'")
  }

  /** Margin-based bitext mining (`graft.vec.Bitext`): "margin" = the
    * scored fwd/bwd candidate union, "pairs" = the mutual-best mined
    * pairs above `minMargin`. */
  def bitext(srcPath: String, tgtPath: String, mode: String = "pairs",
             idCol: String = "vec_id", vecCol: String = "embedding",
             k: Int = 4, minMargin: Double = 1.0): DataFrame = mode match {
    case "margin" =>
      graft.vec.Bitext.marginScores(corpus(srcPath), corpus(tgtPath),
        idCol, vecCol, k)
    case "pairs" =>
      graft.vec.Bitext.minePairs(corpus(srcPath), corpus(tgtPath),
        idCol, vecCol, k, minMargin)
    case other => throw new IllegalArgumentException(
      s"bitext: mode must be 'margin' or 'pairs', got '$other'")
  }

  /** Corpus diversity report (`graft.text.GenEval.diversity`):
    * distinct-n + n-gram entropy for orders 1..maxN, optionally per
    * group column. */
  def diversity(inPath: String, textCol: String = "text", maxN: Int = 3,
                groupCol: Option[String] = None): DataFrame =
    graft.text.GenEval.diversity(corpus(inPath), textCol,
      ns = 1 to maxN, groupCols = groupCol.toSeq)

  /** Shard audit manifest (`graft.text.Sharding`): per-shard counts +
    * order-independent XOR content hash — re-auditable from any copy
    * of the corpus. */
  def shardAudit(inPath: String, idCol: String = "doc_id",
                 textCol: String = "text", nShards: Int = 8): DataFrame =
    graft.text.Sharding.audit(corpus(inPath), idCol, textCol, nShards)

  /** Procrustes embedding alignment (`graft.vec.Align`): learn the
    * orthogonal map from a seed-pairs table (srcCol, tgtCol vectors),
    * apply it to `vecsPath` as a new `aligned` column. */
  def align(pairsPath: String, vecsPath: String, srcCol: String = "x",
            tgtCol: String = "y", vecCol: String = "embedding",
            dims: Int = 64): DataFrame = {
    val w = graft.vec.Align.procrustes(corpus(pairsPath), srcCol, tgtCol, dims)
    graft.vec.Align.applyMap(corpus(vecsPath), vecCol, "aligned", w)
  }

  /** Persisted winnow index (`graft.text.WinnowIndex`): "ingest"
    * appends the docs' fingerprints (returns one row with the count of
    * newly indexed docs), "probe" returns the shared-passage pairs of
    * the docs against the index. */
  def winnowIndex(inPath: String, indexDir: String, mode: String = "probe",
                  idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = mode match {
    case "ingest" =>
      val n = graft.text.WinnowIndex.ingestBatch(spark, indexDir,
        corpus(inPath), idCol, textCol)
      import spark.implicits._
      Seq(n).toDF("n_indexed")
    case "probe" =>
      graft.text.WinnowIndex.probeBatch(spark, indexDir,
        corpus(inPath), idCol, textCol)
    case "compact" =>
      val n = graft.text.WinnowIndex.compact(spark, indexDir)
      import spark.implicits._
      Seq(n).toDF("n_rows_compacted")
    case other => throw new IllegalArgumentException(
      s"winnowIndex: mode must be 'ingest', 'probe' or 'compact', got '$other'")
  }

  /** Standalone [[graft.text.DedupIndex]] maintenance — the same verb
    * shape as `curation`: `status` is the per-table policy row set
    * (fp/sig/bands file counts + byte means vs thresholds, fs metadata
    * only), `compact` folds the per-batch small files and reports the
    * per-table before/after. */
  def dedupIndexMaint(indexDir: String, mode: String = "status",
                      targetBytes: Long = 0L,
                      leaseTtlMs: Long = graft.ops.Lease.DefaultTtlMs): DataFrame =
    mode match {
      case "status" =>
        graft.text.DedupIndex.maintenanceDue(spark, indexDir,
          targetBytes = targetBytes)
      case "compact" =>
        import spark.implicits._
        // 0 = the callee's default compaction target; leaseTtlMs is the
        // deployment's crash-detection knob (the Lease TTL invariant)
        graft.text.DedupIndex.compact(spark, indexDir, targetBytes, leaseTtlMs)
          .toSeq.sortBy(_._1)
          .map { case (t, s) =>
            (t, s.filesBefore, s.bytesBefore, s.filesAfter, s.bytesAfter) }
          .toDF("component", "files_before", "bytes_before",
            "files_after", "bytes_after")
      case other => throw new IllegalArgumentException(
        s"dedupIndexMaint: mode must be 'status' or 'compact', got '$other'")
    }

  /** Standalone [[graft.vec.VecIndex]] maintenance — `status` is the
    * policy row set (lists file count, occupancy cv, each with its
    * repair verb), `compact-lists` folds the per-ingest small files
    * (layout-agnostic, list_id partitioning preserved). */
  def vecIndexMaint(indexDir: String, mode: String = "status",
                    targetBytes: Long = 0L,
                    leaseTtlMs: Long = graft.ops.Lease.DefaultTtlMs): DataFrame =
    mode match {
      case "status" =>
        graft.vec.VecIndex.maintenanceDue(spark, indexDir,
          targetBytes = targetBytes)
      case "compact-lists" =>
        import spark.implicits._
        // 0 = the callee's default compaction target; leaseTtlMs is the
        // deployment's crash-detection knob (the Lease TTL invariant)
        val s = graft.vec.VecIndex.compactLists(spark, indexDir, targetBytes,
          leaseTtlMs)
        Seq(("lists", s.filesBefore, s.bytesBefore, s.filesAfter, s.bytesAfter))
          .toDF("component", "files_before", "bytes_before",
            "files_after", "bytes_after")
      case other => throw new IllegalArgumentException(
        s"vecIndexMaint: mode must be 'status' or 'compact-lists', got '$other'")
    }

  /** k-center greedy coreset (`graft.vec.Coreset`): the k selected
    * frontier points as (rank, vec_id, dist). */
  def coreset(inPath: String, idCol: String = "vec_id",
              vecCol: String = "embedding", k: Int = 8): DataFrame =
    graft.vec.Coreset.kCenterGreedy(corpus(inPath), idCol, vecCol, k)

  /** Graph ANN (`graft.vec.GraphAnn`): build a kNN graph over the
    * corpus (nlist scaled so lists stay ~250 vectors) and beam-search
    * it for the queries. */
  def graphAnn(inPath: String, queryPath: String, idCol: String = "vec_id",
               vecCol: String = "embedding", k: Int = 5, beam: Int = 8,
               iters: Int = 4, degree: Int = 6): DataFrame = {
    val c = corpus(inPath)
    val nlist = math.max(1, (c.count() / 250).toInt)
    val edges = graft.vec.VectorOps.knnGraph(c, idCol, vecCol, degree,
        nlist = nlist, nassign = math.min(2, nlist))
      .select(col("src_id"), col("dst_id"))
    graft.vec.GraphAnn.beamSearch(c, edges, corpus(queryPath),
      idCol, vecCol, k, beam, iters)
  }

  /** Label propagation (`graft.vec.LabelProp`): build a kNN graph over
    * the corpus (the graphAnn nlist scaling) and spread the seed-table
    * labels by clamped synchronous majority. */
  def labelProp(vecsPath: String, seedsPath: String,
                idCol: String = "vec_id", vecCol: String = "embedding",
                labelCol: String = "label", rounds: Int = 3,
                degree: Int = 4): DataFrame = {
    val c = corpus(vecsPath)
    val nlist = math.max(1, (c.count() / 250).toInt)
    val edges = graft.vec.VectorOps.knnGraph(c, idCol, vecCol, degree,
        nlist = nlist, nassign = math.min(2, nlist))
      .select(col("src_id"), col("dst_id"))
    graft.vec.LabelProp.propagate(edges, corpus(seedsPath),
      idCol, labelCol, rounds)
  }

  /** Annotation QA (`graft.text.Labels`): consensus labels, annotator
    * reliability, or chance-corrected agreement (Cohen per pair /
    * Fleiss pooled) over an (item, annotator, label) table. */
  def labelAudit(inPath: String, mode: String = "consensus",
                 itemCol: String = "item", annotatorCol: String = "annotator",
                 labelCol: String = "label"): DataFrame = mode match {
    case "consensus" =>
      graft.text.Labels.majorityVote(corpus(inPath), itemCol, annotatorCol, labelCol)
    case "accuracy" =>
      graft.text.Labels.annotatorAccuracy(corpus(inPath), itemCol, annotatorCol, labelCol)
    case "cohen" =>
      graft.text.Labels.cohenKappa(corpus(inPath), itemCol, annotatorCol, labelCol)
    case "fleiss" =>
      graft.text.Labels.fleissKappa(corpus(inPath), itemCol, annotatorCol, labelCol)
    case "alpha" =>
      graft.text.Labels.krippendorffAlpha(corpus(inPath), itemCol, annotatorCol, labelCol)
    case "confusion" =>
      graft.text.Labels.confusionMatrix(corpus(inPath), itemCol, annotatorCol, labelCol)
    case other => throw new IllegalArgumentException(
      s"label-audit mode '$other' (expected consensus|accuracy|cohen|fleiss|alpha|confusion)")
  }

  /** Bradley-Terry ratings (`graft.text.Labels.bradleyTerry`) over a
    * (winner, loser) preference-outcome table. */
  def bradleyTerry(inPath: String, winnerCol: String = "winner",
                   loserCol: String = "loser", iters: Int = 8): DataFrame =
    graft.text.Labels.bradleyTerry(corpus(inPath), winnerCol, loserCol, iters)

  /** Privacy audit (`graft.ops.Privacy`): k-anonymity per class /
    * one-row report / l-diversity over comma-separated
    * quasi-identifier columns. */
  def privacyAudit(inPath: String, mode: String = "report",
                   quasiCols: Seq[String] = Seq("zip"), k: Long = 10,
                   sensitiveCol: String = "",
                   tThreshold: Double = 0.2): DataFrame = {
    val quasi = quasiCols.map(c => c -> col(c))
    mode match {
      case "classes" => graft.ops.Privacy.kAnonymity(corpus(inPath), quasi, k)
      case "report" => graft.ops.Privacy.kAnonymityReport(corpus(inPath), quasi, k)
      case "ldiv" =>
        graft.ops.Privacy.lDiversity(corpus(inPath), quasi, sensitiveCol, k)
      case "tclose" =>
        graft.ops.Privacy.tCloseness(corpus(inPath), quasi, sensitiveCol,
          tThreshold)
      case other => throw new IllegalArgumentException(
        s"privacy-audit mode '$other' (expected classes|report|ldiv|tclose)")
    }
  }

  /** URL curation (`graft.text.UrlOps`): canonical forms, registrable
    * domains, or per-domain dedup stats over a URL column. */
  def urlCurate(inPath: String, mode: String = "canon",
                urlCol: String = "url"): DataFrame = mode match {
    case "canon" => corpus(inPath).withColumn("canonical",
      graft.text.UrlOps.canonicalizeUrl(col(urlCol)))
    case "domain" => corpus(inPath).withColumn("domain",
      graft.text.UrlOps.registrableDomain(graft.text.UrlOps.hostOf(col(urlCol))))
    case "dedup" => graft.text.UrlOps.urlDedupStats(corpus(inPath), urlCol)
    case other => throw new IllegalArgumentException(
      s"url-curate mode '$other' (expected canon|domain|dedup)")
  }

  /** Persisted exact-substring index (`graft.text.SubstrIndex`):
    * "ingest" cuts a batch against everything ever ingested and grows
    * the index; "probe" cuts without growing it; "status" reports the
    * maintenance policy; "compact" folds the gram table (lease-held). */
  def substrIndex(inPath: String, indexDir: String, mode: String = "probe",
                  idCol: String = "doc_id", textCol: String = "text",
                  minTokens: Int = 50, targetBytes: Long = 0L,
                  ttlMs: Long = graft.ops.Lease.DefaultTtlMs): DataFrame = {
    import spark.implicits._
    val p = graft.text.SubstrIndex.Params(minTokens)
    mode match {
      case "probe" =>
        graft.text.SubstrIndex.probeBatch(corpus(inPath), indexDir,
          idCol, textCol, p)
      case "ingest" =>
        graft.text.SubstrIndex.ingestBatch(corpus(inPath), indexDir,
          idCol, textCol, p)
      case "status" =>
        graft.text.SubstrIndex.maintenanceDue(spark, indexDir,
          targetBytes = targetBytes)
      case "compact" =>
        graft.text.SubstrIndex.compact(spark, indexDir, targetBytes, ttlMs)
          .map(s => Seq(("grams", s.filesBefore, s.bytesBefore,
            s.filesAfter, s.bytesAfter)))
          .getOrElse(Seq.empty[(String, Long, Long, Long, Long)])
          .toDF("component", "files_before", "bytes_before",
            "files_after", "bytes_after")
      case other => throw new IllegalArgumentException(
        s"substr-index mode '$other' (expected probe|ingest|status|compact)")
    }
  }

  /** Exact substring dedup (`graft.text.TextOps.dedupSubstrings`):
    * "cut" rewrites the corpus with every duplicated >=minTokens-token
    * span removed at all but its first occurrence; "stats" returns the
    * one-row effect summary to size a cut before committing to it. */
  def substringDedup(inPath: String, mode: String = "stats",
                     idCol: String = "doc_id", textCol: String = "text",
                     minTokens: Int = 50): DataFrame = mode match {
    case "cut" => graft.text.TextOps.dedupSubstrings(corpus(inPath),
      idCol, textCol, minTokens)
    case "stats" => graft.text.TextOps.substringDedupStats(corpus(inPath),
      idCol, textCol, minTokens)
    case other => throw new IllegalArgumentException(
      s"substring-dedup mode '$other' (expected cut|stats)")
  }

  /** Flesch readability (`graft.text.Readability.flesch`): per-doc
    * word/sentence/syllable counts, reading ease, FK grade. */
  def readability(inPath: String, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    graft.text.Readability.flesch(corpus(inPath), idCol, textCol)

  /** Key-skew diagnostic (`graft.ops.Skew.skewReport`): profile a
    * prospective shuffle key before running the shuffle. */
  def skewReport(inPath: String, keyCols: Seq[String],
                 targetRowsPerTask: Long = 1000000L): DataFrame =
    graft.ops.Skew.skewReport(corpus(inPath), keyCols, targetRowsPerTask)

  /** Centroid silhouette (`graft.vec.ClusterEval.silhouette`): per-
    * cluster separation quality over an assigned embedding frame. */
  def silhouette(inPath: String, idCol: String = "vec_id",
                 vecCol: String = "embedding", labelCol: String = "label",
                 dims: Int = 64): DataFrame =
    graft.vec.ClusterEval.silhouette(corpus(inPath), idCol, vecCol,
      labelCol, dims)

  /** Corpus datasheet (`graft.text.DataCard.perSource`): per-source
    * volume, dup ratio, PII density, readability, language mode. */
  def dataCard(inPath: String, idCol: String = "doc_id",
               textCol: String = "text", langCol: String = "lang",
               sourceCol: String = "source"): DataFrame =
    graft.text.DataCard.perSource(corpus(inPath), idCol, textCol,
      langCol, sourceCol)

  /** Live curation pipeline audit + maintenance
    * (`graft.streaming.StreamOps`): "render" reduces the accumulated
    * partials of a `curationPipelineStream` root to the per-source
    * audit row; "compact" folds every partials family plus the dedup
    * corpus (and index, when the pipeline runs near-dup mode) — the
    * quiesced-stream maintenance verb, refused while the pipeline's
    * named query is active; "status" reports the maintenance policy
    * (per-component file/subdir counts vs thresholds, fs metadata
    * only); "compact-if-due" is the auto-compact hook — it compacts
    * only when "status" says some component is due. */
  def curation(pipeDir: String, mode: String = "render", capK: Int = 20,
               idCol: String = "doc_id",
               sourceCol: String = "source",
               targetBytes: Long = 0L): DataFrame = mode match {
    case "render" =>
      graft.streaming.StreamOps.curationRender(spark, pipeDir,
        capK = capK, idCol = idCol, sourceCol = sourceCol)
    case "compact" | "compact-if-due" =>
      // the family list lives with the ingests (StreamOps owns the
      // pipeline's directory layout); targetBytes > 0 switches the
      // policy AND the corpus file target to the byte rule
      val (folded, files) =
        if (mode == "compact")
          graft.streaming.StreamOps.curationCompact(spark, pipeDir, idCol,
            targetBytes = targetBytes)
        else graft.streaming.StreamOps.curationCompactIfDue(spark, pipeDir,
          idCol = idCol, targetBytes = targetBytes)
      import spark.implicits._
      Seq((folded.toLong, files.toLong))
        .toDF("n_partials_folded", "n_corpus_files_folded")
    case "status" =>
      graft.streaming.StreamOps.maintenanceDue(spark, pipeDir,
        targetBytes = targetBytes)
    case other => throw new IllegalArgumentException(
      "curation: mode must be 'render', 'compact', 'compact-if-due' " +
        s"or 'status', got '$other'")
  }

  /** Zipf rank-frequency fit (`graft.text.CorpusStats.zipfFit`). */
  def zipf(inPath: String, textCol: String = "text",
           topK: Int = 100): DataFrame =
    graft.text.CorpusStats.zipfFit(corpus(inPath), textCol, topK)

  /** Per-doc n-gram novelty (`graft.text.CorpusStats.ngramNovelty`). */
  def novelty(inPath: String, idCol: String = "doc_id",
              textCol: String = "text", n: Int = 3): DataFrame =
    graft.text.CorpusStats.ngramNovelty(corpus(inPath), idCol, textCol, n)

  /** Metadata cross-tab: column -> table "X" marks (reference:
    * process.py:262-271, the A4 pivot). */
  def metadataOverview(): DataFrame = {
    val meta = store.readMetadata().where(col("n_non_nulls") > 0)
    val tables = meta.select("table_name").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    graft.ops.Reshape.pivotWide(meta, Seq("column_name"), "table_name",
      tables, first(lit("X")))
  }
}
