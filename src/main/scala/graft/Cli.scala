package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.Config
import graft.io.WorkbookReader
import graft.ops.{JsonProfile, Lease, Privacy, Skew}
import graft.ops.Compaction.CompactionStats
import graft.serve.{Facade, HttpApi}
import graft.streaming.StreamOps
import graft.text.{Chat, CorpusStats, Corruption, DataCard, DedupIndex, Dsir,
  Eval, GenEval, Html, Labels, Preference, Readability, Sharding, SubstrIndex,
  TextOps, UrlOps, Winnow, WinnowIndex, Wordpiece}
import graft.vec.{Align, Bitext, ClusterEval, Coreset, GraphAnn, LabelProp,
  Mmr, Quantize, Reduce, VecIndex, VectorOps}

/** Command-line surface — the reference's Typer CLI verbs (cli.py). The
  * collection verbs (ingest through serve) run on a [[Facade]] over
  * `<root>/<collection>`. The corpus verbs call their operators directly
  * on the parquet inputs they name and touch no collection: they keep
  * the `<root> <collection>` positionals only so every command line has
  * one shape.
  *
  * {{{
  * (the <root> and <outDir> positionals accept '-' = persisted default
  *  from `graft.Cli config`)
  * graft.Cli <root> <collection> ingest <workbook.xlsx|csvDir> <configJsonPath> <table[,table...]|all>
  * graft.Cli <root> <collection> stage [cutoffTs]
  * graft.Cli <root> <collection> stage-incremental
  * graft.Cli <root> <collection> query <table> [filtersJson] [limit] [cursor]
  * graft.Cli <root> <collection> export <table> <outDir> [csv|parquet|xlsx]
  * graft.Cli <root> <collection> export-all <outDir> [csv|parquet|xlsx|workbook]
  * graft.Cli <root> <collection> info [--table T] [--vers] [--meta]
  * graft.Cli <root> <collection> serve [port]
  * graft.Cli <root> <collection> chat-stats <in.parquet> [idCol] [jsonCol] [--out D]
  * graft.Cli <root> <collection> html-extract <in.parquet> [idCol] [htmlCol] [--out D]
  * graft.Cli <root> <collection> pref-stats <in.parquet> [idCol] [promptCol] [chosenCol] [rejectedCol] [--out D]
  * graft.Cli <root> <collection> json-profile <in.parquet> [jsonCol] [key,key...] [--out D]
  * graft.Cli <root> <collection> chunk <in.parquet> [idCol] [textCol] [maxTokens] [--out D]
  * graft.Cli <root> <collection> embed-reduce <in.parquet> [rp|pca] [vecCol] [inDim] [outDim] [--out D]
  * graft.Cli <root> <collection> wordpiece <in.parquet> [idCol] [textCol] [topWords] [--out D]
  * graft.Cli <root> <collection> sq8-audit <in.parquet> [idCol] [vecCol] [dims] [--out D]
  * graft.Cli <root> <collection> mmr <cands.parquet> <queries.parquet> [k] [lambda] [pool] [--out D]
  * graft.Cli <root> <collection> dsir <raw.parquet> <target.parquet> [n] [idCol] [textCol] [--out D]
  * graft.Cli <root> <collection> eval <scored.parquet> [auc|calibration|pr] [scoreCol] [labelCol] [k] [--out D]
  * graft.Cli <root> <collection> coreset <vecs.parquet> [idCol] [vecCol] [k] [--out D]
  * graft.Cli <root> <collection> graph-ann <vecs.parquet> <queries.parquet> [k] [beam] [iters] [--out D]
  * graft.Cli <root> <collection> gen-eval <pairs.parquet> [rouge1|rouge2|rougeN|rougeL|chrf|bleu] [idCol] [candCol] [refCol] [n] [--out D]
  * graft.Cli <root> <collection> rank-eval <run.parquet> <qrels.parquet> [k] [summary|perquery] [--out D]
  * graft.Cli <root> <collection> winnow <docs.parquet> [overlap|fingerprints] [idCol] [textCol] [k] [w] [--out D]
  * graft.Cli <root> <collection> corrupt <docs.parquet> [span|fim] [idCol] [textCol] [blockSize] [spanLen] [--out D]
  * graft.Cli <root> <collection> bitext <src.parquet> <tgt.parquet> [pairs|margin] [k] [minMargin] [--out D]
  * graft.Cli <root> <collection> diversity <docs.parquet> [textCol] [maxN] [groupCol] [--out D]
  * graft.Cli <root> <collection> align <pairs.parquet> <vecs.parquet> [srcCol] [tgtCol] [vecCol] [dims] [--out D]
  * graft.Cli <root> <collection> shard-audit <docs.parquet> [idCol] [textCol] [nShards] [--out D]
  * graft.Cli <root> <collection> label-prop <vecs.parquet> <seeds.parquet> [idCol] [vecCol] [labelCol] [rounds] [--out D]
  * graft.Cli <root> <collection> winnow-index <docs.parquet> <indexDir> [probe|ingest|compact] [idCol] [textCol] [--out D]
  * graft.Cli <root> <collection> label-audit <annots.parquet> [consensus|accuracy|cohen|fleiss|alpha|confusion] [itemCol] [annotatorCol] [labelCol] [--out D]
  * graft.Cli <root> <collection> bradley-terry <games.parquet> [winnerCol] [loserCol] [iters] [--out D]
  * graft.Cli <root> <collection> privacy-audit <rows.parquet> [report|classes|ldiv|tclose] [quasiCol,quasiCol...] [k] [sensitiveCol] [t] [--out D]
  * graft.Cli <root> <collection> url-curate <urls.parquet> [canon|domain|dedup] [urlCol] [--out D]
  * graft.Cli <root> <collection> substring-dedup <docs.parquet> [stats|cut] [minTokens] [idCol] [textCol] [--out D]
  * graft.Cli <root> <collection> substr-index <docs.parquet> <indexDir> [probe|ingest|status|compact] [minTokens] [targetBytes] [ttlMs] [--out D]
  * graft.Cli <root> <collection> readability <docs.parquet> [idCol] [textCol] [--out D]
  * graft.Cli <root> <collection> skew-report <rows.parquet> [keyCol,keyCol...] [targetRowsPerTask] [--out D]
  * graft.Cli <root> <collection> silhouette <vecs.parquet> [idCol] [vecCol] [labelCol] [dims] [--out D]
  * graft.Cli <root> <collection> data-card <docs.parquet> [idCol] [textCol] [langCol] [sourceCol] [--out D]
  * graft.Cli <root> <collection> zipf <docs.parquet> [textCol] [topK] [--out D]
  * graft.Cli <root> <collection> novelty <docs.parquet> [idCol] [textCol] [n] [--out D]
  * graft.Cli <root> <collection> curation <pipeDir> [render|compact|compact-if-due|status] [capK] [idCol] [sourceCol] [targetBytes] [--out D]
  * graft.Cli <root> <collection> dedup-index <indexDir> [status|compact] [targetBytes] [leaseTtlMs] [--out D]
  * graft.Cli <root> <collection> vec-index <indexDir> [status|compact-lists] [targetBytes] [leaseTtlMs] [--out D]
  * graft.Cli config [--show-current] [--root P] [--export-path P]
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    // `config` manages persisted defaults and needs no Spark session or
    // collection (reference: cli.py:41-64)
    if (args.headOption.contains("config")) {
      val rest = args.drop(1)
      def flag(name: String) = rest.sliding(2).collectFirst {
        case Array(`name`, v) if !v.startsWith("--") => v
      }
      if (rest.contains("--show-current")) println(Settings.showCurrent())
      else {
        val root = flag("--root")
        val exp = flag("--export-path")
        if (root.isEmpty && exp.isEmpty)
          println("Nothing to change. Use --root and/or --export-path or --show-current.")
        else { Settings.set(root, exp); println("Configuration updated.") }
      }
      return
    }
    require(args.length >= 3, "usage: Cli <root> <collection> <verb> [args...]")
    // '-' as the root positional resolves the persisted default from
    // `graft.Cli config --root ...` (reference: settings read from
    // config.ini on every CLI run)
    val Array(rootArg, collection, verb) = args.take(3)
    val root = orDefault(rootArg, Settings.defaultRoot)
    val rest = args.drop(3)

    // embedded (tests, notebooks), the verbs run on the host's session,
    // which the CLI must then NOT stop, with the host's SQL confs put
    // back afterwards
    val partitions = sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32").toInt
    SparkSession.getDefaultSession match {
      case Some(host) =>
        GraftSession.withSqlConfs(host, partitions)(run(host, root, collection, verb, rest))
      case None =>
        val spark = GraftSession.builder(
            sys.env.getOrElse("GRAFT_MASTER", "local[*]"), partitions)
          .appName(s"graft-$collection")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        run(spark, root, collection, verb, rest)
        if (verb != "serve") spark.stop()
    }
  }

  private def orDefault(arg: String, default: => String) =
    if (arg == "-") default else arg

  private def run(spark: SparkSession, root: String, collection: String,
                  verb: String, rest: Array[String]): Unit = {
    import spark.implicits._
    lazy val facade = new Facade(spark, root, collection)

    // corpus verbs: positionals before `--out D`; with it the frame is
    // written as parquet, else shown
    val out = rest.sliding(2).collectFirst {
      case Array("--out", d) if !d.startsWith("--") => d
    }
    val pos = rest.takeWhile(_ != "--out")
    def p(i: Int, default: String) = pos.lift(i).getOrElse(default)
    def read(i: Int): DataFrame = spark.read.parquet(pos(i))
    def list(i: Int, default: String) =
      p(i, default).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def emit(frame: DataFrame): Unit = out match {
      case Some(d) => frame.write.mode("overwrite").parquet(d)
        println(s"wrote $d")
      case None => frame.show(50, truncate = false)
    }
    def badMode(mode: String, expected: String) =
      throw new IllegalArgumentException(s"$verb mode '$mode' (expected $expected)")
    // a kNN graph over the corpus with nlist scaled so lists stay ~250
    // vectors
    def knnEdges(c: DataFrame, idCol: String, vecCol: String, degree: Int) = {
      val nlist = math.max(1, (c.count() / 250).toInt)
      VectorOps.knnGraph(c, idCol, vecCol, degree,
          nlist = nlist, nassign = math.min(2, nlist))
        .select(col("src_id"), col("dst_id"))
    }
    def compacted(stats: Seq[(String, CompactionStats)]): DataFrame =
      stats.map { case (c, s) =>
        (c, s.filesBefore, s.bytesBefore, s.filesAfter, s.bytesAfter) }
        .toDF("component", "files_before", "bytes_before",
          "files_after", "bytes_after")

    verb match {
      case "ingest" =>
        // one table, a comma-separated list, or "all" (reference
        // cli.py:70-88: repeated --table vs ingest_all_tables)
        val Array(wbDir, cfgPath, tableArg) = rest.take(3)
        val wb =
          if (wbDir.endsWith(".xlsx")) WorkbookReader.fromXlsx(wbDir)
          else WorkbookReader.fromCsvDir(wbDir)
        val cfgs = Config.parse(
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(cfgPath)), "UTF-8"))
        val tables =
          if (tableArg == "all") cfgs.keys.toSeq.sorted
          else tableArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        tables.foreach { table =>
          val cfg = cfgs.getOrElse(table,
            throw new IllegalArgumentException(s"table '$table' not in config"))
          val id = facade.ingest(wb, cfg)
          println(s"ingested '$table' as ingest_id=$id")
        }

      case "stage" =>
        val cutoff = rest.headOption.map(java.sql.Timestamp.valueOf)
        facade.stage(cutoff)
        println("staged")

      case "stage-incremental" =>
        val changed = facade.stageIncremental()
        println(s"rewrote: ${if (changed.isEmpty) "(nothing)" else changed.mkString(", ")}")

      case "query" =>
        val table = rest(0)
        val filters = rest.lift(1).getOrElse("{}")
        val limit = rest.lift(2).map(_.toInt).getOrElse(facade.queryService.DefaultLimit)
        val cursor = rest.lift(3).map(_.toLong)
        val page = facade.query(table, filters, limit, cursor)
        page.data.show(limit, truncate = false)
        println(s"next_cursor: ${page.nextCursor.getOrElse("null")}")

      case "export" =>
        val Array(table, outDirArg) = rest.take(2)
        val outDir = orDefault(outDirArg, Settings.defaultExportDir)
        val fmt = rest.lift(2).getOrElse("csv")
        println("wrote " + facade.exportTable(table, outDir, fmt))

      case "export-all" =>
        val outDir = orDefault(rest(0), Settings.defaultExportDir)
        val fmt = rest.lift(1).getOrElse("csv")
        facade.exportAll(outDir, fmt).foreach(p => println("wrote " + p))

      case "info" =>
        // reference cli.py:110-166: default = staged-table stats; --vers =
        // ingested version list; --meta = queryable columns + dtypes;
        // --table scopes either to one table
        val table = rest.sliding(2).collectFirst {
          case Array("--table", t) if !t.startsWith("-") => t
          case Array("-t", t) if !t.startsWith("-") => t
        }
        if (rest.contains("--vers") || rest.contains("-v"))
          facade.versions(table).show(truncate = false)
        else if (rest.contains("--meta") || rest.contains("-m"))
          facade.metadata(table).show(truncate = false)
        else
          facade.info().show(truncate = false)

      case "serve" =>
        val api = new HttpApi(facade, collection)
        val port = api.start(rest.headOption.map(_.toInt).getOrElse(8080))
        println(s"serving http://127.0.0.1:$port/data/$collection  (ctrl-c to stop)")
        Thread.currentThread.join()

      case "chat-stats" =>
        emit(Chat.stats(read(0), p(1, "doc_id"), p(2, "text")))
      case "html-extract" =>
        val html = col(p(2, "text"))
        emit(read(0).select(col(p(1, "doc_id")), Html.mainText(html).as("txt"),
          Html.linkCount(html).as("links")))
      case "pref-stats" =>
        emit(Preference.pairStats(read(0), p(1, "pair_id"), p(2, "prompt"),
          p(3, "chosen"), p(4, "rejected")))
      case "json-profile" =>
        // with no keys, the top-level key-coverage profile; with keys,
        // per-key field stats
        val keys = list(2, "")
        emit(if (keys.isEmpty) JsonProfile.keyProfile(read(0), p(1, "text"))
          else JsonProfile.fieldStats(read(0), p(1, "text"), keys))
      case "chunk" =>
        emit(TextOps.chunkSentences(read(0), p(1, "doc_id"), p(2, "text"),
          p(3, "256").toInt))
      case "embed-reduce" =>
        val (vecCol, inDim, outDim) = (p(2, "embedding"), p(3, "64").toInt, p(4, "16").toInt)
        emit(p(1, "rp") match {
          case "rp" => Reduce.randomProject(read(0), vecCol, "proj", inDim, outDim)
          case "pca" =>
            val df = read(0)
            Reduce.pcaProject(df, vecCol, "proj", Reduce.pca(df, vecCol, inDim), outDim)
          case m => badMode(m, "rp|pca")
        })
      case "wordpiece" =>
        // vocab derived from the corpus: top words + character alphabet
        val (df, textCol) = (read(0), p(2, "text"))
        val vocab = Wordpiece.buildVocab(df, textCol, p(3, "30").toInt)
        emit(Wordpiece.encode(df, p(1, "doc_id"), textCol, vocab))
      case "sq8-audit" =>
        val (df, vecCol) = (read(0), p(2, "embedding"))
        val model = Quantize.sq8Train(df, vecCol, p(3, "64").toInt)
        emit(Quantize.sq8ReconError(df, p(1, "vec_id"), vecCol, model))
      case "mmr" =>
        emit(Mmr.mmrTopK(read(0), read(1), "vec_id", "embedding",
          p(2, "5").toInt, p(3, "0.7").toDouble, p(4, "20").toInt))
      case "dsir" =>
        // n = 0 returns the per-doc weights instead of the draw
        val (raw, idCol, textCol, n) = (read(0), p(3, "doc_id"), p(4, "text"), p(2, "0").toInt)
        val model = Dsir.fit(read(1), raw, textCol, idCol)
        emit(if (n == 0) Dsir.logWeights(raw, idCol, textCol, model)
          else Dsir.resample(raw, idCol, textCol, model, n))
      case "eval" =>
        val (scoreCol, labelCol, k) = (p(2, "score"), p(3, "label"), p(4, "10").toInt)
        emit(p(1, "auc") match {
          case "auc" => Eval.auc(read(0), scoreCol, labelCol)
          case "calibration" => Eval.calibration(read(0), scoreCol, labelCol, bins = k)
          case "pr" => Eval.prAtK(read(0), "doc_id", scoreCol, labelCol, k)
          case m => badMode(m, "auc|calibration|pr")
        })
      case "coreset" =>
        emit(Coreset.kCenterGreedy(read(0), p(1, "vec_id"), p(2, "embedding"),
          p(3, "8").toInt))
      case "graph-ann" =>
        val c = read(0)
        emit(GraphAnn.beamSearch(c, knnEdges(c, "vec_id", "embedding", 6), read(1),
          "vec_id", "embedding", p(2, "5").toInt, p(3, "8").toInt, p(4, "4").toInt))
      case "gen-eval" =>
        val (idCol, candCol, refCol, n) = (p(2, "id"), p(3, "cand"), p(4, "ref"), p(5, "4").toInt)
        emit(p(1, "rouge2") match {
          case "rouge1" => GenEval.rougeN(read(0), idCol, candCol, refCol, 1)
          case "rouge2" => GenEval.rougeN(read(0), idCol, candCol, refCol, 2)
          case "rougeN" => GenEval.rougeN(read(0), idCol, candCol, refCol, n)
          case "rougeL" => GenEval.rougeL(read(0), idCol, candCol, refCol)
          case "bleu" => GenEval.bleu(read(0), candCol, refCol, n)
          case "chrf" => GenEval.chrF(read(0), idCol, candCol, refCol)
          case m => badMode(m, "rouge1|rouge2|rougeN|rougeL|chrf|bleu")
        })
      case "rank-eval" =>
        // summary = the one-row MRR / mean-nDCG / mean-recall scoreboard
        val rank = if (p(3, "summary") == "summary") Eval.rankSummary _ else Eval.rankMetrics _
        emit(rank(read(0), read(1), "query_id", "doc_id", "rank", "rel", p(2, "10").toInt))
      case "winnow" =>
        val (idCol, textCol, k, w) = (p(2, "doc_id"), p(3, "text"), p(4, "8").toInt, p(5, "4").toInt)
        emit(p(1, "overlap") match {
          case "fingerprints" => Winnow.fingerprints(read(0), idCol, textCol, k, w)
          case "overlap" => Winnow.overlap(read(0), idCol, textCol, k, w)
          case m => badMode(m, "fingerprints|overlap")
        })
      case "corrupt" =>
        val (idCol, textCol) = (p(2, "doc_id"), p(3, "text"))
        emit(p(1, "span") match {
          case "fim" => Corruption.fimSplit(read(0), idCol, textCol)
          case "span" => Corruption.spanCorrupt(read(0), idCol, textCol,
            p(4, "20").toInt, p(5, "3").toInt)
          case m => badMode(m, "fim|span")
        })
      case "bitext" =>
        val k = p(3, "4").toInt
        emit(p(2, "pairs") match {
          case "margin" => Bitext.marginScores(read(0), read(1), "vec_id", "embedding", k)
          case "pairs" => Bitext.minePairs(read(0), read(1), "vec_id", "embedding", k,
            p(4, "1.0").toDouble)
          case m => badMode(m, "margin|pairs")
        })
      case "diversity" =>
        emit(GenEval.diversity(read(0), p(1, "text"), ns = 1 to p(2, "3").toInt,
          groupCols = pos.lift(3).filter(_.nonEmpty).toSeq))
      case "align" =>
        // learn the orthogonal map from the seed pairs, apply it to the vectors
        val w = Align.procrustes(read(0), p(2, "x"), p(3, "y"), p(5, "64").toInt)
        emit(Align.applyMap(read(1), p(4, "embedding"), "aligned", w))
      case "shard-audit" =>
        emit(Sharding.audit(read(0), p(1, "doc_id"), p(2, "text"), p(3, "8").toInt))
      case "label-prop" =>
        val idCol = p(2, "vec_id")
        emit(LabelProp.propagate(knnEdges(read(0), idCol, p(3, "embedding"), 4),
          read(1), idCol, p(4, "label"), p(5, "3").toInt))
      case "winnow-index" =>
        val (idx, idCol, textCol) = (pos(1), p(3, "doc_id"), p(4, "text"))
        emit(p(2, "probe") match {
          case "ingest" =>
            Seq(WinnowIndex.ingestBatch(spark, idx, read(0), idCol, textCol)).toDF("n_indexed")
          case "probe" => WinnowIndex.probeBatch(spark, idx, read(0), idCol, textCol)
          case "compact" => Seq(WinnowIndex.compact(spark, idx)).toDF("n_rows_compacted")
          case m => badMode(m, "ingest|probe|compact")
        })
      case "label-audit" =>
        val labels = p(1, "consensus") match {
          case "consensus" => Labels.majorityVote _
          case "accuracy" => Labels.annotatorAccuracy _
          case "cohen" => Labels.cohenKappa _
          case "fleiss" => Labels.fleissKappa _
          case "alpha" => Labels.krippendorffAlpha _
          case "confusion" => Labels.confusionMatrix _
          case m => badMode(m, "consensus|accuracy|cohen|fleiss|alpha|confusion")
        }
        emit(labels(read(0), p(2, "item"), p(3, "annotator"), p(4, "label")))
      case "bradley-terry" =>
        emit(Labels.bradleyTerry(read(0), p(1, "winner"), p(2, "loser"), p(3, "8").toInt))
      case "privacy-audit" =>
        val quasi = list(2, "zip").map(c => c -> col(c))
        val (k, sensitive) = (p(3, "10").toLong, p(4, ""))
        emit(p(1, "report") match {
          case "classes" => Privacy.kAnonymity(read(0), quasi, k)
          case "report" => Privacy.kAnonymityReport(read(0), quasi, k)
          case "ldiv" => Privacy.lDiversity(read(0), quasi, sensitive, k)
          case "tclose" => Privacy.tCloseness(read(0), quasi, sensitive, p(5, "0.2").toDouble)
          case m => badMode(m, "classes|report|ldiv|tclose")
        })
      case "url-curate" =>
        val url = col(p(2, "url"))
        emit(p(1, "canon") match {
          case "canon" => read(0).withColumn("canonical", UrlOps.canonicalizeUrl(url))
          case "domain" => read(0).withColumn("domain",
            UrlOps.registrableDomain(UrlOps.hostOf(url)))
          case "dedup" => UrlOps.urlDedupStats(read(0), p(2, "url"))
          case m => badMode(m, "canon|domain|dedup")
        })
      case "substring-dedup" =>
        // "stats" sizes a cut before committing to it
        val (idCol, textCol, minTokens) = (p(3, "doc_id"), p(4, "text"), p(2, "50").toInt)
        emit(p(1, "stats") match {
          case "cut" => TextOps.dedupSubstrings(read(0), idCol, textCol, minTokens)
          case "stats" => TextOps.substringDedupStats(read(0), idCol, textCol, minTokens)
          case m => badMode(m, "cut|stats")
        })
      case "substr-index" =>
        val (idx, params, targetBytes) =
          (pos(1), SubstrIndex.Params(p(3, "50").toInt), p(4, "0").toLong)
        emit(p(2, "probe") match {
          case "probe" => SubstrIndex.probeBatch(read(0), idx, "doc_id", "text", params)
          case "ingest" => SubstrIndex.ingestBatch(read(0), idx, "doc_id", "text", params)
          case "status" => SubstrIndex.maintenanceDue(spark, idx, targetBytes = targetBytes)
          case "compact" => compacted(SubstrIndex.compact(spark, idx, targetBytes,
            p(5, Lease.DefaultTtlMs.toString).toLong).map("grams" -> _).toSeq)
          case m => badMode(m, "probe|ingest|status|compact")
        })
      case "readability" =>
        emit(Readability.flesch(read(0), p(1, "doc_id"), p(2, "text")))
      case "skew-report" =>
        emit(Skew.skewReport(read(0), list(1, "key"), p(2, "1000000").toLong))
      case "silhouette" =>
        emit(ClusterEval.silhouette(read(0), p(1, "vec_id"), p(2, "embedding"),
          p(3, "label"), p(4, "64").toInt))
      case "data-card" =>
        emit(DataCard.perSource(read(0), p(1, "doc_id"), p(2, "text"),
          p(3, "lang"), p(4, "source")))
      case "zipf" =>
        emit(CorpusStats.zipfFit(read(0), p(1, "text"), p(2, "100").toInt))
      case "novelty" =>
        emit(CorpusStats.ngramNovelty(read(0), p(1, "doc_id"), p(2, "text"), p(3, "3").toInt))
      case "curation" =>
        // "compact" folds every partials family plus the dedup corpus of a
        // quiesced pipeline; "compact-if-due" only when "status" says so.
        // targetBytes > 0 switches the policy and the corpus file target
        // to the byte rule
        val (pipe, idCol, targetBytes) = (pos(0), p(3, "doc_id"), p(5, "0").toLong)
        def folded(r: (Int, Int)) = Seq((r._1.toLong, r._2.toLong))
          .toDF("n_partials_folded", "n_corpus_files_folded")
        emit(p(1, "render") match {
          case "render" => StreamOps.curationRender(spark, pipe,
            capK = p(2, "20").toInt, idCol = idCol, sourceCol = p(4, "source"))
          case "compact" => folded(StreamOps.curationCompact(spark, pipe, idCol,
            targetBytes = targetBytes))
          case "compact-if-due" => folded(StreamOps.curationCompactIfDue(spark, pipe,
            idCol = idCol, targetBytes = targetBytes))
          case "status" => StreamOps.maintenanceDue(spark, pipe, targetBytes = targetBytes)
          case m => badMode(m, "render|compact|compact-if-due|status")
        })
      case "dedup-index" =>
        // 0 = the callee's default compaction target; the lease TTL is the
        // deployment's crash-detection knob
        val targetBytes = p(2, "0").toLong
        emit(p(1, "status") match {
          case "status" => DedupIndex.maintenanceDue(spark, pos(0), targetBytes = targetBytes)
          case "compact" => compacted(DedupIndex.compact(spark, pos(0), targetBytes,
            p(3, Lease.DefaultTtlMs.toString).toLong).toSeq.sortBy(_._1))
          case m => badMode(m, "status|compact")
        })
      case "vec-index" =>
        val targetBytes = p(2, "0").toLong
        emit(p(1, "status") match {
          case "status" => VecIndex.maintenanceDue(spark, pos(0), targetBytes = targetBytes)
          case "compact-lists" => compacted(Seq("lists" -> VecIndex.compactLists(spark,
            pos(0), targetBytes, p(3, Lease.DefaultTtlMs.toString).toLong)))
          case m => badMode(m, "status|compact-lists")
        })

      case other =>
        throw new IllegalArgumentException(s"unknown verb '$other'")
    }
  }
}
