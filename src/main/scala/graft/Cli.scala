package graft

import org.apache.spark.sql.SparkSession

import graft.etl.Config
import graft.io.WorkbookReader
import graft.serve.{Facade, HttpApi}

/** Command-line surface — the reference's Typer CLI verbs (cli.py) over
  * the facade:
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
    def orDefault(arg: String, default: => String) =
      if (arg == "-") default else arg
    val root = orDefault(rootArg, Settings.defaultRoot)
    val rest = args.drop(3)

    // when embedded (tests, notebooks) getOrCreate returns the caller's
    // session — which the CLI must then NOT stop on exit
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.builder(
        sys.env.getOrElse("GRAFT_MASTER", "local[*]"),
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32").toInt)
      .appName(s"graft-$collection")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val facade = new Facade(spark, root, collection)

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

      // corpus verbs — the text-family operators at the CLI (the
      // reference exposes every capability through cli.py; these are
      // the round-8 families'). `--out D` writes parquet, else show().
      case "chat-stats" | "html-extract" | "pref-stats" | "json-profile"
         | "chunk" | "embed-reduce" | "wordpiece" | "sq8-audit" | "mmr"
         | "dsir" | "eval" | "coreset" | "graph-ann" | "gen-eval"
         | "rank-eval" | "winnow" | "corrupt" | "bitext" | "diversity"
         | "align" | "shard-audit" | "label-prop" | "winnow-index"
         | "label-audit" | "bradley-terry" | "privacy-audit"
         | "url-curate" | "substring-dedup" | "substr-index" | "readability"
         | "skew-report" | "silhouette"
         | "data-card" | "zipf" | "novelty" | "curation"
         | "dedup-index" | "vec-index" =>
        val out = rest.sliding(2).collectFirst {
          case Array("--out", d) if !d.startsWith("--") => d
        }
        val pos = rest.takeWhile(_ != "--out")
        val inPath = pos(0)
        def p(i: Int, default: String) = pos.lift(i).getOrElse(default)
        val frame = verb match {
          case "chat-stats" =>
            facade.chatStats(inPath, p(1, "doc_id"), p(2, "text"))
          case "html-extract" =>
            facade.htmlExtract(inPath, p(1, "doc_id"), p(2, "text"))
          case "pref-stats" =>
            facade.prefStats(inPath, p(1, "pair_id"), p(2, "prompt"),
              p(3, "chosen"), p(4, "rejected"))
          case "chunk" =>
            facade.chunk(inPath, p(1, "doc_id"), p(2, "text"),
              p(3, "256").toInt)
          case "embed-reduce" =>
            facade.embedReduce(inPath, p(1, "rp"), p(2, "embedding"),
              p(3, "64").toInt, p(4, "16").toInt)
          case "wordpiece" =>
            facade.wordpiece(inPath, p(1, "doc_id"), p(2, "text"),
              p(3, "30").toInt)
          case "sq8-audit" =>
            facade.sq8Audit(inPath, p(1, "vec_id"), p(2, "embedding"),
              p(3, "64").toInt)
          case "mmr" =>
            facade.mmr(inPath, pos(1), "vec_id", "embedding",
              p(2, "5").toInt, p(3, "0.7").toDouble, p(4, "20").toInt)
          case "dsir" =>
            facade.dsir(inPath, pos(1), p(3, "doc_id"), p(4, "text"),
              p(2, "0").toInt)
          case "eval" =>
            facade.evalMetric(inPath, p(1, "auc"), p(2, "score"),
              p(3, "label"), k = p(4, "10").toInt)
          case "coreset" =>
            facade.coreset(inPath, p(1, "vec_id"), p(2, "embedding"),
              p(3, "8").toInt)
          case "graph-ann" =>
            facade.graphAnn(inPath, pos(1), "vec_id", "embedding",
              p(2, "5").toInt, p(3, "8").toInt, p(4, "4").toInt)
          case "gen-eval" =>
            facade.genEval(inPath, p(1, "rouge2"), p(2, "id"),
              p(3, "cand"), p(4, "ref"), p(5, "4").toInt)
          case "rank-eval" =>
            facade.rankEval(inPath, pos(1), p(2, "10").toInt,
              summary = p(3, "summary") == "summary")
          case "winnow" =>
            facade.winnow(inPath, p(1, "overlap"), p(2, "doc_id"),
              p(3, "text"), p(4, "8").toInt, p(5, "4").toInt)
          case "corrupt" =>
            facade.corrupt(inPath, p(1, "span"), p(2, "doc_id"),
              p(3, "text"), p(4, "20").toInt, p(5, "3").toInt)
          case "bitext" =>
            facade.bitext(inPath, pos(1), p(2, "pairs"), "vec_id",
              "embedding", p(3, "4").toInt, p(4, "1.0").toDouble)
          case "diversity" =>
            facade.diversity(inPath, p(1, "text"), p(2, "3").toInt,
              pos.lift(3).filter(_.nonEmpty))
          case "align" =>
            facade.align(inPath, pos(1), p(2, "x"), p(3, "y"),
              p(4, "embedding"), p(5, "64").toInt)
          case "shard-audit" =>
            facade.shardAudit(inPath, p(1, "doc_id"), p(2, "text"),
              p(3, "8").toInt)
          case "label-prop" =>
            facade.labelProp(inPath, pos(1), p(2, "vec_id"),
              p(3, "embedding"), p(4, "label"), p(5, "3").toInt)
          case "winnow-index" =>
            facade.winnowIndex(inPath, pos(1), p(2, "probe"),
              p(3, "doc_id"), p(4, "text"))
          case "label-audit" =>
            facade.labelAudit(inPath, p(1, "consensus"), p(2, "item"),
              p(3, "annotator"), p(4, "label"))
          case "bradley-terry" =>
            facade.bradleyTerry(inPath, p(1, "winner"), p(2, "loser"),
              p(3, "8").toInt)
          case "privacy-audit" =>
            facade.privacyAudit(inPath, p(1, "report"),
              p(2, "zip").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              p(3, "10").toLong, p(4, ""), p(5, "0.2").toDouble)
          case "url-curate" =>
            facade.urlCurate(inPath, p(1, "canon"), p(2, "url"))
          case "substring-dedup" =>
            facade.substringDedup(inPath, p(1, "stats"), p(3, "doc_id"),
              p(4, "text"), p(2, "50").toInt)
          case "substr-index" =>
            facade.substrIndex(inPath, pos(1), p(2, "probe"),
              minTokens = p(3, "50").toInt, targetBytes = p(4, "0").toLong,
              ttlMs = p(5, graft.ops.Lease.DefaultTtlMs.toString).toLong)
          case "readability" =>
            facade.readability(inPath, p(1, "doc_id"), p(2, "text"))
          case "skew-report" =>
            facade.skewReport(inPath,
              p(1, "key").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              p(2, "1000000").toLong)
          case "silhouette" =>
            facade.silhouette(inPath, p(1, "vec_id"), p(2, "embedding"),
              p(3, "label"), p(4, "64").toInt)
          case "data-card" =>
            facade.dataCard(inPath, p(1, "doc_id"), p(2, "text"),
              p(3, "lang"), p(4, "source"))
          case "curation" =>
            facade.curation(inPath, p(1, "render"), p(2, "20").toInt,
              p(3, "doc_id"), p(4, "source"), p(5, "0").toLong)
          case "dedup-index" =>
            facade.dedupIndexMaint(inPath, p(1, "status"), p(2, "0").toLong,
              p(3, graft.ops.Lease.DefaultTtlMs.toString).toLong)
          case "vec-index" =>
            facade.vecIndexMaint(inPath, p(1, "status"), p(2, "0").toLong,
              p(3, graft.ops.Lease.DefaultTtlMs.toString).toLong)
          case "zipf" =>
            facade.zipf(inPath, p(1, "text"), p(2, "100").toInt)
          case "novelty" =>
            facade.novelty(inPath, p(1, "doc_id"), p(2, "text"),
              p(3, "3").toInt)
          case _ =>
            val keys = pos.lift(2).map(_.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq).getOrElse(Nil)
            facade.jsonProfile(inPath, p(1, "text"), keys)
        }
        out match {
          case Some(d) => frame.write.mode("overwrite").parquet(d)
            println(s"wrote $d")
          case None => frame.show(50, truncate = false)
        }

      case other =>
        throw new IllegalArgumentException(s"unknown verb '$other'")
    }
    if (verb != "serve" && !preExisting) spark.stop()
  }
}
