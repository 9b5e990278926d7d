package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** CLI dispatch for the corpus verbs: positional + `--out` parsing,
  * operator wiring, parquet output. A corpus verb calls its operator
  * directly and touches no collection, so `<root>` stays empty. Runs
  * `Cli.main` embedded — the CLI detects the pre-existing test session,
  * runs on it and must leave it running with its confs as they were. */
class CliCorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chat-stats and json-profile verbs parse args, write parquet, keep the session") {
    val dir = Files.createTempDirectory("graft_cli_corpus_")
    val root = Files.createTempDirectory("graft_cli_root_").toString
    val chat = """{"messages":[{"role":"user","content":"hi there"},
      {"role":"assistant","content":"hello you two"}]}"""
    Seq((1L, chat), (2L, "{bad")).toDF("doc_id", "text")
      .write.parquet(s"$dir/chat")

    val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    val hostConfs = confs.map(spark.conf.get)
    Cli.main(Array(root, "c1", "chat-stats", s"$dir/chat",
      "doc_id", "text", "--out", s"$dir/chat_out"))
    val cs = spark.read.parquet(s"$dir/chat_out")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(cs(1L)._6 && !cs(2L)._6)
    assert(!spark.sparkContext.isStopped, "CLI must not stop the host session")
    assert(confs.map(spark.conf.get) == hostConfs, "CLI must not change the host's confs")
    assert(Seq("_ingest_log", "_lease").forall(f => !Files.exists(Paths.get(root, f))),
      "a corpus verb must not write into the collection root")

    Seq((1L, """{"a":1,"b":2}"""), (2L, """{"a":3}"""))
      .toDF("doc_id", "text").write.parquet(s"$dir/jsonl")
    Cli.main(Array(root, "c1", "json-profile", s"$dir/jsonl",
      "text", "--out", s"$dir/jsonl_out"))
    val kp = spark.read.parquet(s"$dir/jsonl_out")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(kp("a") == 1.0 && kp("b") == 0.5)
    // field-stats mode via the keys positional
    Cli.main(Array(root, "c1", "json-profile", s"$dir/jsonl",
      "text", "a,zz", "--out", s"$dir/jsonl_fs"))
    val fs = spark.read.parquet(s"$dir/jsonl_fs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fs("a") == 2L && fs("zz") == 0L)
  }

  test("pref-stats and html-extract verbs: default column names, --out parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus2_")
    val root = Files.createTempDirectory("graft_cli_root2_").toString
    Seq((1L, "q", "same answer", "same answer"),
      (2L, "q", "the cat sat down", "a dog stood up and barked loudly"))
      .toDF("pair_id", "prompt", "chosen", "rejected")
      .write.parquet(s"$dir/pref")
    Cli.main(Array(root, "c1", "pref-stats", s"$dir/pref",
      "--out", s"$dir/pref_out"))
    val ps = spark.read.parquet(s"$dir/pref_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(!ps(1L) && ps(2L))

    Seq((7L, "<p>the cat and the dog is in the house today</p>" +
        "<div class=\"nav\"><a href=\"/\">home</a></div>"))
      .toDF("doc_id", "text").write.parquet(s"$dir/html")
    Cli.main(Array(root, "c1", "html-extract", s"$dir/html",
      "--out", s"$dir/html_out"))
    val he = spark.read.parquet(s"$dir/html_out")
      .as[(Long, String, Long)].collect().head
    assert(he._1 == 7L && he._2.startsWith("the cat and the dog") && he._3 == 1L)
  }

  test("chunk and embed-reduce verbs dispatch with positional overrides") {
    val dir = Files.createTempDirectory("graft_cli_corpus3_")
    val root = Files.createTempDirectory("graft_cli_root3_").toString
    Seq((1L, "a b. c d. e f."))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Cli.main(Array(root, "c1", "chunk", s"$dir/docs",
      "doc_id", "text", "4", "--out", s"$dir/chunk_out"))
    val ch = spark.read.parquet(s"$dir/chunk_out")
      .orderBy("chunk_id").as[(Long, Long, String, Long)].collect().toSeq
    assert(ch.map(_._3) == Seq("a b. c d.", "e f."))

    Seq((1L, Array.fill(8)(0.5f)), (2L, Array.tabulate(8)(_.toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    Cli.main(Array(root, "c1", "embed-reduce", s"$dir/emb",
      "rp", "embedding", "8", "3", "--out", s"$dir/emb_out"))
    val er = spark.read.parquet(s"$dir/emb_out")
    assert(er.count() == 2L)
    assert(er.select("proj").as[Seq[Double]].head().size == 3)
    // pca mode dispatches too
    Cli.main(Array(root, "c1", "embed-reduce", s"$dir/emb",
      "pca", "embedding", "8", "2", "--out", s"$dir/emb_pca"))
    assert(spark.read.parquet(s"$dir/emb_pca")
      .select("proj").as[Seq[Double]].head().size == 2)
  }

  test("wordpiece, sq8-audit and mmr verbs dispatch and write parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus4_")
    val root = Files.createTempDirectory("graft_cli_root4_").toString
    Seq((1L, "aa ab"), (2L, "ab aa aa"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Cli.main(Array(root, "c1", "wordpiece", s"$dir/docs",
      "doc_id", "text", "1", "--out", s"$dir/wp_out"))
    val wp = spark.read.parquet(s"$dir/wp_out")
    assert(wp.columns.toSeq == Seq("doc_id", "widx", "pidx", "piece"))
    assert(wp.where($"piece" === "aa").count() == 3)

    val rng = new scala.util.Random(7)
    val vecs = (0L until 12L).map(i => (i, Array.fill(4)(rng.nextGaussian().toFloat)))
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    Cli.main(Array(root, "c1", "sq8-audit", s"$dir/emb",
      "vec_id", "embedding", "4", "--out", s"$dir/sq8_out"))
    val sq8 = spark.read.parquet(s"$dir/sq8_out")
    assert(sq8.columns.toSeq == Seq("vec_id", "l2_err"))
    assert(sq8.count() == 12)

    vecs.take(2).toDF("vec_id", "embedding").write.parquet(s"$dir/q")
    Cli.main(Array(root, "c1", "mmr", s"$dir/emb", s"$dir/q",
      "2", "0.5", "6", "--out", s"$dir/mmr_out"))
    val mm = spark.read.parquet(s"$dir/mmr_out")
    assert(mm.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "mmr"))
    assert(mm.count() == 4) // 2 queries x k=2
  }

  test("dsir and eval verbs dispatch: weights, draw, auc, pr") {
    val dir = Files.createTempDirectory("graft_cli_corpus5_")
    val root = Files.createTempDirectory("graft_cli_root5_").toString
    Seq((1L, "cat cat purrs"), (2L, "cat sleeps"))
      .toDF("doc_id", "text").write.parquet(s"$dir/target")
    ((10L to 29L).map(i => (i, s"stock day $i")) :+ (30L, "cat cat cat"))
      .toDF("doc_id", "text").write.parquet(s"$dir/raw")
    // n = 0 -> per-doc weights over the raw corpus
    Cli.main(Array(root, "c1", "dsir", s"$dir/raw", s"$dir/target",
      "--out", s"$dir/w_out"))
    val w = spark.read.parquet(s"$dir/w_out")
    assert(w.count() == 21)
    assert(w.columns.toSeq == Seq("doc_id", "n_feats", "log_weight"))
    // n = 3 -> the Gumbel draw; the cat doc must be in it
    Cli.main(Array(root, "c1", "dsir", s"$dir/raw", s"$dir/target",
      "3", "--out", s"$dir/d_out"))
    val d = spark.read.parquet(s"$dir/d_out").select("doc_id")
      .as[Long].collect().toSet
    assert(d.size == 3 && d.contains(30L))

    Seq((1L, 0.9, 1.0), (2L, 0.8, 1.0), (3L, 0.2, 0.0), (4L, 0.1, 0.0))
      .toDF("doc_id", "score", "label").write.parquet(s"$dir/scored")
    Cli.main(Array(root, "c1", "eval", s"$dir/scored", "auc",
      "--out", s"$dir/auc_out"))
    assert(spark.read.parquet(s"$dir/auc_out").head().getDouble(0) == 1.0)
    Cli.main(Array(root, "c1", "eval", s"$dir/scored", "pr",
      "score", "label", "2", "--out", s"$dir/pr_out"))
    val pr = spark.read.parquet(s"$dir/pr_out").head()
    assert(pr.getLong(0) == 2 && pr.getDouble(2) == 1.0)
  }

  test("coreset and graph-ann verbs dispatch and write parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus6_")
    val root = Files.createTempDirectory("graft_cli_root6_").toString
    val rng = new scala.util.Random(9)
    val vecs = (1L to 60L).map(i => (i, Array.fill(4)(rng.nextGaussian().toFloat)))
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    Cli.main(Array(root, "c1", "coreset", s"$dir/emb",
      "vec_id", "embedding", "5", "--out", s"$dir/cs_out"))
    val cs = spark.read.parquet(s"$dir/cs_out")
    assert(cs.count() == 5)
    assert(cs.columns.toSeq == Seq("rank", "vec_id", "dist"))

    vecs.take(3).toDF("vec_id", "embedding").write.parquet(s"$dir/q")
    Cli.main(Array(root, "c1", "graph-ann", s"$dir/emb", s"$dir/q",
      "2", "4", "3", "--out", s"$dir/ga_out"))
    val ga = spark.read.parquet(s"$dir/ga_out")
    assert(ga.count() == 6) // 3 queries x k=2
    assert(ga.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cos"))

    // label-prop spreads two seed labels over the same kNN graph shape
    Seq((1L, "a"), (2L, "b")).toDF("vec_id", "label").write.parquet(s"$dir/seeds")
    Cli.main(Array(root, "c1", "label-prop", s"$dir/emb", s"$dir/seeds",
      "vec_id", "embedding", "label", "2", "--out", s"$dir/lp_out"))
    val lp = spark.read.parquet(s"$dir/lp_out")
    assert(lp.columns.toSeq == Seq("vec_id", "label", "is_seed"))
    assert(lp.count() > 2 && lp.where($"is_seed").count() == 2)
  }

  test("gen-eval and rank-eval verbs dispatch and write parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus7_")
    val root = Files.createTempDirectory("graft_cli_root7_").toString
    Seq((1L, "the cat sat", "the dog sat"), (2L, "a b c", "a b c"))
      .toDF("id", "cand", "ref").write.parquet(s"$dir/pairs")
    Cli.main(Array(root, "c1", "gen-eval", s"$dir/pairs", "rougeL",
      "--out", s"$dir/rl_out"))
    val rl = spark.read.parquet(s"$dir/rl_out")
    assert(rl.count() == 2)
    assert(rl.columns.toSeq == Seq("id", "lcs", "n_cand", "n_ref",
      "precision", "recall", "f1"))
    Cli.main(Array(root, "c1", "gen-eval", s"$dir/pairs", "bleu",
      "--out", s"$dir/bl_out"))
    assert(spark.read.parquet(s"$dir/bl_out").count() == 1)

    Seq((1L, 1L, 10L), (1L, 2L, 11L)).toDF("query_id", "rank", "doc_id")
      .write.parquet(s"$dir/run")
    Seq((1L, 10L, 2)).toDF("query_id", "doc_id", "rel")
      .write.parquet(s"$dir/qrels")
    Cli.main(Array(root, "c1", "rank-eval", s"$dir/run", s"$dir/qrels",
      "5", "summary", "--out", s"$dir/rs_out"))
    val rs = spark.read.parquet(s"$dir/rs_out").head()
    assert(rs.getLong(0) == 5 && rs.getLong(1) == 1 && rs.getDouble(2) == 1.0)
  }

  test("bitext and diversity verbs dispatch and write parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus8_")
    val root = Files.createTempDirectory("graft_cli_root8_").toString
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/src")
    Seq((10L, Array(1.0f, 0.1f)), (11L, Array(0.1f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/tgt")
    Cli.main(Array(root, "c1", "bitext", s"$dir/src", s"$dir/tgt",
      "pairs", "2", "0.0", "--out", s"$dir/bt_out"))
    val bt = spark.read.parquet(s"$dir/bt_out")
    assert(bt.count() == 2)
    assert(bt.columns.toSeq == Seq("src_id", "tgt_id", "cos", "margin"))

    Seq((1L, "a a b", "en"), (2L, "a b", "de"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/docs")
    Cli.main(Array(root, "c1", "diversity", s"$dir/docs", "text", "2",
      "lang", "--out", s"$dir/dv_out"))
    val dv = spark.read.parquet(s"$dir/dv_out")
    assert(dv.columns.toSeq == Seq("lang", "n", "n_grams", "n_distinct",
      "distinct_ratio", "entropy"))
    assert(dv.count() == 4) // 2 langs x orders 1..2
  }

  test("shard-audit and winnow-index verbs dispatch and write parquet") {
    val dir = Files.createTempDirectory("graft_cli_corpus10_")
    val root = Files.createTempDirectory("graft_cli_root10_").toString
    val boiler = "shared footer passage subscribe to the newsletter today"
    Seq((1L, s"first corpus doc $boiler"), (2L, s"second corpus doc $boiler"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Cli.main(Array(root, "c1", "shard-audit", s"$dir/corpus", "doc_id",
      "text", "2", "--out", s"$dir/sa_out"))
    val sa = spark.read.parquet(s"$dir/sa_out")
    assert(sa.columns.toSeq == Seq("shard", "n_docs", "n_tokens",
      "content_hash", "min_id", "max_id"))
    assert(sa.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) == 2)

    // winnow and corrupt run over the same two docs
    Cli.main(Array(root, "c1", "winnow", s"$dir/corpus", "overlap",
      "doc_id", "text", "8", "4", "--out", s"$dir/wn_out"))
    val wn = spark.read.parquet(s"$dir/wn_out")
    assert(wn.columns.toSeq == Seq("left_id", "right_id", "n_shared"))
    assert(wn.select("left_id", "right_id").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    Cli.main(Array(root, "c1", "corrupt", s"$dir/corpus", "span",
      "doc_id", "text", "4", "1", "--out", s"$dir/cr_out"))
    val cr = spark.read.parquet(s"$dir/cr_out")
    assert(cr.columns.toSeq == Seq("doc_id", "n_tokens", "n_masked", "inputs", "targets"))
    // 11 tokens: two full 4-token blocks, one token masked in each
    assert(cr.select("n_tokens", "n_masked").as[(Long, Long)].collect().toSet ==
      Set((11L, 2L)))

    Cli.main(Array(root, "c1", "winnow-index", s"$dir/corpus",
      s"$dir/widx", "ingest", "--out", s"$dir/wi_out"))
    assert(spark.read.parquet(s"$dir/wi_out").head().getLong(0) == 2)
    Seq((10L, s"incoming doc with $boiler"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    Cli.main(Array(root, "c1", "winnow-index", s"$dir/batch",
      s"$dir/widx", "probe", "--out", s"$dir/wp_out"))
    val wp = spark.read.parquet(s"$dir/wp_out")
    assert(wp.columns.toSeq == Seq("batch_id", "corpus_id", "n_shared"))
    assert(wp.select("corpus_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // compact mode: rewrites the fp table, probes unchanged
    Cli.main(Array(root, "c1", "winnow-index", s"$dir/batch",
      s"$dir/widx", "compact", "--out", s"$dir/wc_out"))
    assert(spark.read.parquet(s"$dir/wc_out").head().getLong(0) > 0)
    Cli.main(Array(root, "c1", "winnow-index", s"$dir/batch",
      s"$dir/widx", "probe", "--out", s"$dir/wp2_out"))
    assert(spark.read.parquet(s"$dir/wp2_out")
      .select("corpus_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("align verb learns from seed pairs and writes aligned vectors") {
    val dir = Files.createTempDirectory("graft_cli_corpus9_")
    val root = Files.createTempDirectory("graft_cli_root9_").toString
    // seed pairs: y = x rotated 90 degrees in the plane
    val rng = new scala.util.Random(3)
    val pts = (1L to 30L).map(_ => (rng.nextGaussian().toFloat,
      rng.nextGaussian().toFloat))
    pts.map { case (a, b) => (Array(a, b), Array(-b, a)) }.toDF("x", "y")
      .write.parquet(s"$dir/pairs")
    Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/vecs")
    Cli.main(Array(root, "c1", "align", s"$dir/pairs", s"$dir/vecs",
      "x", "y", "embedding", "2", "--out", s"$dir/al_out"))
    val al = spark.read.parquet(s"$dir/al_out").head()
    val a = al.getSeq[Double](al.fieldIndex("aligned"))
    assert(math.abs(a(0) - 0.0) < 1e-9 && math.abs(a(1) - 1.0) < 1e-9)
  }

  test("label-audit, bradley-terry, privacy-audit and url-curate verbs dispatch") {
    val dir = Files.createTempDirectory("graft_cli_corpus10_")
    val root = Files.createTempDirectory("graft_cli_root10_").toString
    Seq((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L), (2L, 1L, 2L), (2L, 2L, 2L))
      .toDF("item", "annotator", "label").write.parquet(s"$dir/ann")
    Cli.main(Array(root, "c1", "label-audit", s"$dir/ann", "consensus",
      "--out", s"$dir/la_out"))
    val la = spark.read.parquet(s"$dir/la_out")
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(la == Map(1L -> 0L, 2L -> 2L))
    Cli.main(Array(root, "c1", "label-audit", s"$dir/ann", "fleiss",
      "--out", s"$dir/fk_out"))
    assert(spark.read.parquet(s"$dir/fk_out").columns.contains("kappa"))

    (Seq.fill(3)(("A", "B")) :+ (("B", "A"))).toDF("winner", "loser")
      .write.parquet(s"$dir/games")
    Cli.main(Array(root, "c1", "bradley-terry", s"$dir/games", "winner",
      "loser", "20", "--out", s"$dir/bt_out"))
    val bt = spark.read.parquet(s"$dir/bt_out")
      .as[(String, Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(bt("A")._5 == 1L && math.abs(bt("A")._4 - 0.75) < 1e-3)

    Seq(("13053", "flu"), ("13053", "cold"), ("14850", "flu"))
      .toDF("zip", "dx").write.parquet(s"$dir/ppl")
    Cli.main(Array(root, "c1", "privacy-audit", s"$dir/ppl", "report",
      "zip", "2", "--out", s"$dir/ka_out"))
    val ka = spark.read.parquet(s"$dir/ka_out")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(ka == ((3L, 2L, 1L, 1L, 0.3333)))
    Cli.main(Array(root, "c1", "privacy-audit", s"$dir/ppl", "ldiv",
      "zip", "2", "dx", "--out", s"$dir/ld_out"))
    assert(spark.read.parquet(s"$dir/ld_out")
      .where($"zip" === "14850").head().getBoolean(3))

    Seq((1L, "http://WWW.a.com/x/?utm_source=1&b=2")).toDF("id", "url")
      .write.parquet(s"$dir/urls")
    Cli.main(Array(root, "c1", "url-curate", s"$dir/urls", "canon", "url",
      "--out", s"$dir/uc_out"))
    assert(spark.read.parquet(s"$dir/uc_out").select("canonical")
      .as[String].head() == "http://a.com/x?b=2")
    Cli.main(Array(root, "c1", "url-curate", s"$dir/urls", "dedup", "url",
      "--out", s"$dir/ud_out"))
    assert(spark.read.parquet(s"$dir/ud_out").select("domain")
      .as[String].head() == "a.com")
    assert(!spark.sparkContext.isStopped)
  }

  test("substring-dedup verb: stats sizes the cut, cut rewrites, unknown mode refused") {
    val dir = Files.createTempDirectory("graft_cli_corpus_ssd_")
    val root = Files.createTempDirectory("graft_cli_root_ssd_").toString
    Seq((1L, "a b c d e"), (2L, "x a b c d e y"), (3L, "zz qq"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Cli.main(Array(root, "c1", "substring-dedup", s"$dir/docs", "stats", "3",
      "--out", s"$dir/st_out"))
    val st = spark.read.parquet(s"$dir/st_out")
      .as[(Long, Long, Long, Long, Long)].head()
    // doc 2 contains doc 1's 5-token run: 5 tokens cut, 3 windows marked
    assert(st == ((3L, 1L, 14L, 5L, 3L)))
    Cli.main(Array(root, "c1", "substring-dedup", s"$dir/docs", "cut", "3",
      "doc_id", "text", "--out", s"$dir/cu_out"))
    val cu = spark.read.parquet(s"$dir/cu_out")
      .as[(Long, String)].collect().toMap
    assert(cu == Map(1L -> "a b c d e", 2L -> "x y", 3L -> "zz qq"))
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array(root, "c1", "substring-dedup", s"$dir/docs", "nope",
        "--out", s"$dir/xx_out"))
    }
    assert(e.getMessage.contains("substring-dedup mode"))
    assert(!spark.sparkContext.isStopped)
  }

  test("substr-index verb: ingest cuts and grows, probe is pure, status/compact maintain") {
    val dir = Files.createTempDirectory("graft_cli_corpus_sidx_")
    val root = Files.createTempDirectory("graft_cli_root_sidx_").toString
    val idx = s"$dir/idx"
    Seq((1L, "a b c d e")).toDF("doc_id", "text").write.parquet(s"$dir/b1")
    Seq((2L, "x a b c d e y"), (3L, "zz qq ww"))
      .toDF("doc_id", "text").write.parquet(s"$dir/b2")
    Cli.main(Array(root, "c1", "substr-index", s"$dir/b1", idx, "ingest", "3",
      "--out", s"$dir/i1_out"))
    Cli.main(Array(root, "c1", "substr-index", s"$dir/b2", idx, "probe", "3",
      "--out", s"$dir/p_out"))
    val probed = spark.read.parquet(s"$dir/p_out")
      .as[(Long, String)].collect().toMap
    assert(probed == Map(2L -> "x y", 3L -> "zz qq ww"))
    Cli.main(Array(root, "c1", "substr-index", s"$dir/b2", idx, "ingest", "3",
      "--out", s"$dir/i2_out"))
    Cli.main(Array(root, "c1", "substr-index", s"$dir/b2", idx, "status", "3",
      "--out", s"$dir/st_out"))
    val st = spark.read.parquet(s"$dir/st_out").head()
    assert(st.getString(0) == "grams" && st.getLong(1) >= 1L)
    Cli.main(Array(root, "c1", "substr-index", s"$dir/b2", idx, "compact", "3",
      "--out", s"$dir/cp_out"))
    val cp = spark.read.parquet(s"$dir/cp_out").head()
    assert(cp.getString(0) == "grams" &&
      cp.getLong(cp.fieldIndex("files_after")) <=
        cp.getLong(cp.fieldIndex("files_before")))
    val e = intercept[IllegalArgumentException] {
      Cli.main(Array(root, "c1", "substr-index", s"$dir/b2", idx, "nope",
        "--out", s"$dir/xx_out"))
    }
    assert(e.getMessage.contains("substr-index mode"))
    assert(!spark.sparkContext.isStopped)
  }

  test("readability, skew-report and silhouette verbs dispatch") {
    val dir = Files.createTempDirectory("graft_cli_corpus11_")
    val root = Files.createTempDirectory("graft_cli_root11_").toString
    Seq((1L, "he ran. she ran."), (2L, ""))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Cli.main(Array(root, "c1", "readability", s"$dir/docs",
      "--out", s"$dir/rd_out"))
    val rd = spark.read.parquet(s"$dir/rd_out")
    assert(rd.where($"doc_id" === 1L).head().getLong(1) == 4L)

    ((1 to 90).map(_ => ("hot", 1)) ++ Seq(("cold", 1)))
      .toDF("k", "v").write.parquet(s"$dir/rows")
    Cli.main(Array(root, "c1", "skew-report", s"$dir/rows", "k", "30",
      "--out", s"$dir/sk_out"))
    val sk = spark.read.parquet(s"$dir/sk_out").head()
    assert(sk.getString(3) == "hot" &&
      sk.getLong(sk.fieldIndex("salt_factor")) == 3L)

    Seq((1L, Array(0.0f), 0), (2L, Array(10.0f), 1))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/vecs")
    Cli.main(Array(root, "c1", "silhouette", s"$dir/vecs", "vec_id",
      "embedding", "label", "1", "--out", s"$dir/si_out"))
    assert(spark.read.parquet(s"$dir/si_out").count() == 2L)

    // zipf, novelty and data-card over one three-doc corpus
    Seq((1L, "a b a c", "en", "web"), (2L, "a b d", "en", "web"),
      (3L, "x y z", "fr", "books"))
      .toDF("doc_id", "text", "lang", "source").write.parquet(s"$dir/corpus")
    Cli.main(Array(root, "c1", "zipf", s"$dir/corpus", "text", "3",
      "--out", s"$dir/zf_out"))
    val zf = spark.read.parquet(s"$dir/zf_out")
    assert(zf.columns.toSeq ==
      Seq("vocab_size", "total_tokens", "top_k", "slope", "intercept", "r2"))
    assert(zf.as[(Long, Long, Long, Double, Double, Double)].head()._1 == 7L)
    Cli.main(Array(root, "c1", "novelty", s"$dir/corpus", "doc_id", "text",
      "2", "--out", s"$dir/nv_out"))
    val nv = spark.read.parquet(s"$dir/nv_out")
    assert(nv.columns.toSeq == Seq("doc_id", "n_grams", "n_novel", "novelty"))
    // bigram "a b" is shared by docs 1 and 2; doc 3's are all novel
    assert(nv.as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    Cli.main(Array(root, "c1", "data-card", s"$dir/corpus",
      "--out", s"$dir/dc_out"))
    val dc = spark.read.parquet(s"$dir/dc_out")
    assert(dc.columns.toSeq == Seq("source", "n_docs", "n_tokens", "mean_tokens",
      "dup_ratio", "pii_per_doc", "mean_reading_ease", "top_lang", "top_lang_share"))
    assert(dc.select("source", "n_docs", "top_lang").as[(String, Long, String)]
      .collect().toSet == Set(("web", 2L, "en"), ("books", 1L, "fr")))
    assert(!spark.sparkContext.isStopped)
  }

  test("curation verb: render audits the live pipe, compact folds it, render unchanged") {
    import graft.streaming.StreamOps
    val dir = Files.createTempDirectory("graft_cli_corpus12_")
    val root = Files.createTempDirectory("graft_cli_root12_").toString
    val pipe = s"$dir/pipe"
    def batch(ids: Seq[Long]) = ids.map(i =>
        (i, s"document body $i with several words", "en",
          if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "lang", "source")
    // three micro-batches through the pipeline's own ingest pieces
    (0 until 3).foreach { b =>
      val rows = batch((b * 4L) until (b * 4L + 4L))
      StreamOps.dataCardIngestBatch(rows, s"$pipe/card", b.toLong)
      StreamOps.sampleByIngestBatch(rows, s"$pipe/cap", b.toLong,
        "source", "doc_id", k = 3)
      StreamOps.fpDedupIngestBatch(rows, s"$pipe/corpus"): Unit
    }
    Cli.main(Array(root, "c1", "curation", pipe, "render", "3",
      "--out", s"$dir/ren1"))
    val before = spark.read.parquet(s"$dir/ren1")
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty)
    Cli.main(Array(root, "c1", "curation", pipe, "compact", "3",
      "--out", s"$dir/cmp"))
    val folds = spark.read.parquet(s"$dir/cmp").head()
    assert(folds.getLong(0) > 0L, "partials must fold")
    Cli.main(Array(root, "c1", "curation", pipe, "render", "3",
      "--out", s"$dir/ren2"))
    val after = spark.read.parquet(s"$dir/ren2")
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction must be invisible to the render")
    // round-13 verbs: status reports the policy (one row per component,
    // nothing due right after a compact at default thresholds), and the
    // compact-if-due hook is a strict no-op when nothing is due
    Cli.main(Array(root, "c1", "curation", pipe, "status", "3",
      "--out", s"$dir/status"))
    val status = spark.read.parquet(s"$dir/status")
    assert(status.columns.toSet == Set("component", "n", "threshold",
      "mean_bytes", "target_bytes", "due"))
    assert(status.count() >= 5L) // 4 card families + cap + corpus
    assert(status.where($"due").count() == 0L)
    Cli.main(Array(root, "c1", "curation", pipe, "compact-if-due", "3",
      "--out", s"$dir/ifdue"))
    val ifdue = spark.read.parquet(s"$dir/ifdue").head()
    assert(ifdue.getLong(0) == 0L && ifdue.getLong(1) == 0L,
      "compact-if-due must be a no-op when the policy is satisfied")
    assert(!spark.sparkContext.isStopped)
    // a stream carrying the pipeline's name on the host session refuses
    // the embedded CLI's maintenance modes
    val live = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName(StreamOps.curationQueryName(pipe)).start()
    try Seq("compact", "compact-if-due").foreach { mode =>
      intercept[IllegalStateException] {
        Cli.main(Array(root, "c1", "curation", pipe, mode, "3", "--out", s"$dir/live"))
      }
    } finally live.stop()
  }

  test("dedup-index and vec-index maintenance verbs: status reports the policy, compact folds and probes are invariant") {
    val dir = Files.createTempDirectory("graft_cli_corpus13_")
    val root = Files.createTempDirectory("graft_cli_root13_").toString
    // --- dedup-index: two ingests leave per-batch files in every table
    val corpus = s"$dir/ndcorpus"; val didx = s"$dir/didx"
    def docs(ids: Seq[Long]) = ids.map(i =>
        (i, s"cli dedup index document $i alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    graft.text.DedupIndex.ingestBatch(docs(1L to 3L), corpus, didx): Unit
    graft.text.DedupIndex.ingestBatch(docs(4L to 6L), corpus, didx): Unit
    Cli.main(Array(root, "c1", "dedup-index", didx, "status",
      "--out", s"$dir/dstat"))
    val dstat = spark.read.parquet(s"$dir/dstat")
    assert(dstat.select($"component").as[String].collect().toSet ==
      Set("fp", "sig", "bands"))
    assert(dstat.columns.contains("mean_bytes"))
    val probeBatchDf = docs(Seq(2L)) // exact dup of an indexed doc
    def survivors() = graft.text.DedupIndex.probeBatch(
        probeBatchDf.withColumnRenamed("doc_id", "doc_id"),
        spark.read.parquet(corpus), didx)
      .count()
    val before = survivors()
    Cli.main(Array(root, "c1", "dedup-index", didx, "compact",
      "--out", s"$dir/dcmp"))
    val dcmp = spark.read.parquet(s"$dir/dcmp")
    assert(dcmp.select($"component").as[String].collect().toSet ==
      Set("fp", "sig", "bands"))
    assert(dcmp.where($"files_after" > $"files_before").count() == 0L)
    assert(survivors() == before, "compact must be probe-invariant")
    // --- vec-index: build + append leave foldable list files
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val vidx = s"$dir/vidx"
    graft.vec.VecIndex.build(vecs, vidx, nlist = 4)
    graft.vec.VecIndex.append(
      vecs.where($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 100L), vidx)
    Cli.main(Array(root, "c1", "vec-index", vidx, "status",
      "--out", s"$dir/vstat"))
    val vstat = spark.read.parquet(s"$dir/vstat")
    assert(vstat.select($"component").as[String].collect().toSet ==
      Set("lists_files", "occupancy_cv"))
    val q = vecs.where($"vec_id" === 0L)
    def top() = graft.vec.VecIndex.topK(q, vidx, k = 5, nprobe = 4)
      .select($"neighbor_id").as[Long].collect().toSet
    val topBefore = top()
    Cli.main(Array(root, "c1", "vec-index", vidx, "compact-lists",
      "--out", s"$dir/vcmp"))
    val vcmp = spark.read.parquet(s"$dir/vcmp").head()
    assert(vcmp.getString(0) == "lists")
    assert(top() == topBefore, "compact-lists must be probe-invariant")
    // unknown modes are refused
    intercept[IllegalArgumentException] {
      Cli.main(Array(root, "c1", "dedup-index", didx, "rebuild"))
    }
    intercept[IllegalArgumentException] {
      Cli.main(Array(root, "c1", "vec-index", vidx, "rebuild"))
    }
    assert(!spark.sparkContext.isStopped)
  }
}
