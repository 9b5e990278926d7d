package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.text.{CorpusPipeline, DedupIndex}

import CorpusData.Doc

/** corpus_curate: the LLM-data path. Each round runs the seeded corpus
  * through CorpusPipeline.preprocess (survivors collected), then ingests
  * `batches` fresh batches through DedupIndex.ingestBatch against the
  * persisted index built in set-up. Never touches the store or serving. */
final class CorpusCurate(ctx: Ctx, found: String, batches: Int, copies: Int, fresh: Int) extends Workload(ctx) {

  private val dir = s"${ctx.work}/corpus"
  private val corpusDir = s"$dir/dedup_corpus"
  private val indexDir = s"$dir/dedup_index"
  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = true)))

  private var docs: Vector[Doc] = _
  private var base: Vector[Doc] = _
  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val curateS = mutable.ArrayBuffer.empty[Double]
  private val dedupS = mutable.ArrayBuffer.empty[Double]
  private var lastAudit: Seq[(String, Long)] = Nil
  private val freshIds = mutable.Set.empty[Long]
  private val plantedIds = mutable.Set.empty[Long]

  def setup(): Unit = {
    new java.io.File(dir).mkdirs()
    docs = CorpusData.corpus(ctx.seed, CorpusData.readTexts(found))
    CorpusData.writeJsonl(s"$dir/docs.jsonl", docs)
    base = CorpusData.indexBase(ctx.seed, 1000)
    CorpusData.writeJsonl(s"$dir/base.jsonl", base)
    val baseDf = ctx.spark.read.schema(schema).json(s"$dir/base.jsonl")
    baseDf.orderBy(col("doc_id")).write.parquet(corpusDir)
    DedupIndex.buildFrom(ctx.spark.read.parquet(corpusDir), indexDir)
  }

  /** The timed phases once, smaller: a quarter of the corpus, one
    * quarter-size batch. */
  def warmUp(): Unit = {
    CorpusData.writeJsonl(s"$dir/warm_docs.jsonl", docs.take(docs.size / 4))
    val (clean, _) = CorpusPipeline.preprocess(
      ctx.spark.read.schema(schema).json(s"$dir/warm_docs.jsonl"), "doc_id", "text")
    clean.collect()
    val d = CorpusData.batch(ctx.seed, base, 9999, copies / 4, fresh / 4)
    CorpusData.writeJsonl(s"$dir/warm_batch.jsonl", d)
    DedupIndex.ingestBatch(ctx.spark.read.schema(schema).json(s"$dir/warm_batch.jsonl"), corpusDir, indexDir)
    freshIds ++= d.filter(_.kind == "distinct").map(_.id)
    plantedIds ++= d.filter(_.kind != "distinct").map(_.id)
  }

  def round(no: Int): Double = {
    val batchDocs = (0 until batches).map { b =>
      val d = CorpusData.batch(ctx.seed, base, no * batches + b, copies, fresh)
      CorpusData.writeJsonl(s"$dir/batch_${no}_$b.jsonl", d)
      d
    }
    val ((survivors, audit), cs) = ctx.phase("curate") {
      val input = ctx.spark.read.schema(schema).json(s"$dir/docs.jsonl")
      ctx.trace.span("text.preprocess") {
        val (clean, audit) = CorpusPipeline.preprocess(input, "doc_id", "text")
        (clean.select(col("id"), col("text")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq, audit)
      }
    }
    ctx.op()
    CorpusData.checkCurated(docs, survivors, audit).foreach(why => ctx.check(ok = false, s"curate: $why"))
    // one operation per near-duplicate cluster: more than one survivor is
    // the known MinHash miss (see README), counted as failed
    CorpusData.nearKept(docs, survivors).foreach { case (c, k) =>
      ctx.op()
      if (k > 1) ctx.fail()
      ctx.check(k > 0, s"curate: near-duplicate cluster $c lost every document")
    }
    lastAudit = audit
    curateS += cs
    val (appended, ds) = ctx.phase("dedup_ingest") {
      batchDocs.indices.map { b =>
        val input = ctx.spark.read.schema(schema).json(s"$dir/batch_${no}_$b.jsonl")
        val (n, s) = ctx.timed(ctx.trace.span("text.dedup_ingest")(
          DedupIndex.ingestBatch(input, corpusDir, indexDir)))
        ingestMs += s * 1000
        ctx.op()
        n
      }
    }
    batchDocs.zip(appended).foreach { case (d, n) =>
      val f = d.filter(_.kind == "distinct")
      ctx.check(n == f.size, s"dedup batch appended $n documents, expected ${f.size}")
      freshIds ++= f.map(_.id)
      plantedIds ++= d.filter(_.kind != "distinct").map(_.id)
    }
    val ids = ctx.spark.read.parquet(corpusDir).select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.check(freshIds.forall(ids), "dedup: a fresh distinct document is missing from the corpus")
    ctx.check(!plantedIds.exists(ids), "dedup: a planted copy reached the corpus")
    dedupS += ds
    cs + ds
  }

  def endToEnd(rounds: Seq[Double]): Map[String, (Double, String)] = Map(
    "round_s" -> (Stats.median(rounds), "s"),
    "op_p50_ms" -> (Stats.median(ingestMs.toSeq), "ms"),
    "items_per_s" -> (docs.size / Stats.median(curateS.toSeq), "1/s"))

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    Map(
      "phase.curate_docs_per_s" -> docs.size / Stats.median(curateS.toSeq),
      "phase.dedup_ingest_docs_per_s" -> batches * (2 * copies + fresh) / Stats.median(dedupS.toSeq),
      "text.preprocess_ms" -> t.spanMs("text.preprocess") / math.max(1L, t.spanCount("text.preprocess")),
      "text.dedup_ingest_ms" -> t.spanMs("text.dedup_ingest") / math.max(1L, t.spanCount("text.dedup_ingest"))) ++
      lastAudit.map { case (stage, n) => s"text.stage_survivors.$stage" -> n.toDouble }
  }

  def resetSamples(): Unit = { ingestMs.clear(); curateS.clear(); dedupS.clear() }
}
