package perfbench

import scala.util.Random

/** Seeded corpus for the curation workload, with every planted case
  * labelled, and the properties the curation output must have.
  *
  * English documents are ~80 tokens: ~30% English stopwords and words
  * drawn from a 4000-word pseudo-vocabulary (every word 5+ letters, so it
  * never collides with another language's stopwords). Planted cases:
  *  - exact clusters: one text repeated with changed case and spacing;
  *  - near-duplicate clusters: a base text and copies of it with one word
  *    changed each (word-3-shingle Jaccard 0.84-0.93 against the 0.5
  *    threshold), generated from a fixed seed, plus the cluster kept in
  *    `found/near_duplicate_miss.jsonl`;
  *  - non-English (French) documents, and low-quality documents: too
  *    short, one word repeated, or mostly punctuation.
  * Two distinct documents share almost no word 3-shingles (Jaccard near
  * 0.01), so none may be dropped as a near duplicate. Sizes are fixed; the
  * seed changes only the text outside the near-duplicate clusters, whose
  * outcome must not depend on it. */
object CorpusData {

  final case class Doc(id: Long, text: String, kind: String, cluster: Long)

  /** Cluster numbers of near-duplicate clusters start here. */
  val NearBase = 10000L

  val EnStop = Vector("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val FrStop = Vector("le", "la", "les", "de", "et", "un", "une", "que", "est", "pour")

  val Distinct = 4600
  val ExactClusters = 150
  val ExactSize = 3
  val NearClusters = 40
  val NearSize = 3
  val NearSeed = 65537L
  val Foreign = 400
  val LowQuality = 300

  /** Deterministic pseudo-vocabulary (not seeded: it is the language). */
  val Vocab: Vector[String] = {
    val on = Vector("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr")
    val nu = Vector("a", "e", "i", "o", "u", "ai", "ou")
    val rng = new Random(42)
    Iterator.continually {
      val syl = 2 + rng.nextInt(2)
      (0 until syl).map(_ => on(rng.nextInt(on.size)) + nu(rng.nextInt(nu.size))).mkString
    }.filter(_.length >= 5).distinct.take(4000).toVector
  }

  final class Gen(seed: Long) {
    private val rng = new Random(seed)
    def english(n: Int = 70 + rng.nextInt(20)): Vector[String] =
      Vector.tabulate(n) { i =>
        val w = if (rng.nextDouble() < 0.3) EnStop(rng.nextInt(EnStop.size)) else Vocab(rng.nextInt(Vocab.size))
        if (i % 12 == 11) w + "." else w
      }
    def french(n: Int = 60 + rng.nextInt(20)): Vector[String] =
      Vector.fill(n)(if (rng.nextDouble() < 0.35) FrStop(rng.nextInt(FrStop.size)) else Vocab(rng.nextInt(Vocab.size)) + "e")
    /** The words with the one at position `at` replaced. */
    def variant(words: Vector[String], at: Int): Vector[String] =
      words.updated(at, Vocab(rng.nextInt(Vocab.size)))
    def reshape(text: String): String = {
      val t = if (rng.nextBoolean()) text.toUpperCase else text.capitalize
      if (rng.nextBoolean()) t.replace(" ", "  ") + " " else "\t" + t
    }
    def lowQuality(i: Int): String = i % 3 match {
      case 0 => Vector.fill(3)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      case 1 => ("the" +: Vector.fill(40)(Vocab(rng.nextInt(4)))).mkString(" ")
      case _ => Vector.fill(30)("!?" * (2 + rng.nextInt(3)) + " " + EnStop(rng.nextInt(EnStop.size))).mkString(" ")
    }
    def shuffle[A](xs: Vector[A]): Vector[A] = rng.shuffle(xs)
    def nextInt(n: Int): Int = rng.nextInt(n)
  }

  /** Near-duplicate clusters from the fixed seed: a base text and
    * NearSize - 1 copies, copy i with the word at a position of its own
    * changed (positions 20 apart, so no two changes share a shingle). */
  val nearClusters: Vector[Vector[String]] = {
    val g = new Gen(NearSeed)
    Vector.fill(NearClusters) {
      val base = g.english()
      base.mkString(" ") +: Vector.tabulate(NearSize - 1)(i => g.variant(base, 10 + 20 * i).mkString(" "))
    }
  }

  /** The corpus for one run; ids are shuffled so planted cases interleave.
    * `found` are the texts of a near-duplicate cluster kept as a file. */
  def corpus(seed: Long, found: Vector[String]): Vector[Doc] = {
    val g = new Gen(seed * 6151L + 1)
    val b = Vector.newBuilder[(String, String, Long)]
    (0 until Distinct).foreach(_ => b += ((g.english().mkString(" "), "distinct", -1L)))
    (0 until ExactClusters).foreach { c =>
      val t = g.english().mkString(" ")
      b += ((t, "exact", c.toLong))
      (1 until ExactSize).foreach(_ => b += ((g.reshape(t), "exact", c.toLong)))
    }
    (nearClusters :+ found).zipWithIndex.foreach { case (ts, c) =>
      ts.foreach(t => b += ((t, "near", NearBase + c)))
    }
    (0 until Foreign).foreach(_ => b += ((g.french().mkString(" "), "foreign", -1L)))
    (0 until LowQuality).foreach(i => b += ((g.lowQuality(i), "low", -1L)))
    g.shuffle(b.result()).zipWithIndex.map { case ((t, k, c), i) => Doc(i.toLong + 1, t, k, c) }
  }

  /** The documents indexed in setup, before any dedup batch. */
  def indexBase(seed: Long, n: Int): Vector[Doc] = {
    val g = new Gen(seed * 7331L + 2)
    Vector.tabulate(n)(i => Doc(1000000L + i, g.english().mkString(" "), "distinct", -1L))
  }

  /** One dedup batch: exact and near copies of indexed documents, under
    * fresh ids, mixed with fresh distinct documents. */
  def batch(seed: Long, base: Vector[Doc], no: Int, copies: Int, fresh: Int): Vector[Doc] = {
    val g = new Gen(seed * 9973L + 3 + no)
    val start = 2000000L + no * 10000L
    val exact = Vector.tabulate(copies)(i => Doc(start + i, base(g.nextInt(base.size)).text, "exact", -1L))
    val near = Vector.tabulate(copies)(i =>
      Doc(start + copies + i, g.variant(base(g.nextInt(base.size)).text.split(" ").toVector, 10 + g.nextInt(60))
        .mkString(" "), "near", -1L))
    val distinct = Vector.tabulate(fresh)(i => Doc(start + 2 * copies + i, g.english().mkString(" "), "distinct", -1L))
    g.shuffle(exact ++ near ++ distinct)
  }

  /** Whitespace-collapsed, lower-cased text: the exact-duplicate key. */
  def normalized(t: String): String = t.toLowerCase.trim.split("\\s+").mkString(" ")

  def writeJsonl(path: String, docs: Seq[Doc]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try docs.foreach(d => w.println(s"""{"doc_id": ${d.id}, "text": ${Json.quote(d.text)}}"""))
    finally w.close()
  }

  /** Properties the curated output must have, given the planted labels:
    * survivors are input documents with their text; no two share a
    * normalized text; every distinct English document survives; no
    * non-English or low-quality one does; exactly one per exact cluster does;
    * audit counts never increase and the last equals the survivors.
    * Near-duplicate clusters are checked one by one, by `nearKept`. */
  def checkCurated(docs: Vector[Doc], survivors: Seq[(Long, String)],
                   audit: Seq[(String, Long)]): Option[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    if (survivors.map(_._1).distinct.size != survivors.size) return Some("duplicate survivor ids")
    survivors.find { case (id, t) => !byId.get(id).exists(_.text == t) }
      .foreach(s => return Some(s"survivor ${s._1} is not an input document"))
    val norms = survivors.map(s => normalized(s._2))
    if (norms.distinct.size != norms.size) return Some("two survivors share a normalized text")
    val kept = survivors.map(s => byId(s._1))
    if (kept.exists(d => d.kind == "foreign" || d.kind == "low")) return Some("a non-English or low-quality document survived")
    val keptIds = kept.map(_.id).toSet
    val lost = docs.count(d => d.kind == "distinct" && !keptIds(d.id))
    if (lost > 0) return Some(s"$lost distinct documents were dropped")
    val perCluster = kept.filter(_.kind == "exact").groupBy(_.cluster).map { case (c, ds) => c -> ds.size }
    val clusters = docs.filter(_.kind == "exact").map(_.cluster).distinct
    val off = clusters.filter(c => perCluster.getOrElse(c, 0) != 1)
    if (off.nonEmpty)
      return Some(s"${off.size} planted clusters kept other than exactly one document: " +
        off.take(3).map(c => s"cluster $c kept ${perCluster.getOrElse(c, 0)} of " +
          docs.filter(_.cluster == c).map(d => s"${d.id}").mkString("[", ",", "]")).mkString("; "))
    val counts = audit.map(_._2)
    if (counts.zip(counts.drop(1)).exists { case (a, b) => b > a }) return Some(s"audit counts increase: $audit")
    if (counts.last != survivors.size) return Some(s"last audit count ${counts.last} != ${survivors.size} survivors")
    if (counts.head != docs.size) return Some(s"audit input ${counts.head} != ${docs.size}")
    None
  }

  /** Per near-duplicate cluster, how many of its documents survived. */
  def nearKept(docs: Vector[Doc], survivors: Seq[(Long, String)]): Map[Long, Int] = {
    val kept = survivors.map(_._1).toSet
    docs.filter(_.kind == "near").groupBy(_.cluster).map { case (c, ds) => c -> ds.count(d => kept(d.id)) }
  }

  /** The texts of a cluster kept as JSONL (one `{"doc_id", "text"}` a line). */
  def readTexts(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map(l => Json.read(l).get("text").asText).toVector
    finally src.close()
  }
}
