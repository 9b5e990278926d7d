package perfbench

import scala.util.Random

import ReleaseData.{Rec, Version}

/** The analyst request mix for the API workload, and the model's answer
  * to each request. Filters are built here as a small tree and rendered to
  * the filter DSL's JSON; the model evaluates the same tree over the
  * release's records under the DSL's documented semantics (text compared
  * case-insensitively, `like` with `%` and `_`, `$or` groups AND-ed with
  * the base, pages in keyset order on `row_uid` = ingest id * 2^32 + row). */
object ReadMix {

  /** One comparison: column, DSL operator, value (String, Long). */
  final case class Cmp(col: String, op: String, v: Any)
  final case class Filter(base: Vector[Cmp], ors: Vector[Vector[Cmp]]) {
    def json: String = {
      def group(cs: Vector[Cmp]): String =
        cs.groupBy(_.col).toVector.sortBy(_._1).map { case (c, xs) =>
          val body =
            if (xs.size == 1 && xs.head.op == "eq") lit(xs.head.v)
            else xs.map(x => s"${Json.quote(x.op)}: ${lit(x.v)}").mkString("{", ", ", "}")
          s"${Json.quote(c)}: $body"
        }.mkString(", ")
      val parts = Vector(group(base)).filter(_.nonEmpty) ++
        (if (ors.isEmpty) Nil
         else Seq("\"$or\": " + ors.map(g => "{" + group(g) + "}").mkString("[", ", ", "]")))
      parts.mkString("{", ", ", "}")
    }
  }
  private def lit(v: Any): String = v match {
    case s: String => Json.quote(s)
    case other => other.toString
  }

  sealed trait Request { def table: String }
  /** First page of a filtered query at the default limit; `cols` projects. */
  final case class Page(kind: String, table: String, filter: Filter,
                        cols: Option[Seq[String]]) extends Request
  /** Per-column metadata of one table. */
  final case class Meta(table: String) extends Request
  /** Keyset walk over a whole table at the maximum page size. */
  final case class Walk(table: String) extends Request

  val DefaultLimit = 1000
  val WalkLimit = 5000

  // ------------------------------------------------------------- the model

  def likeRegex(p: String): java.util.regex.Pattern = {
    val sb = new StringBuilder("^")
    p.toLowerCase.foreach {
      case '%' => sb ++= ".*"
      case '_' => sb += '.'
      case c => sb ++= java.util.regex.Pattern.quote(c.toString)
    }
    java.util.regex.Pattern.compile(sb.append("$").toString, java.util.regex.Pattern.DOTALL)
  }

  private def holds(c: Cmp, r: Rec): Boolean = c.col match {
    case "year" | "row" =>
      val x = if (c.col == "year") r.year.toLong else r.row.toLong
      val v = c.v.asInstanceOf[Long]
      c.op match {
        case "eq" => x == v
        case "gt" => x > v
        case "gte" => x >= v
        case "lt" => x < v
        case "lte" => x <= v
      }
    case text => r.text(text) match {
      case None => false // a null comparison is never true
      case Some(s) => c.op match {
        case "eq" => s.toLowerCase == c.v.toString.toLowerCase
        case "like" => likeRegex(c.v.toString).matcher(s.toLowerCase).matches()
      }
    }
  }

  def matches(f: Filter, r: Rec): Boolean =
    f.base.forall(holds(_, r)) && (f.ors.isEmpty || f.ors.exists(_.forall(holds(_, r))))

  /** The model's filtered records of one table in keyset order. */
  def expected(recs: Vector[Rec], f: Filter): Vector[Rec] =
    recs.filter(matches(f, _)).sortBy(r => (r.row, r.year))

  // --------------------------------------------------------- the generator

  /** The request kinds of a round, in equal shares: the plainest reading
    * of the analyst's read path, not a measured traffic mix. */
  val Kinds = Vector("flat", "range_like", "or", "cols", "meta")
  val PerKind = 2
  /** Seed of the tables requests go to: fixed, so every round and every run
    * sends the same requests to the same tables and only values change. */
  val MixSeed = 4099L

  /** The table of each mixed request of a round, drawn Zipf-skewed
    * (exponent 1, an assumption: no traffic log exists to fit) over the
    * release's tables in layout order. */
  val tablePicks: Vector[String] = {
    val rng = new Random(MixSeed)
    val names = ReleaseData.layout.map(_.name)
    val weights = names.indices.map(i => 1.0 / (i + 1))
    Vector.fill(Kinds.size * PerKind) {
      var x = rng.nextDouble() * weights.sum
      var i = 0
      while (i < names.size - 1 && x >= weights(i)) { x -= weights(i); i += 1 }
      names(i)
    }
  }

  /** A `like` pattern for one fuel that matches no other fuel: its first
    * letter blanked with `_`, then the shortest unique prefix, then `%`. */
  def likeFor(fuel: String): String = {
    val w = fuel.toLowerCase
    (3 to w.length).iterator.map(k => "_" + w.substring(1, k) + (if (k < w.length) "%" else ""))
      .find(p => ReleaseData.Fuels.count(f => likeRegex(p).matcher(f.toLowerCase).matches()) == 1)
      .getOrElse(w)
  }

  /** A round: `PerKind` requests of each kind on fixed tables, then one
    * keyset walk over each walk target. Every request returns a fixed
    * number of records (a fuel appears once per sector or region, a
    * range spans 3 years, `$or` the last 4); the seed picks the fuels,
    * years and letter case. */
  def round(seed: Long, roundNo: Int, tables: Map[String, Version]): Vector[Request] = {
    val rng = new Random(seed * 31L + roundNo)
    def fuel(): String = ReleaseData.Fuels(rng.nextInt(ReleaseData.Fuels.size))
    def oddCase(s: String): String =
      s.map(ch => if (rng.nextBoolean()) ch.toUpper else ch.toLower)
    val kinds = Kinds.flatMap(Vector.fill(PerKind)(_))
    val mixed = kinds.zip(tablePicks).map { case (kind, t) =>
      val v = tables(t)
      val y0 = v.years.head.toLong
      def year(): Long = y0 + rng.nextInt(v.years.size)
      kind match {
        case "flat" =>
          Page(kind, t, Filter(Vector(Cmp("fuel", "eq", oddCase(fuel())), Cmp("year", "eq", year())),
            Vector.empty), None)
        case "range_like" =>
          val lo = y0 + rng.nextInt(v.years.size - 2)
          Page(kind, t, Filter(Vector(Cmp("year", "gte", lo), Cmp("year", "lt", lo + 3),
            Cmp("fuel", "like", likeFor(fuel()))), Vector.empty), None)
        case "or" =>
          val a = fuel()
          val b = ReleaseData.Fuels.filterNot(_ == a)(rng.nextInt(ReleaseData.Fuels.size - 1))
          Page(kind, t, Filter(Vector(Cmp("year", "gt", v.years.last - 4L)),
            Vector(Vector(Cmp("fuel", "eq", oddCase(a))), Vector(Cmp("fuel", "eq", oddCase(b))))), None)
        case "cols" =>
          Page(kind, t, Filter(Vector(Cmp("year", "eq", year())), Vector.empty),
            Some(Seq("row", "year", "unit", "value")))
        case _ => Meta(t)
      }
    }
    mixed ++ ReleaseData.layout.filter(_.walk).map(s => Walk(s.name))
  }

  // ------------------------------------------------------------ the checks

  type Row = Map[String, Any]
  sealed trait Verdict
  case object Ok extends Verdict
  final case class Wrong(why: String) extends Verdict

  private def field(r: Rec, c: String): Any = c match {
    case "row" => r.row.toLong
    case "year" => r.year.toLong
    case "value" => r.value.map(x => x: Any).orNull
    case "table_name" => null
    case t => r.text(t).orNull
  }

  /** Is `page` the first `limit` records of `exp` (keyset order)? Records
    * sharing the boundary row_uid may come in any order, so at the
    * boundary row only membership is checked. Fields a page drops for
    * being all-null must be null in the model. */
  def checkPage(exp: Vector[Rec], page: Vector[Row], limit: Int,
                projected: Boolean, table: String): Verdict = {
    val n = math.min(limit, exp.size)
    if (page.size != n) return Wrong(s"$table: ${page.size} rows, expected $n")
    if (n == 0) return Ok
    val byKey = exp.map(r => (r.row.toLong, r.year.toLong) -> r).toMap
    val keys = page.map(m => (m("row"), m("year")))
    if (keys.distinct.size != keys.size) return Wrong(s"$table: duplicate records in a page")
    val boundary = exp(n - 1).row.toLong
    val must = exp.take(n).filter(_.row < boundary).map(r => (r.row.toLong, r.year.toLong)).toSet
    val got = keys.map { case (a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long]) }
    if (!must.subsetOf(got.toSet)) return Wrong(s"$table: records before the boundary missing")
    val shown = page.head.keySet
    for ((m, k) <- page.zip(got)) {
      val r = byKey.getOrElse(k, return Wrong(s"$table: record $k not expected"))
      if (k._1 > boundary) return Wrong(s"$table: record $k beyond the page boundary")
      for ((c, v) <- m if c != "table_name")
        if (field(r, c) != v) return Wrong(s"$table: $c of $k is $v, expected ${field(r, c)}")
    }
    if (!projected) {
      val dropped = (Seq("label", "unit", "fuel", "sector", "region", "value")).filterNot(shown)
      val pageRecs = got.map(byKey)
      for (c <- dropped if pageRecs.exists(r => field(r, c) != null))
        return Wrong(s"$table: column $c missing from a page where it is not all null")
    }
    Ok
  }

  /** Model metadata: per column, the non-null and distinct counts. */
  def metadata(recs: Vector[Rec]): Map[String, (Long, Long)] = {
    def stat(xs: Vector[Any]): (Long, Long) = {
      val nn = xs.filter(_ != null)
      (nn.size.toLong, nn.distinct.size.toLong)
    }
    Map(
      "row" -> stat(recs.map(_.row)),
      "year" -> stat(recs.map(_.year)),
      "label" -> stat(recs.map(_.label)),
      "unit" -> stat(recs.map(_.unit)),
      "fuel" -> stat(recs.map(_.fuel)),
      "sector" -> stat(recs.map(_.sector.orNull)),
      "region" -> stat(recs.map(_.region.orNull)),
      "value" -> stat(recs.map(_.value.map(x => x: Any).orNull)))
  }
}
