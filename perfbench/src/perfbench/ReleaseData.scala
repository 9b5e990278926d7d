package perfbench

import scala.util.Random

/** Seeded generator of a statistics release, and the answer
  * model computed from the generator's own records.
  *
  * The release is 4 tables in 3 chapter workbooks, each data sheet a
  * title row, a header row of years and one row per printed line, with
  * the suppression symbols `..` and `-` in some cells. Rows run over the
  * 24 fuels, times the sectors or regions of the table's breakdown, if it
  * has one. Most tables come with a mapping template (one template row per
  * data row, in a separate workbook) that carries exactly the dimension
  * columns the table uses; one is a manual-mapping table with no template.
  * Table shapes (rows x years) are fixed; values, suppressions and note
  * tags come from the seed.
  *
  * The model knows nothing of the program: it applies the release's
  * documented rules (note tags `[note N]` stripped from every text column
  * except `label`; suppression symbols read as null; text compared
  * case-insensitively) to the generated records. */
object ReleaseData {

  val Collection = "dukes"
  val LastYear = 2024

  val Fuels = Vector("Coal", "Coke oven gas", "Natural gas", "Crude oil",
    "Petroleum products", "Bioenergy", "Wind", "Solar photovoltaics", "Hydro",
    "Nuclear", "Electricity", "Heat sold", "Manufactured fuels",
    "Blast furnace gas", "Liquid biofuels", "Landfill gas", "Sewage gas", "Wood",
    "Waste", "Geothermal", "Wave and tidal", "Primary oils", "Ethane", "Propane")
  val Sectors = Vector("Domestic", "Iron and steel", "Chemicals", "Food and drink",
    "Paper and printing", "Construction", "Road transport", "Rail", "Aviation",
    "National navigation", "Agriculture", "Public administration", "Commercial",
    "Education", "Energy industry use", "Losses", "Exports", "Imports",
    "Stock change", "Transformation")
  val Regions = Vector("North East", "North West", "Yorkshire and the Humber",
    "East Midlands", "West Midlands", "East of England", "London", "South East",
    "South West", "Wales", "Scotland", "Northern Ireland")
  val Units = Vector("ktoe", "GWh", "thousand tonnes", "TJ")
  val ManualUnit = "GWh"

  /** One table: `by` is its breakdown after fuel ("fuel" for none,
    * "sector" or "region"), `groups` the number of sectors or regions. */
  final case class Spec(idx: Int, chapter: Int, name: String, by: String,
                        groups: Int, years: Int, templated: Boolean, walk: Boolean) {
    def rows: Int = Fuels.size * groups
    def records: Int = rows * years
  }

  /** One template row: the dimensions of one printed data row. */
  final case class Dims(label: String, unit: String, fuel: String,
                        sector: Option[String], region: Option[String])

  /** One published version of a table: its years, the raw text of every
    * printed cell (rows x years) and the dimensions of each row. */
  final case class Version(spec: Spec, years: Vector[Int], dims: Vector[Dims],
                           cells: Vector[Vector[String]], captions: Vector[String])

  /** One record of the canonical long form. */
  final case class Rec(row: Int, year: Int, label: String, unit: String,
                       fuel: String, sector: Option[String],
                       region: Option[String], value: Option[Double]) {
    def text(c: String): Option[String] = c match {
      case "label" => Some(label)
      case "unit" => Some(unit)
      case "fuel" => Some(fuel)
      case "sector" => sector
      case "region" => region
    }
  }

  /** Fixed shapes: 4 tables over 3 chapters (one staged partition each):
    * a fuel table, a manual-mapping fuel table, a fuel by sector and a
    * fuel by region table. The last two (5520 and 6048 records) are the
    * walk targets; their year counts do not divide the walk's page size
    * (5000), so pages end inside a row's group of records. Table 1.1 is
    * revised every round. It is also the first in listing order and has
    * no breakdown, which shows the staging fault in the README every run. */
  val layout: Vector[Spec] = Vector(
    ("1.1", "fuel", 1, 15, true, false), ("1.2", "fuel", 1, 11, false, false),
    ("2.1", "sector", 10, 23, true, true), ("3.1", "region", 12, 21, true, true)
  ).zipWithIndex.map { case ((name, by, groups, years, templated, walk), idx) =>
    Spec(idx, name.takeWhile(_ != '.').toInt, name, by, groups, years, templated, walk)
  }

  val Revised = "1.1"

  /** The dimension columns the first-listed table's files carry: staging
    * keeps only these (see README), so the model of that fault nulls
    * every other dimension. */
  val FirstListedDims: Set[String] = {
    val s = layout.minBy(_.name)
    Set("label", "unit", "fuel") ++ (if (s.by == "fuel") Nil else Seq(s.by))
  }

  def staged(r: Rec): Rec = r.copy(
    sector = r.sector.filter(_ => FirstListedDims("sector")),
    region = r.region.filter(_ => FirstListedDims("region")))

  private def round1(x: Double): Double = math.round(x * 10.0) / 10.0

  private def cell(rng: Random, x: Double): String =
    if (rng.nextDouble() < 0.04) (if (rng.nextBoolean()) ".." else "-")
    else round1(x).toString

  private def noted(rng: Random, s: String, p: Double): String =
    if (rng.nextDouble() < p) s"$s [note ${1 + rng.nextInt(9)}]" else s

  /** The first published version of one table. */
  def publish(seed: Long, s: Spec): Version = {
    val rng = new Random(seed * 1000003L + s.idx)
    val years = Vector.range(LastYear - s.years + 1, LastYear + 1)
    val dims = Vector.tabulate(s.rows) { r =>
      val fuel = Fuels(r % Fuels.size)
      val g = r / Fuels.size
      val sector = if (s.by == "sector") Some(Sectors(g)) else None
      val region = if (s.by == "region") Some(Regions(g)) else None
      val unit = if (s.templated) Units((r / 3 + s.idx) % Units.size) else ManualUnit
      val label = noted(rng, (Seq(fuel) ++ sector ++ region).mkString(" - "), 0.1)
      Dims(label, unit, noted(rng, fuel, 0.08), sector, region)
    }
    val cells = Vector.fill(s.rows) {
      val base = math.exp(4.0 + 1.5 * rng.nextGaussian())
      years.indices.toVector.map(y =>
        cell(rng, base * (1.0 + 0.03 * y) * (1.0 + 0.05 * rng.nextGaussian())))
    }
    // manual tables print the (possibly noted) fuel as the row caption,
    // which becomes both the fuel and the label; templated tables print
    // the label, and the template supplies the dimensions
    val captions = if (s.templated) dims.map(_.label) else dims.map(_.fuel)
    val finalDims = if (s.templated) dims else dims.map(d => d.copy(label = d.fuel))
    Version(s, years, finalDims, cells, captions)
  }

  /** A revised version: the same years, about 30% of cells revised. */
  def revise(seed: Long, round: Int, v: Version): Version = {
    val rng = new Random(seed * 7919L + round * 104729L + v.spec.idx)
    v.copy(cells = v.cells.map(_.map { c =>
      if (c.head.isDigit && rng.nextDouble() < 0.3)
        round1(c.toDouble * (1.0 + 0.02 * rng.nextGaussian())).abs.toString
      else c
    }))
  }

  /** `[note N]` tags are stripped from every text column except label. */
  def clean(s: String): String = s.replaceAll("(?i)\\[\\s*note\\s+\\d+\\s*\\]", "").trim

  def parseValue(c: String): Option[Double] =
    if (c.nonEmpty && c.head.isDigit) Some(c.toDouble) else None

  /** The canonical records one version publishes, in (row, year) order. */
  def records(v: Version): Vector[Rec] =
    for {
      (d, r) <- v.dims.zipWithIndex
      (y, yi) <- v.years.zipWithIndex
    } yield Rec(r, y, d.label, clean(d.unit), clean(d.fuel),
      d.sector.map(clean), d.region.map(clean), parseValue(v.cells(r)(yi)))

  // ------------------------------------------------------------ the files

  def dataSheet(v: Version): XlsxFile.Sheet =
    Vector(Vector(s"Table ${v.spec.name}: supply and consumption"),
      ("Item" +: v.years.map(_.toString))) ++
      v.dims.indices.map(r => v.captions(r) +: v.cells(r).map(c =>
        parseValue(c).getOrElse(c): Any))

  /** A template carries only the dimensions its table uses. */
  def templateSheet(v: Version): XlsxFile.Sheet = {
    val by = v.spec.by
    val extra = if (by == "fuel") Vector.empty[String] else Vector(by)
    (Vector("label", "unit", "fuel") ++ extra) +:
      v.dims.map(d => Vector(d.label, d.unit, d.fuel) ++
        (if (by == "sector") d.sector.toVector else if (by == "region") d.region.toVector else Vector.empty))
  }

  /** The first version of every table. */
  def generate(seed: Long): Vector[Version] = layout.map(publish(seed, _))

  /** Write chapter_<c>.xlsx (data) and chapter_<c>_map.xlsx (templates). */
  def writeRelease(tables: Vector[Version], dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    tables.groupBy(_.spec.chapter).foreach { case (c, vs) =>
      val sorted = vs.sortBy(_.spec.idx)
      XlsxFile.write(s"$dir/chapter_$c.xlsx", sorted.map(v => v.spec.name -> dataSheet(v)))
      XlsxFile.write(s"$dir/chapter_${c}_map.xlsx",
        sorted.filter(_.spec.templated).map(v => v.spec.name -> templateSheet(v)))
    }
  }

  /** Write revision_<r>.xlsx: the re-published sheets of one round. */
  def writeRevision(vs: Vector[Version], dir: String, round: Int): Unit =
    XlsxFile.write(s"$dir/revision_$round.xlsx", vs.map(v => v.spec.name -> dataSheet(v)))
}
