package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** State shared by a run: the session, the seed, the work directory, the
  * operation counts, the failed checks and the trace. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String, val cpus: Int) {
  val trace = new Trace
  var listener: Option[PhaseListener] = None

  @volatile var attempted = 0L
  @volatile var failed = 0L
  val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def op(n: Long = 1): Unit = synchronized { attempted += n }
  def fail(n: Long = 1): Unit = synchronized { failed += n }
  def check(ok: Boolean, why: => String): Unit = if (!ok) wrong.add(why)

  /** Per-phase totals: wall seconds, engine counters, GC ms, peak heap. */
  final class PhaseStat {
    var seconds = 0.0
    var runs = 0
    val spark = Array.fill(PhaseListener.Fields.size)(0L)
    var gcMs = 0L
    var heapPeakMb = 0.0
  }
  val phases = mutable.LinkedHashMap.empty[String, PhaseStat]

  /** Run `body` as one timed phase under job group `name`; returns the
    * result and the wall seconds it took. Engine and JVM counters are
    * recorded while tracing. */
  def phase[A](name: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    trace.phase = name
    listener.foreach(_.current = name)
    val before = listener.map(_.snapshot(name))
    val gc0 = Jvm.gcMs()
    if (trace.on) Jvm.resetPeak()
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: $name%s phase $s%.3f s")
    if (trace.on) {
      val st = phases.getOrElseUpdate(name, new PhaseStat)
      st.seconds += s
      st.runs += 1
      st.gcMs += Jvm.gcMs() - gc0
      st.heapPeakMb = math.max(st.heapPeakMb, Jvm.heapPeakMb())
      for (l <- listener; b <- before) {
        val after = l.snapshot(name)
        after.indices.foreach(i => st.spark(i) += after(i) - b(i))
      }
    }
    trace.phase = "other"
    listener.foreach(_.current = "none")
    (out, s)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: set up once, warm up, then whole rounds of the same
  * operations. */
abstract class Workload(val ctx: Ctx) {
  /** Generate inputs and prepare state (counted in set-up time). */
  def setup(): Unit
  /** Every timed phase once, untimed (counted in set-up time). */
  def warmUp(): Unit
  /** One round; returns its wall seconds. */
  def round(no: Int): Double
  /** End-to-end metrics over the measured rounds (round seconds given). */
  def endToEnd(rounds: Seq[Double]): Map[String, (Double, String)]
  /** Workload-specific per-layer metrics over the traced rounds. */
  def perLayer(): Map[String, Double]
  /** Traced runs only: extra passes that time single layers alone. */
  def traceLayers(no: Int): Unit = ()
  /** Forget per-round samples (after warm-up, between windows). */
  def resetSamples(): Unit
  def close(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum

  /** Data files (parquet parts) under a directory tree. */
  def partFiles(dir: java.io.File): Int =
    if (!dir.exists()) 0
    else if (dir.isFile) (if (dir.getName.startsWith("part-")) 1 else 0)
    else Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).map(partFiles).sum

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteTree)
    f.delete()
  }
}

/** JSON through the Jackson databind on Spark's classpath, apart from the
  * program's own parser: reads the HTTP responses the checks compare and
  * writes the result line and the spans. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
  def quote(s: String): String = mapper.writeValueAsString(s)
  def read(s: String): JsonNode = mapper.readTree(s)

  /** A JSON value as plain Scala: objects `Map[String, Any]`, arrays
    * `Vector[Any]`, integers `Long`, other numbers `Double`, null `null`. */
  def plain(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isObject) n.properties().asScala.map(e => e.getKey -> plain(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(plain).toVector
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else n.asText
}
