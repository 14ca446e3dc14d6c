package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Command-line settings of one benchmark run. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    out: File) {
  def deadlineNs(startNs: Long, share: Double = 1.0): Long =
    startNs + (seconds * share * 1e9).toLong
}

object Config {
  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }
}

object Stats {
  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Live heap after full collections, in MiB. The pause between them lets
    * Spark's ContextCleaner drop what the first collection left only
    * weakly reachable (shuffle and broadcast state of finished jobs).
    */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def msSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e6

  /** Collection time of every collector so far, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}

/** In-memory span recorder for the traced run: name, start, end, parent
  * span and request id. Spans are written out once, when the run ends.
  */
final class Spans {
  import Spans.Span

  private val spans = new ArrayBuffer[Span]()

  /** Time `f` as a span; `f` receives the span id for its children. */
  def apply[A](name: String, parent: Int = -1, rid: Long = -1)(f: Int => A): A = {
    val s = synchronized {
      val sp = Span(spans.size, parent, rid, name, System.nanoTime(), 0L)
      spans += sp
      sp
    }
    try f(s.id) finally s.endNs = System.nanoTime()
  }

  private def all: Seq[Span] = synchronized(spans.toList)

  /** Span duration minus the part of it its child spans cover. */
  def selfNs: Map[Int, Long] = {
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    all.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (if (b > from) sum + (b - from) else sum, math.max(reach, b))
        }._1
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def count: Int = synchronized(spans.size)

  def write(file: File): Unit = {
    val self = selfNs
    val w = new PrintWriter(file, UTF_8)
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"rid":${s.rid},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${self(s.id)}}""")
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, rid: Long, name: String,
      startNs: Long, var endNs: Long)
}

/** What one run hands back to the launcher: metrics with their sample
  * counts, per-operation attempt/failure counts and the output checks.
  */
final class Result(val workload: String) {
  import Result.{Check, Metric}

  val metrics = mutable.LinkedHashMap[String, Metric]()
  val ops = mutable.LinkedHashMap[String, (Long, Long)]()
  val checks = ArrayBuffer[Check]()
  val info = mutable.LinkedHashMap[String, String]()
  /** Wall-clock time (epoch ms) at which set-up ended and the first timed
    * operation began; the launcher counts `setup_s` up to it.
    */
  var setupDoneMs: Long = -1L

  def setupDone(): Unit = setupDoneMs = System.currentTimeMillis()

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    metrics(name) = Metric(value, unit, samples)

  def op(kind: String, attempted: Long, failed: Long): Unit = {
    val (a, f) = ops.getOrElse(kind, (0L, 0L))
    ops(kind) = (a + attempted, f + failed)
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Check(name, ok, detail)

  def toJson: String = {
    val ms = metrics.map { case (k, m) =>
      s"${Json.str(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)},\"samples\":${m.samples}}"
    }.mkString(",")
    val os = ops.map { case (k, (a, f)) =>
      s"${Json.str(k)}:{\"attempted\":$a,\"failed\":$f}" }.mkString(",")
    val cs = checks.map(c =>
      s"{\"name\":${Json.str(c.name)},\"ok\":${c.ok},\"detail\":${Json.str(c.detail)}}").mkString(",")
    val is = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    s"""{"workload":${Json.str(workload)},"setup_done_ms":$setupDoneMs,"metrics":{$ms},"ops":{$os},"checks":[$cs],"info":{$is}}"""
  }
}

object Result {
  final case class Metric(value: Double, unit: String, samples: Int)
  final case class Check(name: String, ok: Boolean, detail: String)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
