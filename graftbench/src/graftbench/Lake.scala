package graftbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellCryptor, CryptoCodec, ProtectionContext, ValueSerde}
import graft.pipeline.{ColumnPolicy, PerBlock, PerValue, ProtectionPipeline}
import graft.queries.{GraftSession, GraftTables}

/** `lake_roundtrip`: the generated `lineitem` (one parquet file, one row
  * group) is protected to parquet and read back and decrypted, as whole
  * rounds, for the run's duration.
  */
object Lake {
  /** Covers every codec, both modes, fixed- and variable-width types. */
  val Policies: Seq[ColumnPolicy] = Seq(
    ColumnPolicy("l_orderkey", "k-orderkey", PerValue, CryptoCodec.Xor),
    ColumnPolicy("l_returnflag", "k-returnflag", PerValue, CryptoCodec.Xor),
    ColumnPolicy("l_partkey", "k-partkey", PerBlock, CryptoCodec.Xor),
    ColumnPolicy("l_extendedprice", "k-price", PerValue, CryptoCodec.AesDet),
    ColumnPolicy("l_linestatus", "k-status", PerValue, CryptoCodec.AesDet),
    ColumnPolicy("l_shipdate", "k-shipdate", PerValue, CryptoCodec.AesRnd))

  /** Distinct source values recomputed with an independent AES-SIV per aes_det column. */
  final val AesSample = 2000

  private final class Paths(work: File) {
    val source: String = work.getPath // holds lineitem.parquet
    val warm: String = new File(work, "warm").getPath // its first rows
    val warmProtected: String = new File(work, "warm_protected").getPath
    val protectedDir: String = new File(work, "protected").getPath
    val plainDir: String = new File(work, "plain").getPath
    val revealedDir: String = new File(work, "revealed").getPath
    val traceDir: String = new File(work, "protected_trace").getPath
  }

  private def read(s: SparkSession, p: Paths): DataFrame =
    GraftTables.read(s, p.source, "lineitem")

  private def protect(s: SparkSession, p: Paths, dst: String): Unit =
    protectFrom(s, p.source, dst)

  private def protectFrom(s: SparkSession, dir: String, dst: String): Unit =
    ProtectionPipeline.encrypt(GraftTables.read(s, dir, "lineitem"), Policies)
      .write.mode("overwrite").parquet(dst)

  private def reveal(s: SparkSession, src: String): Unit =
    noop(ProtectionPipeline.decrypt(s.read.parquet(src)))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def parquetBytes(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

  def run(cfg: Config): Result = {
    val r = new Result(cfg.workload)
    val p = new Paths(cfg.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val s = GraftSession.builder(s"local[$cores]").getOrCreate()
    // warm-up round on the first tenth of the table: same plans and code
    // paths, a tenth of the work
    protectFrom(s, p.warm, p.warmProtected)
    reveal(s, p.warmProtected)
    r.setupDone()
    try {
      if (cfg.trace) traced(cfg, s, p, r) else timed(cfg, s, p, r)
      checks(s, p, r)
    } finally s.stop()
    r
  }

  /** Untraced rounds until `share` of the run's time is spent. */
  private def rounds(cfg: Config, s: SparkSession, p: Paths, r: Result,
      share: Double): (Seq[Double], Seq[Double], Double) = {
    val protectMs = ArrayBuffer[Double]()
    val revealMs = ArrayBuffer[Double]()
    val start = System.nanoTime()
    val deadline = cfg.deadlineNs(start, share)
    var failed = (0L, 0L)
    do {
      val t = System.nanoTime()
      try { protect(s, p, p.protectedDir); protectMs += Stats.msSince(t) }
      catch { case e: Exception => failed = (failed._1 + 1, failed._2); r.info("protect_error") = e.toString }
      val t2 = System.nanoTime()
      try { reveal(s, p.protectedDir); revealMs += Stats.msSince(t2) }
      catch { case e: Exception => failed = (failed._1, failed._2 + 1); r.info("reveal_error") = e.toString }
    } while (System.nanoTime() < deadline)
    val wallS = (System.nanoTime() - start) / 1e9
    r.op("protect", protectMs.size + failed._1, failed._1)
    r.op("reveal", revealMs.size + failed._2, failed._2)
    (protectMs.toSeq, revealMs.toSeq, wallS)
  }

  private def timed(cfg: Config, s: SparkSession, p: Paths, r: Result): Unit = {
    val rowCount = read(s, p).count()
    val gc0 = Stats.gcMs()
    val (protectMs, revealMs, wallS) = rounds(cfg, s, p, r, 1.0)
    r.info("gc_ms_timed") = (Stats.gcMs() - gc0).toString
    val values = (protectMs.size + revealMs.size).toDouble * rowCount * Policies.size
    r.metric("values_per_s", values / wallS, "values/s", protectMs.size + revealMs.size)
    r.metric("protect_p50_ms", Stats.median(protectMs), "ms", protectMs.size)
    r.metric("reveal_p50_ms", Stats.median(revealMs), "ms", revealMs.size)
    val sweeps = protectMs.zip(revealMs).map { case (a, b) => (a + b) / 1000 }
    r.metric("sweep_s", Stats.median(sweeps), "s", sweeps.size)
    r.info("protect_each_ms") = protectMs.map(t => f"$t%.0f").mkString(" ")
    r.info("reveal_each_ms") = revealMs.map(t => f"$t%.0f").mkString(" ")
    r.metric("heap_live_mb", Stats.heapLiveMb(), "MB", 1)
    s.read.parquet(p.source + "/lineitem.parquet").write.mode("overwrite").parquet(p.plainDir)
    r.metric("stored_bytes_ratio",
      parquetBytes(p.protectedDir).toDouble / parquetBytes(p.plainDir), "ratio", 1)
  }

  /** Task tallies of the actions run between two `reset` calls. */
  private final class TaskTally extends SparkListener {
    var tasks = 0L; var runMs = 0L; var maxMs = 0L; var gcMs = 0L; var written = 0L
    def reset(): Unit = synchronized { tasks = 0; runMs = 0; maxMs = 0; gcMs = 0; written = 0 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      maxMs = math.max(maxMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime; gcMs += m.jvmGCTime; written += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Per-layer run: untraced rounds, the same rounds with the listener and
    * spans on (their difference is the tracing overhead), then the layer
    * walk and the cell-level loops.
    */
  private def traced(cfg: Config, s: SparkSession, p: Paths, r: Result): Unit = {
    val spans = new Spans
    val start = System.nanoTime()
    val (plainProtect, _, _) = rounds(cfg, s, p, r, 0.25)
    val tally = new TaskTally
    s.sparkContext.addSparkListener(tally)
    val perCall = ArrayBuffer[(Long, Long, Long, Long, Long, Double)]()
    var rid = 0L
    val tracedProtect = ArrayBuffer[Double]()
    val afterTracedDeadline = cfg.deadlineNs(start, 0.5)
    do {
      rid += 1
      ListenerBus.drain(s.sparkContext); tally.reset()
      val t = System.nanoTime()
      spans("lake.protect", rid = rid)(_ => protect(s, p, p.protectedDir))
      val wall = Stats.msSince(t)
      tracedProtect += wall
      ListenerBus.drain(s.sparkContext)
      tally.synchronized {
        perCall += ((tally.tasks, tally.runMs, tally.maxMs, tally.gcMs, tally.written, wall))
      }
      spans("lake.reveal", rid = rid)(_ => reveal(s, p.protectedDir))
    } while (System.nanoTime() < afterTracedDeadline)
    s.sparkContext.removeSparkListener(tally)
    r.op("protect", tracedProtect.size, 0)
    r.op("reveal", tracedProtect.size, 0)
    r.metric("trace.overhead_pct",
      100.0 * (Stats.median(tracedProtect) / Stats.median(plainProtect) - 1), "%", tracedProtect.size)
    r.metric("spark.tasks", Stats.median(perCall.map(_._1.toDouble)), "count", perCall.size)
    r.metric("spark.busy_cores", Stats.median(perCall.map(c => c._2 / c._6)), "cores", perCall.size)
    r.metric("spark.max_task_ms", Stats.median(perCall.map(_._3.toDouble)), "ms", perCall.size)
    r.metric("spark.gc_ms", Stats.median(perCall.map(_._4.toDouble)), "ms", perCall.size)
    r.metric("spark.bytes_written_mb",
      Stats.median(perCall.map(_._5 / 1048576.0)), "MB", perCall.size)

    // Layer walk: each layer is the difference of two whole-table calls.
    val walks = ArrayBuffer[Map[String, Double]]()
    do {
      rid += 1
      spans("lake.walk", rid = rid) { root =>
        def t(name: String)(f: => Unit): (String, Double) = {
          val t0 = System.nanoTime(); spans(name, root, rid)(_ => f); name -> Stats.msSince(t0)
        }
        walks += Map(
          t("scan")(noop(read(s, p))),
          t("encrypt_noop")(noop(ProtectionPipeline.encrypt(read(s, p), Policies))),
          t("encrypt_parquet")(protect(s, p, p.traceDir)),
          t("read")(noop(s.read.parquet(p.traceDir))),
          t("decrypt_noop")(noop(ProtectionPipeline.decrypt(s.read.parquet(p.traceDir)))))
      }
    } while (System.nanoTime() < cfg.deadlineNs(start))
    walks.head.keys.foreach { k =>
      r.info(s"walk_each_ms.$k") = walks.map(w => f"${w(k)}%.0f").mkString(" ")
    }
    def layer(name: String, f: Map[String, Double] => Double): Unit =
      r.metric(name, Stats.median(walks.map(f)), "ms", walks.size)
    layer("spark.scan_ms", _("scan"))
    layer("functions.encrypt_ms", w => w("encrypt_noop") - w("scan"))
    layer("spark.write_ms", w => w("encrypt_parquet") - w("encrypt_noop"))
    layer("spark.read_ms", _("read"))
    layer("functions.decrypt_ms", w => w("decrypt_noop") - w("read"))
    cellLoops(s, p, r, spans, rid + 1)
    r.info("spans") = spans.count.toString
    spans.write(new File(cfg.work, "spans.jsonl"))
  }

  private def typeName(dt: DataType): String = dt match {
    case LongType => "long"
    case StringType => "string"
    case DoubleType => "double"
    case TimestampType => "timestamp"
    case other => other.typeName
  }

  /** Catalyst values of the policy columns, in source order. */
  private def columnValues(s: SparkSession, p: Paths): Map[String, (DataType, Array[Any])] = {
    val df = read(s, p).select(Policies.map(x => org.apache.spark.sql.functions.col(x.column)): _*)
    val rows = df.collect()
    df.schema.fields.zipWithIndex.map { case (f, i) =>
      val conv: Any => Any = f.dataType match {
        case StringType => v => UTF8String.fromString(v.asInstanceOf[String])
        case TimestampType => v => DateTimeUtils.fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp])
        case _ => identity
      }
      f.name -> (f.dataType, rows.map(row => conv(row.get(i))))
    }.toMap
  }

  /** `CellCryptor` and `ValueSerde` called per value over each column. */
  private def cellLoops(s: SparkSession, p: Paths, r: Result, spans: Spans, rid: Long): Unit = {
    val cols = columnValues(s, p)
    val passes = 3
    spans("core.walk", rid = rid) { root =>
      Policies.foreach { pol =>
        val (dt, vs) = cols(pol.column)
        val c = CellCryptor(dt, ProtectionContext(pol.keyId, pol.column), pol.codec,
          perValue = pol.mode == PerValue)
        val tag = s"${typeName(dt)}.${pol.codec}.${pol.mode.name}"
        val enc = ArrayBuffer[Double](); val dec = ArrayBuffer[Double]()
        (1 to passes).foreach { _ =>
          val cells = new Array[Array[Byte]](vs.length)
          var t = System.nanoTime()
          spans(s"core.encrypt.$tag", root, rid) { _ =>
            var i = 0; while (i < vs.length) { cells(i) = c.encryptCell(vs(i)); i += 1 }
          }
          enc += (System.nanoTime() - t).toDouble / vs.length
          t = System.nanoTime()
          spans(s"core.decrypt.$tag", root, rid) { _ =>
            var i = 0; while (i < cells.length) { c.decryptCell(cells(i)); i += 1 }
          }
          dec += (System.nanoTime() - t).toDouble / vs.length
        }
        r.metric(s"core.encrypt_ns.$tag", Stats.median(enc), "ns", vs.length * passes)
        r.metric(s"core.decrypt_ns.$tag", Stats.median(dec), "ns", vs.length * passes)
      }
      Policies.map(pol => cols(pol.column)).groupBy(x => typeName(x._1)).foreach {
        case (name, group) =>
          val (dt, vs) = group.head
          val per = (1 to passes).map { _ =>
            val t = System.nanoTime()
            spans(s"core.serde.$name", root, rid) { _ =>
              var i = 0
              while (i < vs.length) { ValueSerde.deserialize(dt, ValueSerde.serialize(dt, vs(i))); i += 1 }
            }
            (System.nanoTime() - t).toDouble / vs.length
          }
          r.metric(s"core.serde_ns.$name", Stats.median(per), "ns", vs.length * passes)
      }
    }
  }

  /** JVM-side checks: the revealed table is written once for the launcher's
    * DuckDB compare, and for each aes_det column the cells of up to
    * [[AesSample]] distinct source values are recomputed with javax.crypto.
    * Each recomputed cell must occur in the protected column exactly as
    * often as its plaintext occurs in the source, so the check does not
    * depend on the order in which the program writes the rows.
    */
  private def checks(s: SparkSession, p: Paths, r: Result): Unit = {
    ProtectionPipeline.decrypt(s.read.parquet(p.protectedDir))
      .write.mode("overwrite").parquet(p.revealedDir)
    val source = s.read.parquet(p.source + "/lineitem.parquet")
    val prot = s.read.parquet(p.protectedDir)
    Policies.filter(_.codec == CryptoCodec.AesDet).foreach { pol =>
      val dt = source.schema(pol.column).dataType
      val plainCounts = source.groupBy(pol.column).count().collect()
        .map(row => row.get(0) -> row.getLong(1)).toMap
      val cellCounts = prot.groupBy(pol.column).count().collect()
        .map(row => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](0)) -> row.getLong(1)).toMap
      val siv = new IndependentAes.Siv(s"${pol.keyId}:${pol.column}::")
      val mode: Byte = if (pol.mode == PerBlock) 0x02 else if (dt != StringType) 0x11 else 0x10
      // the first distinct values in the source file's order
      val sample = source.select(pol.column).limit(AesSample * 4).collect()
        .map(_.get(0)).distinct.take(AesSample)
      val bad = sample.count { v =>
        val plain = dt match {
          case DoubleType =>
            ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
              .putLong(java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])).array()
          case StringType => v.asInstanceOf[String].getBytes(UTF_8)
          case other => sys.error(s"no independent encoding for $other")
        }
        val want = IndependentAes.cell(mode, plain, siv.encrypt(plain))
        cellCounts.getOrElse(ByteBuffer.wrap(want), 0L) != plainCounts(v)
      }
      r.check(s"lake.aes_det_recompute.${pol.column}", bad == 0,
        s"$bad of ${sample.length} sampled plaintexts: javax.crypto AES-SIV cell not found " +
          "in the protected column as often as the plaintext in the source")
    }
  }
}
