package graftbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.xerial.snappy.Snappy

import graft.agent.{EncryptedBatch, HttpPooledTransport, LocalProtectionAgent, RemoteProtectionAgent}
import graft.core.{CryptoCodec, PageCodec, ProtectionContext, WireFormat}
import graft.service.{ClientCredentialStore, HttpProtectionServer, ProtectionService}
import graft.service.JsonEnvelope.{DecryptResponse, EncryptResponse, ProtectRequest}

/** `service_small_pages` / `service_large_pages`: a closed loop of
  * [[Service.Clients]] client threads, each with one `RemoteProtectionAgent`
  * per page kind over one shared `HttpPooledTransport`, against an
  * in-process `HttpProtectionServer` (aes_det) on loopback. Each client
  * encrypts a page, decrypts the reply and compares it with the page, over
  * every page kind, as whole rounds.
  */
object Service {
  final val Clients = 2
  final val KeyId = "bench-key"
  final val UserId = "bench"
  final val AppContext = s"""{"user_id":"$UserId"}"""
  final val Codec = CryptoCodec.AesDet
  private val Creds = Map("client_id" -> "graft", "api_key" -> "graft-api-key")

  /** One cell of the page grid. RLE_DICTIONARY pages cannot be split into
    * values, so the service falls back to per-block encryption for them.
    */
  final case class Kind(physicalType: String, pageType: String, compression: String,
      encoding: String) {
    def name: String = s"${physicalType.toLowerCase}.${pageType.toLowerCase}." +
      s"${compression.toLowerCase}.${encoding.toLowerCase}"
    def column: String = s"c_${physicalType.toLowerCase}"
    def expectedMode: String = if (encoding == "PLAIN") "per_value" else "per_block"
    def modeKey: String =
      if (pageType == "DICTIONARY_PAGE") "encrypt_mode_dict_page" else "encrypt_mode_data_page"
  }

  val Kinds: Seq[Kind] = {
    val types = Seq("BYTE_ARRAY", "INT64")
    val comps = Seq(PageCodec.Uncompressed, PageCodec.Snappy)
    (for (t <- types; pt <- Seq("DATA_PAGE_V1", "DATA_PAGE_V2", "DICTIONARY_PAGE"); c <- comps)
      yield Kind(t, pt, c, "PLAIN")) ++
      (for (t <- types; c <- comps) yield Kind(t, "DATA_PAGE_V1", c, "RLE_DICTIONARY"))
  }

  /** A generated page: payload bytes, attributes, and its present values. */
  final case class Page(kind: Kind, bytes: Array[Byte], attrs: Map[String, String],
      numValues: Int, present: IndexedSeq[Array[Byte]])

  // ------------------------------------------------------------ generation --

  private def le32(n: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()

  private def uleb(v: Int): Array[Byte] = {
    val out = ArrayBuffer[Byte](); var x = v
    while ((x & ~0x7f) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
    out += x.toByte
    out.toArray
  }

  /** One bit-packed run of 1-bit definition levels (1 = present). */
  private def defLevels(present: Array[Boolean]): Array[Byte] = {
    val groups = (present.length + 7) / 8
    val bits = new Array[Byte](groups)
    present.indices.foreach(i => if (present(i)) bits(i / 8) = (bits(i / 8) | (1 << (i % 8))).toByte)
    uleb((groups << 1) | 1) ++ bits
  }

  private def plain(kind: Kind, vs: IndexedSeq[Array[Byte]]): Array[Byte] =
    if (kind.physicalType == "INT64") vs.toArray.flatten
    else vs.toArray.flatMap(v => le32(v.length) ++ v)

  private def compress(kind: Kind, b: Array[Byte]): Array[Byte] =
    if (kind.compression == PageCodec.Snappy) Snappy.compress(b) else b

  /** Values have a fixed length mix (8 to 32 bytes) and a fixed null count
    * per data page, so every seed gives the same amount of work.
    */
  def page(kind: Kind, n: Int, rng: SplittableRandom): Page = {
    def value(i: Int): Array[Byte] =
      if (kind.physicalType == "INT64")
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(rng.nextLong()).array()
      else Array.fill(8 + i % 25)(('a' + rng.nextInt(26)).toByte)
    val order = shuffled(n, rng)
    val dict = kind.pageType == "DICTIONARY_PAGE"
    val isPresent = Array.fill(n)(true)
    if (!dict) order.take(n / 20).foreach(i => isPresent(i) = false)
    val present = (0 until isPresent.count(identity)).map(value)
    val levels = defLevels(isPresent)
    val common = Map("page_encoding" -> kind.encoding)
    kind.pageType match {
      case "DATA_PAGE_V1" =>
        val body =
          if (kind.encoding == "PLAIN") plain(kind, present)
          else Array[Byte](8) ++ uleb(((present.size + 7) / 8 << 1) | 1) ++
            Array.fill(((present.size + 7) / 8) * 8)(rng.nextInt(256).toByte)
        Page(kind, compress(kind, le32(levels.length) ++ levels ++ body), common ++ Map(
          "page_type" -> kind.pageType, "data_page_num_values" -> n.toString,
          "data_page_max_definition_level" -> "1", "data_page_max_repetition_level" -> "0",
          "page_v1_definition_level_encoding" -> "RLE",
          "page_v1_repetition_level_encoding" -> "RLE"), n, present)
      case "DATA_PAGE_V2" =>
        Page(kind, levels ++ compress(kind, plain(kind, present)), common ++ Map(
          "page_type" -> kind.pageType, "data_page_num_values" -> n.toString,
          "data_page_max_definition_level" -> "1", "data_page_max_repetition_level" -> "0",
          "page_v2_definition_levels_byte_length" -> levels.length.toString,
          "page_v2_repetition_levels_byte_length" -> "0",
          "page_v2_num_nulls" -> (n - present.size).toString,
          "page_v2_is_compressed" -> (kind.compression != PageCodec.Uncompressed).toString),
          n, present)
      case _ =>
        Page(kind, compress(kind, plain(kind, present)), common ++ Map(
          "page_type" -> kind.pageType, "dict_page_num_values" -> n.toString), n, present)
    }
  }

  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    (n - 1 to 1 by -1).foreach { i => val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  // ---------------------------------------------------------------- clients --

  final class Client(val pages: IndexedSeq[Page], transport: HttpPooledTransport) {
    /** Set for the traced rounds: a span per operation. */
    var spans: Option[Spans] = None
    private val agents = pages.map { p =>
      val a = new RemoteProtectionAgent(transport, Creds)
      a.initPage(p.kind.column, AppContext, KeyId, p.kind.physicalType, None, p.kind.compression)
      a
    }
    val protectMs = ArrayBuffer[Double]()
    val revealMs = ArrayBuffer[Double]()
    val roundMs = ArrayBuffer[Double]()
    val last = new Array[EncryptedBatch](pages.size)
    var rounds = 0L
    var values = 0L
    var elapsedS = 0.0
    var failedProtect = 0L
    var failedReveal = 0L
    /** Wrong outputs of operations that did not fail. */
    val problems = ArrayBuffer[String]()
    /** Distinct failure messages, by page kind and direction. */
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    private def timed[A](name: String, sink: ArrayBuffer[Double], rid: Long)(f: => A): A = {
      val t = System.nanoTime()
      val a = spans.fold(f)(s => s(name, rid = rid)(_ => f))
      sink += Stats.msSince(t)
      a
    }

    /** Starts a new measurement; wrong outputs seen so far are kept. */
    def reset(): Unit = {
      protectMs.clear(); revealMs.clear(); roundMs.clear()
      rounds = 0; values = 0; elapsedS = 0; failedProtect = 0; failedReveal = 0
    }

    /** Encrypt then decrypt every page once, checking each reply. A failed
      * encrypt counts its decrypt as failed too, so every round attempts
      * the same operations.
      */
    def round(): Unit = {
      val start = System.nanoTime()
      pages.indices.foreach { k =>
        val p = pages(k)
        try {
          val enc = timed("service.protect", protectMs, rounds)(agents(k).encryptPage(p.bytes, p.attrs))
          values += p.numValues
          last(k) = enc
          val mode = enc.metadata.getOrElse(p.kind.modeKey, "<none>")
          if (mode != p.kind.expectedMode)
            problems += s"${p.kind.name}: mode $mode, expected ${p.kind.expectedMode}"
          try {
            val dec = timed("service.reveal", revealMs, rounds)(agents(k).decryptPage(enc, p.attrs))
            values += p.numValues
            if (!java.util.Arrays.equals(dec, p.bytes))
              problems += s"${p.kind.name}: decrypted page differs from the generated page"
          } catch {
            case e: Exception => failedReveal += 1; errors(s"decrypt ${p.kind.name}") = e.getMessage
          }
        } catch {
          case e: Exception =>
            failedProtect += 1; failedReveal += 1; errors(s"encrypt ${p.kind.name}") = e.getMessage
        }
      }
      roundMs += Stats.msSince(start)
      rounds += 1
    }
  }

  /** Every client starts a new measurement and runs whole rounds on its own
    * thread until the deadline.
    */
  private def closedLoop(clients: Seq[Client], deadlineNs: Long): Unit = {
    clients.foreach(_.reset())
    val start = System.nanoTime()
    val threads = clients.map { c =>
      new Thread(() => {
        do c.round() while (System.nanoTime() < deadlineNs)
        c.elapsedS = (System.nanoTime() - start) / 1e9
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Server, transport and the clients whose agents the warm-up initialised. */
  final class State(val store: ClientCredentialStore, val service: ProtectionService,
      val server: HttpProtectionServer, val transport: HttpPooledTransport,
      val clients: Seq[Client]) {
    def stop(): Unit = { transport.shutdown(); server.stop() }
  }

  private def setUp(cfg: Config, valuesPerPage: Int): State = {
    val pages = (0 until Clients).map { c =>
      val rng = new SplittableRandom(cfg.seed * 1000003L + c)
      Kinds.map(k => page(k, valuesPerPage, rng)).toIndexedSeq
    }
    val store = new ClientCredentialStore("graftbench-jwt-secret")
    store.init(Map(Creds("client_id") -> Creds("api_key")))
    val service = new ProtectionService(store, Codec)
    val server = new HttpProtectionServer(service).start()
    val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
    val clients = pages.map(ps => new Client(ps, transport))
    closedLoop(clients, 0L) // warm-up: one round per client, tokens fetched
    new State(store, service, server, transport, clients)
  }

  def run(cfg: Config, valuesPerPage: Int): Result = {
    val r = new Result(cfg.workload)
    val st = setUp(cfg, valuesPerPage)
    r.setupDone()
    r.info("page_kinds") = Kinds.size.toString
    r.info("values_per_page") = valuesPerPage.toString
    try {
      if (cfg.trace) traced(cfg, st, r) else timed(cfg, st, r)
    } finally st.stop()
    r
  }

  private def timed(cfg: Config, st: State, r: Result): Unit = {
    val clients = st.clients
    val gc0 = Stats.gcMs()
    closedLoop(clients, cfg.deadlineNs(System.nanoTime()))
    r.info("gc_ms_timed") = (Stats.gcMs() - gc0).toString
    r.info("round_p50_ms") = clients.head.protectMs.grouped(Kinds.size)
      .map(g => f"${Stats.median(g)}%.1f").mkString(" ")
    val protectMs = clients.flatMap(_.protectMs)
    val revealMs = clients.flatMap(_.revealMs)
    // each client's values over its own timed wall time, summed: the
    // client that finishes its last round first does not dilute the rate
    r.metric("values_per_s", clients.map(c => c.values / c.elapsedS).sum, "values/s",
      protectMs.size + revealMs.size)
    r.metric("protect_p50_ms", Stats.median(protectMs), "ms", protectMs.size)
    r.metric("reveal_p50_ms", Stats.median(revealMs), "ms", revealMs.size)
    val roundS = clients.flatMap(_.roundMs).map(_ / 1000)
    r.metric("sweep_s", Stats.median(roundS), "s", roundS.size)
    if (protectMs.size >= 1000 && revealMs.size >= 1000) {
      r.info("protect_p99_ms") = f"${Stats.quantile(protectMs, 0.99)}%.4f (n=${protectMs.size})"
      r.info("reveal_p99_ms") = f"${Stats.quantile(revealMs, 0.99)}%.4f (n=${revealMs.size})"
    }
    r.metric("heap_live_mb", Stats.heapLiveMb(), "MB", 1)
    val c0 = clients.head
    r.metric("stored_bytes_ratio",
      c0.last.map(_.payload.length.toLong).sum.toDouble / c0.pages.map(_.bytes.length.toLong).sum,
      "ratio", c0.pages.size)
    count(clients, r)
    verify(clients, r)
  }

  /** Attempt/failure counts of the last closed loop. */
  private def count(clients: Seq[Client], r: Result): Unit = {
    r.op("protect", clients.map(c => c.rounds * c.pages.size).sum, clients.map(_.failedProtect).sum)
    r.op("reveal", clients.map(c => c.rounds * c.pages.size).sum, clients.map(_.failedReveal).sum)
    r.info("rounds_per_client") = clients.map(_.rounds).mkString(" ")
  }

  /** The output checks over everything the clients have done. */
  private def verify(clients: Seq[Client], r: Result): Unit = {
    clients.flatMap(_.errors).toMap.toSeq.sorted.zipWithIndex.foreach { case ((op, msg), i) =>
      r.info(f"failure_$i%02d") = s"$op: $msg"
    }
    val problems = clients.flatMap(_.problems)
    r.check("service.pages_round_trip_and_modes", problems.isEmpty,
      s"${problems.size} problems${problems.headOption.fold("")(": " + _)}")
    val bad = clients.flatMap(c => c.pages.indices.flatMap(k => recompute(c.pages(k), c.last(k))))
    r.check("service.aes_det_recompute", bad.isEmpty,
      s"${bad.size} sampled values differ from javax.crypto AES-SIV${bad.headOption.fold("")(": " + _)}")
  }

  /** Re-derives sampled value ciphertexts of a per-value page from the
    * generated values with javax.crypto, parsing the page ciphertext as
    * `[u32 level_len][levels][value list]`.
    */
  private def recompute(p: Page, enc: EncryptedBatch): Seq[String] = {
    if (p.kind.expectedMode != "per_value" || enc == null) return Nil
    val b = ByteBuffer.wrap(enc.payload).order(ByteOrder.LITTLE_ENDIAN)
    b.position(4 + b.getInt(0))
    val tag = b.get()
    val count = b.getInt()
    if (count != p.present.size) return Seq(s"${p.kind.name}: $count values, expected ${p.present.size}")
    val fixed = if (tag == 1) b.getInt() else -1
    val elems = (0 until count).map { _ =>
      val e = new Array[Byte](if (fixed >= 0) fixed else b.getInt()); b.get(e); e
    }
    val siv = new IndependentAes.Siv(s"$KeyId:${p.kind.column}:$UserId:$AppContext")
    Seq(0, count / 3, count / 2, count - 1).distinct.filterNot { i =>
      java.util.Arrays.equals(elems(i), siv.encrypt(p.present(i)))
    }.map(i => s"${p.kind.name} value $i")
  }

  // ----------------------------------------------------------------- traced --

  /** Per-layer run: the closed loop untraced and then with a span per
    * request (their difference is the tracing overhead), then a walk that
    * sends each request to the service in process, and through the
    * service's steps one by one. The HTTP layer is the untraced closed
    * loop's median call minus the in-process median: a lone request after
    * idle time would not show the delayed-ACK stall the loop sees.
    */
  private def traced(cfg: Config, st: State, r: Result): Unit = {
    val spans = new Spans
    val start = System.nanoTime()
    val clients = st.clients
    closedLoop(clients, cfg.deadlineNs(start, 0.25))
    val plainP50 = Stats.median(clients.flatMap(_.protectMs))
    val httpCalls = clients.flatMap(c => c.protectMs ++ c.revealMs)
    count(clients, r)
    clients.foreach(_.spans = Some(spans))
    closedLoop(clients, cfg.deadlineNs(start, 0.5))
    val traced = clients.flatMap(_.protectMs)
    r.metric("trace.overhead_pct", 100.0 * (Stats.median(traced) / plainP50 - 1), "%", traced.size)
    r.metric("agent.connections_created", st.transport.connectionsCreated.toDouble, "count", 1)
    count(clients, r)
    verify(clients, r)

    val client = clients.head
    val bearer = "Bearer " + st.store.generateJwt(Creds("client_id"), Creds("api_key")).get._1
    val headers = Map("Authorization" -> bearer, "Content-Type" -> "application/json")
    val steps = ArrayBuffer[Map[String, Double]]()
    var wireBytes = 0L
    var wireValues = 0L
    var rid = 0L
    do {
      client.pages.indices.foreach { k =>
        val p = client.pages(k)
        Seq(true, false).foreach { encrypt =>
          rid += 1
          spans("service.walk", rid = rid) { root =>
            val step = new Step(spans, root, rid, scala.collection.mutable.Map())
            val enc = client.last(k)
            val body = request(p, encrypt, enc).toJson
            val resp = step("inproc")(
              st.service.post(if (encrypt) "/encrypt" else "/decrypt", body, headers))
            require(resp.status == 200, s"in-process ${p.kind.name}: ${resp.body}")
            wireBytes += body.length + resp.body.length
            wireValues += p.numValues
            step.nest("replay")(replay(p, encrypt, body, bearer, st, _))
            if (p.kind.expectedMode == "per_value")
              step.nest("sequencer_parts")(parts(p, encrypt, enc, _))
            steps += step.ms.toMap
          }
        }
      }
    } while (System.nanoTime() < cfg.deadlineNs(start))

    def layer(name: String, unit: String, scale: Double, f: Map[String, Double] => Option[Double]): Unit = {
      val xs = steps.flatMap(f(_)).map(_ * scale)
      r.metric(name, Stats.median(xs), unit, xs.size)
    }
    r.metric("service.http_ms", Stats.median(httpCalls) - Stats.median(steps.map(_("inproc"))),
      "ms", httpCalls.size)
    layer("service.envelope_ms", "ms", 1, s => Some(s("inproc") - s("sequencer")))
    layer("service.parse_us", "us", 1000, _.get("parse"))
    layer("service.render_us", "us", 1000, _.get("render"))
    layer("service.auth_us", "us", 1000, _.get("auth"))
    layer("agent.init_us", "us", 1000, _.get("init"))
    layer("pipeline.sequencer_ms", "ms", 1, _.get("sequencer"))
    layer("core.page_split_us", "us", 1000, _.get("page_split"))
    layer("core.value_list_us", "us", 1000, _.get("value_list"))
    r.metric("service.wire_bytes_per_value", wireBytes.toDouble / wireValues, "B/value", steps.size)
    r.info("spans") = spans.count.toString
    spans.write(new File(cfg.work, "spans.jsonl"))
  }

  /** Times calls as spans under `parent`, keeping each one's duration. */
  private final class Step(spans: Spans, parent: Int, rid: Long,
      val ms: scala.collection.mutable.Map[String, Double]) {
    def apply[A](name: String)(f: => A): A = nest(name)(_ => f)

    /** A span whose calls, timed with the `Step` it receives, are its children. */
    def nest[A](name: String)(f: Step => A): A = {
      val t = System.nanoTime()
      try spans(name, parent, rid)(id => f(new Step(spans, id, rid, ms)))
      finally ms(name) = Stats.msSince(t)
    }
  }

  private def request(p: Page, encrypt: Boolean, enc: EncryptedBatch): ProtectRequest =
    ProtectRequest(encrypt = encrypt, columnName = p.kind.column,
      datatype = Some(p.kind.physicalType), datatypeLength = None, datatypeLengthStr = "",
      compression = Some(p.kind.compression), encoding = Some(p.kind.encoding),
      encodingAttributes = p.attrs, encryptedCompression = Some(RemoteProtectionAgent.Compression),
      keyId = KeyId, userId = UserId, applicationContext = AppContext, referenceId = "1",
      value = if (encrypt) p.bytes else enc.payload,
      encryptionMetadata = if (encrypt) Map.empty else enc.metadata)

  /** The service's request handling, one public call per step. */
  private def replay(p: Page, encrypt: Boolean, body: String, bearer: String, st: State,
      step: Step): Unit = {
    val req = step("parse")(ProtectRequest.parse(body, encrypt))
    require(step("auth")(st.store.verifyTokenForEndpoint(bearer)) == None, "token rejected")
    val agent = step("init")(LocalProtectionAgent.initPage(req.keyId, req.columnName,
      req.datatype.get, req.datatypeLength, req.compression.get, Codec, req.userId,
      req.applicationContext))
    if (encrypt) {
      val out = step("sequencer")(agent.encryptPage(req.value, req.encodingAttributes))
      step("render")(EncryptResponse(req.encryptedCompression.get, out.payload, req.userId,
        ProtectionService.Role, ProtectionService.AccessControl, req.referenceId, out.metadata).toJson)
    } else {
      val out = step("sequencer")(agent.decryptPage(
        EncryptedBatch(req.value, req.encryptionMetadata), req.encodingAttributes))
      step("render")(DecryptResponse(req.datatype.get, req.datatypeLength, req.compression.get,
        req.encoding.get, out, req.userId, ProtectionService.Role,
        ProtectionService.AccessControl, req.referenceId).toJson)
    }
  }

  /** The sequencer's per-value work, one public call per step: page split
    * (or join on decrypt) and the value-list cipher.
    */
  private def parts(p: Page, encrypt: Boolean, enc: EncryptedBatch, step: Step): Unit = {
    val codec = CryptoCodec(Codec, ProtectionContext(KeyId, p.kind.column, UserId, AppContext))
    val attrs = PageCodec.parseAttributes(p.attrs)
    val width = PageCodec.fixedWidth(p.kind.physicalType, None)
    if (encrypt) {
      val typed = step("page_split") {
        val lvb = PageCodec.decompressAndSplit(p.bytes, p.kind.compression, attrs)
        PageCodec.splitValueBytes(lvb.valueBytes, lvb.numElements, p.kind.physicalType, None,
          attrs.pageEncoding)
      }
      step("value_list")(WireFormat.encryptValueList(codec, typed, width))
    } else {
      val (levels, values) = WireFormat.splitWithLengthPrefix(enc.payload)
      val typed = step("value_list")(WireFormat.decryptValueList(codec, values))
      step("page_split")(PageCodec.compressAndJoin(codec.decrypt(levels),
        PageCodec.joinValueBytes(typed, p.kind.physicalType, None), p.kind.compression, attrs))
    }
  }
}
