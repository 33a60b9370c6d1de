package perfbench

import java.math.BigInteger
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{EvmBlockWithTxs, EvmLog, EvmTransaction, EvmTransactionReceipt}
import graft.rpc.SimulatedCallExecutor
import graft.sources.{SimulatedBlockDataFetcher, SimulatedReceiptFetcher}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Loopback JSON-RPC node serving the engine's simulated chain
  * (`SimulatedBlockDataFetcher`, `SimulatedReceiptFetcher`,
  * `SimulatedCallExecutor`) in the public wire format. It runs as its
  * own process so its work never shares the benchmark JVM's heap or
  * threads.
  *
  * Load shaping:
  *  - every HTTP request waits `--delay-ms` before it is answered, so
  *    time on the wire is a fixed, visible share of a crawl;
  *  - every `--throttle-every`-th data request answers HTTP 429 (a
  *    request that is only `eth_blockNumber` is never throttled: the
  *    engine probes the head from the driver, outside the retrying
  *    readers);
  *  - the head is static (every block exists) until `/_ctl/head` sets
  *    it: `base` blocks exist at once and `rate` more appear per second
  *    (none with rate 0). Block n >= base is created at
  *    `t0 + (n - base + 1) / rate`.
  *
  * Control plane (never counted): `GET /_ctl/stats`, `POST /_ctl/reset`,
  * `POST /_ctl/head?base=B&rate=R` (answers the clock's `t0` in epoch
  * ms). The process prints `PORT <n>` once listening and exits when its
  * standard input closes, so it cannot outlive the benchmark.
  */
object StubMain {

  final class Counters {
    val http = new AtomicLong
    val throttled = new AtomicLong
    val entries = new AtomicLong
    val throttledEntries = new AtomicLong
    val responseBytes = new AtomicLong
    val busyNanos = new AtomicLong
    val maxInflight = new AtomicInteger
    val methods = new ConcurrentHashMap[String, AtomicLong]()
    def reset(): Unit = {
      Seq(http, throttled, entries, throttledEntries, responseBytes, busyNanos).foreach(_.set(0))
      maxInflight.set(0); methods.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val delayMs = opts.getOrElse("delay-ms", "0").toLong
    val throttleEvery = opts.getOrElse("throttle-every", "0").toLong
    val threads = opts.getOrElse("threads", "4").toInt

    val c = new Counters
    val inflight = new AtomicInteger
    val dataRequests = new AtomicLong
    // clock head: (t0 epoch ms, base, blocks per second); rate 0 = static
    @volatile var clock: (Long, Long, Double) = (0L, Long.MaxValue, 0.0)
    def height(): Long = clock match {
      case (_, base, rate) if rate <= 0 => base
      case (t0, base, rate) => base + ((System.currentTimeMillis() - t0) * rate / 1000.0).toLong
    }

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(Executors.newFixedThreadPool(threads))
    server.createContext("/_ctl/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split('&').filter(_.contains('=')).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val body = path match {
        case "/_ctl/stats" => statsJson(c)
        case "/_ctl/reset" => c.reset(); "{}"
        case "/_ctl/head" =>
          val t0 = System.currentTimeMillis()
          clock = (t0, query("base").toLong, query("rate").toDouble)
          s"""{"t0":$t0}"""
        case _ => """{"error":"unknown control path"}"""
      }
      respond(ex, 200, body.getBytes(StandardCharsets.UTF_8))
    })
    server.createContext("/", (ex: HttpExchange) => {
      val now = inflight.incrementAndGet()
      c.maxInflight.getAndUpdate(m => math.max(m, now))
      try {
        c.http.incrementAndGet()
        if (delayMs > 0) Thread.sleep(delayMs)
        val t0 = System.nanoTime()
        val req = JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val calls = req match { case JArray(rs) => rs; case o => List(o) }
        val headOnly = calls.forall(r => (r \ "method") == JString("eth_blockNumber"))
        val throttle = !headOnly && throttleEvery > 0 &&
          dataRequests.incrementAndGet() % throttleEvery == 0
        if (throttle) {
          c.throttled.incrementAndGet()
          c.throttledEntries.addAndGet(calls.size.toLong)
          c.entries.addAndGet(calls.size.toLong)
          c.busyNanos.addAndGet(System.nanoTime() - t0)
          respond(ex, 429, """{"error":"too many requests"}""".getBytes(StandardCharsets.UTF_8))
        } else {
          val h = height()
          val out = req match {
            case JArray(rs) => JArray(rs.map(dispatch(_, h, c)))
            case o => dispatch(o, h, c)
          }
          val bytes = JsonMethods.compact(JsonMethods.render(out)).getBytes(StandardCharsets.UTF_8)
          c.responseBytes.addAndGet(bytes.length.toLong)
          c.busyNanos.addAndGet(System.nanoTime() - t0)
          respond(ex, 200, bytes)
        }
      } finally inflight.decrementAndGet()
    })
    server.start()
    println(s"PORT ${server.getAddress.getPort}")
    System.out.flush()
    // the parent holds our stdin open; EOF means it is gone
    while (System.in.read() >= 0) {}
    server.stop(0)
    sys.exit(0)
  }

  private def statsJson(c: Counters): String = {
    import scala.jdk.CollectionConverters._
    val methods = c.methods.asScala.toSeq.sortBy(_._1)
      .map { case (m, n) => s""""$m":${n.get()}""" }.mkString("{", ",", "}")
    s"""{"http":${c.http.get()},"throttled":${c.throttled.get()},"entries":${c.entries.get()},""" +
      s""""throttled_entries":${c.throttledEntries.get()},"response_bytes":${c.responseBytes.get()},""" +
      s""""busy_ns":${c.busyNanos.get()},"max_inflight":${c.maxInflight.get()},"methods":$methods}"""
  }

  private def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def hexArg(params: List[JValue], i: Int): Long =
    java.lang.Long.parseLong(params(i).asInstanceOf[JString].s.stripPrefix("0x"), 16)

  private def dispatch(req: JValue, height: Long, c: Counters): JValue = {
    c.entries.incrementAndGet()
    val id = req \ "id"
    val params = req \ "params" match { case JArray(p) => p; case _ => Nil }
    def ok(v: JValue): JValue = JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> v)
    def err(code: Int, msg: String): JValue = JObject("jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject("code" -> JInt(code), "message" -> JString(msg)))
    val method = req \ "method" match { case JString(m) => m; case _ => "" }
    c.methods.computeIfAbsent(method, _ => new AtomicLong).incrementAndGet()
    method match {
      case "eth_blockNumber" => ok(qty(math.max(0L, height - 1)))
      case "eth_getBlockByNumber" =>
        val n = hexArg(params, 0)
        val full = params.lift(1).contains(JBool(true))
        if (n >= height) ok(JNull) else ok(Wire.block(SimulatedBlockDataFetcher.block(n), full))
      case "eth_getTransactionReceipt" =>
        val hash = params.head.asInstanceOf[JString].s
        val block = new BigInteger(hash.drop(4), 16).longValueExact() / 10
        if (block >= height) ok(JNull)
        else SimulatedReceiptFetcher.receiptsOf(block).find(_.transaction_hash == hash)
          .fold(ok(JNull))(r => ok(Wire.receipt(r)))
      case "eth_getLogs" =>
        val f = params.head
        def at(field: String) =
          java.lang.Long.parseLong((f \ field).asInstanceOf[JString].s.stripPrefix("0x"), 16)
        val (from, to) = (at("fromBlock"), math.min(at("toBlock"), height - 1))
        val addr = f \ "address" match { case JString(a) => Some(a); case _ => None }
        val topic0 = f \ "topics" match {
          case JArray(JString(s) :: _) => Seq(s)
          case JArray(JArray(alts) :: _) => alts.collect { case JString(s) => s }
          case _ => Nil
        }
        val logs = (from to to).iterator.flatMap(SimulatedReceiptFetcher.receiptsOf(_: Long))
          .flatMap(_.logs)
          .filter(l => addr.forall(_ == l.address) &&
            (topic0.isEmpty || l.topics.headOption.exists(topic0.contains)))
        ok(JArray(logs.map(Wire.log).toList))
      case "eth_call" =>
        val call = params.head
        val block = params.lift(1).collect {
          case JString(tag) if tag.startsWith("0x") => java.lang.Long.parseLong(tag.drop(2), 16)
        }
        SimulatedCallExecutor.answer((call \ "to").asInstanceOf[JString].s,
          (call \ "data").asInstanceOf[JString].s, block) match {
          case Some(hex) => ok(JString(hex))
          case None => err(3, "execution reverted")
        }
      case m => err(-32601, s"method not found: $m")
    }
  }

  private def qty(n: Long): JString = JString("0x" + java.lang.Long.toHexString(n))

  /** JSON encoders for the wire shapes `graft.rpc.EvmWire` parses. */
  object Wire {
    private def opt(s: Option[String]): JValue = s.fold(JNull: JValue)(JString(_))

    def tx(t: EvmTransaction): JValue = JObject(
      "blockHash" -> JString(t.block_hash), "blockNumber" -> qty(t.block_number),
      "from" -> JString(t.from_), "to" -> opt(t.to_), "gas" -> qty(t.gas),
      "gasPrice" -> qty(t.gas_price), "hash" -> JString(t.hash), "input" -> JString(t.input),
      "nonce" -> qty(t.nonce), "transactionIndex" -> qty(t.transaction_index),
      "value" -> JString("0x" + t.value), "v" -> qty(t.v), "r" -> JString(t.r),
      "s" -> JString(t.s))

    def block(b: EvmBlockWithTxs, full: Boolean): JValue = JObject(
      "number" -> qty(b.number), "hash" -> JString(b.hash),
      "parentHash" -> JString(b.parent_hash), "timestamp" -> qty(b.timestamp),
      "miner" -> JString(b.miner), "gasLimit" -> qty(b.gas_limit),
      "gasUsed" -> qty(b.gas_used), "size" -> qty(b.size),
      "difficulty" -> JString(b.difficulty),
      "transactions" -> JArray(b.transactions.toList.map(t =>
        if (full) tx(t) else JString(t.hash))),
      "uncles" -> JArray(b.uncles.toList.map(JString(_))))

    def log(l: EvmLog): JValue = JObject(
      "removed" -> JBool(l.removed), "logIndex" -> qty(l.log_index),
      "transactionIndex" -> qty(l.transaction_index),
      "transactionHash" -> JString(l.transaction_hash), "blockHash" -> JString(l.block_hash),
      "blockNumber" -> qty(l.block_number), "address" -> JString(l.address),
      "data" -> JString(l.data), "topics" -> JArray(l.topics.toList.map(JString(_))))

    def receipt(r: EvmTransactionReceipt): JValue = JObject(
      "transactionHash" -> JString(r.transaction_hash),
      "transactionIndex" -> qty(r.transaction_index), "blockHash" -> JString(r.block_hash),
      "blockNumber" -> qty(r.block_number), "from" -> JString(r.from_), "to" -> opt(r.to_),
      "cumulativeGasUsed" -> qty(r.cumulative_gas_used), "gasUsed" -> qty(r.gas_used),
      "contractAddress" -> opt(r.contract_address),
      "status" -> r.status.fold(JNull: JValue)(qty), "logs" -> JArray(r.logs.toList.map(log)),
      "logsBloom" -> JString(r.logs_bloom))
  }
}
