package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark entry point. One run = one workload, one seed:
  *
  * {{{
  * perfbench.BenchMain --workload pipeline --seed 3 --seconds 30 --trace 0 --work DIR --pins FILE --data DIR
  * }}}
  *
  * Set-up (session start, warm-up, stub start) is repeated
  * [[SetupRepeats]] times; `setup_s` is their median plus the
  * workload's own warm-up on the final session. The last stdout line
  * is the result object; the line before it carries the workload's own
  * figures (`detail`). Exit status 1 means an output check failed.
  */
object BenchMain {
  val Slots = 4
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: String, pins: String, data: String, throttleEvery: Option[Long])

  /** Each workload's set-up (repeated session start plus its warm-up)
    * and its timed phase. */
  val Workloads: Map[String, (Ctx => Unit, Ctx => WorkResult)] = Map(
    "pipeline" -> (Pipeline.setUp _, Pipeline.run _),
    "queries" -> (Queries.setUp _, Queries.run _))

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("pins", ""), m.getOrElse("data", ""),
      m.get("throttle-every").map(_.toLong))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload} " +
        s"(one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val code = try run(a, w._1, w._2) catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] run aborted: $t")
        t.printStackTrace()
        3
    }
    sys.exit(code)
  }

  private val bootNs = System.nanoTime()
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - bootNs) / 1e9}%.1f s $msg")

  def run(a: Args, setUp: Ctx => Unit, work: Ctx => WorkResult): Int = {
    note("start")
    val cpu0 = CpuTicks.read()
    val workDir = new File(a.work).getAbsoluteFile
    val runDir = new File(workDir, s"run/${a.workload}")
    deleteTree(runDir); runDir.mkdirs()
    val spin = hostSpin()
    val trace = new Trace(a.traced)
    val ctx = new Ctx(a, workDir, runDir, trace)

    setUp(ctx)
    val setups = ctx.setupRunsS
    val warmUpS = ctx.warmUpS
    val setupS = Stats.median(setups) + warmUpS
    note("set-up done")

    val t0 = System.nanoTime()
    val res = trace.span(s"workload:${a.workload}", req = 1L)(work(ctx))
    val timedS = (System.nanoTime() - t0) / 1e9
    ctx.heap.sample()
    note("timed phase done")

    val passS = Stats.median(res.passS)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "item_p50_ms" -> (Stats.pct(res.itemsMs, 50), "ms"),
      "item_p90_ms" -> (Stats.pct(res.itemsMs, 90), "ms"))
    val resultsDir = new File(workDir, "results"); resultsDir.mkdirs()
    val tag = s"${a.workload}-seed${a.seed}"
    val metrics =
      if (!a.traced) e2e
      else {
        val layer = Layers.compute(ctx, res, timedS, passS, resultsDir) ++ Seq(
          "trace.pass_s" -> (passS, "s"),
          "trace.overhead_frac" -> (Layers.overhead(resultsDir, a.workload, passS), "ratio"))
        trace.writeJsonl(new File(resultsDir, s"$tag-spans.jsonl").getPath)
        layer
      }
    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.traced) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "host_spin_s" -> Json.num(spin), "host_steal_frac" -> Json.num(CpuTicks.stealFrac(cpu0)),
      "timed_s" -> Json.num(timedS),
      "passes" -> res.passS.size.toString, "items" -> res.itemsMs.size.toString,
      "setup_runs_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "warm_up_s" -> Json.num(warmUpS),
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, _)) => k -> Json.num(v) })) ++
      res.detail.map { case (k, v) => k -> v } ++
      res.checks.map { case (k, ok) => s"check.$k" -> ok.toString })
    val correct = res.checks.forall(_._2) && res.failed == 0
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, res.attempted).toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    java.nio.file.Files.writeString(new File(resultsDir,
      s"$tag-trace${if (a.traced) 1 else 0}.json").toPath, s"""{"detail":$detail,"result":$line}""")

    ctx.spark.stop()
    ctx.stub.foreach(_.stop())
    deleteTree(runDir)
    note("stopped")
    res.checks.filterNot(_._2).foreach { case (k, _) => System.err.println(s"[perfbench] check failed: $k") }
    println(s"""{"detail":$detail}""")
    println(line)
    if (correct) 0 else 1
  }

  /** Single-threaded integer spin (40M xorshift steps, best of 3): a
    * pure function of core speed and current host load, recorded with
    * every result so load can be read from the artifact alone. */
  def hostSpin(): Double = {
    var best = Double.MaxValue
    var sink = 0L
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink ^= x
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (sink == 42L) System.err.print("")
    best
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()
}

/** Per-run state shared by set-up and the workload. */
final class Ctx(val args: BenchMain.Args, val work: File, val runDir: File, val trace: Trace) {
  var spark: SparkSession = _
  var stub: Option[StubProc] = None
  var setupRunsS: Seq[Double] = Nil
  var warmUpS = 0.0
  val heap = new HeapMonitor(args.traced)

  /** Starts the stub (when `startStub` gives one) and a session with
    * its common warm-up, [[BenchMain.SetupRepeats]] times, timing each;
    * the last session and stub stay up for the workload. */
  def startSession(startStub: => Option[StubProc]): Unit =
    setupRunsS = (1 to BenchMain.SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val st = startStub
      val s = Session.create(work)
      Session.warmUp(s)
      st.foreach(_.awaitPort())
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < BenchMain.SetupRepeats) { s.stop(); st.foreach(_.stop()) }
      else { spark = s; stub = st }
      sec
    }

  /** The workload's own warm-up on the final session; its time is part
    * of `setup_s`, so work moved into it still shows. */
  def warmUp(body: => Unit): Unit = warmUpS = Workloads.timed(body)._2
  /** The seed's random stream (mixed first: java.util.Random's first
    * draws are nearly equal for nearby seeds). */
  def rng: scala.util.Random = new scala.util.Random(new java.util.SplittableRandom(args.seed).nextLong())
  def dir(name: String): String = new File(runDir, name).getPath
}

/** What a workload run produced. `passS`: wall time of each full pass;
  * `itemsMs`: latency of each item (a CLI call, a block, a query). */
final case class WorkResult(passS: Seq[Double], itemsMs: Seq[Double], attempted: Long,
    failed: Long, checks: Seq[(String, Boolean)], detail: Seq[(String, String)],
    layer: Map[String, Double] = Map.empty)

object Session {
  def create(work: File): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[${BenchMain.Slots}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", BenchMain.Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations ++= Seq(graft.plans.TokenCountRule)
    spark
  }

  /** The warm-up graft.Bench uses: one statement per physical machine
    * the timed work relies on (codegen, hash aggregate + shuffle,
    * window, generator). */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.sum
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(100000).selectExpr("id", "id % 7 AS k", "CAST(id AS DECIMAL(18,2)) AS d")
      .groupBy("k").agg(sum("d")).collect()
    spark.range(10000).selectExpr("id", "id % 5 AS p")
      .selectExpr("*", "row_number() OVER (PARTITION BY p ORDER BY id DESC) AS rn")
      .filter("rn = 1").collect()
    spark.range(1000).selectExpr("id", "explode(array(id, id + 1)) AS e").collect()
  }
}

/** The stub node as a child process (see [[StubMain]]). */
final class StubProc private (proc: Process) {
  private val out = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
  @volatile private var port = -1
  private val http = HttpClient.newHttpClient()

  def awaitPort(): Unit = if (port < 0) {
    val line = out.readLine()
    if (line == null || !line.startsWith("PORT ")) throw new IllegalStateException(
      s"stub did not start (said: $line)")
    port = line.drop(5).trim.toInt
  }
  def url: String = { awaitPort(); s"http://127.0.0.1:$port/" }

  def ctl(path: String): JValue = {
    val resp = http.send(HttpRequest.newBuilder(URI.create(url + "_ctl/" + path))
      .POST(HttpRequest.BodyPublishers.noBody()).build(), HttpResponse.BodyHandlers.ofString())
    JsonMethods.parse(resp.body())
  }
  /** One JSON-RPC call, retried when it lands on the stub's 429
    * cadence (which counts these calls too). */
  def rpc(body: String): JValue = {
    def send() = http.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())
    val resp = Iterator.continually(send()).take(3).find(_.statusCode() != 429)
      .getOrElse(sys.error("stub answered 429 three times in a row"))
    JsonMethods.parse(resp.body())
  }
  def stats(): StubStats = StubStats(ctl("stats"))
  def reset(): Unit = ctl("reset")

  def stop(): Unit = {
    proc.getOutputStream.close() // EOF on the stub's stdin ends it
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly(); proc.waitFor()
    }
  }
}

object StubProc {
  def start(runDir: File, delayMs: Long, throttleEvery: Long): StubProc = {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val pb = new ProcessBuilder(java, "-Xmx384m", "-XX:+UseSerialGC",
      "-cp", System.getProperty("java.class.path"), "perfbench.StubMain",
      "--delay-ms", delayMs.toString, "--throttle-every", throttleEvery.toString,
      "--threads", BenchMain.Slots.toString)
    pb.redirectError(ProcessBuilder.Redirect.appendTo(new File(runDir, "stub.log")))
    new StubProc(pb.start())
  }
}

final case class StubStats(json: JValue) {
  private def l(k: String): Long = json \ k match { case JInt(v) => v.toLong; case _ => 0L }
  def http: Long = l("http"); def throttled: Long = l("throttled"); def entries: Long = l("entries")
  def throttledEntries: Long = l("throttled_entries"); def responseBytes: Long = l("response_bytes")
  def busyS: Double = l("busy_ns") / 1e9; def maxInflight: Long = l("max_inflight")
  def method(m: String): Long = json \ "methods" \ m match { case JInt(v) => v.toLong; case _ => 0L }
}

/** Decode sampled blocks and receipts served by the stub through the
  * engine's own wire parsers; they must equal the simulated rows. */
object RpcSelfCheck {
  import graft.rpc.EvmWire
  import graft.sources.{SimulatedBlockDataFetcher, SimulatedReceiptFetcher}

  def run(stub: StubProc, seed: Long): Unit = {
    val rng = new scala.util.Random(seed ^ 0x5e1fL)
    val blocks = Seq.fill(16)(rng.nextInt(200000).toLong)
    blocks.foreach { n =>
      val got = EvmWire.parseBlock(stub.rpc(
        s"""{"jsonrpc":"2.0","id":1,"method":"eth_getBlockByNumber","params":["${EvmWire.qtyHex(n)}",true]}""") \ "result")
      require(got == SimulatedBlockDataFetcher.block(n), s"stub block $n decodes differently")
      SimulatedReceiptFetcher.receiptsOf(n).foreach { r =>
        val rr = EvmWire.parseReceipt(stub.rpc(
          s"""{"jsonrpc":"2.0","id":1,"method":"eth_getTransactionReceipt","params":["${r.transaction_hash}"]}""") \ "result")
        require(rr == r, s"stub receipt ${r.transaction_hash} decodes differently")
      }
    }
  }
}

/** Aggregate CPU ticks from /proc/stat (Linux): the share of ticks the
  * hypervisor gave to other guests ("steal") during the run shows how
  * loaded a shared host was. -1 where /proc/stat is unavailable. */
object CpuTicks {
  def read(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def stealFrac(before: Option[Array[Long]]): Double = (before, read()) match {
    case (Some(a), Some(b)) if a.length > 7 && b.length > 7 =>
      val d = b.zip(a).map { case (x, y) => x - y }
      d(7).toDouble / math.max(1L, d.take(8).sum)
    case _ => -1.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Linear-interpolated percentile (the numpy default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
