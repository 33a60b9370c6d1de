package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cli.Main
import graft.sources.SimulatedReceiptFetcher
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Workloads {
  /** Closed forms of the simulated chain over `[lo, hi)`, read off the
    * engine's own simulated receipts (one ERC-721 transfer log per
    * transaction, each for a fresh token id `n*10+i` of the block's
    * collection; a mint's from-topic is the zero address). */
  private def transferLogs(lo: Long, hi: Long) =
    (lo until hi).iterator.flatMap(SimulatedReceiptFetcher.receiptsOf).flatMap(_.logs)
      .filter(_.topics.headOption.contains(graft.nft.Derive.Erc721TransferSig))
  def transfers(lo: Long, hi: Long): Long = transferLogs(lo, hi).size.toLong
  def tokensByCollection(lo: Long, hi: Long): Map[String, Long] =
    transferLogs(lo, hi).toSeq.groupBy(_.address.toLowerCase).map { case (c, ls) => c -> ls.size.toLong }
  def mintTokens(lo: Long, hi: Long): Long =
    transferLogs(lo, hi).count(_.topics(1).endsWith(SimulatedReceiptFetcher.zero.drop(2))).toLong
  def createdContracts(lo: Long, hi: Long): Long =
    (lo until hi).flatMap(SimulatedReceiptFetcher.receiptsOf)
      .filter(r => r.contract_address.nonEmpty && r.status.contains(1L))
      .flatMap(_.contract_address).distinct.size.toLong

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def rows(spark: SparkSession, path: String): Long =
    if (new File(path).exists()) spark.read.parquet(path).count() else 0L
}

/** The reference pipeline over the loopback stub, as an operator runs
  * it: a closed-loop backfill (crawl `[0, hi)` with `hi` chosen by the
  * seed, then verify that window against the tables just written),
  * then an open-loop tail from `hi`. The stub's head stands `Backlog`
  * blocks past `hi` while the tail drains that backlog in one wide
  * micro-batch; once that batch commits, the head advances `Rate`
  * blocks per second whether or not the tail keeps up, and the tail
  * follows it in narrow batches. A block's lag runs from its creation
  * at the stub to the commit of the micro-batch holding it. */
object Pipeline {
  import Workloads._
  val Window = 320L
  val WindowJitter = 32
  val Backlog = 200L
  val Rate = 10.0
  /** Share of `--seconds` the tail's follow phase lasts. */
  val FollowShare = 0.4
  /** Stub load shaping (chosen, not measured from a provider; the
    * README gives the basis). Each HTTP request waits `DelayMs`, so a
    * request is never free and fewer, larger requests show as less
    * time; every `ThrottleEvery`-th data request (a prime, out of step
    * with the fetch partitions) answers 429, so the engine's
    * backoff-and-replay path runs in every run. */
  val DelayMs = 2L
  val ThrottleEvery = 97L
  /** Output roots whose write time the traced run attributes. */
  val WriteRoots = Map("stage" -> "stage", "table" -> "db", "sink" -> "tail")

  private def collectionKey(c: String): Long = new java.math.BigInteger(c.stripPrefix("0x"), 16).longValue()
  private def erc721(k: Long) = k % 5 != 4 && k % 2 == 0
  private def erc1155(k: Long) = k % 5 != 4 && k % 2 == 1

  /** The `counts` rows verify must report over `[0, hi)`, collection ->
    * detail (`n_tokens!=total_supply`, or the bare token count where
    * no supply is stored): an ERC-721 collection's stored totalSupply
    * is the height-less probe's fixed `k*10` (k = the address's low
    * bits), never the crawled token count, and the other collections
    * store no supply at all. */
  def expectedCounts(hi: Long): Map[String, String] = tokensByCollection(0, hi).flatMap { case (c, n) =>
    val k = collectionKey(c)
    if (!erc721(k)) Some(c -> n.toString)
    else if (n != k * 10) Some(c -> s"$n!=${k * 10}")
    else None
  }

  /** The other discrepancy kind the simulated chain produces by
    * construction: the ERC-1155 collections emit ERC-721 Transfer
    * events, so their tokens carry an owner. */
  def ownerOn1155(check: String, collection: String, detail: String): Boolean =
    check == "token_shape" && erc1155(collectionKey(collection)) && detail == "current-owner-set-on-1155"

  private def rpcArgs(ctx: Ctx) =
    Seq("--evm-rpc-nodes", ctx.stub.get.url, "--num-partitions", BenchMain.Slots.toString)

  /** Starts the stub and the session, then crawls and verifies a small
    * window into their own directories: JIT-compiles both paths so the
    * timed backfill measures the warm engine. (The tail needs no
    * separate warm-up: its backlog batch is one, and the lags are taken
    * after it.) Finally the stub's answers are checked through the
    * engine's wire parsers and its counters reset. */
  def setUp(ctx: Ctx): Unit = {
    ctx.startSession(Some(StubProc.start(ctx.runDir, DelayMs,
      ctx.args.throttleEvery.getOrElse(ThrottleEvery))))
    ctx.warmUp {
      val w = ctx.dir("warm")
      Main.run(ctx.spark, Seq("crawl", "0", "40", "--out", s"$w/db", "--stage-dir", s"$w/stage") ++
        rpcArgs(ctx))
      Main.run(ctx.spark, Seq("verify", "0", "40", "--db", s"$w/db", "--out", s"$w/report") ++
        rpcArgs(ctx))
      BenchMain.deleteTree(new File(w))
    }
    ctx.trace.install(ctx.spark, WriteRoots.map { case (k, d) => k -> ctx.dir(d) })
    RpcSelfCheck.run(ctx.stub.get, ctx.args.seed)
    ctx.stub.get.reset()
  }

  def run(ctx: Ctx): WorkResult = {
    val spark = ctx.spark
    val stub = ctx.stub.get
    val hi = Window + ctx.rng.nextInt(WindowJitter)
    val (db, rpt, out) = (ctx.dir("db"), ctx.dir("report"), ctx.dir("tail"))
    val rpcArgs = this.rpcArgs(ctx)
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    var failed = 0L

    // ---- backfill: crawl, then verify the same window ----
    val s0 = stub.stats()
    val (crawlCode, crawlS) = ctx.trace.span("crawl", req = 100L)(timed(Main.run(spark,
      Seq("crawl", "0", hi.toString, "--out", db, "--stage-dir", ctx.dir("stage")) ++ rpcArgs)))
    val s1 = stub.stats()
    ctx.heap.sample()
    val (verifyCode, verifyS) = ctx.trace.span("verify", req = 100L)(timed(Main.run(spark,
      Seq("verify", "0", hi.toString, "--db", db, "--out", rpt) ++ rpcArgs)))
    val s2 = stub.stats()
    ctx.heap.sample()
    // verify exits 1 when it reports discrepancies: judged on the report
    if (crawlCode != 0) failed += 1
    if (verifyCode != 0 && verifyCode != 1) failed += 1
    val crawlNeeded = 2 * hi + transfers(0, hi) + 6L * createdContracts(0, hi) + mintTokens(0, hi)
    val crawlAnswered = (s1.entries - s1.throttledEntries) - (s0.entries - s0.throttledEntries)
    val crawlThrottled = s1.throttled - s0.throttled
    // A 429 makes the engine replay its whole fetch window, the requests
    // of that window already answered included, so only a crawl that
    // met no 429 must match the closed form exactly.
    checks += "crawl_wire_entries" ->
      (if (crawlThrottled == 0) crawlAnswered == crawlNeeded else crawlAnswered >= crawlNeeded)
    val nft = mutable.Map.empty[String, Double]
    Seq("transfers", "collections", "tokens", "owners", "uris").foreach { t =>
      nft(s"nft.${t}_rows") = rows(spark, s"$db/$t").toDouble
    }
    checks += "crawl_transfers_rows" -> (nft("nft.transfers_rows") == transfers(0, hi))
    checks += "crawl_tokens_rows" -> (nft("nft.tokens_rows") == transfers(0, hi))
    Seq("collections", "owners").foreach(t => checks += s"crawl_${t}_rows" -> (nft(s"nft.${t}_rows") > 0))
    // every reported row must be one the chain produces by construction,
    // and every `counts` row the closed form expects must be reported
    val wantCounts = expectedCounts(hi)
    val (discrepancies, artifacts) = if (new File(rpt).exists()) {
      val all = spark.read.parquet(rpt).filter(!col("detail").startsWith("warning:"))
        .select("check", "collection_id", "detail").collect().toSeq
        .map(r => (r.getString(0), r.getString(1).toLowerCase, r.getString(2)))
      val (counts, other) = all.partition(_._1 == "counts")
      val gotCounts = counts.map { case (_, c, d) => c -> d }
      val (art, bad) = other.partition((ownerOn1155 _).tupled)
      val wrongCounts = gotCounts.filterNot { case (c, d) => wantCounts.get(c).contains(d) }
      val missing = wantCounts.keySet -- gotCounts.map(_._1)
      (bad ++ wrongCounts).take(5).foreach(r => System.err.println(s"[perfbench] verify discrepancy: $r"))
      missing.take(5).foreach(c => System.err.println(s"[perfbench] verify missed counts row: $c"))
      ((bad.size + wrongCounts.size + missing.size).toLong, (art.size + gotCounts.size - wrongCounts.size).toLong)
    } else (-1L, 0L)
    checks += "verify_clean" -> (discrepancies == 0L && artifacts > 0)
    val outBytes = BenchMain.dirBytes(new File(db))

    // ---- tail: drain the backlog, then follow the head ----
    val start = hi
    val base = start + Backlog
    val stopAt = base + (Rate * ctx.args.seconds * FollowShare).toLong
    stub.ctl(s"head?base=$base&rate=0")
    val tailStartMs = System.currentTimeMillis()
    @volatile var code = -1
    @volatile var error: Throwable = null
    val runner = new Thread(() => {
      try code = ctx.trace.span("tail", req = 200L)(Main.run(spark, Seq("tail",
        "--start", start.toString, "--max-block", stopAt.toString,
        "--out", out, "--config", ctx.dir("config"), "--checkpoint", ctx.dir("checkpoint"),
        "--once", "--owners-view", "--uris-view", "--blocks-per-trigger", Backlog.toString,
        "--head-wait-ms", "1000", "--head-probe-ms", "10") ++ rpcArgs))
      catch { case t: Throwable => error = t }
    }, "perfbench-tail")
    runner.setDaemon(true)
    runner.start()
    // The head clock starts when the drain batch commits, so the follow
    // phase always begins with no backlog: a slower drain (a loaded
    // host) then cannot push extra blocks into the follow batches and
    // change how many there are, which would shift every lag.
    val watchdogNs = System.nanoTime() + ((60 + 2 * ctx.args.seconds) * 1e9).toLong
    while (runner.isAlive && System.nanoTime() < watchdogNs &&
      !ctx.trace.batches.iterator().asScala.exists(_.endBlock >= base)) Thread.sleep(5)
    val t0 = stub.ctl(s"head?base=$base&rate=$Rate") \ "t0" match {
      case org.json4s.JInt(v) => v.toLong; case _ => sys.error("stub head clock did not start")
    }
    val created = (n: Long) => t0 + (n - base + 1) * 1000.0 / Rate
    // `--once` returns after the batch that reaches --max-block; the
    // watchdog only fires if the tail stalls
    runner.join(math.max(1L, (watchdogNs - System.nanoTime()) / 1000000L))
    val stopMs = System.currentTimeMillis()
    if (runner.isAlive) { spark.streams.active.foreach(_.stop()); runner.join(30000) }
    val tailOk = code == 0 && error == null
    if (!tailOk) failed += 1
    Thread.sleep(500) // progress events reach the listener asynchronously
    // the first batch reports no start offset: it starts at --start
    val batches = ctx.trace.batches.toArray(Array.empty[BatchProgress]).toSeq.sortBy(_.batchId)
      .map(b => b.copy(startBlock = math.max(b.startBlock, start)))
    batches.foreach(b => System.err.println(s"[perfbench] batch ${b.batchId} [${b.startBlock},${b.endBlock}) " +
      s"rows ${b.rows} commit +${b.commitMs - tailStartMs} ms ${b.durations}"))
    val end = batches.map(_.endBlock).foldLeft(start)(math.max)
    val drainS = batches.find(_.endBlock >= base).fold(Double.NaN)(b => (b.commitMs - tailStartMs) / 1000.0)
    val lags = batches.flatMap { b =>
      (math.max(b.startBlock, base) until math.min(b.endBlock, stopAt)).map(n => b.commitMs - created(n))
    }
    val s3 = stub.stats()
    val tailTransfers = rows(spark, s"$out/transfers")
    checks += "tail_exit" -> tailOk
    checks += "tail_reached_stop" -> (end == stopAt)
    checks += "tail_transfers_rows" -> (tailTransfers == transfers(start, end))
    val tailNeeded = (end - start) + transfers(start, end) + mintTokens(start, end)
    val tailReceived = (s3.entries - s2.entries) -
      (s3.method("eth_blockNumber") - s2.method("eth_blockNumber"))
    val follow = batches.filter(_.startBlock >= base)
    def dur(bs: Seq[BatchProgress], k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
    val sinkOnDisk = Seq("transfers", "owners", "uris")
      .map(t => BenchMain.dirBytes(new File(s"$out/$t"))).sum
    val blocks = hi + (end - start)

    WorkResult(Seq(crawlS + verifyS), lags, attempted = 3L + batches.size, failed,
      checks.toSeq,
      detail = Seq("window" -> Json.str(s"[0,$hi)"), "crawl_s" -> Json.num(crawlS),
        "verify_s" -> Json.num(verifyS), "crawl_bps" -> Json.num(hi / crawlS),
        "verify_bps" -> Json.num(hi / verifyS),
        "verify_known_artifacts" -> artifacts.toString,
        "tail_start" -> start.toString, "backlog_blocks" -> Backlog.toString,
        "rate_bps" -> Json.num(Rate), "tail_drain_s" -> Json.num(drainS),
        "tail_catchup_bps" -> Json.num(Backlog / drainS),
        "tail_lag_p50_ms" -> Json.num(Stats.pct(lags, 50)),
        "tail_lag_p99_ms" -> Json.num(Stats.pct(lags, 99)),
        "lag_samples" -> lags.size.toString, "batches" -> batches.size.toString,
        "follow_batches" -> follow.size.toString,
        "crawl_rpc_entries" -> (s1.entries - s0.entries).toString,
        "crawl_rpc_needed" -> crawlNeeded.toString,
        "crawl_rpc_answered" -> crawlAnswered.toString, "crawl_throttled" -> crawlThrottled.toString,
        "tail_rpc_entries" -> tailReceived.toString, "tail_rpc_needed" -> tailNeeded.toString),
      layer = nft.toMap ++ Map(
        "pipelines.crawl_bps" -> hi / crawlS, "pipelines.verify_bps" -> hi / verifyS,
        "pipelines.verify_discrepancies" -> discrepancies.toDouble,
        "pipelines.verify_known_artifacts" -> artifacts.toDouble,
        "pipelines.output_bytes" -> outBytes.toDouble,
        "streaming.catchup_bps" -> Backlog / drainS,
        "streaming.lag_p50_ms" -> Stats.pct(lags, 50),
        "streaming.lag_p99_ms" -> Stats.pct(lags, 99),
        "streaming.lag_samples" -> lags.size.toDouble,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.rows_per_batch" -> Stats.mean(batches.map(_.rows.toDouble)),
        "streaming.batch_ms_p50" -> Stats.pct(dur(batches, "triggerExecution"), 50),
        "streaming.batch_ms_p99" -> Stats.pct(dur(batches, "triggerExecution"), 99),
        "streaming.add_batch_ms" -> Stats.mean(dur(batches, "addBatch")),
        "streaming.latest_offset_ms" -> Stats.mean(dur(batches, "latestOffset")),
        "streaming.wal_commit_ms" -> Stats.mean(dur(batches, "walCommit")),
        "streaming.planning_ms" -> Stats.mean(dur(batches, "queryPlanning")),
        "streaming.head_wait_ms" -> dur(follow, "latestOffset").sum,
        "streaming.backlog_end_blocks" ->
          math.max(0L, base + ((stopMs - t0) * Rate / 1000.0).toLong - end).toDouble,
        "ops.sink_on_disk_bytes" -> sinkOnDisk.toDouble,
        "rpc.blocks" -> blocks.toDouble,
        "rpc.wire_efficiency" -> crawlNeeded.toDouble / (s1.entries - s0.entries)) ++
        Layers.rpc(s3, blocks))
  }
}

/** The query suite: registry queries (`SparkEntry.queries(name)`) are
  * built, planned, and materialized in full by one action that folds
  * every column into an order-insensitive signature. The order is
  * permuted by the seed; a pass's time is the sum of its queries'
  * times, and a run makes one pass per 30 s of `--seconds`. The
  * queries read copies of the seed-42 test tables (`TESTDATA.md`),
  * one directory per scale factor under `--data`. */
object Queries {
  import Workloads._
  val SecondsPerPass = 30.0
  /** Operator and TPC-H shapes from `CoreQueries` (sf 0.01): scans,
    * joins, aggregates, windows, pivots, LWW merges and the native
    * Keccak kernel. */
  val CoreNames = Seq("q1_pricing_summary", "q3_join_agg", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders", "q21_waiting_orders", "p9_keccak", "a7_pivot",
    "t3_session_window", "j2_full_outer_reconcile", "k3_two_key_lww", "o2_last_value_window")
  /** Fixpoint / round-loop queries (sf 0.001): components, PageRank and
    * k-core, whose staging loops live in `graft.ops`. */
  val IterativeNames = Seq("g19_components", "g8_pagerank", "g12_kcore")
  val Groups = Seq("sf0.01" -> CoreNames, "sf0.001" -> IterativeNames)

  /** The seed's permutation; a fresh `ctx.rng` each call, so the
    * warm-up and the timed passes see the same order. */
  private def order(ctx: Ctx): Seq[(String, String)] =
    ctx.rng.shuffle(Groups.flatMap { case (sf, qs) => qs.map(_ -> new File(ctx.args.data, sf).getPath) })

  /** Starts the session, then makes one untimed pass in the run's
    * order: JIT-compiles the query paths and builds the iterative
    * queries' fixture relations (the session memo keeps them), so the
    * timed passes measure the warm engine. */
  def setUp(ctx: Ctx): Unit = {
    Groups.foreach { case (sf, _) =>
      require(new File(ctx.args.data, s"$sf/lineitem.parquet").isFile, s"no $sf tables under ${ctx.args.data}")
    }
    ctx.startSession(None)
    ctx.warmUp(order(ctx).foreach { case (q, dir) =>
      try signature(graft.SparkEntry.queries(q)(ctx.spark, dir)).collect()
      catch { case scala.util.control.NonFatal(_) => () } // the timed pass reports it
    })
    ctx.trace.install(ctx.spark)
  }

  def run(ctx: Ctx): WorkResult = {
    val spark = ctx.spark
    val pins = Pins.load(ctx.args.pins)
    val order = this.order(ctx)
    val passes = mutable.ArrayBuffer.empty[Double]
    val rowsOut = mutable.ArrayBuffer.empty[QueryRow]
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    var failed = 0L
    // a fixed pass count per run length: a count that depended on how
    // fast the first pass went would change the median's meaning
    val nPasses = math.max(1, math.round(ctx.args.seconds / SecondsPerPass).toInt)
    for (p <- 0 until nPasses) {
      val pass = order.zipWithIndex.map { case ((q, dir), i) =>
        val r = runOne(ctx, spark, dir, q, p)
        if (r.error.nonEmpty) failed += 1
        rowsOut += r
        checks(q) = checks.getOrElse(q, true) && r.error.isEmpty && pins.matches(q, r)
        if (i % 5 == 4) ctx.heap.sample() // between queries, outside their spans
        r.sec
      }
      passes += pass.sum
    }
    if (ctx.args.traced) Thread.sleep(1000) // let the listener bus deliver the last task ends
    val iterative = IterativeNames.toSet
    def jobs(rs: Iterable[QueryRow]) =
      Stats.mean(rs.map(r => ctx.trace.totalsUnder(r.span).jobs.toDouble).toSeq)
    val layer = mutable.Map[String, Double](
      "queries.suite_s" -> Stats.median(passes.toSeq),
      "queries.query_p50_s" -> Stats.pct(rowsOut.map(_.sec).toSeq, 50),
      "queries.plan_ms" -> Stats.mean(rowsOut.map(_.planMs).toSeq),
      "queries.jobs_per_query" -> jobs(rowsOut.filterNot(r => iterative(r.name))),
      "ops.jobs_per_query" -> jobs(rowsOut.filter(r => iterative(r.name))),
      "ops.iterative_s" -> rowsOut.filter(r => iterative(r.name)).map(_.sec).sum / passes.size,
      "ops.cached_rdds_after" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
    if (ctx.args.traced) {
      // once per traced run: the same queries timed under count(), the
      // action graft.Bench uses, beside the full materialization
      val (_, countS) = timed(order.foreach { case (q, dir) =>
        try graft.SparkEntry.queries(q)(spark, dir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      })
      layer("queries.count_suite_s") = countS
      layer("queries.full_over_count") = passes.head / countS
      val f = new File(ctx.work, s"results/queries-seed${ctx.args.seed}-queries.jsonl")
      java.nio.file.Files.write(f.toPath,
        rowsOut.map(_.json(ctx.trace)).asJava)
    }
    WorkResult(passes.toSeq, rowsOut.map(_.sec * 1000).toSeq, rowsOut.size.toLong, failed,
      checks.toSeq.map { case (q, ok) => s"query[$q]" -> ok },
      detail = Seq("queries" -> order.size.toString,
        "suite_s" -> Json.num(Stats.median(passes.toSeq)),
        "query_p50_s" -> Json.num(Stats.pct(rowsOut.map(_.sec).toSeq, 50)),
        "order" -> order.map(q => Json.str(q._1)).mkString("[", ",", "]")),
      layer = layer.toMap)
  }

  /** The query's own plan with every column folded into one row hash:
    * floating-point columns enter as 9-significant-digit text so the
    * last-bit noise of reordered sums does not change the signature;
    * map-typed columns enter as JSON (maps cannot be hashed). */
  def rowHashes(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = renamed.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case t if hasMap(t) => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    if (cols.isEmpty) renamed.select(lit(0L).as("h"))
    else renamed.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
  }

  /** Per partition (row count, xor of row hashes, sum of their high
    * halves), combined on the driver: insensitive to row order,
    * sensitive to every value. The fold is an opaque map over the
    * query's rows, not an aggregate, so the optimizer keeps every
    * operator of the query (a final sort included) in the plan. */
  def signature(df: DataFrame): Dataset[(Long, Long, Long)] = {
    import df.sparkSession.implicits._
    rowHashes(df).as[Long].mapPartitions { it =>
      var n = 0L; var x = 0L; var s = 0L
      it.foreach { h => n += 1; x ^= h; s += h >>> 33 }
      Iterator((n, x, s))
    }
  }

  def runOne(ctx: Ctx, spark: SparkSession, dir: String, q: String, pass: Int): QueryRow = {
    val tr = ctx.trace
    var planMs = 0.0
    var rows = -1L
    var hash = ""
    var error = ""
    val root = tr.span(s"query:$q", req = 1000L * (pass + 1)) {
      val s = tr.spans.last
      try {
        val sig = tr.span(s"plan:$q") {
          val (d, ps) = timed {
            val d = signature(graft.SparkEntry.queries(q)(spark, dir))
            d.queryExecution.executedPlan
            d
          }
          planMs = ps * 1000; d
        }
        val parts = tr.span(s"action:$q")(sig.collect())
        rows = parts.map(_._1).sum
        hash = f"${parts.map(_._2).foldLeft(0L)(_ ^ _)}%016x:${parts.map(_._3).sum}%d"
      } catch {
        case scala.util.control.NonFatal(t) =>
          error = t.toString.take(300)
          System.err.println(s"[perfbench] query $q failed: $t")
      }
      s
    }
    // the signature is logged so pins.tsv can be regenerated from a log
    System.err.println(f"[perfbench] $q%s pass $pass%d: ${root.seconds}%.3f s, pin\t$q\t$rows\t$hash")
    QueryRow(q, pass, root, planMs, rows, hash, error)
  }
}

final case class QueryRow(name: String, pass: Int, span: Span, planMs: Double, rows: Long,
    hash: String, error: String) {
  def sec: Double = span.seconds
  /** One line per query; task totals are read when the row is written,
    * after the listener bus has caught up. */
  def json(tr: Trace): String = {
    val t = tr.totalsUnder(span)
    Json.obj(Seq("query" -> Json.str(name), "pass" -> pass.toString,
      "sec" -> Json.num(sec), "signature" -> Json.str(s"$rows:$hash"), "jobs" -> t.jobs.toString,
      "stages" -> t.stages.toString, "task_s" -> Json.num(t.runMs / 1000.0),
      "gc_s" -> Json.num(t.gcMs / 1000.0), "shuffle_bytes" -> (t.shuffleWrite + t.shuffleRead).toString,
      "spill_bytes" -> t.spill.toString, "plan_ms" -> Json.num(planMs), "error" -> Json.str(error)))
  }
}

/** Expected signatures per query, pinned on the commit that
  * introduced the benchmark (`pins.tsv`: query, rows, hash; hash `-`
  * pins the row count only, for queries whose floating-point results
  * legitimately vary between runs). */
object Pins {
  final class Table(m: Map[String, (Long, String)]) {
    def matches(q: String, r: QueryRow): Boolean = m.get(q) match {
      case Some((rows, "-")) => r.rows == rows
      case Some((rows, h)) => r.rows == rows && r.hash == h
      case None => false
    }
  }

  def load(path: String): Table = {
    val f = new File(path)
    val lines = if (f.exists()) java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString)
      else Seq.empty[String]
    new Table(lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split('\t')).map {
      case Array(q, rows, h) => q -> (rows.toLong, h)
    }.toMap)
  }
}

/** Per-layer readings shared by the workloads. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "rpc.http_requests" -> "count", "rpc.entries" -> "count", "rpc.entries_per_block" -> "ratio",
    "rpc.http_per_block" -> "ratio", "rpc.wire_efficiency" -> "ratio", "rpc.throttled" -> "count",
    "rpc.max_inflight" -> "count", "rpc.server_busy_s" -> "s", "rpc.response_bytes" -> "bytes",
    "rpc.eth_calls" -> "count", "rpc.blocks" -> "count",
    "sources.scan_rows" -> "count", "sources.scan_task_s" -> "s",
    "nft.transfers_rows" -> "count", "nft.tokens_rows" -> "count", "nft.owners_rows" -> "count",
    "nft.collections_rows" -> "count", "nft.uris_rows" -> "count",
    "pipelines.crawl_bps" -> "blocks/s", "pipelines.verify_bps" -> "blocks/s",
    "pipelines.stage_write_s" -> "s", "pipelines.table_write_s" -> "s",
    "pipelines.output_bytes" -> "bytes", "pipelines.verify_discrepancies" -> "count",
    "pipelines.verify_known_artifacts" -> "count",
    "streaming.catchup_bps" -> "blocks/s", "streaming.lag_p50_ms" -> "ms",
    "streaming.lag_p99_ms" -> "ms", "streaming.lag_samples" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.batch_ms_p50" -> "ms", "streaming.batch_ms_p99" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.head_wait_ms" -> "ms", "streaming.backlog_end_blocks" -> "count",
    "ops.sink_bytes_written" -> "bytes", "ops.sink_write_amp" -> "ratio",
    "ops.sink_files_written" -> "count", "ops.sink_write_s" -> "s",
    "ops.cached_rdds_after" -> "count",
    "queries.suite_s" -> "s", "queries.query_p50_s" -> "s", "queries.plan_ms" -> "ms",
    "queries.jobs_per_query" -> "count", "queries.count_suite_s" -> "s",
    "ops.jobs_per_query" -> "count", "ops.iterative_s" -> "s",
    "queries.full_over_count" -> "ratio", "queries.planning_phase_ms" -> "ms",
    "tables.read_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.slot_busy_frac" -> "ratio",
    "spark.heap_retained_mb" -> "MB",
    "trace.pass_s" -> "s", "trace.overhead_frac" -> "ratio")

  def rpc(s: StubStats, blocks: Long): Map[String, Double] = Map(
    "rpc.http_requests" -> s.http.toDouble, "rpc.entries" -> s.entries.toDouble,
    "rpc.entries_per_block" -> s.entries.toDouble / blocks,
    "rpc.http_per_block" -> s.http.toDouble / blocks,
    "rpc.throttled" -> s.throttled.toDouble, "rpc.max_inflight" -> s.maxInflight.toDouble,
    "rpc.server_busy_s" -> s.busyS, "rpc.response_bytes" -> s.responseBytes.toDouble,
    "rpc.eth_calls" -> s.method("eth_call").toDouble)

  def compute(ctx: Ctx, res: WorkResult, timedS: Double, passS: Double,
      results: File): Seq[(String, (Double, String))] = {
    val tr = ctx.trace
    val t = tr.totals
    val common = Map[String, Double](
      "sources.scan_rows" -> tr.scanRows.get().toDouble,
      "sources.scan_task_s" -> t.scanRunMs / 1000.0,
      "pipelines.stage_write_s" -> tr.writeS("stage"),
      "pipelines.table_write_s" -> tr.writeS("table"),
      "ops.sink_write_s" -> tr.writeS("sink"),
      "ops.sink_bytes_written" -> tr.streamTotals.outputBytes.toDouble,
      "ops.sink_files_written" -> tr.files("sink").toDouble,
      "queries.planning_phase_ms" -> tr.planningNs.get() / 1e6 / math.max(1L, tr.executions.get()),
      "tables.read_bytes" -> t.inputBytes.toDouble,
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.task_s" -> t.runMs / 1000.0,
      "spark.task_cpu_s" -> t.cpuNs / 1e9, "spark.gc_s" -> t.gcMs / 1000.0,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.slot_busy_frac" -> t.runMs / 1000.0 / (BenchMain.Slots * timedS),
      "spark.heap_retained_mb" -> ctx.heap.peakMb)
    val merged = common ++ res.layer
    val amp = merged.get("ops.sink_on_disk_bytes").filter(_ > 0)
      .map(d => merged("ops.sink_bytes_written") / d).getOrElse(0.0)
    val all = merged + ("ops.sink_write_amp" -> amp)
    Names.filterNot(_._1.startsWith("trace.")).map { case (n, u) =>
      val v = all.getOrElse(n, 0.0)
      n -> ((if (v.isNaN || v.isInfinite) 0.0 else v), u)
    }
  }

  /** Traced pass time over the latest untraced pass time recorded for
    * the same workload in this work directory, minus one (0 when no
    * untraced run has been recorded yet). */
  def overhead(results: File, workload: String, tracedPassS: Double): Double = {
    val untraced = Option(results.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$workload-seed") && f.getName.endsWith("-trace0.json"))
      .sortBy(_.lastModified()).lastOption
    untraced.flatMap { f =>
      val j = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(f.toPath))
      (j \ "detail" \ "end_to_end" \ "pass_s") match {
        case org.json4s.JDouble(v) => Some(v)
        case org.json4s.JDecimal(v) => Some(v.toDouble)
        case org.json4s.JInt(v) => Some(v.toDouble)
        case _ => None
      }
    }.fold(0.0)(u => tracedPassS / u - 1.0)
  }
}
