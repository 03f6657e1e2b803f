package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.{CurateApp, DedupApp, PipelineApp, ServeApp}
import graft.core.{GraftSession, Sanitizer}
import graft.embed.{DeterministicEmbedder, VectorsJob}
import graft.ingest.IngestJob
import graft.query.{HybridExecutor, QueryIntent, ResultFormatter}

/** JVM side of the benchmark: runs one workload against the engine's public
  * entry points, times each layer from outside, and writes `result.json`
  * (plus `spans.jsonl` and `jobs.jsonl` when traced) into `--work`.
  *
  *   Main <chess_build|chess_serve|crawl_corpus> --work=<dir>
  *     --seconds=<s> --trace=<0|1> --setup-reps=<n> [--pgn=<dir>]
  *     [--questions=<file> --calibrate=<n>] [--warc=<dir>]
  *
  * A traced batch run traces every build or pipeline run. A traced
  * chess_serve run interleaves traced and untraced requests on one server,
  * so the tracing overhead is measured in the same run at the same warmth.
  */
object Main {
  val Cores = 4
  val Dims = 256
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val opt = args.drop(1).collect {
      case a if a.startsWith("--") && a.contains("=") =>
        val i = a.indexOf('=')
        a.substring(2, i) -> a.substring(i + 1)
    }.toMap
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val reps = opt.getOrElse("setup-reps", "3").toInt
    val res = scala.collection.mutable.LinkedHashMap[String, Any]()
    res("canary_s") = canary()
    val gc0 = gcSeconds()
    val counters = new SparkCounters
    val spark = workload match {
      case "chess_build" =>
        chessBuild(opt("pgn"), work, seconds, traced, reps, counters, res)
      case "chess_serve" =>
        chessServe(opt("pgn"), opt("questions"), opt("calibrate").toInt, work,
          seconds, traced, reps, counters, res)
      case "crawl_corpus" =>
        crawlCorpus(opt("warc"), work, seconds, traced, reps, counters, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
    res("jvm_gc_s") = gcSeconds() - gc0
    res("canary_end_s") = canary()
    if (traced) writeTrace(work, counters)
    Files.write(work.resolve("result.json"), json(res).getBytes(UTF_8))
    spark.stop()
  }

  // ---------------------------------------------------------------- set-up

  /** Starts the engine session `reps` times (stopping the previous one) and
    * runs `warm` on each; returns the last session and every set-up time.
    */
  def sessions(app: String, reps: Int)(warm: SparkSession => Unit)
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to reps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(app, cores = Cores)
      warm(spark)
      secs(t0)
    }
    (spark, times)
  }

  /** Whether a batch workload starts operation `i` (builds or pipeline
    * runs): always the first `least`, and otherwise only one that should
    * end inside the window, judged by the last operation's duration `took`.
    */
  private def another(i: Int, least: Int, elapsed: Double, took: Double,
      seconds: Double): Boolean =
    i < least || elapsed + took <= seconds

  private def firstJob(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect(); ()
  }

  // ----------------------------------------------------------- chess_build

  /** The IngestApp lineage: PGN -> IngestJob tables -> VectorsJob vectors,
    * every table committed as parquet under `out`.
    */
  def buildOnce(spark: SparkSession, pgn: String, out: String,
      embedder: DeterministicEmbedder): (Double, Double) = {
    val t0 = System.nanoTime()
    Trace.span("ingest.tables") {
      val t = IngestJob.tables(spark, IngestJob.readPgn(spark, pgn),
        persistRecords = true)
      IngestJob.write(t, out)
    }
    val t1 = System.nanoTime()
    Trace.span("embed.vectors") {
      val games = spark.read.parquet(s"$out/games")
      val players = spark.read.parquet(s"$out/players")
      val positions = spark.read.parquet(s"$out/positions")
      VectorsJob.write(
        VectorsJob.build(spark, games, players, positions, embedder), out)
    }
    val t2 = System.nanoTime()
    spark.catalog.clearCache() // the records frame IngestJob persisted
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def chessBuild(pgn: String, work: Path, seconds: Double, traced: Boolean,
      reps: Int, counters: SparkCounters,
      res: scala.collection.mutable.Map[String, Any]): SparkSession = {
    val (spark, setups) = sessions("perfbench-chess-build", reps) { s =>
      firstJob(s)
      DeterministicEmbedder(Dims).embed("rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - 0 1")
      ()
    }
    res("setup_s") = setups
    spark.sparkContext.addSparkListener(counters)
    val embedder = DeterministicEmbedder(Dims)
    // one untimed build over the whole input first: the JIT compiles the
    // parser, replay and embedder loops at the sizes the timed builds use
    val tw = System.nanoTime()
    val warm = work.resolve("warm").toString
    buildOnce(spark, pgn, warm, embedder)
    res("warmup_s") = secs(tw)
    // the vector-failure ledger, over a fixed eighth of the warm-up build's
    // positions (a second embed pass over all of them would cost as much as
    // the embed of a build); for the timed builds, vectors == positions
    // shows no position was dropped
    res("warmup_ledger") = VectorsJob.buildWithLedger(spark,
      spark.read.parquet(s"$warm/games"), spark.read.parquet(s"$warm/players"),
      spark.read.parquet(s"$warm/positions")
        .where(pmod(xxhash64(col("vector_id")), lit(8)) === 0),
      embedder).failures.count()

    val iters = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var i = 0
    var last: String = null
    var took = 0.0
    // two builds at least: over ten seeds the median of two spread 0.05
    // against 0.09 for the first build alone
    while (another(i, 2, secs(start), took, seconds)) {
      val out = work.resolve(s"build_$i").toString
      val ops = try {
        val t0 = System.nanoTime()
        val (ing, emb) = Trace.traced(traced) {
          Trace.span("build", s"build-$i") {
            buildOnce(spark, pgn, out, embedder)
          }
        }
        took = secs(t0)
        Map("ok" -> true, "traced" -> traced, "wall_s" -> took,
          "ingest_s" -> ing, "embed_s" -> emb)
      } catch {
        case e: Exception =>
          Map("ok" -> false, "traced" -> traced, "error" -> e.toString)
      }
      iters += ops
      if (ops("ok") == true) {
        if (last != null) deleteTree(Paths.get(last))
        last = out
      }
      i += 1
    }
    res("iterations") = iters.result()
    if (last != null) {
      val games = spark.read.parquet(s"$last/games")
      val positions = spark.read.parquet(s"$last/positions")
      val vectors = spark.read.parquet(s"$last/vectors")
      val bad = vectors.where(size(col("embedding")) =!= Dims ||
        exists(col("embedding"), x => isnan(x) ||
          x === Double.PositiveInfinity || x === Double.NegativeInfinity))
      res("check") = Map(
        "games" -> games.count(),
        "positions" -> positions.count(),
        "issues" -> spark.read.parquet(s"$last/issues").count(),
        "vectors" -> vectors.count(),
        "distinct_fens" -> positions.select("vector_id").distinct().count(),
        "bad_vectors" -> bad.count())
    }
    spark
  }

  // ----------------------------------------------------------- chess_serve

  final case class Serving(tables: HybridExecutor.Tables,
      embedder: DeterministicEmbedder, cachedMb: Map[String, Double])

  /** What ServeApp.main does before it listens: read the tables, cache
    * them, build and cache the summaries view, materialise every cache.
    */
  def loadServing(spark: SparkSession, dir: String): Serving = {
    val games = spark.read.parquet(s"$dir/games").cache()
    val players = spark.read.parquet(s"$dir/players").cache()
    val vectors = spark.read.parquet(s"$dir/vectors").cache()
    val embedder = DeterministicEmbedder(dims =
      vectors.selectExpr("size(embedding)").head().getInt(0))
    val summaries = HybridExecutor.summaries(games, players)
    summaries.cache()
    val mb = scala.collection.mutable.LinkedHashMap[String, Double]()
    var before = cachedBytes(spark)
    Seq("games" -> games, "players" -> players, "vectors" -> vectors,
      "summaries" -> summaries).foreach { case (name, df) =>
      df.count()
      val now = cachedBytes(spark)
      mb(name) = (now - before) / 1e6
      before = now
    }
    Serving(HybridExecutor.Tables(games, players, Some(vectors),
      summariesPrebuilt = Some(summaries)), embedder, mb.toMap)
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def planJson(plan: QueryIntent.Plan): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("cleaned_text", plan.cleanedText)
    o.put("limit", plan.limit)
    o.put("offset", plan.offset)
    val fs = o.putArray("filters")
    plan.filters.foreach { case QueryIntent.MetadataFilter(k, v) =>
      val f = mapper.createObjectNode(); f.put("field", k); f.put("value", v)
      fs.add(f); ()
    }
    val r = o.putObject("rating")
    plan.rating.whiteMin.foreach(v => r.put("white_min", v))
    plan.rating.blackMin.foreach(v => r.put("black_min", v))
    plan.rating.maxRatingDelta.foreach(v => r.put("max_rating_delta", v))
    val ks = o.putArray("keywords")
    plan.keywords.foreach { k => ks.add(k); () }
    o
  }

  /** The body ServeApp.queryResponse(...).toString returns without a
    * reranker, built step for step with a span around each step: analyse,
    * execute, and collect + format. The same fields in the same order, so
    * the body is byte-identical; a traced run checks that on its
    * calibration requests.
    */
  def tracedResponse(spark: SparkSession, s: Serving,
      p: ServeApp.Parsed): String = {
    val plan = Trace.span("query.analyse") {
      QueryIntent.analyse(QueryIntent.Request(p.question, p.limit, p.offset))
    }
    val exec = Trace.span("query.execute") {
      HybridExecutor.execute(spark, s.tables, plan, s.embedder)
    }
    Trace.span("app.format") {
      val rows = exec.results.collect().toSeq
      val o = mapper.createObjectNode()
      o.put("question", p.question)
      o.set[ObjectNode]("plan", planJson(plan))
      o.put("summary",
        if (rows.isEmpty) "No games matched the requested filters."
        else ResultFormatter.summarize(rows))
      val rs = o.putArray("results")
      rows.foreach { row =>
        val n = mapper.createObjectNode()
        ResultFormatter.resultFields(row).foreach {
          case (k, v: String) => n.put(k, v)
          case (k, v: Double) => n.put(k, v)
          case (k, Some(v: String)) => n.put(k, v)
          case (k, Some(v: Int)) => n.put(k, v)
          case (k, None) => n.putNull(k)
          case (k, v) => n.put(k, String.valueOf(v))
        }
        rs.add(n)
      }
      o.put("offset", plan.offset)
      o.put("limit", plan.limit)
      o.put("total", exec.total)
      o.put("has_more", exec.hasMore)
      o.put("agent_status", "disabled")
      if (exec.warnings.nonEmpty) {
        val ws = o.putArray("warnings")
        exec.warnings.foreach { w => ws.add(w); () }
      }
      o.toString
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def errorBody(msg: String): String =
    mapper.createObjectNode().put("error", Sanitizer.sanitize(msg)).toString

  /** The server of a traced run: ServeApp.start's `/query` POST handler
    * (no limiter, no result cache, no reranker, four daemon threads, one
    * FAIR pool per thread). A request with `X-Trace: 1` is answered through
    * [[tracedResponse]] under one `app.response` span; any other through
    * ServeApp.queryResponse itself. Traced and untraced requests thus share
    * one handler, one thread pool and one warmth.
    */
  def benchServer(spark: SparkSession, s: Serving): HttpServer = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(Cores,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
    server.createContext("/query", (ex: HttpExchange) => {
      val traced = ex.getRequestHeaders.getFirst("X-Trace") == "1"
      val rid = Option(ex.getRequestHeaders.getFirst("X-Request-Id"))
        .getOrElse("-")
      try {
        val body = ex.getRequestBody.readNBytes(ServeApp.maxBodyBytes + 1)
        if (body.length > ServeApp.maxBodyBytes)
          respond(ex, 413, errorBody("request body too large"))
        else ServeApp.parsePost(new String(body, UTF_8)) match {
          case Left(err) => respond(ex, 400, errorBody(err))
          case Right(p) =>
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              s"serve-${Thread.currentThread().getId}")
            val payload =
              try Right(
                if (traced) Trace.traced(true) {
                  Trace.span("app.response", rid)(tracedResponse(spark, s, p))
                }
                else ServeApp.queryResponse(spark, s.tables, s.embedder, p)
                  .toString)
              catch { case e: Throwable => Left(e.getMessage) }
            payload match {
              case Right(out) => respond(ex, 200, out)
              case Left(err) => respond(ex, 500, errorBody(err))
            }
        }
      } catch {
        case e: Throwable =>
          try respond(ex, 500, errorBody(e.getMessage))
          catch { case _: Throwable => () }
      }
    })
    server.start()
    server
  }

  def chessServe(pgn: String, questions: String, calibrate: Int, work: Path,
      seconds: Double, traced: Boolean, reps: Int, counters: SparkCounters,
      res: scala.collection.mutable.Map[String, Any]): SparkSession = {
    // ServeApp.main serves with FAIR pools, one per connection
    System.setProperty("spark.scheduler.mode", "FAIR")
    val (spark, _) = sessions("perfbench-chess-serve", 1)(firstJob)
    val tablesDir = work.resolve("tables").toString
    val tb = System.nanoTime()
    buildOnce(spark, pgn, tablesDir, DeterministicEmbedder(Dims))
    res("tables_build_s") = secs(tb)

    var serving: Serving = null
    res("setup_s") = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      serving = loadServing(spark, tablesDir)
      secs(t0)
    }
    res("cached_mb") = serving.cachedMb
    spark.sparkContext.addSparkListener(counters)
    val qs = Files.readAllLines(Paths.get(questions)).asScala
      .filter(_.nonEmpty).map(mapper.readTree)

    if (traced) {
      // exact per-request job and task counts: the first `calibrate`
      // requests (one block of the question mix) one at a time; each body
      // must equal ServeApp.queryResponse's for the same request
      val cal = qs.take(calibrate).map { q =>
        val p = ServeApp.Parsed(q.get("question").asText(),
          Some(q.get("limit").asInt()), Some(q.get("offset").asInt()))
        org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
        val (j0, t0) = (counters.jobCount, counters.taskCount)
        val body = tracedResponse(spark, serving, p)
        org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
        val counts = Map("jobs" -> (counters.jobCount - j0),
          "tasks" -> (counters.taskCount - t0))
        val same = body == ServeApp.queryResponse(spark, serving.tables,
          serving.embedder, p).toString
        counts + ("same_body" -> same)
      }
      res("calibration") = cal
    }

    // stdin protocol: READY <port> out; WINDOW in (warm-up over, ack'd
    // with WINDOW out); DONE <sample file> in (timed window over)
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val server =
      if (traced) benchServer(spark, serving)
      else ServeApp.start(spark, serving.tables, serving.embedder, 0)
    println("READY " + server.getAddress.getPort)
    Console.out.flush()
    var cmd = in.readLine()
    var w0 = System.currentTimeMillis()
    if (cmd == "WINDOW") {
      w0 = System.currentTimeMillis()
      println("WINDOW")
      Console.out.flush()
      cmd = in.readLine()
    }
    ServeApp.stop(server)
    if (traced) {
      org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
      val w1 = System.currentTimeMillis()
      res("task_wait_ms") = counters.taskWaits.asScala.filter { case (t, _) =>
        t >= w0 && t <= w1 }.map(_._2.toDouble).toSeq
    }
    // the sample check: each response must equal a direct execute
    if (cmd != null && cmd.startsWith("DONE ")) {
      val sample = Files.readAllLines(Paths.get(cmd.stripPrefix("DONE ")))
        .asScala.filter(_.nonEmpty).map(mapper.readTree)
      res("sample_mismatches") = sample.flatMap { r =>
        val plan = QueryIntent.analyse(QueryIntent.Request(
          r.get("question").asText(), Some(r.get("limit").asInt()),
          Some(r.get("offset").asInt())))
        val exec = HybridExecutor.execute(spark, serving.tables, plan,
          serving.embedder)
        val ids = exec.results.collect().map(_.getAs[String]("game_id")).toSeq
        val got = r.get("game_ids").elements().asScala.map(_.asText()).toSeq
        if (exec.total == r.get("total").asLong() && ids == got) None
        else Some(s"${r.get("question").asText()} limit=${plan.limit} " +
          s"offset=${plan.offset}: served total=${r.get("total")} " +
          s"ids=${got.size}, direct total=${exec.total} ids=${ids.size}")
      }.toSeq
      res("sample_checked") = sample.size
    }
    spark
  }

  // ---------------------------------------------------------- crawl_corpus

  /** PipelineApp.run's three stages called one by one, so each gets a span. */
  def tracedPipeline(spark: SparkSession, cfg: PipelineApp.Config,
      warc: String, out: String): Unit = Trace.span("pipeline.run") {
    val ingestOut = s"$out/ingest"
    Trace.span("crawl.ingest") {
      PipelineApp.runIngest(spark, cfg, warc, ingestOut)
    }
    Trace.span("dedup.run") {
      DedupApp.run(spark, cfg.dedup.copy(docs = s"$ingestOut/docs",
        outDir = s"$out/dedup"))
    }
    Trace.span("curate.run") {
      CurateApp.run(spark, cfg.curate.copy(docs = s"$out/dedup/survivors",
        outDir = s"$out/curate"))
    }
    ()
  }

  def crawlCorpus(warc: String, work: Path, seconds: Double, traced: Boolean,
      reps: Int, counters: SparkCounters,
      res: scala.collection.mutable.Map[String, Any]): SparkSession = {
    val (spark, setups) = sessions("perfbench-crawl", reps)(firstJob)
    res("setup_s") = setups
    spark.sparkContext.addSparkListener(counters)
    def pipeline(out: String, dir: String, spans: Boolean): Unit = {
      val cfg = PipelineApp.parse(Array("-", out, s"--warc=$dir"))
      if (spans) tracedPipeline(spark, cfg, dir, out)
      else { PipelineApp.run(spark, cfg); () }
    }
    // one untimed run over the whole input first: JIT and codegen caches
    val tw = System.nanoTime()
    pipeline(work.resolve("warm").toString, warc, spans = false)
    deleteTree(work.resolve("warm"))
    res("warmup_s") = secs(tw)

    val runs = Seq.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    var i = 0
    var last: String = null
    var took = 0.0
    while (another(i, 1, secs(start), took, seconds)) {
      val out = work.resolve(s"crawl_$i").toString
      val t0 = System.nanoTime()
      val r = try {
        Trace.traced(traced)(pipeline(out, warc, traced))
        took = secs(t0)
        Map("ok" -> true, "traced" -> traced, "wall_s" -> took)
      } catch {
        case e: Exception =>
          Map("ok" -> false, "traced" -> traced, "error" -> e.toString)
      }
      runs += r
      if (r("ok") == true) {
        if (last != null) deleteTree(Paths.get(last))
        last = out
      }
      i += 1
    }
    res("iterations") = runs.result()
    if (last != null) {
      val docs = spark.read.parquet(s"$last/ingest/docs")
      val survivors = spark.read.parquet(s"$last/dedup/survivors")
      val kept = spark.read.parquet(s"$last/curate/kept")
      def lines(df: DataFrame, name: String): Unit =
        Files.write(work.resolve(name),
          df.select("url").collect().map(_.getString(0)).sorted.toSeq.asJava)
      lines(survivors, "survivors.txt")
      lines(kept, "kept.txt")
      val cyrillic = docs.where(col("text").rlike("[\\u0400-\\u04FF]"))
        .select("url", "text").collect().map(r =>
          mapper.createObjectNode().put("url", r.getString(0))
            .put("text", r.getString(1)).toString)
      Files.write(work.resolve("cyrillic.jsonl"), cyrillic.toSeq.asJava)
      val report = spark.read.parquet(s"$last/dedup/report").head()
      val curate = spark.read.parquet(s"$last/curate/report").head()
      res("check") = Map(
        "docs_in" -> spark.read.parquet(s"$last/ingest/report").head()
          .getAs[Long]("docs"),
        "dedup_removed" -> report.getAs[Long]("n_removed"),
        "survivors" -> survivors.count(),
        "curate_kept" -> curate.getAs[Long]("n_kept"),
        "parquet_bytes" -> treeBytes(Paths.get(last), ".parquet"))
    }
    spark
  }

  // --------------------------------------------------------------- helpers

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Fixed single-thread work: a host-contention diagnostic, not a metric. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) println("")
    secs(t0)
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  private def treeBytes(p: Path, suffix: String): Long =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .map(Files.size).sum

  private def writeTrace(work: Path, c: SparkCounters): Unit = {
    Files.write(work.resolve("spans.jsonl"), Trace.all.map(s => json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "rid" -> s.rid,
      "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6))).asJava)
    Files.write(work.resolve("jobs.jsonl"), c.jobs.values.asScala.toSeq
      .sortBy(_.id).map(j => json(Map("id" -> j.id, "time_ms" -> j.timeMs,
        "tasks" -> j.tasks.get, "cpu_ns" -> j.cpuNs.get, "gc_ms" -> j.gcMs.get,
        "shuffle_write" -> j.shuffleWrite.get, "spill" -> j.spill.get,
        "output" -> j.output.get))).asJava)
  }

  /** Minimal JSON rendering for maps, sequences, numbers and strings. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
