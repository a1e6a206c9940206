package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.app.{AskMain, AskServer, KgBuild}
import graft.extract.Gazetteer
import graft.operators.Retrieval
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Common._

/** `serve`: `AskServer` over a built graph, driven over HTTP by a closed
  * loop of clients, each sending its next request when the last returns.
  */
object ServeWorkload {

  /** One request of the mix: a /fetch of `fetchId`, or else an /ask. */
  final case class Req(question: String, k: Int, semantic: Boolean, fetchId: Option[String] = None) {
    def path: String = {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      fetchId match {
        case Some(id) => s"/fetch?id=${enc(id)}"
        case None => s"/ask?q=${enc(question)}&k=$k&semantic=$semantic"
      }
    }
  }

  val Ks: Seq[Int] = Seq(1, 3, 5, 10)
  val WarmupRequests = 10

  private def name(groups: Seq[Seq[String]], rnd: SplittableRandom): String =
    groups(rnd.nextInt(groups.size)).head

  /** Entity questions name a dictionary entity the corpus mentions; noise
    * questions share no entity with it. About one request in ten is a fetch.
    */
  def mix(rnd: SplittableRandom, entityIds: Seq[String], n: Int): Seq[Req] =
    (0 until n).map { _ =>
      val k = Ks(rnd.nextInt(Ks.size))
      val semantic = rnd.nextBoolean()
      rnd.nextInt(10) match {
        case 0 => Req("", 0, semantic = false, Some(entityIds(rnd.nextInt(entityIds.size))))
        case 1 | 2 =>
          val words = Seq("weather", "tomorrow", "lunch", "parking", "holiday", "printer", "coffee")
          Req(Seq.fill(3)(words(rnd.nextInt(words.size))).mkString("Is the ", " ", " ready?"),
            k, semantic)
        case 3 | 4 => Req(s"Who founded ${name(Gazetteer.companies, rnd)}?", k, semantic)
        case 5 | 6 => Req(s"What did ${name(Gazetteer.companies, rnd)} launch?", k, semantic)
        case 7 => Req(s"Who joined ${name(Gazetteer.companies, rnd)}?", k, semantic)
        case 8 => Req(s"Which company did ${name(Gazetteer.persons, rnd)} found?", k, semantic)
        case _ => Req(s"Tell me about ${name(Gazetteer.products, rnd)}.", k, semantic)
      }
    }

  private val json = new ObjectMapper()

  /** Sends one request; returns the problem with the response, if any. */
  def send(http: HttpClient, port: Int, r: Req): (Option[String], Int) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}")).GET().build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    val body = resp.body()
    if (resp.statusCode() != 200) return (Some(s"HTTP ${resp.statusCode()} for ${r.path}"), 0)
    val tree =
      try json.readTree(body)
      catch { case e: Exception => return (Some(s"invalid JSON for ${r.path}: $e"), 0) }
    if (r.fetchId.isDefined) {
      if (!tree.isArray) (Some(s"fetch answer is not an array: ${r.path}"), 0)
      else (None, tree.size())
    } else {
      val m = tree.get("matches")
      if (m == null || !m.isArray) (Some(s"no matches array for ${r.path}"), 0)
      else if (m.size() > r.k) (Some(s"${m.size()} matches for k=${r.k}: ${r.path}"), 0)
      else (None, m.size())
    }
  }

  /** The graph the server loads: a fixed window of conversations. */
  def graphIds(a: Args): Seq[Long] = (5000000L until 5000000L + a.sizes.serveConvs).toSeq

  def entityIds(spark: SparkSession, graphDir: String): Seq[String] =
    spark.read.parquet(s"$graphDir/nodes")
      .filter(array_contains(col("labels"), "__Entity__")).select("id").distinct()
      .orderBy("id").collect().map(_.getString(0)).toSeq

  def run(spark: SparkSession, a: Args): Result = {
    val graphDir = Fixtures.graph(spark, a, "serve-graph", graphIds(a))
    val ids = entityIds(spark, graphDir)
    val ops = new Ops
    if (a.trace) {
      val tr = new Tracer(spark)
      val extras = traceLayers(spark, tr, graphDir, ids, a.seed, ops)
      tr.write(s"${a.work}/../trace-serve-${a.seed}.jsonl")
      return ops.result(Extras.metrics(tr, extras))
    }
    val (server, setupS) = Setup.repeat { i =>
      spark.catalog.clearCache()
      val s = AskServer.start(spark, graphDir, 0)
      if (i < Setup.Reps - 1) s.stop(0)
      s
    }
    val port = server.getAddress.getPort
    val http = HttpClient.newHttpClient()
    val rnd = new SplittableRandom(a.seed)
    try {
      mix(rnd, ids, WarmupRequests).foreach(r => send(http, port, r))
      val clients = (0 until a.sizes.serveClients).map(_ => mix(rnd.split(), ids, 10000))
      val pool = Executors.newFixedThreadPool(clients.size)
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      val deadline = t0 + (a.seconds * 1e9).toLong
      // per client: (latency s, problem) of each request it completed
      val results = try pool.invokeAll(clients.map { reqs =>
        new Callable[Seq[(Double, Option[String])]] {
          def call(): Seq[(Double, Option[String])] = {
            val out = ArrayBuffer[(Double, Option[String])]()
            val it = reqs.iterator
            while (out.isEmpty || System.nanoTime() < deadline) {
              val r = it.next()
              val s0 = System.nanoTime()
              val problem =
                try send(http, port, r)._1
                catch { case e: Exception => Some(s"${r.path}: $e") }
              out += ((seconds(s0), problem))
            }
            out.toSeq
          }
        }
      }.asJava).asScala.flatMap(_.get()).toSeq
      finally pool.shutdown()
      val elapsed = seconds(t0)
      // Requests overlap, so the loop's CPU is shared out over those answered.
      val answered = results.count(_._2.isEmpty)
      val cpuPerRequest = (processCpuS() - cpu0) / math.max(1, answered)
      results.foreach { case (dt, problem) =>
        ops.attempted += 1
        problem match {
          case None => ops.times += dt; ops.cpus += cpuPerRequest
          case Some(p) => ops.fail(p)
        }
      }
      if (answered > 0) System.err.println(f"[perfbench] serve: p50 ${Common.median(ops.times.toSeq) * 1000}%.1f ms, " +
        f"${answered / elapsed}%.2f requests/s over ${a.sizes.serveClients} clients")
      val heap = liveHeapMb()
      ops.verified("probe", probeProblems(spark, http, port, graphDir))
      ops.result(EndToEnd(setupS, ops, 1.0, heap))
    } finally server.stop(0)
  }

  /** The served top match equals the in-process answer to the same question. */
  def probeProblems(spark: SparkSession, http: HttpClient, port: Int, graphDir: String): Seq[String] = {
    val probe = Req(s"Who founded ${Gazetteer.companies.head.head}?", 5, semantic = false)
    val view = AskMain.loadGraph(spark, graphDir)
    val local = AskMain.ask(spark, view, probe.question, probe.k, probe.semantic)
      .orderBy(col("score").desc).collect()
    val served = json.readTree(http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${probe.path}")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()).get("matches")
    if (local.isEmpty || served == null || served.size() == 0) Seq("probe question has no match")
    else {
      val top = served.get(0)
      val best = local.head.getAs[Double]("score")
      val tied = local.filter(_.getAs[Double]("score") == best).map(_.getAs[String]("chunk_uid")).toSet
      if (tied.contains(top.get("chunk_uid").asText()) && math.abs(top.get("score").asDouble() - best) < 1e-9) Nil
      else Seq(s"served top match $top differs from in-process ${local.head}")
    }
  }

  val TracedQuestions = 4

  /** The serving layers over one graph: its load, then a fixed mix of
    * questions asked in-process without and with spans, through the
    * retrieval operators alone, and over HTTP. Returns the serving extras.
    */
  def traceLayers(spark: SparkSession, tr: Tracer, graphDir: String, ids: Seq[String], seed: Long,
      ops: Ops): Map[String, Double] = {
    spark.catalog.clearCache()
    val view = tr.span("app.load", 10, "AskMain.loadGraph")(AskMain.loadGraph(spark, graphDir))
    val asks = mix(new SplittableRandom(seed), ids, 40).filter(_.fetchId.isEmpty).take(TracedQuestions)
    def askAll(traced: Boolean): Seq[(Double, Int)] = asks.map { r =>
      val t0 = System.nanoTime()
      def ask() = {
        val df = AskMain.ask(spark, view, r.question, r.k, r.semantic)
        force(df)
        df
      }
      val df = if (traced) tr.span("app.ask", 11, "AskMain.ask")(ask()) else ask()
      val dt = seconds(t0)
      (dt, if (traced) 0 else df.collect().length)
    }
    val untraced = askAll(traced = false)
    val t1 = System.nanoTime()
    askAll(traced = true)
    val tracedS = seconds(t1)
    asks.foreach { r =>
      tr.span("operators.retrieval", 12, "Retrieval.hybrid+withDocument+semanticExpansion") {
        val h = Retrieval.hybrid(view.chunks, r.question, r.k, dim = KgBuild.EmbeddingDim)
        force(h)
        force(Retrieval.withDocument(h, view.chunks))
        if (r.semantic) force(Retrieval.semanticExpansion(h, view.nodes, view.edges))
      }
    }
    val server = AskServer.start(spark, graphDir, 0)
    val http = HttpClient.newHttpClient()
    val overHttp = try asks.flatMap { r =>
      ops.attempt(r.path)(send(http, server.getAddress.getPort, r))(_._1).map(_._2)
    } finally server.stop(0)
    overHttp.foreach(dt => ops.checked("ask over HTTP", dt, Nil))
    val results = untraced.map(_._2).sum
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val records = tr.listener.get("app.ask").recordsIn
    Map(
      "app.ask.records_per_result" -> (if (results == 0) 0.0 else records.toDouble / results),
      "app.ask.http_gap_ms" ->
        (if (overHttp.isEmpty) 0.0 else (Common.median(overHttp) - Common.median(untraced.map(_._1))) * 1000),
      "trace.coverage" -> tr.coveredS(11) / tracedS,
      "trace.overhead_s" -> (tracedS - untraced.map(_._1).sum))
  }
}
