package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.app.{AskMain, AskServer, KgBuild}
import graft.operators.Retrieval
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The serving face under closed-loop load: `AskServer` over HTTP on
  * loopback, driven by client threads that each send their next request only
  * when the previous one has answered.
  */
object Serve {
  val TopK = 5
  private val ChunkUid = "\"chunk_uid\":\"([^\"]+)\"".r

  final case class Sample(ms: Double, ok: Boolean)

  private def chunkUids(json: String): Set[String] =
    ChunkUid.findAllMatchIn(json).map(_.group(1)).toSet

  final case class Measured(setupS: Double, oneP50: Double, fourP50: Double, fourRps: Double)

  private final case class Serving(server: com.sun.net.httpserver.HttpServer,
      view: AskMain.GraphView, reference: Map[String, Set[String]], client: HttpClient,
      base: String) {
    def send(q: String, report: Report): Sample = Serve.send(client, base, q, reference, report)
  }

  /** Start `AskServer` on `graphDir` and compute the reference answer of
    * each of `questions` on the in-process path.
    */
  private def start(spark: SparkSession, graphDir: String, questions: Seq[String],
      report: Report, tracer: Option[Tracer]): Serving = {
    val server = AskServer.start(spark, graphDir, 0)
    // The reference view shares its cache entries with the server's (same
    // plans); releasing it would uncache the server's view as well.
    val view = tracer.fold(AskMain.loadGraph(spark, graphDir))(
      _.span("app.AskMain.loadGraph")(AskMain.loadGraph(spark, graphDir)))
    val reference = questions.map { q =>
      q -> AskMain.ask(spark, view, q, TopK, includeSemantic = true)
        .select("chunk_uid").collect().map(_.getString(0)).toSet
    }.toMap
    reference.foreach { case (q, uids) =>
      report.check(s"reference answer for '$q'", uids.size == TopK,
        s"expected $TopK chunks, got ${uids.size}")
    }
    Serving(server, view, reference,
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build(),
      s"http://127.0.0.1:${server.getAddress.getPort}")
  }

  /** Set-up: server start, reference answers, and one warm-up request per
    * distinct question. Timed: one client for 40% of `seconds` (at least 5
    * requests), then four clients for 60% (at least 16 requests).
    */
  def measured(spark: SparkSession, graphDir: String, in: Inputs, seconds: Int,
      report: Report): Measured = {
    val (s, setupS) = Stats.time {
      val s = start(spark, graphDir, in.questions, report, None)
      in.questions.foreach(q => s.send(q, report))
      s
    }
    try {
      val (one, _) = closedLoop(s, in.questionSequence(1000), report, 1, seconds * 0.4, 8)
      val (four, fourS) = closedLoop(s, in.questionSequence(1000), report, 4, seconds * 0.6, 20)
      report.note(s"set-up $setupS s; 1 client: ${one.size} requests; " +
        s"4 clients: ${four.size} requests in $fourS s")
      Measured(setupS, Stats.median(one.map(_.ms)), Stats.median(four.map(_.ms)),
        four.count(_.ok) / fourS)
    } finally s.server.stop(0)
  }

  /** Traced runs: one name question and the question that matches nothing,
    * each once through the request path layer by layer in-process, then
    * once over HTTP from one client, then twice each from four clients.
    */
  def traced(spark: SparkSession, graphDir: String, in: Inputs, report: Report,
      tracer: Tracer): Unit = {
    val qs = Seq(in.questions.head, in.questions.last)
    val s = start(spark, graphDir, qs, report, Some(tracer))
    try {
      report.metric("app.AskMain.loadGraph.wall_s",
        tracer.all.filter(_.name == "app.AskMain.loadGraph").last.seconds, "s")
      layerSequence(spark, s.view, qs, tracer, report)
      val one = qs.map(q => s.send(q, report))
      val (four, _) = closedLoop(s, (qs ++ qs).toIndexedSeq, report, 4, 0, 4)
      val oneP50 = Stats.median(one.map(_.ms))
      report.metric("app.AskServer.ask1_p50_ms", oneP50, "ms")
      report.metric("app.AskServer.ask4_p50_ms", Stats.median(four.map(_.ms)), "ms")
      report.metric("app.AskServer.http_ms",
        oneP50 - report.metrics("app.AskMain.ask.p50_ms")._1, "ms")
    } finally s.server.stop(0)
  }

  private def send(client: HttpClient, base: String, q: String,
      reference: Map[String, Set[String]], report: Report): Sample = {
    val uri = URI.create(s"$base/ask?q=${java.net.URLEncoder.encode(q, "UTF-8")}&k=$TopK&semantic=true")
    val t0 = System.nanoTime()
    val resp = try Right(client.send(HttpRequest.newBuilder(uri).GET().build(),
      HttpResponse.BodyHandlers.ofString()))
    catch { case e: java.io.IOException => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = report.synchronized {
      resp match {
        case Left(e) => report.check(s"GET /ask '$q'", ok = false, e)
        case Right(r) if r.statusCode != 200 =>
          report.check(s"GET /ask '$q'", ok = false, s"HTTP ${r.statusCode}")
        case Right(r) =>
          val got = chunkUids(r.body)
          report.check(s"GET /ask '$q'", got == reference(q),
            s"chunk_uids ${got.toSeq.sorted} != reference ${reference(q).toSeq.sorted}")
      }
    }
    // a failed request counts as over any latency limit
    Sample(if (ok) ms else Double.PositiveInfinity, ok)
  }

  /** `clients` threads send requests back to back, each its next one only
    * after the previous answered, drawing from one shared seeded question
    * sequence, until `seconds` have passed and at least `minSamples`
    * requests have been sent, or the sequence is used up. Returns the samples and the phase's wall time.
    */
  private def closedLoop(s: Serving, questions: IndexedSeq[String], report: Report,
      clients: Int, seconds: Double, minSamples: Int): (Seq[Sample], Double) = {
    val next = new AtomicInteger(0)
    val samples = mutable.ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // claim a request slot before sending, so the minimum is not overshot
    def claim(): Option[Int] = samples.synchronized {
      val i = next.get()
      if (i < questions.size && (System.nanoTime() < deadline || i < minSamples)) {
        next.incrementAndGet(); Some(i)
      } else None
    }
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = claim()
        while (i.isDefined) {
          val sample = s.send(questions(i.get), report)
          samples.synchronized(samples += sample)
          i = claim()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Traced only: the in-process request path, one layer at a time.
    */
  private def layerSequence(spark: SparkSession, view: AskMain.GraphView, qs: Seq[String],
      tracer: Tracer, report: Report): Unit = {
    val layers = Seq("operators.Retrieval.hybrid", "operators.Retrieval.withDocument",
      "operators.Retrieval.semanticExpansion", "app.AskMain.ask")
    val ms = layers.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val askSpans = mutable.ArrayBuffer[Int]()
    def timed[A](layer: String)(f: => A): A = {
      val (r, s) = Stats.time(tracer.span(layer)(f))
      ms(layer) += s * 1000
      r
    }
    qs.foreach { q =>
      val hybrid = Retrieval.hybrid(view.chunks, q, TopK, dim = KgBuild.EmbeddingDim)
      val rows = timed("operators.Retrieval.hybrid")(hybrid.collect())
      val matches = spark.createDataFrame(java.util.Arrays.asList(rows: _*), hybrid.schema)
      timed("operators.Retrieval.withDocument")(Retrieval.withDocument(matches, view.chunks).collect())
      timed("operators.Retrieval.semanticExpansion")(
        Retrieval.semanticExpansion(matches, view.nodes, view.edges).collect())
      timed("app.AskMain.ask") {
        askSpans += tracer.current
        AskMain.ask(spark, view, q, TopK, includeSemantic = true).orderBy(col("score").desc).collect()
      }
    }
    layers.foreach(l => report.metric(s"$l.p50_ms", Stats.median(ms(l).toSeq), "ms"))
    tracer.drain()
    val work = askSpans.map(tracer.totalWork)
    val n = work.size.toDouble
    report.metric("app.AskMain.ask.jobs_per_req", work.map(_.jobs).sum / n, "count")
    report.metric("app.AskMain.ask.tasks_per_req", work.map(_.tasks).sum / n, "count")
    report.metric("app.AskMain.ask.cpu_ms_per_req", work.map(_.cpuNs).sum / n / 1e6, "ms")
  }
}
