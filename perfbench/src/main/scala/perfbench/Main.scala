package perfbench

import graft.materialize.Materializer
import graft.model.RunConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark program. `run.py` builds it and starts it once per run:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --result <file>
  *
  * Workloads (NOTES.md has sizes, reasons and measured figures):
  *  - build_fresh, build_fresh_noversion: `KgBuild.run` of a seeded table
  *    of 200 conversations, with and without a `version` column, into an
  *    empty directory as the first build of a new JVM, then again with
  *    nothing pending;
  *  - build_incremental: `KgBuild.run` after a seeded delta of at most 8
  *    conversations, checked against a fresh build of the final table;
  *  - ask_serving: `AskServer` over HTTP on a 200-conversation graph, at one
  *    and then four closed-loop clients.
  * A traced run (`--trace 1`) reports the per-layer metrics instead: the
  * workload's builds run with spans, the graph is rebuilt one layer at a
  * time, and then served to time the request path layer by layer.
  */
object Main {
  val Convs = 200

  val BuildMetrics: Seq[String] = Seq("setup_s", "build_s", "triples_per_s")
  val AskMetrics: Seq[String] = Seq("setup_s", "ask1_p50_ms", "ask4_p50_ms", "ask4_rps")

  val PerLayer: Seq[String] = Seq(
    "app.KgBuild.run.wall_s", "app.KgBuild.run.jobs", "app.KgBuild.run.stages",
    "app.KgBuild.run.tasks", "app.KgBuild.run.cpu_s", "app.KgBuild.run.gc_s",
    "app.KgBuild.rerun.wall_s", "app.KgBuild.rerun.jobs", "app.KgBuild.rerun.stages",
    "app.KgBuild.rerun.tasks",
    "materialize.resume.wall_s", "materialize.resume.input_bytes",
    "app.KgBuild.buildGraph.wall_s", "app.KgBuild.buildGraph.shuffle_bytes",
    "app.KgBuild.buildGraph.spill_bytes",
    "chunk.ConvStage.wall_s", "chunk.ConvStage.cpu_s",
    "canon.Resolver.wall_s", "canon.Resolver.jobs",
    "link.relations.wall_s", "app.KgBuild.nodes.wall_s", "app.KgBuild.edges.wall_s",
    "app.KgBuild.chunks.wall_s",
    "materialize.write.wall_s", "materialize.write.output_bytes", "materialize.write.files",
    "qa.IncrementalQa.wall_s", "qa.IncrementalQa.input_bytes", "qa.IncrementalQa.jobs",
    "app.AskMain.loadGraph.wall_s",
    "operators.Retrieval.hybrid.p50_ms", "operators.Retrieval.withDocument.p50_ms",
    "operators.Retrieval.semanticExpansion.p50_ms",
    "app.AskMain.ask.p50_ms", "app.AskMain.ask.jobs_per_req", "app.AskMain.ask.tasks_per_req",
    "app.AskMain.ask.cpu_ms_per_req",
    "app.AskServer.ask1_p50_ms", "app.AskServer.ask4_p50_ms", "app.AskServer.http_ms",
    "trace.coverage", "trace.overhead_pct")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, result: String, sessionS: Double = 0)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("result"))
  }

  def main(argv: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Bench.buildSession(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    // set-up starts with the JVM: the session is part of it
    val a = parse(argv).copy(sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val report = new Report
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val metrics = a.workload match {
      case "build_fresh" => buildFresh(spark, a, report, tracer); BuildMetrics
      case "build_fresh_noversion" => buildFresh(spark, a, report, tracer, versioned = false)
        BuildMetrics
      case "build_incremental" => buildIncremental(spark, a, report, tracer); BuildMetrics
      case "ask_serving" => askServing(spark, a, report, tracer); AskMetrics
      case w => sys.error(s"unknown workload $w")
    }
    tracer.foreach { t =>
      t.stop()
      t.writeSpans(s"${a.work}/spans.jsonl")
      println(t.table)
    }
    val wanted = if (a.trace) PerLayer else metrics
    val missing = wanted.filterNot(report.metrics.contains)
    report.metrics.filterInPlace((k, _) => wanted.contains(k))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.result), report.json.getBytes("UTF-8"))
    spark.stop()
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] metrics not measured: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    // AskServer's handler pool is not daemon; end the JVM explicitly.
    sys.exit(0)
  }

  /** Write the seeded input tables three times and keep the median time; the
    * first copy is the one the run reads.
    */
  private def generate(spark: SparkSession, a: Args, rows: Seq[Seq[BenchTurn]],
      versioned: Boolean = true): Double =
    Stats.median((0 until 3).map { i =>
      Stats.time(rows.zipWithIndex.foreach { case (r, t) =>
        Inputs.write(spark, r, s"${a.work}/input-$t-$i", versioned)
      })._2
    })

  /** Timed: the build into an empty directory, the first in a new JVM as
    * for a submitted ingest job. Then the build runs again with nothing
    * pending, which must pass QA too. Without
    * a `version` column the build detects changes by hashing every turn's
    * text. Returns the graph and the inputs.
    */
  private def buildFresh(spark: SparkSession, a: Args, report: Report, tracer: Option[Tracer],
      versioned: Boolean = true): (String, Inputs) = {
    val in = new Inputs(a.seed, Convs)
    val genS = generate(spark, a, Seq(in.baseRows), versioned)
    val turns = spark.read.parquet(s"${a.work}/input-0-0")
    val graph = s"${a.work}/graph"
    val (_, buildS) = Builds.run(spark, turns, s"kg-build:fresh-${a.seed}", graph, report)
    Builds.checkGolden(spark, graph, in.goldenTriples, report)
    reruns(spark, a, turns, graph, report, tracer)
    report.metric("setup_s", a.sessionS + genS, "s")
    report.metric("build_s", buildS, "s")
    report.metric("triples_per_s", in.relationInstances(in.window) / buildS, "triples/s")
    tracer.foreach { t =>
      layers(spark, t, turns, a, report)
      if (a.workload != "ask_serving") Serve.traced(spark, graph, in, report, t)
    }
    (graph, in)
  }

  /** Set-up builds the table before the delta and runs it again with
    * nothing pending. Timed: the run after the delta, which is then checked
    * against a fresh build of the final table.
    */
  private def buildIncremental(spark: SparkSession, a: Args, report: Report,
      tracer: Option[Tracer]): Unit = {
    val in = new Inputs(a.seed, Convs)
    val genS = generate(spark, a, Seq(in.baseRows, in.deltaRows))
    val base = spark.read.parquet(s"${a.work}/input-0-0")
    val delta = spark.read.parquet(s"${a.work}/input-1-0")
    val graph = s"${a.work}/graph"
    val (_, baseS) = Builds.run(spark, base, s"kg-build:base-${a.seed}", graph, report)
    reruns(spark, a, base, graph, report, tracer)
    tracer.foreach { _ =>
      Seq("graph-layered", "graph-again").foreach(d => Builds.copyDir(spark, graph, s"${a.work}/$d"))
    }
    val (_, buildS) = Builds.run(spark, delta, s"kg-build:delta-${a.seed}", graph, report)
    report.metric("setup_s", a.sessionS + genS + baseS, "s")
    report.metric("build_s", buildS, "s")
    report.metric("triples_per_s", in.relationInstances(pendingConvs(spark, in)) / buildS,
      "triples/s")
    Builds.checkSameAsFresh(spark, graph, delta, s"kg-build:reference-${a.seed}", report)
    tracer.foreach { t =>
      layers(spark, t, delta, a, report)
      Serve.traced(spark, graph, in, report, t)
    }
  }

  /** Set-up builds the 200-conversation graph (the JVM is warm afterwards,
    * as a long-running server's is) and starts the server. Timed: closed-loop
    * /ask at one and then four clients.
    */
  private def askServing(spark: SparkSession, a: Args, report: Report,
      tracer: Option[Tracer]): Unit = {
    val ((graph, in), buildS) = Stats.time(buildFresh(spark, a, report, tracer))
    tracer match {
      case Some(t) => Serve.traced(spark, graph, in, report, t)
      case None =>
        val r = Serve.measured(spark, graph, in, a.seconds, report)
        report.metric("setup_s", a.sessionS + buildS + r.setupS, "s")
        report.metric("ask1_p50_ms", r.oneP50, "ms")
        report.metric("ask4_p50_ms", r.fourP50, "ms")
        report.metric("ask4_rps", r.fourRps, "req/s")
    }
  }

  /** Window conversations whose bucket the delta makes pending. */
  private def pendingConvs(spark: SparkSession, in: Inputs): Seq[Long] = {
    import spark.implicits._
    val buckets = in.window.map(i => (i, in.convId(i))).toDF("idx", "conv_id")
      .withColumn("part_id", Materializer.partId("conv_id", RunConfig("").numPartitions))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val pendingParts = buckets.filter(b => in.changedConvIds.contains(b._2)).map(_._3).toSet
    buckets.filter(b => pendingParts.contains(b._3)).map(_._1).toSeq
  }

  /** Traced only: the layered rebuild of the timed build, then the same
    * build again as one `KgBuild.run` in the same warm JVM. The layers'
    * sequential spans are compared with that run's wall time. Both start
    * from what the timed build met: `graph-layered` and `graph-again` are
    * empty or copies of the prior graph.
    */
  private def layers(spark: SparkSession, t: Tracer, turns: DataFrame, a: Args,
      report: Report): Unit = {
    val outDir = s"${a.work}/graph-layered"
    val filesBefore = Builds.parquetFiles(spark, outDir)
    val layered = Builds.layered(spark, turns, s"kg-build:layered-${a.seed}", outDir, t)
    val filesAfter = Builds.parquetFiles(spark, outDir)
    val (_, runS) = Builds.run(spark, turns, s"kg-build:again-${a.seed}", s"${a.work}/graph-again", report,
      Some(t), "app.KgBuild.run")
    t.drain()
    def one(name: String): (Span, Work) = {
      val s = t.all.filter(_.name == name).last
      (s, t.totalWork(s.id))
    }
    val (run, runW) = one("app.KgBuild.run")
    report.metric("app.KgBuild.run.wall_s", run.seconds, "s")
    report.metric("app.KgBuild.run.jobs", runW.jobs, "count")
    report.metric("app.KgBuild.run.stages", runW.stages, "count")
    report.metric("app.KgBuild.run.tasks", runW.tasks, "count")
    report.metric("app.KgBuild.run.cpu_s", runW.cpuNs / 1e9, "s")
    report.metric("app.KgBuild.run.gc_s", runW.gcMs / 1e3, "s")
    val (rerun, rerunW) = one("app.KgBuild.rerun")
    report.metric("app.KgBuild.rerun.wall_s", rerun.seconds, "s")
    report.metric("app.KgBuild.rerun.jobs", rerunW.jobs, "count")
    report.metric("app.KgBuild.rerun.stages", rerunW.stages, "count")
    report.metric("app.KgBuild.rerun.tasks", rerunW.tasks, "count")
    val (resume, resumeW) = one("materialize.resume")
    report.metric("materialize.resume.wall_s", resume.seconds, "s")
    report.metric("materialize.resume.input_bytes", resumeW.input, "B")
    val (bg, bgW) = one("app.KgBuild.buildGraph")
    report.metric("app.KgBuild.buildGraph.wall_s", bg.seconds, "s")
    report.metric("app.KgBuild.buildGraph.shuffle_bytes", bgW.shuffleRead + bgW.shuffleWrite, "B")
    report.metric("app.KgBuild.buildGraph.spill_bytes", bgW.spill, "B")
    val (cs, csW) = one("chunk.ConvStage")
    report.metric("chunk.ConvStage.wall_s", cs.seconds, "s")
    report.metric("chunk.ConvStage.cpu_s", csW.cpuNs / 1e9, "s")
    val (rs, rsW) = one("canon.Resolver")
    report.metric("canon.Resolver.wall_s", rs.seconds, "s")
    report.metric("canon.Resolver.jobs", rsW.jobs, "count")
    Seq("link.relations", "app.KgBuild.nodes", "app.KgBuild.edges", "app.KgBuild.chunks")
      .foreach(n => report.metric(s"$n.wall_s", one(n)._1.seconds, "s"))
    val (wr, wrW) = one("materialize.write")
    report.metric("materialize.write.wall_s", wr.seconds, "s")
    report.metric("materialize.write.output_bytes", wrW.output, "B")
    report.metric("materialize.write.files", filesAfter - filesBefore, "count")
    val (qa, qaW) = one("qa.IncrementalQa")
    report.metric("qa.IncrementalQa.wall_s", qa.seconds, "s")
    report.metric("qa.IncrementalQa.input_bytes", qaW.input, "B")
    report.metric("qa.IncrementalQa.jobs", qaW.jobs, "count")
    report.metric("trace.coverage", t.children(layered.id).map(_.seconds).sum / runS, "ratio")
  }

  /** Runs with nothing pending: one, or in a traced run five, with the
    * listener on, off, on, off, on; the traced run reports how much slower
    * the runs with it were.
    */
  private def reruns(spark: SparkSession, a: Args, turns: DataFrame, graph: String,
      report: Report, tracer: Option[Tracer]): Unit = {
    val times = (0 until (if (tracer.isEmpty) 1 else 5)).map { i =>
      val on = i % 2 == 0
      tracer.foreach(t => if (on) t.resume() else t.pause())
      on -> Builds.run(spark, turns, s"kg-build:rerun-${a.seed}-$i", graph, report,
        tracer.filter(_ => on), "app.KgBuild.rerun")._2
    }
    tracer.foreach { t =>
      t.resume()
      val (on, off) = times.partition(_._1)
      report.metric("trace.overhead_pct",
        100 * (Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1), "%")
    }
  }
}
