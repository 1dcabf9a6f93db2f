package perfbench

import graft.app.{AskMain, KgBuild}
import graft.canon.Resolver
import graft.chunk.ConvStage
import graft.materialize.Materializer
import graft.model.{ChunkProfile, RunConfig, Triple}
import graft.qa.IncrementalQa
import graft.qa.QaEvaluator.{QaResult, QaThresholds}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Materializing builds: timed `KgBuild.run` calls and the checks on what
  * they wrote.
  */
object Builds {

  /** Change detection uses the table's `version` column when it has one. */
  def config(runKey: String, turns: DataFrame): RunConfig =
    RunConfig(runKey = runKey, inputVersionCol = Some("version").filter(turns.columns.contains))

  /** One timed `KgBuild.run`; QA must pass. */
  def run(spark: SparkSession, turns: DataFrame, runKey: String, outDir: String,
      report: Report, tracer: Option[Tracer] = None, span: String = ""): (QaResult, Double) = {
    val cfg = config(runKey, turns)
    val (qa, s) = Stats.time(tracer.fold(KgBuild.run(spark, turns, cfg, outDir))(
      _.span(span)(KgBuild.run(spark, turns, cfg, outDir))))
    report.note(f"KgBuild.run $runKey%s $s%.3f s ${qa.status}%s")
    report.check(s"KgBuild.run $runKey QA", qa.status == "pass",
      s"status ${qa.status}, anomalies ${qa.anomalies}")
    (qa, s)
  }

  def triples(nodes: DataFrame, edges: DataFrame): Set[Triple] =
    KgBuild.tripleView(nodes, edges).collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2))).toSet

  /** Triple precision and recall against the generator's golden set. */
  def checkGolden(spark: SparkSession, outDir: String, golden: Set[Triple], report: Report): Unit = {
    val v = AskMain.graphView(spark, outDir)
    val emitted = triples(v.nodes, v.edges)
    val tp = (emitted intersect golden).size.toDouble
    val p = if (emitted.isEmpty) 0.0 else tp / emitted.size
    val r = if (golden.isEmpty) 0.0 else tp / golden.size
    report.check("triple P/R >= 0.95", p >= 0.95 && r >= 0.95, f"precision $p%.4f recall $r%.4f")
  }

  /** Node ids, edge keys and triples of the materialized graph at `outDir`
    * must equal those of a fresh build of `turns`. The fresh build is
    * `KgBuild.buildGraph`, the transform `KgBuild.run` writes, so no second
    * set of files is needed.
    */
  def checkSameAsFresh(spark: SparkSession, outDir: String, turns: DataFrame, runKey: String,
      report: Report): Unit = {
    val got = AskMain.graphView(spark, outDir)
    val fresh = KgBuild.buildGraph(turns, config(runKey, turns))
    def ids(nodes: DataFrame) = nodes.select("id").distinct().collect().map(_.getString(0)).toSet
    def keys(edges: DataFrame) = edges.select("src", "dst", "rel_type").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    try {
      val (gi, wi) = (ids(got.nodes), ids(fresh.nodes))
      report.check("re-ingested node ids == fresh build", gi == wi,
        s"${gi.size} vs ${wi.size} nodes: ${(gi -- wi).size} extra " +
          s"(${(gi -- wi).count(_.startsWith("chunk:"))} Chunk), ${(wi -- gi).size} missing")
      val (gk, wk) = (keys(got.edges), keys(fresh.edges))
      report.check("re-ingested edge keys == fresh build", gk == wk,
        s"${gk.size} vs ${wk.size} edges: ${(gk -- wk).size} extra, ${(wk -- gk).size} missing")
      val (gt, wt) = (triples(got.nodes, got.edges), triples(fresh.nodes, fresh.edges))
      report.check("re-ingested tripleView == fresh build", gt == wt,
        s"${gt.size} vs ${wt.size} triples: ${(gt -- wt).size} extra, ${(wt -- gt).size} missing")
    } finally fresh.release()
  }

  /** Traced only: `KgBuild.run` rebuilt from its public pieces, one span per
    * layer, writing to `outDir`. The spans under `app.KgBuild.run.layered`
    * (resume, buildGraph, write, QA) follow the run's own sequence; those
    * under `isolated` then force single tables through a noop sink and are
    * not part of that sequence. Returns the layered span.
    */
  def layered(spark: SparkSession, turns: DataFrame, runKey: String, outDir: String,
      tracer: Tracer): Span = {
    val cfg = config(runKey, turns)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()
    val g = tracer.span("app.KgBuild.run.layered") {
      val (checks, pending) = tracer.span("materialize.resume") {
        KgBuild.recoverPendingRollback(spark, outDir)
        val checks = Materializer.inputChecksums(turns, cfg.numPartitions, cfg.inputVersionCol)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val done = Materializer.completedPartitions(spark, outDir, "nodes", checks)
        val pending = turns
          .withColumn("part_id", Materializer.partId("conv_id", cfg.numPartitions))
          .join(done, Seq("part_id"), "left_anti")
          .drop("part_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        pending.isEmpty
        (checks, pending)
      }
      val g = tracer.span("app.KgBuild.buildGraph")(KgBuild.buildGraph(pending, cfg))
      tracer.span("materialize.write") {
        val nodes = g.nodes.persist(StorageLevel.MEMORY_AND_DISK)
        val edges = g.edges.persist(StorageLevel.MEMORY_AND_DISK)
        Materializer.writeWithManifest(edges, outDir, "edges", cfg, checks)
        Materializer.stamp(g.chunks, cfg).write.mode(SaveMode.Append).partitionBy("part_id")
          .parquet(s"$outDir/chunks")
        Materializer.stamp(g.turnChecksums, cfg).write.mode(SaveMode.Append).partitionBy("part_id")
          .parquet(s"$outDir/turn_checksums")
        edges.groupBy(col("part_id"), col("rel_type")).agg(count(lit(1)).as("rows"))
          .withColumn("run_key", lit(cfg.runKey))
          .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
        val pendingIds = nodes.select("part_id").distinct().collect().map(_.getInt(0)).toSeq
        val existing = Materializer.readParquetIfPresent(spark, s"$outDir/nodes") match {
          case Some(prior) => prior.filter(col("part_id").isin(pendingIds: _*))
          case None => nodes.limit(0)
        }
        val merged = Materializer.mergeUpsert(existing, nodes, Seq("part_id", "id")).localCheckpoint()
        Materializer.writeWithManifest(merged, outDir, "nodes", cfg, checks, dynamicOverwrite = true)
        nodes.unpersist(); edges.unpersist()
      }
      pending.unpersist(); checks.unpersist()
      val qa = tracer.span("qa.IncrementalQa")(
        IncrementalQa.evaluate(spark, outDir, turns, cfg, QaThresholds()))
      if (qa.status == "fail") KgBuild.rollbackRun(spark, outDir, Seq(cfg.runKey))
      g
    }
    tracer.span("isolated") {
      tracer.span("link.relations")(noop(g.relations))
      tracer.span("app.KgBuild.nodes")(noop(g.nodes))
      tracer.span("app.KgBuild.edges")(noop(g.edges))
      tracer.span("app.KgBuild.chunks")(noop(g.chunks))
      g.release()
      tracer.span("chunk.ConvStage") {
        val arts = ConvStage.artifacts(turns, ChunkProfile.text)
        noop(arts.toDF())
        arts.unpersist()
      }
      tracer.span("canon.Resolver")(noop(Resolver.canonicalEntities(spark)))
    }
    tracer.all.filter(_.name == "app.KgBuild.run.layered").last
  }

  /** Parquet files under a directory, recursively. */
  def parquetFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new org.apache.hadoop.fs.Path(to),
      false, spark.sparkContext.hadoopConfiguration)
  }
}
