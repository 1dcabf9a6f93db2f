package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.app.{KgBuildMain, Session}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** The measurement entry point. The frozen Bench stays the artifact of
  * record; its session is used here so numbers stay comparable. Per-layer
  * build and `/ask` numbers come from the traced benchmark run,
  * `python3 perfbench/run.py --workload build_fresh --trace 1`.
  *
  *   queries [name...] [--reps N] [--plans DIR SUFFIX] [--conf k=v ...]
  *     Runs each named SparkEntry query (all of them by default) N times
  *     (default 3) through a noop sink, which computes every column of every
  *     row without paying a sink (count() prunes computed columns). Prints
  *     the min, the trail and the Exchange count of the query's physical
  *     plan; --plans also writes the formatted plan to DIR/<name>_SUFFIX.txt.
  *     Needs SPARK_GRAFT_SF_DIR.
  *   scale [build]
  *     N→4N scaling evidence: adaptive warm-up, then the median of three
  *     builds of 10x the sf size (or SPARK_GRAFT_SCALE_CONVS conversations),
  *     as one JSON line. Run once per parallelism level, each in a fresh JVM:
  *     heap sizing, page-in and JIT state otherwise bleed across levels.
  *     Efficiency across levels = (sec_N / sec_4N) / 4.
  *   scale ngram [size...]
  *     String vs hashed gram keys for Dedup.ngramJaccardPairs on synthetic
  *     corpora (default 50000 docs) large enough that the posting and prefix
  *     joins shuffle, with wall time and shuffle-write MB per run.
  *
  * Names and sizes come before flags, because a bare token after a flag
  * joins that flag's value (KgBuildMain.parseArgs). SPARK_GRAFT_CPUS sets
  * the parallelism (default: available processors).
  */
object Profile {

  private val usage =
    "usage: graft.Profile queries [name...] [--reps N] [--plans DIR SUFFIX] [--conf k=v ...]\n" +
      "       graft.Profile scale [build | ngram [size...]]\n" +
      "queries reads its tables from SPARK_GRAFT_SF_DIR"

  def main(args: Array[String]): Unit = {
    val (positional, flags) = args.span(!_.startsWith("--"))
    val a = KgBuildMain.parseArgs(flags)
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    positional.toList match {
      case "queries" :: names if sfDir.isDefined => queries(sfDir.get, names, a)
      case "scale" :: Nil | "scale" :: "build" :: Nil => scaleBuild(sfDir.getOrElse("sf0.1"))
      case "scale" :: "ngram" :: sizes => scaleNgram(sizes.map(_.toLong))
      case _ => System.err.println(usage); sys.exit(2)
    }
  }

  private val cpus = Session.cpus.toString

  private def session(): SparkSession = {
    val spark = Bench.buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  /** Shuffle and broadcast exchanges in the physical plan (AQE's initial
    * plan, as the df is unexecuted), counting subqueries and each persisted
    * input's plan once. Exchanges that ran eagerly while the query was built
    * (behind a localCheckpoint or collect) are not in the plan.
    */
  private def exchangeCount(df: DataFrame): Int = {
    val seen = mutable.Set.empty[SparkPlan]
    def count(plan: SparkPlan): Int = planHelper.collectWithSubqueries(plan) {
      case _: Exchange => 1
      case s: InMemoryTableScanExec if seen.add(s.relation.cachedPlan) => count(s.relation.cachedPlan)
    }.sum
    count(df.queryExecution.executedPlan)
  }

  private def queries(sfDir: String, names: Seq[String], a: Map[String, String]): Unit = {
    val spark = session()
    a.get("conf").toSeq.flatMap(_.split("\\s+")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val reps = a.get("reps").map(_.toInt).getOrElse(3)
    val plans = a.get("plans").map(_.split("\\s+")).map(p => (p(0), p.lift(1).getOrElse("before")))
    plans.foreach(p => Files.createDirectories(Paths.get(p._1)))
    val sel = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    sel.foreach { name =>
      val fn = SparkEntry.queries(name)
      var exchanges = "?"
      val ts = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        val df =
          try {
            val d = fn(spark, sfDir)
            d.write.format("noop").mode("overwrite").save()
            Some(d)
          } catch { case e: Throwable =>
            println(s"[profile] $name FAILED: ${e.toString.take(200)}"); None }
        val dt = (System.nanoTime() - t0) / 1e9
        // the noop write plans its own copy, so the df's plan is still unexecuted
        if (r == 1) df.foreach { d =>
          exchanges = exchangeCount(d).toString
          plans.foreach { case (dir, suffix) =>
            Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"),
              d.queryExecution.explainString(FormattedMode))
          }
        }
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(null)
        dt
      }
      println(f"[profile] $name%-28s min=${ts.min}%7.2f s  exchanges=$exchanges%3s  " +
        s"trail=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }

  private def scaleBuild(sfDir: String): Unit = {
    // 10x the per-round bench size: the scaling measurement needs a
    // compute-bound job (at bench size the warm job is seconds and scheduler
    // overhead dominates past 8 threads).
    val numConvs = sys.env.get("SPARK_GRAFT_SCALE_CONVS").map(_.toLong)
      .getOrElse(Bench.convsForSf(sfDir) * 10)
    val spark = session()
    val warmups = Bench.warmUntilStable(spark, numConvs)
    val runs = (1 to 3).map(_ => Bench.kgBuildOnce(spark, numConvs))
    val secs = runs.map(_._3).sorted
    val median = secs(1)
    val (nTurns, nTriples, _) = runs.head
    spark.stop()
    println(
      s"""{"metric":"kg build seconds at local[$cpus]","value":$median,"unit":"sec","runs":[${secs.mkString(",")}],"warmups":[${warmups.mkString(",")}],"throughput":${nTriples / median},"turns":$nTurns,"triples":$nTriples,"convs":$numConvs,"cpus":$cpus,"sf":"$sfDir"}""")
  }

  private def scaleNgram(sizesArg: Seq[Long]): Unit = {
    val sizes = if (sizesArg.nonEmpty) sizesArg else Seq(50000L)
    val spark = session()

    // Deterministic word-bag docs over a quadratically skewed vocabulary, so
    // gram document frequencies are realistic rather than uniform-unique;
    // every 97th doc clones its neighbour, so the verifier has exact-dup hits.
    def corpus(n: Long) = {
      val vocab = 20000
      val seed = when(pmod(col("id"), lit(97)) === 0 && col("id") + 1 < n,
        col("id") + 1).otherwise(col("id"))
      val len = (lit(60) + pmod(xxhash64(seed, lit(-1)), lit(80))).cast("int")
      spark.range(n).select(
        col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), len - 1),
          i => concat(lit("w"),
            floor(lit(vocab) * pow(pmod(xxhash64(seed, i), lit(1000000))
              .cast("double") / 1e6, 2.0)).cast("long"))), " ").as("text"))
    }

    // shuffle-write bytes over all stages of a run: the cost the hashed keys
    // save (local mode shuffles through RAM, so wall time understates it)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    })

    sizes.foreach { n =>
      // materialized once, so text generation is outside both timings
      val docs = corpus(n).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[nprobe] corpus n=$n rows=${docs.count()}")
      Seq(false, true).foreach { hashed =>
        val label = if (hashed) "hashed" else "string"
        val trail = (1 to 3).map { _ =>
          val b0 = shuffleBytes.get()
          val t0 = System.nanoTime()
          val pairs = Dedup.ngramJaccardPairs(
            docs, "doc_id", "text", n = 3, threshold = 0.8, hashGrams = hashed).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events arrive asynchronously; let this run's drain
          Thread.sleep(500)
          (dt, pairs, (shuffleBytes.get() - b0) / 1e6)
        }
        println(f"[nprobe] n=$n $label%-6s trail=${trail.map(t => f"${t._1}%.2f").mkString(",")} s  " +
          f"shuffleMB=${trail.map(t => f"${t._3}%.0f").mkString(",")}  pairs=${trail.head._2}")
      }
      docs.unpersist()
    }
    spark.stop()
  }
}
