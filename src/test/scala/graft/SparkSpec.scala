package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object SharedSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // Suites share this one session. FAIR mode with no pools configured
    // puts every job into the single `default` pool, which schedules FIFO
    // inside, so a short job (e.g. an /ask round-trip in AskSpec's latency
    // test) still queues behind a running multi-second job; isolating it
    // needs a per-request `spark.scheduler.pool`.
    // Test-harness-only: production sessions (Bench/KgBuildMain) are
    // unaffected.
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()
}
