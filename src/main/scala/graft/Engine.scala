package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session preparation + output canonicalization shared by every entry
  * point (SparkEntry.queries, Verify, Bench, tests). */
object Engine {

  /** The scheduled jobs' session: `local[SPARK_GRAFT_CPUS]` (default:
    * every available core) with as many shuffle partitions, prepared.
    * `getOrCreate`, so a caller that already built a session (a test,
    * a benchmark harness) gets that one. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = prepare(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run the named writes of one `job` at the same time, from a driver
    * pool of at most `defaultParallelism` threads (the session's
    * cores), taking them in order. Waits for every write, then throws
    * "<job>: k of n writes failed, first <name>" (the others
    * suppressed) if any failed — waiting first, so no write still
    * reads an input the caller releases after. The pool is shut down
    * on every path. */
  def writeAll(spark: SparkSession, job: String,
      writes: Seq[(String, () => Unit)]): Unit = {
    val pool = Executors.newFixedThreadPool(
      math.min(writes.size, spark.sparkContext.defaultParallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val running = writes.map { case (name, w) => name -> Future(w()) }
      val failures = running.flatMap { case (name, f) =>
        Await.ready(f, Duration.Inf).value.flatMap(_.failed.toOption).map(name -> _)
      }
      failures.headOption.foreach { case (name, e) =>
        val err = new RuntimeException(
          s"$job: ${failures.size} of ${writes.size} writes failed, first $name", e)
        failures.tail.foreach(f => err.addSuppressed(f._2))
        throw err
      }
    } finally pool.shutdown()
  }

  /** Idempotent runtime session config.
    *  - ANSI off: the reference ran Spark 3.x ANSI-off; its cleaning
    *    relies on junk→NULL casts (SURVEY.md quirk Q-j). Spark 4 flips
    *    the default, so set it explicitly per session.
    *  - UTC: emulator timestamps are TZ-less ISO strings (UPLOAD:91);
    *    both Spark and the DuckDB oracle must parse them in one zone.
    *  - AQE on: runtime coalescing + skew-join handling — the 100 TB
    *    posture baked in even on local[32].
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // InferFiltersFromGenerate turns explode(f(x)) into an inferred
    // `size(f(x)) > 0` filter that PushDownPredicates then sinks below
    // every exchange to the scan — re-evaluating the generator child
    // (here: whole shingle/tokenize HOF pipelines, with their own
    // children inlined per reference) once more per INPUT row, on the
    // scan's parallelism. Measured 6s of single-task CPU per dedup
    // query at sf0.1; at 100 TB it double-charges the most expensive
    // projection of the pipeline. The rows it would drop (empty token
    // arrays) are a negligible fraction, so exclude the rule.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // events.parquet carries TIMESTAMP(MICROS) with isAdjustedToUTC
    // false → TIMESTAMP_NTZ on read; under the UTC session above,
    // cast-to-timestamp + unix_micros reproduces DuckDB's epoch_us
    // exactly. (Earlier testdata generations used TIMESTAMP(NANOS),
    // needing the legacy nanosAsLong long-read — no longer present.)
    // RocksDB state store: the production-grade provider (state spills
    // to disk instead of living on the JVM heap — the 100 TB posture
    // for large streaming state), and the only one supporting the
    // multiple column families transformWithState needs.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // TxLog's DataSourceV2 catalog: `graft.`<table-dir>`` identifiers
    // resolve to TxLog snapshots with SQL time travel (VERSION AS OF /
    // TIMESTAMP AS OF), INSERT INTO/OVERWRITE, and DELETE FROM.
    // Catalog configs are read lazily at first resolution, so setting
    // it here covers every session.
    spark.conf.set("spark.sql.catalog.graft",
      "org.apache.spark.sql.graftx.GraftCatalog")
    spark
  }

  /** Deterministic total order over every output column (asc, NULLS
    * FIRST — Spark's asc default). The driver hash-compares results
    * against the DuckDB oracle, so ties left by a query's own ORDER BY
    * must be broken identically on both sides; each oracle twin ends
    * with the same explicit ORDER BY ... ASC NULLS FIRST list.
    * Single extra exchange on an already-small result — negligible. */
  def canonical(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
}
