package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{PinQueries, PinSql}

/** The reference's daily batch run as one schedulable main — the
  * analog of its Airflow DAG triggering the analytics notebook
  * (reference 12471ce1b695_dag.py:24-36 → BATCH notebook): land/read
  * the three raw tables, clean them once, register the SQL views, run
  * all nine analytics queries, write each result to parquet.
  *
  * Usage: `runMain graft.BatchJob <sfDir> <outDir>`. Idempotent
  * (overwrite mode) — exactly what a daily `cron`/Airflow retry wants.
  *
  * Clean once, query concurrently (the notebook's clean-once-query-many
  * shape, in execution and not just in code):
  *  - The three cleaned tables are persisted `MEMORY_AND_DISK`, so
  *    derive + C1–C13 run once per table, not once per query that
  *    reads it. Memory-and-disk, because a table larger than the
  *    storage pool spills its blocks instead of being recomputed.
  *    Cached, never `localCheckpoint`ed: the cache keeps the lineage,
  *    so a block lost with an executor is recomputed from the input
  *    rather than failing the run.
  *  - The nine query-to-parquet writes are independent plans over
  *    the shared cached inputs. They are submitted together from a
  *    driver-side pool of at most `defaultParallelism` threads (the
  *    session's cores) and run at the same time on one scheduler.
  *    The run waits for all nine and fails if any of them failed.
  *  - `run` owns the cache and the pool: both are released in
  *    `finally`, on success and on failure alike. The cleaned frames
  *    stay out of the global `Pin` registry.
  */
object BatchJob {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_batch").toString)
    val spark = Engine.session()
    try run(spark, sfDir, outDir)
    finally spark.stop()
  }

  /** Clean `sfDir`'s tables once, write the nine queries to
    * `<outDir>/q1` … `<outDir>/q9` concurrently, release the cache. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val (pin, geo, user) = PinQueries.cleanedTables(spark, sfDir)
    val queries = Seq(
      "q1" -> (() => PinQueries.q1(pin, geo)),
      "q2" -> (() => PinQueries.q2(pin, geo)),
      "q3" -> (() => PinQueries.q3(pin, geo)),
      "q4" -> (() => PinQueries.q4(pin, geo)),
      "q5" -> (() => PinQueries.q5(pin, user)),
      "q6" -> (() => PinQueries.q6(pin, user)),
      "q7" -> (() => PinQueries.q7(user)),
      "q8" -> (() => PinQueries.q8(pin, user)),
      "q9" -> (() => PinQueries.q9(pin, user)))
    val cleaned = Seq(pin, geo, user)
    try {
      cleaned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      PinSql.registerViews(pin, geo, user)
      Engine.writeAll(spark, "BatchJob", queries.map { case (name, q) =>
        name -> (() => {
          q().write.mode("overwrite").parquet(s"$outDir/$name")
          println(s"[batch] $name -> $outDir/$name")
        })
      })
      println(s"[batch] done: ${queries.size} queries -> $outDir")
    } finally cleaned.foreach(_.unpersist())
  }
}
