package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.PinQueries

/** BatchJob.run: same outputs as the uncached queries, each cleaned
  * table evaluated through one shared cached relation, and no cache
  * left behind on success or on failure. */
class BatchJobSpec extends SparkSpec {

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def outDir(): String = Files.createTempDirectory("batchjob_spec").toString

  test("the nine outputs equal q1..q9 over uncached cleaned tables") {
    val out = outDir()
    BatchJob.run(spark, sf, out)
    val (pin, geo, user) = PinQueries.cleanedTables(spark, sf)
    val expected = Seq(
      "q1" -> PinQueries.q1(pin, geo), "q2" -> PinQueries.q2(pin, geo),
      "q3" -> PinQueries.q3(pin, geo), "q4" -> PinQueries.q4(pin, geo),
      "q5" -> PinQueries.q5(pin, user), "q6" -> PinQueries.q6(pin, user),
      "q7" -> PinQueries.q7(user), "q8" -> PinQueries.q8(pin, user),
      "q9" -> PinQueries.q9(pin, user))
    expected.foreach { case (name, want) =>
      val got = spark.read.parquet(s"$out/$name")
      assert(got.columns.toSeq == want.columns.toSeq, name)
      val rows = Engine.canonical(got).collect().toSeq
      assert(rows.nonEmpty, name)
      assert(rows == Engine.canonical(want).collect().toSeq, name)
    }
  }

  test("run leaves the cache empty, also when a write fails") {
    spark.catalog.clearCache() // fixtures cached by other suites
    BatchJob.run(spark, sf, outDir())
    assert(cacheEmpty)

    // q5's output path is a dangling symlink: it cannot be made a
    // directory, so that one write fails and the other eight succeed
    val out = outDir()
    Files.createSymbolicLink(Paths.get(out, "q5"), Paths.get(out, "missing", "q5"))
    val e = intercept[RuntimeException](BatchJob.run(spark, sf, out))
    assert(e.getMessage.contains("1 of 9 writes failed, first q5"), e.getMessage)
    assert(cacheEmpty)
    assert((1 to 9).filter(_ != 5).forall(i => Files.exists(Paths.get(out, s"q$i", "_SUCCESS"))))
  }

  test("every query reads the cleaned tables through three shared cached relations") {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.withCachedData match {
          case w: InsertIntoHadoopFsRelationCommand => plans.add(w)
          case _ => // the temp views
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BatchJob.run(spark, sf, outDir())
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 60000
      while (plans.size < 9 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)

    val writes = plans.asScala.toSeq
    assert(writes.size == 9)
    writes.foreach { p =>
      assert(p.collect { case r: InMemoryRelation => r }.nonEmpty, p.treeString)
      assert(p.collect { case r: LogicalRelation => r }.isEmpty, p.treeString)
    }
    val builders = writes.flatMap(_.collect { case r: InMemoryRelation => r.cacheBuilder })
    assert(builders.map(System.identityHashCode).distinct.size == 3)
  }
}
