package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{BatchJob, CorpusJob}
import graft.ext.{Curation, Sampling}
import graft.pipeline.{Cleaning, PinQueries, PinSql, RawDerive}

/** The two closed-loop jobs. A measured run calls the job's own `main`,
  * which picks up the harness session (already built with the same
  * config, with the probes attached) and stops it at the end.
  *
  * The traced variants repeat the calls of each `main` in the same
  * order, wrap each layer call in a span, and persist and count at the
  * layer boundaries, so each layer's jobs are its own. */
object Jobs {

  val batchOutputs: Seq[String] = (1 to 9).map(i => s"q$i")
  val corpusOutputs: Seq[String] =
    Seq("manifest", "funnel") ++ Seq("train", "val", "test").map(s => s"sequences/split=$s")

  /** Run BatchJob.main or CorpusJob.main; the session is stopped after. */
  def runMain(batch: Boolean, inDir: String, outDir: String): Unit =
    if (batch) BatchJob.main(Array(inDir, outDir)) else CorpusJob.main(Array(inDir, outDir))

  /** Epoch milliseconds at which each output committed: the mtime of
    * its `_SUCCESS` marker. */
  def commitMs(outDir: String, outputs: Seq[String]): Seq[Long] =
    outputs.map { o =>
      val f = new File(s"$outDir/$o/_SUCCESS")
      require(f.isFile, s"output $o did not commit")
      f.lastModified()
    }

  private def batchQueries(pin: DataFrame, geo: DataFrame,
      user: DataFrame): Seq[(String, () => DataFrame)] = Map(
    "q1" -> (() => PinQueries.q1(pin, geo)),
    "q2" -> (() => PinQueries.q2(pin, geo)),
    "q3" -> (() => PinQueries.q3(pin, geo)),
    "q4" -> (() => PinQueries.q4(pin, geo)),
    "q5" -> (() => PinQueries.q5(pin, user)),
    "q6" -> (() => PinQueries.q6(pin, user)),
    "q7" -> (() => PinQueries.q7(user)),
    "q8" -> (() => PinQueries.q8(pin, user)),
    "q9" -> (() => PinQueries.q9(pin, user))).toSeq.sortBy(_._1)

  private def materialize(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  def batchTraced(spark: SparkSession, inDir: String, outDir: String,
      sp: Spans): Unit = sp("job") {
    val raw = sp("derive") {
      val (p, g, u) = RawDerive.tables(spark, inDir)
      Seq(p, g, u).map(materialize)
    }
    val cleaned = sp("clean") {
      Seq(Cleaning.cleanPin(raw(0)), Cleaning.cleanGeo(raw(1)),
        Cleaning.cleanUser(raw(2))).map(materialize)
    }
    val Seq(pin, geo, user) = cleaned
    PinSql.registerViews(pin, geo, user)
    batchQueries(pin, geo, user).foreach { case (name, q) =>
      val df = sp(s"query.$name")(materialize(q()))
      sp("sink")(df.write.mode("overwrite").parquet(s"$outDir/$name"))
      df.unpersist()
    }
    (raw ++ cleaned).foreach(_.unpersist())
  }

  /** CorpusJob.main with its default 8 pack buckets. */
  def corpusTraced(spark: SparkSession, inDir: String, outDir: String,
      sp: Spans): Unit = sp("job") {
    val docs = spark.read.parquet(s"$inDir/documents.parquet")
    val emb = spark.read.parquet(s"$inDir/embeddings.parquet")
    val kept = sp("curation") {
      val manifest = Curation.pretrainingCorpus(docs, emb)
      manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
      val kept = spark.read.parquet(s"$outDir/manifest")
      kept.count()
      kept
    }
    sp("funnel") {
      val funnel = Curation.curationFunnel(docs, docs.where(col("doc_id") % 97 === 0))
      funnel.write.mode("overwrite").parquet(s"$outDir/funnel")
      funnel.orderBy("stage").collect()
    }
    sp("pack") {
      val withText = kept.select("doc_id", "split")
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      Seq("train", "val", "test").foreach { s =>
        val packed = Sampling.packSequences(Sampling.packShards(
          withText.where(col("split") === s), "n_tokens", budget = 2048, nBuckets = 8))
        packed.write.mode("overwrite").parquet(s"$outDir/sequences/split=$s")
        packed.count()
      }
    }
  }
}
