package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Sampling}

/** CorpusJob.run: the concurrent writes produce what the library calls
  * produce one after another, and a failed output is named without
  * holding back the others. */
class CorpusJobSpec extends SparkSpec {

  private val outputs = Seq("manifest", "funnel") ++
    Seq("train", "val", "test").map(s => s"sequences/split=$s")

  private def outDir(): String = Files.createTempDirectory("corpusjob_spec").toString

  test("the five outputs equal the curation calls run one after another") {
    val out = outDir()
    CorpusJob.run(spark, sf, out, 8)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val manifest = Curation.pretrainingCorpus(docs, emb)
    val withText = manifest.select("doc_id", "split")
      .join(docs.select("doc_id", "text"), "doc_id")
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
    val expected = Seq(manifest,
      Curation.curationFunnel(docs, docs.where(col("doc_id") % 97 === 0))) ++
      Seq("train", "val", "test").map(s => Sampling.packSequences(Sampling.packShards(
        withText.where(col("split") === s), "n_tokens", budget = 2048, nBuckets = 8)))
    outputs.zip(expected).foreach { case (name, want) =>
      val got = spark.read.parquet(s"$out/$name")
      assert(got.columns.toSeq == want.columns.toSeq, name)
      val rows = Engine.canonical(got).collect().toSeq
      assert(rows.nonEmpty, name)
      assert(rows == Engine.canonical(want).collect().toSeq, name)
    }
  }

  test("a failed funnel write is named, and the other four outputs still commit") {
    // the funnel's output path is a dangling symlink: overwrite mode
    // would delete a regular file there, but this path can be made
    // neither a directory nor deleted, so that one write fails
    val out = outDir()
    Files.createSymbolicLink(Paths.get(out, "funnel"), Paths.get(out, "missing", "funnel"))
    val e = intercept[RuntimeException](CorpusJob.run(spark, sf, out, 8))
    assert(e.getMessage.contains("1 of 5 writes failed, first funnel"), e.getMessage)
    outputs.filter(_ != "funnel").foreach(o =>
      assert(Files.exists(Paths.get(out, o, "_SUCCESS")), o))
  }
}
