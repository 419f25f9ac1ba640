package graft

import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Sampling}

/** The training-data twin of `BatchJob`: one schedulable main that
  * builds the full pretraining corpus and its packed training
  * sequences — the complete curation DAG a data team would run
  * nightly over new crawl drops:
  *
  *   1. `Curation.pretrainingCorpus`: lex + LM quality, repetition,
  *      exact + semantic dedup, leakage-safe split — one plan;
  *   2. keep-list join back to the raw text;
  *   3. `Sampling.packShards` + `packSequences`: token-budget shard
  *      assignment and the id-ordered concatenated sequences;
  *   4. parquet out: the curated manifest, the curation funnel, and
  *      the per-split packed sequences a tokenizer/loader consumes.
  *
  * Usage: `runMain graft.CorpusJob <sfDir> <outDir> [nBuckets]`.
  * Idempotent (overwrite mode) AND reproducible across machines:
  * `nBuckets` is pinned (default 8) rather than left to
  * `defaultParallelism`, because the bucket count determines shard
  * membership — a CPU-count-dependent default would make the packed
  * artifact differ between a laptop build and a cluster build of the
  * same corpus.
  *
  * The five outputs are written concurrently, as far as their
  * dependencies allow (`Engine.writeAll`: a driver pool of at most
  * `defaultParallelism` threads, every write awaited, any failure
  * rethrown naming the output):
  *  - the funnel reads only the documents, so it runs alongside the
  *    manifest;
  *  - the three splits pack the committed manifest, so each waits
  *    for it and then all three run together; a failed manifest
  *    fails them with its error.
  * Every printed count is read back from the committed parquet, never
  * by re-running the plan that was just written. */
object CorpusJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_corpus").toString)
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = Engine.session()
    try run(spark, sfDir, outDir, nBuckets)
    finally spark.stop()
  }

  /** Build `sfDir`'s curated corpus into `<outDir>/manifest`,
    * `<outDir>/funnel` and `<outDir>/sequences/split={train,val,test}`. */
  def run(spark: SparkSession, sfDir: String, outDir: String, nBuckets: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def commit(name: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }
    // forced by the manifest write and by each split; the first to run
    // builds it, the others wait, and a failure is kept, not retried
    lazy val kept = Try(commit("manifest", Curation.pretrainingCorpus(docs, emb)))

    // pack each split separately (a loader never mixes splits)
    def pack(s: String): Unit = {
      val withText = kept.get.select("doc_id", "split")
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      val packed = commit(s"sequences/split=$s", Sampling.packSequences(
        Sampling.packShards(withText.where(col("split") === s), "n_tokens",
          budget = 2048, nBuckets = nBuckets)))
      println(s"[corpus] $s: ${packed.count()} packed shards")
    }

    Engine.writeAll(spark, "CorpusJob", Seq(
      "manifest" -> (() =>
        println(s"[corpus] manifest: ${kept.get.count()} docs -> $outDir/manifest")),
      // yield observability: per-stage survivor counts alongside the
      // artifact, so a mis-tuned threshold is a visible cliff in the
      // build report rather than a silently collapsed corpus
      "funnel" -> (() => {
        val funnel = commit("funnel", Curation.curationFunnel(
          docs, docs.where(col("doc_id") % 97 === 0)))
        funnel.orderBy("stage").collect().foreach(r =>
          println(s"[corpus] funnel ${r.getInt(0)} ${r.getString(1)}: ${r.getLong(2)}"))
      })) ++
      Seq("train", "val", "test").map(s => s"sequences/split=$s" -> (() => pack(s))))
    println(s"[corpus] done -> $outDir")
  }
}
