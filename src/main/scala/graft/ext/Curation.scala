package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end curation flow a pretraining-data pipeline runs over
  * a raw document corpus, composed from this library's operators into
  * ONE declarative plan (Catalyst fuses the projections; the only
  * shuffle is the dedup groupBy and the keep-list join):
  *
  *   language-ID → lexical quality score → exact-dedup keep list →
  *   filter (target langs, min quality, dedup survivor) →
  *   deterministic train/val/test assignment.
  *
  * Every stage is individually oracle-checked; `curated` is the
  * composition, oracle-checked as a whole (ExtOracle.curated). */
object Curation {

  def curated(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    // langId and quality are both pure per-row projections — compute
    // them in ONE pass over the corpus (no join between them; Catalyst
    // fuses the two withColumns into a single projection). The only
    // joins left are against the dedup keep list, the only shuffles
    // the dedup groupBy — the minimum this flow can do.
    val perRow = TextAnalysis.withQuality(TextAnalysis.langId(docs))
      .select(col("doc_id"), col("lang_pred"), col("lang_conf"), col("quality"))
    val keepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    val kept = perRow
      .join(keepers, "doc_id") // inner join = survives dedup
      .where(col("lang_pred") =!= "zh" && col("quality") >= minQuality)
    Sampling.assignSplit(kept, "doc_id")
      .select("doc_id", "lang_pred", "quality", "split")
  }

  /** The FULL pretraining-corpus build — every curation tier this
    * library implements, composed into one declarative plan:
    *
    *   per-row lang-ID + lexical quality (one fused projection) →
    *   corpus-LM quality (`TextAnalysis.lmQuality`) →
    *   repetition score → exact-dedup keep list →
    *   SEMANTIC dedup over the embedding table (SemDeDup losers
    *   anti-joined; docs without an embedding pass through) →
    *   threshold filters → leakage-safe split (near-dup clusters
    *   move between splits atomically).
    *
    * The split's pair graph rides the MinHash/LSH sketch tier
    * (`minhashLshPairsPortable`), not the exact shingle self-join:
    * ScaleProbe measures the exact tier as the one super-linear
    * candidate path under growing duplication while band buckets stay
    * ~linear — at 100 TB the sketch tier is the only viable feeder,
    * and at sf0.1 it is ~0.5 s cheaper per consumer too.
    *
    * Cost anatomy at 100 TB: two corpus-wide shuffles from lmQuality
    * (tok-freq agg + per-doc rollup), one from the exact-dedup
    * groupBy, the signature/band projections feeding the split's
    * bucket join, and the cell-partitioned semantic self-join over the
    * (much smaller) embedding table; every filter and score is
    * otherwise fused into scan-side projections, and the loser/keeper
    * join sides are dup slivers — broadcast lookups, never corpus-wide
    * shuffles.
    *
    * Building the plan runs three eager pin builds (`Pin.eager`): the
    * LM token counts, the MinHash signatures under the split's
    * cluster graph, and the semantic-dedup cell assignment. They
    * share no input plan, so they are built concurrently — their
    * fixed per-stage scheduling floors overlap instead of adding up.
    * The plan and its output do not depend on the order they finish. */
  def pretrainingCorpus(docs: DataFrame, emb: DataFrame,
      minQuality: Double = 0.5, minMeanLogProb: Double = -4.0,
      maxRepetition: Double = 0.5): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // lang-ID, lexical quality, AND repetition are all pure per-row
    // projections — ONE fused pass over the scan, not three frames
    // joined back on doc_id (each such join is a corpus-wide shuffle
    // that buys nothing: the signals live on the same row).
    val perRow = TextAnalysis.withRepetition(
        TextAnalysis.withQuality(TextAnalysis.langId(docs)))
      .select(col("doc_id"), col("lang_pred"), col("quality"),
        col("repetition"))
    val keepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    // The LM counts and the two candidate-pair graphs (shingle Jaccard
    // over text, cosine over embeddings) each end in an eager build;
    // run the three concurrently (see above). Spark actions are
    // thread-safe.
    val lmF = Future(TextAnalysis.lmQuality(docs)
      .select(col("doc_id"), col("mean_logprob")))
    val semF = Future(Similarity.semanticDupLosers(emb)
      .select(col("vec_id").as("doc_id")))
    // Round 7: the split rides the CLUSTER table (dup sliver — a
    // broadcast lookup), not a pre-materialized corpus-sized
    // (doc_id, split) frame that would pay its own corpus shuffle into
    // the final join; the split is pure bucket arithmetic over
    // coalesce(cluster_id, doc_id), so it computes INLINE after the
    // sliver join — same assignment, one fewer corpus exchange and one
    // fewer full docs pass (leakageSafeSplit remains the standalone
    // operator and its gate entry pins the identical semantics).
    val clustersF = Future(
      Dedup.dupClusters(Dedup.minhashLshPairsPortable(docs))
        .select(col("doc_id"), col("cluster_id")))
    val semLosers = Await.result(semF, Duration.Inf)
    val clusters = Await.result(clustersF, Duration.Inf)
    val lm = Await.result(lmF, Duration.Inf)
    val joined = perRow
      .join(lm, "doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(semLosers, Seq("doc_id"), "left_anti")
      .where(col("quality") >= minQuality &&
        col("mean_logprob") >= minMeanLogProb &&
        col("repetition") <= maxRepetition)
      .withColumn("__split_key", coalesce(col("cluster_id"), col("doc_id")))
    Sampling.assignSplit(joined, "__split_key")
      .select("doc_id", "lang_pred", "quality", "mean_logprob",
        "repetition", "split")
  }

  /** Incrementally maintained curated table — the change feed driving
    * curation, the composition the CDF + MERGE machinery exists for at
    * 100 TB: given a bronze TxLog table and a curated TxLog table
    * materialized as of `fromV`, apply the NET changes since then —
    * new/changed docs re-score (quality is a per-row projection, so
    * re-scoring costs O(changed), never the corpus) and upsert when
    * they clear the bar; keys that departed the bronze table OR fell
    * below the bar on re-score are MERGE-deleted. The maintained table
    * must equal a from-scratch recompute over the final bronze state
    * (the gate entry's oracle recomputes exactly that). Work ∝
    * |changes|: one bounded net-feed read feeds both arms. */
  def curatedIncrement(spark: org.apache.spark.sql.SparkSession,
      bronze: String, curated: String, fromV: Long,
      minQuality: Double): Long = {
    import graft.ingest.TxLog
    val net = TxLog.netChanges(spark, bronze, fromV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ins = net.where(col("_change_type") === "insert")
        .drop("_change_type")
      val del = net.where(col("_change_type") === "delete")
        .drop("_change_type")
      val scored = TextAnalysis.withQuality(ins)
        .select(col("doc_id"), col("lang"), col("quality"))
      val gone = del.select("doc_id")
        .join(ins.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(scored.where(col("quality") < minQuality)
          .select("doc_id"))
        .distinct()
      TxLog.deleteKeys(spark, curated, Seq("doc_id"), gone)
      TxLog.upsert(spark, curated,
        scored.where(col("quality") >= minQuality), Seq("doc_id"))
    } finally { net.unpersist(); () }
  }

  /** Curation funnel report — per-stage survivor counts, the yield
    * observability every production pipeline publishes (how many docs
    * each tier removed, so a mis-tuned threshold shows up as a cliff
    * in a dashboard rather than a silent corpus collapse):
    *
    *   raw → shape-quality rules (the gopherRules signals that bind on
    *   any corpus: word-count band, mean word length, symbol ratio,
    *   alphabetic fraction) → exact dedup (first id wins) → near
    *   dedup (greedy first-wins: a doc drops on any Jaccard pair to a
    *   lower id — deliberately closure-free, unlike dedupCorpus's
    *   connected components) → benchmark decontamination.
    *
    * Returns (stage, stage_name, n_docs) — 5 rows. Each stage's count
    * is an independent aggregate of the composed plan; Catalyst
    * computes the shared prefixes per branch, and the counts
    * themselves are 1-row aggregates (no data ever collects). */
  def curationFunnel(docs: DataFrame, benchmark: DataFrame,
      minWords: Int = 20, w: Int = 3, minJaccard: Double = 0.5,
      maxContamination: Double = 0.2): DataFrame = {
    // One accumulating frame with a survival flag per stage, ONE final
    // aggregate, 5 rows exploded from it — NOT a union of five stage
    // counts, which would re-inline the whole chain per branch (Spark
    // does not share subplans across union arms; the union form
    // measured ~3× this plan's cost at sf0.1).
    val sig = TextAnalysis.gopherRules(docs, minWords)
      .where(TextAnalysis.shapePass(minWords))
      .select(col("doc_id"), lit(true).as("__q"))
    val d1 = docs.join(sig, Seq("doc_id"), "left")
      .withColumn("f1", coalesce(col("__q"), lit(false))).drop("__q")
    val keepExact = d1.where(col("f1"))
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__e"))
    val d2 = d1.join(keepExact, Seq("doc_id"), "left")
      .withColumn("f2", col("f1") && coalesce(col("__e"), lit(false)))
      .drop("__e")
    val nearLosers = Dedup.ngramJaccardPairs(d2.where(col("f2")), w, minJaccard)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("__n", lit(true))
    val d3 = d2.join(nearLosers, Seq("doc_id"), "left")
      .withColumn("f3", col("f2") && col("__n").isNull).drop("__n")
    val contaminated = Dedup.contamination(d3.where(col("f3")), benchmark)
      .where(col("contamination") >= maxContamination)
      .select(col("doc_id"), lit(true).as("__c"))
    val d4 = d3.join(contaminated, Seq("doc_id"), "left")
      .withColumn("f4", col("f3") && col("__c").isNull).drop("__c")
    // coalesce: sum over an EMPTY corpus is NULL, and a null inside the
    // non-nullable report struct is a runtime error — degrade to 0
    val one = d4.agg(
      count(lit(1)).as("n0"),
      coalesce(sum(when(col("f1"), 1L).otherwise(0L)), lit(0L)).as("n1"),
      coalesce(sum(when(col("f2"), 1L).otherwise(0L)), lit(0L)).as("n2"),
      coalesce(sum(when(col("f3"), 1L).otherwise(0L)), lit(0L)).as("n3"),
      coalesce(sum(when(col("f4"), 1L).otherwise(0L)), lit(0L)).as("n4"))
    one.select(explode(array(
      struct(lit(0).as("stage"), lit("raw").as("stage_name"), col("n0").as("n_docs")),
      struct(lit(1).as("stage"), lit("quality_rules").as("stage_name"), col("n1").as("n_docs")),
      struct(lit(2).as("stage"), lit("exact_dedup").as("stage_name"), col("n2").as("n_docs")),
      struct(lit(3).as("stage"), lit("near_dedup").as("stage_name"), col("n3").as("n_docs")),
      struct(lit(4).as("stage"), lit("decontaminated").as("stage_name"), col("n4").as("n_docs"))))
      .as("r")).select(col("r.stage"), col("r.stage_name"), col("r.n_docs"))
  }

  /** Per-source quota cap — the anti-domination guard a mixed-source
    * corpus needs: no single crawl/domain/dump may contribute more
    * than `cap` documents, and the ones it keeps are its BEST `cap`
    * by lexical quality (ties broken by doc_id for determinism).
    * Complements `Sampling.mixtureSample` (proportional rates) and
    * `Sampling.budgetMix` (token budgets): a cap is the hard ceiling
    * that holds even when a source's weight would admit more.
    *
    * Scale shape: quality is a per-row scan projection; the rank is a
    * row_number window over (source) that the `<= cap` filter turns
    * into a WindowGroupLimit (PlanSpec-pinned) — every map task
    * pre-prunes to its local top-cap per source, so the per-source
    * reducer sees at most tasks·cap rows, not the source's corpus
    * share. Low source cardinality therefore does NOT serialize the
    * corpus through few reducers: the corpus-sized work is all
    * map-side. */
  def sourceCap(docs: DataFrame, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, "cap must be positive")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("source_rank", row_number().over(w))
      .where(col("source_rank") <= cap)
  }
}
