package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded benchmark inputs, written as parquet in the layout the jobs
  * read (`<dir>/<table>.parquet`).
  *
  * The row content comes from one fixed generator; the run's seed only
  * shifts `o_orderkey`, `doc_id` and `vec_id` by a seed-derived offset.
  * RawDerive and the curation tiers key their dirty values, duplicates
  * and splits on those keys, so a new seed changes WHICH rows are
  * dirty or duplicated while the rates and the sizes stay the same.
  *
  * Shapes follow the TPC-H-style fixtures the library is tested on:
  *  - orders/customer/nation: 1.5M·sf orders over 150k·sf customers
  *    and the 25 TPC-H nations (only the columns RawDerive reads);
  *  - documents: 50k·sf docs (at least 500) of 10–100 words over a
  *    30-word vocabulary, 5% of them a copy of an earlier doc plus
  *    " dup";
  *  - embeddings: a unit vector of 64 floats and a label 0–9 for
  *    each of the first 40% of the docs (`vec_id` = their `doc_id`). */
object Inputs {

  val nations: Seq[String] = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  private val vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de", "zh", "zh", "zh")

  /** Offsets stay far below Int.MaxValue: the cleaned tables cast the
    * key to INT. */
  def orderOffset(seed: Long): Long = Math.floorMod(seed * 7919L, 100000L) * 1009L
  def docOffset(seed: Long): Long = Math.floorMod(seed * 104729L, 100000L) * 1013L

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Long = {
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    rows.size.toLong
  }

  /** orders/customer/nation for the pin pipeline; returns row counts. */
  def writeOrders(spark: SparkSession, dir: String, sf: Double,
      seed: Long): Map[String, Long] = {
    val rnd = new SplittableRandom(42L)
    val nOrders = math.max(1L, math.round(1500000 * sf)).toInt
    val nCust = math.max(1L, math.round(150000 * sf)).toInt
    val off = orderOffset(seed)
    val orders = (0 until nOrders).map(i =>
      Row(i + off, rnd.nextInt(nCust).toLong, 1000.0 + rnd.nextInt(400000) / 100.0))
    val customer = (0 until nCust).map(i =>
      Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(nations.size)))
    val nation = nations.zipWithIndex.map { case (n, i) => Row(i, n, i / 5) }
    Map(
      "orders" -> write(spark, orders, StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType))), s"$dir/orders.parquet"),
      "customer" -> write(spark, customer, StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType))), s"$dir/customer.parquet"),
      "nation" -> write(spark, nation, StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))), s"$dir/nation.parquet"))
  }

  /** documents/embeddings for the curation DAG; returns row counts. */
  def writeCorpus(spark: SparkSession, dir: String, sf: Double,
      seed: Long): Map[String, Long] = {
    val rnd = new SplittableRandom(7L)
    val nDocs = math.max(500L, math.round(50000 * sf)).toInt
    val nEmb = math.max(1, (nDocs * 2) / 5)
    val off = docOffset(seed)
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      texts(i) =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Iterator.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
      Row(i + off, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val emb = (0 until nEmb).map { i =>
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i + off, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    Map(
      "documents" -> write(spark, docs, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))), s"$dir/documents.parquet"),
      "embeddings" -> write(spark, emb, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))), s"$dir/embeddings.parquet"))
  }
}
