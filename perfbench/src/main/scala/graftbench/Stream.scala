package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.ingest.Fixtures
import graft.pipeline.RawDerive
import graft.streaming.StreamJob

/** The streaming workload: an open-loop generator lands pre-rendered
  * Kinesis-shaped files at a fixed rate while the job drains them.
  *
  * Files carry `{"data": "<record json>"}` lines, the format
  * `Fixtures.landStream` writes. The generator renames one file per
  * table into the three stream dirs every tick and never waits for the
  * job. The job is `StreamJob.runAll` called in a loop; each call
  * drains what has landed (AvailableNow) in the reference's
  * unwatermarked dedup mode. */
object Stream {
  val tables: Seq[String] = Seq("pin", "geo", "user")

  /** Pre-rendered file bodies per table, `ticks` files each. Rows are
    * ordered by a hash of (content, occurrence) so the duplicate copies
    * of a record land in different files. */
  def render(spark: SparkSession, inDir: String, ticks: Int): Map[String, Vector[(String, Int)]] = {
    val (pin, geo, user) = RawDerive.tables(spark, inDir)
    Seq("pin" -> pin, "geo" -> geo, "user" -> user).map { case (t, df) =>
      val lines = df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("data"))
        .select(to_json(struct(col("data")))).collect().map(_.getString(0))
      val seen = mutable.HashMap.empty[String, Int]
      val ordered = lines.sorted.map { l =>
        val k = seen.getOrElse(l, 0)
        seen(l) = k + 1
        (scala.util.hashing.MurmurHash3.stringHash(s"$l#$k"), l)
      }.sortBy(x => (x._1, x._2)).map(_._2)
      val per = math.max(1, (ordered.length + ticks - 1) / ticks)
      t -> ordered.grouped(per).map(g => (g.mkString("", "\n", "\n"), g.length)).toVector
    }.toMap
  }

  final case class Landed(table: String, file: String, rows: Int, landMs: Long, lagMs: Long)
  final case class Drain(startMs: Long, endMs: Long)
  final case class Window(landed: Vector[Landed], drains: Vector[Drain],
      commitMs: Map[(String, String), Long], progress: Vector[StreamingQueryProgress],
      startMs: Map[java.util.UUID, Long])

  def streamDir(base: String, t: String): String =
    s"$base/streams/streaming-${Fixtures.topicPrefix}-$t"

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Write the staging copies of the first `ticks` files and create the
    * empty stream dirs. */
  def stage(rendered: Map[String, Vector[(String, Int)]], base: String, ticks: Int): Unit = {
    rm(new File(base))
    tables.foreach { t =>
      new File(streamDir(base, t)).mkdirs()
      val st = new File(s"$base/staging/$t")
      st.mkdirs()
      rendered(t).take(ticks).zipWithIndex.foreach { case ((body, _), k) =>
        Files.write(new File(st, f"part-$k%05d.json").toPath, body.getBytes(UTF_8))
      }
    }
  }

  private def land(base: String, t: String, k: Int): File = {
    val name = f"part-$k%05d.json"
    val dst = new File(streamDir(base, t), name)
    Files.move(new File(s"$base/staging/$t/$name").toPath, dst.toPath,
      StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Land `ticks` ticks at `intervalMs` and drain until every landed
    * file is committed. With `intervalMs = 0` the ticks land before the
    * first drain (a fixed backlog). */
  def window(spark: SparkSession, probe: StreamProbe,
      rendered: Map[String, Vector[(String, Int)]], base: String, ticks: Int,
      intervalMs: Double, sp: Option[Spans]): Window = {
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val landed = new ConcurrentLinkedQueue[Landed]()
    val gen = new Thread(() => {
      val t0 = System.currentTimeMillis()
      (0 until ticks).foreach { k =>
        val target = t0 + (k * intervalMs).toLong
        val wait = target - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        tables.foreach { t =>
          val f = land(base, t, k)
          val now = System.currentTimeMillis()
          landed.add(Landed(t, f.getName, rendered(t)(k)._2, now, math.max(0L, now - target)))
        }
      }
    }, "bench-generator")
    gen.setDaemon(true)
    probe.clear()
    gen.start()
    if (intervalMs <= 0) gen.join()
    // drain whenever files landed since the last drain started; a file
    // counted in `seen` was in its stream dir before that drain began
    val drains = mutable.ArrayBuffer.empty[Drain]
    var seen = 0
    while (gen.isAlive || landed.size > seen) {
      if (landed.size == seen) Thread.sleep(5)
      else {
        seen = landed.size
        val s = System.currentTimeMillis()
        sp match {
          case None => StreamJob.runAll(spark, base, out, ckpt)
          case Some(spans) => spans("drain") {
            tables.foreach(t => spans(s"drain.$t")(StreamJob.runOne(spark, base, t, out, ckpt)))
          }
        }
        drains += Drain(s, System.currentTimeMillis())
      }
    }
    gen.join()
    org.apache.spark.sql.graftbench.Internals.drainBus(spark.sparkContext)
    val (starts, progress) = probe.snapshot()
    val commit = mutable.HashMap.empty[(String, Long), Long]
    progress.foreach { p =>
      tableOf(p).foreach { t =>
        commit((t, p.batchId)) = java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L)
      }
    }
    val fileCommit = tables.flatMap { t =>
      sourceLog(s"$ckpt/$t").flatMap { case (file, batch) =>
        commit.get((t, batch)).map(ms => (t, file) -> ms)
      }
    }.toMap
    Window(landed.asScala.toVector, drains.toVector, fileCommit, progress, starts.toMap)
  }

  def tableOf(p: StreamingQueryProgress): Option[String] =
    """/out/(pin|geo|user)""".r.findFirstMatchIn(p.sink.description).map(_.group(1))

  /** (file name, batch id) from a file source's metadata log, including
    * its compacted segments. */
  def sourceLog(ckptTable: String): Seq[(String, Long)] = {
    val dir = new File(s"$ckptTable/sources/0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => (m.group(1).split('/').last, m.group(2).toLong))
      .distinct
  }

  /** Sink tables in the gate's canonical dump shape (the same
    * projection as SparkEntry's stream_*_clean entries). */
  def dumpSink(spark: SparkSession, base: String, checkDir: String): Seq[(String, String)] =
    tables.map { t =>
      val df = spark.read.parquet(s"$base/out/$t")
      val canon = t match {
        case "pin" => df
        case "geo" => df.select(col("ind"), col("country"),
          concat_ws("|", col("coordinates")).as("coordinates_str"),
          col("timestamp").cast("string").as("timestamp_str"))
        case "user" => df.select(col("ind"), col("user_name"), col("age"),
          col("date_joined").cast("string").as("date_joined_str"))
      }
      val path = s"$checkDir/stream_${t}_clean"
      canon.write.mode("overwrite").parquet(path)
      (s"${t}_clean", path)
    }

  /** Envelope decode over the landed files: (records, malformed). */
  def decodeCounts(spark: SparkSession, base: String): (Long, Long) =
    tables.map { t =>
      val parsed = spark.read.schema("data STRING").json(streamDir(base, t))
        .select(from_json(col("data"), StreamJob.schemas(t)).as("p"))
      val c = parsed.agg(count(lit(1)), count(when(col("p.index").isNull, 1))).head()
      (c.getLong(0), c.getLong(1))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** (files, bytes) the sink wrote, excluding its metadata log. */
  def sinkFiles(base: String): (Long, Long) = {
    val files = tables.flatMap(t => Option(new File(s"$base/out/$t").listFiles()).toSeq.flatten)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }
}
