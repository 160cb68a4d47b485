package graft.bench

import graft.Tables
import graft.sources.Sink
import graft.streaming.Upsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The open-loop phase: per slice (rows, due-to-commit lag ms), how late
  * the generator wrote each slice, and the largest backlog of written but
  * uncommitted slices.
  */
final case class OpenLoop(phase: StreamPhase, lagMs: Seq[(Long, Double)],
    lateMs: Seq[Double], backlogMax: Int)

/** One run of the streaming query over a set of slices; `buildS` is the
  * time to build and start the query.
  */
final case class StreamPhase(name: String, buildS: Double, wallS: Double, sink: File,
    progress: Seq[StreamingQueryProgress], correct: Boolean,
    failures: Seq[(String, String)]) {
  def planS: Double = progress.map(Stream.durationMs(_, "queryPlanning")).sum / 1e3
}

/** Streaming ingest: the seed's events, cut into time-ordered parquet
  * slices, flow through `Upsert.stream` into
  * `Sink.batchToSink(LocalBackend)`, the keyed latest-row-per-user table a
  * CDC-fed destination keeps.
  *
  *  - drain: the slices are staged up front and one `Trigger.AvailableNow`
  *    query drains the backlog;
  *  - open loop: a generator thread appends one slice at a time on a fixed
  *    schedule, whether or not the query keeps up, and each slice's lag is
  *    timed from when it was due to the sink commit of its epoch. With one
  *    file per trigger, the k-th data epoch carries the k-th slice.
  *
  * Every phase is checked (`verify`) once its measurements are taken.
  */
final class Stream(ctx: Ctx, slices: Int, slicesPerS: Double) {
  private val spark = ctx.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts_us", LongType),
    StructField("value", DoubleType)))

  private val events: DataFrame = Tables.events(spark, ctx.corpus)
    .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Staged slices in event-time order with their row counts. */
  val staged: Seq[(File, Long)] = {
    val dir = new File(ctx.work, "slices")
    val ts = events.select("ts_us").as[Long].collect().sorted
    val bounds = (1 until slices).map(i => ts((ts.length.toLong * i / slices).toInt))
    val out = new File(ctx.work, "slices-tmp")
    events
      .withColumn("slice", size(filter(typedLit(bounds), b => b <= col("ts_us"))))
      .repartition(slices, col("slice")).sortWithinPartitions("ts_us", "event_id")
      .write.partitionBy("slice").parquet(out.getPath)
    dir.mkdirs()
    val res = (0 until slices).map { i =>
      val part = Option(new File(out, s"slice=$i").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      require(part.size == 1, s"slice $i has ${part.size} files")
      val f = new File(dir, f"slice-$i%05d.parquet")
      Files.move(part.head.toPath, f.toPath)
      f
    }
    Corpus.rmr(out)
    val counts = ts.groupBy(t => bounds.count(_ <= t)).map { case (i, xs) => i -> xs.length.toLong }
    res.indices.map(i => res(i) -> counts.getOrElse(i, 0L))
  }
  val totalEvents: Long = staged.map(_._2).sum

  private lazy val expected: Set[Row] =
    Upsert.batch(events.withColumn("ts", timestamp_micros(col("ts_us"))))
      .collect().toSet

  /** Latest sink row per user: the epoch (the batch-key prefix) orders
    * the upserts a key received.
    */
  private def sinkState(root: File): Set[Row] = {
    val outSchema = Upsert.batch(events.limit(0)
      .withColumn("ts", timestamp_micros(col("ts_us")))).schema
    spark.read.schema(outSchema).json(new File(root, Stream.Table).getPath)
      .withColumn("epoch", regexp_extract(input_file_name(), "/e(\\d+)-[^/]*$", 1).cast("long"))
      .groupBy("user_id").agg(max_by(struct(outSchema.fieldNames.map(col).toIndexedSeq: _*),
        col("epoch")).as("r"))
      .select("r.*").collect().toSet
  }

  private val phaseNo = new AtomicInteger(0)

  /** Starts the upsert query on `src`; `onCommit(epoch)` runs after each
    * epoch's sink write. Returns the query and the seconds it took to
    * build and start it.
    */
  private def start(src: File, sink: File, trigger: Trigger, filesPerTrigger: Option[Int],
      parent: Option[Span], onCommit: Long => Unit): (StreamingQuery, Double) = {
    val n = phaseNo.incrementAndGet()
    val t0 = System.nanoTime()
    val trace = parent.flatMap(_ => ctx.trace)
    val build = for (t <- trace; p <- parent) yield t.open("build", "Upsert.stream", p.id, p.query)
    def run(b: => StreamingQuery): StreamingQuery =
      (for (t <- trace; s <- build) yield t.within(s)(b)).getOrElse(b)
    val reader = spark.readStream.schema(schema)
    val toSink = Sink.batchToSink(Sink.SinkConfig(sink.getPath, Stream.Table),
      new Sink.LocalBackend(sink.getPath))
    val q = run(Upsert.stream(
      filesPerTrigger.fold(reader)(k => reader.option("maxFilesPerTrigger", k.toLong))
        .parquet(src.getPath)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .as[Upsert.Ev])
      .writeStream
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        val ep = for (t <- trace; p <- parent) yield {
          val mb = t.open("microbatch", s"epoch $epoch", p.id, p.query)
          epochSpans.put((n, epoch), mb)
          t.open("exec", s"epoch $epoch", mb.id, p.query)
        }
        (for (t <- trace; e <- ep) yield t.within(e)(toSink(df, epoch)))
          .getOrElse(toSink(df, epoch))
        ep.foreach(ctx.trace.get.close(_))
        onCommit(epoch)
      }
      .option("checkpointLocation", new File(ctx.work, s"ckpt-$n").getPath)
      .outputMode("update").trigger(trigger).start())
    build.foreach(ctx.trace.get.close(_))
    (q, (System.nanoTime() - t0) / 1e9)
  }

  /** Micro-batch spans opened in foreachBatch, by (phase, epoch); their
    * bounds are fixed from the query's progress once the phase ends.
    */
  private val epochSpans = new ConcurrentHashMap[(Int, Long), Span]()

  private def finish(q: StreamingQuery, name: String, buildS: Double, wallS: Double,
      sink: File, parent: Option[Span]): StreamPhase = {
    val all = q.recentProgress.toSeq
    q.stop()
    val failures = mutable.ArrayBuffer[(String, String)]()
    q.exception.foreach(e => failures += s"$name query" -> Main.reason(e))
    // micro-batch spans take their bounds from the streaming listener
    for (t <- ctx.trace; _ <- parent; p <- { t.drain(); t.progressOf(q.runId) }) {
      Option(epochSpans.get((phaseNo.get, p.batchId))).foreach { s =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        s.start = st
        s.end = st + Stream.durationMs(p, "triggerExecution") * 1000
        val pl = t.open("plan", s.name, s.id, s.query, st)
        t.close(pl, st + Stream.durationMs(p, "queryPlanning") * 1000)
      }
    }
    StreamPhase(name, buildS, wallS, sink, all.filter(_.numInputRows > 0),
      failures.isEmpty, failures.toSeq)
  }

  /** The phase's check: the sink's latest row per key equals
    * `Upsert.batch` over the same events.
    */
  def verify(p: StreamPhase): StreamPhase =
    if (!p.correct) p
    else {
      val got = sinkState(p.sink)
      if (got == expected) p
      else p.copy(correct = false, failures = p.failures :+ (s"${p.name} sink state" ->
        s"${(got diff expected).size} unexpected and ${(expected diff got).size} missing rows"))
    }

  /** Drains every staged slice with one AvailableNow query. */
  def drain(name: String, parent: Option[Span]): StreamPhase = {
    val sink = new File(ctx.work, s"sink-$name")
    val t0 = System.nanoTime()
    val (q, buildS) = start(staged.head._1.getParentFile, sink, Trigger.AvailableNow(), None,
      parent, _ => ())
    // a failed query is recorded from q.exception by finish()
    try q.awaitTermination() catch { case _: StreamingQueryException => () }
    val wall = (System.nanoTime() - t0) / 1e9
    finish(q, name, buildS, wall, sink, parent)
  }

  /** The open loop, untraced: slices arrive at `slicesPerS`. */
  def openLoop(): OpenLoop = {
    val src = new File(ctx.work, "open-src"); src.mkdirs()
    val sink = new File(ctx.work, "sink-open")
    val committed = new ConcurrentHashMap[Long, java.lang.Long]()
    val written = new AtomicInteger(0)
    val backlog = new AtomicInteger(0)
    def sampleBacklog(): Unit =
      backlog.accumulateAndGet(written.get - committed.size, math.max)
    val (q, buildS) = start(src, sink, Trigger.ProcessingTime(0L), Some(1), None, { e =>
      committed.put(e, System.currentTimeMillis()); sampleBacklog()
    })
    val periodMs = 1000.0 / slicesPerS
    val t0 = System.currentTimeMillis() + 200
    val due = staged.indices.map(i => t0 + (i * periodMs).toLong)
    val late = new Array[Double](staged.size)
    @volatile var genError: Option[String] = None
    val gen = new Thread(() => try staged.zipWithIndex.foreach { case ((f, _), i) =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val tmp = new File(src, s".${f.getName}")
      Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      late(i) = (System.currentTimeMillis() - due(i)).toDouble
      written.incrementAndGet(); sampleBacklog()
    } catch { case e: Throwable => genError = Some(Main.reason(e)) }, "slice-generator")
    val w0 = System.nanoTime()
    gen.start(); gen.join()
    // every slice is on disk now: wait until the query has committed them
    try q.processAllAvailable() catch { case _: StreamingQueryException => () }
    val wall = (System.nanoTime() - w0) / 1e9
    val finished = finish(q, "open", buildS, wall, sink, None)
    val phase = genError.fold(finished)(r => finished.copy(correct = false,
      failures = finished.failures :+ ("slice generator" -> r)))
    val epochs = phase.progress.map(_.batchId).sorted
    val mismatch = epochs.size != staged.size ||
      phase.progress.sortBy(_.batchId).map(_.numInputRows) != staged.map(_._2)
    val lag = if (mismatch) Nil else staged.indices.map { i =>
      staged(i)._2 -> (committed.get(epochs(i)).longValue - due(i)).toDouble
    }
    val ph = if (!mismatch) phase else phase.copy(correct = false,
      failures = phase.failures :+ ("open epochs" ->
        s"${epochs.size} data epochs for ${staged.size} slices (one slice per epoch expected)"))
    OpenLoop(ph, lag, late.toSeq, backlog.get)
  }
}

object Stream {
  /** The stream's name where it runs as a member of a batch pass. */
  val Name = "stream_ingest"
  val Table = "latest_by_user"

  def durationMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
