package graft.bench

import graft.{DfCache, SparkEntry}
import org.apache.spark.sql.{DataFrame, GraftBenchShim, SparkSession}

import java.io.File
import scala.collection.mutable

/** One query sample: registry call (build) and noop write (plan + exec). */
final case class QuerySample(name: String, pass: Int, traced: Boolean,
    buildS: Double, writeS: Double, error: Option[String]) {
  def wallS: Double = buildS + writeS
}

/** Per-query layer record of a traced sample. */
final case class QueryLayers(name: String, pass: Int, buildS: Double,
    planS: Double, execS: Double, wallS: Double, counts: Map[String, Double])

/** A workload run: closed loop, one client, each query run exactly as
  * `graft.Bench` runs it (registry bench fn, terminal sort stripped, noop
  * sink). A pass runs the workload's query list once, then, when the
  * workload has one, a backlog drain of the streaming ingest path. The
  * first pass in the JVM is reported on its own; the steady passes follow
  * it for the run's seconds, at least `MinSteady` of them, so a median
  * leaves out the one still warming up. The untimed check pass
  * (`check`) runs after all timed passes.
  */
final class Batch(ctx: Ctx, queries: Seq[String], stream: Option[Stream]) {
  private val spark = ctx.spark
  val samples = mutable.ArrayBuffer[QuerySample]()
  val layers = mutable.ArrayBuffer[QueryLayers]()
  val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
  /** Per-pass JVM deltas of traced passes: codegen, JIT, code cache. */
  val passJvm = mutable.Map[Int, Map[String, Double]]()
  /** Size of the run's scratch directory after each traced pass. */
  val passDisk = mutable.Map[Int, Double]()
  val drains = mutable.ArrayBuffer[StreamPhase]()

  private val fns: Seq[(String, Option[(SparkSession, String) => DataFrame])] =
    queries.map(n => n -> SparkEntry.benchQueries.get(n))

  /** Each sample pays its own index builds: the DataFrame memo is
    * emptied before every query, so no query's time rides on a sibling's
    * (or its own earlier sample's) work.
    */
  private def cold(): Unit = DfCache.clear(blocking = true)

  private def one(name: String, fn: Option[(SparkSession, String) => DataFrame],
      pass: Int, passSpan: Option[Span]): Unit = {
    cold()
    val trace = passSpan.flatMap(_ => ctx.trace)
    val c0 = trace.map { t => t.drain(); t.takeExecutions(); t.counters }
    val hits0 = DfCache.hitCount
    val q = for (t <- trace; p <- passSpan) yield t.open("query", name, p.id, -1L)
    def span(kind: String) = for (t <- trace; s <- q) yield t.open(kind, name, s.id, s.id)
    def within[T](s: Option[Span])(body: => T): T =
      (for (t <- trace; sp <- s) yield t.within(sp)(body)).getOrElse(body)

    var buildS, writeS = 0.0
    var error: Option[String] = None
    val b = span("build")
    val e = span("exec")
    val t0 = System.nanoTime()
    try {
      val f = fn.getOrElse(throw new NoSuchElementException(
        s"$name is not a SparkEntry.benchQueries key"))
      val df = within(b)(f(spark, ctx.corpus))
      val t1 = System.nanoTime()
      buildS = (t1 - t0) / 1e9
      for (t <- trace; s <- b; x <- e) { t.close(s); x.start = Clock.nowUs }
      within(e)(GraftBenchShim.stripTopSort(df).write.format("noop")
        .mode("overwrite").save())
      writeS = (System.nanoTime() - t1) / 1e9
    } catch {
      case err: Throwable =>
        val total = (System.nanoTime() - t0) / 1e9
        if (buildS == 0.0) buildS = total else writeS = total - buildS
        error = Some(Main.reason(err))
    }
    samples += QuerySample(name, pass, trace.nonEmpty, buildS, writeS, error)
    for (t <- trace; s <- q; x <- e; bs <- b; before <- c0) {
      if (bs.end < 0) t.close(bs)
      t.close(x); t.close(s)
      t.drain()
      layers += record(t, s, x, name, pass, buildS, writeS, before,
        DfCache.hitCount - hits0)
    }
  }

  /** Splits the write into plan (the Catalyst phases of the write's query
    * execution, which run first) and exec (the rest), and collects the
    * query's counters.
    */
  private def record(t: Trace, q: Span, exec: Span, name: String, pass: Int,
      buildS: Double, writeS: Double, before: Map[String, Double],
      hits: Long): QueryLayers = {
    val qes = t.takeExecutions()
    val planS = math.min(writeS, qes.lastOption.map(Trace.planSeconds).getOrElse(0.0))
    val p = t.open("plan", name, q.id, q.id, exec.start)
    t.close(p, exec.start + (planS * 1e6).toLong)
    exec.start = p.end
    val delta = Trace.delta(before, t.counters)
    val extra = Map(
      "dfcache_hits" -> hits.toDouble,
      "files_read" -> qes.map(Trace.filesRead).sum.toDouble,
      "files_written" -> qes.map(Trace.filesWritten).sum.toDouble,
      "cached_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024))
    QueryLayers(name, pass, buildS, planS, writeS - planS, q.seconds,
      delta ++ extra)
  }

  /** The stream member of a pass: one backlog drain. Its build is
    * building and starting the query, its plan the micro-batches'
    * planning, its exec the rest.
    */
  private def oneStream(s: Stream, pass: Int, passSpan: Option[Span]): Unit = {
    val trace = passSpan.flatMap(_ => ctx.trace)
    val c0 = trace.map { t => t.drain(); t.takeExecutions(); t.counters }
    val q = for (t <- trace; p <- passSpan) yield t.open("query", Stream.Name, p.id, -1L)
    val ph = s.drain(s"drain$pass", q)
    drains += ph
    samples += QuerySample(Stream.Name, pass, trace.nonEmpty, ph.buildS,
      ph.wallS - ph.buildS, ph.failures.headOption.map(_._2))
    for (t <- trace; qs <- q; before <- c0) {
      t.close(qs)
      t.drain(); t.takeExecutions()
      val state = ph.progress.lastOption.flatMap(_.stateOperators.headOption)
      layers += QueryLayers(Stream.Name, pass, ph.buildS, ph.planS,
        ph.wallS - ph.buildS - ph.planS, qs.seconds,
        Trace.delta(before, t.counters) ++ Map(
          "stream_batches" -> ph.progress.size.toDouble,
          "state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "state_mb" -> state.map(_.memoryUsedBytes / (1024.0 * 1024)).getOrElse(0.0)))
    }
  }

  /** Seconds spent waiting for the JIT to settle before and after the
    * first pass, and in the check pass.
    */
  var jitWaitS, checkS = 0.0
  /** The check pass's outputs for `tools/check.py`, and the members that
    * failed in it.
    */
  var checked: Seq[String] = Nil
  val checkFailures = mutable.ArrayBuffer[(String, String)]()

  /** Runs the first pass, then steady passes for at least `seconds`. */
  def run(seconds: Int, traced: Boolean, runSpan: Option[Span]): Unit = {
    var steadyStart = System.nanoTime()
    var pass = 0
    // a traced run alternates traced and untraced steady passes, so the
    // difference between the two is the tracing overhead
    def tracedPass(p: Int) = traced && p % 2 == 0
    // the first pass starts from a settled JVM: the garbage and the
    // compilations that generating and staging the inputs left are done
    System.gc()
    jitWaitS = Jvm.awaitJitQuiet(10)
    while (pass <= Batch.MinSteady || (System.nanoTime() - steadyStart) / 1e9 < seconds) {
      val tr = tracedPass(pass)
      if (traced) { if (tr) ctx.trace.get.attach() else ctx.trace.get.detach() }
      val jvm0 = Jvm.snapshot()
      val ps = for (t <- ctx.trace if tr; r <- runSpan)
        yield t.open("pass", s"pass $pass", r.id, 0L)
      val t0 = System.nanoTime()
      fns.foreach { case (n, f) => one(n, f, pass, ps) }
      stream.foreach(oneStream(_, pass, ps))
      passes += ((pass, tr, (System.nanoTime() - t0) / 1e9))
      ps.foreach(ctx.trace.get.close(_))
      if (tr) {
        passJvm(pass) = Jvm.delta(jvm0, Jvm.snapshot())
        passDisk(pass) = Jvm.dirMb(new File(System.getProperty("java.io.tmpdir")))
      }
      // steady state starts once the compilations the first pass started
      // are done
      if (pass == 0) {
        jitWaitS += Jvm.awaitJitQuiet(10)
        steadyStart = System.nanoTime()
      }
      pass += 1
    }
    if (traced) ctx.trace.get.detach()
  }

  /** Untimed check pass, once the timed passes are done: each query's
    * registry fn (the shape its DuckDB oracle describes) written into
    * `out` the way `graft.Verify` writes it, plus the oracle SQL, for
    * `tools/check.py`.
    */
  def check(out: File): Unit = {
    val c0 = System.nanoTime()
    out.mkdirs()
    val written = queries.distinct.flatMap { n =>
      SparkEntry.registry.get(n) match {
        case None => checkFailures += n -> "not in SparkEntry.registry"; None
        case Some(q) if q.oracle.isEmpty => checkFailures += n -> "no oracle SQL"; None
        case Some(q) =>
          cold()
          try {
            q.fn(spark, ctx.corpus).coalesce(1).write.mode("overwrite")
              .parquet(new File(out, n).getPath)
            Some(n -> q.oracle.get.trim)
          } catch { case e: Throwable => checkFailures += n -> Main.reason(e); None }
      }
    }
    // written under another name and renamed, so whoever waits for the
    // file never reads half of it
    val tmp = new File(out, ".oracle_sql.json")
    Json.write(tmp, written.toMap)
    java.nio.file.Files.move(tmp.toPath, new File(out, "oracle_sql.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    checked = written.map(_._1)
    checkS = (System.nanoTime() - c0) / 1e9
  }

  /** Each stream drain's sink state against `Upsert.batch`: the failures. */
  def verifyDrains(): Seq[(String, String)] =
    for (s <- stream.toSeq; d <- drains.toSeq; f <- s.verify(d).failures) yield Stream.Name -> f._2
}

object Batch {
  /** Steady passes a run makes at the least: the first one still pays
    * for compilations the first pass started, and the median of three
    * leaves it out.
    */
  val MinSteady = 3
}
