package graft.bench

import graft.{Bench, Session, Tables}

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark harness JVM. `run.py` builds it, starts it once per run
  * and turns the `result.json` it writes into the benchmark's output.
  *
  * Usage: graft.bench.Main --workload W --seed N --seconds S --trace 0|1
  *   --spec workloads.json --work DIR --out result.json
  *   --trace-dir DIR --cores N --python PY --flatten flatten.py
  */
object Main {
  private val MB = 1024.0 * 1024

  /** Exception class and the first line of its message. */
  def reason(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")}"

  private def parse(argv: Array[String]): Map[String, String] = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap
  }

  final case class Outcome(e2e: Map[String, (Double, String)],
      layer: Map[String, (Double, String)], report: Map[String, Any],
      attempted: Int, failures: Seq[Map[String, String]], check: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val localDir = new File(System.getProperty("spark.local.dir"))
    val leftovers = Seq(tmp, localDir).map(d => Option(d.listFiles()).map(_.length).getOrElse(0)).sum

    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val spec = Json.read(new File(a("spec")))
    val ws = Option(spec.get("workloads").get(workload))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $workload"))

    val spark = Session.local(cores)
    val sessionReadyMs = System.currentTimeMillis()
    val g0 = System.nanoTime()
    val work = new File(a("work"))
    val corpus = Corpus.generate(spark, new File(work, "corpus"), spec.get("sf").asDouble,
      seed, Seq(a("python"), a("flatten")))
    val corpusS = (System.nanoTime() - g0) / 1e9
    val r0 = System.nanoTime()
    Corpus.Tables.foreach(t =>
      if (t == "events") Tables.events(spark, corpus) else Tables.load(spark, corpus, t))
    val resolveS = (System.nanoTime() - r0) / 1e9
    // set-up: JVM start to a built session with the functions registered,
    // plus resolving the seed's tables; the untimed corpus generation in
    // between is left out
    val setupS = (sessionReadyMs - jvmStartMs) / 1e3 + resolveS
    val nproc = Runtime.getRuntime.availableProcessors
    val fp = Bench.measureFingerprint(nproc)

    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = Ctx(spark, corpus, work, trace)
    val runSpan = trace.map(_.open("run", s"$workload seed $seed", 0L, 0L))
    val gc0 = Jvm.snapshot()("gc_s")
    val out = runWorkload(ctx, ws, seconds, cores, runSpan, new File(work, "check"))
    runSpan.foreach(trace.get.close(_))
    val gcS = Jvm.snapshot()("gc_s") - gc0
    val heapMb = Jvm.liveHeapMb()
    spark.stop()

    val e2e = out.e2e ++ Map(
      "setup_s" -> (setupS, "s"),
      "heap_live_mb" -> (heapMb, "MB"))
    val layer = out.layer ++ Map("tables.resolve_s" -> (resolveS, "s"),
      "jvm.gc_s" -> (gcS, "s"))
    trace.foreach(t => writeTrace(t, new File(a("trace-dir")), workload, seed, layer))
    val env = Map(
      "nproc" -> nproc,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / MB,
      "fingerprint" -> Json.mapper.readValue(fp.json, classOf[java.util.Map[String, Any]]),
      "contended" -> Bench.contended(fp),
      "scratch_entries_at_start" -> leftovers)
    def metrics(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.write(new File(a("out")), Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "e2e" -> metrics(e2e), "layer" -> metrics(layer),
      "report" -> (out.report ++ Map("corpus_s" -> corpusS, "env" -> env)),
      "attempted" -> out.attempted, "failures" -> out.failures, "check" -> out.check))
  }

  /** Per-pass layer metrics of a batch workload's traced pass. */
  private def batchLayers(b: Batch, pass: Int, cores: Int): Map[String, Double] = {
    val ls = b.layers.filter(_.pass == pass).toSeq
    def c(k: String) = ls.map(_.counts.getOrElse(k, 0.0)).sum
    val busy = c("task_busy_ms") / 1e3
    Map(
      "operators.build_s" -> ls.map(_.buildS).sum,
      "operators.build_jobs" -> c("jobs.build"),
      "catalyst.plan_s" -> ls.map(_.planS).sum,
      "exec.s" -> ls.map(_.execS).sum,
      "exec.jobs" -> c("jobs.exec"),
      "exec.core_util" -> busy / math.max(1e-9, ls.map(_.wallS).sum * cores),
      "dfcache.hits" -> c("dfcache_hits"),
      "dfcache.cached_mb" -> ls.map(_.counts.getOrElse("cached_mb", 0.0)).maxOption.getOrElse(0.0),
      "sources.files_read" -> c("files_read"),
      "sources.files_written" -> c("files_written"),
      "sources.disk_mb" -> b.passDisk.getOrElse(pass, 0.0),
      "streaming.batches" -> c("stream_batches"),
      "streaming.state_rows" -> c("state_rows"),
      "streaming.state_mb" -> c("state_mb")) ++ executorLayers(c)
  }

  /** Executor-side counters, named as the per-layer metrics. */
  private def executorLayers(c: String => Double): Map[String, Double] = Map(
    "exec.stages" -> c("stages"),
    "exec.tasks" -> c("tasks"),
    "exec.task_busy_s" -> c("task_busy_ms") / 1e3,
    "exec.task_wait_s" -> c("task_wait_ms") / 1e3,
    "exec.shuffle_write_mb" -> c("shuffle_write_bytes") / MB,
    "exec.shuffle_read_mb" -> c("shuffle_read_bytes") / MB,
    "exec.spill_mb" -> c("spill_bytes") / MB,
    "exec.input_mb" -> c("input_bytes") / MB,
    "exec.input_rows" -> c("input_rows"),
    "exec.gc_s" -> c("gc_ms") / 1e3,
    "exec.failed_tasks" -> c("failed_tasks"),
    "sources.bytes_written_mb" -> c("output_bytes.build") / MB,
    "sources.rows_written" -> c("output_rows.build"))

  /** Every per-layer metric the harness reports, with its unit. */
  val LayerUnits: Map[String, String] = Map(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "catalyst.plan_s" -> "s", "codegen.compile_s" -> "s", "jvm.jit_s" -> "s",
    "jvm.codecache_mb" -> "MB", "exec.s" -> "s", "exec.jobs" -> "count",
    "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_busy_s" -> "s",
    "exec.core_util" -> "ratio", "exec.task_wait_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB", "exec.input_rows" -> "count",
    "exec.gc_s" -> "s", "exec.failed_tasks" -> "count", "dfcache.hits" -> "count",
    "dfcache.cached_mb" -> "MB",
    "sources.files_read" -> "count", "sources.bytes_written_mb" -> "MB",
    "sources.rows_written" -> "count", "sources.files_written" -> "count",
    "sources.disk_mb" -> "MB", "streaming.batches" -> "count",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.backlog_max" -> "count", "jvm.gc_s" -> "s",
    "tables.resolve_s" -> "s")

  /** Median over the traced steady passes of each per-pass layer metric,
    * plus the first pass's JVM compile costs (where they land).
    */
  private def layerMetrics(perPass: Seq[Map[String, Double]],
      first: Map[String, Double], extra: Map[String, Double])
      : Map[String, (Double, String)] = {
    val keys = perPass.flatMap(_.keys).distinct
    val steady = keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val all = steady ++ Map(
      "codegen.compile_s" -> first("codegen_s"),
      "jvm.jit_s" -> first("jit_s"),
      "jvm.codecache_mb" -> first("codecache_mb")) ++ extra
    all.collect { case (k, v) if LayerUnits.contains(k) => k -> (v, LayerUnits(k)) }
  }

  private def runWorkload(ctx: Ctx, ws: com.fasterxml.jackson.databind.JsonNode,
      seconds: Int, cores: Int, runSpan: Option[Span], checkDir: File): Outcome = {
    val queries = ws.get("pass").elements().asScala.map(_.asText).toSeq
    val stream = Option(ws.get("stream")).map(n =>
      new Stream(ctx, n.get("slices").asInt, n.get("slices_per_s").asDouble))
    val b = new Batch(ctx, queries, stream)
    b.run(seconds, ctx.trace.nonEmpty, runSpan)
    // the open loop runs in the traced run only, with the tracer detached
    val open = for (s <- stream if ctx.trace.nonEmpty) yield {
      val o = s.openLoop()
      o.copy(phase = s.verify(o.phase))
    }
    // the last timed step is done: from here on the oracle check of the
    // outputs may run beside this JVM
    b.check(checkDir)
    val checkFailures = b.checkFailures.toSeq ++ b.verifyDrains()

    val first = b.passes.head
    val steady = b.passes.drop(1)
    def times(tr: Boolean) = steady.filter(_._2 == tr).map(_._3).toSeq
    val untracedSteady = times(false)
    val ok = b.samples.filter(s => s.pass >= 1 && !s.traced && s.error.isEmpty).toSeq
    // the percentiles are taken over each query's median steady sample, so
    // a query's pass-to-pass noise cannot reorder it against its neighbours
    val perQuery = ok.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.wallS)) }
    val e2e = Map(
      "first_pass_s" -> (first._3, "s"),
      "pass_s" -> (Stats.median(untracedSteady), "s"),
      "query_p50_s" -> (Stats.quantile(perQuery.values.toSeq, 0.5), "s"),
      "query_p90_s" -> (Stats.quantile(perQuery.values.toSeq, 0.9), "s"))
    val tracedPasses = steady.filter(_._2).map(_._1).toSeq
    val layer =
      if (ctx.trace.isEmpty) Map.empty[String, (Double, String)]
      else layerMetrics(tracedPasses.map(batchLayers(b, _, cores)), b.passJvm(first._1),
        Map("streaming.backlog_max" -> open.map(_.backlogMax.toDouble).getOrElse(0.0)))
    val failures = b.samples.collect { case s if s.error.isDefined =>
      Map("name" -> s.name, "phase" -> s"pass ${s.pass}", "reason" -> s.error.get)
    }.toSeq ++ checkFailures.map { case (n, r) =>
      Map("name" -> n, "phase" -> "check", "reason" -> r)
    } ++ open.toSeq.flatMap(_.phase.failures.map { case (n, r) =>
      Map("name" -> Stream.Name, "phase" -> s"open loop: $n", "reason" -> r)
    })
    val members = queries.distinct ++ stream.map(_ => Stream.Name)
    val report = Map[String, Any](
      "queries" -> members,
      "query_samples" -> ok.size,
      "check_pass_s" -> b.checkS,
      "jit_wait_s" -> b.jitWaitS,
      "passes_s" -> b.passes.map { case (p, tr, t) => Map("pass" -> p, "traced" -> tr, "s" -> t) },
      "per_query_s" -> perQuery,
      "first_pass_query_s" -> b.samples.filter(_.pass == 0).map(x => x.name -> x.wallS).toMap) ++ (if (ctx.trace.isEmpty) Map.empty else Map(
        "tracing_overhead_s" -> (Stats.median(times(true)) - Stats.median(untracedSteady)),
        "first_pass_layers" -> batchLayers(b, first._1, cores))) ++
      stream.map(s => Map("drain_events_per_s" -> s.totalEvents / Stats.median(
        b.samples.filter(x => x.name == Stream.Name && x.pass >= 1 && !x.traced).map(_.wallS).toSeq)))
        .getOrElse(Map.empty) ++
      open.map(o => openLoopReport(o)).getOrElse(Map.empty)
    Outcome(e2e, layer, report, members.size, failures,
      Map("queries" -> b.checked))
  }

  private def openLoopReport(o: OpenLoop): Map[String, Any] = {
    val batchMs = o.phase.progress.map(Stream.durationMs(_, "triggerExecution").toDouble)
    Map(
      "event_lag_p50_ms" -> Stats.weightedQuantile(o.lagMs, 0.5),
      "event_lag_p99_ms" -> Stats.weightedQuantile(o.lagMs, 0.99),
      "open_loop_slices" -> o.lagMs.size,
      "streaming_layers" -> Map(
        "streaming.batch_ms_p50" -> Stats.median(batchMs),
        "streaming.add_batch_ms" -> Stats.median(o.phase.progress.map(Stream.durationMs(_, "addBatch").toDouble)),
        "streaming.commit_ms" -> Stats.median(o.phase.progress.map(p =>
          (Stream.durationMs(p, "walCommit") + Stream.durationMs(p, "commitOffsets")).toDouble)),
        "streaming.backlog_max" -> o.backlogMax.toDouble,
        "generator.late_ms" -> o.lateMs.maxOption.getOrElse(0.0)))
  }

  /** Spans as JSON lines plus a per-layer self-time summary. */
  private def writeTrace(t: Trace, dir: File, workload: String, seed: Long,
      layer: Map[String, (Double, String)]): Unit = {
    dir.mkdirs()
    val spans = t.allSpans
    val kids = spans.groupBy(_.parent)
    val self = spans.map(s => s -> Trace.selfSeconds(s, kids.getOrElse(s.id, Nil)))
    val byKind = self.groupBy(_._1.kind).map { case (k, xs) =>
      k -> Map("count" -> xs.size, "total_s" -> xs.map(_._1.seconds).sum,
        "self_s" -> xs.map(_._2).sum)
    }
    // build + plan + exec must account for each registry query's wall time
    val unaccounted = spans.filter(s => s.kind == "query" &&
        kids.getOrElse(s.id, Nil).exists(_.kind == "exec")).map { q =>
      q.seconds - kids.getOrElse(q.id, Nil).filter(k => Set("build", "plan", "exec")(k.kind))
        .map(_.seconds).sum
    }
    val w = new java.io.PrintWriter(new File(dir, s"$workload-seed$seed.spans.jsonl"))
    try spans.foreach { s =>
      w.println(Json.mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "query" -> s.query,
        "start_us" -> s.start, "end_us" -> s.end)))
    } finally w.close()
    Json.write(new File(dir, s"$workload-seed$seed.summary.json"), Map(
      "self_time_by_layer" -> byKind,
      "max_unaccounted_query_s" -> unaccounted.map(math.abs).maxOption.getOrElse(0.0),
      "layer_metrics" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
  }
}
