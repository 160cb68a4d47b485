package graft.bench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What a workload runs against: the session, the seed's corpus, the
  * run's private scratch directory and, in a traced run, the tracer.
  */
final case class Ctx(spark: SparkSession, corpus: String, work: File,
    trace: Option[Trace])

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(f: File, v: Any): Unit = mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
  def read(f: File): JsonNode = mapper.readTree(f)
}

/** Process-wide JVM counters a pass moves. */
object Jvm {
  private val MB = 1024.0 * 1024

  def snapshot(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
    Map(
      "codegen_s" -> CodeGenerator.compileTime / 1e9,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "gc_s" -> gcMs / 1e3,
      "codecache_mb" -> codeCache / MB)
  }

  /** Time counters as differences; the code cache as its level at `b`. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (if (k == "codecache_mb") v else v - a(k)) }

  /** Waits (at most `maxS` seconds) until the JIT compilers have been idle
    * for a moment, so steady passes do not share the cores with the
    * compilation the first pass triggered. Returns the seconds waited.
    */
  def awaitJitQuiet(maxS: Double): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < maxS) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 25
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full collections: the least of a few, spaced so
    * that Spark's cleaner thread can drop what the previous one freed.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }.min

  def dirMb(f: File): Double = {
    def size(x: File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(size).sum else x.length
    size(f) / MB
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Quantile of values each repeated `weight` times. */
  def weightedQuantile(xs: Seq[(Long, Double)], q: Double): Double = {
    val s = xs.filter(_._1 > 0).sortBy(_._2)
    val total = s.map(_._1).sum
    if (total == 0) Double.NaN
    else {
      val rank = math.ceil(q * total).toLong.max(1L)
      var seen = 0L
      s.find { case (w, _) => seen += w; seen >= rank }.map(_._2).getOrElse(s.last._2)
    }
  }
}
