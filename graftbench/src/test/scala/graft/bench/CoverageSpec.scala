package graft.bench

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

/** The benchmark's own consistency checks: every bench query is assigned
  * to exactly one workload (a new registry entry fails here until it is
  * assigned), each pass runs only checkable members, and every workload
  * and metric name in BENCHMARK.json is well formed and reported by the
  * harness. That each pass is the sample its rule draws is checked by
  * `python3 select_pass.py --check`.
  */
class CoverageSpec extends AnyFunSuite {
  private val spec = Json.read(new File("workloads.json")).get("workloads")
  private val bench = Json.read(new File("../BENCHMARK.json"))
  private def names(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq
  private val batch = spec.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  test("every SparkEntry.benchQueries key belongs to exactly one batch workload") {
    val members = batch.flatMap { case (w, n) => names(n.get("members")).map(_ -> w) }
    val twice = members.groupBy(_._1).collect { case (q, ws) if ws.size > 1 => q -> ws.map(_._2) }
    assert(twice.isEmpty, s"queries in more than one workload: $twice")
    val keys = SparkEntry.benchQueries.keySet
    val unassigned = keys -- members.map(_._1)
    assert(unassigned.isEmpty, s"bench queries in no workload: ${unassigned.toSeq.sorted}")
    val unknown = members.map(_._1).toSet -- keys
    assert(unknown.isEmpty, s"workload members that are not bench queries: $unknown")
  }

  test("each pass runs its sample size of members that have a DuckDB oracle") {
    for ((w, n) <- batch)
      assert(names(n.get("pass")).size == n.get("sample_size").asInt, s"$w pass size")
    for ((w, n) <- batch; q <- names(n.get("pass"))) {
      assert(names(n.get("members")).contains(q), s"$w pass query $q is not a member")
      assert(SparkEntry.oracleSql.contains(q), s"$w pass query $q has no oracle")
    }
  }

  test("workload and metric names are well formed and measured by the harness") {
    val ok = "[A-Za-z0-9_.-]+"
    def named(section: String): Seq[String] =
      bench.get(section).elements().asScala.map(_.get("name").asText).toSeq
    val workloads = named("workloads")
    assert(workloads.toSet == spec.fieldNames().asScala.toSet)
    val layer = named("per_layer")
    val e2e = named("end_to_end")
    for (n <- workloads ++ layer ++ e2e) assert(n.matches(ok), s"bad name $n")
    val unmeasured = layer.filterNot(Main.LayerUnits.contains)
    assert(unmeasured.isEmpty, s"per-layer metrics the harness does not report: $unmeasured")
  }
}
