package graft.pipeline

import graft.model._
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/**
 * StageGraph vs the reference's `buildStageGraph` + edge derivation
 * (ref:ui/src/StageGraphFlow.tsx:46-108, 651-757), hand-run on the same
 * fixtures: the shipped sampleStages.json and a multi-stage flow shaped
 * like the image-analysis examples (two LOADs feeding a JOIN, a FILTER
 * on the join output, an implicit chain, and the documented quirks).
 *
 * sampleStages.json is vendored as the test resource
 * `fixtures/sampleStages.json`, copied from FIXTURES.md §1.3, which
 * documents ref:ui/src/sampleStages.json:1-14.
 */
class StageGraphSpec extends AnyFunSuite {

  private def cond = Seq(FilterCondition("a", "=", "1"))
  private def agg = Seq(Aggregation("COUNT", "*", Some("n")))

  private def read(path: Path): Seq[Stage] =
    StageJson.parseStages(Files.readString(path))

  test("sampleStages.json: a lone JOIN with no LOADs has no inputs and no edges") {
    val stages = read(
      Path.of(getClass.getResource("/fixtures/sampleStages.json").toURI))
    assert(stages.nonEmpty)
    // where the reference checkout is present, the vendored copy must
    // still parse to the same stages as the original
    val original = Path.of("/root/reference/ui/src/sampleStages.json")
    if (Files.isRegularFile(original)) assert(read(original) == stages)
    val nodes = StageGraph.buildStageGraph(stages)
    // no LOAD registered either table name -> the truthiness guard
    // drops both inputs, exactly like the reference
    assert(nodes.map(n => (n.id, n.inputs, n.level)) ==
      Seq(("sample_join_customers_orders", Nil, 0)))
    assert(StageGraph.edges(stages).isEmpty)
  }

  private val flow = Seq(
    // forward references: both LOADs appear later, but the reference
    // registers every LOAD in a first pass, so they still resolve
    JoinStage("j0", "", "INNER", "orders", "extra", "k", "k"),
    LoadStage("l1", "", "customers", "customers.csv"),
    LoadStage("l2", "", "orders", "orders.csv"),
    JoinStage("j1", "", "INNER", "orders", "customers", "k", "k"),
    FilterStage("f1", "", Some("joined_orders_customers"), cond),
    GroupStage("g1", "", None, Seq("a"), agg),
    LoadStage("l3", "", "extra", "extra.csv"),
    AggregateStage("a1", "", Some("extra"), agg),
    UnionStage("u1", "", "UNION", Seq("customers", "extra")))

  test("nodes: input resolution, join-output registration, levels") {
    val nodes = StageGraph.buildStageGraph(flow)
      .map(n => n.id -> n).toMap
    assert(nodes("j0").inputs == Seq("l2", "l3")) // forward LOADs resolve
    assert(nodes("j1").inputs == Seq("l2", "l1")) // leftTable first
    // f1 consumes j1's registered output name joined_orders_customers
    assert(nodes("f1").inputs == Seq("j1"))
    // GROUP with no table, AGGREGATE, and LOADs resolve no inputs
    assert(nodes("g1").inputs.isEmpty && nodes("a1").inputs.isEmpty)
    assert(nodes("l1").inputs.isEmpty)
    // levels: 1 + max input level at resolution time; forward LOADs
    // contribute 0
    assert(nodes("j0").level == 1 && nodes("j1").level == 1)
    assert(nodes("f1").level == 2)
    assert(nodes("g1").level == 0 && nodes("u1").level == 1)
  }

  test("edges match the reference derivation, including both quirks") {
    val es = StageGraph.edges(flow).map(e => (e.id, e.source, e.target))
    assert(es == Seq(
      ("l2-j0-0", "l2", "j0"), ("l3-j0-1", "l3", "j0"),
      ("l2-j1-0", "l2", "j1"), ("l1-j1-1", "l1", "j1"),
      ("j1-f1-0", "j1", "f1"),
      // implicit chain: g1 has no inputs -> edge from its predecessor f1
      ("f1-g1", "f1", "g1"),
      // quirk: a1 (AGGREGATE, never given inputs by the reference) sits
      // directly below a LOAD, which BREAKS the chain -> no edge at all
      ("l1-u1-0", "l1", "u1"), ("l3-u1-1", "l3", "u1")))
  }

  test("a repeated (left, right) JOIN rebinds the output name for later stages") {
    val stages = Seq(
      LoadStage("l1", "", "a", "a.csv"),
      LoadStage("l2", "", "b", "b.csv"),
      JoinStage("jA", "", "INNER", "a", "b", "k", "k"),
      JoinStage("jB", "", "INNER", "a", "b", "k", "k"),
      FilterStage("f", "", Some("joined_a_b"), cond))
    val nodes = StageGraph.buildStageGraph(stages).map(n => n.id -> n).toMap
    assert(nodes("f").inputs == Seq("jB")) // the LATER join won the name
  }
}
