package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred).contains(Stats.Tail(90.0, 90.0, 10, 100)))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty).contains(Stats.Tail(10.0, 50.0, 10, 20)))
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven).get.value == 1.0)
    assert(math.abs(Stats.tail(eleven).get.percentile - 100.0 / 11) < 1e-9)
  }

  test("exactly ten samples lie beyond the tail") {
    val xs = Seq.fill(37)(scala.util.Random.nextDouble())
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
  }

  test("no tail without more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("core count parses, must be positive, is capped at nproc") {
    assert(BenchSession.parseCores("3", "--cores", 4) == 3)
    assert(BenchSession.parseCores("64", "--cores", 4) == 4)
    val bad = intercept[IllegalArgumentException](BenchSession.parseCores("four", "--cores", 4))
    assert(bad.getMessage.contains("--cores"))
    assert(intercept[IllegalArgumentException](BenchSession.parseCores("0", "--cores", 4))
      .getMessage.contains("--cores"))
  }

  test("interval union counts overlaps once") {
    assert(LayerReport.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0), (21.0, 22.0))) == 25.0)
  }

  test("a job belongs to the innermost graft module on its recorded stack") {
    val stack = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.dedup.Dedup$.signatures(Dedup.scala:10)",
      "graft.queries.ExtensionQueries$.$anonfun$defs$1(ExtensionQueries.scala:20)",
      "graftbench.CatalogWorkload.execute(Workloads.scala:5)").mkString("\n")
    assert(Modules.of(stack) == "dedup")
    assert(Modules.of("graft.Tables$.load(Tables.scala:1)") == "tables")
    assert(Modules.of("graftbench.Main$.main(Main.scala:1)") == "unattributed")
    assert(Modules.of(null) == "unattributed")
  }
}
