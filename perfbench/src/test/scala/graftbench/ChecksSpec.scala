package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Output checks: fingerprints ignore row order, and a wrong output is
  * counted as a failed operation. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  override def beforeAll(): Unit = spark = BenchSession.create(2)
  override def afterAll(): Unit = spark.stop()

  test("fingerprints do not depend on row order or partitioning") {
    val df = spark.range(0, 5000).select(col("id"), (col("id") % 7).cast("string").as("s"),
      map(lit("k"), col("id")).as("m"), (col("id") / 3.0).as("d"))
    val shuffled = df.repartition(7).orderBy(rand(1))
    assert(Fingerprint.of(df) == Fingerprint.of(shuffled))
    assert(Fingerprint.of(df) != Fingerprint.of(df.limit(4999)))
    assert(Fingerprint.of(df) != Fingerprint.of(df.withColumn("s", lit("x"))))
    assert(Fingerprint.of(df.limit(0)) == "0:0")
  }

  test("an operation whose output is wrong counts as failed") {
    val wl = new Workload {
      def setup(spark: SparkSession): Unit = ()
      def nextPass(spark: SparkSession): Seq[String] = (1 to 12).map(i => if (i == 5) "wrong" else s"op$i")
      def execute(spark: SparkSession, op: String, layers: Layers): Executed = () => op != "wrong"
      def repeatable = true
      def minOps = 12
      def finish(spark: SparkSession, measuredS: Double) = (Map.empty[String, (Double, String)], true)
    }
    val args = Main.Args("fake", 1, 1e-9, trace = false, Files.createTempDirectory("pb"), 1)
    val r = Main.timed(args, wl, spark, 1.0)
    assert(r.attempted == 12 && r.failed == 1 && !r.correct)
    assert(r.printed.find(_._1 == "failed_share").get._2 == 1.0 / 12)
  }

  test("a catalog query checked against a wrong golden fails") {
    val dir = new java.io.File("data/sf0.1").getAbsolutePath
    val q = "x124_span_scrub"
    val right = new CatalogWorkload(Seq(q), Nil, 1, dir, Goldens.read(java.nio.file.Paths.get("goldens.tsv")), 1)
    assert(right.execute(spark, q, Layers.Off).check())
    val wrong = new CatalogWorkload(Seq(q), Nil, 1, dir, Map(q -> "1:1"), 1)
    assert(!wrong.execute(spark, q, Layers.Off).check())
  }

  test("an increment store that lost a row fails the final check") {
    val store = Files.createTempDirectory("pb-store").toString
    val wl = new UpsertWorkload(store, seed = 5, baseRows = 3000, batchRows = 300, warmIncrements = 1, increments = 2)
    wl.setup(spark)
    (wl.nextPass(spark) ++ wl.nextPass(spark)).foreach { op =>
      wl.prepare(spark, op)
      assert(wl.execute(spark, op, Layers.Off).check())
    }
    assert(wl.finish(spark, 1.0)._2)
    val table = s"$store/${UpsertWorkload.Table}"
    val kept = spark.read.parquet(table).orderBy("id").offset(1)
    kept.write.parquet(s"$store/tampered")
    UpsertWorkload.deleteRec(new java.io.File(table))
    new java.io.File(s"$store/tampered").renameTo(new java.io.File(table))
    assert(!wl.finish(spark, 1.0)._2)
  }
}
