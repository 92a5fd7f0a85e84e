package graftbench

import graft.ops.InternalCaches
import org.apache.spark.sql.SparkSession

/** Prints the golden fingerprint of every catalog query the benchmark runs,
  * as `goldens.tsv` lines. With a `graft.Verify` dump directory (one parquet
  * directory per query, e.g. as `tools/check.py` leaves it after checking the
  * outputs against the DuckDB oracle), it also fingerprints the dumped output
  * and fails if the two differ, which ties each golden to a checked output.
  *
  * {{{
  * RecordGoldens <checkout root> [<verify dump dir>]
  * }}}
  */
object RecordGoldens {
  def main(argv: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(argv(0)).toAbsolutePath
    val dump = argv.lift(1)
    val dataDir = root.resolve("perfbench/data/sf0.1").toString
    val spark: SparkSession = BenchSession.create(math.min(4, Runtime.getRuntime.availableProcessors()))
    var mismatches = 0
    (Main.Etl ++ Main.Corpus).sorted.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      df.write.format("noop").mode("overwrite").save()
      val fp = Fingerprint.of(df)
      InternalCaches.drainAll(spark)
      dump.foreach { d =>
        val dumped = Fingerprint.of(spark.read.parquet(s"$d/$q"))
        if (dumped != fp) {
          System.err.println(s"$q: benchmark output $fp, checked dump $dumped")
          mismatches += 1
        }
      }
      println(s"$q\t$fp")
    }
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
