package graftbench

import org.apache.spark.sql.SparkSession

/** The one session factory every workload runs on.
  *
  * The SQL conf is `graft.Bench`'s (32 shuffle partitions, 64 MB broadcast
  * threshold, UTC, UI off), so the plans measured here are the plans of the
  * graded catalog run; only the core count differs, and it is bounded by the
  * machine.
  */
object BenchSession {

  /** Parse the core-count setting: a positive integer, capped at `nproc`. */
  def parseCores(raw: String, setting: String, nproc: Int): Int = {
    val n = try raw.trim.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$setting must be a positive integer, got '$raw'")
    }
    if (n <= 0) throw new IllegalArgumentException(s"$setting must be > 0, got $n")
    math.min(n, nproc)
  }

  def create(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
