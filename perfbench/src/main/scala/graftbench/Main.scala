package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import javax.management.openmbean.CompositeData
import javax.management.{NotificationEmitter, NotificationListener}
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload as a closed loop with a single client and prints its
  * metrics; the last stdout line is the JSON result.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout> [--cores <n>]
  * }}}
  *
  * A timed run (`--trace 0`) registers no listeners and reports the
  * end-to-end metrics. A traced run (`--trace 1`) runs each operation once
  * untraced and once traced, reports the per-layer metrics from the traced
  * runs and the difference between the two as tracing overhead.
  */
object Main {
  /** A run that has not finished its operations this long after the
    * process started fails, so a slow machine still ends the run in time. */
  val DeadlineS = 140.0

  /** The reference ETL surface: every sixth of q01-q40 (q01, q07, ..., q37)
    * and the last, q40 — eight queries. */
  lazy val Etl: Seq[String] = graft.SparkEntry.queries.keys.toSeq.filter { k =>
    k.matches("q\\d\\d_.*") && { val i = k.slice(1, 3).toInt; i % 6 == 1 && i <= 40 || i == 40 }
  }.sorted

  /** The kernel rows: the LSH dedup pipeline (x27) from the dedup band, the
    * naive-Bayes confusion matrix (x143) from the text rows and the
    * embedding near-duplicate search (x07) from the ANN rows. */
  val Corpus = Seq("x27_lsh_dedup_pipeline", "x143_nb_confusion", "x07_embed_neardup")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be > 0")
    Args(need("workload"), need("seed").toLong, seconds, trace, Paths.get(need("root")).toAbsolutePath,
      BenchSession.parseCores(kv.getOrElse("cores", math.min(4, nproc).toString), "--cores", nproc))
  }

  def workload(a: Args): Workload = {
    val bench = a.root.resolve("perfbench")
    a.workload match {
      case "etl_core" =>
        new CatalogWorkload(Etl, Etl ++ Etl, passes = 2, bench.resolve("data/sf0.1").toString,
          Goldens.read(bench.resolve("goldens.tsv")), a.seed)
      case "corpus_curation" =>
        new CatalogWorkload(Corpus, Seq("x07_embed_neardup"), passes = 1, bench.resolve("data/sf0.1").toString,
          Goldens.read(bench.resolve("goldens.tsv")), a.seed)
      case "incremental_upsert" =>
        new UpsertWorkload(bench.resolve("work/store").toString, a.seed,
          baseRows = 30000, batchRows = 3000, warmIncrements = 2, increments = 4)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  private val started = System.nanoTime()
  private def elapsedS = (System.nanoTime() - started) / 1e9
  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a)
    // One set-up per run: it includes the JVM-cold warm-up, which is most of
    // a run's time, so repeating it for a median would double the run.
    val (spark, setupS) = secondsOf {
      val s = BenchSession.create(a.cores)
      wl.setup(s)
      s
    }
    System.err.println(f"[perfbench] set-up: $setupS%.3f s")
    val result = try if (a.trace) traced(a, wl, spark) else timed(a, wl, spark, setupS)
    catch {
      case e: IllegalStateException =>
        System.err.println(s"[perfbench] run failed: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    val outDir = a.root.resolve("perfbench/out")
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      result.report.getBytes(StandardCharsets.UTF_8))
    (result.metrics ++ result.printed).foreach { case (k, v, u) => println(f"metric $k%-36s $v%.6g $u") }
    println(result.json)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], printed: Seq[(String, Double, String)],
                          details: Seq[(String, String)]) {
    def json: String = {
      val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
    def report: String =
      (Seq(s""""result": $json""", s""""printed": ${Json.obj(printed.map { case (k, v, _) => k -> Json.num(v) })}""") ++ details.map { case (k, v) => s""""$k": $v""" }).mkString("{\n", ",\n", "\n}\n")
  }

  /** Runs whole passes until the workload's fixed operation count and at
    * least `seconds` of operation time are in, so every seed measures the
    * same mix. A run that reaches the deadline before its last operation
    * fails rather than report a different mix. */
  private def loop(a: Args, wl: Workload, spark: SparkSession)(run: String => Double): Unit = {
    var measured = 0.0
    var n = 0
    while (n < wl.minOps || measured < a.seconds && elapsedS < DeadlineS) {
      wl.nextPass(spark).foreach { op =>
        if (elapsedS >= DeadlineS)
          throw new IllegalStateException(
            f"deadline of $DeadlineS%.0f s reached after $n operations, inside a pass (the workload needs ${wl.minOps})")
        wl.prepare(spark, op)
        val s = run(op)
        System.err.println(f"[perfbench] $op: $s%.3f s")
        measured += s
        n += 1
      }
    }
  }

  def timed(a: Args, wl: Workload, spark: SparkSession, setupS: Double): Result = {
    val lat = mutable.ArrayBuffer[Double]()
    val labels = mutable.ArrayBuffer[String]()
    var failed = 0
    val heap = new HeapPeak
    loop(a, wl, spark) { op =>
      val t0 = System.nanoTime()
      val ok = try {
        val ex = wl.execute(spark, op, Layers.Off)
        lat += (System.nanoTime() - t0) / 1e9
        ex.check()
      } catch {
        case e: Exception =>
          lat += (System.nanoTime() - t0) / 1e9
          System.err.println(s"[perfbench] $op failed: $e")
          false
      }
      labels += op
      if (!ok) failed += 1
      lat.last
    }
    heap.stop()
    val wall = lat.sum
    val (extra, finalOk) = wl.finish(spark, wall)
    if (!finalOk) {
      System.err.println("[perfbench] final state check failed")
      failed = lat.size
    }
    val tail = Stats.tail(lat.toSeq)
    if (tail.isEmpty)
      println(s"metric latency_tail_s n/a: ${lat.size} samples, a tail needs more than ${Stats.TailBeyond}")
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", (lat.size - failed) / wall, "1/s"))
    // Printed and kept in the report, but not in the JSON result, which holds
    // only metrics steady enough to gate a change (see perfbench/README.md):
    // the median and tail are single order statistics of 3 to 16 samples, the
    // heap peak moves with GC timing, the failed share is zero on a correct
    // run (the result's `failed` count carries it) and the store numbers
    // exist only where there is a store.
    val printed = Seq(
      ("latency_p50_s", Stats.median(lat.toSeq), "s"),
      ("heap_peak_mb", heap.peakMb, "MB"),
      ("failed_share", failed.toDouble / lat.size, "share")) ++
      tail.map(t => ("latency_tail_s", t.value, "s")) ++
      extra.toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }
    Result(failed == 0, lat.size, failed, metrics, printed, Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
      "latency_tail" -> tail.fold(s"""{"percentile": null, "samples": ${lat.size}}""")(t =>
        s"""{"percentile": ${Json.num(t.percentile)}, "beyond": ${t.beyond}, "samples": ${t.samples}}"""),
      "ops" -> Json.arr(labels.zip(lat).map { case (l, s) => s"""[${Json.str(l)}, ${Json.num(s)}]""" }.toSeq)))
  }

  def traced(a: Args, wl: Workload, spark: SparkSession): Result = {
    val ts = new TraceSession(spark)
    val records = mutable.ArrayBuffer[OpRecord]()
    var plainS, tracedS = 0.0
    var plainN, tracedN = 0
    var attempted, failed = 0

    /** Runs `op` once; returns its wall, or 0 if it threw. */
    def once(op: String, trace: Boolean): Double = {
      attempted += 1
      val before = ts.tracer.spans.size
      var wall = 0.0
      val ok = try {
        if (trace) ts.attach()
        val (ex, s) = try secondsOf {
          if (trace) ts.tracer.span("op")(wl.execute(spark, op, ts.tracer))
          else wl.execute(spark, op, Layers.Off)
        } finally if (trace) ts.detach()
        if (trace) {
          val jobs = ts.layers.jobs.values.toSeq
          ts.layers.jobs.clear()
          records += LayerReport.op(op, ts.tracer.spans.drop(before).toSeq, jobs, ts.plans,
            ts.layers.cachePeakBytes, ex)
          tracedS += s; tracedN += 1
        } else { plainS += s; plainN += 1 }
        wall = s
        ex.check()
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $op failed: $e")
          false
      }
      if (!ok) failed += 1
      wall
    }

    // traced over untraced wall of the same operation, kept apart by which
    // ran first: a query's second run is faster than its first
    val ratios = Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
    var i = 0
    loop(a, wl, spark) { op =>
      i += 1
      if (wl.repeatable) {
        // the same operation both ways, alternating which goes first
        val tracedFirst = i % 2 == 1
        val (t, p) =
          if (tracedFirst) { val t = once(op, trace = true); (t, once(op, trace = false)) }
          else { val p = once(op, trace = false); (once(op, trace = true), p) }
        if (t > 0 && p > 0) ratios(tracedFirst) += t / p
        t
      } else once(op, trace = i % 2 == 0)
    }
    val (extra, finalOk) = wl.finish(spark, tracedS + plainS)
    if (!finalOk) failed = attempted
    // With both orders seen, the geometric mean of the two mean ratios
    // cancels the first-run penalty; increments, which cannot repeat,
    // compare the traced and untraced ones of the run.
    val overhead =
      if (ratios.values.forall(_.nonEmpty)) math.sqrt(ratios.values.map(r => r.sum / r.size).product) - 1
      else (tracedS / tracedN) / (plainS / plainN) - 1
    // the store's own numbers, zero on workloads without a store
    val domain = Seq("rows_merged_per_s" -> "rows/s", "store_bytes_per_row" -> "B/row").map { case (k, u) =>
      (s"domain.$k", extra.get(k).map(_._1).getOrElse(0.0), u)
    }
    val metrics = LayerReport.metrics(records.toSeq, overhead) ++ domain
    val self = LayerReport.selfTimes(records.toSeq)
    System.err.println(f"[perfbench] unattributed CPU share ${metrics.find(_._1 == "trace.unattributed_cpu_share").get._2}%.3f")
    Result(failed == 0, attempted, failed, metrics, Nil, Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> a.cores.toString,
      "tracing_overhead" -> s"""{"traced_s": ${Json.num(tracedS)}, "traced_ops": $tracedN, "untraced_s": ${Json.num(plainS)}, "untraced_ops": $plainN, "ratios_traced_first": ${Json.arr(ratios(true).toSeq.map(Json.num))}, "ratios_traced_second": ${Json.arr(ratios(false).toSeq.map(Json.num))}}""",
      "spans" -> Json.arr(ts.tracer.spans.toSeq.map(sp =>
        s"[${sp.id}, ${Json.str(sp.name)}, ${sp.parent}, ${Json.num(sp.startMs)}, ${Json.num(sp.endMs)}]")),
      "self_s_per_op" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "ops" -> Json.arr(records.toSeq.map { r =>
        Json.obj(Seq("op" -> Json.str(r.label), "wall_s" -> Json.num(r.wallS), "build_s" -> Json.num(r.buildS),
          "exec_run_s" -> Json.num(r.execRunS), "gap_s" -> Json.num(r.gapS), "closes" -> r.closes.toString,
          "jobs_by_module" -> Json.obj(r.jobs.groupBy(_.module).toSeq.sortBy(_._1)
            .map { case (m, js) => m -> js.size.toString })))
      })))
  }
}

/** Peak heap use after GC of the JVM running the session, over the timed
  * operations: the largest heap left after any collection the JVM ran
  * while they ran, read from its GC notifications. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))

  def peakMb: Double = peak / 1048576.0
}

/** The little JSON the run writes. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a JSON number: $d")
    else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Golden output fingerprints: one `<query>\t<rows>:<hash sum>` per line. */
object Goldens {
  def read(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t")
      k -> v
    }.toMap
}
