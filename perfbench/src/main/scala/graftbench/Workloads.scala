package graftbench

import graft.domain.{Runner, Schemas}
import graft.ops.InternalCaches
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

/** A call into the program: spans are recorded when traced, skipped when not. */
trait Layers {
  def span[T](name: String)(f: => T): T
}

object Layers {
  val Off: Layers = new Layers { def span[T](name: String)(f: => T): T = f }
}

/** The result of one timed operation, checked after the timer stops.
  * `rowsIn` are the input rows the operation merged, `usefulRows` those that
  * changed the stored state (both zero for read operations). */
trait Executed {
  def rowsIn: Long = 0L
  def usefulRows: Long = 0L
  /** Is the output right? Runs outside the timed window. */
  def check(): Boolean
}

/** One workload: a closed loop of operations, issued one at a time. */
trait Workload {
  /** Fresh per set-up: load the tables, seed the store, warm the session. */
  def setup(spark: SparkSession): Unit
  /** The operations of the next pass, from the workload's seeded inputs. */
  def nextPass(spark: SparkSession): Seq[String]
  /** Make the operation's generated input; runs before its timer starts. */
  def prepare(spark: SparkSession, op: String): Unit = ()
  /** The timed part of an operation. */
  def execute(spark: SparkSession, op: String, layers: Layers): Executed
  /** Operations a run measures at least: the same for every seed, so every
    * run measures the same amount of work. */
  def minOps: Int
  /** Can an operation run twice in a row with the same cost? (A read can;
    * an increment cannot, because the first run moves the watermark.) */
  def repeatable: Boolean
  /** Metrics of the whole run, read after the last operation, with a final
    * check of the program's state. */
  def finish(spark: SparkSession, measuredS: Double): (Map[String, (Double, String)], Boolean)
}

/** Queries from `graft.SparkEntry`, each materialized through the `noop`
  * sink (as `graft.Bench` does); a pass runs every query of `pool` once, in
  * an order drawn from the seed, and a run measures `passes` passes.
  * Set-up runs the `warm` queries once, so timed queries find the JIT,
  * codegen and file caches filled. */
final class CatalogWorkload(pool: Seq[String], warm: Seq[String], passes: Int, dataDir: String,
                            goldens: Map[String, String], seed: Long) extends Workload {
  private val rng = new Random(seed)
  private val queries = graft.SparkEntry.queries
  require(pool.forall(queries.contains), s"unknown queries: ${pool.filterNot(queries.contains)}")
  require(pool.forall(goldens.contains), s"no golden fingerprint for ${pool.filterNot(goldens.contains)}")

  def repeatable = true
  def minOps: Int = passes * pool.size

  def setup(spark: SparkSession): Unit = warm.foreach { q =>
    queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
    InternalCaches.drainAll(spark)
  }

  def nextPass(spark: SparkSession): Seq[String] = rng.shuffle(pool)

  def execute(spark: SparkSession, op: String, layers: Layers): Executed = {
    val df = layers.span("queries.build")(queries(op)(spark, dataDir))
    layers.span("sink.noop")(df.write.format("noop").mode("overwrite").save())
    // Fingerprinted before the engine's pins are dropped, so the check
    // reuses what the operation cached instead of rebuilding it.
    () => try Fingerprint.of(df) == goldens(op) finally InternalCaches.drainAll(spark)
  }

  def finish(spark: SparkSession, measuredS: Double): (Map[String, (Double, String)], Boolean) =
    (Map.empty, true)
}

/** The paper's incremental path: each operation is one `graft.domain.Runner`
  * increment — read the watermark, keep the batch rows past it (less an
  * overlap window), merge them into the stored table. Batches come from a
  * seeded [[CommentFeed]], which also keeps the state the store must hold. */
final class UpsertWorkload(storeDir: String, seed: Long, baseRows: Int, batchRows: Int,
                           warmIncrements: Int, increments: Int) extends Workload {
  import UpsertWorkload._
  private var feed: CommentFeed = _
  private var runner: Runner = _
  private val pending = mutable.Map[String, CommentFeed.Batch]()
  private var nextBatch = 0
  private var rowsMerged = 0L

  def repeatable = false
  def minOps: Int = increments

  def setup(spark: SparkSession): Unit = {
    deleteRec(new java.io.File(storeDir))
    feed = new CommentFeed(seed, baseRows, batchRows)
    runner = new Runner(spark, storeDir)
    pending.clear()
    nextBatch = 0
    rowsMerged = 0L
    // the base load lands as the table's parquet files, as a bulk backfill would
    frame(spark, feed.current).write.parquet(s"$storeDir/$Table")
    // warm-up increments, part of the expected state like any other
    (1 to warmIncrements).foreach { _ =>
      val warm = nextPass(spark).head
      prepare(spark, warm)
      require(execute(spark, warm, Layers.Off).check(), "warm-up increment was wrong")
    }
    rowsMerged = 0L
  }

  /** A pass is one increment. */
  def nextPass(spark: SparkSession): Seq[String] = {
    nextBatch += 1
    Seq(s"batch-$nextBatch")
  }

  /** Draws the next batch. Batches are drawn in the order they run, since
    * each one's expected result assumes every earlier batch was merged. */
  override def prepare(spark: SparkSession, op: String): Unit = {
    val b = feed.next()
    pending(op) = b.copy(frame = spark.createDataFrame(
      java.util.Arrays.asList(b.rows.map(_.toRow): _*), Schemas.of(Table)))
  }

  def execute(spark: SparkSession, op: String, layers: Layers): Executed = {
    val b = pending.remove(op).get
    val wm = layers.span("domain.watermark")(runner.watermark(Table, TsCol))
    // the resume point is the watermark the program read, less the overlap
    val fresh = wm.fold(b.frame)(t => b.frame.filter(col(TsCol) > lit(new Timestamp(t.getTime - CommentFeed.OverlapS * 1000))))
    val live = layers.span("domain.upsert")(runner.upsert(Table, fresh))
    rowsMerged += b.offered
    new Executed {
      override def rowsIn = b.offered
      override def usefulRows = b.useful
      def check() =
        try live == b.liveAfter && wm.map(_.getTime / 1000).contains(b.watermark)
        finally InternalCaches.drainAll(spark)
    }
  }

  def finish(spark: SparkSession, measuredS: Double): (Map[String, (Double, String)], Boolean) = {
    val ok = Fingerprint.of(runner.state(Table)) == Fingerprint.of(frame(spark, feed.current))
    val bytes = dataBytes(new java.io.File(storeDir, Table))
    (Map(
      "rows_merged_per_s" -> (rowsMerged / measuredS, "rows/s"),
      "store_bytes_per_row" -> (bytes.toDouble / feed.current.size, "B/row")), ok)
  }
}

object UpsertWorkload {
  val Table = "reddit_comments"
  val TsCol = "created_dt"

  def frame(spark: SparkSession, rows: Seq[Comment]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(_.toRow), spark.sparkContext.defaultParallelism),
    Schemas.of(Table))

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    if (f.exists()) f.delete(): Unit
  }

  /** Bytes of the table's data files (no checksums or markers). */
  def dataBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum
}

/** A reddit_comments row, in the catalog's column order. */
final case class Comment(id: String, author: String, body: String, subreddit: String, media: String,
                         createdUtc: Long, score: Long, season: Long, episode: Long, withinSeason: Long) {
  def toRow: Row = Row(id, author, body, subreddit, media, createdUtc, score, season, episode,
    withinSeason, new Timestamp(createdUtc * 1000))
}

object Comment {
  /** `graft.ops.Upsert`'s default tiebreak for duplicate keys in a batch:
    * every non-key column in catalog order, descending — the largest wins. */
  val tiebreak: Ordering[Comment] = Ordering.by((c: Comment) =>
    (c.author, c.body, c.subreddit, c.media, c.createdUtc, c.score, c.season, c.episode, c.withinSeason))
}

/** Seeded generator of the comment stream, and the state a correct store
  * holds after each batch. Each batch mixes new rows past the watermark,
  * updates to stored keys, exact replays of recent rows (inside the overlap
  * window, so they reach the merge and must change nothing), stale re-serves
  * of old rows (outside the window, so the watermark filter must drop them)
  * and keys repeated inside the batch. */
final class CommentFeed(seed: Long, baseRows: Int, batchRows: Int) {
  import CommentFeed._
  private val rng = new Random(seed)
  private val state = mutable.LinkedHashMap[String, Comment]()
  private val ids = mutable.ArrayBuffer[String]()
  private var nextId = 0L

  private def text(n: Int) = rng.alphanumeric.take(n).mkString
  private def fresh(ts: Long): Comment = {
    val id = f"c$nextId%09d"
    nextId += 1
    Comment(id, s"u${rng.nextInt(5000)}", text(8 + rng.nextInt(40)), "survivor", text(6),
      ts, rng.nextInt(2000) - 100L, 1L + rng.nextInt(45), 1L + rng.nextInt(14), rng.nextInt(2).toLong)
  }
  private def put(c: Comment): Unit = {
    if (!state.contains(c.id)) ids += c.id
    state(c.id) = c
  }

  // base load: one row every 5 seconds, ending at the start of the stream
  (0 until baseRows).foreach(i => put(fresh(T0 - (baseRows - i) * 5L)))

  def current: Seq[Comment] = state.valuesIterator.toSeq
  def watermark: Long = state.valuesIterator.map(_.createdUtc).max

  def next(): CommentFeed.Batch = {
    val wm = watermark
    def future() = wm + 1 + rng.nextInt(OverlapS.toInt)
    def pick() = state(ids(rng.nextInt(ids.size)))
    val nNew = batchRows * 60 / 100
    val news = Seq.fill(nNew)(fresh(future()))
    val updates = Seq.fill(batchRows * 20 / 100)(pick())
      .map(c => c.copy(body = text(12), score = c.score + 1 + rng.nextInt(50), createdUtc = future()))
    val recent = ids.iterator.map(state).filter(_.createdUtc > wm - OverlapS).toIndexedSeq
    val replays = Seq.fill(batchRows * 10 / 100)(recent(rng.nextInt(recent.size)))
    val stale = Iterator.continually(pick()).filter(_.createdUtc <= wm - OverlapS)
      .take(batchRows * 5 / 100).map(_.copy(body = "stale")).toSeq
    val dups = news.take(batchRows - nNew - updates.size - replays.size - stale.size)
      .map(c => c.copy(body = text(12), score = rng.nextInt(2000).toLong))
    val rows = rng.shuffle(news ++ updates ++ replays ++ stale ++ dups)

    // expected merge: the watermark filter, latest-wins per key, then upsert
    val offered = rows.filter(_.createdUtc > wm - OverlapS)
    val winners = offered.groupBy(_.id).values.map(_.max(Comment.tiebreak))
    val useful = winners.count(c => !state.get(c.id).contains(c))
    winners.foreach(put)
    Batch(rows, wm, offered.size, useful, state.size, null)
  }
}

object CommentFeed {
  /** The stream's start, 2024-01-01T00:00:00Z. */
  val T0 = 1704067200L
  /** Rows this far behind the watermark are re-read on every increment. */
  val OverlapS = 3600L

  final case class Batch(rows: Seq[Comment], watermark: Long, offered: Int, useful: Long,
                         liveAfter: Long, frame: DataFrame)
}
