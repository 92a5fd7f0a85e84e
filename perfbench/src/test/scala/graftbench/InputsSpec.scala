package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload seed fixes every generated input; another seed changes it. */
class InputsSpec extends AnyFunSuite {
  private def batches(seed: Long): Seq[String] = {
    val feed = new CommentFeed(seed, baseRows = 2000, batchRows = 400)
    val base = feed.current.map(_.toString)
    base ++ Seq.fill(3)(feed.next()).flatMap(b => b.rows.map(_.toString) :+ s"${b.offered}/${b.useful}/${b.liveAfter}")
  }

  private def orders(seed: Long): Seq[Seq[String]] = {
    val wl = new CatalogWorkload(Main.Corpus, Nil, 1, "unused",
      Main.Corpus.map(_ -> "0:0").toMap, seed)
    Seq.fill(3)(wl.nextPass(null))
  }

  test("same seed gives byte-identical batches") {
    assert(batches(7).mkString("\n").getBytes("UTF-8").sameElements(batches(7).mkString("\n").getBytes("UTF-8")))
  }

  test("different seeds give different batches") {
    assert(batches(7) != batches(8))
  }

  test("same seed gives the same pass orders; different seeds differ") {
    assert(orders(7) == orders(7))
    assert(orders(7) != orders(8))
    assert(orders(7).forall(_.sorted == Main.Corpus.sorted))
  }

  test("a batch holds every kind of row the increment must handle") {
    val feed = new CommentFeed(3, baseRows = 2000, batchRows = 400)
    val before = feed.current.map(c => c.id -> c).toMap
    val wm = feed.watermark
    val b = feed.next()
    val fresh = b.rows.filter(c => !before.contains(c.id))
    assert(fresh.nonEmpty && fresh.forall(_.createdUtc > wm), "new rows past the watermark")
    assert(b.rows.exists(c => before.get(c.id).exists(o => o != c && c.createdUtc > wm)), "updates")
    assert(b.rows.exists(c => before.get(c.id).contains(c)), "exact replays")
    assert(b.rows.exists(_.createdUtc <= wm - CommentFeed.OverlapS), "stale rows the watermark drops")
    assert(fresh.groupBy(_.id).exists(_._2.size > 1), "duplicate keys inside the batch")
    assert(b.liveAfter == before.size + fresh.map(_.id).distinct.size)
  }
}
