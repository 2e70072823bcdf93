package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: percentiles and the sample-count rule,
  * span self time, the ingest backlog rule and seeded generators. */
class LogicSpec extends AnyFunSuite {

  test("nearest-rank percentiles report a measured sample") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 95) == 10.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.tailLevel(200).contains(95))
    assert(Stats.tailLevel(199).contains(90))
    assert(Stats.tailLevel(100).contains(90))
    assert(Stats.tailLevel(99).contains(75))
    assert(Stats.tailLevel(40).contains(75))
    assert(Stats.tailLevel(39).isEmpty)
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 200).map(_.toDouble)).contains(95 -> 190.0))
  }

  test("self time subtracts the union of children clipped to the parent") {
    assert(Span.selfNs((0, 100), Nil) == 100)
    assert(Span.selfNs((0, 100), Seq((10, 30), (50, 60))) == 70)
    // overlapping children count once
    assert(Span.selfNs((0, 100), Seq((10, 40), (30, 60))) == 50)
    // a child reaching outside the parent counts only inside it
    assert(Span.selfNs((0, 100), Seq((-20, 10), (90, 150))) == 80)
    // nested children are covered by their enclosing child
    assert(Span.selfNs((0, 100), Seq((0, 100), (20, 30))) == 0)
    assert(Span.selfNs((0, 100), Seq((200, 300))) == 100)

    val spans = Seq(Span(1, -1, 1, "op", 0, 100), Span(2, 1, 1, "a", 10, 50), Span(3, 2, 1, "b", 20, 30))
    assert(Span.selfTimes(spans) == Map(1L -> 60L, 2L -> 30L, 3L -> 10L))
  }

  test("a traced run fails when a layer its workload exercises was not measured") {
    assert(Report.PerLayer.map(_._1).toSet == Report.Layers.values.flatten.toSet)
    val mine = Report.Layers("batch_curate")
    def run(skip: Set[String]): Int = {
      val r = new Report("batch_curate", traced = true)
      r.check(ok = true, "")
      mine.diff(skip).foreach(r.put(_, 1.0, "count"))
      r.finish()
    }
    assert(run(Set.empty) == 0)
    assert(run(Set("queries.q3_join5_s")) == 1)
  }

  test("the backlog grows when more than one batch waits at a step's end") {
    val due = (0 until 300).map(_.toLong)
    val allTaken = due.map(d => Some(d + 1))
    assert(!IngestFollow.backlogGrows(due, allTaken, 1000))
    val waiting = due.map(d => if (d < 150) Some(d) else None)
    assert(IngestFollow.backlogGrows(due, waiting, 1000))
    // records taken after the step ended were waiting at its end
    val late = due.map(d => if (d < 150) Some(d) else Some(2000L))
    assert(IngestFollow.backlogGrows(due, late, 1000))
    // exactly one batch waiting is not growth; records due later don't count
    val oneBatch = due.map(d => if (d < 200) Some(d) else None)
    assert(!IngestFollow.backlogGrows(due, oneBatch, 1000))
    assert(!IngestFollow.backlogGrows(due, waiting, 100))

    val steps = Seq((30.0, false, Some(900.0)), (60.0, false, Some(2500.0)), (300.0, true, Some(900.0)))
    assert(IngestFollow.maxSustained(steps, 3000) == 60.0)
    assert(IngestFollow.maxSustained(steps, 1000) == 30.0)
    assert(IngestFollow.maxSustained(steps.map(s => s.copy(_2 = true)), 3000) == 0.0)
    assert(IngestFollow.maxSustained(Seq((30.0, false, None)), 3000) == 0.0)
  }

  test("generated inputs are a function of the seed") {
    val a = new LqlModel(7, 3000)
    val b = new LqlModel(7, 3000)
    val c = new LqlModel(8, 3000)
    assert(a.order.toSeq == b.order.toSeq)
    assert((0 until 3000).map(a.row) == (0 until 3000).map(b.row))
    assert((0 until 3000).map(a.row) != (0 until 3000).map(c.row))
    // store order is (ts, part line); ties on ts sit in distinct partitions
    val keys = a.order.toSeq.map(id => (a.ts(id.toLong), LqlModel.line(a.part(id.toLong))))
    assert(keys == keys.sorted)
    assert(keys.distinct.size == keys.size)
    assert(keys.groupBy(_._1).values.exists(_.size > 1))

    assert(IngestFollow.arrivals(10, 3) == IngestFollow.arrivals(10, 3))
    assert(IngestFollow.arrivals(10, 3) != IngestFollow.arrivals(10, 4))
    assert(IngestFollow.arrivals(10, 3).map(_._1) == IngestFollow.arrivals(10, 3).map(_._1).sorted)

    assert((0 until 20).map(new Statements(a, 7)(_).lql) == (0 until 20).map(new Statements(b, 7)(_).lql))
    assert((0 until 20).map(new Statements(a, 7)(_).lql) != (0 until 20).map(new Statements(c, 8)(_).lql))

    val t1 = CurateData.tables(5).map { case (n, s, rows) => (n, s, rows.map(_.toSeq.map(String.valueOf))) }
    val t2 = CurateData.tables(5).map { case (n, s, rows) => (n, s, rows.map(_.toSeq.map(String.valueOf))) }
    val t3 = CurateData.tables(6).map { case (n, s, rows) => (n, s, rows.map(_.toSeq.map(String.valueOf))) }
    assert(t1 == t2)
    assert(t1 != t3)
  }
}
