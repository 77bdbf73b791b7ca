package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and bookkeeping, without Spark. */
class BenchLogicSpec extends AnyFunSuite {

  test("percentile is nearest-rank over the sorted samples") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.5) === 5.0)
    assert(Stats.percentile(xs, 0.9) === 9.0)
    assert(Stats.percentile(xs, 1.0) === 10.0)
    assert(Stats.percentile(Seq(7.0), 0.9) === 7.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) === 2.0)
    assert(Stats.median((1 to 4).map(_.toDouble)) === 2.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0.0))
  }

  test("p90 is reported only with ten samples beyond it") {
    assert(!Stats.supports(99, 0.9))
    assert(Stats.supports(100, 0.9))
    assert(Stats.supports(20, 0.5))
  }

  test("geomean of positive samples") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  private val money = """"total":(\d+)\.(\d\d)""".r
  private val qty = """"quantity":(\d+)""".r

  test("the ledger keeps exactly the lines ingest must keep, with exact sums") {
    val gen = new EventGen(seed = 7, corruptEvery = 20, nullPriceEvery = 10)
    val ledger = new Ledger
    val lines = (0 until 5000).map(i => gen.next(1700000000L + i * 3600L)._2)
    lines.foreach(ledger.record)
    val sales = lines.collect { case SaleLine(_, j) => j }
    val moves = lines.collect { case MoveLine(_, j) => j }
    assert(ledger.lines === 5000)
    assert(ledger.sales.rows === sales.size)
    assert(ledger.moves.rows === moves.size)
    assert(ledger.dropped === lines.count(l => l.isInstanceOf[CorruptLine] || l.isInstanceOf[NullPriceLine]))
    assert(ledger.corrupt > 0 && ledger.nullPrice > 0)
    // the sums the ledger books equal the sums of what the JSON says
    assert(ledger.sales.totalCents === sales.map { j =>
      val m = money.findFirstMatchIn(j).get; m.group(1).toLong * 100 + m.group(2).toLong }.sum)
    assert(ledger.sales.quantity === sales.map(j => qty.findFirstMatchIn(j).get.group(1).toLong).sum)
    assert(ledger.moves.quantity === moves.map(j => qty.findFirstMatchIn(j).get.group(1).toLong).sum)
    assert(ledger.sales.months.values.sum === ledger.sales.rows)
    assert(ledger.sales.months.keySet.size > 1)
    // about 70% of the valid events are sales
    val share = ledger.sales.rows.toDouble / ledger.validRows
    assert(share > 0.65 && share < 0.75)
  }

  test("the same seed gives the same lines; corrupt lines are not JSON objects") {
    def lines(seed: Long) = { val g = new EventGen(seed); (0 until 300).map(_ => g.next(0L)._2.json) }
    assert(lines(3) === lines(3))
    assert(lines(3) !== lines(4))
    val g = new EventGen(1, corruptEvery = 1)
    assert(!g.next(0L)._2.json.endsWith("}"))
  }

  test("a ledger merge adds rows, sums and months") {
    val a = new TableLedger; a.add(0L, 2, 150L)
    val b = new TableLedger; b.add(40L * 86400, 3, 50L)
    a.addAll(b)
    assert((a.rows, a.quantity, a.totalCents) === ((2L, 5L, 200L)))
    assert(a.months.toMap === Map("197001" -> 1L, "197002" -> 1L))
  }

  test("freshness matches each visible count to the events it shows") {
    val stamps = IndexedSeq(0.0, 0.0, 100.0, 200.0, 200.0)
    val seen = Seq(
      Freshness.Seen(endMs = 50, visible = 0),
      Freshness.Seen(endMs = 300, visible = 2),
      Freshness.Seen(endMs = 450, visible = 2),
      Freshness.Seen(endMs = 600, visible = 4))
    // events 0,1 first shown at 300; events 2,3 at 600; event 4 never
    assert(Freshness.match1(stamps, seen) === IndexedSeq(300.0, 300.0, 500.0, 400.0))
  }

  test("freshness ignores counts beyond the events generated") {
    assert(Freshness.match1(IndexedSeq(10.0), Seq(Freshness.Seen(30, 5))) === IndexedSeq(20.0))
    assert(Freshness.match1(IndexedSeq.empty, Seq(Freshness.Seen(30, 5))) === IndexedSeq.empty)
  }

  test("window freshness keeps the events created from the window's start on") {
    val stamps = IndexedSeq(0.0, 100.0, 200.0)
    val seen = Seq(Freshness.Seen(endMs = 150, visible = 1), Freshness.Seen(endMs = 400, visible = 3))
    // event 0 was created before the window; an earlier refresh still
    // counts towards matching the later events to what they showed
    assert(Freshness.since(100.0, stamps, seen) === IndexedSeq(300.0, 200.0))
  }

  test("the expected dashboard follows the reference queries' windows and order") {
    val now = 10L * 86400
    def sale(id: String, t: Long, q: Int, c: Long) = Sale(id, t, 1, q, c, 0, c, 1, 1, "c")
    val sales = Seq(
      sale("s-1", now - 100, 2, 1000), sale("s-2", now - 100, 1, 500),
      sale("s-3", now - 3 * 3600, 4, 250), sale("s-4", now - 2 * 86400, 9, 9))
    def move(id: String, p: Int, q: Int, t: String, at: Long) = Move(id, at, p, "w", q, t, "s", "r")
    val moves = Seq(
      move("m-1", 7, 50, "supply", now - 10), move("m-2", 7, 20, "relocation", now - 10),
      move("m-3", 8, 70, "write_off", now - 10), move("m-4", 9, 99, "supply", now - 8 * 86400))
    val d = Dashboard.expected(now, sales, moves, salesRows = 4, movesRows = 4)
    val hour = (now - 100) / 3600 * 3600
    assert(d.salesByHour === Seq((now - 3 * 3600, 4L, 250L), (hour, 3L, 1500L)))
    assert(d.topMovements === Seq((7L, 50L, 20L), (8L, 0L, 70L)))
    assert(d.recentSales === Seq("s-2", "s-1", "s-3", "s-4"))
    assert(d.status === ((4L, 4L, "ready")))
  }
}
