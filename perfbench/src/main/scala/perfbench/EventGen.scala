package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** One generated sale, with money in integer cents so the benchmark's own
  * totals are exact. */
final case class Sale(id: String, timeSec: Long, productId: Int, quantity: Int,
    priceCents: Long, discountPct: Int, totalCents: Long, storeId: Int,
    cashierId: Int, customerId: String)

/** One generated stock movement. */
final case class Move(id: String, timeSec: Long, productId: Int, warehouse: String,
    quantity: Int, movementType: String, source: String, responsible: String)

/** A generated JSON line and what the ingest is expected to do with it. */
sealed trait Line { def json: String }
final case class SaleLine(sale: Sale, json: String) extends Line
final case class MoveLine(move: Move, json: String) extends Line
/** A sale whose price is null: ingest must drop it. */
final case class NullPriceLine(json: String) extends Line
/** A line that is not JSON: ingest must skip it. */
final case class CorruptLine(json: String) extends Line

/** Deterministic generator of the reference's two event shapes (70/30
  * sales/warehouse, FIXTURES.md §1). Same seed, same lines. A fixed share
  * of lines are corrupt or null-price sales (FIXTURES.md §1c). */
final class EventGen(seed: Long, corruptEvery: Int = 250, nullPriceEvery: Int = 250) {
  import EventGen._
  private val rnd = new SplittableRandom(seed)
  private var n = 0L

  /** Next line, stamped with `timeSec` (epoch seconds, UTC). Sales go to
    * the `sales` stream, everything else to `warehouse`; corrupt lines
    * are routed like the event they replace. */
  def next(timeSec: Long): (Boolean, Line) = {
    n += 1
    val isSale = rnd.nextInt(10) < 7
    val product = rnd.nextInt(50) + 1
    val t = formatTime(timeSec)
    val line: Line =
      if (rnd.nextInt(corruptEvery) == 0)
        CorruptLine(s"""{"event_id":"bad-$seed-$n", "event_time": broken""")
      else if (isSale) {
        val price = rnd.nextLong(10000L, 1000001L)
        val disc = rnd.nextInt(31)
        val s = Sale(s"s-$seed-$n", timeSec, product, rnd.nextInt(5) + 1, price, disc,
          (price * (100 - disc) + 50) / 100, rnd.nextInt(10) + 1, rnd.nextInt(20) + 1,
          s"cust-${rnd.nextInt(1000)}")
        if (rnd.nextInt(nullPriceEvery) == 0)
          NullPriceLine(saleJson(s, t, priceOverride = Some("null")))
        else SaleLine(s, saleJson(s, t, None))
      } else {
        val m = Move(s"m-$seed-$n", timeSec, product, warehouses(rnd.nextInt(warehouses.size)),
          rnd.nextInt(100) + 1, movementTypes(rnd.nextInt(3)),
          s"ООО Поставщик-${rnd.nextInt(100)}", s"сотрудник-${rnd.nextInt(50)}")
        MoveLine(m, moveJson(m, t))
      }
    (isSale, line)
  }
}

object EventGen {
  val categories: IndexedSeq[String] = IndexedSeq("Электроника", "Одежда", "Продукты", "Книги", "Игрушки")
  val warehouses: IndexedSeq[String] = IndexedSeq("Москва", "Санкт-Петербург", "Новосибирск",
    "Екатеринбург", "Казань", "Краснодар")
  val movementTypes: IndexedSeq[String] = IndexedSeq("supply", "relocation", "write_off")

  /** Product name and category are functions of the id, as in a catalogue. */
  def productName(id: Int): String = s"товар $id"
  def category(id: Int): String = categories(id % categories.size)

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val monthFmt = DateTimeFormatter.ofPattern("yyyyMM").withZone(ZoneOffset.UTC)
  def formatTime(sec: Long): String = fmt.format(Instant.ofEpochSecond(sec))
  def month(sec: Long): String = monthFmt.format(Instant.ofEpochSecond(sec))

  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  private def saleJson(s: Sale, t: String, priceOverride: Option[String]): String =
    s"""{"event_id":"${s.id}","event_type":"sale","event_time":"$t","product_id":${s.productId},""" +
      s""""product_name":"${productName(s.productId)}","category":"${category(s.productId)}",""" +
      s""""quantity":${s.quantity},"price":${priceOverride.getOrElse(cents(s.priceCents))},""" +
      s""""discount":${cents(s.discountPct.toLong)},"total":${cents(s.totalCents)},""" +
      s""""store_id":${s.storeId},"cashier_id":${s.cashierId},"customer_id":"${s.customerId}"}"""

  private def moveJson(m: Move, t: String): String =
    s"""{"event_id":"${m.id}","event_type":"stock_movement","event_time":"$t",""" +
      s""""product_id":${m.productId},"product_name":"${productName(m.productId)}",""" +
      s""""category":"${category(m.productId)}","warehouse":"${m.warehouse}",""" +
      s""""quantity":${m.quantity},"movement_type":"${m.movementType}",""" +
      s""""source":"${m.source}","responsible":"${m.responsible}"}"""
}

/** What one stored table must hold, computed from the generated lines
  * alone: row count, exact sums and rows per month partition. */
final class TableLedger {
  var rows = 0L
  var quantity = 0L
  var totalCents = 0L
  val months: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(timeSec: Long, qty: Int, totalCents: Long): Unit = {
    rows += 1; quantity += qty; this.totalCents += totalCents
    months(EventGen.month(timeSec)) += 1
  }

  def addAll(o: TableLedger): Unit = {
    rows += o.rows; quantity += o.quantity; totalCents += o.totalCents
    o.months.foreach { case (m, c) => months(m) += c }
  }
}

/** Bookkeeping of everything a generator emitted: lines per stream, the
  * lines ingest must drop, and the ledgers of the rows it must keep. */
final class Ledger {
  val sales = new TableLedger
  val moves = new TableLedger
  var lines = 0L
  var corrupt = 0L
  var nullPrice = 0L

  /** Record one line; returns true when ingest must keep it. */
  def record(line: Line): Boolean = {
    lines += 1
    line match {
      case SaleLine(s, _) => sales.add(s.timeSec, s.quantity, s.totalCents); true
      case MoveLine(m, _) => moves.add(m.timeSec, m.quantity, 0L); true
      case _: NullPriceLine => nullPrice += 1; false
      case _: CorruptLine => corrupt += 1; false
    }
  }

  def validRows: Long = sales.rows + moves.rows
  def dropped: Long = corrupt + nullPrice
}
