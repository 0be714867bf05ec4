package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

/** TPC-H-shaped rows. Field names match the testdata's `orders` and
  * `customer` tables so the transform and the consumers read like the
  * library's own CDC keys. */
final case class Order(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String)

final case class Customer(c_custkey: Long, c_name: String,
    c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)

/** An order change event as it lands: the post-image (key only for a
  * delete) plus the operation tag. */
final case class OrderEvent(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String, op: String)

object OrderEvent {
  def upsert(o: Order, op: String): OrderEvent = OrderEvent(o.o_orderkey,
    o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate,
    o.o_orderpriority, op)
  def delete(key: Long): OrderEvent =
    OrderEvent(key, 0L, null, 0.0, null, null, "D")
}

/** Counts of one landed batch or round, by operation. */
final case class Ops(inserts: Int, updates: Int, deletes: Int,
    dimChanges: Int) {
  def events: Int = inserts + updates + deletes
}

/** The generator and the expected state in one: every event it emits is
  * also applied here, so after a run this model IS the source table the
  * pipeline must hold. Everything derives from the seed; iteration
  * order is insertion order, so the same seed gives the same batches. */
final class Model(seed: Long, nOrders: Int, nCust: Int) {
  private val Statuses = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Day0 = 694224000L // 1992-01-01T00:00:00Z

  val orders = mutable.LinkedHashMap.empty[Long, Order]
  val customers = mutable.LinkedHashMap.empty[Long, Customer]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private var nextKey = 0L

  private def order(key: Long, rnd: Random, cust: Long): Order =
    Order(key, cust, Statuses(rnd.nextInt(3)),
      900.0 + rnd.nextInt(50000000) / 100.0,
      new Timestamp((Day0 + rnd.nextInt(2400) * 86400L) * 1000L),
      Priorities(rnd.nextInt(5)))

  private def put(o: Order): Unit = {
    if (!orders.contains(o.o_orderkey)) {
      slot(o.o_orderkey) = live.length
      live += o.o_orderkey
    }
    orders(o.o_orderkey) = o
  }

  private def remove(key: Long): Unit = slot.remove(key).foreach { i =>
    val last = live.last
    live(i) = last
    slot(last) = i
    live.remove(live.length - 1)
    orders.remove(key)
  }

  locally {
    val rnd = new Random(seed)
    for (c <- 1L to nCust)
      customers(c) = Customer(c, f"Customer#$c%09d", rnd.nextInt(25),
        rnd.nextInt(1100000) / 100.0 - 1000.0, Segments(rnd.nextInt(5)))
    for (k <- 1L to nOrders) put(order(k, rnd, 1L + rnd.nextInt(nCust)))
    nextKey = nOrders
  }

  def liveCount: Int = live.length

  /** `n` distinct live keys. */
  def pick(rnd: Random, n: Int): Seq[Long] = {
    require(n <= live.length / 2, s"cannot pick $n of ${live.length} keys")
    val got = mutable.LinkedHashSet.empty[Long]
    while (got.size < n) got += live(rnd.nextInt(live.length))
    got.toSeq
  }

  /** One mixed I/U/D batch, applied to the model. A `reassign` share of
    * the updates moves the order to another customer (the fk change
    * the index must follow); the rest change status and price. */
  def cdcBatch(rnd: Random, ins: Int, upd: Int, del: Int,
      reassign: Double): Seq[OrderEvent] = {
    val picked = pick(rnd, upd + del)
    val updates = picked.take(upd).map { k =>
      val o = orders(k)
      val cust =
        if (rnd.nextDouble() < reassign) 1L + rnd.nextInt(nCust)
        else o.o_custkey
      o.copy(o_custkey = cust, o_orderstatus = Statuses(rnd.nextInt(3)),
        o_totalprice = 900.0 + rnd.nextInt(50000000) / 100.0)
    }
    val deletes = picked.drop(upd)
    val inserts = (0 until ins).map { _ =>
      nextKey += 1
      order(nextKey, rnd, 1L + rnd.nextInt(nCust))
    }
    updates.foreach(put)
    inserts.foreach(put)
    deletes.foreach(remove)
    updates.map(OrderEvent.upsert(_, "U")) ++
      inserts.map(OrderEvent.upsert(_, "I")) ++
      deletes.map(OrderEvent.delete)
  }

  /** Customers moved to another market segment (the dim churn). */
  def dimBatch(rnd: Random, n: Int): Seq[Customer] = {
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < n) ids += 1L + rnd.nextInt(nCust)
    ids.toSeq.map { id =>
      val c = customers(id)
      val seg = Segments((Segments.indexOf(c.c_mktsegment) + 1 +
        rnd.nextInt(Segments.length - 1)) % Segments.length)
      val moved = c.copy(c_mktsegment = seg)
      customers(id) = moved
      moved
    }
  }

  /** Merge-on-read round: upsert rows (updates and inserts), then the
    * keys to delete; both applied to the model in that order. */
  def morRound(rnd: Random, ins: Int, upd: Int, del: Int)
      : (Seq[Order], Seq[Long]) = {
    val ev = cdcBatch(rnd, ins, upd, del, reassign = 0.0)
    val (dels, ups) = ev.partition(_.op == "D")
    (ups.map(e => orders(e.o_orderkey)), dels.map(_.o_orderkey))
  }
}
