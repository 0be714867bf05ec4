package perfbench

import graft.cdc.{CowStore, FkIndex, IncrementalMart, Scd2}
import graft.quality.IncrementalProfile
import graft.streaming.CowMaintenance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stores of one pipeline instance and the feed cursors of its
  * consumers, driven call by call in the order the `CdcMicroBatch`
  * drains use. Every method is one public library entry point (or the
  * short sequence a drain makes for one consumer); timing and tracing
  * wrap these calls from outside. */
final class Pipeline(spark: SparkSession, root: String, w: Workload) {
  import Pipeline._

  val src = new CowStore(spark, s"$root/src", OrderKey, w.buckets)
  val dim = new CowStore(spark, s"$root/dim", Seq("c_custkey"), 8)
  val mart = new CowStore(spark, s"$root/mart", OrderKey, w.auxBuckets)
  val hist = new CowStore(spark, s"$root/hist", OrderKey, w.auxBuckets)
  val index = new FkIndex(
    new CowStore(spark, s"$root/rev", Seq("c_custkey"), 8),
    new CowStore(spark, s"$root/fwd", OrderKey, w.auxBuckets),
    factKeys = OrderKey, fkCols = Seq("c_custkey"),
    factFkCols = Seq("o_custkey"))
  val stats = new CowStore(spark, s"$root/stats", Seq("bkt", "col_name"), 4)
  val dims = Seq(FkIndex.dim(dim, index))
  val maintenance = CowMaintenance(w.maintainEvery)

  def stores: Seq[CowStore] =
    Seq(src, dim, mart, hist, index.reverse, index.forward, stats)

  var idxCur = 0
  var martCur = IncrementalMart.Cursor(0, Seq(0))
  var scdCur = 0
  var profCur = 0

  /** The mart: orders enriched with the customer's current segment. */
  def transform(df: DataFrame): DataFrame = {
    val dc = broadcast(dim.read().get)
    df.join(dc, df("o_custkey") === dc("c_custkey"), "left")
      .select(df("o_orderkey"), df("o_custkey"),
        dc("c_mktsegment").as("cust_segment"), df("o_totalprice"),
        df("o_orderstatus"))
  }

  /** Initial full load of every store and first build of every consumer. */
  def setup(orders: DataFrame, customers: DataFrame): Unit = {
    src.writeFull(orders)
    if (w.consumers) {
      dim.writeFull(customers)
      idxCur = index.build(src).get
      martCur = IncrementalMart.buildWithDims(src, transform, mart, dims).get
      hist.writeFull(Scd2.init(src.read().get, asOf(-1)))
      scdCur = src.version.get
      profCur = IncrementalProfile.build(src, ProfCols, stats).get
    }
  }

  def rawCommit(batch: DataFrame): Unit = src.applyCdc(batch, "op")

  def dimCommit(rows: DataFrame): Unit = dim.upsert(rows)

  def fkIndexRefresh(): Unit =
    idxCur = index.refresh(src, idxCur).orElse(index.build(src)).get

  def martRefresh(): Unit =
    martCur = IncrementalMart.refreshWithDims(src, martCur, transform, mart,
      OrderKey, dims)
      .getOrElse(IncrementalMart.buildWithDims(src, transform, mart, dims).get)

  /** `runAvailableNowCowScd2`'s feed step: the churn window, eagerly
    * checkpointed as the drain does. */
  def scd2Feed(): DataFrame =
    src.readChangeRows(scdCur, src.version.get).get.localCheckpoint(true)

  def scd2Slice(feed: DataFrame): DataFrame =
    hist.readForKeys(feed.select(OrderKey.map(col): _*).distinct())
      .getOrElse(hist.read().get.limit(0))

  def scd2Commit(slice: DataFrame, feed: DataFrame, unit: Int): Unit = {
    hist.upsert(Scd2.applyChanges(slice, feed, OrderKey, CheckCols,
      asOf(unit), invalidateHardDeletes = true))
    scdCur = src.version.get
  }

  def profileRefresh(): Unit =
    profCur = IncrementalProfile.refresh(src, profCur, ProfCols, stats).get

  /** Compact and vacuum `targets`, then re-point every consumer cursor
    * past the result-invisible maintenance versions, as the drains do. */
  def maintain(targets: Seq[CowStore]): Unit = {
    targets.filter(_.exists).foreach { s =>
      s.compact(maintenance.maxReferenced)
      s.vacuum(maintenance.retainLast)
    }
    if (w.consumers) {
      val v = src.version.get
      idxCur = v
      scdCur = v
      profCur = v
      martCur = IncrementalMart.Cursor(v, dims.map(_.store.version.get))
    }
  }
}

object Pipeline {
  val OrderKey = Seq("o_orderkey")
  val CheckCols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
  val ProfCols = Seq("o_totalprice", "o_orderstatus", "o_orderdate")

  /** Each batch's snapshot time, deterministic per batch (dbt's NOW()
    * frozen per run); -1 is the initial load. */
  def asOf(unit: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + (unit + 1) * 3600000L)
}
