package perfbench

import java.io.File

import graft.Bench
import graft.quality.IncrementalProfile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** CDC micro-batch benchmark. One closed loop with a single client (the
  * calling thread): a batch lands as a parquet file only after the
  * previous batch's last consumer committed, then runs through the
  * layers' public entry points, each call timed from outside.
  *
  * {{{
  *   perfbench --workload trickle|serve --seed N --seconds S --trace 0|1
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics with `--trace 0`,
  * the per-layer metrics with `--trace 1`). The line before it is the
  * run record (seed, cores, Spark version, load, per-unit input
  * properties); traced runs also write the span tree to the output
  * directory. */
object Main {
  /** `smoke` (smoke-size tables, see [[Workload]]) is set by the
    * benchmark's own tests only; the command line always runs full size. */
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      "usage: --workload W --seed N --seconds S --trace 0|1")
    val m = argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace")
    require(unknown.isEmpty, s"unknown option(s): ${unknown.mkString(", ")}")
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", smoke = false)
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}'")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the same small-file split settings graft.Bench uses
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(sys.props.getOrElse("perfbench.work", "perfbench/target/work"))
      .getAbsoluteFile
    val out = new File(sys.props.getOrElse("perfbench.out", "perfbench/target/out"))
      .getAbsoluteFile
    deleteTree(work)
    work.mkdirs()
    out.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(work, cores)
    val r = try new Run(spark, a, work, cores).run()
      finally spark.stop()
    deleteTree(work)
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    write(new File(out, s"$name.record.json"), r.record)
    r.spans.foreach(s => write(new File(out, s"$name.spans.json"), s))
    println(r.record)
    println(r.result)
    sys.exit(0)
  }

  def write(f: File, s: String): Unit =
    java.nio.file.Files.writeString(f.toPath, s + "\n")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def diskBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(diskBytes).sum).getOrElse(0L)
    else f.length

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def str(s: String): String = "\"" + Bench.esc(s) + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  final case class Outcome(result: String, record: String,
      spans: Option[String])
}

/** One benchmark run; see [[Main]]. */
final class Run(spark: SparkSession, a: Main.Args, work: File, cores: Int) {
  import Main._
  import spark.implicits._

  private val w = Workload(a.workload, a.smoke)
  private val units = w.units(a.seconds)
  private val trace = new Trace(spark.sparkContext, a.trace)

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  /** Off during the warm-up: calls still run and count failures, but
    * record no span and no sample. */
  private var measuring = false

  // timed samples
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val freshS = mutable.ArrayBuffer.empty[Double]
  private val lookupS = mutable.ArrayBuffer.empty[Double]
  private val scanS = mutable.ArrayBuffer.empty[Double]
  private val feedS = mutable.ArrayBuffer.empty[Double]
  private val unitWallS = mutable.ArrayBuffer.empty[Double]
  private var loopEvents = 0L
  private var loopSeconds = 0.0
  // input properties and gauges, per unit
  private val unitRecords = mutable.ArrayBuffer.empty[String]
  private val touchedFrac = mutable.ArrayBuffer.empty[Double]
  private val referenced = mutable.ArrayBuffer.empty[Double]
  private val morDebt = mutable.ArrayBuffer.empty[Double]
  private val batchEvents = mutable.ArrayBuffer.empty[Double]
  private var landedBytes = 0L

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def sample(into: mutable.ArrayBuffer[Double], t: Double): Unit =
    if (measuring) into += t

  private def spanned[T](name: String, unit: Int)(body: => T): T =
    if (measuring) trace.span(name, unit)(body) else body

  /** One call into a layer: traced, timed, counted; a throw is recorded
    * as a failure and the run goes on. */
  private def call[T](name: String, unit: Int)(body: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = spanned(name, unit)(body)
      (Some(r), secs(t0))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name@$unit: ${e.toString.take(300)}"
        (None, secs(t0))
    }
  }

  private val model = new Model(a.seed, w.nOrders, w.nCust)
  private val landing = new File(work, "landing").getPath

  private def land(name: String, df: DataFrame): DataFrame = {
    val path = s"$landing/$name.parquet"
    df.coalesce(1).write.parquet(path)
    if (measuring) landedBytes += diskBytes(new File(path))
    spark.read.schema(df.schema).parquet(path)
  }

  private def ordersFrame(): DataFrame = model.orders.values.toSeq.toDF()
  private def customersFrame(): DataFrame = model.customers.values.toSeq.toDF()
  private def storesRoot(rep: Int): String = new File(work, s"stores$rep").getPath

  def run(): Outcome = {
    val (load0, nproc) = Bench.loadStamp()
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3

    // Set-up runs 1 + setupReps times, each on fresh roots, and the loop
    // runs 1 + units batches or rounds on the last set-up's stores. The
    // first set-up and the first unit are the untimed warm-up (JVM,
    // codegen, filesystem): they make every call the timed ones make,
    // maintenance included whatever its cadence, but record no sample
    // and no span.
    val tSetup = System.nanoTime()
    val orders = land("base_orders", ordersFrame())
    val customers = land("base_customers", customersFrame())
    val prepWall = secs(tSetup)
    val warmWall = mutable.ArrayBuffer.empty[Double]
    val p = (0 to w.setupReps).map { rep =>
      if (rep > 0) deleteTree(new File(storesRoot(rep - 1)))
      measuring = rep > 0
      val p = new Pipeline(spark, storesRoot(rep), w)
      val (_, t) = call("setup", -1)(p.setup(orders, customers))
      if (measuring) setupS += t else warmWall += t
      p
    }.last
    val setupWall = secs(tSetup)
    val tLoop = System.nanoTime()
    (0 to units).foreach { u =>
      measuring = u > 0
      val rnd = new Random(a.seed * 1000003L + u)
      val t0 = System.nanoTime()
      if (w.consumers) batch(p, u, rnd) else round(p, u, rnd)
      if (!measuring) warmWall += secs(t0)
    }
    val loopWall = secs(tLoop)
    val diskMb = diskBytes(new File(storesRoot(w.setupReps))) / 1e6
    measuring = false

    val tChecks = System.nanoTime()
    val checks = if (w.consumers) checkPipeline(p) else checkServe(p)
    val checksWall = secs(tChecks)
    val (load1, _) = Bench.loadStamp()
    val spans = trace.finish()

    val correct = failed == 0
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", median(setupS.toSeq), "s"),
        ("freshness_p50_s", median(freshS.toSeq), "s"),
        ("events_per_s", loopEvents / loopSeconds, "events/s"),
        ("lookup_p50_s", median(lookupS.toSeq), "s"),
        ("scan_p50_s", median(scanS.toSeq), "s"),
        ("feed_p50_s", median(feedS.toSeq), "s"),
        ("disk_mb", diskMb, "MB"))
      else layerMetrics(spans)
    val result = obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
    val record = obj(Seq(
      "workload" -> str(w.name), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "smoke" -> a.smoke.toString, "timed_units" -> units.toString,
      "nproc" -> nproc.toString, "cores" -> cores.toString,
      "spark" -> str(spark.version),
      "load_start" -> num(load0), "load_end" -> num(load1),
      "source_rows" -> model.liveCount.toString,
      "buckets" -> w.buckets.toString,
      "median_buckets_touched_frac" -> num(median(touchedFrac.toSeq)),
      "lookups" -> lookupS.length.toString,
      "phase_s" -> obj(Seq("jvm_start" -> num(started),
        "prepare" -> num(prepWall), "warm_setup" -> num(warmWall(0)),
        "warm_unit" -> num(warmWall(1)),
        "setup" -> num(setupWall), "loop" -> num(loopWall),
        "checks" -> num(checksWall))),
      "checks" -> checks.map { case (n, ok) => s"${str(n)}: $ok" }
        .mkString("{", ", ", "}"),
      "errors" -> errors.map(str).mkString("[", ", ", "]"),
      "units_detail" -> unitRecords.mkString("[", ", ", "]")))
    Outcome(result, record, if (a.trace) Some(spanTree(spans)) else None)
  }

  /** One trickle micro-batch through the whole consumer chain, then the
    * read mix and, on its cadence, maintenance of every store. */
  private def batch(p: Pipeline, u: Int, rnd: Random): Unit = {
    val tu = System.nanoTime()
    val events = model.cdcBatch(rnd, w.ins, w.upd, w.del, w.reassign)
    val dimRows = model.dimBatch(rnd, w.dimChanges)
    val ops = Ops(events.count(_.op == "I"), events.count(_.op == "U"),
      events.count(_.op == "D"), dimRows.length)
    val bytes0 = landedBytes
    val evDf = land(s"batch$u", events.toDF())
    val dimDf = if (dimRows.isEmpty) None
      else Some(land(s"dim$u", dimRows.toDF()))
    val v0 = p.src.version.get

    val t0 = System.nanoTime()
    spanned("batch", u) {
      call("raw.commit", u)(p.rawCommit(evDf))
      dimDf.foreach(d => call("dim.commit", u)(p.dimCommit(d)))
      call("fkindex.refresh", u)(p.fkIndexRefresh())
      call("mart.refresh", u)(p.martRefresh())
      call("scd2.feed", u)(p.scd2Feed())._1.foreach { feed =>
        call("scd2.slice", u)(p.scd2Slice(feed))._1.foreach { slice =>
          call("scd2.commit", u)(p.scd2Commit(slice, feed, u))
        }
      }
      call("profile.refresh", u)(p.profileRefresh())
    }
    val fresh = secs(t0)

    val (touched, refs) = sourceGauges(p, v0)
    val debt = reads(p, u, rnd)
    val tm = if (maintains(u)) call("maintenance", u)(p.maintain(p.stores))._2
      else 0.0
    recordUnit(u, ops, landedBytes - bytes0, touched, refs, debt, fresh)
    if (measuring) {
      freshS += fresh
      loopEvents += ops.events + ops.dimChanges
      loopSeconds += fresh + tm
      unitWallS += secs(tu)
    }
  }

  /** One serve round: merge-on-read writes, then the read mix and, on
    * its cadence, maintenance of the source. */
  private def round(p: Pipeline, u: Int, rnd: Random): Unit = {
    val tu = System.nanoTime()
    val (ups, dels) = model.morRound(rnd, w.ins, w.upd, w.del)
    val ops = Ops(ups.length - w.upd, w.upd, dels.length, 0)
    val bytes0 = landedBytes
    val upDf = land(s"up$u", ups.toDF())
    val delDf = land(s"del$u", dels.toDF("o_orderkey"))
    val v0 = p.src.version.get

    val t0 = System.nanoTime()
    call("raw.commit", u)(p.src.upsert(upDf, mor = true))
    call("raw.commit", u)(p.src.delete(delDf, mor = true))
    val fresh = secs(t0)

    val (touched, refs) = sourceGauges(p, v0)
    val t1 = System.nanoTime()
    val debt = reads(p, u, rnd)
    if (maintains(u)) call("maintenance", u)(p.maintain(Seq(p.src)))
    val readSecs = secs(t1)
    recordUnit(u, ops, landedBytes - bytes0, touched, refs, debt, fresh)
    if (measuring) {
      freshS += fresh
      loopEvents += ops.events
      loopSeconds += fresh + readSecs
      unitWallS += secs(tu)
    }
  }

  /** Maintenance ends every `maintainEvery`-th unit, and always the
    * warm-up unit (0), so the first timed compaction is not a cold one. */
  private def maintains(u: Int): Boolean =
    u == 0 || (u + 1) % w.maintainEvery == 0

  /** Share of source buckets the unit's commits changed, and the
    * distinct versions the source manifest references. */
  private def sourceGauges(p: Pipeline, v0: Int): (Double, Double) = {
    val touched = p.src.changedBuckets(v0, p.src.version.get)
      .map(_.length).getOrElse(0).toDouble / w.buckets
    (touched, p.src.currentManifest.values.toSet.size.toDouble)
  }

  /** The read mix against the source (see [[Workload]]). Returns the
    * MoR debt (buckets with pending tombstones or deltas) it paid. */
  private def reads(p: Pipeline, u: Int, rnd: Random): Int = {
    val debt = p.src.pendingDvBuckets.length + p.src.pendingDlBuckets.length
    // the warm-up unit only needs to load the read paths
    val probes = (0 until (if (measuring) w.lookups else 2)).map(_ =>
      model.pick(rnd, Run.LookupKeys).toDF("o_orderkey"))
    probes.foreach { probe =>
      sample(lookupS, call("read.lookup", u)(
        Bench.consume(p.src.readForKeys(probe).get))._2)
    }
    // the feed over the last few versions still on disk
    val v = p.src.version.get
    val from = (v - 3 until v)
      .find(f => f >= 1 && p.src.changedBuckets(f, v).isDefined).getOrElse(v)
    (0 until (if (measuring) w.scans else 1)).foreach { _ =>
      sample(scanS, call("read.scan", u)(Bench.consume(p.src.read().get
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))))._2)
      sample(feedS, call("read.feed", u)(
        Bench.consume(p.src.readChangeRows(from, v).get))._2)
    }
    debt
  }

  private def recordUnit(u: Int, ops: Ops, bytes: Long, touched: Double,
      refs: Double, debt: Int, fresh: Double): Unit = if (measuring) {
    touchedFrac += touched
    referenced += refs
    morDebt += debt
    batchEvents += ops.events
    unitRecords += obj(Seq("unit" -> u.toString,
      "inserts" -> ops.inserts.toString, "updates" -> ops.updates.toString,
      "deletes" -> ops.deletes.toString,
      "dim_changes" -> ops.dimChanges.toString,
      "landed_bytes" -> bytes.toString,
      "buckets_touched_frac" -> num(touched),
      "referenced_versions" -> num(refs),
      "mor_debt_buckets" -> debt.toString,
      "freshness_s" -> num(fresh)))
  }

  // ---- end-of-run correctness checks (outside every timed region) ----

  private def check(name: String)(ok: => Boolean): (String, Boolean) = {
    attempted += 1
    val passed = try ok catch {
      case NonFatal(e) => errors += s"check $name: ${e.toString.take(300)}"; false
    }
    if (!passed) {
      failed += 1
      errors += s"check $name failed"
    }
    name -> passed
  }

  /** Same multiset of rows, compared as (row count, sum of per-row
    * hashes): one aggregate per side instead of two shuffling
    * `exceptAll`s. */
  private def sameRows(got: DataFrame, want: DataFrame): Boolean = {
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(struct(got.columns.map(df(_)).toSeq: _*))
        .bitwiseAND(lit(0xffffffffL)))).head()
    digest(got) == digest(want)
  }

  private def sourceCheck(p: Pipeline) = check("source") {
    val want = ordersFrame()
    sameRows(p.src.read().get.select(want.columns.map(col).toSeq: _*), want)
  }

  private def checkPipeline(p: Pipeline): Seq[(String, Boolean)] = {
    val src = p.src.read().get
    Seq(
      sourceCheck(p),
      check("dim")(sameRows(p.dim.read().get, customersFrame())),
      check("mart")(sameRows(p.mart.read().get, p.transform(src))),
      check("scd2") {
        val open = p.hist.read().get.where(col(graft.cdc.Scd2.ValidTo).isNull)
        val cols = (Pipeline.OrderKey ++ Pipeline.CheckCols).map(col)
        open.count() == open.select(Pipeline.OrderKey.map(col): _*).distinct().count() &&
          sameRows(open.select(cols: _*), src.select(cols: _*))
      },
      check("fkindex") {
        val probe = (1L to w.nCust.toLong by 7L).toDF("c_custkey")
        val truth = src.join(probe, src("o_custkey") === probe("c_custkey"),
          "left_semi").select("o_orderkey")
        sameRows(p.index.affectedKeys(probe), truth)
      },
      check("profile") {
        val n = src.count()
        val rows = IncrementalProfile.global(p.stats).get
          .select("col_name", "n_rows").collect()
        rows.length == Pipeline.ProfCols.length &&
          rows.forall(_.getLong(1) == n)
      })
  }

  private def checkServe(p: Pipeline): Seq[(String, Boolean)] = {
    val rnd = new Random(a.seed * 7919L)
    val full = p.src.read().get
    Seq(sourceCheck(p), check("lookup") {
      (0 until 3).forall { _ =>
        val probe = (model.pick(rnd, Run.LookupKeys) :+ -1L).toDF("o_orderkey")
        sameRows(p.src.readForKeys(probe).get,
          full.join(probe, Pipeline.OrderKey, "left_semi"))
      }
    })
  }

  // ---- per-layer metrics (traced runs) ----

  private def layerMetrics(spans: Seq[(Span, Counters)])
      : Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_._1.name)
    val measured = setupS.sum + unitWallS.sum
    val layer = Run.Layers.flatMap { name =>
      val calls = byName.getOrElse(name, Nil)
      val c = new Counters
      calls.foreach(x => c.add(x._2))
      val walls = calls.map(_._1.wallS)
      Seq(
        (s"$name.wall_share", walls.sum / measured, "ratio"),
        (s"$name.jobs", c.jobs.toDouble, "count"),
        (s"$name.stages", c.stages.toDouble, "count"),
        (s"$name.tasks", c.tasks.toDouble, "count"),
        (s"$name.input_bytes", c.inputBytes.toDouble, "bytes"),
        (s"$name.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
        (s"$name.output_bytes", c.outputBytes.toDouble, "bytes")) ++
        (if (Run.EveryWorkload.contains(name))
          Seq((s"$name.wall_p50_s", median(walls), "s")) else Nil)
    }
    val rawOut = byName.getOrElse("raw.commit", Nil).map(_._2.outputBytes).sum
    layer ++ Seq(
      ("raw.buckets_touched_frac", median(touchedFrac.toSeq), "ratio"),
      ("raw.write_amp", rawOut.toDouble / math.max(1L, landedBytes), "ratio"),
      ("raw.referenced_versions", median(referenced.toSeq), "count"),
      ("raw.mor_debt_buckets", median(morDebt.toSeq), "count"),
      ("batch.events", median(batchEvents.toSeq), "count"),
      ("read.lookup.wall_p90_s", quantile(lookupS.toSeq, 0.9), "s"),
      ("trace.freshness_p50_s", median(freshS.toSeq), "s"),
      ("trace.lookup_p50_s", median(lookupS.toSeq), "s"))
  }

  private def spanTree(spans: Seq[(Span, Counters)]): String = {
    val self = trace.selfTimes(spans)
    spans.map { case (s, c) =>
      obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "parent" -> s.parent.toString, "unit" -> s.unit.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "wall_s" -> num(s.wallS), "self_s" -> num(self(s.id)),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "input_bytes" -> c.inputBytes.toString,
        "shuffle_bytes" -> c.shuffleBytes.toString,
        "output_bytes" -> c.outputBytes.toString))
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Run {
  /** Keys per lookup probe. */
  val LookupKeys = 8

  /** Every traced span name. Each reports its wall time as a share of
    * the run's timed wall (timed set-ups plus timed units) and its
    * Spark counters, summed over the run; a span every workload runs
    * also reports its per-call median wall time. (A span a workload
    * never runs reads 0, which is why the others give no seconds.) */
  val Layers = Seq("setup", "raw.commit", "dim.commit", "fkindex.refresh",
    "mart.refresh", "scd2.feed", "scd2.slice", "scd2.commit",
    "profile.refresh", "maintenance", "read.lookup", "read.scan",
    "read.feed")
  val EveryWorkload = Set("setup", "raw.commit", "maintenance", "read.lookup",
    "read.scan", "read.feed")
}
