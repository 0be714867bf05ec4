package perfbench

/** Size and cadence of one workload. A run times
  * max(minUnits, ceil(seconds / unitSeconds)) batches or rounds, after
  * one untimed warm-up unit: a count fixed by the arguments alone, so
  * two commits always do identical work and the span counters repeat
  * exactly. `unitSeconds` is the nominal wall time of one unit on a
  * 4-core box. Set-up likewise runs once untimed, then `setupReps`
  * timed times.
  *
  * Every timed unit ends with the same read mix against the source:
  * `lookups` key lookups of 8 live keys, then `scans` times
  * a full-read aggregate and a change-feed read. */
final case class Workload(name: String, nOrders: Int, nCust: Int,
    buckets: Int, ins: Int, upd: Int, del: Int, reassign: Double,
    dimChanges: Int, maintainEvery: Int, unitSeconds: Double,
    minUnits: Int, lookups: Int, scans: Int, setupReps: Int) {
  /** Buckets of the consumer stores keyed like the source. */
  def auxBuckets: Int = math.max(1, buckets / 3)
  /** Whether the feed consumers (index, mart, SCD2, profile) run. */
  def consumers: Boolean = name == "trickle"
  def units(seconds: Int): Int =
    math.max(minUnits, math.ceil(seconds / unitSeconds).toInt)
}

object Workload {
  val Names = Seq("trickle", "serve")

  /** `smoke` shrinks the tables tenfold and a run to one timed unit
    * (maintained, so every layer call still runs), for the
    * benchmark's own tests. */
  def apply(name: String, smoke: Boolean): Workload = {
    val n = if (smoke) 1500 else 15000
    val cust = n / 10
    val w = name match {
      // Steady hourly state: 11 mixed order events per batch on 24
      // buckets, so a batch rewrites a minority (at most 11/24) of the
      // source buckets; each batch also moves 1% of the customers and
      // is followed by maintenance of every store. Per-call overhead
      // dominates.
      case "trickle" => Workload(name, n, cust, buckets = 24, ins = 2,
        upd = 7, del = 2, reassign = 0.15, dimChanges = cust / 100,
        maintainEvery = 1, unitSeconds = 15.0, minUnits = 1, lookups = 8,
        scans = 4, setupReps = 2)
      // Readers beside merge-on-read writers on the source alone: cheap
      // writes leave tombstone and delta debt that reads pay until the
      // compaction after every third round.
      case "serve" => Workload(name, n, cust, buckets = 32, ins = 6,
        upd = 12, del = 4, reassign = 0.0, dimChanges = 0,
        maintainEvery = 3, unitSeconds = 7.5, minUnits = 2, lookups = 5,
        scans = 2, setupReps = 3)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected ${Names.mkString(", ")})")
    }
    if (!smoke) w
    else w.copy(buckets = 16, maintainEvery = 1, minUnits = 1,
      unitSeconds = Double.MaxValue, setupReps = 1)
  }
}
