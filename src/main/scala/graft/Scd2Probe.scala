package graft

import org.apache.spark.sql.functions._

/** SCD2 MAINTENANCE AT STORE SCALE (round 12). Scd2SoakSpec pins the
  * mechanics at 1,200 events (touched-bucket-only I/O, compaction,
  * retention); this main measures the claim that matters at 100 TB:
  * the per-batch cost MODEL. A touched bucket's history recompute
  * reads that bucket's whole log, and a realistic CDC micro-batch
  * (events spread over the key space) touches EVERY bucket — so
  * per-batch wall grows with the log until `expireVersions` bounds
  * the retained set. This probe drives millions of events through the
  * store and measures where that growth actually bites and what
  * retention buys back, instead of leaving "O(touched buckets)" as an
  * unqualified claim.
  *
  * Per batch it prints wall + applied; the summary gives per-decade
  * median walls (the growth trend), then times compactLog and a
  * full-horizon expireVersions, then runs a post-retention tail of
  * batches to show the per-batch wall recovering.
  *
  * CADENCE MODE (round 13, r12 verdict #1): with a policy argument the
  * probe instead soaks the SCHEDULED maintenance — every batch runs
  * through `mergeBatch(policy = …)`, sweeps fire on the policy's own
  * trigger, and the per-batch walls (sweep batches marked) show
  * whether the policy keeps the busy-table cost BOUNDED where the
  * unmaintained run's wall grew 2.98 → 12.27 s (BASELINE.md §Round
  * 12). Retention is expressed in BATCHES of event time (the
  * generator's ts unit is 1e6 per batch).
  *
  * Usage: runMain graft.Scd2Probe
  *   [nBatches [eventsPerBatch [universe [buckets
  *     [off|fixed:N|growth:X [retainBatches]]]]]]
  */
object Scd2Probe {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 100
    val perBatch = if (args.length > 1) args(1).toInt else 25000
    val universe = if (args.length > 2) args(2).toLong else 500000L
    val buckets = if (args.length > 3) args(3).toInt else 64
    val retainMs =
      if (args.length > 5) (args(5).toDouble * 1000000L).toLong
      else Long.MaxValue
    // fail-loud parse (r13 review): a typo'd policy must not silently
    // soak the unmaintained branch and record the wrong experiment —
    // and (r13 ADVICE) neither may a degenerate value: fixed:0 or
    // growth:0 would build a cadence-off policy and silently run the
    // unmaintained branch with retainBatches ignored
    val policy = (if (args.length > 4) args(4) else "off").split(":") match {
      case Array("fixed", n) =>
        require(n.toInt > 0, s"fixed:N requires N > 0, got fixed:$n")
        streaming.Scd2Maintain.MaintainPolicy(
          compactEvery = n.toInt, retainMs = retainMs)
      case Array("growth", g) =>
        // finite too: growth:Infinity passes > 0 yet never fires a
        // sweep (applied >= Inf*base is false forever) — the same
        // silent-unmaintained soak the guard exists to reject
        require(g.toDouble > 0.0 && !g.toDouble.isInfinite,
          s"growth:X requires a finite X > 0, got growth:$g")
        streaming.Scd2Maintain.MaintainPolicy(
          compactGrowth = g.toDouble, retainMs = retainMs)
      case Array("off") =>
        require(args.length <= 5,
          "retainBatches requires a fixed:N or growth:X policy")
        streaming.Scd2Maintain.MaintainPolicy()
      case other => sys.error(s"unrecognized policy '${other.mkString(":")}'" +
        " — use off, fixed:N or growth:X")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Harness.session(cpus)
    import spark.implicits._

    val store = s"${System.getProperty("java.io.tmpdir")}/graft-scd2probe-" +
      s"${java.util.UUID.randomUUID()}/store"

    // events spread over the key space (the busy-table profile: every
    // batch touches every bucket); deterministic, unique event_ids,
    // monotone ts so the trailing run is the open version
    def batchDf(b: Int) = {
      val rows = (0 until perBatch).map { i =>
        val uid = (b.toLong * 104729L + i.toLong * 7919L) % universe
        // type depends on (uid, batch): a key recurring across batches
        // CHANGES type ~2/3 of the time → real version churn (the
        // original (b+i)%3 was constant per key — a residue artifact
        // of the uid stride, leaving every key a single open version)
        (uid, s"t${(uid + b) % 3}", (b * 100 + i).toDouble,
          b.toLong * 1000000L + i, b.toLong * 10000000L + i)
      }
      rows.toDF("user_id", "event_type", "value", "ts_ms", "event_id")
    }

    val sweepBatches = scala.collection.mutable.ArrayBuffer.empty[Int]
    def runBatches(from: Int, n: Int, label: String): Seq[Double] =
      (from until from + n).map { b =>
        val df = batchDf(b).localCheckpoint(true)
        var swept = false
        val t0 = System.nanoTime()
        val applied = streaming.Scd2Maintain.mergeBatch(spark, df, store,
          buckets, policy = policy,
          afterSweep = () => { swept = true; sweepBatches += b })
        val sec = (System.nanoTime() - t0) / 1e9
        val mark = if (swept) " SWEEP" else ""
        println(f"[scd2] $label batch=$b wall=$sec%6.2f s applied=$applied$mark")
        sec
      }

    if (policy.cadenceOn)
      println(s"[scd2] cadence policy: compactEvery=${policy.compactEvery} " +
        s"compactGrowth=${policy.compactGrowth} retainMs=" +
        (if (policy.retainMs == Long.MaxValue) "off" else policy.retainMs.toString))
    val walls = runBatches(0, nBatches, "grow")
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    // ceil-sized groups (r13 ADVICE): floor sizing yields an 11th
    // stub group whenever the count is not a multiple of 10
    def decadesOf(xs: Seq[Double]): Seq[Seq[Double]] =
      xs.grouped(math.max(1, (xs.size + 9) / 10)).toSeq
    val decades = decadesOf(walls)
    println("[scd2] per-decade median walls: " +
      decades.map(d => f"${med(d)}%.2f").mkString(" "))
    val logRows = streaming.Scd2Maintain.changeLog(spark, store).count()
    val histRows = streaming.Scd2Maintain.history(spark, store).count()
    println(s"[scd2] store after growth: log=$logRows history=$histRows " +
      s"(${nBatches}x$perBatch events over $universe keys, $buckets buckets)")

    if (policy.cadenceOn) {
      // the policy soak's summary: where sweeps fired, what the
      // steady-state (non-sweep) wall looks like per decade, and the
      // bounded-tail number the unmaintained run's 12.27 s compares to
      println(s"[scd2] sweeps fired at batches: ${sweepBatches.mkString(",")}")
      val nonSweep = walls.zipWithIndex
        .filterNot { case (_, b) => sweepBatches.contains(b) }.map(_._1)
      val nsDecades = decadesOf(nonSweep)
      println("[scd2] per-decade NON-SWEEP median walls: " +
        nsDecades.map(d => f"${med(d)}%.2f").mkString(" "))
      val sweepWalls = sweepBatches.map(b => walls(b))
      if (sweepWalls.nonEmpty)
        println(f"[scd2] sweep-batch walls: " +
          sweepWalls.map(w => f"$w%.1f").mkString(" "))
      // every-batch-sweeps leaves nonSweep empty (fixed:1) — guard
      val nsTail = if (nonSweep.isEmpty) Double.NaN
        else med(nonSweep.takeRight(10))
      println(f"[scd2] tail: last-10 all-batch median=" +
        f"${med(walls.takeRight(10))}%.2f s non-sweep median=" +
        f"$nsTail%.2f s (unmaintained r12 tail: 12.27 s)")
    } else {
      var t0 = System.nanoTime()
      streaming.Scd2Maintain.compactLog(spark, store)
      println(f"[scd2] compactLog: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // separate the two maintenance levers: file accretion (compaction)
      // vs retained row mass (retention)
      val tailC = runBatches(nBatches, 3, "post-compact")

      // horizon past every event: retain only each key's open run
      t0 = System.nanoTime()
      val purged = streaming.Scd2Maintain.expireVersions(spark, store,
        horizonMs = (nBatches.toLong + 10L) * 1000000L)
      println(f"[scd2] expireVersions: purged=$purged " +
        f"retained=${streaming.Scd2Maintain.changeLog(spark, store).count()} " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")

      val tail = runBatches(nBatches + 3, 5, "post-retention")
      println(f"[scd2] growth tail median=${med(walls.takeRight(10))}%.2f s " +
        f"post-compact median=${med(tailC)}%.2f s " +
        f"post-retention median=${med(tail)}%.2f s")
    }
    Artifacts.unpersistAll()
    spark.stop()
  }
}
