package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-byte BUDGETS for the flagship queries (TODO_r16 item 2,
  * VERDICT_r15 next-round #1): `shuf_w` is a pure function of plan +
  * data — round 15 showed two full sweeps agreeing byte-for-byte on all
  * 227 shuffling queries while warm times wobbled with load — so a
  * byte-volume move IS a plan change. This spec pins each flagship's
  * bytes at sf0.001 under the shared test session (local[4], 4 shuffle
  * partitions) and fails `sbt test` when a plan edit moves the volume,
  * instead of merely flagging `shuf_changed` in the next driver
  * artifact.
  *
  * [[SessionMemo.clearAll]] runs before each metered query so the
  * volume is the FULL plan volume — fit builds (IVF centroids, bucketed
  * dedup indexes, gram sets) included — and deterministic regardless of
  * which suites ran earlier in the forked test JVM. It reaches every
  * cache because every cache is a `SessionMemo`, and each memo
  * registers itself when it is constructed.
  *
  * Gate shape mirrors [[Bench.shufDrifted]]: fail only when the ratio
  * passes 1.3x in either direction AND the absolute delta clears a
  * floor (8 KB here — sf0.001 volumes are 10s-100s of KB, and AQE
  * metadata wobble is well under this). Regenerate the constants with
  * `sbt 'Test/runMain graft.BudgetCalibrate'` after an INTENTIONAL plan
  * change; the calibrator runs each query twice and marks any
  * nondeterministic volume UNSTABLE (such a query must be dropped from
  * the map, not averaged).
  */
object ShuffleBudgetSpec {
  /** sf0.001 cleared-cold shuffle write bytes, recorded round 16
    * (3 agreeing reps per query, full sorted sequence). The sub-floor
    * entries (q_join_inner, q_shard: broadcast-join / single-exchange
    * plans whose volume is pure metadata at this SF) are locked too —
    * them GROWING past floor+ratio would mean a broadcast fell back to
    * a shuffle join, exactly the regression worth catching.
    */
  val budgets: Map[String, Long] = Map(
    "q1_agg" -> 384L,
    "q_join_inner" -> 59L,
    "q_asof_salted" -> 4467L,
    "q_dedup_minhash" -> 71445L,
    "q_dedup_incremental" -> 59230L,
    "q_contamination" -> 15005L,
    "q_contamination_bloom" -> 15005L,
    "q_contamination_fuzzy" -> 64321L,
    // q_curation_pipeline: DROPPED in r22 — BudgetCalibrate flags it
    // UNSTABLE at sf0.001 (99795 ↔ 170802: the same one-AQE-anti-join-
    // exchange flip Bench.knownBimodal registers at sf0.1 as
    // 941626 ↔ 1618684; graft.CurationPlanDiff pins the mechanism,
    // results oracle-identical either way). Policy: unstable volumes
    // are dropped, never averaged.
    "q_embed_topk" -> 1834L,
    "q_ann_ivf" -> 2188L,
    "q_shard" -> 59L,
    // round 17 (VERDICT_r16 item 6): reshape + top-k tier. melt is a
    // zero-shuffle stack projection (metadata-only volume, like q_shard);
    // dcast pays one pivot exchange; topK one per-group exchange.
    "q_melt" -> 59L,
    "q_melt_multi" -> 59L,
    "q_dcast" -> 263L,
    "q_dcast_multi" -> 263L,
    "q_topk" -> 548L)

  private[graft] def withinBudget(cur: Long, budget: Long): Boolean =
    !((cur > budget * 1.3 || cur < budget / 1.3) &&
      math.abs(cur - budget) > 8192L)
}

class ShuffleBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("flagship shuffle-byte volumes stay within +/-30% of budget") {
    PlanLint.silenceBoundedWindowWarning()
    val meter = new Bench.ShuffleMeter(spark.sparkContext)
    def measure(name: String): Long = {
      SessionMemo.clearAll()
      val s0 = meter.snapshot()
      SparkEntry.queries(name)(spark, SparkTestSession.sfDir).count()
      meter.snapshot() - s0
    }
    val moved = ShuffleBudgetSpec.budgets.toSeq.sortBy(_._1).flatMap {
      case (name, budget) =>
        val cur = measure(name)
        if (ShuffleBudgetSpec.withinBudget(cur, budget)) None
        else {
          // one retry before failing: a listener-bus flush racing the
          // last stage-completed event can shift one stage's bytes into
          // the neighboring window (observed once in 50 calibration
          // reps); a REAL plan change reproduces on the re-measure
          val again = measure(name)
          if (ShuffleBudgetSpec.withinBudget(again, budget)) None
          else Some(s"$name: $cur then $again bytes vs budget $budget")
        }
    }
    assert(moved.isEmpty,
      "shuffle volume moved (plan change!) — if intentional, recalibrate " +
        "with Test/runMain graft.BudgetCalibrate:\n" + moved.mkString("\n"))
  }

  test("withinBudget: ratio AND absolute floor, both directions") {
    import ShuffleBudgetSpec.withinBudget
    assert(withinBudget(100000L, 100000L))
    assert(withinBudget(125000L, 100000L)) // within ratio
    assert(!withinBudget(140000L, 100000L)) // +40%, >8KB
    assert(!withinBudget(60000L, 100000L)) // -40%, >8KB
    assert(withinBudget(9000L, 4000L)) // past ratio but under floor
    assert(withinBudget(0L, 5000L)) // under floor
    assert(!withinBudget(0L, 50000L)) // vanished volume is a plan change
  }
}
