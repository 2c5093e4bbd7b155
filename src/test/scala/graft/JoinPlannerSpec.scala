package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.JoinPlanner
import graft.operators.JoinPlanner.{Broadcast, Config, Estimate, Salt, Shuffle}

/** JoinPlanner: the pure decision's boundaries, the estimator's
  * never-undercount contract, and the executed plans per branch. */
class JoinPlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = Config(broadcastMaxRows = 64L, skewShareMilli = 200L,
    saltTargetPartitions = 32, maxSalt = 32)

  test("choose: broadcast wins at and below the row budget, on either side") {
    assert(JoinPlanner.choose(Estimate(1000000, 64, 5, 5), cfg) === Broadcast)
    assert(JoinPlanner.choose(Estimate(64, 1000000, 5, 5), cfg) === Broadcast)
    // one row over the budget: the skew/shuffle arm decides instead
    assert(JoinPlanner.choose(Estimate(65, 65, 1000, 1), cfg) === Shuffle)
  }

  test("choose: the skew threshold is an exact milli boundary") {
    // hot*1000 == 200*est: exactly at the threshold → salt
    val atEdge = JoinPlanner.choose(Estimate(100, 100, 1000, 200), cfg)
    assert(atEdge.isInstanceOf[Salt])
    // one unit under → shuffle
    assert(JoinPlanner.choose(Estimate(100, 100, 1000, 199), cfg) === Shuffle)
    // est 0 (disjoint keys): never salt, nothing to spread
    assert(JoinPlanner.choose(Estimate(100, 100, 0, 0), cfg) === Shuffle)
  }

  test("choose: salt factor spreads the hot key, clamped to [2, maxSalt]") {
    // hot = half the join, 32 target partitions → r = 16
    assert(JoinPlanner.choose(Estimate(100, 100, 1000, 500), cfg) === Salt(16))
    // hot == est (one key IS the join) → r = 32, the cap
    assert(JoinPlanner.choose(Estimate(100, 100, 1000, 1000), cfg) === Salt(32))
    // at the 20% threshold with 32 targets: r = ceil(0.2·32) = 7
    assert(JoinPlanner.choose(Estimate(100, 100, 1000, 200), cfg) === Salt(7))
    // few target partitions → the floor of 2 keeps the salt meaningful
    val fewParts = cfg.copy(saltTargetPartitions = 4)
    assert(JoinPlanner.choose(Estimate(100, 100, 1000, 200), fewParts) === Salt(2))
  }

  test("estimate: bounds never undercount the true join size / hot key") {
    import spark.implicits._
    // 90% of the left on key 0; right has one row per key 0..9
    val left = (0 until 1000).map(i => if (i < 900) 0L else (i % 10).toLong)
      .toDF("k")
    val right = (0L to 9L).toDF("k")
    val e = JoinPlanner.estimate(left, right)
    assert(e.nLeft === 1000L && e.nRight === 10L)
    assert(e.estRows >= 1000L, s"est ${e.estRows} undercounts the join")
    assert(e.hotOut >= 900L, s"hot ${e.hotOut} undercounts the hot key")
  }

  test("planJoin executes the decided plan shape per branch") {
    import spark.implicits._
    val uniformL = (1 to 5000).map(i => (i.toLong % 500, 1L)).toDF("k", "v")
    val smallR = (0L until 50L).toDF("k")
    val bigR = (0L until 500L).toDF("k")
    val skewL = (1 to 5000).map(i =>
      (if (i % 10 < 9) 0L else (i % 100).toLong, 1L)).toDF("k", "v")

    val (bj, bs, _) = JoinPlanner.planJoin(uniformL, smallR, cfg)
    assert(bs === Broadcast)
    assert(bj.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))

    val (sj, ss, _) = JoinPlanner.planJoin(uniformL, bigR, cfg)
    assert(ss === Shuffle)
    assert(sj.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))

    val (tj, ts, _) = JoinPlanner.planJoin(skewL, bigR, cfg)
    assert(ts.isInstanceOf[Salt], s"expected salt, got $ts")
    val plan = tj.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"salted join not shuffled:\n$plan")
    val joinLine = plan.linesIterator.find(_.contains("ShuffledHashJoin")).get
    assert(joinLine.contains("salt"), s"salt not in join keys: $joinLine")
    // the salted result IS the plain join
    val plain = skewL.join(bigR, "k").agg(count(lit(1)), sum($"v")).head()
    val salted = tj.agg(count(lit(1)), sum($"v")).head()
    assert(salted === plain, "salted join diverged from the plain join")
  }

  test("salt spreads a hot key of FULLY IDENTICAL duplicate rows") {
    import spark.implicits._
    // the real-skew shape the round-13 advice flagged: every hot-key row
    // is bit-identical, so a content-only salt collapses to ONE value
    // and the salted plan silently degenerates to the skew it was
    // chosen to fix. 4500 identical (0L, 1L) rows + a uniform tail.
    val dupL = ((1 to 4500).map(_ => (0L, 1L)) ++
      (1 to 500).map(i => ((i % 100).toLong, 1L))).toDF("k", "v")
    val bigR = (0L until 500L).toDF("k")
    val (dj, dsStrat, _) = JoinPlanner.planJoin(dupL, bigR, cfg)
    assert(dsStrat.isInstanceOf[Salt], s"expected salt, got $dsStrat")
    val r = dsStrat.saltR
    // re-derive the probe-side salt exactly as planJoin does and count
    // distinct salt values on the hot key: the counter term must spread
    // the identical rows over (nearly) all r reducers
    val spread = dupL.withColumn("salt",
        pmod(xxhash64(dupL.columns.map(col): _*) +
          monotonically_increasing_id(), lit(r.toLong)))
      .filter($"k" === 0L)
      .agg(countDistinct($"salt")).head().getLong(0)
    assert(spread >= math.min(r, 4500) / 2,
      s"identical duplicate rows landed on $spread of $r salts")
    // and the result is still the plain join
    val plain = dupL.join(bigR, "k").agg(count(lit(1)), sum($"v")).head()
    assert(dj.agg(count(lit(1)), sum($"v")).head() === plain)
  }
}
