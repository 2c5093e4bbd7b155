package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CMS join-size estimator WIRED INTO A DECISION — the consumer the
  * s21 sketch family (`ScaleQueries.joinSizeEstimate`) existed for:
  * sketch both join sides (one map-side pass each, d×w cells — table-
  * size-independent), derive never-undercount bounds for the join's
  * output size and its hottest key's output mass, and pick the physical
  * strategy a human would: broadcast a small build side, salt a skewed
  * probe, plain shuffle otherwise. The two-phase shape (estimate action
  * → plan choice → execution) is exactly AQE's runtime re-plan, done
  * here at the operator level where the decision can also pick SALTING
  * — which AQE's skew-join handles only for sort-merge, not for the
  * hinted shuffle-hash joins the engine prefers for narrow build sides.
  *
  * Estimator math (AMS '96 / Cormode-Muthukrishnan '05, the s21 rows):
  *   est  = min_j Σ_b L_j[b]·R_j[b]  ≥ Σ_k l(k)·r(k)   (true join size)
  *   hot  = min_j max_b L_j[b]·R_j[b] ≥ max_k l(k)·r(k) (hottest key)
  * Both only ever OVERcount (collisions add mass), so the skew branch
  * can fire spuriously on a uniform join but never miss a real hot key
  * — the safe direction: an unnecessary salt costs a build-side
  * replication factor, a missed hot key costs a stuck reducer.
  *
  * 100 TB: the sketches are the only pre-pass (map-side, mergeable —
  * at scale they'd be table statistics maintained at write time, the
  * s14/s21 story); the decision itself is O(d·w) driver arithmetic.
  *
  * Reference analog: the reference hand-shards its hot reconcile keys
  * (24-way process split, `run-reconcile.py:33-41`); this makes the
  * same call from data, per join. */
object JoinPlanner {

  /** Rollback flag for the three production adoption sites (gather,
    * ER blocking, name-index join). Default ON. */
  val EnabledKey = "spark.graft.joinPlanner.enabled"

  /** Defensive flag parse (advice r15): the old per-site
    * `.forall(_.toBoolean)` threw a bare IllegalArgumentException from
    * String.toBoolean inside query-plan construction on any value other
    * than true/false (e.g. "1", "on", a typo). Accept case-insensitive
    * true/false, treat unset as true, and reject anything else with an
    * error that names the key and the bad value. */
  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(EnabledKey) match {
      case None => true
      case Some(v) if v.equalsIgnoreCase("true")  => true
      case Some(v) if v.equalsIgnoreCase("false") => false
      case Some(v) => throw new IllegalArgumentException(
        s"$EnabledKey must be true or false, got: '$v'")
    }

  /** Deployment thresholds (the autoBroadcastJoinThreshold /
    * skewJoin.skewedPartitionFactor analogs, in rows and milli-share;
    * fixtures scale them down with their data). */
  final case class Config(
      broadcastMaxRows: Long = 100000L,
      skewShareMilli: Long = 200L,
      saltTargetPartitions: Int = 32,
      maxSalt: Int = 32,
      /** Above this average per-probe-row match count the Shuffle
        * strategy drops its SHUFFLE_HASH hint and lets Catalyst pick
        * (sort-merge): a pair-amplifying join replays each key group
        * per probe row, and SMJ's buffered group is a SEQUENTIAL
        * scan where the hash join walks a per-key chain of pointers —
        * first measured on the r2 blocking self-join at sf10 (~2000×
        * fan-out): hinted 69-75 s vs unhinted sort-merge 48-63 s.
        * The CONSTANT is placed by the round-15 fixed-output-mass
        * ladder (graft.Ladders fanout; STRESS_fanout_r15.json at 32M
        * output rows, confirmed at 4× mass in
        * STRESS_fanout_r15_m128.json): the hint wins-or-ties through
        * fan-out 32 (ratio 0.85-1.03 across both masses) and loses
        * monotonically from 64 up (1.05-1.30 at 64 → 1.26-1.62 at
        * 512-2048) — the knee sits exactly between the rungs this
        * default separates. Physical-plan detail only: the DECISION
        * stays `shuffle`, so the j16b oracle replay is untouched.
        *
        * Mass-conditioned refinement CONSIDERED AND DECLINED (round-16
        * decision, per the r15 verdict's "decide or record why not"):
        * the 128M-mass ladder shows the hint never strictly winning at
        * that mass (ratios 1.02-1.03 at fan-out 8-32 — measurement
        * noise, not a loss), while at 32M it wins 15% at the same
        * rungs. A mass bound above which the hint is dropped would
        * therefore buy ≤3% in the worst observed case at the cost of a
        * second estimated quantity (output mass) feeding a
        * plan-switching rule — more surface for a mis-estimate to flip
        * a plan than the bounded downside justifies. Knee-only stands;
        * revisit only if a production key regresses with fan-out ≤ 32
        * AND output mass ≥ 10^8 (then condition on
        * `Estimate.outRows`, already computed). Data:
        * STRESS_fanout_r15.json / STRESS_fanout_r15_m128.json. */
      shuffleHashMaxFanout: Long = 32L)

  /** Never-undercount bounds from the per-side CMS cell grids. */
  final case class Estimate(nLeft: Long, nRight: Long,
      estRows: Long, hotOut: Long)

  sealed trait Strategy { def name: String; def saltR: Int = 1 }
  case object Broadcast extends Strategy { val name = "broadcast" }
  case object Shuffle extends Strategy { val name = "shuffle" }
  final case class Salt(r: Int) extends Strategy {
    val name = "salt"; override def saltR: Int = r
  }

  // hash rows 64-67: the s21 reservation (see joinSizeEstimate's note on
  // per-family index reservation; this IS that family, consumed).
  // package-visible: ScaleQueries.joinSizeEstimate shares THESE
  // definitions rather than keeping a private copy — the arithmetic
  // must stay bit-identical to the oracle constants both splice, and
  // one definition cannot drift from itself. k is pre-reduced mod
  // HashP before the multiply: aj ≤ ~2^31 and an unreduced key beyond
  // ~2^32 would overflow the Long product — silently wrapped by
  // Spark, raised by DuckDB — exactly at the key domains the
  // estimator is motivated by. aj·(HashP-1) ≤ ~2^62 fits.
  private[graft] def bucket(j: Int, k: org.apache.spark.sql.Column) = {
    import graft.TextQueries.{CmsW, HashP}
    pmod(pmod(lit(graft.functions.VecMath.aj(64 + j)) * pmod(k, lit(HashP)) +
      lit(graft.functions.VecMath.bj(64 + j)), lit(HashP)), lit(CmsW))
  }

  /** Per-side CMS cell grid over the `k` column: (row j, bucket, n).
    * A non-numeric key (string blocking keys — the r2 adoption) is
    * pre-reduced through xxhash64 before the pairwise-hash rows; the
    * numeric path is untouched, so the j16b/s21 oracle replays stay
    * bit-identical. Estimator guarantees are unchanged: xxhash64 is a
    * deterministic key→int64 map, and any collision only MERGES two
    * true keys' masses — overcount, the direction CMS already errs. */
  private[graft] def cells(s: DataFrame): DataFrame = {
    import graft.TextQueries.CmsD
    val sp = s.sparkSession
    import sp.implicits._
    val kNum =
      if (s.schema("k").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) $"k"
      else xxhash64($"k")
    s.select(explode(array((0 until CmsD).map(j =>
        struct(lit(j).as("row"), bucket(j, kNum).as("bucket"))): _*)).as("c"))
      .groupBy($"c.row".as("row"), $"c.bucket".as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Side row count from the grid itself (row 0's cells partition the
    * input), not a second scan; sum not count — the count()
    * projection-pruning trap. */
  private def rowsOf(c: DataFrame): Long = c.filter(col("row") === 0)
    .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)

  /** Join-size / hot-key bounds from two persisted cell grids. */
  private def boundsOf(lc: DataFrame, rc: DataFrame): (Long, Long) = {
    val b = lc.as("a").join(rc.as("b"), Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("a.n") * col("b.n")).as("ip"),
        max(col("a.n") * col("b.n")).as("mx"))
      .agg(coalesce(min(col("ip")), lit(0L)).as("est"),
        coalesce(min(col("mx")), lit(0L)).as("hot"))
      .head()
    (b.getLong(0), b.getLong(1))
  }

  /** Sketch both sides (each must carry a `k` join-key column) and
    * derive the decision inputs. One pass per side; the cell grids are
    * d×w rows, so the stats collapse to four driver scalars. */
  def estimate(left: DataFrame, right: DataFrame): Estimate = {
    // both persists INSIDE the try: if the second grid's persist (or any
    // action) throws, the finally still releases whichever grids exist —
    // a leaked cached grid survives the call in a long-lived session
    var lc: DataFrame = null
    var rc: DataFrame = null
    try {
      lc = cells(left).persist()
      rc = cells(right).persist()
      val nl = rowsOf(lc)
      val nr = rowsOf(rc)
      val (est, hot) = boundsOf(lc, rc)
      Estimate(nl, nr, est, hot)
    } finally {
      if (lc != null) lc.unpersist()
      if (rc != null) rc.unpersist()
      ()
    }
  }

  /** The PURE decision (spec-pinned; integer arithmetic so the DuckDB
    * oracle replays it bit-exactly):
    *   1. either side fits the broadcast budget → Broadcast;
    *   2. hottest-key output ≥ skewShareMilli/1000 of the whole join →
    *      Salt, with r sized so the hot key's mass spreads over
    *      saltTargetPartitions reducers (clamped to [2, maxSalt]);
    *   3. otherwise → Shuffle. */
  def choose(e: Estimate, cfg: Config): Strategy =
    if (math.min(e.nLeft, e.nRight) <= cfg.broadcastMaxRows) Broadcast
    else if (e.estRows > 0 && e.hotOut * 1000L >= cfg.skewShareMilli * e.estRows)
      Salt(math.min(cfg.maxSalt.toLong, math.max(2L,
        (e.hotOut * cfg.saltTargetPartitions + e.estRows - 1) / e.estRows)).toInt)
    else Shuffle

  /** Estimate → choose → execute. Both inputs must carry a `k` column;
    * other column names must not collide across sides. Returns the
    * joined frame plus the decision evidence.
    *
    *   - Broadcast: the smaller side builds.
    *   - Shuffle: hinted SHUFFLE_HASH on the smaller side (narrow build
    *     → hash join beats sort-merge; the engine-wide preference).
    *   - Salt(r): probe rows get a salt of xxhash64(row content) PLUS a
    *     partition-local row counter (monotonically_increasing_id — the
    *     native form of the mapPartitions counter), the build side
    *     replicates r ways, and the join shuffles on (k, salt) so the
    *     hot key spreads over r reducers. Content hash alone degenerates
    *     on the common real-skew shape where the hot key's rows are
    *     FULLY IDENTICAL duplicates — they all hash to one salt value
    *     and land back on one reducer (round-13 advice); the counter
    *     spreads ties round-robin within each partition. Determinism:
    *     the counter is fixed by partition content+order (same contract
    *     as a mapPartitions counter), and correctness is salt-VALUE-
    *     independent anyway — every probe row joins its full match set
    *     whatever salt it lands on, since the build side carries all r
    *     values; a retried task re-emitting different salts yields the
    *     same joined rows. Result is provably the plain join; the j16
    *     mechanics oracle pins this. */
  def planJoin(left: DataFrame, right: DataFrame, cfg: Config = Config())
      : (DataFrame, Strategy, Estimate) = {
    val e = estimate(left, right)
    val s = choose(e, cfg)
    (execute(left, right, e, s, cfg), s, e)
  }

  /** Average matches emitted per PROBE row — the pair-amplification
    * signal behind the Shuffle hint choice (see Config). The probe is
    * the left/first argument by the planJoin/planJoinStaged convention
    * (execute hints the smaller side as the hash build, so the probe is
    * what streams). Dividing by max(nLeft, nRight) — the pre-r15 form —
    * underestimated the fan-out exactly when the probe was the smaller
    * side, keeping the hint on the pair-amplifying joins the
    * shuffleHashMaxFanout knob exists to catch (round-14 advice). */
  private def fanout(e: Estimate): Long =
    if (e.estRows > 0 && e.nLeft > 0) e.estRows / e.nLeft else 0L

  private def execute(left: DataFrame, right: DataFrame, e: Estimate,
      s: Strategy, cfg: Config): DataFrame = s match {
    case Broadcast =>
      if (e.nRight <= e.nLeft) left.join(broadcast(right), "k")
      else broadcast(left).join(right, "k")
    case Shuffle if fanout(e) > cfg.shuffleHashMaxFanout =>
      // pair-amplifying join: no hint — Catalyst's sort-merge replays
      // each buffered key group sequentially (see Config scaladoc)
      left.join(right, "k")
    case Shuffle =>
      if (e.nRight <= e.nLeft) left.join(right.hint("SHUFFLE_HASH"), "k")
      else left.hint("SHUFFLE_HASH").join(right, "k")
    case Salt(r) =>
      val sl = left.withColumn("salt",
        pmod(xxhash64(left.columns.map(col): _*) +
          monotonically_increasing_id(), lit(r.toLong)))
      val sr = right.withColumn("salt",
        explode(array((0 until r).map(i => lit(i.toLong)): _*)))
      sl.join(sr.hint("SHUFFLE_HASH"), Seq("k", "salt")).drop("salt")
  }

  /** [[planJoin]] with a STAGED estimate for the production gather
    * shape, where the caller knows which side is the candidate build
    * (bounded / persisted — cheap to sketch) and which is the large
    * probe (a fact-table scan — expensive to sketch): sketch the BUILD
    * side alone first and take the broadcast exit without ever scanning
    * the probe. Only when the build outgrows the broadcast budget —
    * exactly the regime where a heavy join follows and a pre-pass pays
    * for itself — is the probe sketched for the full skew decision.
    * Estimate-then-choose with the estimate cost proportional to how
    * much is at stake. When the broadcast exit fires, the returned
    * Estimate carries the probe-side fields as -1 (not sketched). */
  def planJoinStaged(probe: DataFrame, build: DataFrame,
      cfg: Config = Config()): (DataFrame, Strategy, Estimate) = {
    // the broadcast exit needs ONE scalar — the build's row count — so
    // take it with a bare codegen count, not the d×w sketch grid (the
    // r2-adoption bench A/B measured the grid-for-a-count pre-pass at
    // ~10% of the key; the count is noise). Past the budget the build
    // is re-scanned for its grid: one extra cheap pass, paid exactly
    // when a heavy shuffle join follows and the full decision is due.
    val nb = build.count()
    if (nb <= cfg.broadcastMaxRows) {
      val e = Estimate(-1L, nb, -1L, -1L)
      (probe.join(broadcast(build), "k"), Broadcast, e)
    } else {
      // persists inside the try (same leak rationale as estimate): if
      // cells(probe)/persist throws, bc must still be unpersisted
      var bc: DataFrame = null
      var pc: DataFrame = null
      try {
        bc = cells(build).persist()
        pc = cells(probe).persist()
        val np = rowsOf(pc)
        val (est, hot) = boundsOf(pc, bc)
        val e = Estimate(np, nb, est, hot)
        val s = choose(e, cfg)
        (execute(probe, build, e, s, cfg), s, e)
      } finally {
        if (pc != null) pc.unpersist()
        if (bc != null) bc.unpersist()
        ()
      }
    }
  }
}
