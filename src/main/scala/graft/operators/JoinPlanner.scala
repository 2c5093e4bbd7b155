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
  * → plan choice → execution) is AQE's runtime re-plan done at the
  * operator level, where the decision is visible as data: the
  * registered s21/j16b family replays it bit-exactly against DuckDB.
  * The production joins (the build chain's reference gather, r1's
  * name-index join, r2's blocking self-join) do NOT run through it:
  * they are plain equi-joins, and AQE's runtime broadcast and skew-join
  * split make the same calls without this pre-pass, whose extra driver
  * jobs the overhead-bound builds pay for (CHANGES.md records the A/B).
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

  /** Deployment thresholds (the autoBroadcastJoinThreshold /
    * skewJoin.skewedPartitionFactor analogs, in rows and milli-share;
    * fixtures scale them down with their data). */
  final case class Config(
      broadcastMaxRows: Long = 100000L,
      skewShareMilli: Long = 200L,
      saltTargetPartitions: Int = 32,
      maxSalt: Int = 32)

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

  /** Per-side CMS cell grid over the numeric `k` column: (row j,
    * bucket, n). */
  private[graft] def cells(s: DataFrame): DataFrame = {
    import graft.TextQueries.CmsD
    val sp = s.sparkSession
    import sp.implicits._
    s.select(explode(array((0 until CmsD).map(j =>
        struct(lit(j).as("row"), bucket(j, $"k").as("bucket"))): _*)).as("c"))
      .groupBy($"c.row".as("row"), $"c.bucket".as("bucket"))
      .agg(count(lit(1)).as("n"))
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
      // side row count from the grid itself (row 0's cells partition
      // the input), not a second scan; sum not count — the count()
      // projection-pruning trap
      def rowsOf(c: DataFrame): Long = c.filter(col("row") === 0)
        .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      val b = lc.as("a").join(rc.as("b"), Seq("row", "bucket"))
        .groupBy(col("row"))
        .agg(sum(col("a.n") * col("b.n")).as("ip"),
          max(col("a.n") * col("b.n")).as("mx"))
        .agg(coalesce(min(col("ip")), lit(0L)).as("est"),
          coalesce(min(col("mx")), lit(0L)).as("hot"))
        .head()
      Estimate(rowsOf(lc), rowsOf(rc), b.getLong(0), b.getLong(1))
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
    (execute(left, right, e, s), s, e)
  }

  private def execute(left: DataFrame, right: DataFrame, e: Estimate,
      s: Strategy): DataFrame = s match {
    case Broadcast =>
      if (e.nRight <= e.nLeft) left.join(broadcast(right), "k")
      else broadcast(left).join(right, "k")
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
}
