package graft

import graft.operators.Substrate.SubstrateOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time window operators over the `events` table (SURVEY §2.10).
  * The reference's incremental layer is a high-water-mark batch walk
  * (`pipeline/process/base/harvester.py:111-286`); Structured Streaming
  * windows/watermarks are the idiomatic Spark superset. These run the
  * same window logic in batch so the DuckDB oracle can check them; the
  * streaming path (readStream + watermark + flatMapGroupsWithState) is
  * exercised in the ScalaTest specs with MemoryStream.
  *
  * Exactness: counts + cents sums only (integer); window bounds are
  * epoch-aligned so both engines bucket identically.
  */
object StreamQueries extends QueryGroup {

  /** Tumbling 1-day event-time windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(RelationalQueries.cents($"value")).cast("long").as("value_cents"))
      .select($"w.start".as("window_start"), $"event_type", $"n_events", $"value_cents")
  }
  private val tumblingOracle: String =
    """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** ST12: the streaming data-quality gate — s18's rule battery scoped
    * to tumbling 1-day event-time windows, so a bad producer deploy
    * surfaces in its own window instead of diluting into the lifetime
    * counts. Same single-scan wide conditional aggregation; the shape
    * is watermark-compatible (groupBy window + sums) and the
    * StreamingSpec harness runs it over a MemoryStream. */
  def streamDq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = nullif(regexp_extract($"props", "\"k\": (\\d+)", 1), lit(""))
      .cast("long")
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"value" > 450d, 1L).otherwise(0L)).as("v_value_max"),
        sum(when($"user_id" <= 0L, 1L).otherwise(0L)).as("v_user_pos"),
        sum(when(k >= 90L, 1L).otherwise(0L)).as("v_props_k"),
        sum(when($"event_type" === "purchase" && $"value" < 50d, 1L)
          .otherwise(0L)).as("v_purchase_min"))
      .select($"w.start".as("window_start"), $"n_rows", $"v_value_max",
        $"v_user_pos", $"v_props_k", $"v_purchase_min")
  }
  private val streamDqOracle: String =
    """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) FILTER (value > 450) AS BIGINT) AS v_value_max,
      |  CAST(COUNT(*) FILTER (user_id <= 0) AS BIGINT) AS v_user_pos,
      |  CAST(COUNT(*) FILTER (CAST(regexp_extract(props, '"k": (\d+)', 1)
      |    AS BIGINT) >= 90) AS BIGINT) AS v_props_k,
      |  CAST(COUNT(*) FILTER (event_type = 'purchase' AND value < 50)
      |    AS BIGINT) AS v_purchase_min
      |FROM events GROUP BY 1""".stripMargin

  /** Sliding 2-day windows advancing by 1 day (each event in 2 windows). */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("window_start"), $"n_events")
  }
  private val slidingOracle: String =
    """SELECT time_bucket(INTERVAL '1 day', ts) - (k * INTERVAL '1 day') AS window_start,
      |  COUNT(*) AS n_events
      |FROM events, (VALUES (0), (1)) AS offs(k)
      |GROUP BY 1""".stripMargin

  /** Sessionization: 30-minute inactivity gap per user; per-session stats.
    * Batch form = lag/cumsum window functions; the streaming form is
    * flatMapGroupsWithState (see streaming.Sessionize + spec). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val flagged = ev.withColumn("new_sess",
      when(lag($"us", 1).over(w).isNull ||
        $"us" - lag($"us", 1).over(w) > 1800L * 1000000L, 1L).otherwise(0L))
    flagged.withColumn("session_id", sum($"new_sess").over(w))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"us").as("start_us"), max($"us").as("end_us"))
  }
  private val sessionizeOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** Native session windows: session_window(ts, 30 min) — the built-in
    * form of st3 (sessions merge while the gap is < 30 min; the oracle
    * mirrors that strict-inequality semantics). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"w.start").as("start_us"), $"n_events")
  }
  private val sessionWindowOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(us) AS start_us, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** Streaming dedup, batch-checked: keep the FIRST event per
    * (user_id, event_type) — min (event-time, event_id) — and count the
    * duplicates it shadows. The batch form of
    * `dropDuplicatesWithinWatermark` (exercised on a real stream in
    * StreamingSpec); at 100 TB this is one hash shuffle on the dedup
    * key with map-side partial min/count, and in the streaming form
    * the watermark bounds the state store exactly like the reference's
    * harvest cut-off bounds its re-reads. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
      .groupBy($"user_id", $"event_type")
      .agg(min(struct($"us", $"event_id")).as("first"),
        count(lit(1)).as("n"))
      .select($"user_id", $"event_type",
        $"first.us".as("first_us"), $"first.event_id".as("first_event"),
        ($"n" - 1L).as("n_dupes"))
  }
  private val streamDedupOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      |r AS (
      |  SELECT user_id, event_type, event_id, us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY us, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
      |  FROM ev)
      |SELECT user_id, event_type, us AS first_us, event_id AS first_event,
      |  n - 1 AS n_dupes
      |FROM r WHERE rn = 1""".stripMargin

  /** Per-window heavy hitters: the top-3 event types of every 1-day
    * window by count (ties: type asc) — the streaming top-k shape
    * (trending items per window). Batch form = window rank over the
    * tumbling aggregate; the streaming form ranks each watermark-
    * finalized window in foreachBatch (spec:`StreamingSpec`). Scale:
    * rank partitions carry at most |event_type| rows per window —
    * the aggregate, not the events, is what shuffles twice. */
  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val agg = Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("window_start"), $"event_type", $"n_events")
    val w = Window.partitionBy($"window_start")
      .orderBy($"n_events".desc, $"event_type".asc)
    agg.withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"window_start", $"rank".cast("long").as("rank"),
        $"event_type", $"n_events")
  }
  private val streamTopkOracle: String =
    """WITH agg AS (
      |  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
      |    ORDER BY n_events DESC, event_type ASC) AS rank
      |  FROM agg)
      |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n_events
      |FROM r WHERE rank <= 3""".stripMargin

  /** Cutoff between the two id-ordered micro-batches of st8. */
  private[graft] val NeardupCut = 250L

  /** ST8b: per-arriving-doc PROBE-LOAD diagnostic — the bounded-output
    * twin of st8 (d4b's candidate-load pattern applied to streaming
    * admission): st8's index probe is contract-quadratic when a
    * duplicate clique floods a band bucket, so this twin measures each
    * stream doc's probe cost against the maintained corpus index — the
    * summed sizes of the index buckets its bands hit (probe_load) and
    * the largest such bucket (max_bucket). One shuffle on the band key
    * + one per-doc aggregate, linear at any clique size. */
  def streamProbeLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    // persist BEFORE filtering (the minhashLsh discipline): a filter on
    // size(sid) below the cache re-inlines the whole shingle HOF chain
    // into the predicate — measured 94 s vs 4 s at the sf1 stress scale
    val sids = DedupQueries.shingleTableOf(docs)
      .persistSubstrate() // corpus index + stream probes
    val nz = sids.filter(size($"sid") > 0)
    val idx = DedupQueries.bandIndex(nz.filter($"doc_id" % 3 =!= 0))
      .groupBy($"band_idx", $"band_hash").agg(count(lit(1)).as("n"))
    DedupQueries.bandIndex(nz.filter($"doc_id" % 3 === 0))
      .join(idx, Seq("band_idx", "band_hash"), "left")
      .groupBy($"doc_id")
      .agg(sum(coalesce($"n", lit(0L))).as("probe_load"),
        max(coalesce($"n", lit(0L))).as("max_bucket"))
  }
  private val streamProbeLoadOracle: String =
    s"""WITH ${DedupQueries.minhashPairsCtes},
       |cidx AS (
       |  SELECT band_idx, band_hash, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM bandrows0 WHERE doc_id % 3 <> 0 GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS probe_load,
       |  CAST(MAX(COALESCE(n, 0)) AS BIGINT) AS max_bucket
       |FROM (SELECT doc_id, band_idx, band_hash FROM bandrows0
       |      WHERE doc_id % 3 = 0) p
       |LEFT JOIN cidx USING (band_idx, band_hash)
       |GROUP BY doc_id""".stripMargin

  /** ST8: streaming near-dup ADMISSION replayed in batch form — the
    * documents with doc_id % 3 = 0 arrive as two id-ordered
    * micro-batches (below/above id 250) and each probes the monotone
    * band index of the corpus (% 3 != 0) plus everything seen before
    * it (StreamingOps.neardupAdmit, the d8 probe per batch). Because
    * the index is monotone and batches are id-ordered, a doc's decision
    * depends only on {corpus} ∪ {stream ids < its own} — the oracle is
    * therefore batch-free, and the spec pins that 1-batch and 2-batch
    * runs decide identically (the MemoryStream run exercises the real
    * foreachBatch loop). */
  def streamNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val stream = docs.filter($"doc_id" % 3 === 0)
    // the maintained index: both tables MATERIALIZED (at 100 TB these
    // are the on-disk index files); each batch appends its own rows
    var sids = DedupQueries.shingleTableOf(corpus).persistSubstrate()
    var bands = DedupQueries.bandIndex(
      sids.filter(size($"sid") > 0)).persistSubstrate()
    val decisions = Seq(stream.filter($"doc_id" < NeardupCut),
        stream.filter($"doc_id" >= NeardupCut)).map { b =>
      // one hashing pass per batch: the same shingle table decides and
      // then joins the index
      val bSids = DedupQueries.shingleTableOf(b).persistSubstrate()
      val dec = streaming.StreamingOps.neardupAdmit(bSids, sids, bands)
      sids = sids.unionByName(bSids).persistSubstrate()
      bands = bands.unionByName(DedupQueries.bandIndex(
        bSids.filter(size($"sid") > 0))).persistSubstrate()
      dec
    }
    decisions.reduce(_ unionByName _)
      .select($"doc_id", $"admitted",
        coalesce($"dup_of", lit(-1L)).as("dup_of"))
  }
  private val streamNeardupOracle: String = {
    val jacc = """CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT) * 1000
      |    // CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT)""".stripMargin
    s"""WITH ${DedupQueries.minhashPairsCtes},
       |scand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS ref_id
       |  FROM bandrows0 n JOIN bandrows0 o
       |    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
       |  WHERE n.doc_id % 3 = 0
       |    AND (o.doc_id % 3 <> 0 OR o.doc_id < n.doc_id)),
       |sver AS (
       |  SELECT new_id, MIN(ref_id) AS dup_of
       |  FROM scand
       |  JOIN base sa ON sa.doc_id = new_id
       |  JOIN base sb ON sb.doc_id = ref_id
       |  WHERE $jacc >= 800
       |  GROUP BY 1)
       |SELECT d.doc_id, (dup_of IS NULL) AS admitted,
       |  COALESCE(dup_of, -1) AS dup_of
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
       |LEFT JOIN sver ON d.doc_id = new_id""".stripMargin
  }

  /** Batch twin of the stream-stream interval join
    * (streaming.StreamingOps.intervalJoin, MemoryStream-tested in
    * StreamingSpec): every error within 30 minutes AFTER a click by the
    * same user, with the gap. Registering the batch form puts the
    * interval-join semantics under the DuckDB oracle — the streaming
    * path keeps the same projection and bound so the spec can pin the
    * two forms to each other.
    * Scale: shuffle join on user_id; the time bound is a join-condition
    * filter, not a post-filter, so Spark prunes pairs inside the join.
    * In the streaming form the watermark bounds both state stores. */
  def intervalJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"),
        $"event_type")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"us".as("cus"))
    val e = ev.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("error_id"),
        $"us".as("eus"))
    c.join(e, $"user_id" === $"e_user" &&
        $"eus" >= $"cus" && $"eus" <= $"cus" + 1800L * 1000000L)
      .select($"user_id", $"click_id", $"error_id",
        ($"eus" - $"cus").as("gap_micros"))
  }
  private val intervalJoinOracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
      |c AS (SELECT user_id, event_id AS click_id, us AS cus
      |  FROM ev WHERE event_type = 'click'),
      |e AS (SELECT user_id, event_id AS error_id, us AS eus
      |  FROM ev WHERE event_type = 'error')
      |SELECT c.user_id, click_id, error_id, eus - cus AS gap_micros
      |FROM c JOIN e ON c.user_id = e.user_id
      |  AND eus >= cus AND eus <= cus + 1800 * 1000000""".stripMargin

  /** Batch twin of the stream-static enrichment join
    * (streaming.StreamingOps.enrich): events looked up against the
    * customer dimension (user_id ⊆ c_custkey in the synthetic data),
    * left join so dimension gaps keep the event. The dim side
    * broadcasts — no shuffle of the event stream at any scale; the
    * streaming form re-resolves the dim per micro-batch so
    * slowly-changing dimensions refresh without a restart. */
  def streamEnrichBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type")
    val dim = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    streaming.StreamingOps.enrich(ev, dim, "user_id", "c_custkey")
      .select($"event_id", $"user_id", $"event_type", $"c_name",
        $"c_nationkey")
  }
  private val streamEnrichOracle: String =
    """SELECT event_id, user_id, event_type, c_name, c_nationkey
      |FROM events LEFT JOIN customer ON user_id = c_custkey""".stripMargin

  /** ST11: watermark-lateness audit — the sizing study every streaming
    * deployment needs BEFORE picking `withWatermark`: replay the
    * arrival sequence (event time + deterministic ±5 min ingest jitter)
    * and count, for each candidate delay, the events whose event time
    * falls behind the running-max watermark at their arrival — exactly
    * the rows Structured Streaming would silently drop. The running max
    * comes from operators.PrefixSum.withRunningMax (two-pass range
    * partition — a watermark IS a running max, and the audit must not
    * single-partition the corpus to compute it). Output: one row per
    * candidate delay with dropped counts and milli rates — the curve
    * that turns watermark choice from a guess into a measurement. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      // an event with no event-time cannot participate in a watermark
      // audit (at ingest it goes to the dead-letter path); without the
      // filter a null ts kills the running-max encoder
      .filter($"ts".isNotNull)
      .select($"event_id", unix_micros($"ts").as("us"))
      .withColumn("arr_us",
        $"us" + (($"event_id" * 2654435761L) % 600L - 300L) * 1000000L)
    val rm = operators.PrefixSum.withRunningMax(
      ev, "us", "wm_us", $"arr_us".asc, $"event_id".asc)
    val delays = Seq(60L, 300L, 900L)
    rm.select($"us", $"wm_us",
        explode(array(delays.map(lit): _*)).as("delay_s"))
      .groupBy($"delay_s")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when($"us" < $"wm_us" - $"delay_s" * 1000000L, 1L)),
          lit(0L)).as("n_dropped"))
      .select($"delay_s", $"n_events", $"n_dropped",
        TextQueries.intDiv($"n_dropped" * 1000L, $"n_events")
          .as("drop_milli"))
  }
  private val latenessAuditOracle: String =
    """WITH a AS (
      |  SELECT event_id, epoch_us(ts) AS us,
      |    epoch_us(ts) + ((event_id * 2654435761) % 600 - 300) * 1000000
      |      AS arr_us
      |  FROM events WHERE ts IS NOT NULL),
      |rm AS (
      |  SELECT us, MAX(us) OVER (ORDER BY arr_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS wm_us FROM a)
      |SELECT d.delay_s, COUNT(*) AS n_events,
      |  CAST(COALESCE(SUM(CASE WHEN us < wm_us - d.delay_s * 1000000
      |    THEN 1 END), 0) AS BIGINT) AS n_dropped,
      |  CAST(COALESCE(SUM(CASE WHEN us < wm_us - d.delay_s * 1000000
      |    THEN 1 END), 0) * 1000 // COUNT(*) AS BIGINT) AS drop_milli
      |FROM rm, (VALUES (60), (300), (900)) AS d(delay_s)
      |GROUP BY 1""".stripMargin

  /** Corpus-bucket occupancy past which a band bucket is dead for the
    * life of the stream (st8c).
    *
    * CONFIRMED at 16 by the round-16 ladder (graft.Ladders neardupcap,
    * STRESS_neardupcap_r16.json): planted clusters with per-band corpus
    * occupancies {~2.7, 8, 27, 108, 432} straddling caps {4,16,64,256}.
    * Measured trade per rung (recall‰ of genuine near-dups / candidate
    * pairs / peak exec mem): 4 → 377/12.6k/0.7GB; 16 → 620/46.6k/0.8GB;
    * 64 → 804/146k/0.9GB; 256 → 899/443k/1.2GB; uncapped →
    * 1000/1.64M/1.9GB; zero false dups at every rung. Candidate mass —
    * the quantity whose clique-quadratic growth heap-OOM'd the uncapped
    * r15 probe — grows ~3.2× per rung, and the cap bounds per-doc verify
    * fan-out to bands×C refs (16 → ≤128; 64 → ≤512, 4× the transient
    * array mass under pressure). Raising to 64 would buy +18pp recall
    * on clusters of occupancy 17–64 at 3× the bounded mass; but recall
    * loss at 16 falls exactly on super-cap cliques — the boilerplate
    * class upstream EXACT dedup collapses before admission (t_corpus's
    * stage ordering, the operator's own contract note) — so the
    * memory-first default stands. */
  private[graft] val NeardupCapC = 16L

  /** ST8c: st8's admission with the BUILD-TIME INDEX CAP its own
    * policy note prescribes for 100 TB — the production scale path the
    * round-15 pressure sweep showed st8's uncapped contract cannot
    * follow (clique-quadratic verify mass OOMs a starved 32-thread
    * heap; STRESS_spill_r15_streaming*.json). A band bucket whose
    * occupancy in the CORPUS index exceeds `NeardupCapC` is dropped
    * from the index — and from every later probe and append — for the
    * life of the stream. Because the hot set is FIXED AT BUILD (corpus
    * occupancy only, never stream-grown), admission decisions remain
    * micro-batch-slicing-independent (st8's pinned property) while
    * candidate fan-out is bounded by C per bucket: a mega-clique's
    * buckets go dead instead of quadratic. (A genuine 100k-duplicate
    * clique is exact-dedup's job BEFORE admission — t_corpus's stage
    * ordering; the cap is the guard for the ones that slip through.)
    * The DuckDB oracle replays the same occupancy filter on both join
    * sides, so the capped semantics are exact at any slicing. */
  def streamNeardupCapped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val stream = docs.filter($"doc_id" % 3 === 0)
    var sids = DedupQueries.shingleTableOf(corpus).persistSubstrate()
    val corpusBands = DedupQueries.bandIndex(sids.filter(size($"sid") > 0))
    val hot = corpusBands.groupBy($"band_idx", $"band_hash")
      .agg(count(lit(1)).as("n")).filter($"n" > NeardupCapC)
      .select($"band_idx", $"band_hash").persistSubstrate()
    var bands = corpusBands
      .join(hot, Seq("band_idx", "band_hash"), "left_anti").persistSubstrate()
    val decisions = Seq(stream.filter($"doc_id" < NeardupCut),
        stream.filter($"doc_id" >= NeardupCut)).map { b =>
      val bSids = DedupQueries.shingleTableOf(b).persistSubstrate()
      val dec = streaming.StreamingOps.neardupAdmitCapped(bSids, sids, bands, hot)
      sids = sids.unionByName(bSids).persistSubstrate()
      bands = bands.unionByName(
        DedupQueries.bandIndex(bSids.filter(size($"sid") > 0))
          .join(hot, Seq("band_idx", "band_hash"), "left_anti")).persistSubstrate()
      dec
    }
    decisions.reduce(_ unionByName _)
      .select($"doc_id", $"admitted",
        coalesce($"dup_of", lit(-1L)).as("dup_of"))
  }
  private val streamNeardupCappedOracle: String = {
    val jacc = """CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT) * 1000
      |    // CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT)""".stripMargin
    s"""WITH ${DedupQueries.minhashPairsCtes},
       |chot AS (
       |  SELECT band_idx, band_hash FROM bandrows0
       |  WHERE doc_id % 3 <> 0
       |  GROUP BY 1, 2 HAVING COUNT(*) > $NeardupCapC),
       |br AS (
       |  SELECT b.* FROM bandrows0 b
       |  WHERE NOT EXISTS (SELECT 1 FROM chot h
       |    WHERE h.band_idx = b.band_idx AND h.band_hash = b.band_hash)),
       |scand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS ref_id
       |  FROM br n JOIN br o
       |    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
       |  WHERE n.doc_id % 3 = 0
       |    AND (o.doc_id % 3 <> 0 OR o.doc_id < n.doc_id)),
       |sver AS (
       |  SELECT new_id, MIN(ref_id) AS dup_of
       |  FROM scand
       |  JOIN base sa ON sa.doc_id = new_id
       |  JOIN base sb ON sb.doc_id = ref_id
       |  WHERE $jacc >= 800
       |  GROUP BY 1)
       |SELECT d.doc_id, (dup_of IS NULL) AS admitted,
       |  COALESCE(dup_of, -1) AS dup_of
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
       |LEFT JOIN sver ON d.doc_id = new_id""".stripMargin
  }

  override def register(): Unit = {
    Queries.register(QueryDef("st12_stream_dq", streamDq, Some(streamDqOracle)))
    Queries.register(QueryDef("st8c_stream_admit_capped", streamNeardupCapped,
      Some(streamNeardupCappedOracle)))
    Queries.register(QueryDef("st11_lateness_audit", latenessAudit,
      Some(latenessAuditOracle)))
    Queries.register(QueryDef("st10_stream_enrich", streamEnrichBatch,
      Some(streamEnrichOracle)))
    Queries.register(QueryDef("st9_interval_join", intervalJoinBatch,
      Some(intervalJoinOracle)))
    Queries.register(QueryDef("st8_stream_neardup", streamNeardup,
      Some(streamNeardupOracle)))
    Queries.register(QueryDef("st8b_stream_probe_load", streamProbeLoad,
      Some(streamProbeLoadOracle)))
    Queries.register(QueryDef("st7_stream_topk", streamTopk, Some(streamTopkOracle)))
    Queries.register(QueryDef("st1_tumbling_window", tumbling, Some(tumblingOracle), bench = true))
    Queries.register(QueryDef("st2_sliding_window", sliding, Some(slidingOracle)))
    Queries.register(QueryDef("st3_sessionize", sessionize, Some(sessionizeOracle)))
    Queries.register(QueryDef("st5_session_window", sessionWindow, Some(sessionWindowOracle)))
    Queries.register(QueryDef("st6_stream_dedup", streamDedup, Some(streamDedupOracle)))
  }
}
