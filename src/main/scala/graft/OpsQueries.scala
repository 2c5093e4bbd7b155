package graft

import graft.operators.Substrate.SubstrateOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DateLib

/** Remaining operator-inventory coverage (SURVEY §2): the scalar date
  * library on the query path (F1), index-backed name reconciliation
  * (K4+J1+W7), harvest change classification (S6), MERGE-style upsert
  * with tombstones (§2.10), and the SimilarQuery more-like-this rewrite
  * (Q9). */
object OpsQueries extends QueryGroup {

  /** F1: make_datetime as a registered UDF over date strings of mixed
    * precision (day / month), producing the closed [begin,end] interval
    * and BCE-safe epoch seconds — the reference's hardest scalar
    * (`pipeline/process/utils/mapper_utils.py:241-494`). */
  def makeDatetime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parse = udf((s: String) =>
      DateLib.makeDatetime(s).map(r => (r.begin, r.end)))
    val epoch = udf((iso: String) => DateLib.epochSeconds(iso))
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey",
        when($"o_orderkey" % 3 === 0, date_format($"o_orderdate", "yyyy-MM"))
          .otherwise(date_format($"o_orderdate", "yyyy-MM-dd")).as("raw"))
      .select($"o_orderkey", parse($"raw").as("p"))
      .select($"o_orderkey", $"p._1".as("begin"), $"p._2".as("end"))
      .withColumn("epoch_begin", epoch($"begin"))
  }
  private val makeDatetimeOracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0
      |    THEN strftime(date_trunc('month', o_orderdate), '%Y-%m-%dT%H:%M:%S')
      |    ELSE strftime(date_trunc('day', o_orderdate), '%Y-%m-%dT%H:%M:%S') END AS begin,
      |  CASE WHEN o_orderkey % 3 = 0
      |    THEN strftime(last_day(o_orderdate), '%Y-%m-%dT23:59:59')
      |    ELSE strftime(date_trunc('day', o_orderdate), '%Y-%m-%dT23:59:59') END AS "end",
      |  CAST(epoch(CASE WHEN o_orderkey % 3 = 0
      |    THEN date_trunc('month', o_orderdate)
      |    ELSE date_trunc('day', o_orderdate) END) AS BIGINT) AS epoch_begin
      |FROM orders""".stripMargin

  /** K4+J1+W7: index-backed exact-name reconciliation. The index maps
    * (lowercased name, brand-as-type) -> canonical id (deterministic
    * min — the cluster-winner rule); every part resolves through it.
    * Same-type requirement mirrors reconciler.py:222. A plain
    * equi-join on (name, type): AQE broadcasts the index at runtime,
    * and a hot name (the "john smith" class, the reference's
    * hand-sharded AAT names, `reconciler.py:66-75`) gets its partition
    * split by the skew join. */
  def nameReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.load(spark, dir, "part")
    val index = parts.groupBy(lower($"p_name").as("key"), $"p_brand".as("itype"))
      .agg(min($"p_partkey").as("canonical"), count(lit(1)).as("n_cluster"))
    parts.select(lower($"p_name").as("key"), $"p_brand".as("itype"), $"p_partkey")
      .join(index, Seq("key", "itype"))
      .select($"p_partkey", $"canonical", $"n_cluster")
  }
  private val nameReconcileOracle: String =
    """WITH index_t AS (
      |  SELECT lower(p_name) AS key, p_brand AS itype,
      |    MIN(p_partkey) AS canonical, COUNT(*) AS n_cluster
      |  FROM part GROUP BY 1, 2)
      |SELECT p_partkey, canonical, n_cluster
      |FROM part JOIN index_t
      |  ON lower(p_name) = key AND p_brand = itype""".stripMargin

  /** S6: harvest change classification — per key, newest-first semantics:
    * single event = create; newest of type error = flagged (tombstone
    * analog); else update. */
  def changeClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
    // newest row + count in ONE aggregate pass: (us, event_id) both
    // descend, so plain max-of-struct is the newest; event_id is unique
    // so the trailing event_type never decides the order
    ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        max(struct($"us", $"event_id", $"event_type")).as("b"))
      .select($"user_id", $"n".as("n_events"),
        when($"n" === 1, "create")
          .when($"b.event_type" === "error", "flagged")
          .otherwise("update").as("change"))
  }
  private val changeClassifyOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, n AS n_events,
      |  CASE WHEN n = 1 THEN 'create'
      |       WHEN event_type = 'error' THEN 'flagged'
      |       ELSE 'update' END AS change
      |FROM ranked WHERE rn = 1""".stripMargin

  /** §2.10: MERGE-style upsert — base snapshot (latest per key before the
    * cutoff) upserted with incoming (latest per key after), tombstoned
    * when the incoming record is an error. Delta MERGE semantics as
    * joins. */
  def upsertMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cutoff = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"), $"ts")
    // latest row per user as an argmax aggregate (us, event_id both
    // desc; unique event_id keeps the payload out of the order)
    def latest(df: DataFrame) =
      df.groupBy($"user_id")
        .agg(max(struct($"us", $"event_id", $"event_type")).as("b"))
        .select($"user_id", $"b.us".as("us"), $"b.event_type".as("event_type"))
    val base = latest(ev.filter($"ts" < cutoff))
    val incoming = latest(ev.filter($"ts" >= cutoff))
    base.as("b").join(incoming.as("i"), Seq("user_id"), "full_outer")
      .select($"user_id",
        coalesce($"i.us", $"b.us").as("us"),
        coalesce($"i.event_type", $"b.event_type").as("event_type"))
      .filter($"event_type" =!= "error") // tombstone
  }
  private val upsertMergeOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us, ts FROM events),
      |base AS (
      |  SELECT user_id, us, event_type FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1),
      |incoming AS (
      |  SELECT user_id, us, event_type FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1)
      |SELECT COALESCE(b.user_id, i.user_id) AS user_id,
      |  COALESCE(i.us, b.us) AS us,
      |  COALESCE(i.event_type, b.event_type) AS event_type
      |FROM base b FULL OUTER JOIN incoming i ON b.user_id = i.user_id
      |WHERE COALESCE(i.event_type, b.event_type) <> 'error'""".stripMargin

  /** Q9: SimilarQuery (more-like-this) — seed doc 0's top-5 keywords
    * (len > 3, freq desc, word asc) matched against every other doc;
    * similar = sharing >= 2 keywords. No driver round-trip: the top-5
    * set stays a (broadcastable) DataFrame. */
  def similarDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val words = docs.select($"doc_id",
      explode(TextQueries.tokensCol($"text")).as("word"))
    val seedTop = words.filter($"doc_id" === 0 && length($"word") > 3)
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word".asc).limit(5).select($"word")
    words.filter($"doc_id" =!= 0).distinct()
      .join(broadcast(seedTop), "word")
      .groupBy($"doc_id").agg(count(lit(1)).as("overlap"))
      .filter($"overlap" >= 2)
  }
  private val similarDocsOracle: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
      |  FROM documents),
      |seed_top AS (
      |  SELECT word FROM (
      |    SELECT word, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC) AS rk
      |    FROM words WHERE doc_id = 0 AND LENGTH(word) > 3
      |    GROUP BY word) WHERE rk <= 5)
      |SELECT doc_id, COUNT(*) AS overlap FROM (
      |  SELECT DISTINCT doc_id, word FROM words WHERE doc_id <> 0) w
      |JOIN seed_top USING (word)
      |GROUP BY doc_id HAVING COUNT(*) >= 2""".stripMargin

  /** Q9 (full semantics): SimilarQuery with the COMPLETE reference
    * rewrite (`ml_lexer.py:43-135`) — classifications OR'd with top-5
    * description keywords OR'd with member_of sets, AND'd with born and
    * died era windows (±10 yrs when the year > 1900, ±20 when > 1700,
    * else ±35). LuxSimilar synthesizes the query STRING exactly as the
    * reference does; it then rides the ordinary LuxQL parse + compile
    * path, so more-like-this is a rewrite rule in front of the engine.
    *
    * Substrate: documents as agents — lang is the classification
    * concept, source the member_of set, and a deterministic synthetic
    * lifespan (born = 1500 + 7·id mod 520) spreads seeds across all
    * three era tiers; seeds 0/30/60 pin born 1500/1710/1920. The seed
    * fetch is a single-record point lookup (the reference's
    * fetch_record) — constant driver traffic, independent of corpus
    * size; the compiled query itself is all joins over the substrate. */
  def similarFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.plans.{LuxCompiler, LuxSimilar}
    val docs = Tables.load(spark, dir, "documents")
    val bornC = (lit(1500L) + ($"doc_id" * 7L) % 520L).cast("long")
    val diedC = (bornC + lit(40L) + ($"doc_id" % 25L)).cast("long")
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    val entities = docs.select(
        concat(lit("d"), $"doc_id").as("id"), lit("document").as("etype"),
        $"text".as("name"), $"text", bornC.as("bornTime"), diedC.as("diedTime"))
      .unionByName(docs.select(concat(lit("lang:"), $"lang").as("id"),
        lit("concept").as("etype"), $"lang".as("name"), nullS.as("text"),
        nullL.as("bornTime"), nullL.as("diedTime")).distinct())
      .unionByName(docs.select(concat(lit("src:"), $"source").as("id"),
        lit("set").as("etype"), $"source".as("name"), nullS.as("text"),
        nullL.as("bornTime"), nullL.as("diedTime")).distinct())
    val triples = docs.select(concat(lit("d"), $"doc_id").as("subject"),
        lit("classification").as("predicate"),
        concat(lit("lang:"), $"lang").as("object"))
      .union(docs.select(concat(lit("d"), $"doc_id").as("subject"),
        lit("memberOf").as("predicate"),
        concat(lit("src:"), $"source").as("object")))
    val compiler = new LuxCompiler(entities, triples, LuxSimilar.catalog)
    Seq(0L, 30L, 60L).map { sid =>
      val row = docs.filter($"doc_id" === sid)
        .select($"text", $"lang", $"source").head() // fetch_record analog
      val b = (1500L + sid * 7L % 520L).toInt
      val seed = LuxSimilar.Seed(
        classifications = Seq("lang:" + row.getString(1)),
        texts = Seq(row.getString(0)),
        born = Some(b),
        died = Some(b + 40 + (sid % 25L).toInt),
        memberOf = Seq("src:" + row.getString(2)))
      compiler.compile(LuxSimilar.agentQueryString(seed).get)
        .withColumn("seed_id", lit(sid))
    }.reduce(_ unionByName _)
  }
  private val similarFullOracle: String =
    """WITH docs AS (
      |  SELECT doc_id, text, lang, source,
      |    1500 + (doc_id * 7) % 520 AS born,
      |    1500 + (doc_id * 7) % 520 + 40 + doc_id % 25 AS died
      |  FROM documents),
      |seed_info AS (
      |  SELECT CAST(seed_id AS BIGINT) AS seed_id, text, lang, source,
      |    born, died,
      |    CASE WHEN born > 1900 THEN 10 WHEN born > 1700 THEN 20
      |      ELSE 35 END AS bd,
      |    CASE WHEN died > 1900 THEN 10 WHEN died > 1700 THEN 20
      |      ELSE 35 END AS dd
      |  FROM (SELECT unnest([0,30,60]) AS seed_id) s
      |  JOIN docs ON doc_id = seed_id),
      |kw_counts AS (
      |  SELECT seed_id, word, COUNT(*) AS cnt FROM (
      |    SELECT seed_id, unnest(list_filter(
      |      string_split_regex(lower(replace(replace(replace(
      |        text, '-', ' '), '.', ' '), ',', ' ')), '\s+'),
      |      w -> len(w) > 3 AND regexp_matches(w, '^[a-z]+$')
      |        AND w NOT IN ('born','died'))) AS word
      |    FROM seed_info)
      |  GROUP BY 1, 2),
      |kw_top AS (
      |  SELECT seed_id, word FROM (
      |    SELECT seed_id, word,
      |      ROW_NUMBER() OVER (PARTITION BY seed_id
      |        ORDER BY cnt DESC, word ASC) AS rk,
      |      COUNT(*) OVER (PARTITION BY seed_id) AS n_words
      |    FROM kw_counts)
      |  WHERE rk <= 5 AND n_words > 5)
      |SELECT 'd' || d.doc_id AS id, s.seed_id
      |FROM seed_info s JOIN docs d
      |  ON (d.lang = s.lang OR d.source = s.source
      |      OR EXISTS (SELECT 1 FROM kw_top k
      |                 WHERE k.seed_id = s.seed_id
      |                   AND list_contains(""".stripMargin +
    TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(d.text)")) +
    """, k.word)))
      | AND d.born > s.born - s.bd AND d.born < s.born + s.bd
      | AND d.died > s.died - s.dd AND d.died < s.died + s.dd""".stripMargin

  /** The composed entity-resolution chain — blocking → pairwise feature
    * scoring → Fellegi-Sunter-style threshold bands → match clustering,
    * the generalized shape of the reference's reconcile+idmap core run
    * as ONE lineage (reconciler.py's name pass is the blocking stage,
    * reference_manager's equivalence graph is the match-cluster stage).
    *
    * Fixture: each entity contributes a source-A record and (2/3 of the
    * time) a source-B record; names collide across entities (the %1200
    * wrap) so blocking alone over-generates, city+street agreement
    * separates. Score = 100 (blocked name) + 500 (city) + 400 (street):
    * true pairs score 1000, the ck%5 street-typo pairs land in the
    * 600-899 "possible" clerical band and must NOT cluster, cross-entity
    * same-name pairs score 100. Threshold 900 → real CC over matches →
    * per-record cluster id + size.
    *
    * Scale shape: the self-join is a plain equi-join on the blocking
    * key, so AQE broadcasts a small record table and splits a hot
    * blocking key's partition instead of sticking a reducer (the d2
    * guardedBandPairs cap remains the remedy when the hot block's
    * OUTPUT itself is the problem); the score is codegen'd column
    * arithmetic; CC is the g1 operator. The oracle replays ground truth
    * directly from the fixture arithmetic — a hash match proves
    * blocking+scoring+clustering recovered exactly the planted matches
    * and nothing else.
    *
    * Fixture precondition: two DIFFERENT entities collide on name AND
    * city AND street only when their custkeys differ by a multiple of
    * lcm(1200, 23, 97) = 2,677,200 — the planted-truth claim therefore
    * holds for custkey domains below ~2.7M (any test sf here; ~sf 18
    * on TPC-H scaling). Beyond that, widen the moduli with the
    * fixture. */
  def erPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    val base = Tables.load(spark, dir, "customer")
    val recsA = base.select((ck * 2).as("rid"),
      concat(lit("name"), ck % 1200).as("nm"),
      concat(lit("city"), ck % 23).as("city"),
      concat(lit("street"), ck % 97).as("street"))
    val recsB = base.filter(ck % 3 =!= 0).select((ck * 2 + 1).as("rid"),
      concat(lit("name"), ck % 1200).as("nm"),
      concat(lit("city"), ck % 23).as("city"),
      concat(lit("street"),
        when(ck % 5 === 0, (ck + 1) % 97).otherwise(ck % 97)).as("street"))
    val recs = recsA.union(recsB).persistSubstrate() // blocking join + final label join
    val lhs = recs.select($"nm".as("k"), $"rid".as("ra"), $"city".as("ca"), $"street".as("sa"))
    val rhs = recs.select($"nm".as("k"), $"rid".as("rb"), $"city".as("cb"), $"street".as("sb"))
    val scored = lhs.join(rhs, "k").filter($"ra" < $"rb")
      .select($"ra", $"rb",
        (lit(100L) + when($"ca" === $"cb", 500L).otherwise(0L)
          + when($"sa" === $"sb", 400L).otherwise(0L)).as("score_milli"))
    val matches = scored.filter($"score_milli" >= 900)
      .select($"ra".as("src"), $"rb".as("dst"))
    val cc = operators.Graph.connectedComponents(matches)
    val labeled = recs
      .join(cc.withColumnRenamed("node", "rid"), Seq("rid"), "left")
      .select($"rid", coalesce($"component", $"rid").as("cluster_id"))
    val sizes = labeled.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
    labeled.join(sizes, "cluster_id").select($"rid", $"cluster_id", $"n_members")
  }
  private val erPipelineOracle: String =
    """WITH c AS (SELECT c_custkey AS ck FROM customer),
      |recs AS (
      |  SELECT 2 * ck AS rid, ck FROM c
      |  UNION ALL
      |  SELECT 2 * ck + 1, ck FROM c WHERE ck % 3 <> 0)
      |SELECT rid,
      |  CASE WHEN ck % 3 <> 0 AND ck % 5 <> 0 THEN 2 * ck ELSE rid END
      |    AS cluster_id,
      |  CAST(CASE WHEN ck % 3 <> 0 AND ck % 5 <> 0 THEN 2 ELSE 1 END
      |    AS BIGINT) AS n_members
      |FROM recs""".stripMargin

  /** S18: the declarative data-quality gate — a rule table (config as
    * data, SURVEY §1.3) evaluated over the event stream in ONE scan:
    * every rule is a violation predicate compiled into a conditional
    * count inside a single wide aggregation (codegen'd), then unpivoted
    * with stack() into the per-rule report a freshness dashboard reads.
    * Eight rules cover null checks, range checks, domain membership,
    * embedded-JSON shape, and a conditional business rule; the fixture
    * data genuinely fails several of them. */
  def dqRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = nullif(regexp_extract($"props", "\"k\": (\\d+)", 1), lit(""))
      .cast("long")
    val rules: Seq[(String, Column)] = Seq(
      "value_not_null" -> $"value".isNull,
      "value_nonneg" -> ($"value" < 0d),
      "value_max_450" -> ($"value" > 450d),
      "type_in_domain" -> !$"event_type".isin(
        "view", "click", "purchase", "signup", "error"),
      "user_positive" -> ($"user_id" <= 0L),
      "props_k_under_90" -> (k >= 90L),
      "ts_in_2024" -> ($"ts" < lit("2024-01-01").cast("timestamp") ||
        $"ts" >= lit("2025-01-01").cast("timestamp")),
      "purchase_min_50" -> ($"event_type" === "purchase" && $"value" < 50d))
    val aggCols = count(lit(1)).as("n") +:
      rules.zipWithIndex.map { case ((_, p), i) =>
        sum(when(p, 1L).otherwise(0L)).as(s"v$i") }
    val stackArgs = rules.zipWithIndex
      .map { case ((nm, _), i) => s"'$nm', v$i" }.mkString(", ")
    Tables.load(spark, dir, "events")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("n"),
        expr(s"stack(${rules.size}, $stackArgs) AS (rule, n_violations)"))
      .select($"rule", $"n".as("n_rows"), $"n_violations",
        when($"n_violations" === 0L, "pass").otherwise("fail").as("status"))
  }
  private val dqRulesOracle: String =
    """WITH a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(*) FILTER (value IS NULL) AS BIGINT) AS v0,
      |    CAST(COUNT(*) FILTER (value < 0) AS BIGINT) AS v1,
      |    CAST(COUNT(*) FILTER (value > 450) AS BIGINT) AS v2,
      |    CAST(COUNT(*) FILTER (event_type NOT IN
      |      ('view','click','purchase','signup','error')) AS BIGINT) AS v3,
      |    CAST(COUNT(*) FILTER (user_id <= 0) AS BIGINT) AS v4,
      |    CAST(COUNT(*) FILTER (CAST(regexp_extract(props, '"k": (\d+)', 1)
      |      AS BIGINT) >= 90) AS BIGINT) AS v5,
      |    CAST(COUNT(*) FILTER (ts < TIMESTAMP '2024-01-01'
      |      OR ts >= TIMESTAMP '2025-01-01') AS BIGINT) AS v6,
      |    CAST(COUNT(*) FILTER (event_type = 'purchase' AND value < 50)
      |      AS BIGINT) AS v7
      |  FROM events),
      |r AS (
      |  SELECT 'value_not_null' AS rule, n, v0 AS n_violations FROM a
      |  UNION ALL SELECT 'value_nonneg', n, v1 FROM a
      |  UNION ALL SELECT 'value_max_450', n, v2 FROM a
      |  UNION ALL SELECT 'type_in_domain', n, v3 FROM a
      |  UNION ALL SELECT 'user_positive', n, v4 FROM a
      |  UNION ALL SELECT 'props_k_under_90', n, v5 FROM a
      |  UNION ALL SELECT 'ts_in_2024', n, v6 FROM a
      |  UNION ALL SELECT 'purchase_min_50', n, v7 FROM a)
      |SELECT rule, n AS n_rows, n_violations,
      |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
      |FROM r""".stripMargin

  // ──────────────────────────────────────────────────────────────────
  // f1b_date_diff — the DateLib differential (round-14 verdict item 4):
  // the q11/q14 pattern applied to the reference's hardest scalar.
  // Every fixture order date (plus arithmetically-derived wide/BCE/
  // Hebrew years, centuries and time parts) is rendered through ~30
  // decoration templates — one per makeDatetime fallback branch
  // (mapper_utils.py:241-494: ISO day/month/year, 6/8-digit, T-times,
  // "N BC", German vNNN (± day), EDTF masked 19XX / approx ?~ / edtf
  // prefix, year & century ranges, century phrases ± BCE, month-name
  // forms, numeric d.m.y / y.m.d, paren prefixes, Hebrew years > 4500,
  // the wikidata precision wrapper 9/10/11 incl. -00 clamp and BCE,
  // and a garbage battery). The ENGINE parses each string with the
  // real DateLib and converts [begin,end] to BCE-safe epoch seconds
  // via java.time; the ORACLE re-derives the same epochs from the raw
  // components with PURE INTEGER SQL — an explicit floor-division
  // proleptic-Gregorian rata-die formula plus the molad arithmetic for
  // the Hebrew branch — sharing no calendar code with the engine. A
  // mismatch on ANY decorated date (leap-day validity on negative
  // years, the human-vs-astronomical BCE numbering split between
  // "N BC" and "-N", masked-digit ranges, century boundaries, Hebrew
  // postponement rules) fails the row's hash.
  // ──────────────────────────────────────────────────────────────────

  private val monthFull = Seq("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")

  def dateDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".cast("long").as("ok"),
        year($"o_orderdate").as("y"), month($"o_orderdate").as("m"),
        dayofmonth($"o_orderdate").as("d"))
      .withColumn("wy", ($"ok" % 2199 + 1).cast("int"))
      .withColumn("hy", ($"ok" % 1500 + 4501).cast("int"))
      .withColumn("hd", ($"ok" % 29 + 1).cast("int"))
      .withColumn("cn", ($"ok" % 21 + 1).cast("int"))
      .withColumn("by", ($"ok" % 3999 + 1).cast("int"))
      .withColumn("g3", ($"ok" % 899 + 100).cast("int"))
      .withColumn("y2", ($"ok" % 90 + 10).cast("int"))
      .withColumn("hh", ($"ok" % 24).cast("int"))
      .withColumn("mi", ($"ok" % 60).cast("int"))
      .withColumn("ss", ($"ok" % 31).cast("int"))
    def ordSfx(c: Column): Column =
      when(c % 100 === 11 || c % 100 === 12 || c % 100 === 13, "th")
        .when(c % 10 === 1, "st").when(c % 10 === 2, "nd")
        .when(c % 10 === 3, "rd").otherwise("th")
    val mName = element_at(array(monthFull.map(lit): _*), $"m")
    val mAbbr = element_at(array(monthFull.map(n => lit(n.take(3))): _*), $"m")
    def v(kind: String, in: Column) =
      struct(lit(kind).as("kind"), in.as("input"))
    val variants = array(
      v("iso_day", format_string("%04d-%02d-%02d", $"y", $"m", $"d")),
      v("iso_month", format_string("%04d-%02d", $"y", $"m")),
      v("iso_year", format_string("%04d", $"wy")),
      v("eight_digit", format_string("%04d%02d%02d", $"y", $"m", $"d")),
      v("six_digit", format_string("%04d%02d", $"y", $"m")),
      v("iso_seconds", format_string("%04d-%02d-%02dT%02d:%02d:%02d",
        $"y", $"m", $"d", $"hh", $"mi", $"ss")),
      v("iso_minute", format_string("%04d-%02d-%02d %02d:%02d",
        $"y", $"m", $"d", $"hh", $"mi")),
      v("bce_suffix", format_string("%d BC", $"by")),
      v("bce_suffix_dots", format_string("%d B.C.E.", $"by")),
      v("german_bc", format_string("v%03d", $"g3")),
      v("german_bc_day", format_string("%02d.%02d.v%03d", $"d", $"m", $"g3")),
      v("masked2", concat(format_string("%02d", $"y2"), lit("XX"))),
      v("masked1", concat(format_string("%03d", $"g3"), lit("X"))),
      v("masked_neg", concat(lit("-"), format_string("%d", $"cn" % 9 + 1), lit("XX"))),
      v("approx_q", format_string("%04d?", $"wy")),
      v("approx_tilde", format_string("%04d~", $"wy")),
      v("year_range", format_string("%04d-%04d", $"y", $"y" + $"ok" % 50)),
      v("century", concat(format_string("%d", $"cn"), ordSfx($"cn"), lit(" century"))),
      v("century_bce", concat(format_string("%d", $"cn"), ordSfx($"cn"), lit(" century BCE"))),
      v("century_late", concat(lit("late "), format_string("%d", $"cn"), ordSfx($"cn"), lit(" century"))),
      v("century_range", concat(format_string("%d", $"cn"), ordSfx($"cn"),
        lit(" century - "), format_string("%d", $"cn" + 1 + $"ok" % 3),
        ordSfx($"cn" + 1 + $"ok" % 3), lit(" century"))),
      v("month_year", concat(mName, lit(" "), format_string("%04d", $"y"))),
      v("month_abbr_year", concat(mAbbr, lit(" "), format_string("%04d", $"y"))),
      v("day_month_year", concat(format_string("%d ", $"d"), mName,
        format_string(" %04d", $"y"))),
      v("day_ord_month_year", concat(format_string("%d", $"d"), ordSfx($"d"),
        lit(" "), mName, format_string(" %04d", $"y"))),
      v("month_day_year", concat(mName, format_string(" %d, %04d", $"d", $"y"))),
      v("numeric_dmy", format_string("%02d.%02d.%04d", $"d", $"m", $"y")),
      v("numeric_ymd", format_string("%04d/%02d/%02d", $"y", $"m", $"d")),
      v("paren_prefix", format_string("(circa) %04d-%02d-%02d", $"y", $"m", $"d")),
      v("edtf_prefix", format_string("edtf%04d-%02d", $"y", $"m")),
      v("minus_space", format_string("- %03d", $"g3")),
      v("short_year_iso", format_string("%02d-%02d-%02d", $"y2", $"m", $"d")),
      v("hebrew", format_string("%04d-07-%02d", $"hy", $"hd")),
      v("wd_day", format_string("+%04d-%02d-%02dT00:00:00Z", $"y", $"m", $"d")),
      v("wd_month", format_string("+%04d-%02d-%02dT00:00:00Z", $"y", $"m", $"d")),
      v("wd_year_clamp", format_string("+%04d-00-00T00:00:00Z", $"wy")),
      v("wd_bce_day", format_string("-%04d-%02d-%02dT00:00:00Z", $"g3", $"m", $"d")),
      v("garbage", element_at(array(lit("9999-01-01"), lit("0000"),
        lit("12 Jh."), lit("x" * 35)), ($"ok" % 4 + 1).cast("int"))))
    val parse = udf((kind: String, s: String) => {
      val r = kind match {
        case "wd_day" | "wd_bce_day" => DateLib.makeDatetimeWikidata(s, 11)
        case "wd_month" => DateLib.makeDatetimeWikidata(s, 10)
        case "wd_year_clamp" => DateLib.makeDatetimeWikidata(s, 9)
        case _ => DateLib.makeDatetime(s)
      }
      r.flatMap(dr => for {
        b <- DateLib.epochSeconds(dr.begin)
        e <- DateLib.epochSeconds(dr.end)
      } yield (b, e))
    })
    base.select(explode(variants).as("x"))
      .select($"x.kind".as("kind"), $"x.input".as("input")).distinct()
      .withColumn("p", parse($"kind", $"input"))
      .select($"kind", $"input", $"p._1".as("b_es"), $"p._2".as("e_es"))
  }

  // ── the oracle's integer-calendar kernels (spliced SQL text) ──
  /** Floor division for possibly-negative numerators (DuckDB `//`
    * truncates toward zero; Java floorDiv floors). */
  private def fdS(a: String, b: Int): String =
    s"((($a) - (((($a) % $b) + $b) % $b)) // $b)"
  private def leapS(y: String): String =
    s"(((($y) % 4 = 0) AND (($y) % 100 <> 0)) OR (($y) % 400 = 0))"
  /** Rata Die (1 = 0001-01-01) of proleptic-Gregorian (y, m, d) — the
    * independent twin of java.time's epoch-day arithmetic. */
  private def rdS(y: String, m: String, d: String): String =
    s"(365 * (($y) - 1) + ${fdS(s"($y) - 1", 4)} - ${fdS(s"($y) - 1", 100)}" +
      s" + ${fdS(s"($y) - 1", 400)}" +
      s" + ([0,31,59,90,120,151,181,212,243,273,304,334][$m])" +
      s" + (CASE WHEN ($m) > 2 AND ${leapS(y)} THEN 1 ELSE 0 END) + ($d))"
  /** Epoch seconds of (rata die, second-of-day); 719163 = RD of
    * 1970-01-01. */
  private def esS(rd: String, sec: String): String =
    s"(CAST(($rd) - 719163 AS BIGINT) * 86400 + ($sec))"
  /** Begin/end epoch pair for the year interval [y1, y2]. */
  private def yearsS(y1: String, y2: String): (String, String) =
    (esS(rdS(y1, "1", "1"), "0"), s"(${esS(rdS(s"($y2) + 1", "1", "1"), "0")} - 1)")
  /** End-of-month: first day of the next month minus one second. */
  private def monthEndS(y: String, m: String): String =
    s"(${esS(rdS(s"CASE WHEN ($m) = 12 THEN ($y) + 1 ELSE ($y) END",
      s"CASE WHEN ($m) = 12 THEN 1 ELSE ($m) + 1 END", "1"), "0")} - 1)"
  /** Hebrew molad arithmetic (Dershowitz–Reingold): rata die of
    * Tishrei `hd` in Hebrew year `y` (month 7 is the first civil month,
    * so its day offset is zero; operands all positive, `//` = floor). */
  private def hebrewRdS(y: String, hd: String): String = {
    def leapH(yy: String) = s"((7 * ($yy) + 1) % 19 < 7)"
    val me = s"(235 * ((($y) - 1) // 19) + 12 * ((($y) - 1) % 19)" +
      s" + (7 * ((($y) - 1) % 19) + 1) // 19)"
    val pe = s"(204 + 793 * ($me % 1080))"
    val he = s"(5 + 12 * $me + 793 * ($me // 1080) + $pe // 1080)"
    val day = s"(1 + 29 * $me + $he // 24)"
    val parts = s"(($he % 24) * 1080 + $pe % 1080)"
    val post = s"($day + CASE WHEN $parts >= 19440" +
      s" OR ($day % 7 = 2 AND $parts >= 9924 AND NOT ${leapH(y)})" +
      s" OR ($day % 7 = 1 AND $parts >= 16789 AND ${leapH(s"($y) - 1")})" +
      s" THEN 1 ELSE 0 END)"
    val ed = s"($post + CASE WHEN $post % 7 IN (0, 3, 5) THEN 1 ELSE 0 END)"
    s"($ed - 1373428 + ($hd) - 1)"
  }

  private val dateDiffOracle: String = {
    // one SELECT per decoration kind: build the SAME input string and
    // derive [begin,end] epochs with the integer kernels above
    val ordSfx = (n: String) => s"(CASE WHEN ($n) % 100 IN (11,12,13) THEN 'th'" +
      s" WHEN ($n) % 10 = 1 THEN 'st' WHEN ($n) % 10 = 2 THEN 'nd'" +
      s" WHEN ($n) % 10 = 3 THEN 'rd' ELSE 'th' END)"
    val mNames = monthFull.map(n => s"'$n'").mkString("[", ",", "]")
    val mAbbrs = monthFull.map(n => s"'${n.take(3)}'").mkString("[", ",", "]")
    // day precision: begin at midnight, end +86399
    def dayKind(kind: String, input: String, y: String, m: String, d: String,
        guardLeap: Boolean = false): String = {
      val b = esS(rdS(y, m, d), "0")
      val (bg, eg) =
        if (!guardLeap) (b, s"($b + 86399)")
        else (s"(CASE WHEN ($m) = 2 AND ($d) = 29 AND NOT ${leapS(y)}" +
          s" THEN NULL ELSE $b END)",
          s"(CASE WHEN ($m) = 2 AND ($d) = 29 AND NOT ${leapS(y)}" +
            s" THEN NULL ELSE $b + 86399 END)")
      s"SELECT '$kind' AS kind, $input AS input, $bg AS b_es, $eg AS e_es FROM base"
    }
    def monthKind(kind: String, input: String, y: String, m: String): String =
      s"SELECT '$kind', $input, ${esS(rdS(y, m, "1"), "0")}, " +
        s"${monthEndS(y, m)} FROM base"
    def yearsKind(kind: String, input: String, y1: String, y2: String): String = {
      val (b, e) = yearsS(y1, y2)
      s"SELECT '$kind', $input, $b, $e FROM base"
    }
    val cn2 = "(cn + 1 + ok % 3)"
    val rows = Seq(
      dayKind("iso_day", "printf('%04d-%02d-%02d', y, m, d)", "y", "m", "d"),
      monthKind("iso_month", "printf('%04d-%02d', y, m)", "y", "m"),
      yearsKind("iso_year", "printf('%04d', wy)", "wy", "wy"),
      dayKind("eight_digit", "printf('%04d%02d%02d', y, m, d)", "y", "m", "d"),
      monthKind("six_digit", "printf('%04d%02d', y, m)", "y", "m"),
      // second precision: begin == end at the exact second
      s"SELECT 'iso_seconds', printf('%04d-%02d-%02dT%02d:%02d:%02d', y, m, d, hh, mi, ss), " +
        s"${esS(rdS("y", "m", "d"), "hh * 3600 + mi * 60 + ss")}, " +
        s"${esS(rdS("y", "m", "d"), "hh * 3600 + mi * 60 + ss")} FROM base",
      s"SELECT 'iso_minute', printf('%04d-%02d-%02d %02d:%02d', y, m, d, hh, mi), " +
        s"${esS(rdS("y", "m", "d"), "hh * 3600 + mi * 60")}, " +
        s"${esS(rdS("y", "m", "d"), "hh * 3600 + mi * 60 + 59")} FROM base",
      // "N BC" uses HUMAN year numbering: year N BCE = ISO 1-N
      yearsKind("bce_suffix", "printf('%d BC', by)", "(1 - by)", "(1 - by)"),
      yearsKind("bce_suffix_dots", "printf('%d B.C.E.', by)", "(1 - by)", "(1 - by)"),
      yearsKind("german_bc", "printf('v%03d', g3)", "(1 - g3)", "(1 - g3)"),
      dayKind("german_bc_day", "printf('%02d.%02d.v%03d', d, m, g3)",
        "(1 - g3)", "m", "d", guardLeap = true),
      yearsKind("masked2", "printf('%02d', y2) || 'XX'", "(y2 * 100)", "(y2 * 100 + 99)"),
      yearsKind("masked1", "printf('%03d', g3) || 'X'", "(g3 * 10)", "(g3 * 10 + 9)"),
      yearsKind("masked_neg", "'-' || printf('%d', cn % 9 + 1) || 'XX'",
        "(-((cn % 9 + 1) * 100 + 99))", "(-((cn % 9 + 1) * 100))"),
      yearsKind("approx_q", "printf('%04d?', wy)", "(wy - 1)", "(wy + 1)"),
      yearsKind("approx_tilde", "printf('%04d~', wy)", "(wy - 1)", "(wy + 1)"),
      yearsKind("year_range", "printf('%04d-%04d', y, y + ok % 50)",
        "y", "(y + ok % 50)"),
      yearsKind("century", s"printf('%d', cn) || ${ordSfx("cn")} || ' century'",
        "((cn - 1) * 100)", "((cn - 1) * 100 + 99)"),
      yearsKind("century_bce",
        s"printf('%d', cn) || ${ordSfx("cn")} || ' century BCE'",
        "(1 - cn * 100)", "(-((cn - 1) * 100))"),
      yearsKind("century_late",
        s"'late ' || printf('%d', cn) || ${ordSfx("cn")} || ' century'",
        "((cn - 1) * 100)", "((cn - 1) * 100 + 99)"),
      yearsKind("century_range",
        s"printf('%d', cn) || ${ordSfx("cn")} || ' century - ' || " +
          s"printf('%d', $cn2) || ${ordSfx(cn2)} || ' century'",
        "((cn - 1) * 100)", s"(($cn2 - 1) * 100 + 99)"),
      monthKind("month_year", s"($mNames[m]) || ' ' || printf('%04d', y)", "y", "m"),
      monthKind("month_abbr_year", s"($mAbbrs[m]) || ' ' || printf('%04d', y)", "y", "m"),
      dayKind("day_month_year",
        s"printf('%d ', d) || ($mNames[m]) || printf(' %04d', y)", "y", "m", "d"),
      dayKind("day_ord_month_year",
        s"printf('%d', d) || ${ordSfx("d")} || ' ' || ($mNames[m]) || printf(' %04d', y)",
        "y", "m", "d"),
      dayKind("month_day_year",
        s"($mNames[m]) || printf(' %d, %04d', d, y)", "y", "m", "d"),
      // a.b.y: day-first when a > 12, else MONTH-first (month = a = the
      // fixture's day column, day = b = the month column)
      dayKind("numeric_dmy", "printf('%02d.%02d.%04d', d, m, y)",
        "y", "CASE WHEN d > 12 THEN m ELSE d END",
        "CASE WHEN d > 12 THEN d ELSE m END"),
      dayKind("numeric_ymd", "printf('%04d/%02d/%02d', y, m, d)", "y", "m", "d"),
      dayKind("paren_prefix", "printf('(circa) %04d-%02d-%02d', y, m, d)",
        "y", "m", "d"),
      monthKind("edtf_prefix", "printf('edtf%04d-%02d', y, m)", "y", "m"),
      // "- NNN" is ASTRONOMICAL numbering (plain ISO negative year),
      // unlike the human-numbered BC forms above
      yearsKind("minus_space", "printf('- %03d', g3)", "(-g3)", "(-g3)"),
      dayKind("short_year_iso", "printf('%02d-%02d-%02d', y2, m, d)",
        "y2", "m", "d", guardLeap = true),
      s"SELECT 'hebrew', printf('%04d-07-%02d', hy, hd), " +
        s"${esS(hebrewRdS("hy", "hd"), "0")}, " +
        s"${esS(hebrewRdS("hy", "hd"), "86399")} FROM base",
      dayKind("wd_day", "printf('+%04d-%02d-%02dT00:00:00Z', y, m, d)",
        "y", "m", "d"),
      monthKind("wd_month", "printf('+%04d-%02d-%02dT00:00:00Z', y, m, d)", "y", "m"),
      yearsKind("wd_year_clamp", "printf('+%04d-00-00T00:00:00Z', wy)", "wy", "wy"),
      dayKind("wd_bce_day", "printf('-%04d-%02d-%02dT00:00:00Z', g3, m, d)",
        "(-g3)", "m", "d", guardLeap = true),
      "SELECT 'garbage', (['9999-01-01','0000','12 Jh.','" + "x" * 35 +
        "'])[CAST(ok % 4 + 1 AS INT)], NULL, NULL FROM base")
    s"""WITH base AS (
       |  SELECT o_orderkey AS ok,
       |    EXTRACT(year FROM o_orderdate) AS y,
       |    EXTRACT(month FROM o_orderdate) AS m,
       |    EXTRACT(day FROM o_orderdate) AS d,
       |    (o_orderkey % 2199 + 1) AS wy,
       |    (o_orderkey % 1500 + 4501) AS hy,
       |    (o_orderkey % 29 + 1) AS hd,
       |    (o_orderkey % 21 + 1) AS cn,
       |    (o_orderkey % 3999 + 1) AS by,
       |    (o_orderkey % 899 + 100) AS g3,
       |    (o_orderkey % 90 + 10) AS y2,
       |    (o_orderkey % 24) AS hh,
       |    (o_orderkey % 60) AS mi,
       |    (o_orderkey % 31) AS ss
       |  FROM orders)
       |SELECT DISTINCT kind, input,
       |  CAST(b_es AS BIGINT) AS b_es, CAST(e_es AS BIGINT) AS e_es
       |FROM (${rows.mkString("\n UNION ALL ")})
       |  t(kind, input, b_es, e_es)""".stripMargin
  }

  override def register(): Unit = {
    Queries.register(QueryDef("s18_dq_rules", dqRules, Some(dqRulesOracle)))
    Queries.register(QueryDef("r2_er_pipeline", erPipeline, Some(erPipelineOracle),
      bench = true))
    Queries.register(QueryDef("f1_make_datetime", makeDatetime, Some(makeDatetimeOracle)))
    Queries.register(QueryDef("f1b_date_diff", dateDiff, Some(dateDiffOracle)))
    Queries.register(QueryDef("r1_name_reconcile", nameReconcile, Some(nameReconcileOracle)))
    Queries.register(QueryDef("s6_change_classify", changeClassify, Some(changeClassifyOracle)))
    Queries.register(QueryDef("st4_upsert_merge", upsertMerge, Some(upsertMergeOracle)))
    Queries.register(QueryDef("q9_similar_docs", similarDocs, Some(similarDocsOracle)))
    Queries.register(QueryDef("q9b_similar_full", similarFull, Some(similarFullOracle)))
  }
}
