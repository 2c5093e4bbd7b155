package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Substrate.SubstrateOps

/** Identity-graph operators (SURVEY §2.4): connected components over an
  * equivalence-edge table (J7 idmap clustering) and the bounded reference
  * BFS (J12). Edges are derived deterministically from the test star
  * schema; the DuckDB oracle re-derives the same answers with recursive
  * CTEs (transitive closure / bounded walk).
  *
  * Node id encoding (structurally disjoint at ANY scale factor, and
  * value-compact so long-range-sensitive sort/agg paths stay cheap):
  * part = 2k, supplier = 2k+1; for the BFS walk: customer = 4k,
  * order = 4k+1, part = 4k+2, supplier = 4k+3.
  */
object GraphQueries extends QueryGroup {

  /** J7: CC over the part–supplier co-occurrence graph (sampled orders);
    * per-cluster stats. component = min node id (deterministic canonical
    * election, the analog of the reference's cluster-winner rules). */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select(($"l_partkey" * 2L).as("src"), ($"l_suppkey" * 2L + 1L).as("dst"))
      .distinct()
    operators.Graph.connectedComponents(edges)
      .groupBy($"component")
      .agg(count(lit(1)).as("n_nodes"),
        sum(when($"node" % 2 === 0, 1L).otherwise(0L)).as("n_parts"),
        sum(when($"node" % 2 === 1, 1L).otherwise(0L)).as("n_supps"))
  }
  private val ccOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
      |  FROM lineitem WHERE l_orderkey % 50 = 0),
      |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |nodes AS (SELECT DISTINCT src AS node FROM sym),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
      |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
      |SELECT component, COUNT(*) AS n_nodes,
      |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
      |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supps
      |FROM comp GROUP BY component""".stripMargin

  /** J12: bounded reference walk (dist <= 3, min-dist) over the typed
    * customer→order→part→supplier graph from 10 seed customers. */
  def bfsWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val edges =
      o.select(($"o_custkey" * 4L).as("src"), ($"o_orderkey" * 4L + 1L).as("dst"))
        .union(li.select(($"l_orderkey" * 4L + 1L).as("src"),
          ($"l_partkey" * 4L + 2L).as("dst")))
        .union(li.select(($"l_partkey" * 4L + 2L).as("src"),
          ($"l_suppkey" * 4L + 3L).as("dst")))
        .distinct()
    val seeds = Tables.load(spark, dir, "customer")
      .filter($"c_custkey" < 10).select(($"c_custkey" * 4L).as("node"))
    operators.Graph.bfs(edges, seeds, maxDist = 3)
      .select($"node", $"dist".cast("long").as("dist"))
  }
  private val bfsOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT 4 * o_custkey AS src, 4 * o_orderkey + 1 AS dst FROM orders
      |  UNION
      |  SELECT 4 * l_orderkey + 1, 4 * l_partkey + 2 FROM lineitem
      |  UNION
      |  SELECT 4 * l_partkey + 2, 4 * l_suppkey + 3 FROM lineitem),
      |seeds AS (SELECT 4 * c_custkey AS node FROM customer WHERE c_custkey < 10),
      |walk(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, walk.dist + 1 FROM walk JOIN e ON walk.node = e.src
      |  WHERE walk.dist < 3)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM walk GROUP BY node""".stripMargin

  /** J5: the filtered equivalence crawl. Nodes/edges are synthesized in
    * blocks of 10 customer keys: the block seed (k=0, root type cycling
    * Person/Place/Language per block) crawls its block; candidates
    * exercise every garbage filter — date-far Persons (k=2, +50y),
    * type-guarded Places and concept subtypes, the containment cycle
    * guard (k=4 refs its feeder k=1), and the >2-per-prefix fanout cap
    * (k=1's edges to k∈{5,6,7} share a prefix block and all drop). */
  def collectFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long").as("ck"))
      .withColumn("k", $"ck" % 10)
    val rootType = when(($"ck" / 10).cast("long") % 3 === 0, "Person")
      .when(($"ck" / 10).cast("long") % 3 === 1, "Place")
      .otherwise("Language")
    val nodes = c.select($"ck".as("node"),
      when($"k" === 0, rootType)
        .when($"k".isin(1L, 2L, 3L, 4L, 5L), "Person")
        .when($"k" === 6, "Group")
        .when($"k" === 7, "Place")
        .when($"k" === 8, "Language")
        .otherwise("Material").as("rtype"),
      when($"k" === 0 && rootType === "Person", lit(1800) + $"ck" % 100)
        .when($"k".isin(1L, 2L, 3L, 4L, 5L),
          lit(1800) + $"ck" % 100 + when($"k" === 2, 50).otherwise(0))
        .when($"k" === 6, lit(1800) + $"ck" % 100)
        .otherwise(lit(null).cast("long")).as("byear"),
      lit(null).cast("long").as("dyear"),
      when($"k" === 4, array($"ck" - 3))
        .otherwise(array().cast("array<long>")).as("refs"))
    val seedEdges = c.filter($"k" === 0).select($"ck".as("src"),
      explode(array(lit(1L), lit(2L), lit(6L), lit(7L), lit(8L), lit(9L)))
        .as("off"))
      .select($"src", ($"src" + $"off").as("dst"))
    val l1Edges = c.filter($"k" === 1).select($"ck".as("src"),
      explode(array(lit(2L), lit(3L), lit(4L), lit(5L), lit(6L))).as("off"))
      .select($"src", ($"src" + $"off").as("dst"))
    val seeds = c.filter($"k" === 0).select($"ck".as("node"))
    operators.Collector
      .collect(nodes, seedEdges.union(l1Edges), seeds, maxDist = 2,
        prefixOf = d => (d / 5).cast("long"))
      .select($"seed", $"node", $"dist".cast("long").as("dist"))
  }
  private val collectFilteredOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer),
      |mx AS (SELECT MAX(ck) AS m FROM c),
      |seeds AS (SELECT ck AS seed, (ck // 10) % 3 AS rmod FROM c WHERE ck % 10 = 0),
      |d1 AS (
      |  SELECT seed, seed + off AS node FROM seeds,
      |    (VALUES (1),(2),(6),(7),(8),(9)) AS o(off)
      |  WHERE seed + off <= (SELECT m FROM mx)
      |    AND ((rmod = 0 AND off IN (1,6,7,8,9))
      |      OR (rmod = 1 AND off = 7)
      |      OR (rmod = 2 AND off IN (1,2,6,7,8)))),
      |d2 AS (
      |  SELECT seed, seed + 3 AS node FROM seeds
      |  WHERE rmod IN (0,2) AND seed + 3 <= (SELECT m FROM mx))
      |SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
      |UNION ALL SELECT seed, node, 1 FROM d1
      |UNION ALL SELECT seed, node, 2 FROM d2""".stripMargin

  /** J6: the reconcile fixpoint end-to-end — Reconcile.frontierFixpoint
    * driven by two data-backed node-anchored expanders until no new node
    * appears (`reconciler.py:34-125`: the URI/name passes plus the
    * collector crawl, repeated until `issubset`):
    *   crawl — every relationship edge whose subject is a frontier
    *           node (the collector pass);
    *   name  — for part nodes in the frontier, an edge to the minimum
    *           partkey sharing their lowercase name (the name pass).
    * Seeded with customers 1-5 → their orders, the closure walks
    * orders → parts → name-twins → suppliers → nations over several
    * rounds. The oracle replays it as a recursive-CTE reachability:
    * the final edge set is seed ∪ every graph edge whose source is
    * forward-reachable from the seed nodes.
    *
    * Scale: each round is one distributed semi-join against the
    * (bucketable) relationship table; per round ONE scalar (the
    * new-node count) reaches the driver — g1's convergence discipline. */
  def reconcileFixpoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // RAW edge unions — no distinct — PERSISTED: the fixpoint dedups
    // each round's newEdges itself, so pre-distincting the full
    // relationship substrate (LuxQueries.triples' two 6M-row shuffles
    // at sf1) is pure waste here; but the probe substrate IS touched
    // once per round, so it must live in memory, not be re-scanned
    // from parquet each round (SURVEY lesson 17: persist every
    // closed-over expander input). Build = map-only scan, zero
    // shuffle. (Round-11 re-built triples WITH the distincts per
    // round: 32.9 s at sf1; unpersisted raw unions: 24 s; this: ~14 s.)
    val o = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val cu = Tables.load(spark, dir, "customer")
    val su = Tables.load(spark, dir, "supplier")
    val rel = o.select(concat(lit("o"), $"o_orderkey").as("src"),
        concat(lit("c"), $"o_custkey").as("dst"))
      .union(li.select(concat(lit("o"), $"l_orderkey").as("src"),
        concat(lit("p"), $"l_partkey").as("dst")))
      .union(li.select(concat(lit("p"), $"l_partkey").as("src"),
        concat(lit("s"), $"l_suppkey").as("dst")))
      .union(cu.select(concat(lit("c"), $"c_custkey").as("src"),
        concat(lit("n"), $"c_nationkey").as("dst")))
      .union(su.select(concat(lit("s"), $"s_suppkey").as("src"),
        concat(lit("n"), $"s_nationkey").as("dst")))
      .persistSubstrate()
    // groupBy-min + join, not min-over-partition: a boilerplate name is
    // a hot window partition that sorts, while the aggregate combines
    // map-side (the repo-wide name-twin rule; same shape as the build
    // chain's index)
    val part = Tables.load(spark, dir, "part")
    val nameIdx = part.groupBy(lower($"p_name").as("nm"))
      .agg(min($"p_partkey").as("m"))
    val canon = part
      .select($"p_partkey", lower($"p_name").as("nm"))
      .join(nameIdx, "nm")
      .filter($"p_partkey" =!= $"m")
      .select(concat(lit("p"), $"p_partkey").as("src"),
        concat(lit("p"), $"m").as("dst"))
      .persistSubstrate()
    // node-anchored expanders (src ∈ input nodes) — the
    // frontierFixpoint contract; per-round cost ∝ frontier fan-out.
    // The frontier is BROADCAST: it is bounded by one round's fan-out
    // (checkpointed, so Spark has no size estimate and would otherwise
    // sort-merge — shuffling the full relationship table every round),
    // turning each round into a map-side probe of the persisted rel.
    val crawl = (ns: DataFrame) =>
      rel.join(broadcast(ns.withColumnRenamed("v", "src")), "src")
    val namePass = (ns: DataFrame) =>
      canon.join(broadcast(ns.withColumnRenamed("v", "src")), "src")
    val seed = Tables.load(spark, dir, "orders").filter($"o_custkey" <= 5)
      .select(concat(lit("c"), $"o_custkey").as("src"),
        concat(lit("o"), $"o_orderkey").as("dst"))
    val edges = operators.Reconcile.frontierFixpoint(seed, Seq(crawl, namePass))
    // every layer is localCheckpoint-materialized by the per-round
    // counts, so the loop inputs are dead the moment it returns —
    // release them instead of pinning fresh copies per invocation
    rel.unpersist()
    canon.unpersist()
    edges
  }
  private val reconcileFixpointOracle: String =
    """WITH RECURSIVE g AS (
      |  SELECT 'o' || o_orderkey AS a, 'c' || o_custkey AS b FROM orders
      |  UNION SELECT 'o' || l_orderkey, 'p' || l_partkey FROM lineitem
      |  UNION SELECT 'p' || l_partkey, 's' || l_suppkey FROM lineitem
      |  UNION SELECT 'c' || c_custkey, 'n' || c_nationkey FROM customer
      |  UNION SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier
      |  UNION SELECT 'p' || k, 'p' || m FROM (
      |    SELECT p_partkey AS k,
      |      MIN(p_partkey) OVER (PARTITION BY lower(p_name)) AS m
      |    FROM part) WHERE k <> m),
      |seed AS (
      |  SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst
      |  FROM orders WHERE o_custkey <= 5),
      |nodes(v) AS (
      |  SELECT src FROM seed UNION SELECT dst FROM seed
      |  UNION SELECT g.b FROM g, nodes WHERE g.a = nodes.v)
      |SELECT src, dst FROM seed
      |UNION
      |SELECT a, b FROM g WHERE a IN (SELECT v FROM nodes)""".stripMargin

  /** Importance ranking over the same part–supplier co-occurrence graph
    * g1 clusters: integer-exact PageRank (damping 0.85, three fixed
    * power iterations, milli-quantized ranks) — the link-analysis
    * sampler a linked-data pipeline uses to pick which entities to
    * enrich or upweight first. All arithmetic is floor division on
    * non-negative operands (per-edge contribution rank//outdeg, then
    * 150 + 850·Σ//1000), so the unrolled DuckDB replay is bit-exact.
    * Scale: each iteration is one shuffle join of the edge list against
    * the corpus-sized rank table plus a groupBy(dst) with map-side
    * partial sums — the canonical Pregel round expressed relationally.
    * The iteration count is fixed (not convergence-polled), so no
    * driver round-trips at all; the symmetric edge table means no
    * dangling-node mass correction is needed (every node has outdeg
    * ≥ 1). */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import TextQueries.intDiv
    val e = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select(($"l_partkey" * 2L).as("src"), ($"l_suppkey" * 2L + 1L).as("dst"))
      .distinct()
    // read 4×, ALWAYS keyed by src (degree + every iteration's join):
    // build it hash(src)-partitioned — repartition then dropDuplicates
    // instead of distinct, so the dedup itself needs no second exchange
    // (hash(src) already co-locates equal (src,dst) rows) and the
    // cached partitioning makes the degree aggregate AND each power
    // iteration's edge join exchange-free on the edge bulk (r17, guide
    // §2.4; the identical move to Graph.connectedComponents' sym)
    // byte-scaled partition count (r18): the cached layout is frozen by
    // the cached-plan flag, so it must not inherit the cores-coupled
    // shuffle.partitions constant (operators.Substrate.scaledPartitions)
    val symRaw = e.union(e.select($"dst".as("src"), $"src".as("dst")))
    val sym = symRaw
      .repartition(operators.Substrate.scaledPartitions(symRaw), $"src")
      .dropDuplicates("src", "dst").persistSubstrate()
    val deg = sym.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    var rank = deg.select($"src".as("node"), lit(1000L).as("rank"))
    for (_ <- 1 to 3) {
      val contrib = sym
        .join(rank.select($"node".as("src"), $"rank"), "src")
        .join(deg, "src")
        .select($"dst".as("node"), intDiv($"rank", $"outdeg").as("c"))
        .groupBy($"node").agg(sum($"c").as("csum"))
      rank = deg.select($"src".as("node"))
        .join(contrib, Seq("node"), "left")
        .select($"node",
          (lit(150L) + intDiv(coalesce($"csum", lit(0L)) * 850L, lit(1000L)))
            .as("rank"))
    }
    rank.join(deg.select($"src".as("node"), $"outdeg".as("degree")), "node")
      .select($"node", $"rank".as("rank_milli"), $"degree")
  }
  private val pagerankOracle: String = {
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT sym.dst AS node, SUM($prev.rank // deg.outdeg) AS csum
         |  FROM sym JOIN $prev ON $prev.node = sym.src
         |  JOIN deg ON deg.src = sym.src GROUP BY 1),
         |$cur AS (
         |  SELECT d.src AS node, 150 + COALESCE(csum, 0) * 850 // 1000 AS rank
         |  FROM deg d LEFT JOIN c$cur ON c$cur.node = d.src)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
       |  FROM lineitem WHERE l_orderkey % 50 = 0),
       |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY 1),
       |r0 AS (SELECT src AS node, CAST(1000 AS BIGINT) AS rank FROM deg),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT r3.node, CAST(r3.rank AS BIGINT) AS rank_milli,
       |  CAST(deg.outdeg AS BIGINT) AS degree
       |FROM r3 JOIN deg ON deg.src = r3.node""".stripMargin
  }

  /** G4 (extension): per-node triangle counts on the part–part
    * co-occurrence graph (two parts sharing a sampled order). Uses
    * DEGREE ORIENTATION (Suri & Vassilvitskii's MapReduce node
    * iterator): each undirected edge points from its lower-(degree,
    * id) endpoint, wedges are enumerated only at that low end, and a
    * wedge closes iff the oriented edge between its tips exists. Every
    * triangle is counted exactly once, and — the scale point — a hub
    * of degree d generates wedges bounded by its LOWER-degree
    * neighbors, not d², so the wedge join survives power-law graphs
    * that explode a naive enumeration. The oracle recounts with the
    * id-ordered triple join; the two orientations agree on the set of
    * triangles. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val po = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val e = po.as("a").join(po.as("b"), "ok")
      .filter($"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
    val deg = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
    val oriented = ed.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
        struct($"u".as("lo"), $"v".as("hi"), $"dv".as("dhi")))
        .otherwise(struct($"v".as("lo"), $"u".as("hi"), $"du".as("dhi")))
        .as("s"))
      .select($"s.lo".as("lo"), $"s.hi".as("hi"), $"s.dhi".as("dhi"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.lo" === $"e2.lo" &&
          ($"e1.dhi" < $"e2.dhi" ||
            ($"e1.dhi" === $"e2.dhi" && $"e1.hi" < $"e2.hi")))
      .select($"e1.lo".as("x"), $"e1.hi".as("y"), $"e2.hi".as("z"))
    val tris = wedges.join(oriented,
        $"y" === $"lo" && $"z" === $"hi", "left_semi")
    tris.select(explode(array($"x", $"y", $"z")).as("part"))
      .groupBy($"part").agg(count(lit(1)).as("n_triangles"))
  }
  private val triangleOracle: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
      |  FROM lineitem WHERE l_orderkey % 50 = 0),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.p < b.p),
      |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (SELECT x AS part FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT part, COUNT(*) AS n_triangles FROM nodes GROUP BY part""".stripMargin

  /** g5 peel threshold and round cap. Synchronous peeling converges in
    * ≤3 rounds on the sf0.01 co-part graph; the cap is 8 so the unrolled
    * oracle provably covers convergence, and the spec pins that the cap
    * was not hit (a converged round peels nothing, so extra unrolled
    * rounds are identities and Spark's early exit is exact). */
  val CoreK = 3
  val CoreRounds = 8

  /** G5: k-core decomposition by synchronous peeling — repeatedly drop
    * nodes whose degree in the REMAINING subgraph is < k; the fixpoint is
    * the maximal subgraph of min-degree ≥ k (the standard community-core
    * primitive; reference analog: the reconciler's repeated trash-and-
    * re-vote passes, `process/base/reconciler.py`, are one-field peeling).
    *
    * Scale shape: each round is one degree aggregation (map-side partial
    * count) + two anti-joins, all hash-partitioned on the node key; no
    * window, no driver-side graph. localCheckpoint truncates the loop's
    * lineage (g1's recipe) and the only driver traffic is one scalar
    * count per round. Rounds = the graph's peel depth, which is tiny for
    * heavy-tailed co-occurrence graphs (hubs survive, fringes peel in
    * 2-3 waves) — the same loop shape GraphX/Goldberg's k-core uses. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val po = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    var edges = po.as("a").join(po.as("b"), "ok")
      .filter($"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      .localCheckpoint()
    var round = 0
    var removed = 1L
    while (round < CoreRounds && removed > 0) {
      val deg = edges.select(explode(array($"u", $"v")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("d"))
      val bad = deg.filter($"d" < CoreK).select($"n").localCheckpoint()
      removed = bad.count()
      if (removed > 0) {
        edges = edges
          .join(bad.select($"n".as("u")), Seq("u"), "left_anti")
          .join(bad.select($"n".as("v")), Seq("v"), "left_anti")
          .localCheckpoint()
      }
      round += 1
    }
    edges.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
  }
  private val kcoreOracle: String = {
    // every CTE is MATERIALIZED: each round references the previous one
    // three times, so default inlining would expand e0 ~5^rounds times
    val base =
      """WITH po AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 50 = 0),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.ok = b.ok AND a.p < b.p)""".stripMargin
    val rounds = (0 until CoreRounds).map { r =>
      s""",
         |d$r AS MATERIALIZED (SELECT n, COUNT(*) AS c FROM (
         |  SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r) s GROUP BY 1),
         |bad$r AS MATERIALIZED (SELECT n FROM d$r WHERE c < $CoreK),
         |e${r + 1} AS MATERIALIZED (SELECT u, v FROM e$r
         |  WHERE u NOT IN (SELECT n FROM bad$r)
         |    AND v NOT IN (SELECT n FROM bad$r))""".stripMargin
    }.mkString
    base + rounds +
      s"""
         |SELECT n AS node, c AS core_deg FROM (
         |  SELECT n, COUNT(*) AS c FROM (
         |    SELECT u AS n FROM e$CoreRounds
         |    UNION ALL SELECT v FROM e$CoreRounds) s GROUP BY 1) f""".stripMargin
  }

  /** Synchronous LPA rounds (fixed, for oracle replay determinism). */
  val LpRounds = 3

  /** G6 (extension): community detection by SYNCHRONOUS label
    * propagation on the sampled part–supplier graph — the cheap
    * community pass a reconciler runs before committing to full CC
    * merges (communities ≈ candidate merge neighborhoods). Rule per
    * round: every node adopts the most frequent label among its
    * neighbors, ties broken by MIN label — fully deterministic, no
    * vertex ordering dependence (unlike async LPA). Each round is two
    * keyed aggregations and one join (all shuffle ∝ |E|); rounds are
    * fixed so the oracle can replay them as iterated CTEs. No driver
    * data traffic at all — the loop is unrolled, not converging. */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select(($"l_partkey" * 2L).as("src"), ($"l_suppkey" * 2L + 1L).as("dst"))
      .distinct()
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct().persistSubstrate() // read every round
    var lbl = sym.select($"src".as("node")).distinct()
      .select($"node", $"node".as("lbl"))
    for (_ <- 1 to LpRounds) {
      val counts = sym
        .join(lbl.select($"node".as("dst"), $"lbl"), "dst")
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
      val top = counts.groupBy($"src").agg(max($"c").as("mc"))
      lbl = counts.join(top, "src").filter($"c" === $"mc")
        .groupBy($"src").agg(min($"lbl").as("lbl"))
        .select($"src".as("node"), $"lbl")
    }
    lbl.select($"node", $"lbl".as("community"))
  }
  private val labelPropagationOracle: String = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS MATERIALIZED (
         |  SELECT sym.src AS node, p.lbl AS lbl, COUNT(*) AS c
         |  FROM sym JOIN $prev p ON p.node = sym.dst GROUP BY 1, 2),
         |$cur AS MATERIALIZED (
         |  SELECT node, MIN(lbl) AS lbl FROM (
         |    SELECT node, lbl, c, MAX(c) OVER (PARTITION BY node) AS mc
         |    FROM c$cur) t
         |  WHERE c = mc GROUP BY 1)""".stripMargin
    val rounds = (1 to LpRounds)
      .map(r => round(s"r${r - 1}", s"r$r")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
       |  FROM lineitem WHERE l_orderkey % 50 = 0),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |r0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
       |$rounds
       |SELECT node, CAST(lbl AS BIGINT) AS community FROM r$LpRounds""".stripMargin
  }

  /** G7 (extension): INCREMENTAL connected components — the daily idmap
    * update (`reference_manager.py:212-407` re-run per build over only
    * the day's new equivalences). Given yesterday's labels L over the
    * base graph and today's delta edges, every delta endpoint is first
    * CONTRACTED through L (left join + coalesce-to-self for unseen
    * nodes), and full CC runs only on that contracted graph — sized by
    * |touched components| + |new nodes|, NOT the corpus. Final labels
    * compose the two maps (node → L → contracted component). Because
    * every stage preserves the min-label invariant, the composition
    * equals full CC over base ∪ delta — which is exactly what the
    * oracle replays (the same recursive CTE as g1 over the union
    * slice). Scale: the base graph is never re-shuffled; daily cost
    * ∝ delta, the asymmetric-probe discipline of d8. */
  def incrementalCC(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    def slice(m: Long) = li.filter($"l_orderkey" % 50 === m)
      .select(($"l_partkey" * 2L).as("src"), ($"l_suppkey" * 2L + 1L).as("dst"))
      .distinct()
    val base = slice(0L)
    val delta = slice(25L)
    val l0 = operators.Graph.connectedComponents(base)
    val contracted = delta
      .join(l0.select($"node".as("src"), $"component".as("sc")), Seq("src"), "left")
      .join(l0.select($"node".as("dst"), $"component".as("dc")), Seq("dst"), "left")
      .select(coalesce($"sc", $"src").as("src"), coalesce($"dc", $"dst").as("dst"))
      .filter($"src" =!= $"dst")
    val l1 = operators.Graph.connectedComponents(contracted)
    val allNodes = base.select($"src".as("node"))
      .union(base.select($"dst".as("node")))
      .union(delta.select($"src".as("node")))
      .union(delta.select($"dst".as("node"))).distinct()
    allNodes
      .join(l0, Seq("node"), "left")
      .select($"node", coalesce($"component", $"node").as("mid"))
      .join(l1.select($"node".as("mid"), $"component".as("fin")), Seq("mid"), "left")
      .select($"node", coalesce($"fin", $"mid").as("component"))
      .groupBy($"component")
      .agg(count(lit(1)).as("n_nodes"),
        sum(when($"node" % 2 === 0, 1L).otherwise(0L)).as("n_parts"),
        sum(when($"node" % 2 === 1, 1L).otherwise(0L)).as("n_supps"))
  }
  /** Full CC over base ∪ delta — equality with the incremental
    * composition is the correctness claim. */
  private val incrementalCCOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
      |  FROM lineitem WHERE l_orderkey % 50 IN (0, 25)),
      |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |nodes AS (SELECT DISTINCT src AS node FROM sym),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
      |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
      |SELECT component, COUNT(*) AS n_nodes,
      |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
      |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supps
      |FROM comp GROUP BY component""".stripMargin

  /** G8: partition modularity — the quality metric for the community
    * family (g6 produces partitions; this evaluates ANY given one, here
    * the structural p%16 assignment over g4's co-purchase graph).
    * Newman's Q = Σc [ec/m − (dc/2m)²] is kept RATIONAL: the query
    * returns q_num = Σc(4m·ec − dc²) and q_den = 4m², both exact
    * BIGINTs, because a single floor/truncate division on a possibly
    * NEGATIVE Q is exactly the signed-division trap the intDiv contract
    * warns about — consumers divide at display time.
    *
    * Scale shape: one degree aggregation, one intra-edge aggregation
    * (both keyed on the bounded community domain after a map-side
    * partial), and a broadcast scalar m — no all-pairs anything. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val po = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val e = po.as("a").join(po.as("b"), "ok")
      .filter($"a.p" < $"b.p")
      .select($"a.p".cast("long").as("u"), $"b.p".cast("long").as("v"))
      .distinct().persistSubstrate() // degree agg + intra-edge agg + |E|
    val mRow = e.agg(count(lit(1)).as("m"))
    val deg = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val dc = deg.groupBy(($"n" % 16).as("c"))
      .agg(sum($"d").as("dc"), count(lit(1)).as("nn"))
    val ec = e.filter($"u" % 16 === $"v" % 16)
      .groupBy(($"u" % 16).as("c")).agg(count(lit(1)).as("ec"))
    dc.join(ec, Seq("c"), "left")
      .select($"c", $"dc", coalesce($"ec", lit(0L)).as("ec"))
      .crossJoin(broadcast(mRow))
      .agg(count(lit(1)).as("n_communities"),
        max($"m").as("m_edges"),
        sum(lit(4L) * $"m" * $"ec" - $"dc" * $"dc").as("q_num"),
        (lit(4L) * max($"m") * max($"m")).as("q_den"))
  }
  private val modularityOracle: String =
    """WITH po AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |  WHERE l_orderkey % 50 = 0),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT n, COUNT(*) AS d FROM (
      |  SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |dc AS (SELECT n % 16 AS c, SUM(d) AS dc FROM deg GROUP BY 1),
      |ec AS (SELECT u % 16 AS c, COUNT(*) AS ec FROM e
      |  WHERE u % 16 = v % 16 GROUP BY 1),
      |m AS (SELECT COUNT(*) AS m FROM e)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
      |  CAST(MAX(m.m) AS BIGINT) AS m_edges,
      |  CAST(SUM(4 * m.m * COALESCE(ec.ec, 0) - dc.dc * dc.dc) AS BIGINT)
      |    AS q_num,
      |  CAST(4 * MAX(m.m) * MAX(m.m) AS BIGINT) AS q_den
      |FROM dc LEFT JOIN ec ON dc.c = ec.c, m""".stripMargin

  /** G9: bounded weighted shortest paths over the part–supplier
    * co-occurrence graph (edge weight = cheapest observed quantity on
    * the link, min-merged across duplicate lineitems), from the low-id
    * seed nodes, within 4 hops — cost-ranked reachability, the weighted
    * twin of g2's hop-ranked reference walk. Costs are sums of integer
    * quantities, so the DuckDB hop-bounded recursive-CTE replay is
    * bit-exact. The frontier loop's early convergence exit and the
    * oracle's hop bound agree exactly (a k-edge path needs k rounds and
    * the fixpoint sends nothing new — see operators.Graph.boundedSssp). */
  def sssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 25 === 0)
      .groupBy(($"l_partkey" * 2L).as("src"), ($"l_suppkey" * 2L + 1L).as("dst"))
      .agg(min($"l_quantity".cast("long")).as("w"))
    val sym = e0.union(e0.select($"dst".as("src"), $"src".as("dst"), $"w"))
    val seeds = sym.filter($"src" < 100).select($"src".as("node")).distinct()
    operators.Graph.boundedSssp(sym, seeds, maxHops = 4)
  }
  private val ssspOracle: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst,
      |    MIN(CAST(l_quantity AS BIGINT)) AS w
      |  FROM lineitem WHERE l_orderkey % 25 = 0 GROUP BY 1, 2),
      |sym AS (SELECT src, dst, w FROM e0
      |  UNION ALL SELECT dst, src, w FROM e0),
      |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src < 100),
      |walk(node, hops, dist) AS (
      |  SELECT node, 0, CAST(0 AS BIGINT) FROM seeds
      |  UNION
      |  SELECT sym.dst, walk.hops + 1, walk.dist + sym.w
      |  FROM walk JOIN sym ON walk.node = sym.src WHERE walk.hops < 4)
      |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("g9_sssp", sssp, Some(ssspOracle)))
    Queries.register(QueryDef("g8_modularity", modularity,
      Some(modularityOracle)))
    Queries.register(QueryDef("g7_incremental_cc", incrementalCC,
      Some(incrementalCCOracle)))
    Queries.register(QueryDef("g6_label_propagation", labelPropagation,
      Some(labelPropagationOracle)))
    Queries.register(QueryDef("g4_triangle_count", triangleCount,
      Some(triangleOracle)))
    Queries.register(QueryDef("g5_kcore", kcore, Some(kcoreOracle)))
    Queries.register(QueryDef("g3_pagerank", pagerank, Some(pagerankOracle), bench = true))
    Queries.register(QueryDef("g1_connected_components", connectedComponents,
      Some(ccOracle), bench = true))
    Queries.register(QueryDef("g2_bfs_walk", bfsWalk, Some(bfsOracle)))
    Queries.register(QueryDef("j5_collect_filtered", collectFiltered,
      Some(collectFilteredOracle)))
    Queries.register(QueryDef("j6_reconcile_fixpoint", reconcileFixpoint,
      Some(reconcileFixpointOracle)))
  }
}
