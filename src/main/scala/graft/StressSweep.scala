package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.json4s._
import org.json4s.JsonDSL._

/** Executes EVERY registered query against a (stress) sf dir with full
  * row evaluation — the completion-at-scale companion to Bench: where
  * BENCH_sf1 times 21 keys, this proves the whole registry RUNS on the
  * 10× skew-injected corpus (no ANSI throw, no overflow, no guard that
  * only held at fixture scale). foreach, not count — count() prunes the
  * projections where divisions/casts live (the DegenerateDocsSpec
  * lesson).
  *
  * Per-query TIMEOUT via job-group cancellation: pair-LISTING queries
  * (all-pairs outputs like d4/d19/j17) have output quadratic in
  * duplicate-clique size BY CONTRACT, so against a corpus with a
  * 100k-duplicate clique their answer itself is petabyte-shaped — the
  * pipeline composes them after exact dedup (t_corpus_pipeline's stage
  * order), which collapses the clique, and each has a bounded-output
  * `*b` twin in the registry that measures its cost instead of paying
  * it. A timeout is reported loudly (never silently skipped) with that
  * contract note.
  *
  * ARTIFACT: with a third argument the sweep persists machine-readable
  * results (per-key seconds, status + contract note, guardedBandPairs
  * drop counts, spill and peak execution memory) so rounds can diff
  * scaling the way BENCH_r*.json diffs wall-times; with a fourth
  * argument (a prior artifact, e.g. an sf0.1 run) each key also carries
  * `ratio` = this run's seconds over the baseline's. The artifact is
  * rewritten after every key, so a key that kills the JVM loses only
  * its own measurement.
  *
  * SPILL REGIME: the memory-pressure dimension a big heap never
  * exercises on its own — on a cluster a heavy stage's shuffle and
  * aggregation state exceeds the executor's execution pool and must
  * spill; an operator that only works because everything fit in RAM
  * dies there and nowhere else. It is this sweep under a squeezed
  * unified pool, set at session build time:
  * {{{
  * SPARK_GRAFT_CONF="spark.memory.fraction=0.15;spark.memory.storageFraction=0.5;spark.sql.defaultCacheStorageLevel=MEMORY_AND_DISK;spark.graft.substrateStorageLevel=MEMORY_AND_DISK" \
  * SPARK_GRAFT_SWEEP_ONLY=la_build_pipeline,la_daily_run,t_corpus_pipeline,j6_reconcile_fixpoint,g1_connected_components,d2_minhash_lsh,k2_nt_triples,st8c_stream_admit_capped \
  *   runMain graft.StressSweep /tmp/graft_stress/sf10 3600 STRESS_spill.json
  * }}}
  * The cache storage levels matter as much as the fraction: a stage that
  * materializes a MEMORY_ONLY substrate while aggregating holds unroll
  * reservations no storageFraction can evict, so its own hash aggregate
  * finds a zero-free pool (round 14); MEMORY_AND_DISK persists overflow
  * to disk blocks instead. The artifact stamps the pairs as `env_conf`.
  *
  * Usage: runMain graft.StressSweep [sfDir] [timeoutSecs] [outJson [baselineJson]]
  */
object StressSweep {
  final private[graft] case class Res(secs: Double, status: String,
      note: String, guardDrops: Long, dropsTainted: Boolean,
      metrics: RunMetrics.Snapshot, metricsTainted: Boolean)

  /** Keys whose sf1/sf0.1 ratio is super-linear BY CONTRACT — the note
    * rides the artifact so a round-over-round ratio diff reads the why
    * without re-deriving it (a ratio ≈ 10 is plain linear compute at
    * 10× data; only ratios well past 10 need a reason). */
  private val contractNotes: Map[String, String] = Map(
    "v13_bitext_margin" -> ("exact all-pairs margin baseline (the " +
      "oracle-checkable brute, v1-style): cost is |en|x|xx| by contract; " +
      "v13b is the LSH-candidate production path"),
    "v17_bitext_recall" -> ("recall eval against the exact all-pairs " +
      "truth — inherits v13's quadratic contract on the truth side"),
    "d5_embedding_neardup" -> ("output grows with genuine near-dup " +
      "pairs (874 -> 177k on the clique corpus) — output-bound, not a " +
      "scaling defect"),
    "d9_semantic_prune" -> ("per-cell self-join is sum(m_c^2) with the " +
      "fixture's FIXED K; deployment grows K ~ sqrt(N) to keep cells " +
      "constant-sized (SemDeDup shape)"),
    "d17_embed_decontaminate" -> ("corpus x benchmark product: the " +
      "fixture scales BOTH sides 10x; production holds the benchmark " +
      "side fixed, making the scan linear"))

  /** The registry's contract-quadratic pair-listers (the standing sf1
    * timeouts, each with a bounded `*b` or capped twin). Under the spill
    * regime their cost is a JVM-killing executor OOM, not a measurement
    * (round 15: uncapped st8 killed three sweep JVMs), so they run last
    * and a kill loses only their own keys. */
  private val ContractQuadraticKeys = Set(
    "j17_fuzzy_join", "d4_ngram_jaccard", "d19_lsh_recall_eval",
    "d13_winnow_dedup", "st8_stream_neardup", "m1v_image_neardup")

  /** Registry order, contract-quadratic pair-listers last. */
  private[graft] def runOrder(keys: Seq[QueryDef]): Seq[QueryDef] = {
    val (contract, plain) = keys.partition(q => ContractQuadraticKeys(q.name))
    plain ++ contract
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_stress/sf1")
    val timeoutSecs = args.lift(1).map(_.toLong).getOrElse(300L)
    val outJson = args.lift(2)
    val baseline: Map[String, Double] = args.lift(3).map { p =>
      val root = jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      (root \ "queries") match {
        case JObject(fields) => fields.collect {
          case (name, q: JObject) => (q \ "secs") match {
            case JDouble(s) => Some(name -> s)
            case JInt(s) => Some(name -> s.toDouble)
            case _ => None
          }
        }.flatten.toMap
        case _ => Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)
    val spark = Sessions.create("graft-stress-sweep",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Sessions.envConf.foreach { case (k, v) => println(s"[sweep] env conf: $k=$v") }
    // local-iteration filter (comma-separated); the driver never sets
    // it, so recorded sweeps always cover the full registry
    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- Queries.all.map(_.name).toSet
      require(unknown.isEmpty, s"SPARK_GRAFT_SWEEP_ONLY unknown: ${unknown.mkString(",")}")
    }
    val keys = runOrder(Queries.all.filter(q => only.forall(_.contains(q.name))))
    val results = sweep(spark, sfDir, keys, timeoutSecs, outJson, baseline)
    val total = results.map(_._2.secs).sum
    val slowest = results.sortBy(-_._2.secs).take(10)
      .map { case (n, r) => f"$n=${r.secs}%.1f" }.mkString(", ")
    println(f"[sweep] TOTAL ${results.size} queries $total%.1f s; slowest: $slowest")
    val timedOut = results.collect { case (n, r) if r.status == "timeout" => n }
    if (timedOut.nonEmpty)
      println(s"[sweep] TIMED OUT (reported, not silent): ${timedOut.mkString(", ")}")
    outJson.foreach(path => println(s"[sweep] artifact written: $path"))
    val failed = results.collect { case (n, r) if r.status == "fail" => n }
    if (failed.nonEmpty) {
      println(s"[sweep] FAILED: ${failed.mkString(", ")}")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }

  /** Runs `keys` in order, one job group each, and rewrites `outJson`
    * after every key. */
  private[graft] def sweep(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, keys: Seq[QueryDef], timeoutSecs: Long,
      outJson: Option[String], baseline: Map[String, Double],
      drainTimeoutMillis: Long = RunMetrics.DrainTimeoutMillis)
      : Seq[(String, Res)] = {
    // env + corpus stamp: a sweep's seconds are only comparable to a
    // prior artifact's under the same heap/threads/conf AND the same
    // corpus draw (the driver regenerates testdata every round, and
    // StressGen corpora derive from it) — record all of it, same
    // fingerprint as BENCH (Bench.corpusFingerprint), so ratio-flag
    // adjudication reads off the artifacts
    val (corpusId, corpusStats) = Bench.corpusFingerprint(spark, sfDir)
    val stamp: JObject = ("sf_dir" -> sfDir) ~ ("timeout_secs" -> timeoutSecs) ~
      ("heap_gib" -> Runtime.getRuntime.maxMemory() / (1 << 30)) ~
      ("cpus" -> spark.sparkContext.defaultParallelism) ~
      ("env_conf" -> Artifact.envConf) ~
      ("corpus" -> ("id" -> corpusId) ~ ("tables" -> JObject(corpusStats.map {
        case (n, r, b) => n -> (("rows" -> r) ~ ("bytes" -> b)) }.toList)))
    def writeArtifact(results: Seq[(String, Res)], isoSecs: Map[String, Double])
        : Unit = outJson.foreach { path =>
      val rows = results.map { case (name, r) =>
        name -> (JObject(
          ("secs" -> Artifact.num(r.secs)) :: ("status" -> JString(r.status)) ::
            r.metrics.spillFields(r.metricsTainted)) ~
          ("ratio" -> baseline.get(name).filter(_ > 0)
            .map(b => Artifact.num(r.secs / b, 2))) ~
          ("iso_secs" -> isoSecs.get(name).map(s => Artifact.num(s))) ~
          ("guard_drops" -> Some(r.guardDrops).filter(_ > 0)) ~
          ("drops_tainted" -> Some(true).filter(_ => r.dropsTainted)) ~
          ("note" -> Some(r.note).filter(_.nonEmpty)))
      }
      Artifact.write(path, stamp ~ ("n_queries" -> results.size) ~
        ("total_secs" -> Artifact.num(results.map(_._2.secs).sum, 1)) ~
        ("n_timeout" -> results.count(_._2.status == "timeout")) ~
        ("n_fail" -> results.count(_._2.status == "fail")) ~
        ("queries" -> JObject(rows.toList)))
    }

    val metrics = RunMetrics.attach(spark, drainTimeoutMillis)
    try {
      // zombie futures: timed-out queries whose future did not drain in
      // its 60 s window keep running jobs and mutating the process-global
      // guardDropCount — while any is live, later keys' drop deltas and
      // spill/peak fields are flagged tainted instead of silently
      // misattributed
      var zombies = List.empty[Future[String]]
      var results = Vector.empty[(String, Res)]
      keys.foreach { q =>
        zombies = zombies.filterNot(_.isCompleted)
        val zombieAtStart = zombies.nonEmpty
        val drops0 = DedupQueries.guardDropCount.get()
        val group = s"sweep-${q.name}"
        // timed inside measure: `secs` covers the query and its
        // clearCache, not the listener drains around them
        val ((status, note, secs), snap) = metrics.measure {
          val t0 = System.nanoTime()
          val fut = Future {
            spark.sparkContext.setJobGroup(group, q.name, interruptOnCancel = true)
            try { q.fn(spark, sfDir).foreach(_ => ()); "ok" }
            finally spark.sparkContext.clearJobGroup()
          }
          val outcome = try {
            (Await.result(fut, timeoutSecs.seconds),
              contractNotes.getOrElse(q.name, ""))
          }
          catch {
            case _: java.util.concurrent.TimeoutException =>
              // AndFutureJobs: plain cancelJobGroup kills only currently
              // running jobs — an iterative query (fixpoint loops) would
              // keep submitting follow-on jobs from the zombie future and
              // skew the timing/clearCache of subsequent entries. Then
              // wait (bounded) for the future to actually drain before
              // the next query starts.
              spark.sparkContext.cancelJobGroupAndFutureJobs(group)
              try Await.ready(fut, 60.seconds)
              catch { case _: java.util.concurrent.TimeoutException =>
                println(s"[sweep] ${q.name}: zombie future did not drain in 60s")
                zombies ::= fut
              }
              ("timeout", s">${timeoutSecs}s; if a pair-lister: output is " +
                "quadratic in dup-clique size by contract — compose after " +
                "exact dedup, or read its bounded *b twin")
            case e: Throwable =>
              ("fail",
                String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(120))
          }
          // a fatal key (an executor OOM shuts the whole local context
          // down) must not abort the loop before the artifact is
          // rewritten; clearCache on a stopped context throws
          try spark.catalog.clearCache() catch { case _: Throwable => () }
          (outcome._1, outcome._2, (System.nanoTime() - t0) / 1e9)
        }
        val drops = DedupQueries.guardDropCount.get() - drops0
        val zombieLive = zombieAtStart || zombies.exists(!_.isCompleted)
        val tainted = drops > 0 && zombieLive
        val metricsTainted = zombieLive || !snap.drained
        val extra = (if (drops > 0) s"  [guard drops: $drops" +
            (if (tainted) ", TAINTED by a live zombie future]" else "]")
          else "") +
          (if (metricsTainted) "  [metrics TAINTED: " +
            (if (zombieLive) "live zombie future]" else "listener drain timed out]")
          else "") +
          (if (note.nonEmpty) s"  $note" else "")
        println(f"[sweep] ${q.name}%-28s $secs%7.2f s  $status  " +
          f"spill=${(snap.memSpilled + snap.diskSpilled) / 1e6}%.0fMB " +
          f"peakExec=${snap.peakExecMem / 1e6}%.0fMB$extra")
        results :+= q.name -> Res(secs, status, note, drops, tainted, snap,
          metricsTainted)
        writeArtifact(results, Map.empty)
      }
      // isolated re-measurement of ratio-flag suspects — the manual
      // adjudication protocol every round applied by hand (r12 d5, r15
      // st6/st8b, r16 j8/a6 all recovered in isolated re-runs),
      // mechanized: any ok key whose seconds grew >1.5× over the
      // baseline artifact re-runs once AFTER the sweep (JVM warm, no
      // sweep neighbors) and the artifact records both numbers, so
      // tools/stress_diff.py and any reader can separate sweep-neighbor
      // JVM state from a real regression without a hand re-run. The
      // isolated number never OVERWRITES the recorded one — both ride
      // the artifact.
      val isoSecs: Map[String, Double] = results.collect {
        case (name, r) if r.status == "ok" &&
            baseline.get(name).exists(b => b > 0 && r.secs > b * 1.5) =>
          val fn = keys.find(_.name == name).get.fn
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).foreach(_ => ()); true }
            catch { case _: Throwable => false }
          spark.catalog.clearCache()
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[sweep] iso re-run ${name}%-26s $s%7.2f s" +
            (if (ok) "" else "  (failed isolated; not recorded)"))
          if (ok) Some(name -> s) else None
      }.flatten.toMap
      if (isoSecs.nonEmpty) writeArtifact(results, isoSecs)
      results
    } finally metrics.detach()
  }
}
