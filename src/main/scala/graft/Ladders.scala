package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

/** Measured ladders that place the engine's one-point guard constants:
  * each rung runs the operator the constant governs at one setting, with
  * a warm-up and the min of two timed passes ([[RunMetrics.warmMinOfTwo]]),
  * and records the trade the constant buys.
  *
  *   - `bandcap`: the batch hot-band guard `DedupQueries.BandCap`
  *     (STRESS_bandcap_r16.json).
  *   - `neardupcap`: the streaming admission cap
  *     `StreamQueries.NeardupCapC` (STRESS_neardupcap_r16.json).
  *
  * Usage: runMain graft.Ladders <bandcap|neardupcap> [outJson]
  */
object Ladders {
  def main(args: Array[String]): Unit = {
    val ladder: (SparkSession, RunMetrics) => JObject = args.headOption match {
      case Some("bandcap") => bandCap
      case Some("neardupcap") => neardupCap
      case _ => throw new IllegalArgumentException(
        "usage: Ladders <bandcap|neardupcap> [outJson]")
    }
    val name = args(0)
    val spark = Sessions.create(s"graft-$name-ladder",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val doc = ladder(spark, RunMetrics.attach(spark))
    args.lift(1).foreach { path =>
      Artifact.write(path, ("ladder" -> name) ~
        ("cpus" -> spark.sparkContext.defaultParallelism) ~
        ("env_conf" -> Artifact.envConf) ~ doc)
      println(s"[$name] artifact written: $path")
    }
    spark.stop()
  }

  /** Planted near-duplicate corpus for the LSH ladders: clusters whose
    * members are a 60-word base text with exactly ONE word replaced by a
    * token unique to (cluster, variant), so any two members of a cluster
    * share 3-shingle Jaccard ≥ 52/64 ≈ 0.81 > the 0.8 verify threshold
    * and are genuine near-dups by construction. Background docs draw
    * their words from a doc-keyed space no cluster text can collide
    * with, and pin the false-pair side. */
  private object Planted {
    final case class Doc(doc_id: Long, text: String, tier: Int,
        cluster: Long, stream: Boolean)

    private val Words = 60
    private val Vocab = 5000

    private def mix(a: Long, b: Long): Long = {
      var z = a * 0x9E3779B97F4A7C15L + b
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & Long.MaxValue
    }

    private def member(cluster: Long, variant: Int, keepBase: Boolean): String = {
      val base = (0 until Words).map(i => "w" + (mix(cluster, i.toLong) % Vocab))
      if (keepBase) base.mkString(" ")
      else {
        val p = (mix(cluster, 1000003L + variant) % Words).toInt
        base.updated(p, s"u${cluster}x$variant").mkString(" ")
      }
    }

    private def background(id: Long): String =
      (0 until Words).map(j => s"bg${id}_${mix(id, j.toLong) % 100000}").mkString(" ")

    /** `tiers` holds (corpus members, stream members, clusters); corpus
      * ids count up from 0, stream ids from 1e6. With `baseFirst` the
      * first corpus member of each cluster is the unmodified base. */
    def docs(tiers: Seq[(Int, Int, Int)], bgCorpus: Int, bgStream: Int,
        baseFirst: Boolean): Seq[Doc] = {
      val out = Seq.newBuilder[Doc]
      var corpusId = 0L
      var streamId = 1000000L
      var cluster = 0L
      for (((cm, sm, n), tier) <- tiers.zipWithIndex; _ <- 0 until n) {
        for (v <- 0 until cm) {
          out += Doc(corpusId, member(cluster, v, baseFirst && v == 0), tier,
            cluster, stream = false)
          corpusId += 1
        }
        for (v <- cm until cm + sm) {
          out += Doc(streamId, member(cluster, v, keepBase = false), tier,
            cluster, stream = true)
          streamId += 1
        }
        cluster += 1
      }
      for (_ <- 0 until bgCorpus) {
        out += Doc(corpusId, background(corpusId), -1, -1L, stream = false)
        corpusId += 1
      }
      for (_ <- 0 until bgStream) {
        out += Doc(streamId, background(streamId), -1, -1L, stream = true)
        streamId += 1
      }
      out.result()
    }
  }

  /** The round-16 sf100 probe motivated this ladder: 1000-copy cliques
    * sitting just UNDER the 1024 default kept every bucket alive and made
    * d2's verify mass quadratic (STRESS_sf100_r16.json).
    *
    * Five tiers of (members, clusters) = (20,320) (100,64) (400,16)
    * (1600,4) (6400,1), each the SAME total mass (6,400 docs) so
    * per-tier recall is comparable. Expected band-bucket occupancy ≈
    * 0.8 × members (P(band agrees) ≈ jacc² per 2-row band) = {16, 80,
    * 320, 1280, 5120}, interleaving the rungs {64, 256, 1024, 4096}.
    * 8,000 unique background docs.
    *
    * Per rung: set `spark.graft.bandCap`, time the FULL d2 core
    * (DedupQueries.minhashVerified — band join through Jaccard verify),
    * then record per-tier doc recall (a doc counts as caught when it
    * appears in ≥1 same-cluster verified pair — the removable-duplicate
    * reading), verified same-cluster pairs, false pairs (cross-cluster
    * or background), candidate-pair mass (the quadratic term the cap
    * bounds), dropped buckets, and stage-level peak/spill. */
  private def bandCap(spark: SparkSession, metrics: RunMetrics): JObject = {
    import spark.implicits._
    val tiers = Seq((20, 320), (100, 64), (400, 16), (1600, 4), (6400, 1))
    val caps = Seq(64L, 256L, 1024L, 4096L)
    val docs = spark.createDataFrame(
      Planted.docs(tiers.map { case (m, n) => (m, 0, n) }, 8000, 0, baseFirst = false)
    ).repartition(32).persist()
    val meta = docs.select($"doc_id", $"tier", $"cluster").persist()
    val tierSizes = tiers.map { case (m, n) => m.toLong * n }
    println(s"[bandcap] docs=${docs.count()} planted=${tierSizes.sum}")

    // the shingle table is cap-independent: built once, shared by rungs
    val base = DedupQueries
      .shingleTableOf(docs.select($"doc_id", $"text"))
      .filter(size($"sid") > 0).persist()
    base.count()

    def rung(name: String, cap: Option[Long]): JField = {
      spark.conf.set("spark.graft.bandCap", cap.getOrElse(1000000000L).toString)
      val drops0 = DedupQueries.guardDropCount.get()
      // clearCache, untimed, drops each pass's internal substrates, so
      // every pass (and the untimed jobs below) starts from the same
      // cold cache
      val (secs, snap) = metrics.warmMinOfTwo(
        () => DedupQueries.minhashVerified(base).foreach(_ => ()),
        () => spark.catalog.clearCache())
      // each of the three passes drops the same buckets
      val dropped = (DedupQueries.guardDropCount.get() - drops0) / 3
      val pairs = DedupQueries.minhashVerified(base)
        .join(meta.select($"doc_id".as("doc_a"),
          $"tier".as("tier_a"), $"cluster".as("cluster_a")), "doc_a")
        .join(meta.select($"doc_id".as("doc_b"),
          $"tier".as("tier_b"), $"cluster".as("cluster_b")), "doc_b")
        .persist()
      val good = pairs.filter($"tier_a" >= 0 && $"cluster_a" === $"cluster_b")
        .persist()
      val falsePairs = pairs.count() - good.count()
      val perTier = tiers.indices.map { t =>
        val g = good.filter($"tier_a" === t)
        val caught = g.select(explode(array($"doc_a", $"doc_b")).as("d"))
          .distinct().count()
        (t, caught, g.count())
      }
      // candidate mass — the quadratic term the cap exists to bound
      val cand = DedupQueries.guardedBandPairs(DedupQueries.bandIndex(base),
        Seq("band_idx", "band_hash"), "doc_id").count()
      pairs.unpersist(); good.unpersist()
      spark.catalog.clearCache()
      val goodPairs = perTier.map(_._3).sum
      val rec = perTier.map { case (t, caught, _) =>
        s"t$t=${caught * 1000 / tierSizes(t)}" }.mkString(" ")
      println(f"[bandcap] cap=$name%-8s verify=$secs%7.2f s  goodPairs=$goodPairs%9d  " +
        f"recall‰[$rec]  false=$falsePairs  candPairs=$cand%9d  dropped=$dropped%4d  " +
        f"peakExec=${snap.peakExecMem / 1e6}%.0fMB")
      name -> (("verify_secs" -> Artifact.num(secs)) ~ ("good_pairs" -> goodPairs) ~
        ("false_pairs" -> falsePairs) ~ ("cand_pairs" -> cand) ~
        ("dropped_buckets" -> dropped) ~ JObject(snap.spillFields()) ~
        ("tiers" -> JObject(perTier.map { case (t, caught, g) =>
          s"t$t" -> (("members" -> tiers(t)._1) ~
            ("recall_milli" -> caught * 1000 / tierSizes(t)) ~
            ("caught_docs" -> caught) ~ ("pairs" -> g))
        }.toList)))
    }

    val rungs = caps.map(c => rung(c.toString, Some(c))) :+ rung("uncapped", None)
    ("planted_docs" -> tierSizes.sum) ~ ("bg_docs" -> 8000) ~
      ("tiers" -> tiers.map { case (m, n) => ("members" -> m) ~ ("clusters" -> n) }) ~
      ("caps" -> JObject(rungs.toList))
  }

  /** The streaming admission cap's trade: a cap-straddling GENUINE
    * near-dup bucket goes dead for the stream's life vs the
    * clique-quadratic verify mass the cap bounds.
    *
    * Five tiers with corpus/stream members per cluster of (3/1, 9/3,
    * 30/10, 120/40, 480/160) and cluster counts chosen so each tier
    * carries the SAME corpus mass (~7.7k docs) and stream mass (~2.56k
    * docs); expected per-band corpus occupancy ≈ 0.9 × members = {2.7,
    * 8, 27, 108, 432}, interleaving the rungs {4, 16, 64, 256}. The first
    * corpus member of a cluster is its unmodified base, so every planted
    * stream doc IS a genuine near-dup of corpus content — recall is
    * exact by construction. Background docs (8k corpus / 2k stream)
    * pin the false-dup side.
    *
    * Per rung C: build the hot set at C (corpus occupancy > C, exactly
    * st8c's build-time rule), time the PROBE
    * (StreamingOps.neardupAdmitCapped — the per-batch cost the cap
    * governs; index build is offline), and record recall over planted
    * stream docs, false dups over background, candidate-pair count (the
    * quadratic mass proxy), dead buckets and stage-level peak/spill. */
  private def neardupCap(spark: SparkSession, metrics: RunMetrics): JObject = {
    import spark.implicits._
    val tiers = Seq((3, 1, 2560), (9, 3, 853), (30, 10, 256),
      (120, 40, 64), (480, 160, 16))
    val caps = Seq(4L, 16L, 64L, 256L)
    val docs = spark.createDataFrame(Planted.docs(tiers, 8000, 2000, baseFirst = true))
      .repartition(32).persist()
    val nPlantedStream = docs.filter($"stream" && $"tier" >= 0).count()
    val nBgStream = docs.filter($"stream" && $"tier" < 0).count()
    println(s"[neardupcap] docs=${docs.count()} plantedStream=$nPlantedStream " +
      s"bgStream=$nBgStream")

    // BUILD-time tables (offline at 100 TB): corpus shingles + bands,
    // materialized once, shared by every rung
    val corpus = docs.filter(!$"stream").select($"doc_id", $"text")
    val stream = docs.filter($"stream").select($"doc_id", $"text")
    val sids = DedupQueries.shingleTableOf(corpus).persist()
    val corpusBands = DedupQueries.bandIndex(sids.filter(size($"sid") > 0))
      .persist()
    val bSids = DedupQueries.shingleTableOf(stream).persist()
    sids.count(); corpusBands.count(); bSids.count()

    def rung(name: String, cap: Option[Long]): JField = {
      val hot = cap.map { c =>
        corpusBands.groupBy($"band_idx", $"band_hash")
          .agg(count(lit(1)).as("n")).filter($"n" > c)
          .select($"band_idx", $"band_hash").persist()
      }
      val deadBuckets = hot.map(_.count()).getOrElse(0L)
      val bands = hot.fold(corpusBands)(h =>
        corpusBands.join(h, Seq("band_idx", "band_hash"), "left_anti"))
        .persist()
      bands.count()
      def decide(): DataFrame = hot match {
        case Some(h) => streaming.StreamingOps.neardupAdmitCapped(bSids, sids, bands, h)
        case None    => streaming.StreamingOps.neardupAdmit(bSids, sids, bands)
      }
      val (secs, snap) = metrics.warmMinOfTwo(() => decide().foreach(_ => ()))
      val dec = decide().persist()
      val caught = dec.join(docs.select($"doc_id", $"tier"), "doc_id")
        .filter($"tier" >= 0 && !$"admitted").count()
      val falseDups = dec.join(docs.select($"doc_id", $"tier"), "doc_id")
        .filter($"tier" < 0 && !$"admitted").count()
      // candidate-pair mass: the quantity the cap exists to bound
      val probe0 = DedupQueries.bandIndex(bSids.filter(size($"sid") > 0))
      val probe = hot.fold(probe0)(h =>
        probe0.join(h, Seq("band_idx", "band_hash"), "left_anti"))
      val candPairs = probe.as("n").join(bands.as("o"),
          col("n.band_idx") === col("o.band_idx") &&
            col("n.band_hash") === col("o.band_hash"))
        .select(col("n.doc_id"), col("o.doc_id")).distinct().count()
      dec.unpersist(); bands.unpersist(); hot.foreach(_.unpersist())
      println(f"[neardupcap] cap=$name%-8s probe=$secs%6.2f s  " +
        f"recall=${caught * 1000 / nPlantedStream}%4d/1000  falseDups=$falseDups  " +
        f"candPairs=$candPairs%8d  deadBuckets=$deadBuckets%5d  " +
        f"peakExec=${snap.peakExecMem / 1e6}%.0fMB")
      name -> (("probe_secs" -> Artifact.num(secs)) ~
        ("recall_milli" -> caught * 1000 / nPlantedStream) ~
        ("caught" -> caught) ~ ("false_dups" -> falseDups) ~
        ("cand_pairs" -> candPairs) ~ ("dead_buckets" -> deadBuckets) ~
        JObject(snap.spillFields()))
    }

    val rungs = caps.map(c => rung(c.toString, Some(c))) :+ rung("uncapped", None)
    ("planted_stream_docs" -> nPlantedStream) ~ ("bg_stream_docs" -> nBgStream) ~
      ("tiers" -> tiers.map { case (cm, sm, n) =>
        ("corpus_members" -> cm) ~ ("stream_members" -> sm) ~ ("clusters" -> n) }) ~
      ("caps" -> JObject(rungs.toList))
  }
}
