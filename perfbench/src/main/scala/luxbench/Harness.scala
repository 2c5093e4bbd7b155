package luxbench

import graft.{LuxQueries, Queries, Sessions}
import graft.plans.LuxQL
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One closed-loop workload in its own JVM, driven by one client thread.
  *
  * Usage: Harness <workload> <corpusDir> <outDir> <seconds> <trace> <cpus>
  *
  * Set-up runs every query of the workload once with its output written
  * to `<outDir>/<query>` (for the DuckDB oracle check) and its digest
  * kept, then a fixed number of warm passes. Timed passes then run until
  * `seconds` have elapsed: each op materializes every output column
  * through the `noop` sink, and its digest must equal the set-up digest.
  * With `trace` = 1, passes run in blocks of four, traced, untraced,
  * untraced, traced, so the tracing overhead is measured in the same
  * process and warm-up drift across passes weighs on both modes alike.
  *
  * Prints one JSON object as the last stdout line.
  */
object Harness {

  /** The registered LuxQL search strings (text or JSON form), parsed
    * directly to time the LuxQL front end. */
  val SearchStrings: Seq[Either[String, String]] = Seq(
    Left(LuxQueries.q1), Left(LuxQueries.q2), Left(LuxQueries.q3),
    Left(LuxQueries.q4), Right(LuxQueries.q6Json), Left(LuxQueries.q7),
    Left(LuxQueries.q8), Left(LuxQueries.q9), Right(LuxQueries.q10StemJson),
    Left(LuxQueries.q12Phrase), Right(LuxQueries.q13StemPhraseJson))

  /** Queries of a workload, whether the cache is cleared after each op
    * (outside the timed region), and how many warm passes follow the
    * reference pass. `train` runs each query once, to record the JVM's
    * class-data-sharing archive. */
  final case class Workload(queries: Seq[String], clearBetweenOps: Boolean,
      warmPasses: Int)

  def workload(name: String): Workload = name match {
    case "build" => Workload(Seq("la_build_pipeline"), clearBetweenOps = true, 1)
    case "daily" => Workload(Seq("la_daily_run"), clearBetweenOps = false, 3)
    case "train" => Workload(Seq("la_build_pipeline", "la_daily_run"),
      clearBetweenOps = true, 0)
    case other => sys.error(s"unknown workload $other")
  }

  final case class Op(query: String, seconds: Double, ok: Boolean,
      traced: Boolean, cachedMb: Double, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(wname, corpus, outDir, seconds, traceArg, cpus) = args
    val trace = traceArg == "1"
    val w = workload(wname)
    val sessionStart = System.nanoTime()
    val spark = Sessions.create(s"luxbench-$wname", cpus)
    val fns = Queries.queries

    def cachedMb(): Double = Trace.cachedBytes(spark.sparkContext) / Trace.MB

    def clearCache(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Run one op: construct the query, then materialize every column
      * through `sink` with an order-independent digest observed on the
      * same action. Returns (total s, construct s, digest). */
    def runOp(q: String, sink: DataFrame => Unit): (Double, Double, String) = {
      val t0 = System.nanoTime()
      val df = fns(q)(spark, corpus)
      val t1 = System.nanoTime()
      val obs = Observation("digest")
      val cols = df.columns.toIndexedSeq.map(c => col("`" + c.replace("`", "``") + "`"))
      sink(df.observe(obs, count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h")))
      val t2 = System.nanoTime()
      val m = obs.get
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9, s"${m("n")}:${m("h")}")
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // ── set-up: one reference pass, then warm passes
    val digests = w.queries.map { q =>
      val (_, _, d) = runOp(q, _.write.mode("overwrite").parquet(s"$outDir/$q"))
      if (w.clearBetweenOps) clearCache()
      q -> d
    }.toMap
    val warm = (1 to w.warmPasses).map { _ =>
      w.queries.map { q =>
        val (s, _, d) = runOp(q, noop)
        require(d == digests(q), s"$q: warm-up digest $d differs from ${digests(q)}")
        if (w.clearBetweenOps) clearCache()
        s
      }.sum
    }
    val setupS = (System.nanoTime() - sessionStart) / 1e9

    // ── timed passes
    val tracer = new Trace(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    var ops = Vector.empty[Op]
    val loopStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (elapsed < seconds.toDouble || (trace && (pass == 0 || pass % 4 != 0))) {
      val traced = trace && (pass % 4 == 0 || pass % 4 == 3)
      if (traced) tracer.attach()
      for (q <- w.queries) {
        if (traced) tracer.begin()
        val gc0 = gcMs
        val (s, c, d) = try runOp(q, noop) catch { case e: Exception =>
          System.err.println(s"[luxbench] $q failed: $e"); (0.0, 0.0, "") }
        if (d.nonEmpty && d != digests(q))
          System.err.println(s"[luxbench] $q digest $d differs from ${digests(q)}")
        val layers = if (!traced) Map.empty[String, Double] else
          tracer.end(s, cpus.toInt) ++ Map(
            "spark.gc_s" -> (gcMs - gc0) / 1e3,
            "op.construct_s" -> c,
            "op.materialize_s" -> (s - c))
        ops :+= Op(q, s, d == digests(q), traced, cachedMb(), layers)
        if (w.clearBetweenOps) clearCache()
      }
      if (traced) tracer.detach()
      pass += 1
    }

    val parseUs = if (trace) parseMicros() else Double.NaN
    println(json(w, setupS, warm, digests, ops, parseUs))
    spark.stop()
  }

  /** Median over the search strings of the mean LuxQL parse time, in µs. */
  def parseMicros(): Double = {
    def parse(s: Either[String, String]) = s.fold(LuxQL.parse, LuxQL.parseJson)
    val per = SearchStrings.map { s =>
      (1 to 2000).foreach(_ => parse(s))
      val n = 5000
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => parse(s))
      (System.nanoTime() - t0) / 1e3 / n
    }.sorted
    per(per.size / 2)
  }

  private def json(w: Workload, setup: Double, warm: Seq[Double],
      digests: Map[String, String], ops: Seq[Op], parseUs: Double): String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj[V](m: Iterable[(String, V)])(f: V => String) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${f(v)}" }.mkString("{", ",", "}")
    val opsJ = ops.map { o =>
      s"""{"query":${str(o.query)},"s":${num(o.seconds)},"ok":${o.ok},""" +
        s""""traced":${o.traced},"cached_mb":${num(o.cachedMb)},"layers":${obj(o.layers)(num)}}"""
    }.mkString("[", ",", "]")
    val oracle = w.queries.flatMap(q => Queries.oracleSql.get(q).map(q -> _))
    s"""{"queries":${w.queries.map(str).mkString("[", ",", "]")},"setup_s":${num(setup)},""" +
      s""""warm_s":${warm.map(num).mkString("[", ",", "]")},"digests":${obj(digests)(str)},""" +
      s""""oracle":${obj(oracle)(str)},"ops":$opsJ,"parse_us":${num(parseUs)}}"""
  }
}
