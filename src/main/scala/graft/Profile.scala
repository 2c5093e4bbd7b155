package graft

/** r17 measurement harness (guide §1): per-JOB wall-time breakdown for a
  * query — how many Spark jobs an invocation schedules, what each costs,
  * and where the time concentrates (many sub-100ms jobs = fixed
  * per-round overhead dominating; one fat job = real data work worth a
  * plan look). Bench keys at sf0.1 are seconds-scale, so job COUNT and
  * per-job latency are the first split the optimization round needs
  * before touching any plan.
  *
  * Every column is written to the `noop` sink: count() prunes final
  * projections, so projection-only costs (e.g. the N-Triples escape)
  * would be invisible to it.
  *
  * Usage: sbt "runMain graft.Profile <sfDir> <query> [query...]"
  * Prints, per query: warmed total, job count, sum of job times, the
  * driver gap (wall time no job covers), and the top jobs with their
  * stage/task counts. Measurement-only — never run by the driver,
  * changes no query. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.create("graft-profile", cpus)
    val fns = Queries.queries
    val metrics = RunMetrics.attach(spark)
    def run(name: String): Unit =
      fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      require(fns.contains(name), s"unknown query $name")
      // warmup (JIT + substrates), same lifecycle as Bench
      try run(name) catch { case e: Throwable =>
        println(s"[profile] $name warmup failed: $e"); }
      val (wall, snap) = metrics.measure(RunMetrics.secs(run(name)))
      val jobSum = snap.jobs.map(_.millis).sum / 1e3
      if (!snap.drained)
        println(s"[profile] $name: listener bus did not drain; jobs may be missing")
      println(f"\n== $name%s wall=$wall%.3fs jobs=${snap.jobs.size}%d jobSum=$jobSum%.3fs gap=${wall - snap.jobUnionSecs}%.3fs")
      snap.jobs.sortBy(-_.millis).take(14).foreach { j =>
        println(f"  job ${j.id}%3d ${j.millis / 1e3}%7.3fs stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}%s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
