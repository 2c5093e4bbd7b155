package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level inventory of the engine's own knobs: every
  * `"spark.graft.*"` conf key and every `SPARK_GRAFT_*` env name read
  * under src/main must be listed here with the trade-off it gates, and
  * every listed name must still be read. A new knob therefore arrives
  * with its reason, and a deleted one takes its entry with it. Comment
  * and scaladoc lines do not count as reads ([[MainSources]]).
  */
class KnobInventoryLintSpec extends AnyFunSuite {

  private val confKeys = Map(
    "bandCap" ->
      ("d2's hot-band guard: recall on super-cap cliques vs quadratic " +
        "verify mass (STRESS_bandcap_r16.json, STRESS_sf100_r16_cap256.json)"),
    "substrateStorageLevel" ->
      ("cache level of corpus-shaped substrates: memory vs spill under " +
        "pressure (STRESS_spill_r14*.json)"),
    "substrateTargetPartitionBytes" ->
      ("bytes per partition of byte-scaled frozen substrates: one bounded " +
        "straggler vs task count (Substrate.scaledPartitions)"))

  private val envNames = Map(
    "CPUS" -> "local[N] core count of every main",
    "SF_DIR" -> "corpus directory Bench reads (sf0.1 default, StressGen output)",
    "CONF" -> ("session conf for a main that does not parametrize it " +
      "(the spill regime, a bandCap rung)"),
    "BENCH_ONLY" -> "Bench on a subset of its keys for single-query timing",
    "BENCH_SIDECAR" -> "path of Bench's provenance sidecar",
    "SWEEP_ONLY" -> "StressSweep on a subset of the registry")

  /** name -> where it is read, for every match of `pat`'s group 1. */
  private def readNames(pat: String): Map[String, Seq[String]] = {
    val re = pat.r
    MainSources.codeLines.flatMap { case (f, i, line) =>
      re.findAllMatchIn(line).map(m => m.group(1) -> s"$f:$i")
    }.groupBy(_._1).map { case (n, hits) => n -> hits.map(_._2) }
  }

  private def check(kind: String, listed: Map[String, String],
      read: Map[String, Seq[String]]): Unit = {
    val unlisted = read.keySet -- listed.keySet
    assert(unlisted.isEmpty,
      s"\n$kind read but not in the inventory (add it with the trade-off " +
        "it gates, or drop it):\n" + unlisted.toSeq.sorted.map(n =>
          s"  $n at ${read(n).mkString(", ")}").mkString("\n"))
    val stale = listed.keySet -- read.keySet
    assert(stale.isEmpty, s"$kind listed but no longer read: $stale")
  }

  test("every spark.graft.* key read is listed, every listed key read") {
    check("spark.graft.* keys", confKeys,
      readNames("\"spark\\.graft\\.([A-Za-z0-9_.]*)"))
  }

  test("every SPARK_GRAFT_* env name read is listed, every listed name read") {
    check("SPARK_GRAFT_* env names", envNames, readNames("SPARK_GRAFT_([A-Z0-9_]*)"))
  }
}
