package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.apache.spark.sql.functions._

/** The three production joins (the build chain's reference gather, r1's
  * name-index join, r2's blocking self-join) are plain equi-joins that
  * leave broadcast and skew handling to AQE. This pins the two things
  * that hand-over rests on: AQE's skew join splits a hot key without
  * changing the rows, and the three keys' results do not depend on the
  * physical layout they ran under. */
class AqeJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val plans = new AdaptiveSparkPlanHelper {}

  /** Runs `body` under `conf`, then restores each key's prior value (or
    * unsets it), whatever `body` does. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collects `df`; returns its rows and the number of joins its final
    * adaptive plan split as skewed. */
  private def runSkewJoins(df: DataFrame): (Seq[Row], Int) = {
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    (rows, plans.collect(plan) { case j: ShuffledJoin if j.isSkewJoin => j }.size)
  }

  /** Collects `df` with broadcast off and the skew thresholds at 1 KiB:
    * asserts its final plan splits exactly one join as skewed, and that
    * its rows equal the same query with `skewJoin.enabled=false`, whose
    * plan splits none. `df` is by-name so each run plans afresh under the
    * conf in force. Returns the rows. */
  private def assertSkewSplit(df: => DataFrame): Seq[Row] =
    withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024") {
      val (split, nSplit) = runSkewJoins(df)
      assert(nSplit === 1, "the hot key was not split")
      val (plain, nPlain) =
        withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
          runSkewJoins(df)
        }
      assert(nPlain === 0)
      assert(split === plain)
      split
    }

  test("er blocking: AQE splits a hot blocking key; rows equal the unsplit join") {
    import spark.implicits._
    // r2's blocking shape: 90% of records share the key "smith"
    val recs = (1 to 600).map { i =>
      val nm = if (i % 10 < 9) "smith" else s"nm${i % 40}"
      (i.toLong, nm, s"c${i % 5}", s"s${i % 7}")
    }.toDF("rid", "k", "city", "street")
    val lhs = recs.select($"k", $"rid".as("ra"), $"city".as("ca"), $"street".as("sa"))
    val rhs = recs.select($"k", $"rid".as("rb"), $"city".as("cb"), $"street".as("sb"))
    val rows = assertSkewSplit(lhs.join(rhs, "k").filter($"ra" < $"rb")
      .agg(count(lit(1)), sum($"ra" * 1000L + $"rb"),
        sum(when($"ca" === $"cb", 1L).otherwise(0L)),
        sum(when($"sa" === $"sb", 1L).otherwise(0L))))
    // 540 hot records pair up C(540, 2) ways, plus the cold blocks
    assert(rows.head.getLong(0) >= 540L * 539 / 2)
  }

  test("gather: AQE splits a hot-keyed probe; rows equal the unsplit join") {
    import spark.implicits._
    // the build chain's gather shape: part→supplier references, 90% on
    // part 7, rewritten through a one-row-per-part members table
    val refs = (1 to 2000).map { i =>
      (if (i % 10 < 9) 7L else (i % 50).toLong, (i * 13 % 997).toLong)
    }.toDF("pk", "sk")
    val members = (0L until 50L).map(pk => (pk, pk / 5)).toDF("pk", "yuid")
    val rows = assertSkewSplit(refs.join(members, "pk")
      .agg(count(lit(1)), sum($"yuid" * 1000L + $"sk")))
    assert(rows.head.getLong(0) === 2000L)
  }

  test("name reconcile: AQE splits a hot name; rows equal the unsplit join") {
    import spark.implicits._
    // r1's index-join shape: parts probed on (name, brand), 90% on one
    // (name, brand) pair, against a one-row-per-(key, itype) canonical
    // index. One hot pair, not two: with shuffle partitions at the core
    // count, two hot partitions would make the median itself hot
    val probe = (1 to 2000).map { i =>
      if (i % 10 < 9) ("almond", "b0", i.toLong)
      else (s"nm${i % 40}", s"b${i % 2}", i.toLong)
    }.toDF("key", "itype", "p_partkey")
    val index = (Seq("almond") ++ (0 until 40).map(j => s"nm$j"))
      .flatMap(nm => Seq("b0", "b1").map(b => (nm, b, s"$nm/$b", nm.length.toLong)))
      .toDF("key", "itype", "canonical", "n_cluster")
    val rows = assertSkewSplit(probe.join(index, Seq("key", "itype"))
      .agg(count(lit(1)), sum($"p_partkey" * $"n_cluster"),
        sum(length($"canonical"))))
    assert(rows.head.getLong(0) === 2000L)
  }

  test("r1, r2, la_build: equal digests under defaults, AQE off, 1 shuffle partition") {
    val keys = Seq("la_build_pipeline", "r1_name_reconcile", "r2_er_pipeline")
    // the perfbench digest: row count plus the order-insensitive sum of
    // a 64-bit hash of every column
    def digest(key: String): String = {
      val df = Queries.queries(key)(spark, TestSpark.sf)
      val cols = df.columns.toIndexedSeq.map(c => col("`" + c.replace("`", "``") + "`"))
      val r = df.agg(count(lit(1)),
        sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
      spark.catalog.clearCache()
      assert(r.getLong(0) > 0L, s"$key is empty at ${TestSpark.sf}")
      s"${r.getLong(0)}:${r.getDecimal(1)}"
    }
    val settings = Seq(
      "defaults" -> Nil,
      "aqe off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "one shuffle partition" -> Seq("spark.sql.shuffle.partitions" -> "1"))
    val cells = settings.map { case (name, conf) =>
      name -> withConf(conf: _*)(keys.map(k => k -> digest(k)).toMap)
    }
    keys.foreach { k =>
      val byLayout = cells.map { case (name, d) => name -> d(k) }
      assert(byLayout.map(_._2).distinct.size === 1, s"$k: $byLayout")
    }
  }
}
