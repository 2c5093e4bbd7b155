package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The sweep harness: the `SPARK_GRAFT_CONF` parse every measurement
  * main builds its session from, and StressSweep's key loop end to end
  * on two cheap keys. */
class SweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("SPARK_GRAFT_CONF splits on ';' and each entry on its first '='") {
    assert(Sessions.parseConf(" spark.memory.fraction=0.15 ;; a.b=x=y;") ==
      Seq("spark.memory.fraction" -> "0.15", "a.b" -> "x=y"))
  }

  test("a SPARK_GRAFT_CONF entry without a key fails loudly") {
    Seq("spark.memory.fraction=0.15;spark.graft.bandCap", "=0.15").foreach { s =>
      val e = intercept[IllegalArgumentException](Sessions.parseConf(s))
      assert(e.getMessage.contains("not k=v"))
    }
  }

  test("contract-quadratic pair-listers run last") {
    val order = StressSweep.runOrder(Queries.all).map(_.name)
    assert(order.takeRight(6).toSet == Set("j17_fuzzy_join", "d4_ngram_jaccard",
      "d19_lsh_recall_eval", "d13_winnow_dedup", "st8_stream_neardup",
      "m1v_image_neardup"))
    assert(order.size == Queries.all.size)
  }

  test("StressSweep rewrites a parseable artifact after every key") {
    val out = Files.createTempFile("stress-sweep", ".json")
    try {
      Files.delete(out)
      val Seq(first, second) = Seq("q1_agg", "q4_region_rollup")
        .map(n => Queries.all.find(_.name == n).get)
      // the second key reads the artifact as it stands before it runs
      var beforeSecond: Option[JValue] = None
      val probed = second.copy(fn = (s, d) => {
        beforeSecond = Some(JsonMethods.parse(Files.readString(out)))
        second.fn(s, d)
      })
      val results = StressSweep.sweep(spark, TestSpark.sf, Seq(first, probed),
        timeoutSecs = 120, outJson = Some(out.toString), baseline = Map.empty)
      assert(results.map(_._2.status) == Seq("ok", "ok"))

      val early = beforeSecond.getOrElse(fail("second key never ran"))
      assert((early \ "queries").asInstanceOf[JObject].obj.map(_._1) == List("q1_agg"))

      val doc = JsonMethods.parse(Files.readString(out))
      assert((doc \ "env_conf") == Artifact.envConf)
      assert((doc \ "n_queries") == JInt(2))
      val queries = (doc \ "queries").asInstanceOf[JObject].obj
      assert(queries.map(_._1) == List("q1_agg", "q4_region_rollup"))
      queries.foreach { case (name, q) =>
        assert((q \ "status") == JString("ok"), name)
        assert((q \ "secs").isInstanceOf[JDouble], name)
        Seq("mem_spilled_bytes", "disk_spilled_bytes", "spill_stages",
          "peak_exec_mem_bytes").foreach { f =>
          assert((q \ f).isInstanceOf[JInt], s"$name.$f")
        }
        assert((q \ "metrics_tainted") == JNothing, name)
      }
      // the listener saw the keys' stages: aggregations reserve execution memory
      assert(queries.exists { case (_, q) =>
        (q \ "peak_exec_mem_bytes").asInstanceOf[JInt].num > 0 })
    } finally Files.deleteIfExists(out)
  }
  test("a listener drain that times out taints the key's metrics, not the sweep") {
    val keys = Seq("q1_agg", "q4_region_rollup").map(n => Queries.all.find(_.name == n).get)
    // holds the listener bus at its first job end until released, so
    // every drain of the sweep outlasts its bound
    val release = new CountDownLatch(1)
    val stall = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        release.await(60, TimeUnit.SECONDS); ()
      }
    }
    val out = Files.createTempFile("stress-sweep", ".json")
    spark.sparkContext.addSparkListener(stall)
    try {
      val results = StressSweep.sweep(spark, TestSpark.sf, keys,
        timeoutSecs = 120, outJson = Some(out.toString), baseline = Map.empty,
        drainTimeoutMillis = 50)
      assert(results.map(_._2.status) == Seq("ok", "ok"))
      assert(results.forall { case (_, r) => r.metricsTainted && !r.metrics.drained })
      val queries = (JsonMethods.parse(Files.readString(out)) \ "queries")
        .asInstanceOf[JObject].obj
      assert(queries.map(_._1) == List("q1_agg", "q4_region_rollup"))
      queries.foreach { case (name, q) =>
        assert((q \ "metrics_tainted") == JBool(true), name)
      }
    } finally {
      // release first: removing a queue's last listener joins its
      // dispatch thread, which must not be parked in the stall
      release.countDown()
      spark.sparkContext.removeSparkListener(stall)
      Files.deleteIfExists(out)
    }
  }
}
