package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Lineage.parallel]] (the concurrent trainer builds), the bounded
  * block-manager footprint of repeated serving, and
  * [[graft.functions.VecSumAgg]] (the one-shuffle Lloyd update):
  * registration semantics and exactness the oracle rows consume
  * indirectly.
  */
class LineageParallelSpec extends SparkSpec {
  import spark.implicits._

  test("parallel builds register under the shared cache: both keys " +
    "served from the same frames afterwards, builds run once") {
    val dir = "/tmp/lineage_par_spec"
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def mk(v: Int) = () => {
      built.incrementAndGet()
      Seq(v).toDF("x")
    }
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(1), "lp_b" -> mk(2)))
    assert(built.get() === 2)
    // Second call: both keys present — no rebuild.
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(10), "lp_b" -> mk(20)))
    assert(built.get() === 2)
    // materialized() serves the SAME registered frame.
    val a = Lineage.materialized(spark, dir, "lp_a")(
      sys.error("must not rebuild"))
    assert(a.collect().map(_.getInt(0)).toSeq === Seq(1))
    // One missing key degrades to the serial materialized path.
    Lineage.parallel(spark, dir, Seq(
      "lp_a" -> mk(99), "lp_c" -> mk(3)))
    assert(built.get() === 3)
    assert(Lineage.keys(spark).contains(s"$dir#lp_c"))
  }

  test("serving the same queries again does not grow the persisted " +
    "RDD count once the ContextCleaner has run") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Seconds, Span}
    val q = graft.SparkEntry.queries
    def persistedAfterGc(): Int = {
      System.gc()
      spark.sparkContext.getPersistentRDDs.size
    }
    // The ContextCleaner frees unreachable checkpoints asynchronously:
    // a count it has caught up with is one two readings agree on.
    def settled(): Int = {
      var last = -1
      eventually(timeout(Span(10, Seconds)), interval(Span(200, Millis))) {
        val (prev, n) = (last, persistedAfterGc())
        last = n
        assert(n == prev)
        n
      }
    }
    def serve(): Unit =
      Seq("mm_phash_dedup", "ta_bpe_pack").foreach(q(_)(spark, sf).collect())
    serve()
    val afterFirst = settled()
    (2 to 5).foreach(_ => serve())
    eventually(timeout(Span(10, Seconds)), interval(Span(200, Millis))) {
      val n = persistedAfterGc()
      assert(n <= afterFirst,
        s"persisted RDDs grew from $afterFirst after serve 1 to $n")
    }
    assert(Lineage.keys(spark).contains(s"$sf#ta_bpe_artifacts"))
  }

  test("a key built inside another key's build is timed once: the " +
    "outer key records its self seconds") {
    val dir = "/tmp/lineage_self_time_spec"
    Lineage.memo(spark, dir, "st_outer") {
      Lineage.memo(spark, dir, "st_inner")(Thread.sleep(400))
      Thread.sleep(100)
    }
    val sec = Lineage.buildSeconds(spark)
    assert(sec("st_inner") >= 0.4)
    assert(sec("st_outer") >= 0.1 && sec("st_outer") < 0.3, sec)
  }

  test("SPARK_GRAFT_LINEAGE=off: materialized returns the raw frame " +
    "and leaves the cache manager empty") {
    val java = s"${sys.props("java.home")}/bin/java"
    val addOpens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split(" ").filter(_.nonEmpty).toSeq
    val cmd = Seq(java) ++ addOpens ++ Seq("-Xmx512m",
      "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path"),
      "graft.operators.LineageOffProbe")
    val out = scala.sys.process.Process(cmd, None,
      "SPARK_GRAFT_LINEAGE" -> "off").!! // throws on nonzero exit
    assert(out.linesIterator.contains(
      """{"rows":3,"cached":false,"keys":0}"""), out)
  }

  test("VecSumAgg: element-wise exact long sums with partial " +
    "aggregation; equals the posexplode/groupBy shape it replaced") {
    val df = Seq(
      (1L, Seq(1L, -2L, 3L)),
      (1L, Seq(10L, 20L, -30L)),
      (2L, Seq(5L, 5L, 5L))).toDF("k", "v")
    val got = df.groupBy("k")
      .agg(graft.functions.VecSumAgg.vecSumAgg(col("v"), 3).as("s"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(got.toSeq === Seq(
      (1L, Seq(11L, 18L, -27L)), (2L, Seq(5L, 5L, 5L))))
    // The plan is a partial aggregation (two HashAggregate phases),
    // not a sort-based window.
    val plan = df.groupBy("k")
      .agg(graft.functions.VecSumAgg.vecSumAgg(col("v"), 3).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_vecsum_agg"))
    assert(!plan.contains("Window"))
  }
}

/** Forked-JVM main behind the off-switch test: the switch is read from
  * the environment, so it needs a JVM of its own.
  */
object LineageOffProbe {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local("1", "1")
    val dir = "/tmp/lineage_off_probe"
    val a = Lineage.materialized(s, dir, "lo_mem")(s.range(3).toDF())
    val b = Lineage.materialized(s, dir, "lo_disk",
      org.apache.spark.storage.StorageLevel.DISK_ONLY)(s.range(3).toDF())
    val rows = a.count() max b.count()
    val cached = !s.sharedState.cacheManager.isEmpty
    println(s"""{"rows":$rows,"cached":$cached,""" +
      s""""keys":${Lineage.keys(s).size}}""")
    s.stop()
  }
}
