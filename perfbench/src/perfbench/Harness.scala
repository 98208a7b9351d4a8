package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.Lineage

/** A constructed op: `plan` is the frame whose physical plan is timed,
  * `exec` runs it to its sink.
  */
final case class Built(plan: Dataset[_], exec: () => Unit)

/** One unit of a workload. `build` is the construct layer; `verify`
  * writes the op's rows under a directory for the oracle check (apps
  * leave their `TextSink` files behind instead).
  */
final case class Op(name: String, build: SparkSession => Built,
    verify: Option[(SparkSession, String) => Unit])

/** Benchmark harness: one workload in this JVM, served by one client in
  * a closed loop (the next op starts when the previous one returns).
  *
  * Usage: Harness --workload W --inputs DIR --out DIR --seed N
  *   --seconds S --trace 0|1 --cores N
  *
  * 1. Set-up, five times: build a `GraftSession` and run a warm-up
  *    job. The first sample counts from JVM start; the others stop the
  *    context and build a new one.
  * 2. Cold pass: every op once in the fresh session, in declared order,
  *    store builds included.
  * 3. `WarmupPasses` untimed warm-up passes, then the measured warm
  *    passes, each in a seeded order, until `seconds` have passed and at
  *    least three (traced: four) measured ones have run. With
  *    `--trace 1` the scheduler and streaming listeners are attached on
  *    odd measured passes only, the plan layer is forced separately on
  *    them, and even ones run as in an untraced run, so their difference
  *    is the tracing overhead.
  *    Retained memory is taken after the third (traced: fourth)
  *    measured pass, outside the timed window.
  * 4. Untimed: bare `Tables` reads (traced runs) and a verify pass that
  *    writes each row's result for the oracle check.
  *
  * The result is one JSON line on stdout, prefixed `PERFBENCH `; spans
  * go to `<out>/spans.json`.
  */
object Harness {
  /** Short star-schema rows (schema resolution, eager construct jobs,
    * planning and scheduling dominate) mixed with corpus rows whose
    * first call builds a store: the streaming dedup store and the
    * pHash front.
    */
  val BuildServe: Seq[String] = Seq(
    "q2_filter_project", "q7_top_order_values", "q18_json_events",
    "q21_supplier_nation", "dd_stream_dedup", "mm_phash_dedup")
  val MapReduceRows: Seq[String] = Seq("wc_wordcount", "sm_string_match")
  val WarmupPasses = 2

  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  def row(name: String, dir: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name,
      s => {
        val df = fn(s, dir)
        Built(df, () => df.write.format("noop").mode("overwrite").save())
      },
      Some((s, path) => fn(s, dir).write.mode("overwrite").parquet(path)))
  }

  def ops(workload: String, in: String, out: String): Seq[Op] =
    workload match {
      case "build-serve" => BuildServe.map(row(_, in))
      case "mapreduce" =>
        val corpus = s"$in/corpus.txt"
        val pattern = graft.text.TextQueries.GrepPattern
        Seq(
          Op("mr_wc_general",
            Apps.wordcountGeneral(_, corpus, s"$out/apps/mr_wc_general"),
            None),
          Op("mr_wc_agg",
            Apps.wordcountAgg(_, corpus, s"$out/apps/mr_wc_agg"), None),
          Op("mr_grep",
            Apps.grep(_, corpus, pattern, s"$out/apps/mr_grep"), None),
        ) ++ MapReduceRows.map(row(_, in))
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }

  final class Run(val spark: SparkSession, seed: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var nextId = 0L
    val jobs = new JobTrace
    private val sc = spark.sparkContext

    def span[T](name: String, op: String, pass: Int, parent: Long)(
        f: Long => T): T = {
      nextId += 1
      val id = nextId
      sc.setLocalProperty(Tags.Phase, name)
      sc.setLocalProperty(Tags.Span, id.toString)
      val t0 = nowMs
      try f(id)
      finally spans += Span(id, parent, name, op, pass, t0, nowMs)
    }

    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(jobs)
        StreamTrace.on = true
      } else {
        ListenerDrain(sc)
        sc.removeSparkListener(jobs)
        StreamTrace.on = false
      }

    /** Serves every op once: the cold pass (0) in declared order, so
      * that the same op pays the JVM's first-use costs in every run;
      * warm passes in an order drawn from the seed.
      */
    def pass(p: Int, all: Seq[Op], traced: Boolean): Map[String, Any] = {
      if (traced) attach(true)
      val order =
        if (p == 0) all
        else new scala.util.Random(seed * 1000003L + p).shuffle(all)
      sc.setLocalProperty(Tags.Pass, p.toString)
      val gc0 = gcMs
      val jit0 = jitMs
      val results = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passSpan = span("pass", "", p, 0L) { pid =>
        for (op <- order) {
          sc.setLocalProperty(Tags.Op, op.name)
          var layers = Map.empty[String, Double]
          var error: Option[String] = None
          def timed(layer: String, parent: Long)(f: => Unit): Unit = {
            val t0 = System.nanoTime()
            span(layer, op.name, p, parent)(_ => f)
            layers += (s"${layer}_s" -> (System.nanoTime() - t0) / 1e9)
          }
          val t0 = System.nanoTime()
          span("op", op.name, p, pid) { oid =>
            try {
              var built: Built = null
              timed("construct", oid) { built = op.build(spark) }
              if (traced)
                timed("plan", oid)(built.plan.queryExecution.executedPlan)
              timed("exec", oid)(built.exec())
            } catch {
              case NonFatal(e) =>
                error = Some(s"${e.getClass.getName}: ${e.getMessage}"
                  .take(300))
                System.err.println(s"perfbench: ${op.name} failed: $e")
            }
          }
          results += (Map[String, Any]("name" -> op.name,
            "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "error" -> error.orNull) ++ layers)
        }
        pid
      }
      val wall = spans.find(_.id == passSpan).map(s => s.endMs - s.startMs)
        .get / 1e3
      if (traced) attach(false)
      val storage = sc.getRDDStorageInfo
      Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "ops" -> results.toSeq,
        "gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0),
        "storage_b" -> storage.map(i => i.memSize + i.diskSize).sum,
        "persisted_rdds" -> storage.length,
        "stream" -> (if (traced) StreamTrace.snapshot else Map.empty))
    }
  }

  /** Time spent so far in every collector, and compiling in the JIT. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val in = a("inputs")
    val out = a("out")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores")
    val conf = Map(
      "spark.local.dir" -> s"$out/spark-local",
      "spark.sql.warehouse.dir" -> s"$out/warehouse") ++
      (if (!trace) Map.empty else Map(
        "spark.sql.streaming.streamingQueryListeners" ->
          classOf[StreamTraceListener].getName))

    // Set-up: session plus a warm-up job, five times.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      if (spark != null) spark.stop()
      val t0 = nowMs
      spark = GraftSession.local(cores, cores, conf)
      sessionS += (nowMs - t0) / 1e3
      spark.range(0, 200000, 1, cores.toInt).selectExpr("id % 997 AS k")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      setupS += (nowMs - (if (i == 0) jvmStartMs else t0)) / 1e3
    }
    val run = new Run(spark, seed)
    val all = ops(workload, in, out)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    passes += run.pass(0, all, trace) + ("sample" -> false)
    val coldKeys = Lineage.keys(spark)
    val coldBuilds = Lineage.buildSeconds(spark)
    // Untimed warm-up passes: the JIT compiles most of what the warm
    // passes run during the first few of them, and a pass it compiles
    // in runs slower by an amount that varies from run to run.
    for (p <- 1 to WarmupPasses)
      passes += run.pass(p, all, traced = false) + ("sample" -> false)
    val minPasses = WarmupPasses + (if (trace) 4 else 3)
    var warm0 = System.nanoTime()
    var retained = Map.empty[String, Long]
    var p = WarmupPasses + 1
    while (p <= minPasses || (System.nanoTime() - warm0) / 1e9 < seconds) {
      passes += run.pass(p, all, trace && (p - WarmupPasses) % 2 == 1) +
        ("sample" -> true)
      // Memory a long-lived JVM keeps, taken after the same number of
      // passes in every run (untimed): heap in use after a full GC plus
      // the persisted blocks spilled to disk.
      if (p == minPasses) {
        val t0 = System.nanoTime()
        retained = Map("heap_retained_b" -> settledHeap(),
          "disk_retained_b" ->
            spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum)
        warm0 += System.nanoTime() - t0
      }
      p += 1
    }
    val warmKeys = Lineage.keys(spark) -- coldKeys

    // Untimed: bare Tables reads, one job-counted call per table.
    val tables = if (!trace) Map.empty[String, Any] else {
      run.attach(true)
      val sc = spark.sparkContext
      sc.setLocalProperty(Tags.Pass, "-2")
      val present = Tables.names.filter(t =>
        new File(s"$in/$t.parquet").exists)
      val t0 = System.nanoTime()
      for (t <- present) {
        sc.setLocalProperty(Tags.Op, t)
        run.span("tables", t, -2, 0L)(_ => Tables(spark, in, t))
      }
      val readS = (System.nanoTime() - t0) / 1e9
      run.attach(false)
      val readJobs = run.jobs.synchronized {
        run.jobs.counts.collect { case ((-2, _, _), c) => c.jobs }.sum
      }
      Map("read_s" -> readS, "read_jobs" -> readJobs)
    }

    val storage = spark.sparkContext.getRDDStorageInfo

    // Untimed verify pass.
    spark.sparkContext.setLocalProperty(Tags.Pass, null)
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    for (op <- all; v <- op.verify) {
      try v(spark, s"$out/rows/${op.name}")
      catch {
        case NonFatal(e) =>
          verifyErrors(op.name) = s"${e.getClass.getName}: ${e.getMessage}"
            .take(300)
      }
    }
    val oracles = all.flatMap(op =>
      SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores.toInt,
      "trace" -> trace,
      "setup_s" -> setupS.toSeq, "session_start_s" -> sessionS.toSeq,
      "passes" -> passes.toSeq,
      "lineage_build_s" -> coldBuilds,
      "lineage_warm_builds" -> warmKeys.size,
      "retained" -> retained,
      "storage_b" -> storage.map(i => i.memSize + i.diskSize).sum,
      "persisted_rdds" -> storage.length,
      "tables" -> tables,
      "counts" -> run.jobs.synchronized(run.jobs.counts.toSeq).map {
        case ((pass, op, ph), c) =>
          (Seq[(String, Any)]("pass" -> pass, "op" -> op, "phase" -> ph) ++
            c.fields).toMap
      },
      "verify_errors" -> verifyErrors.toMap,
      "oracles" -> oracles)

    val spans = (run.spans ++ run.jobs.jobSpans).map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val w = new PrintWriter(s"$out/spans.json")
    try w.write(Json(spans.toSeq)) finally w.close()

    spark.stop()
    removeGateStores()
    println("PERFBENCH " + Json(result))
  }

  /** Heap in use after a full GC, once it stops shrinking. Spark's
    * cleaner thread frees broadcast and shuffle blocks only after a GC
    * has found them unreachable, so one GC alone reads high by a varying
    * amount; collect until two readings agree within 1 MB.
    */
  private def settledHeap(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) > (1 << 20) && rounds < 12) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** The engine keys its on-disk gate stores under /tmp by JVM pid;
    * remove this JVM's so a run leaves nothing behind.
    */
  private def removeGateStores(): Unit = {
    val tag = s"_${ProcessHandle.current().pid()}_"
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Option(new File("/tmp").listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft_") && f.getName.contains(tag)) rm(f)
    })
  }
}

/** Minimal JSON writer for the harness's result (maps, sequences,
  * strings, numbers, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
