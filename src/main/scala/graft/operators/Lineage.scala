package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** MATERIALIZED SHARED LINEAGE, engine-wide: the one session-shared
  * scope for frames and artifacts.
  *
  * Several query families share an expensive derived frame as their
  * common prefix — the graph tier's basket/edge lists (q49/q50/q52/
  * q60), the near-dup connected-component labels (dd_cluster →
  * dd_keeplist), and the IVF-bounded kNN edge frame (ss_knn_graph →
  * dd_semantic). Re-deriving that prefix per query is exactly the
  * waste a production pipeline removes by materializing the derived
  * relation once and sharing it across the workload; within one
  * session that is persist(MEMORY_AND_DISK) — spills, never OOMs — and
  * a multi-job deployment writes the same frame as a table (the
  * q68_bucketed_join machinery).
  *
  * Materialization has two scopes. A frame consumed several times by
  * ONE query is a bare `df.localCheckpoint()`: Spark's ContextCleaner
  * frees its blocks once the returned frame is unreachable. A frame
  * or artifact shared ACROSS queries lives here, keyed by (session,
  * dir, key), for the session's life. Nothing else holds frames.
  *
  * Concurrency contract: `getOrElseUpdate` on a TrieMap is NOT atomic
  * for its side effect — two first callers could both persist, one
  * frame then being dropped from the map and leaked in the block
  * manager. Builds are rare (once per (session, dir, key) for the
  * JVM's life) so a plain global lock around the build is the simple
  * correct shape.
  */
object Lineage {

  private val cache = scala.collection.mutable.Map
    .empty[(SparkSession, String, String), Any]

  private def lineageOff: Boolean =
    sys.env.get("SPARK_GRAFT_LINEAGE").contains("off")

  /** Self seconds each key's build took (the BUILD lambda — for
    * [[materialized]] that is plan construction, persist() is lazy, so
    * frame keys register near-zero here and their materialization cost
    * lands on the first consumer; for [[ensure]] and [[memo]] it is the
    * full eager work: store writes, trainer loops). Bench emits this as
    * per-store `store_build_sec`, and a cold-cost investigation reads
    * the same numbers from the `lineage: built …` stderr lines.
    */
  private val buildWall = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, String, String), Double]

  /** Wall seconds of the keys built on this thread inside the build
    * now running. A key records its SELF time (its wall minus these),
    * so a key built inside another's build (a trainer's artifacts
    * inside a store) is counted once, and the recorded seconds sum to
    * the wall of the outermost builds.
    */
  private val nestedSec = new ThreadLocal[Double] {
    override def initialValue(): Double = 0.0
  }

  private def timed[T](k: (SparkSession, String, String))(f: => T): T = {
    val t0 = System.nanoTime()
    val outer = nestedSec.get
    nestedSec.set(0.0)
    var sec = 0.0
    val r = try f finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sec = wall - nestedSec.get
      nestedSec.set(outer + wall)
    }
    buildWall.synchronized { buildWall(k) = sec }
    if (sec > 0.5) System.err.println(
      f"lineage: built ${k._2}#${k._3} in $sec%.2f s")
    r
  }

  /** Recorded build walls for `s` (as `key` → seconds). */
  def buildSeconds(s: SparkSession): Map[String, Double] =
    buildWall.synchronized {
      buildWall.collect { case ((ss, _, k), v) if ss eq s => k -> v }
        .toMap
    }

  /** Sessions with a [[parallel]] build currently in flight — read by
    * [[Fixpoint.withScopedShuffle]] (ADVICE r12): the scoped loop's
    * AQE-off + partition-shrink is session-global, so a small scoped
    * loop overlapping a concurrent heavy build would strip AQE and
    * shrink shuffle partitions under the build's shuffles. While a
    * parallel build is live the scope degrades to a no-op (perf-only
    * either way — partition count never affects row values).
    */
  private val parallelLive =
    scala.collection.mutable.Map.empty[SparkSession, Int]

  /** True while a [[parallel]] build is in flight on `s`. */
  def parallelBuildsActive(s: SparkSession): Boolean =
    parallelLive.synchronized { parallelLive.getOrElse(s, 0) > 0 }

  /** Build several INDEPENDENT keys concurrently (round 12 — the
    * cold-build cost attack): each missing key's build runs on its
    * own thread OUTSIDE the global lock (a build is internally a
    * chain of small sequential Spark jobs; concurrent submission lets
    * the local scheduler interleave them, so wall ≈ max, not sum),
    * then registers under the lock. If a racing caller registered the
    * key first, the duplicate frame is unpersisted and the winner
    * kept — the same last-writer-safe discipline the global-lock
    * comment demands, paid only on a race that the serial harness
    * never produces.
    */
  def parallel(s: SparkSession, dir: String,
      builds: Seq[(String, () => DataFrame)],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Unit =
    if (!lineageOff) {
      val missing = cache.synchronized {
        builds.filterNot { case (k, _) => cache.contains((s, dir, k)) }
      }
      if (missing.size == 1) {
        val (k, b) = missing.head
        materialized(s, dir, k, level)(b())
        ()
      } else if (missing.nonEmpty) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        import scala.util.{Failure, Success, Try}
        // Each build is wrapped in Try so EVERY future settles
        // before Await returns — a bare Future.sequence rethrows
        // on the first failure while sibling builds keep
        // running detached, their persist()-registered frames neither
        // cached nor unpersisted (pinned CacheManager leaks, work
        // silently redone on retry). Survivors are registered (or
        // unpersisted if a racing caller won), THEN the first failure
        // is rethrown. Builds are blocking Spark actions, so they run
        // on a dedicated ad-hoc pool, not the global fork-join EC
        // (which other library code may share and which a blocked
        // Spark action would starve); the pool is torn down on exit.
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(missing.size)
        val ec = ExecutionContext.fromExecutorService(pool)
        parallelLive.synchronized {
          parallelLive(s) = parallelLive.getOrElse(s, 0) + 1
        }
        val settled: Seq[(String, Try[DataFrame])] =
          try Await.result(
            Future.sequence(missing.map { case (k, b) =>
              Future {
                k -> Try(timed((s, dir, k))(b().persist(level)))
              }(ec)
            })(implicitly, ec), Duration.Inf)
          finally {
            ec.shutdown()
            parallelLive.synchronized {
              val d = parallelLive.getOrElse(s, 1) - 1
              if (d <= 0) parallelLive.remove(s) else parallelLive(s) = d
            }
          }
        cache.synchronized {
          settled.foreach {
            case (k, Success(df)) =>
              if (cache.contains((s, dir, k))) df.unpersist()
              else cache.update((s, dir, k), df)
            case (_, Failure(_)) => ()
          }
        }
        settled.collectFirst { case (_, Failure(e)) => e }
          .foreach(throw _)
      }
    }

  /** The value built by `build` on the first call for this (session,
    * dir, key), returned to every later caller — for shared builds
    * whose result is not one persisted frame (a trainer's pair of
    * checkpointed artifact frames).
    */
  def memo[T](s: SparkSession, dir: String, key: String)(build: => T): T =
    // SPARK_GRAFT_LINEAGE=off: run every query on its raw lineage,
    // no block-manager caching. For harnesses that deliberately
    // starve the unified pool (SpillProofSpec's 11 MB JVM): cache
    // write/read buffers there compete with the very operators under
    // test, while production pre-materializes these frames as real
    // tables in separate jobs with their own memory. The off switch
    // reproduces the pre-cache plan shape those gates were written
    // against.
    if (lineageOff) build else buildOnce((s, dir, key))(build)

  private def buildOnce[T](k: (SparkSession, String, String))(
      build: => T): T =
    cache.synchronized {
      cache.getOrElseUpdate(k, timed(k)(build)).asInstanceOf[T]
    }

  /** The frame built by `build`, persisted on first use and shared by
    * every later caller with the same (session, dir, key).
    *
    * `level` defaults to MEMORY_AND_DISK (small derived frames: CC
    * labels, kNN edges, graph baskets). Pass DISK_ONLY for wide
    * corpus-derived tables (the shingle signature table): production
    * materializes those as on-disk tables anyway, and a memory-
    * resident copy would pin the unified pool against the very
    * operators (spill-proven joins) that read it under pressure.
    */
  def materialized(s: SparkSession, dir: String, key: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame): DataFrame =
    // Off: the raw frame, never persisted (see [[memo]]).
    if (lineageOff) build else buildOnce((s, dir, key))(build.persist(level))

  /** Run `once` the first time this (session, dir, key) is seen — the
    * side-effect twin of [[materialized]] for non-frame shared work
    * (fixture writes, bucketed-table layouts). Runs under
    * SPARK_GRAFT_LINEAGE=off too: a store is written once either way.
    */
  def ensure(s: SparkSession, dir: String, key: String)(once: => Unit): Unit =
    buildOnce((s, dir, key))(once)

  /** The keys currently registered for `s` (as `dir#key`). Bench
    * snapshots this around every query run: a key that APPEARS during
    * a run means that run derived — and, as the frame's first
    * consumer, paid for — the shared build (per-query bench rows are
    * order-dependent under shared lineage; the artifact
    * self-identifies the build-paying rows).
    */
  def keys(s: SparkSession): Set[String] = cache.synchronized {
    cache.keysIterator.collect {
      case (ss, d, k) if ss eq s => s"$d#$k"
    }.toSet
  }
}
