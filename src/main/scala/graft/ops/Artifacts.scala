package graft.ops

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Lifecycle for the engine's session-lived state: the memoized /tmp
  * parquet artifacts (graph edges, basket pair core,
  * bucketed/partitioned layouts, dedup indexes, file-source fixtures),
  * the pinned in-memory frames, and the caches a build or a finish
  * helper persists on the way.
  *
  * The contract every artifact memo follows:
  *
  *   - '''Keyed per (SparkSession, input dir), scoped per JVM.''' The
  *     memo maps live in this JVM only; no cross-JVM artifact reuse
  *     ever existed. Artifacts are built once per key and then only
  *     READ — the cheap-plan side of the lakehouse ingest/query split.
  *   - '''One owner per cache.''' A [[pinned]] frame is built once, in
  *     a [[scoped]] block, and held by an eager `localCheckpoint`; its
  *     memo's [[release]] hook frees the checkpoint on [[invalidate]].
  *     Every frame a build (or any other scoped work) caches on the
  *     way goes through [[persist]]: the innermost scope owns it and
  *     `Dataset.unpersist`es it when the block ends, normally or by a
  *     throw, which drops its blocks and its SQL-cache entry together.
  *     Nothing else is touched — no context-wide snapshot of the
  *     persistent RDDs is diffed.
  *   - '''Paths are collision-proof.''' [[tag]] appends the unsigned
  *     hex hash of the FULL dir string to the human-readable sanitized
  *     form: two distinct dirs that sanitize identically (e.g.
  *     `/data/sf0.1` vs `/data/sf0_1`) can never share a path, so a
  *     second build cannot silently overwrite the first's files while
  *     the first's memo keeps reading them. The JVM pid is appended so
  *     two JVMs on one dir cannot clobber each other mid-query.
  *   - '''Immutable inputs assumed.''' An artifact snapshots the dir's
  *     parquet at build time. If the underlying data changes
  *     mid-session (a re-ingest into the same path), memoized queries
  *     keep reading the stale artifact — callers with mutable dirs
  *     must call [[invalidate]] after the change; the next access
  *     rebuilds from the live data. (The driver's test dirs are
  *     immutable, so the gates never need this.)
  *   - '''Cleaned up at JVM exit.''' Every built artifact directory is
  *     registered via [[cleanupOnExit]] (or made by [[path]], which
  *     also registers its family root); a shutdown hook [[reap]]s them
  *     so repeated sessions do not accrete dead pid-tagged trees or
  *     empty family roots under /tmp.
  */
object Artifacts {

  private val pid = ProcessHandle.current().pid().toString

  /** Collision-proof, human-readable directory tag: sanitized dir name
    * (readability in /tmp listings) + unsigned hex of the full string's
    * hash (collision proofing — sanitization is lossy) + JVM pid
    * (cross-JVM isolation).
    */
  def tag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_h" + java.lang.Integer.toHexString(dir.hashCode) +
      "_p" + pid

  /** A session-unique tag, distinct across every SparkSession this JVM
    * ever creates (monotone counter, not a hash — identity hashes can
    * collide). Memos whose VALUE is a named catalog table or a shared
    * mutable path include this in the name so a second session over the
    * same dir builds its OWN artifact instead of `mode(overwrite)`-
    * dropping the one the first session may be reading mid-query.
    * Weak-keyed so a stopped session (and everything it pins) stays
    * collectable in a session-churning JVM — the tag only needs to be
    * stable while the session is alive, which weak identity keys give.
    */
  def sessionTag(s: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(s)
    if (id == null) { id = sessionSeq.incrementAndGet(); sessionIds.put(s, id) }
    "s" + id
  }

  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong()

  // every artifact memo in the engine registers here (with its release
  // hook) so invalidate() can drop a dir's keys across all families —
  // and free what they hold — in one call
  private final case class Registered(
      map: ConcurrentHashMap[(SparkSession, String), _],
      release: ((SparkSession, String), Any) => Unit)
  private val memos = new CopyOnWriteArrayList[Registered]()

  /** A registered artifact memo: identical to a plain ConcurrentHashMap
    * except [[invalidate]] can see it. Memos whose values hold live
    * resources (persisted/localCheckpoint'd DataFrames, catalog tables)
    * pass a `release` hook: [[invalidate]] calls `release(key, value)`
    * on every entry it evicts — unpersist the frame, DROP the table —
    * so a mid-session invalidation does not leak cached storage blocks
    * for the rest of the session.
    */
  def memo[V](release: ((SparkSession, String), V) => Unit =
        (_: (SparkSession, String), _: V) => ())
      : ConcurrentHashMap[(SparkSession, String), V] = {
    val m = new ConcurrentHashMap[(SparkSession, String), V]()
    memos.add(Registered(m,
      release.asInstanceOf[((SparkSession, String), Any) => Unit]))
    m
  }

  /** Free the storage a memoized frame holds: the blocks of the RDD a
    * `localCheckpoint` pinned under the frame's `LogicalRDD`, which
    * `Dataset.unpersist` does not touch, and any SQL-cache entry.
    */
  def release(df: DataFrame): Unit = {
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
    df.unpersist(false): Unit
  }

  /** A frame built by `build(s, dir)` once per (session, dir) and pinned
    * by an eager `localCheckpoint`. The build and the checkpoint run in
    * one [[scoped]] block, so every cache the build [[persist]]s on the
    * way (`RangeRank.ranked`'s range layout, a twice-read input) is
    * released as soon as the checkpoint holds the result; [[invalidate]]
    * frees the checkpoint itself through [[release]].
    */
  def pinned(build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = {
    val frames = memo[DataFrame]((_, df) => release(df))
    (s, dir) => frames.computeIfAbsent((s, dir), _ =>
      scoped(build(s, dir).localCheckpoint(true)))
  }

  // the frames each open scope on this thread owns, innermost scope
  // first; within a scope newest first, so dependents are released first
  private val scopes =
    ThreadLocal.withInitial[List[List[DataFrame]]](() => Nil)

  /** Run `body`, then `Dataset.unpersist` exactly the frames it
    * [[persist]]ed — not those of a nested scope, which releases its
    * own — also when `body` throws.
    */
  def scoped[T](body: => T): T = {
    scopes.set(Nil :: scopes.get)
    try body
    finally {
      val owned = scopes.get.head
      scopes.set(scopes.get.tail)
      owned.foreach(_.unpersist(false))
    }
  }

  /** `df.persist(MEMORY_AND_DISK)`, owned by the innermost open
    * [[scoped]] block on this thread. A frame whose plan is already
    * cached stays with whoever cached it first, and outside any scope
    * this is a plain persist.
    */
  def persist(df: DataFrame): DataFrame = {
    val fresh = df.storageLevel == StorageLevel.NONE
    df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get match {
      case owned :: outer if fresh => scopes.set((df :: owned) :: outer)
      case _ => ()
    }
    df
  }

  /** Drop every memoized artifact for `dir` (all sessions, all
    * families), calling each memo's release hook on the evicted values
    * (freeing persisted blocks / catalog tables — the r8 ADVICE leak).
    * The artifact FILES are left on disk (a reader mid-query may still
    * hold the path — the shutdown hook reaps them); the next access
    * through any memo rebuilds from the live data at a fresh read. Call
    * after mutating a dir's parquet mid-session.
    */
  def invalidate(dir: String): Unit =
    memos.forEach { r =>
      val it = r.map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        // exact dir keys, plus "dir#sub" keys (per-table loader memos
        // key one entry per table under the dir)
        if (e.getKey._2 == dir || e.getKey._2.startsWith(dir + "#")) {
          val k = e.getKey
          val v = e.getValue
          it.remove()
          // release must never turn a cache eviction into a query
          // failure — a dead session's unpersist/DROP is best-effort
          try r.release(k, v) catch { case _: Throwable => () }
        }
      }
    }

  /** A parquet table bucketed on `key`, written from `build(s, dir)` once
    * per (session, dir) and read back as `s.table`. The bucket count is
    * the session's `numShufflePartitions` at build time, so the scan's
    * hashpartitioning(key, n) matches every exchange the session plans
    * and a join against an exchanged side stays co-partitioned. One file
    * per bucket (the pre-write repartition matches the bucket spec),
    * sorted within buckets on `key` when `sorted`. The table name and
    * path carry the dir tag and the session tag, so a second session
    * over the same dir builds its own table instead of overwriting one
    * the first may be reading mid-query; [[invalidate]] drops the
    * catalog table and the exit hook reaps the files.
    */
  def bucketed(name: String, key: String, sorted: Boolean = false)(
      build: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame = {
    val tables = memo[String] { case ((s, _), tbl) =>
      if (!s.sparkContext.isStopped) s.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
    }
    (s, dir) => s.table(tables.computeIfAbsent((s, dir), _ => {
      val tbl = s"${name}_${tag(dir)}_${sessionTag(s)}"
      val n = s.sessionState.conf.numShufflePartitions
      val w = build(s, dir).repartition(n, col(key))
        .write.mode("overwrite").format("parquet").bucketBy(n, key)
      (if (sorted) w.sortBy(key) else w)
        .option("path", path("bucketed", tbl)).saveAsTable(tbl)
      tbl
    }))
  }

  private val leaves = ConcurrentHashMap.newKeySet[String]()
  private val roots = ConcurrentHashMap.newKeySet[String]()

  /** Register an artifact directory for recursive deletion at JVM exit.
    * Returns the path for call-site chaining.
    */
  def cleanupOnExit(path: String): String = {
    leaves.add(path)
    path
  }

  /** `/tmp/graft-<family>/<leaf>`, registered for deletion at JVM exit;
    * the family root is removed then too, once it is empty.
    */
  def path(family: String, leaf: String): String = {
    val root = s"/tmp/graft-$family"
    roots.add(root)
    cleanupOnExit(s"$root/$leaf")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Delete every directory in `leaves` recursively, then each of `roots`
    * that is left empty. A root goes only by a plain directory delete,
    * which the file system refuses while the directory holds an entry,
    * so a root another JVM still writes under (its own pid-tagged leaf)
    * stays.
    */
  private[graft] def reap(leaves: Iterable[String], roots: Iterable[String]): Unit = {
    leaves.foreach(p => deleteRecursively(new java.io.File(p)))
    roots.foreach(r => new java.io.File(r).delete())
  }

  sys.addShutdownHook(reap(leaves.asScala, roots.asScala))
}
