package graft.ops

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The [[Artifacts]] lifecycle contract (round-8 verdict item 8 /
  * ADVICE r7 medium): collision-proof paths, per-dir invalidation, and
  * the stale-read semantics the scaladoc documents.
  */
class ArtifactsSpec extends SparkSpec {

  test("tag: dirs that sanitize identically get distinct paths") {
    // the r7 ADVICE collision: both sanitize to _data_sf0_1
    assert(Artifacts.tag("/data/sf0.1") !== Artifacts.tag("/data/sf0_1"))
    // and punctuation-only differences
    assert(Artifacts.tag("/a/b") !== Artifacts.tag("/a.b"))
    // same dir is stable within a JVM (memo paths must be deterministic)
    assert(Artifacts.tag("/data/sf0.1") === Artifacts.tag("/data/sf0.1"))
  }

  test("invalidate drops exactly the given dir's keys, across memos") {
    val m1 = Artifacts.memo[String]()
    val m2 = Artifacts.memo[Int]()
    m1.put((spark, "/tmp/a"), "x")
    m1.put((spark, "/tmp/b"), "y")
    m2.put((spark, "/tmp/a"), 1)
    Artifacts.invalidate("/tmp/a")
    assert(!m1.containsKey((spark, "/tmp/a")))
    assert(!m2.containsKey((spark, "/tmp/a")))
    assert(m1.get((spark, "/tmp/b")) === "y")
  }

  test("invalidate calls the release hook on exactly the evicted values") {
    var released = List.empty[String]
    val m = Artifacts.memo[String]((_, v) => released ::= v)
    m.put((spark, "/tmp/rel-a"), "va")
    m.put((spark, "/tmp/rel-b"), "vb")
    Artifacts.invalidate("/tmp/rel-a")
    assert(released === List("va"))
    assert(!m.containsKey((spark, "/tmp/rel-a")))
    assert(m.get((spark, "/tmp/rel-b")) === "vb")
    // a throwing hook must not abort the eviction sweep
    val bad = Artifacts.memo[String]((_, _) => sys.error("boom"))
    bad.put((spark, "/tmp/rel-b"), "vc")
    Artifacts.invalidate("/tmp/rel-b")
    assert(!bad.containsKey((spark, "/tmp/rel-b")))
    assert(!m.containsKey((spark, "/tmp/rel-b")) && released.contains("vb"))
  }

  test("invalidate unpersists a memoized persisted frame (no leak)") {
    val m = Artifacts.memo[org.apache.spark.sql.DataFrame] { (_, df) =>
      df.unpersist(false); ()
    }
    val df = spark.range(100).toDF("id").persist()
    df.count()
    assert(df.storageLevel.useMemory, "fixture frame failed to persist")
    m.put((spark, "/tmp/rel-c"), df)
    Artifacts.invalidate("/tmp/rel-c")
    assert(!df.storageLevel.useMemory,
      "evicted frame still holds storage blocks after invalidate")
  }

  test("invalidate frees a memoized localCheckpoint frame (no leak)") {
    // Dataset.unpersist alone leaves a checkpoint's RDD persisted
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val pin = Artifacts.pinned((s, _) => s.range(100).toDF("id"))
    pin(spark, "/tmp/rel-d")
    assert(sc.getPersistentRDDs.size === base + 1, "fixture frame was not pinned")
    Artifacts.invalidate("/tmp/rel-d")
    assert(sc.getPersistentRDDs.size === base,
      "evicted checkpoint still holds its RDD after invalidate")
  }

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("scoped: nested scopes release only their own frames") {
    val outer = spark.range(101).toDF("id")
    val inner = spark.range(102).toDF("id")
    Artifacts.scoped {
      Artifacts.persist(outer).count()
      Artifacts.scoped(Artifacts.persist(inner).count())
      assert(!cached(inner), "the inner scope kept its frame")
      assert(cached(outer), "the inner scope released the outer scope's frame")
    }
    assert(!cached(outer), "the outer scope kept its frame")
  }

  test("scoped: a throwing body still releases its frames") {
    val df = spark.range(103).toDF("id")
    intercept[IllegalStateException](Artifacts.scoped {
      Artifacts.persist(df).count()
      throw new IllegalStateException("boom")
    })
    assert(!cached(df), "the scope kept its frame after a throw")
  }

  test("scoped: a frame persisted outside any scope is untouched") {
    val plain = spark.range(104).toDF("id").persist()
    val unscoped = Artifacts.persist(spark.range(105).toDF("id"))
    val own = spark.range(106).toDF("id")
    Artifacts.scoped {
      // the same plan as `plain`: already cached, so not the scope's
      Artifacts.persist(spark.range(104).toDF("id"))
      Artifacts.persist(own)
    }
    assert(cached(plain) && cached(unscoped),
      "the scope released a frame cached outside it")
    assert(!cached(own))
    plain.unpersist(); unscoped.unpersist()
  }

  test("pinned censuses leave no SQL-cache entry and no plain cache behind") {
    // a fresh session: every artifact below builds here, not in a memo
    val s = spark.newSession()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    def plain(): Set[Int] = sc.getPersistentRDDs
      .collect { case (id, r) if !r.isCheckpointed => id }.toSet
    val before = plain()
    Seq(Censuses.rankedAnsari, Censuses.rankedOrderCents,
      Censuses.rankedPriorityCents, Censuses.rankedFlagPrice,
      Censuses.rankedConoverDev, Censuses.brandBaskets, EventTime.senPairs)
      .foreach(_(s, sfDir).count())
    assert(spark.sharedState.cacheManager.isEmpty, "artifact builds left " +
      s"${org.apache.spark.sql.CacheEntries(spark)} SQL-cache entries")
    assert((plain() -- before).isEmpty,
      s"artifact builds left plain caches: ${plain() -- before}")
  }

  test("sessionTag: stable per session, distinct across sessions") {
    assert(Artifacts.sessionTag(spark) === Artifacts.sessionTag(spark))
    val s2 = spark.newSession()
    assert(Artifacts.sessionTag(spark) !== Artifacts.sessionTag(s2))
  }

  test("mutable-dir semantics: stale until invalidate, fresh after") {
    // a mutable copy of the sf0.001 graph inputs under /tmp
    val dir = tempDir("graft-artifacts-spec")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_linenumber")
    val ord = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    ord.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val n0 = Graph.bipartiteEdges(spark, dir).count()
    assert(n0 > 0)

    // mutate the dir: keep only even orderkeys — the edge set shrinks
    ord.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    // documented stale-read: the memoized artifact still answers
    assert(Graph.bipartiteEdges(spark, dir).count() === n0)

    // the invalidation hook: next access rebuilds from the live data
    Artifacts.invalidate(dir)
    val n1 = Graph.bipartiteEdges(spark, dir).count()
    assert(n1 > 0 && n1 < n0)
  }

  /** A mutable copy of the sf0.001 tables the bucketed artifacts read. */
  private lazy val layoutDir: String = {
    val dir = tempDir("graft-bucketed-spec")
    for (n <- Seq("lineitem", "orders", "customer"))
      Tables.load(spark, sfDir, n).write.parquet(s"$dir/$n.parquet")
    dir
  }

  /** Build all five bucketed artifacts of `dir` in session `s`. */
  private def buildBucketed(s: SparkSession, dir: String): Unit = {
    Graph.bipartiteEdges(s, dir)
    for (q <- Seq("q_join_bucketed", "q_join_bucketed_fact"))
      SparkEntry.queries(q)(s, dir)
  }

  /** The catalog's bucketed-artifact tables of `dir`, every session. */
  private def bucketedTables(dir: String): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter(n =>
      (n.startsWith("graft_graph_edges_") || n.startsWith("graft_bkt_")) &&
        n.contains(Artifacts.tag(dir)))

  test("bucketed artifacts: session-sized buckets, dropped by invalidate") {
    val dir = layoutDir
    buildBucketed(spark, dir)
    val tables = bucketedTables(dir)
    assert(tables.size === 5, s"expected the five bucketed tables: $tables")
    for (n <- tables) {
      val spec = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(n)).bucketSpec
      assert(spec.map(_.numBuckets) ===
        Some(spark.sessionState.conf.numShufflePartitions),
        s"$n is not bucketed to the session's shuffle partitions: $spec")
    }
    Artifacts.invalidate(dir)
    assert(bucketedTables(dir).isEmpty,
      "invalidate left bucketed artifact tables in the catalog")
  }

  test("bucketed artifacts: two sessions over one dir get their own tables") {
    val dir = layoutDir
    val s2 = spark.newSession()
    Seq(spark, s2).foreach(buildBucketed(_, dir))
    val tables = bucketedTables(dir)
    val paths = tables.map(n => spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(n)).location)
    assert(tables.size === 10 && paths.distinct.size === 10,
      s"sessions share bucketed tables or paths: $tables")
    for (s <- Seq(spark, s2))
      assert(tables.count(_.endsWith("_" + Artifacts.sessionTag(s))) === 5)
    Artifacts.invalidate(dir)
    assert(bucketedTables(dir).isEmpty)
  }

  test("reap deletes the leaves, then only the family roots left empty") {
    val scratch = java.nio.file.Paths.get(tempDir("graft-reap-spec"))
    def leaf(p: String): String = {
      val d = scratch.resolve(p)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("part-0"), "x")
      d.toString
    }
    val ours = Seq(leaf("graft-a/l1"), leaf("graft-a/l2"), leaf("graft-b/l3"))
    // another JVM's leaf under the same family root
    val foreign = leaf("graft-b/other")
    val roots = Seq("graft-a", "graft-b").map(scratch.resolve(_).toString)
    Artifacts.reap(ours, roots)
    assert(ours.forall(p => !new java.io.File(p).exists), "a leaf survived")
    assert(!new java.io.File(roots(0)).exists, "empty family root left behind")
    assert(new java.io.File(foreign).isDirectory,
      "reap removed a root another JVM still writes under")
    Artifacts.reap(Seq(foreign), roots :+ scratch.toString)
    assert(!scratch.toFile.exists)
  }

  test("ingest fallback answers from the raw frame AND warns (r10 verdict #1)") {
    // destRoot is a path UNDER a regular file — any write there throws,
    // driving the NonFatal fallback; the result must still be the full
    // raw table and a loud stderr line must name the table and cause.
    val blocker = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(tempDir("graft-block"), "blocker"))
    val dir = sfPath("0.01") // big enough that re-layout isn't skipped
    val raw = spark.read.parquet(s"$dir/lineitem.parquet")
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    val out = try {
      System.setErr(new java.io.PrintStream(err, true))
      Tables.ingest0(spark, dir, "lineitem", raw, s"$blocker/sub")
    } finally System.setErr(saved)
    assert(out.count() === raw.count())
    val msg = err.toString
    assert(msg.contains("ingest re-layout of 'lineitem' failed"),
      s"expected a loud fallback warning, got: $msg")
  }
}
