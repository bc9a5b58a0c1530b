package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Appendable standing dedup indexes (r5 verdict item 8): the
  * incremental queries probe STORED hash/band indexes instead of
  * rebuilding the corpus index per run. This spec proves the artifact's
  * maintenance contract — building an index on a base slice and
  * APPENDING an ingest's rows yields exactly the index a full REBUILD
  * produces, for both the exact-hash set and the MinHash band index.
  */
class DedupIndexSpec extends SparkSpec {

  test("standing hash index: append == rebuild") {
    val docs = Tables.load(spark, sfDir, "documents")
    val standing = docs.filter(col("doc_id") % 10 =!= 7)
    val base = standing.filter(col("doc_id") % 10 < 5)
    val delta = standing.filter(col("doc_id") % 10 >= 5)
    val tmp = tempDir("graft-idx")

    Dedup.contentHashes(base).write.mode("overwrite").parquet(s"$tmp/hash")
    Dedup.appendIndex(Dedup.contentHashes(delta), s"$tmp/hash")

    // the hash set is probed with semi/anti-join semantics, so the
    // contract is SET equality (a text present in both slices appends a
    // duplicate row, which no consumer can observe)
    val appended = spark.read.parquet(s"$tmp/hash").distinct()
    val rebuilt = Dedup.contentHashes(standing)
    assert(appended.exceptAll(rebuilt).isEmpty
      && rebuilt.exceptAll(appended).isEmpty,
      "appended hash index diverges from a full rebuild")
  }

  test("standing band index: append == rebuild, exactly") {
    val docs = Tables.load(spark, sfDir, "documents")
    val standing = docs.filter(col("doc_id") % 10 =!= 7)
    val base = standing.filter(col("doc_id") % 10 < 5)
    val delta = standing.filter(col("doc_id") % 10 >= 5)
    val tmp = tempDir("graft-idx")

    Dedup.bandRows(spark, base).write.mode("overwrite").parquet(s"$tmp/bands")
    Dedup.appendIndex(Dedup.bandRows(spark, delta), s"$tmp/bands")

    // band rows are keyed by doc_id and ingest slices carry disjoint
    // ids, so append is an exact multiset union — assert it as one
    val appended = spark.read.parquet(s"$tmp/bands")
    val rebuilt = Dedup.bandRows(spark, standing)
    assert(appended.exceptAll(rebuilt).isEmpty
      && rebuilt.exceptAll(appended).isEmpty,
      "appended band index diverges from a full rebuild")
  }

  test("incremental near-dup probe via the appended index == via a rebuild") {
    // end-to-end: the candidate set a batch probe finds against the
    // APPENDED index equals the one against a rebuilt index
    val docs = Tables.load(spark, sfDir, "documents")
    val standing = docs.filter(col("doc_id") % 10 =!= 7)
    val base = standing.filter(col("doc_id") % 10 < 5)
    val delta = standing.filter(col("doc_id") % 10 >= 5)
    val tmp = tempDir("graft-idx")
    Dedup.bandRows(spark, base).write.mode("overwrite").parquet(s"$tmp/b")
    Dedup.appendIndex(Dedup.bandRows(spark, delta), s"$tmp/b")

    val batchBands = Dedup.bandRows(spark, docs.filter(col("doc_id") % 10 === 7))
      .withColumnRenamed("doc_id", "batch_doc")
    def probe(corpus: org.apache.spark.sql.DataFrame) = batchBands
      .join(corpus.withColumnRenamed("doc_id", "corpus_doc"),
        Seq("band_id", "band_hash"))
      .select("batch_doc", "corpus_doc").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val viaAppended = probe(spark.read.parquet(s"$tmp/b"))
    val viaRebuild = probe(Dedup.bandRows(spark, standing))
    assert(viaAppended == viaRebuild,
      "batch probe sees different candidates through the appended index")
    assert(viaAppended.nonEmpty || viaRebuild.isEmpty)
  }
}
