package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Unit coverage for queries the DuckDB oracle cannot check
  * (oracle-exempt: approximate / hash-function-specific / binary), plus
  * cross-query invariants on sf0.001.
  */
class OpsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  // ── ANN recall vs the exact brute-force baseline ─────────────────────
  test("q_ann_ivf achieves ≥0.7 recall@3 vs exact top-k") {
    // trained spherical-k-means codebook measures 0.9 (sf0.001) / 0.87
    // (sf0.01); the untrained vec_id<16 stand-in only reached ~0.4-0.5
    val exact = q("q_similarity_topk").select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = q("q_ann_ivf").select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF nprobe=4/16 recall@3 was $recall")
  }

  // ── n-gram dedup: DF cap bounds the self-join buckets ────────────────
  test("no shingle group above ShingleDfCap reaches the ngram self-join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxDf = Dedup.cappedShingles(docs, Dedup.ShingleDfCap)
      .groupBy("shingle").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDf <= Dedup.ShingleDfCap,
      s"worst shingle bucket $maxDf exceeds cap ${Dedup.ShingleDfCap}")
    assert(q("q_dedup_ngram").count() > 0, "cap must not empty the result")
  }

  // ── connected components over the near-dup graph ────────────────────
  test("q_dup_clusters: endpoints of every pair share one representative") {
    val rep = q("q_dup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = q("q_dedup_ngram").select("a", "b").collect()
    assert(pairs.nonEmpty && rep.nonEmpty)
    pairs.foreach { r =>
      assert(rep(r.getLong(0)) === rep(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
    // a representative is its own representative, and is the cluster min
    rep.values.toSet.foreach { (c: Long) => assert(rep(c) === c) }
    rep.foreach { case (d, c) => assert(c <= d) }
  }

  // ── MinHash near-dup sanity ──────────────────────────────────────────
  test("q_dedup_near emits ordered pairs with valid exact Jaccard") {
    val rows = q("q_dedup_near").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("a")) < r.getLong(r.fieldIndex("b")))
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(j > 0.0 && j <= 1.0)
      val nb = r.getLong(r.fieldIndex("n_bands"))
      assert(nb >= 1 && nb <= 8)
    }
  }

  test("q_dedup_near jaccard agrees with the exact q_dedup_ngram value") {
    val near = q("q_dedup_near").select("a", "b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = q("q_dedup_ngram").select("a", "b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val overlap = near.keySet & exact.keySet
    overlap.foreach(k => assert(near(k) === exact(k)))
  }

  // ── SimHash sanity ───────────────────────────────────────────────────
  test("q_dedup_simhash emits ordered pairs within the Hamming bound") {
    q("q_dedup_simhash").collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("a")) < r.getLong(r.fieldIndex("b")))
      val h = r.getLong(r.fieldIndex("hamming"))
      assert(h >= 0 && h <= 12)
    }
  }

  // ── LSH band-bucket cap: the anti-quadratic guard ────────────────────
  test("cappedBandBuckets drops hot buckets and keeps the rest intact") {
    import spark.implicits._
    // one hot bucket (band 0, key 7) with cap+1 members, two cold ones
    val cap = 4
    val rows = (0 to cap).map(i => (i.toLong, 0, 7L)) ++
      Seq((100L, 0, 9L), (101L, 0, 9L), (102L, 1, 7L))
    val bands = rows.toDF("doc_id", "band_id", "band_key")
    val capped = Dedup.cappedBandBuckets(bands, Seq("band_id", "band_key"), cap)
      .select("doc_id", "band_id", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the hot bucket is gone in full; same key in ANOTHER band survives
    assert(capped === Set((100L, 0, 9L), (101L, 0, 9L), (102L, 1, 7L)))
  }

  test("LSH band self-joins see only cap-bounded buckets (simhash + embed)") {
    // recompute each query's band stream and assert the worst bucket the
    // self-join can see is ≤ BandBucketCap — the Σ|bucket|² ≤ N·Cap bound
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(array_remove(col("toks"), "")) > 0)
      .select(col("doc_id"), call_function("graft_simhash", col("toks")).as("sim"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3),
           b -> struct(b AS band_id, shiftright(sim, b * 16) & 65535 AS band_key))""")).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_key"))
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        call_function("graft_hyperplane_sig", col("embedding"), lit(64), lit(42)).as("sig"))
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, 7),
           b -> struct(b AS band_id, shiftright(sig, b * 8) & 255 AS band_key))""")).as("b"))
      .select(col("vec_id"), col("b.band_id"), col("b.band_key"))
    for ((name, bands) <- Seq("simhash" -> docs, "embed" -> emb)) {
      val worst = Dedup
        .cappedBandBuckets(bands, Seq("band_id", "band_key"), Dedup.BandBucketCap)
        .groupBy("band_id", "band_key").count()
        .agg(max("count")).head().getLong(0)
      assert(worst <= Dedup.BandBucketCap,
        s"$name: worst band bucket $worst exceeds cap ${Dedup.BandBucketCap}")
    }
    // the cap must not empty the candidate streams at spec scale
    assert(q("q_dedup_simhash").count() > 0, "cap emptied simhash pairs")
    assert(q("q_embed_neardup").count() > 0, "cap emptied embed near-dup pairs")
  }

  // ── multimodal decode: the binary header codec round-trips exactly ───
  test("HeaderCodec parses magic, big-endian fields, and body checksum from raw bytes") {
    val dec = new HeaderCodec
    // hand-packed: GIMG + width=0x00000102 (258) + height=0x00000003 +
    // channels=5 + body "ab"
    val bytes = Array[Byte]('G', 'I', 'M', 'G',
      0, 0, 1, 2, 0, 0, 0, 3, 5, 'a', 'b')
    val m = dec.decode(9L, bytes)
    assert(m === ImgMeta(9L, 258L, 3L, 5L, 258L * 5, 2L, 97L + 98L))
    // corrupt magic must be rejected, not silently mis-parsed
    val bad = bytes.clone(); bad(0) = 'X'
    intercept[IllegalArgumentException] { dec.decode(9L, bad) }
    intercept[IllegalArgumentException] { dec.decode(9L, Array[Byte](1, 2)) }
  }

  test("q_multimodal_decode: decoded fields equal the packer's inputs for every document") {
    // decode(pack(x)) == x, checked value-by-value against the packing
    // formulas — the oracle re-proves this vs DuckDB; here we pin the
    // per-row round-trip including the body checksum
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val rows = q("q_multimodal_decode").collect()
    assert(rows.length.toLong === docs)
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      val nc = src(id)
      assert(r.getLong(r.fieldIndex("width")) === nc % 640 + 16)
      assert(r.getLong(r.fieldIndex("height")) === id % 480 + 16)
      assert(r.getLong(r.fieldIndex("channels")) === id % 3 + 1)
      assert(r.getLong(r.fieldIndex("pixel_bytes")) === nc)
      assert(r.getLong(r.fieldIndex("pixel_sum")) > 0 || nc == 0)
    }
  }

  test("q_frame_sample keeps every 4th frame only") {
    val rows = q("q_frame_sample").select("frame_id").distinct().collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) % 4 === 0))
  }

  // ── cross-query invariants ───────────────────────────────────────────
  test("q_charcount total equals total characters in the corpus") {
    val fromQuery = q("q_charcount").agg(sum("cnt")).head().getLong(0)
    val fromDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(fromQuery === fromDocs)
  }

  test("q_mod_histogram mass equals lineitem row count") {
    val hist = q("q_mod_histogram").agg(sum("cnt")).head().getLong(0)
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(hist === rows)
  }

  test("q_dedup_exact survivors cover all distinct texts") {
    val survivors = q("q_dedup_exact").agg(sum(lit(1)), sum("dup_cnt")).head()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(survivors.getLong(1) === docs.count(), "dup counts must cover every doc")
    assert(survivors.getLong(0) === docs.select("text").distinct().count())
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("exact dedup is idempotent (SURVEY §7.6 property)") {
    val once = q("q_dedup_exact").select("doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val deduped = docs.join(once, "doc_id") // survivors only
    val again = deduped.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
    assert(again.filter(col("dup_cnt") > 1).count() === 0)
    assert(again.count() === once.count())
  }

  test("q_containment dominates Jaccard on every near-dup pair") {
    // containment(A→B) = I/|A| ≥ I/|A∪B| = J, so every q_dedup_ngram pair
    // (J ≥ 0.3) must appear in the containment output when C ≥ 0.5 holds,
    // and the reported containment must be ≥ its Jaccard
    val cont = q("q_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ngram = q("q_dedup_ngram").collect()
    assert(cont.nonEmpty && ngram.nonEmpty)
    ngram.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(4))
      for (c <- cont.get((a, b)))
        assert(c >= j, s"containment $c < jaccard $j for ($a,$b)")
    }
    // asymmetry is real: directions may disagree on membership or value
    cont.keys.foreach { case (s1, d1) => assert(s1 != d1, "self-pair leaked") }
  }

  test("q_join_asof equals the naive theta-join formulation") {
    // independent oracle for the union-merge shape: left join every event
    // to ALL earlier same-user orders, then arg-max by (date, orderkey) —
    // quadratic, fine at sf0.001
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val naive = ev.join(ord,
        col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"),
        "left")
      .groupBy("event_id")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice")))
        .as("best"))
      .select(col("event_id"), col("best.o_orderkey").as("asof_orderkey"),
        col("best.o_totalprice").as("asof_totalprice"))
    val got = q("q_join_asof")
      .select("event_id", "asof_orderkey", "asof_totalprice").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    val exp = naive.collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got.nonEmpty && got.keySet === exp.keySet)
    // the sf0.001 fixture matches every event (orders start before the
    // event stream), so the null path is covered by keySet equality with
    // the LEFT-join oracle rather than by an observed null
    assert(got.values.exists(_._1.nonEmpty), "no matched events in fixture")
    got.foreach { case (id, v) => assert(v === exp(id), s"event $id drifted") }
  }

  test("q_repetition fractions are exact and bounded") {
    val rows = q("q_repetition").collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length.toLong === nDocs)
    rows.foreach { r =>
      val d5 = r.getDouble(1); val tb = r.getDouble(2)
      assert(d5 >= 0.0 && d5 < 1.0, s"dup5_frac $d5 out of range")
      assert(tb > 0.0 && tb <= 1.0, s"top_bigram_share $tb out of range")
    }
    // non-vacuity: recompute both fractions in plain Scala for the
    // largest doc and require exact equality (a degenerate all-zero or
    // all-constant column would pass the range checks above)
    val doc = spark.read.parquet(s"$sfDir/documents.parquet")
      .orderBy(col("n_chars").desc, col("doc_id")).select("doc_id", "text")
      .head()
    val tok = doc.getString(1).split(" ", -1)
    val g5 = tok.sliding(5).map(_.mkString(" ")).toSeq
    val g2 = tok.sliding(2).map(_.mkString(" ")).toSeq
    val expD5 = (g5.size - g5.distinct.size).toDouble / g5.size
    val expTb = g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size
    val got = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(got.getDouble(1) === expD5, "dup5_frac drifted from recompute")
    assert(got.getDouble(2) === expTb, "top_bigram_share drifted")
  }

  test("q_sketch_rollup estimates match exact distincts at every level") {
    val rows = Approx.sketchRollupEst(spark, sfDir).collect()
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    def exact(f: org.apache.spark.sql.DataFrame) =
      f.agg(countDistinct(col("o_custkey"))).head().getLong(0)
    rows.foreach { r =>
      val (pri, st) = (r.getString(0), r.getString(1))
      val base = if (pri == "ALL") orders
        else orders.filter(col("o_orderpriority") === pri)
      val sel = if (st == "ALL") base
        else base.filter(col("o_orderstatus") === st)
      val e = exact(sel).toDouble
      val got = r.getLong(2).toDouble
      // lgConfigK=14 → ~1% standard error; 5% is 5σ headroom
      assert(math.abs(got - e) <= math.max(2.0, 0.05 * e),
        s"($pri, $st): sketch $got vs exact $e")
    }
    // all three levels are present
    assert(rows.exists(r => r.getString(0) == "ALL" && r.getString(1) == "ALL"))
    assert(rows.exists(r => r.getString(0) != "ALL" && r.getString(1) == "ALL"))
    assert(rows.exists(r => r.getString(0) != "ALL" && r.getString(1) != "ALL"))
  }

  test("q_chunking chunks reconstruct every document exactly") {
    // 24-token stride prefixes of all chunks but the last, plus the last
    // chunk whole, must rebuild the token stream — proves coverage (no
    // token dropped), overlap (8 shared tokens), and ordering at once
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = q("q_chunking").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getLong(1)).map(_.getString(3)) }
    assert(chunks.keySet === docs.keySet)
    chunks.foreach { case (id, cs) =>
      val rebuilt = (cs.init.map(_.split(" ", -1).take(24).mkString(" "))
        :+ cs.last).mkString(" ")
      assert(rebuilt === docs(id), s"doc $id did not reconstruct")
    }
  }

  test("q_cluster_assign is deterministic and total") {
    val a = q("q_cluster_assign").collect()
    val b = q("q_cluster_assign").collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)), "rerun drifted")
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(a.length.toLong === nVecs, "every vector gets exactly one cell")
    assert(a.map(_.getLong(1)).distinct.length > 1, "degenerate single cluster")
    assert(a.forall(r => r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001))
  }

  // ── round-3 operator invariants (oracle owns values; these own shape) ─
  test("q_bloom_join's bloom actually prunes: FP survivors are rare") {
    // the bloom must pass every true match (guaranteed by construction —
    // the gate checks the final answer) AND stop most non-matches:
    // measure the prune via the same filter the query plans
    import graft.plans.GraftExtensions
    GraftExtensions.ensureRegistered(spark)
    val exact = q("q_bloom_join").count()
    val orders = graft.Tables.load(spark, sfDir, "orders").count()
    assert(exact < orders, "fixture: some orders must be non-BUILDING")
    // rows entering the exact join = observe() metric; metrics attach to
    // the QueryExecution an ACTION ran on, so collect() the df itself.
    // The accumulator reads 2× the row count: the final orderBy's range
    // partitioner runs a SAMPLING pass over the child (executing the
    // metrics node once) before the real pass — divide it back out.
    val df = q("q_bloom_join")
    df.collect()
    val pruned = df.queryExecution.observedMetrics("bloom_prune")
      .getLong(0) / 2
    // 64-Kbit / 5-hash bloom at spec scale (≤1.5k keys) has FPR ≈ 1e-4:
    // the pruned probe should be within 5% of the exact match count
    assert(pruned >= exact, "bloom dropped a true match")
    assert(pruned <= exact * 1.05 + 50,
      s"bloom stopped pruning: $pruned passed vs $exact exact matches")
  }

  test("q_pagerank conserves rank mass and ranks high-degree nodes higher") {
    val rows = q("q_pagerank").collect()
    val n = rows.length.toLong
    val total = rows.map(_.getLong(1)).sum
    // integer truncation only LOSES mass: total ≤ SCALE; per round a
    // node's outgoing floor-divisions lose up to deg-1 units plus the
    // two /100 truncations — bounded far below 0.1% of SCALE here
    val scale = 1000000000000L
    assert(total <= scale, "rank mass created from nothing")
    assert(total >= scale - scale / 1000, s"rank mass leak beyond truncation: $total")
    assert(rows.forall(_.getLong(1) > 0), "a node lost all rank")
    assert(n > 0 && total / n > 0)
  }

  test("q_merge_upsert actions partition the key space") {
    val rows = q("q_merge_upsert").collect()
    val byAction = rows.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(byAction.keySet === Set("updated", "inserted", "carried"))
    // inserted keys are exactly the shifted change keys; every base row
    // survives as updated or carried
    val baseN = graft.Tables.load(spark, sfDir, "customer").count().toInt
    assert(byAction("updated") + byAction("carried") === baseN)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length, "key dup")
  }

  test("q_sample_per_group: ≤k per slice, saturated slices hit exactly k") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val slice = docs.groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sample = q("q_sample_per_group").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2))).toMap
    assert(sample.nonEmpty)
    sample.foreach { case (k, ids) =>
      assert(ids.length === math.min(5L, slice(k)).toInt,
        s"slice $k: ${ids.length} sampled from ${slice(k)} docs")
      assert(ids.distinct.length === ids.length, s"slice $k repeated a doc")
    }
    // hash ranking is a function of the data: a rerun is identical
    val rerun = q("q_sample_per_group").collect().map(_.toString)
    assert(rerun.sameElements(q("q_sample_per_group").collect().map(_.toString)))
  }

  test("q_profile_table invariants hold against the raw table") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val rows = q("q_profile_table").collect()
    assert(rows.length === 5, "one profile row per declared column")
    rows.foreach { r =>
      assert(r.getLong(1) === n, s"${r.getString(0)}: n_rows drifted")
      val (nNull, nDist) = (r.getLong(2), r.getLong(3))
      assert(nNull >= 0 && nNull <= n)
      assert(nDist <= n - nNull, s"${r.getString(0)}: distinct > non-null")
      assert(r.getLong(4) <= r.getLong(5), "min_len > max_len")
    }
    val byCol = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(byCol("doc_id") === n, "doc_id must profile as a unique key")
  }

  // ── SemDeDup: survivor set is cell-locally threshold-free ────────────
  test("q_semdedup survivors have no within-cell pair above the threshold") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val surv = q("q_semdedup").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(surv.nonEmpty && surv.length <= n)
    // deterministic: rerun is identical
    assert(surv.sameElements(
      q("q_semdedup").collect().map(r => r.getLong(0) -> r.getLong(1))))
    // no two survivors of one cell are >= 0.4 cosine: check via exact
    // cosine on the collected vectors (sf0.001 corpus is small)
    val vecs = emb.collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    surv.groupBy(_._2).values.foreach { cell =>
      val ids = cell.map(_._1)
      for (i <- ids.indices; j <- i + 1 until ids.length)
        assert(cos(vecs(ids(i)), vecs(ids(j))) < 0.4,
          s"survivors ${ids(i)}, ${ids(j)} still near-dup in one cell")
    }
  }

  // ── KMV mergeability: the 100-TB law the estimate's scale story rests on
  test("KMV bottom-k sketch is mergeable: merge of partition sketches " +
      "== whole-corpus sketch") {
    // bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    // property that lets a 1000-executor run keep k longs per
    // partition and a k-row driver merge. Exercised on the SAME
    // portable hash q_kmv_distinct gates, split by hash parity.
    val P = 1000000007L
    val hashes = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
        .as("token"))
      .distinct()
      .withColumn("h", expr(
        s"""aggregate(filter(split(token, ''), ch -> ch <> ''),
            0L, (acc, ch) -> (acc * 31 + ascii(ch)) % ${P}L)"""))
      .select("h").distinct().persist()
    // k = 16 in the TEST: the sf0.001 vocabulary is ~31 tokens, so a
    // 256-row bottom-k would be the trivial identity — k=16 makes both
    // halves genuinely truncate and the merge genuinely select
    def bottomK(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("h").limit(16)
    val whole = bottomK(hashes).collect().map(_.getLong(0)).sorted
    val merged = bottomK(
        bottomK(hashes.filter(col("h") % 2 === 0))
          .unionAll(bottomK(hashes.filter(col("h") % 2 =!= 0))))
      .collect().map(_.getLong(0)).sorted
    assert(whole.length == 16, s"vocab too small: ${whole.length}")
    assert(merged.sameElements(whole),
      "partition-sketch merge diverged from the whole-corpus sketch")
  }

  // ── CMS additivity: partition sketches sum to the corpus sketch ──────
  test("CMS cell masses are additive: sum of partition sketches == " +
      "whole-corpus sketch") {
    // count-min cells are plain SUMs, so sketch(A) + sketch(B) ==
    // sketch(A ∪ B) cell-by-cell — the merge law that lets 1000
    // executors keep d×w longs each and reduce them. Rebuilt here from
    // the same token census + pinned affine row hashes as q_cms_topk,
    // split by document parity.
    val P = 1000000007L
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')"))
          .as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("h", expr(
        s"""aggregate(filter(split(token, ''), ch -> ch <> ''),
            0L, (acc, ch) -> (acc * 31 + ascii(ch)) % ${P}L"""
          + ")"))
      .select(col("cnt"), explode(expr(
        s"""transform(array(struct(0 AS r, 31L AS a, 7L AS b),
              struct(1 AS r, 131L AS a, 911L AS b),
              struct(2 AS r, 8191L AS a, 3571L AS b),
              struct(3 AS r, 524287L AS a, 1231L AS b)),
            p -> struct(p.r AS r,
              ((h * p.a + p.b) % ${P}L) % 1024 AS bucket))"""))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("cnt")).cast("long").as("mass"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val whole = toMap(cells(docs))
    val a = toMap(cells(docs.filter(col("doc_id") % 2 === 0)))
    val b = toMap(cells(docs.filter(col("doc_id") % 2 =!= 0)))
    assert(whole.nonEmpty)
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged === whole,
      "partition CMS sum diverged from the whole-corpus sketch")
  }

  // ── Cucconi: the quadratic form is nonnegative and MW/Ansari-coherent
  test("q_cucconi C is a nonnegative quadratic form with finite U, V") {
    val r = q("q_cucconi").collect()
    assert(r.length === 1)
    val row = r.head
    val u = row.getDouble(row.fieldIndex("u"))
    val v = row.getDouble(row.fieldIndex("v"))
    val c = row.getDouble(row.fieldIndex("c_stat"))
    assert(!u.isNaN && !u.isInfinite && !v.isNaN && !v.isInfinite)
    // (U²+V²−2ρUV)/(2(1−ρ²)) is PSD for |ρ|<1 — a negative C means the
    // exact-integer centering or the ρ(N) constant drifted
    assert(c >= 0.0, s"Cucconi C went negative: $c (u=$u v=$v)")
  }

  // ── sketch overlap: I-E estimates track the exact census ─────────────
  test("q_overlap_sketch intersection estimates stay within tolerance of exact") {
    val exact = q("q_set_overlap").collect()
      .map(r => (r.getString(r.fieldIndex("ta")), r.getString(r.fieldIndex("tb")))
        -> (r.getLong(r.fieldIndex("n_both")),
            r.getLong(r.fieldIndex("n_a")) + r.getLong(r.fieldIndex("n_b"))
              - r.getLong(r.fieldIndex("n_both")))).toMap
    val est = Approx.overlapSketchEst(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))
        -> r.getLong(r.fieldIndex("est_both")).toDouble).toMap
    assert(est.keySet === exact.keySet, "pair sets differ")
    est.foreach { case (k, e) =>
      val (both, union) = exact(k)
      // I-E amplifies HLL error by |union|/|both|: allow 5% of the UNION
      assert(math.abs(e - both) <= math.max(0.05 * union, 3.0),
        s"$k: estimated $e vs exact $both (union $union)")
    }
  }

  // ── incremental near-dup: batch×corpus only, exact-Jaccard agreement ─
  test("q_dedup_near_incremental pairs cross the batch boundary with exact jaccard") {
    val rows = q("q_dedup_near_incremental").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, c) = (r.getLong(r.fieldIndex("batch_doc")),
        r.getLong(r.fieldIndex("corpus_doc")))
      assert(b % 10 === 7, s"$b is not a batch doc")
      assert(c % 10 !== 7, s"$c is not a corpus doc")
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(j >= 0.3 && j <= 1.0)
    }
    // where a (batch, corpus) pair also surfaces in the oracled exact
    // n-gram path, the jaccard must agree bit-for-bit
    val inc = rows.map(r => ((r.getLong(r.fieldIndex("batch_doc")),
      r.getLong(r.fieldIndex("corpus_doc"))),
      r.getDouble(r.fieldIndex("jaccard")))).toMap
    val exact = q("q_dedup_ngram").select("a", "b", "jaccard").collect()
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b) -> j, (b, a) -> j)
      }.toMap
    val overlap = inc.keySet & exact.keySet
    assert(overlap.nonEmpty, "fixture has no cross-boundary near-dups")
    overlap.foreach(k => assert(inc(k) === exact(k)))
  }

  // ── drift / audit / series report invariants ─────────────────────────
  test("tvd, benford, autocorr, sssp invariants hold") {
    // TVD is a metric on [0,1]; a source identical to the rest would be 0
    val tvd = q("q_tvd_drift").collect()
    assert(tvd.nonEmpty)
    tvd.foreach { r =>
      val v = r.getDouble(r.fieldIndex("tvd"))
      assert(v >= 0.0 && v <= 1.0, s"TVD out of range: $v")
    }
    // Benford census: exactly digits 1..9, shares sum to 1 exactly
    // (disjoint integer counts over one total)
    val ben = q("q_benford").collect()
    assert(ben.map(_.getLong(0)).toSeq === (1L to 9L))
    val shares = ben.map(r => r.getDouble(r.fieldIndex("share"))).sum
    assert(math.abs(shares - 1.0) < 1e-9)
    // sample autocorrelation is bounded by 1 in magnitude (Cauchy-
    // Schwarz on the centered series)
    q("q_autocorr").collect().foreach { r =>
      val v = r.getDouble(r.fieldIndex("r"))
      assert(math.abs(v) <= 1.0 + 1e-12, s"|r_k| > 1: $v")
    }
    // SSSP reaches exactly the nodes BFS reaches (same graph, same seed,
    // same 4-round bound), and total min-cost mass ≥ hop mass (w ≥ 1)
    val bfsN = q("q_bfs_reach").agg(sum("n_nodes")).head.getLong(0)
    val ssspN = q("q_sssp").agg(sum("n_nodes")).head.getLong(0)
    assert(bfsN === ssspN, s"reachable sets differ: bfs=$bfsN sssp=$ssspN")
  }

  // ── BPE training replays the greedy reference algorithm ──────────────
  test("q_bpe_train merges equal a plain-Scala greedy BPE replay") {
    // independent reference implementation: word census in driver
    // memory, 10 rounds of (pair census → argmax → greedy merge)
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val census = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.split(" ").filter(_.nonEmpty)
      .foreach(w => census.update(w, census.getOrElse(w, 0L) + 1L)))
    var vocab: Seq[(Vector[String], Long)] =
      census.toSeq.map { case (w, f) => (w.split("").toVector, f) }
    val expected = (1 to 10).map { r =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => pairs.update((a, b), pairs.getOrElse((a, b), 0L) + f)
          case _ =>
        }
      }
      val ((a, b), cnt) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b)
            out(out.length - 1) = a + b
          else out += x
        }
        (out.toVector, f)
      }
      (r.toLong, a, b, cnt)
    }
    val got = q("q_bpe_train").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === expected, "distributed BPE merges diverge from reference")
  }

  // ── BPE application replays the greedy encode ────────────────────────
  test("q_bpe_apply totals equal a plain-Scala greedy encode replay") {
    val merges = graft.ops.TextOps.bpeMerges(spark, sfDir)
      .map { case (_, a, b, _) => (a, b) }
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
    val agg = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    rows.foreach { r =>
      val src = r.getString(0)
      r.getString(1).split(" ").filter(_.nonEmpty).foreach { w =>
        var syms: Vector[String] = w.split("").toVector
        merges.foreach { case (a, b) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          syms = out.toVector
        }
        val (nw, nc, nt) = agg.getOrElse(src, (0L, 0L, 0L))
        agg.update(src, (nw + 1, nc + w.length, nt + syms.length))
      }
    }
    val got = q("q_bpe_apply").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === agg.toMap,
      "distributed BPE encode diverges from the reference replay")
  }

  // ── largest-remainder allocation leaks zero cents ────────────────────
  test("q_allocation conserves every order's total exactly (no cent leak)") {
    // Hamilton apportionment invariant: allocations sum to EXACTLY the
    // sum of order totals over orders that have line items
    val allocated = q("q_allocation")
      .agg(sum(col("alloc_cents"))).head.getLong(0)
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey")).distinct()
    val expected = graft.Tables.load(spark, sfDir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long"))).head.getLong(0)
    assert(allocated === expected,
      s"allocation leaked ${expected - allocated} cents")
  }

  // ── triangle census invariants ───────────────────────────────────────
  test("q_triangle_count bounds hold (triangles <= wedges, edges > 0)") {
    val r = q("q_triangle_count").head()
    val (e, w, tri) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(e > 0 && w > 0)
    assert(tri <= w, "every triangle is a closed wedge")
    // each triangle contributes exactly one wedge at its min-(deg,id)
    // apex, so triangles <= edges * max_outdeg is loose; the tight
    // invariant tri >= 0 plus closure <= wedge count is what's checkable
    // without recomputing the graph here
  }

  test("operators survive forced spill: results identical at a 64-row buffer") {
    // the spill-aware claim, exercised: with the window and agg spill
    // thresholds forced to 64 in-memory rows, the same query must spill
    // to disk and STILL produce byte-identical results — this is the
    // mechanism that keeps a 100-TB partition from OOMing an executor,
    // proven rather than asserted. (Thresholds are session-local and
    // restored; default is 4096.)
    val keys = Seq(
      "spark.sql.windowExec.buffer.spill.threshold",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    def run() = SparkEntry.queries("q_window_rank")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val baseline = run()
    val saved = keys.map(k =>
      k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten).toMap
    keys.foreach(k => spark.conf.set(k, "64"))
    try {
      val spilled = run()
      assert(spilled === baseline,
        "spill path changed the window-rank result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ── PQ codes: compression-layer invariants ──────────────────────────
  test("q_pq_codes: codes in [0,16), sims in (0,1], codebooks learned") {
    val rows = q("q_pq_codes").collect()
    assert(rows.nonEmpty)
    val sims = rows.map(_.getDouble(5))
    rows.foreach { r =>
      for (j <- 1 to 4) {
        val c = r.getLong(j)
        assert(c >= 0 && c < 16, s"sub-code $c out of the 16-cell range")
      }
    }
    sims.foreach(v => assert(v > 0.0 && v <= 1.0, s"avg_sim $v out of range"))
    // a random (untrained) assignment on this corpus averages ~0.2-0.3;
    // the trained sub-codebooks measure ~0.52 — assert the learning floor
    val mean = sims.sum / sims.length
    assert(mean >= 0.35, s"PQ reconstruction quality degraded: mean=$mean")
  }

  // ── PQ ADC search: 4-byte codes must preserve neighborhood signal ───
  test("q_pq_adc: picks concentrate in the exact top-20 neighborhood") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val picks = q("q_pq_adc").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(picks.nonEmpty)
    val top20 = picks.map(_._1).distinct.map { p =>
      p -> emb.keys.filter(_ != p).toSeq
        .sortBy(v => -cos(emb(p), emb(v))).take(20).toSet
    }.toMap
    val inTop = picks.count { case (p, n) => top20(p)(n) }
    // measured 19/30 (63%) at sf0.001; a code-damaging regression (bad
    // codebooks, mis-joined LUTs) drops this toward the ~4% random rate
    assert(inTop.toDouble / picks.length >= 0.4,
      s"ADC picks lost the neighborhood: $inTop/${picks.length} in top-20")
    val meanCos = picks.map { case (p, n) => cos(emb(p), emb(n)) }.sum / picks.length
    assert(meanCos >= 0.1, s"mean exact cosine of ADC picks fell to $meanCos")
  }

  // ── persist hygiene (r11 ADVICE): a finish-based battery run must
  // not accrete per-query caches — the census and every plain cache
  // the finish materializes are released once the scalar result is
  // collected (localCheckpoints are ContextCleaner-scoped and exempt) ─
  test("two-sample/score finishes leak no plain caches across a repeat run") {
    val family = Seq("q_tukey_quick", "q_cvm_two_sample",
      "q_ansari_bradley", "q_lepage", "q_bws_test",
      "q_fligner_policello", "q_cucconi", "q_watson_u2",
      "q_auc", "q_ks_model", "q_auc_delong", "q_energy_distance")
    def plainCached(): Int = spark.sparkContext.getPersistentRDDs
      .values.count(!_.isCheckpointed)
    def entries(): Int = org.apache.spark.sql.CacheEntries(spark)
    family.foreach(q(_).collect()) // warm: artifacts build here
    val base = plainCached()
    val baseEntries = entries()
    family.foreach(q(_).collect()) // repeat: must not grow the cache
    assert(plainCached() <= base,
      s"repeat run grew plain caches: $base -> ${plainCached()}")
    assert(entries() <= baseEntries,
      s"repeat run grew SQL-cache entries: $baseEntries -> ${entries()}")
  }

  // ── Hoeffding's D law: the oracle pins the corpus's null case only
  // (the synthetic columns are independent by generation), so the
  // dependent regime is asserted on constructed censuses ──────────────
  test("hoeffdingFinish: ~1 under perfect dependence, ~0 under independence") {
    import spark.implicits._
    val dep = (1L to 40L).map(i => (i, i, 1L)).toDF("x", "y", "c")
    val dDep = graft.ops.ModelEval.hoeffdingFinish(dep)
      .collect()(0).getDouble(1)
    assert(dDep > 0.9, s"perfect dependence read D=$dDep")
    // a fixed decorrelating permutation (bit-reversal-ish stride)
    val ind = (1L to 40L).map(i => (i, (i * 17) % 40, 1L)).toDF("x", "y", "c")
    val dInd = graft.ops.ModelEval.hoeffdingFinish(ind)
      .collect()(0).getDouble(1)
    assert(math.abs(dInd) < 0.05, s"permuted input read D=$dInd")
  }

  // ── concordance-mass laws (τ-b / Somers' D share the grid build):
  // constructed grids pin the dependent regimes the independent-by-
  // generation corpus can't ───────────────────────────────────────────
  test("concordanceMasses: τ-b = ±1 on perfectly (anti)concordant grids") {
    import spark.implicits._
    def tauB(cen: org.apache.spark.sql.DataFrame): Double = {
      val r = graft.ops.ModelEval.concordanceMasses(cen).collect()(0)
      def d(i: Int) = r.getDecimal(i).doubleValue
      (d(1) - d(2)) / math.sqrt((d(5) - d(3)) * (d(5) - d(4)))
    }
    val con = (1L to 5L).map(i => (i, i, 1L)).toDF("x", "y", "c")
    assert(math.abs(tauB(con) - 1.0) < 1e-12,
      s"concordant diagonal read tau-b=${tauB(con)}")
    val anti = (1L to 5L).map(i => (i, 6L - i, 1L)).toDF("x", "y", "c")
    assert(math.abs(tauB(anti) + 1.0) < 1e-12,
      s"anti-diagonal read tau-b=${tauB(anti)}")
  }

  // ── energy-distance laws: E vanishes EXACTLY on identical multisets
  // (the three prefix-decomposed masses cancel term-by-term in FP —
  // power-of-two scaling), and equals 2|a−b| on opposing point masses ─
  test("energyDistanceFinish: 0 on identical samples, 2|a-b| on point masses") {
    import spark.implicits._
    val same = Seq((1L, 2L, 2L), (5L, 3L, 3L), (9L, 1L, 1L))
      .toDF("v", "c1", "c2")
    val e0 = graft.ops.ModelEval.energyDistanceFinish(same)
      .collect()(0).getDouble(2)
    assert(e0 == 0.0, s"identical multisets read E=$e0")
    val pts = Seq((0L, 2L, 0L), (5L, 0L, 3L)).toDF("v", "c1", "c2")
    val r = graft.ops.ModelEval.energyDistanceFinish(pts).collect()(0)
    assert(math.abs(r.getDouble(2) - 10.0) < 1e-9
      && math.abs(r.getDouble(3) - 12.0) < 1e-9,
      s"point masses read E=${r.getDouble(2)}, T=${r.getDouble(3)}")
  }

  // ── damped-holt fold law: the query's sequential fold equals a
  // driver-side replay of the recurrence bit-for-bit (same IEEE op
  // sequence per step — the q_holt_winters discipline) ────────────────
  test("q_damped_holt equals a driver-side replay of the damped recurrence") {
    val daily = graft.Tables.load(spark, sfDir, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .orderBy("day").collect().map(_.getLong(1))
    var l = daily(0).toDouble / 100.0
    var b = 0.0
    for (i <- 1 until daily.length) {
      val v = daily(i).toDouble / 100.0
      val l2 = 0.3 * v + 0.7 * (l + 0.98 * b)
      b = 0.1 * ((0.3 * v + 0.7 * (l + 0.98 * b)) - l) + 0.9 * (0.98 * b)
      l = l2
    }
    val r = q("q_damped_holt").collect()(0)
    assert(r.getLong(0) == daily.length.toLong, "n_days drifted")
    assert(r.getDouble(1) == l, s"level ${r.getDouble(1)} != replay $l")
    assert(r.getDouble(2) == b, s"trend ${r.getDouble(2)} != replay $b")
    assert(r.getDouble(3) == l + 6.461848870910719 * b, "forecast drifted")
  }
  // ── pinned-RANKED-artifact integrity: the attached prefixes equal a
  // naive window recomputation bit-for-bit (the contract every
  // row-local two-sample finish now rests on) ─────────────────────────
  test("rankedAnsari prefixes equal a naive window recomputation") {
    import org.apache.spark.sql.expressions.Window
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val art = Censuses.rankedAnsari(spark, sfDir)
      .select(col("v"), col("c1"), col("c2"), col("off1"), col("off2"),
        col("vs1").cast(dec38), col("vs2").cast(dec38))
      .collect().map(_.toString).toSet
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = Censuses.ansariCountsOf(spark, sfDir)
      .withColumn("off1", coalesce(sum(col("c1")).over(w), lit(0L)))
      .withColumn("off2", coalesce(sum(col("c2")).over(w), lit(0L)))
      .withColumn("vs1", coalesce(
        sum(col("v").cast(dec38) * col("c1")).over(w),
        lit(0).cast(dec38)).cast(dec38))
      .withColumn("vs2", coalesce(
        sum(col("v").cast(dec38) * col("c2")).over(w),
        lit(0).cast(dec38)).cast(dec38))
      .select(col("v"), col("c1"), col("c2"), col("off1"), col("off2"),
        col("vs1"), col("vs2"))
      .collect().map(_.toString).toSet
    assert(art.nonEmpty && art === naive,
      "pinned ranked census diverged from the naive window prefixes")
  }
}
