package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-pipeline text analysis over `documents` (north-star extensions).
  *
  * Generalizes the reference's only text workload — the per-character
  * counter client (`SampleClient.cpp:32-66`, ported as `q_charcount`) —
  * into the analysis passes a training-data pipeline runs per document:
  * token statistics, language-ID scoring, quality scoring, token counting,
  * and content fingerprinting.
  *
  * Everything here is a narrow per-row projection (no shuffle) except the
  * token-frequency aggregations, which are partial+final hash aggs over a
  * bounded key space — both shapes hold unchanged at 100 TB.
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Shared per-doc n-gram censuses for the BLEU family (round 11):
    * q_bleu_pairs and q_bleu_corpus build the IDENTICAL per-doc
    * unigram and bigram count censuses — each an [[Artifacts.pinned]]
    * frame, built once per (session, dir) and read by both readouts.
    */
  private def bleuTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))

  private val bleuUnigrams = Artifacts.pinned { (s, dir) =>
    bleuTokens(s, dir).select(col("doc_id"), explode(col("toks")).as("g"))
      .filter(col("g") =!= "")
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
  }

  private val bleuBigrams = Artifacts.pinned { (s, dir) =>
    bleuTokens(s, dir).select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
           THEN transform(sequence(0, size(toks) - 2),
                  i -> struct(toks[i] AS x, toks[i+1] AS y))
           ELSE array() END""")).as("bg"))
      .filter(col("bg.x") =!= "" && col("bg.y") =!= "")
      .select(col("doc_id"),
        concat(col("bg.x"), lit(" "), col("bg.y")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
  }

  val queries: Seq[Q] = Seq(

    // ── corpus token statistics: top-20 tokens by frequency ──────────────
    // explode fans out ~#tokens rows but partial aggregation collapses to
    // the (tiny) vocabulary before the shuffle; final top-20 is a
    // TakeOrderedAndProject, never a global sort.
    Q("q_text_stats",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20),
      Some("""SELECT token, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
              WHERE token <> ''
              GROUP BY token ORDER BY cnt DESC, token LIMIT 20""")),

    // ── per-language corpus stats ────────────────────────────────────────
    Q("q_lang_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(size(split(col("text"), " "))).cast("long").as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                COUNT(DISTINCT source) AS n_sources
              FROM documents GROUP BY lang ORDER BY lang""")),

    // ── language-ID: marker-token scoring heuristic ──────────────────────
    // Real pipelines use char-n-gram models; the deterministic, SQL-
    // checkable skeleton is marker-token frequency scoring with a fixed
    // tie-break order. (The synthetic corpus shares one vocabulary across
    // langs, so scores tie — the mechanism, not the accuracy, is under
    // test; swap the marker lists for real stopword tables in production.)
    Q("q_lang_id",
      (s, dir) => {
        val score = (markers: Seq[String]) =>
          markers.map(m => size(filter(split(col("text"), " "),
            x => x === lit(m))).cast("long")).reduce(_ + _)
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            score(Seq("the", "a", "of")).as("s_en"),
            score(Seq("el", "la", "de")).as("s_es"),
            score(Seq("der", "die", "das")).as("s_de"))
          .withColumn("guess",
            when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
              .when(col("s_es") >= col("s_de"), "es")
              .otherwise("de"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
                CAST(len(list_filter(string_split(text,' '), x -> x = 'the'))
                   + len(list_filter(string_split(text,' '), x -> x = 'a'))
                   + len(list_filter(string_split(text,' '), x -> x = 'of')) AS BIGINT) AS s_en,
                CAST(len(list_filter(string_split(text,' '), x -> x = 'el'))
                   + len(list_filter(string_split(text,' '), x -> x = 'la'))
                   + len(list_filter(string_split(text,' '), x -> x = 'de')) AS BIGINT) AS s_es,
                CAST(len(list_filter(string_split(text,' '), x -> x = 'der'))
                   + len(list_filter(string_split(text,' '), x -> x = 'die'))
                   + len(list_filter(string_split(text,' '), x -> x = 'das')) AS BIGINT) AS s_de,
                CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                     WHEN s_es >= s_de THEN 'es'
                     ELSE 'de' END AS guess
              FROM documents ORDER BY doc_id""")),

    // ── document quality scoring ─────────────────────────────────────────
    // length / mean token length / vocabulary (type-token) ratio /
    // stopword ratio, combined into one score. All inputs are exact
    // integers, each ratio is a single double division, and the score
    // formula is written identically on both sides → bit-stable.
    Q("q_quality_score",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("n_chars"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          size(filter(col("toks"),
            x => x.isin("the", "a", "of", "and"))).cast("long").as("n_stop"),
          expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").as("tok_chars"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_uniq"),
          col("n_stop"),
          (col("tok_chars") / col("n_tokens")).as("mean_tok_len"),
          (col("n_uniq") / col("n_tokens")).as("ttr"),
          (col("n_stop") / col("n_tokens")).as("stop_ratio"))
        .withColumn("quality",
          col("ttr") * 0.5 + col("stop_ratio") * 0.3
            + when(col("n_tokens") >= 20 && col("n_tokens") <= 1000, 0.2).otherwise(0.0))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                CAST(len(list_filter(toks,
                  x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
                list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_tok_len,
                len(list_distinct(toks)) / len(toks) AS ttr,
                len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) / len(toks) AS stop_ratio,
                (len(list_distinct(toks)) / len(toks)) * 0.5
                  + (len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) / len(toks)) * 0.3
                  + CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 0.2 ELSE 0.0 END AS quality
              FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
              ORDER BY doc_id""")),

    // ── token counting: whitespace, regex-BPE-ish, chars-per-4 estimate ──
    Q("q_token_count",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
          ceil(col("n_chars") / 4.0).cast("long").as("est_bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens,
                CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
              FROM documents ORDER BY doc_id""")),

    // ── explode_outer: lateral expansion preserving empty-array rows ─────
    // Docs keep a row (null token) even when they have no long tokens —
    // the outer-generator semantics a plain explode silently drops.
    // Null group keyed as '∅' so Spark/DuckDB null-ordering differences
    // can't affect the ORDER BY.
    Q("q_explode_outer",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 6).as("long_toks"))
        .select(col("doc_id"), explode_outer(col("long_toks")).as("tok"))
        .groupBy(coalesce(col("tok"), lit("∅")).as("token"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("token"),
      Some("""SELECT COALESCE(tok, '∅') AS token, count(*) AS cnt,
                count(DISTINCT doc_id) AS n_docs
              FROM (SELECT doc_id,
                      unnest(CASE WHEN len(lt) = 0
                             THEN [CAST(NULL AS VARCHAR)] ELSE lt END) AS tok
                    FROM (SELECT doc_id,
                            list_filter(string_split(text, ' '),
                                        x -> length(x) > 6) AS lt
                          FROM documents))
              GROUP BY 1 ORDER BY 1""")),

    // ── content fingerprinting ───────────────────────────────────────────
    // Two fingerprints per doc: order-insensitive md5 of the sorted
    // distinct token set (bag fingerprint) and an order-SENSITIVE rolling
    // polynomial hash mod 1e9+7 (sequence fingerprint) — both engines fold
    // left-to-right over the same token sequence.
    Q("q_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("fp_bag"),
          expr("aggregate(toks, 0L, (acc, x) -> (acc * 31 + ascii(x)) % 1000000007)")
            .as("fp_seq"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(toks, x -> CAST(ascii(x) AS BIGINT))),
                  (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_seq
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
              ORDER BY doc_id""")),

    // ── TF-IDF top-5 terms per document ──────────────────────────────────
    // Raw tf-idf = tf × N / df (no log: ×/÷ are exact-rounded IEEE ops in
    // both engines, so the oracle matches bit-for-bit; a production
    // variant applies log to the same ratio). df comes from a partial-
    // aggregated vocab rollup; the tf ⋈ df join keys on token with NO
    // broadcast hint — vocabulary grows with the corpus. Top-5 per doc is
    // a row-local slice of a sort_array'd collect_list whose size is
    // bounded by the DOCUMENT's own distinct-token count — never a
    // window sort of the whole (doc, token) relation.
    Q("q_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // persist: tf feeds BOTH the df census and the score join —
        // without it the explode+groupBy subtree runs twice (the
        // canonical "materialize the TF matrix" move of every IR stack)
        val tf = Artifacts.persist(docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
        tf.join(dfreq, "tok")
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("tok"),
            (col("tf").cast("double") * col("n_docs").cast("double")
              / col("df").cast("double")).as("score"))
          .groupBy("doc_id")
          .agg(slice(sort_array(collect_list(
            struct(negate(col("score")).as("ns"), col("tok")))), 1, 5).as("top"))
          .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("doc_id"), col("t.tok").as("tok"),
            negate(col("t.ns")).as("score"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              t AS (SELECT doc_id, tok, count(*) AS tf
                    FROM toks WHERE tok <> '' GROUP BY 1, 2),
              d AS (SELECT tok, count(*) AS df FROM t GROUP BY 1),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              sc AS (SELECT t.doc_id, t.tok,
                       CAST(t.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                         / CAST(d.df AS DOUBLE) AS score
                     FROM t JOIN d USING (tok) CROSS JOIN n),
              r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, tok) AS BIGINT) AS rk FROM sc)
              SELECT doc_id, tok, score, rk FROM r
              WHERE rk <= 5 ORDER BY doc_id, rk""")),

    // ── collocation mining: top-20 adjacent bigrams by lift ─────────────
    // Lift = p(xy) / (p(x)·p(y)) computed as the exact-IEEE ratio
    // ((c_xy·N_uni)·N_uni) / ((N_bi·c_x)·c_y) — no log, so the oracle is
    // bit-exact (PMI = log(lift) is a monotone transform; production
    // applies it after ranking). Bigram/unigram counts are partial-
    // aggregated; the count⋈count joins key on token (vocab-sized — no
    // broadcast hint); final top-20 is a TakeOrderedAndProject.
    Q("q_collocations",
      (s, dir) => {
        val tl = t(s, dir, "documents").select(split(col("text"), " ").as("toks"))
        // DERIVE the stream totals from the censuses (n_uni = Σc,
        // n_bi = Σc_xy): the unigram census feeds both join sides + its
        // total, the bigram census the main frame + its total
        val uni = tl.select(explode(col("toks")).as("tok")).filter(col("tok") =!= "")
        val u = uni.groupBy("tok").agg(count(lit(1)).as("c"))
        val nUni = u.agg(sum(col("c")).as("n_uni"))
        val bi = tl.select(explode(expr(
            """CASE WHEN size(toks) >= 2
               THEN transform(sequence(0, size(toks) - 2),
                      i -> struct(toks[i] AS x, toks[i+1] AS y))
               ELSE array() END""")).as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .filter(col("x") =!= "" && col("y") =!= "")
        val bc = bi.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
        val nBi = bc.agg(sum(col("c_xy")).as("n_bi"))
        bc.filter(col("c_xy") >= 5)
          .join(u.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
          .join(u.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
          .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
          .select(col("x"), col("y"), col("c_xy"),
            (col("c_xy").cast("double") * col("n_uni").cast("double")
              * col("n_uni").cast("double")
              / (col("n_bi").cast("double") * col("c_x").cast("double")
                * col("c_y").cast("double"))).as("lift"))
          .orderBy(col("lift").desc, col("x"), col("y"))
          .limit(20)
      },
      Some("""WITH tl AS (SELECT string_split(text, ' ') AS toks FROM documents),
              uni AS (SELECT unnest(toks) AS tok FROM tl),
              u AS (SELECT tok, count(*) AS c FROM uni WHERE tok <> '' GROUP BY 1),
              nu AS (SELECT count(*) AS n_uni FROM uni WHERE tok <> ''),
              bi0 AS (SELECT unnest([{'x': toks[i], 'y': toks[i+1]}
                        for i in generate_series(1, len(toks) - 1)]) AS b
                      FROM tl WHERE len(toks) >= 2),
              bi AS (SELECT b.x AS x, b.y AS y FROM bi0
                     WHERE b.x <> '' AND b.y <> ''),
              nb AS (SELECT count(*) AS n_bi FROM bi),
              bc AS (SELECT x, y, count(*) AS c_xy FROM bi
                     GROUP BY 1, 2 HAVING count(*) >= 5)
              SELECT bc.x, bc.y, bc.c_xy,
                CAST(bc.c_xy AS DOUBLE) * CAST(nu.n_uni AS DOUBLE)
                  * CAST(nu.n_uni AS DOUBLE)
                  / (CAST(nb.n_bi AS DOUBLE) * CAST(ux.c AS DOUBLE)
                    * CAST(uy.c AS DOUBLE)) AS lift
              FROM bc JOIN u ux ON ux.tok = bc.x
                      JOIN u uy ON uy.tok = bc.y
                      CROSS JOIN nu CROSS JOIN nb
              ORDER BY lift DESC, x, y LIMIT 20""")),

    // ── deterministic stratified downsampling ────────────────────────────
    // The training-mix op: keep 1/2 of en, 1/5 of zh, 1/3 of everything
    // else (a stand-in mix config), selected by a RESIDUE RULE on the
    // key — a pure row-local filter: no shuffle, no RNG, exactly
    // reproducible across reruns and engines, and the filter pushes all
    // the way into the scan.
    Q("q_stratified_sample",
      (s, dir) => {
        val modulus = when(col("lang") === "en", 2L)
          .when(col("lang") === "zh", 5L)
          .otherwise(3L)
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), modulus) === 0)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars
              FROM documents
              WHERE doc_id % (CASE lang WHEN 'en' THEN 2
                              WHEN 'zh' THEN 5 ELSE 3 END) = 0
              ORDER BY doc_id""")),

    // ── BM25 retrieval scoring per (doc, query-term) ─────────────────────
    // The ranking function behind corpus search / quality-by-query
    // filtering. k1 = 1.2, b = 0.75. The idf factor is the exact RATIO
    // (N - df + 0.5)/(df + 0.5) — production takes log(idf) AFTER
    // ranking (monotone per term; scores here are emitted per (doc,term),
    // never summed across terms, so the transform commutes). Every
    // double op is written in the identical order on both engines, and
    // avgdl comes from exact integer sums, so the scores are bit-equal.
    // Scale shape: tf is a partial-aggregated (doc,term) count over the
    // term-filtered token stream (the filter prunes the explode fan-out
    // to query-term hits only); df and the corpus stats are constant-size
    // broadcasts (≤ |query terms| rows, 1 row); dl joins on doc_id — the
    // only data-sized shuffle. No windows.
    Q("q_bm25",
      (s, dir) => {
        val qterms = Seq("join", "hash", "scan")
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        // persist: dl feeds the corpus stats AND the score join — the
        // doc-length census is doc-bounded, caching it halves the
        // corpus explode passes
        val dl = Artifacts.persist(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
        val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
        val tf = toks.filter(col("tok").isin(qterms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))
        val score = idf * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        tf.join(broadcast(dfreq), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("tok"), col("tf"), score.as("score"))
          .orderBy("doc_id", "tok")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              tk AS (SELECT * FROM toks WHERE tok <> ''),
              dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
              st AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk
                     WHERE tok IN ('join', 'hash', 'scan') GROUP BY 1, 2),
              df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
              SELECT t.doc_id, t.tok, t.tf,
                ((CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5))
                * (CAST(t.tf AS DOUBLE) * 2.2)
                / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                    / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) AS score
              FROM tf t JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
              ORDER BY doc_id, tok""")),

    // ── PII scrubbing: redact numeric payload values ─────────────────────
    // The redaction pass a corpus pipeline runs before publication: mask
    // every digit run in the event payload and count the redactions.
    // Pure per-row projection (regexp_replace + regexp_count are both
    // codegen'd) — no shuffle, holds at any scale. The digit-run pattern
    // is the lowest common denominator of the Java and RE2 regex
    // dialects, so Spark and DuckDB agree byte-for-byte.
    Q("q_pii_scrub",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<num>").as("scrubbed"),
          regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_redacted"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                regexp_replace(props, '[0-9]+', '<num>', 'g') AS scrubbed,
                CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
              FROM events ORDER BY event_id""")),

    // ── end-to-end corpus cleaning pipeline ──────────────────────────────
    // The composed emission of a training-data prep stage: language
    // whitelist → length/quality gate → exact dedup (canonical = min
    // doc_id per md5 group) → per-(lang, source) corpus accounting.
    // Composition keeps the single-pass shape: the whitelist + length
    // filters push into the scan, dedup is one hash-partitioned agg, and
    // the final accounting re-aggregates the (already tiny) canonical
    // set. dups_removed audits exactly how many documents the stage ate.
    Q("q_corpus_pipeline",
      (s, dir) => {
        val kept = t(s, dir, "documents")
          .filter(col("lang").isin("en", "zh", "de"))
          .filter(col("n_chars") >= 60 && col("n_chars") <= 400)
        val canonical = kept
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        canonical
          .join(kept.select("doc_id", "lang", "source", "n_chars"), "doc_id")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("dup_cnt") - lit(1)).as("dups_removed"))
          .orderBy("lang", "source")
      },
      Some("""WITH kept AS (
                SELECT * FROM documents
                WHERE lang IN ('en', 'zh', 'de')
                  AND n_chars >= 60 AND n_chars <= 400),
              canonical AS (
                SELECT md5(text) AS h, min(doc_id) AS doc_id,
                  count(*) AS dup_cnt
                FROM kept GROUP BY 1)
              SELECT k.lang, k.source, count(*) AS n_docs,
                CAST(SUM(k.n_chars) AS BIGINT) AS total_chars,
                CAST(SUM(c.dup_cnt - 1) AS BIGINT) AS dups_removed
              FROM canonical c JOIN kept k USING (doc_id)
              GROUP BY 1, 2 ORDER BY lang, source""")),

    // ── repetition signals: duplicate n-gram mass per document ───────────
    // The Gopher-style repetition filters (Rae et al. 2021, appendix A):
    // the fraction of a document's 5-grams that are repeats, and the
    // share of its bigram mass taken by the single most frequent bigram.
    // Templated spam, boilerplate, and decode loops score high and get
    // culled before training. Shape: n-grams fan out ROW-LOCALLY (a
    // higher-order transform over the token array — no self-join), then
    // partial+final hash aggs keyed (doc_id, gram) / doc_id — fully
    // distributed at any corpus size. Ratios are single IEEE divisions
    // of exact integers, identical in both engines, so the oracle is
    // bit-stable. Short docs (< n tokens) yield no n-grams by the
    // when()-guard (sequence(0, negative) would generate a DESCENDING
    // range, not an empty one) and drop from the output on both sides.
    Q("q_repetition",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tok"))
        def grams(n: Int) = explode(when(size(col("tok")) >= n,
          transform(sequence(lit(0), size(col("tok")) - n),
            i => concat_ws(" ", slice(col("tok"), i + 1, lit(n)))))
          .otherwise(array())).as("gram")
        val five = toks.select(col("doc_id"), grams(5))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n5"), countDistinct(col("gram")).as("d5"))
        val bi = toks.select(col("doc_id"), grams(2))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("nb"), max(col("c")).as("topb"))
        five.join(bi, "doc_id")
          .select(col("doc_id"),
            ((col("n5") - col("d5")).cast("double") / col("n5")).as("dup5_frac"),
            (col("topb").cast("double") / col("nb")).as("top_bigram_share"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
              five AS (
                SELECT doc_id, count(*) AS n5, count(DISTINCT gram) AS d5
                FROM (SELECT doc_id, array_to_string(tok[i:i+4], ' ') AS gram
                      FROM (SELECT doc_id, tok,
                              unnest(generate_series(1, len(tok) - 4)) AS i
                            FROM toks))
                GROUP BY 1),
              bi AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
                  CAST(max(c) AS BIGINT) AS topb
                FROM (SELECT doc_id, gram, count(*) AS c
                      FROM (SELECT doc_id, array_to_string(tok[i:i+1], ' ') AS gram
                            FROM (SELECT doc_id, tok,
                                    unnest(generate_series(1, len(tok) - 1)) AS i
                                  FROM toks))
                      GROUP BY 1, 2)
                GROUP BY 1)
              SELECT f.doc_id,
                CAST(f.n5 - f.d5 AS DOUBLE) / f.n5 AS dup5_frac,
                CAST(b.topb AS DOUBLE) / b.nb AS top_bigram_share
              FROM five f JOIN bi b USING (doc_id)
              ORDER BY doc_id""")),

    // ── RAG/context chunking: overlapping token windows per document ─────
    // The retrieval-prep op every RAG/embedding pipeline runs: each doc
    // splits into 32-token chunks on a 24-token stride (8-token overlap
    // so no boundary sentence is lost). Entirely ROW-LOCAL — a sequence
    // of starts + slice per start, exploded; no shuffle anywhere until a
    // downstream embed/groupBy. Chunk identity is (doc_id, chunk_id =
    // start/stride), the stable key the embedding index carries. The
    // trailing chunk clamps at the doc end in both engines.
    Q("q_chunking",
      (s, dir) => {
        val stride = 24
        val width = 32
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tok"))
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), size(col("tok")) - 1, lit(stride)),
              st => struct((st / stride).cast("long").as("chunk_id"),
                concat_ws(" ", slice(col("tok"), st + 1, lit(width))).as("chunk_text"),
                least(size(col("tok")) - st, lit(width)).cast("long").as("n_chunk_tokens")))).as("c"))
          .select(col("doc_id"), col("c.chunk_id"), col("c.n_chunk_tokens"),
            col("c.chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""SELECT doc_id, CAST((st - 1) / 24 AS BIGINT) AS chunk_id,
                CAST(LEAST(len(tok) - (st - 1), 32) AS BIGINT) AS n_chunk_tokens,
                array_to_string(tok[st:st+31], ' ') AS chunk_text
              FROM (SELECT doc_id, tok,
                      unnest(generate_series(1, len(tok), 24)) AS st
                    FROM (SELECT doc_id, string_split(text, ' ') AS tok
                          FROM documents))
              ORDER BY doc_id, chunk_id""")),

    // ── exact heavy hitters via a Misra-Gries candidate pass ─────────────
    // Tokens with frequency > n/32, computed in TWO corpus passes and
    // zero full-vocabulary shuffles: pass 1 is one `graft_mg` sketch agg
    // (plus the token total, same agg) whose partials are ≤ k counters —
    // the mergeable-summaries guarantee (k = 64 > 2×32) says no
    // qualifying token can be missing; pass 2 exact-counts ONLY the ≤ k
    // candidates behind a constant-size broadcast semi-filter. At 100 TB
    // this is the difference between shuffling the open vocabulary's
    // long tail and shuffling ≤ 64 keys. Output is exact, so the oracle
    // is the plain GROUP BY ... HAVING the sketch pass avoided.
    Q("q_heavy_hitters",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        val toks = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val sketch = toks.agg(
          call_function("graft_mg", col("token"), lit(64)).as("cands"),
          count(lit(1)).as("total"))
        val cands = sketch.select(explode(col("cands")).as("token"), col("total"))
        toks.join(broadcast(cands), "token")
          .groupBy("token", "total").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 32 > col("total"))
          .select(col("token"), col("cnt"))
          .orderBy("token")
      },
      Some("""WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents),
              nz AS (SELECT token FROM toks WHERE token <> '')
              SELECT token, count(*) AS cnt FROM nz
              GROUP BY token HAVING count(*) * 32 > (SELECT count(*) FROM nz)
              ORDER BY token""")),

    // ── impact-ordered inverted index (bounded posting lists) ────────────
    // The retrieval-side artifact BM25 scoring reads: per token, document
    // frequency plus the top-100 postings by (tf DESC, doc_id) serialized
    // "doc:tf,doc:tf,…". The per-token cap is the scale decision —
    // impact-ordered index pruning: `graft_topk` carries AT MOST 100
    // postings per (partition × token) across the shuffle, so a stopword
    // whose full posting list is corpus-sized (millions of docs at
    // 100 TB) still costs k rows, not df rows. df stays exact (count in
    // the same agg). Postings serialize to ONE string so the row stays
    // flat-columnar; order inside the string is part of the value
    // (tf desc, doc asc — TopKAggregator's exact output order).
    Q("q_inverted_index",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
          .groupBy("token")
          .agg(count(lit(1)).as("df"),
            call_function("graft_topk",
              col("doc_id"), col("tf").cast("double"), lit(100)).as("top"))
          .select(col("token"), col("df"),
            concat_ws(",", expr(
              "transform(top, x -> concat(x.id, ':', CAST(x.score AS BIGINT)))"))
              .as("postings"))
          .orderBy("token")
      },
      Some("""WITH tf AS (
                SELECT token, doc_id, count(*) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents)
                WHERE token <> '' GROUP BY 1, 2),
              d AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              r AS (SELECT *, row_number() OVER (
                      PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
                    FROM tf)
              SELECT r.token, d.df,
                string_agg(r.doc_id || ':' || r.tf, ',' ORDER BY r.tf DESC, r.doc_id)
                  AS postings
              FROM r JOIN d USING (token) WHERE rn <= 100
              GROUP BY r.token, d.df ORDER BY r.token""")),

    // ── bigram language-model counts (conditional probabilities) ─────────
    // The n-gram LM estimation pass: corpus bigram counts joined to the
    // left-unigram counts, conditional probability p(w2|w1) = c(w1,w2) /
    // c(w1·) as one division of two exact BIGINTs — bit-stable. Bigram
    // fan-out is row-local (a zip of the token array with its tail, no
    // explode-then-self-join); both aggs partial-combine to vocabulary²
    // (bounded) before shuffling; the unigram side joins un-hinted —
    // vocabulary grows with the corpus. Top-20 by raw count under a
    // total order.
    Q("q_ngram_lm",
      (s, dir) => {
        val bi = t(s, dir, "documents")
          .select(expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(explode(expr(
            // size<2 guard: sequence(1, 0) DESCENDS in Spark, it is not empty
            """transform(
                 CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
                      ELSE array() END,
                 i -> struct(toks[i - 1] AS w1, toks[i] AS w2))""")).as("b"))
          .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .agg(count(lit(1)).as("c_bigram"))
        val uni = bi.groupBy("w1").agg(sum(col("c_bigram")).as("c_left"))
        bi.join(uni, "w1")
          .select(col("w1"), col("w2"), col("c_bigram"), col("c_left"),
            (col("c_bigram").cast("double") / col("c_left").cast("double"))
              .as("p_cond"))
          .orderBy(col("c_bigram").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH toks AS (
                SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents),
              bi AS (
                SELECT tk[i] AS w1, tk[i + 1] AS w2
                FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM toks)),
              bc AS (SELECT w1, w2, count(*) AS c_bigram FROM bi GROUP BY 1, 2),
              uc AS (SELECT w1, CAST(SUM(c_bigram) AS BIGINT) AS c_left
                     FROM bc GROUP BY 1)
              SELECT w1, w2, c_bigram, c_left,
                CAST(c_bigram AS DOUBLE) / CAST(c_left AS DOUBLE) AS p_cond
              FROM bc JOIN uc USING (w1)
              ORDER BY c_bigram DESC, w1, w2 LIMIT 20""")),

    // ── order-insensitive table checksum (data-validation census) ────────
    // The 100-TB data-validation op: a per-source content checksum that
    // any two runs (or two clusters, or a pre/post-migration pair) can
    // compare without ordering guarantees. Row fingerprint = the rolling
    // polynomial hash of the text (q_fingerprint's fp_seq) mixed with
    // doc_id; the source checksum is a commutative fold of row
    // fingerprints, so partition order, shuffle order and partial
    // aggregation cannot change it. Two folds: XOR (overflow-free at ANY
    // row count — the primary 100-TB checksum) and SUM (catches the
    // paired-duplicate rows XOR cancels; terms < 1e9+7, so the BIGINT sum
    // is exact up to ~8×10⁹ rows per source — past that, re-mod the
    // partial sums per shard before the final merge).
    Q("q_table_checksum",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          expr("""(aggregate(split(text, ' '), 0L,
                    (acc, x) -> (acc * 31 + ascii(x)) % 1000000007)
                  * 131 + doc_id % 1000000007) % 1000000007""").as("row_h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(row_h)").as("checksum_xor"),
          sum(col("row_h")).as("checksum_sum"))
        .orderBy("source"),
      Some("""WITH h AS (
                SELECT source,
                  (list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(text, ' '),
                       x -> CAST(ascii(x) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 1000000007)
                   * 131 + doc_id % 1000000007) % 1000000007 AS row_h
                FROM documents)
              SELECT source, count(*) AS n_rows,
                bit_xor(row_h) AS checksum_xor,
                CAST(SUM(row_h) AS BIGINT) AS checksum_sum
              FROM h GROUP BY 1 ORDER BY source""")),

    // ── corpus-LM document scoring (mean bigram conditional prob) ────────
    // The LM-based quality filter: score every document by the mean
    // conditional probability of its bigrams under the corpus's own
    // bigram model (the log-free twin of a perplexity filter — log/exp
    // are not bit-stable across engines; the mean of exact-division
    // probabilities is). Shape at scale: bigram fan-out is row-local;
    // the model (bigram + left-unigram counts) is a partial-agg'd table
    // that GROWS with the corpus → the score join is un-hinted and
    // hash-partitions on (w1, w2); the per-doc fold adds each doc's ≤L
    // probabilities in POSITION order (sorted-array left fold — FP
    // addition order pinned in both engines), then one division.
    Q("q_lm_score",
      (s, dir) => {
        val docBi = t(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("doc_id"), explode(expr(
            // size<2 guard: sequence(1, 0) DESCENDS in Spark, it is not empty
            """transform(
                 CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
                      ELSE array() END,
                 i -> struct(i AS pos, toks[i - 1] AS w1, toks[i] AS w2))""")).as("b"))
          .select(col("doc_id"), col("b.pos"), col("b.w1"), col("b.w2"))
        val bi = docBi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
        val uni = bi.groupBy("w1").agg(sum(col("c_bigram")).as("c_left"))
        docBi
          .join(bi, Seq("w1", "w2"))
          .join(uni, Seq("w1"))
          .select(col("doc_id"), struct(col("pos"),
            (col("c_bigram").cast("double") / col("c_left").cast("double"))
              .as("p")).as("bp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (expr("aggregate(array_sort(collect_list(bp)), CAST(0 AS DOUBLE), (a, x) -> a + x.p)")
              / count(lit(1))).as("lm_mean"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents),
              docbi AS (
                SELECT doc_id, i AS pos, tk[i] AS w1, tk[i + 1] AS w2
                FROM (SELECT doc_id, tk,
                        unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM toks)),
              bc AS (SELECT w1, w2, count(*) AS c_bigram FROM docbi GROUP BY 1, 2),
              uc AS (SELECT w1, CAST(SUM(c_bigram) AS BIGINT) AS c_left
                     FROM bc GROUP BY 1),
              p AS (
                SELECT d.doc_id, d.pos,
                  CAST(bc.c_bigram AS DOUBLE) / CAST(uc.c_left AS DOUBLE) AS p
                FROM docbi d JOIN bc USING (w1, w2) JOIN uc USING (w1))
              SELECT doc_id, count(*) AS n_bigrams,
                list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
                  (a, x) -> a + x) / count(*) AS lm_mean
              FROM p GROUP BY 1 ORDER BY doc_id""")),

    // ── tokenizer fertility census (tokens per char by lang × source) ────
    // The tokenizer-budget planning table: how many tokens a corpus
    // slice costs per character — the fertility number that sizes
    // context windows and compares tokenizers across languages. Token
    // and char counts are row-local integer projections feeding one
    // partial+final agg; fertility is a single IEEE division of
    // identical BIGINT-cast operands. Group key space is |langs|×
    // |sources| — constant, so the final sort is trivial at any SF.
    Q("q_tokenizer_fertility",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("size(filter(split(text, ' '), x -> x <> ''))")
            .cast("long").as("tok"),
          length(col("text")).cast("long").as("chars"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("tot_tokens"),
          sum(col("chars")).as("tot_chars"),
          (sum(col("tok")).cast("double")
            / sum(col("chars")).cast("double")).as("fertility"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
                CAST(SUM(len(list_filter(string_split(text, ' '),
                  x -> x <> ''))) AS BIGINT) AS tot_tokens,
                CAST(SUM(length(text)) AS BIGINT) AS tot_chars,
                CAST(SUM(len(list_filter(string_split(text, ' '),
                  x -> x <> ''))) AS DOUBLE)
                  / CAST(SUM(length(text)) AS DOUBLE) AS fertility
              FROM documents GROUP BY 1, 2 ORDER BY lang, source""")),

    // ── DSIR-style importance weights (data selection for LM training) ───
    // Data Selection via Importance Resampling (Xie et al., 2023) in its
    // exact-count form: score every document by the mean ratio of
    // target-distribution to corpus-distribution token probability
    // (target = the English slice). Each ratio is ONE division of two
    // exact BIGINT products — (ct·TN)/(cn·TT) — so it is bit-stable;
    // the per-doc mean folds the ratios in sorted (token, ratio) order
    // (position-pinned FP, the q_lm_score discipline). Shape at scale:
    // count tables GROW with the corpus → both vocab joins are un-hinted
    // hash joins on the token; the (TT, TN) scalar is the one 1-row
    // broadcast. Production DSIR hashes n-grams into a fixed bucket
    // space — the swap-in keeps this exact plan, only the key changes.
    Q("q_dsir_weights",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
        // persist the two vocab censuses and DERIVE the stream totals
        // from them (tt = Σct, tn = Σcn): the corpus token stream was
        // exploded four times (tc, cc, tot, main join) — now the tot
        // consumer reads census caches and only tc/cc/main pay explodes
        val tc = Artifacts.persist(toks.filter(col("lang") === "en")
          .groupBy("w").agg(count(lit(1)).as("ct")))
        val cc = Artifacts.persist(toks.groupBy("w").agg(count(lit(1)).as("cn")))
        val tot = tc.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
          .crossJoin(cc.agg(sum(col("cn")).as("tn")))
        toks
          .join(tc, Seq("w"), "left")
          .join(cc, Seq("w"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), struct(col("w"),
            ((coalesce(col("ct"), lit(0L)) * col("tn")).cast("double")
              / (col("cn") * col("tt")).cast("double")).as("ratio")).as("wr"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            (expr("""aggregate(array_sort(collect_list(wr)),
                       CAST(0 AS DOUBLE), (a, x) -> a + x.ratio)""")
              / count(lit(1))).as("dsir_score"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id, lang,
                  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS w
                FROM documents),
              tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ct
                     FROM toks WHERE lang = 'en' GROUP BY 1),
              cc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cn
                     FROM toks GROUP BY 1),
              tot AS (SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
                 WHERE lang = 'en') AS tt,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS tn),
              sc AS (
                SELECT t.doc_id, t.w,
                  CAST(COALESCE(tc.ct, 0) * tot.tn AS DOUBLE)
                    / CAST(cc.cn * tot.tt AS DOUBLE) AS ratio
                FROM toks t LEFT JOIN tc ON t.w = tc.w
                  JOIN cc ON t.w = cc.w, tot)
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(ratio ORDER BY w, ratio)),
                  (a, x) -> a + x) / COUNT(*) AS dsir_score
              FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // ── vocabulary-growth curve (Heaps' law readout) ─────────────────────
    // How fast does the corpus vocabulary grow as documents stream in?
    // The curation readout behind "is more data still adding new
    // tokens": bucket the corpus into 10 equal doc-id deciles and count
    // tokens FIRST SEEN in each, plus the running vocabulary size. One
    // explode → min-agg by token (partial agg collapses the fan-out to
    // the vocabulary before the shuffle, the q_text_stats discipline),
    // then a 10-row window — the 100-TB cost is the token agg, which is
    // exactly one shuffle of the (bounded) vocabulary. The decile edge
    // comes from max(doc_id) via a 1-row cross join, not a driver
    // collect. All-integer output.
    Q("q_vocab_growth",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nd = docs.agg((max(col("doc_id")) + 1).cast("long").as("nd"))
        // bigram vocabulary: the unigram vocab of a corpus saturates in
        // the first slice; bigrams are the smallest unit whose growth
        // curve still discriminates "more data adds coverage"
        val firsts = docs
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("doc_id"), explode(expr(
            """transform(
                 CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
                      ELSE array() END,
                 i -> concat(toks[i - 1], ' ', toks[i]))""")).as("gram"))
          .groupBy("gram")
          .agg(min(col("doc_id")).as("first_doc"))
        import org.apache.spark.sql.expressions.Window
        firsts.crossJoin(broadcast(nd))
          .select(expr("(first_doc * 10) div nd").cast("long").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("new_grams"))
          .select(col("bucket"), col("new_grams"),
            sum(col("new_grams"))
              .over(Window.orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("long").as("cum_vocab"))
          .orderBy("bucket")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents),
              grams AS (
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
                FROM (SELECT doc_id, tk,
                        unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM toks)),
              firsts AS (
                SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1),
              n AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
              b AS (
                SELECT (first_doc * 10) // (SELECT nd FROM n) AS bucket,
                  COUNT(*) AS new_grams
                FROM firsts GROUP BY 1)
              SELECT CAST(bucket AS BIGINT) AS bucket, new_grams,
                CAST(SUM(new_grams) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_vocab
              FROM b ORDER BY bucket""")),

    // ── per-source compression-ratio census (redundancy signal) ──────────
    // The classic cheap quality filter: Deflate size ÷ original size per
    // document (boilerplate and template spam compress far below prose,
    // random noise above it), rolled up per source. The kernel is the
    // codegen'd `graft_deflate_len` expression — a narrow per-row
    // projection with NO shuffle except the final per-source agg, so the
    // shape is scan-bound at any corpus size. Ratio is exact integer
    // permille (clen·1000 div olen); the mean is one double division.
    // No DuckDB oracle (zlib is not a SQL primitive) — spec-pinned
    // bounds and ordering invariants in DeflateSpec instead.
    Q("q_compression_ratio",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          expr("graft_deflate_len(text)").cast("long").as("clen"),
          length(col("text")).cast("long").as("olen"))
        .filter(col("olen") > 0)
        .select(col("source"), expr("(clen * 1000) div olen").as("permille"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min(col("permille")).cast("long").as("min_permille"),
          max(col("permille")).cast("long").as("max_permille"),
          (sum(col("permille")).cast("double") / count(lit(1)))
            .as("avg_permille"))
        .orderBy("source"),
      None),

    // ── NDCG@10 ranking-quality evaluation per source ────────────────────
    // The retrieval-eval metric behind every ranker comparison, made
    // hash-exact: graded relevance rel = 1 + doc_id mod 4 (a deterministic, never-
    // all-zero
    // stand-in for human labels), the ranking under test orders each
    // source's docs by (n_chars DESC, doc_id), and the log2 position
    // discounts 1/log2(i+1) are FIXED 10⁻⁹ literals — transcendentals
    // evaluated at authoring time, so DCG = Σ rel·D(i) stays pure
    // int64 and NDCG = DCG/IDCG is the single IEEE division. Both the
    // ranking under test and the ideal ranking are top-10-per-source —
    // the bounded-heap graft_topk aggregator, NOT a window sort: the
    // shuffle carries ≤10 rows per (task × source) where a window rank
    // would sort every doc on |sources| tasks. The heap's (score DESC,
    // id ASC) contract is exactly the oracle's row_number ordering, and
    // rel is recomputed row-locally from the surviving doc_id — via the
    // Knuth hash (doc_id·2654435761) div 2¹⁶ mod 4: a plain doc_id mod 4 is
    // CONSTANT within a source (ids stride by the source count, and the
    // stride divides 4 so even the hashed LOW bits repeat), which
    // made every source's ranking trivially ideal; the hash varies the
    // grade within each source so the three retrieval metrics (nDCG,
    // MRR, P/R@k) measure a real ranking.
    Q("q_ndcg",
      (s, dir) => {
        val disc = typedLit(Map(1L -> 1000000000L, 2L -> 630929754L,
          3L -> 500000000L, 4L -> 430676558L, 5L -> 386852807L,
          6L -> 356207187L, 7L -> 333333333L, 8L -> 315464877L,
          9L -> 301029996L, 10L -> 289064826L))
        val base = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            expr("pmod(((doc_id % 2147483648) * 2654435761) div 65536, 4) + 1").as("rel"))
        def dcgOf(scoreSql: String, outName: String) = base
          .groupBy("source")
          .agg(expr(s"graft_topk(doc_id, CAST($scoreSql AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"), posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("source"), expr("pmod(((t.id % 2147483648) * 2654435761) div 65536, 4) + 1").as("rel"),
            (col("pos") + 1).cast("long").as("i"))
          .groupBy("source")
          .agg(sum(col("rel") * disc(col("i"))).as(outName))
        val ranked = dcgOf("n_chars", "dcg_num")
        val ideal = dcgOf("rel", "idcg_num")
        ranked.join(ideal, "source")
          .select(col("source"), col("dcg_num").cast("long").as("dcg_num"),
            col("idcg_num").cast("long").as("idcg_num"),
            (col("dcg_num").cast("double") / col("idcg_num").cast("double"))
              .as("ndcg"))
          .orderBy("source")
      },
      Some("""WITH disc AS (SELECT * FROM (VALUES
                (1, 1000000000), (2, 630929754), (3, 500000000),
                (4, 430676558), (5, 386852807), (6, 356207187),
                (7, 333333333), (8, 315464877), (9, 301029996),
                (10, 289064826)) AS t(i, d)),
              base AS (
                SELECT source, doc_id, n_chars, ((doc_id % 2147483648) * 2654435761 // 65536 % 4 + 4) % 4 + 1 AS rel
                FROM documents),
              ranked AS (
                SELECT source, SUM(rel * d) AS dcg_num
                FROM (SELECT source, rel, row_number() OVER
                        (PARTITION BY source
                         ORDER BY n_chars DESC, doc_id) AS i
                      FROM base) r JOIN disc ON r.i = disc.i
                GROUP BY 1),
              ideal AS (
                SELECT source, SUM(rel * d) AS idcg_num
                FROM (SELECT source, rel, row_number() OVER
                        (PARTITION BY source
                         ORDER BY rel DESC, doc_id) AS i
                      FROM base) r JOIN disc ON r.i = disc.i
                GROUP BY 1)
              SELECT ranked.source,
                CAST(dcg_num AS BIGINT) AS dcg_num,
                CAST(idcg_num AS BIGINT) AS idcg_num,
                CAST(dcg_num AS DOUBLE) / CAST(idcg_num AS DOUBLE) AS ndcg
              FROM ranked JOIN ideal ON ranked.source = ideal.source
              ORDER BY ranked.source""")),

    // ── RBP@10: rank-biased precision with p = ½ (exact powers) ─────────
    // The user-model cousin of q_ndcg: RBP = (1−p)·Σ relᵢ·p^{i−1}
    // models a user who continues down the ranking with persistence p.
    // p = ½ makes every weight an exact binary fraction — the whole
    // metric is INTEGER arithmetic in the ×2¹⁰ domain (weights 512…1,
    // RBP = num/1024 exact in both engines; contrast nDCG's 1e9-scaled
    // log discounts, which are pinned but not exact). Binary relevance
    // rel≥3 (canonical RBP is binary); same graft_topk bounded-heap
    // ranking and (score DESC, doc_id) tie rule as q_ndcg — k rows per
    // source cross the shuffle, never the corpus.
    Q("q_rbp_ranking",
      (s, dir) => {
        val w = typedLit(Map(1L -> 512L, 2L -> 256L, 3L -> 128L,
          4L -> 64L, 5L -> 32L, 6L -> 16L, 7L -> 8L, 8L -> 4L,
          9L -> 2L, 10L -> 1L))
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .groupBy("source")
          .agg(expr("graft_topk(doc_id, CAST(n_chars AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"), posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("source"),
            when(expr("pmod(((t.id % 2147483648) * 2654435761) div 65536, 4) + 1")
              >= 3, 1L).otherwise(0L).as("rel01"),
            (col("pos") + 1).cast("long").as("i"))
          .groupBy("source")
          .agg(sum(col("rel01") * w(col("i"))).cast("long").as("rbp_num"))
          .select(col("source"), col("rbp_num"),
            (col("rbp_num").cast("double") / 1024.0).as("rbp"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT * FROM (VALUES
                (1, 512), (2, 256), (3, 128), (4, 64), (5, 32),
                (6, 16), (7, 8), (8, 4), (9, 2), (10, 1)) AS t(i, wt)),
              base AS (
                SELECT source, doc_id, n_chars,
                  CASE WHEN ((doc_id % 2147483648) * 2654435761 // 65536
                    % 4 + 4) % 4 + 1 >= 3 THEN 1 ELSE 0 END AS rel01
                FROM documents),
              ranked AS (
                SELECT source, rel01, row_number() OVER
                    (PARTITION BY source
                     ORDER BY n_chars DESC, doc_id) AS i
                FROM base)
              SELECT source,
                CAST(SUM(rel01 * wt) AS BIGINT) AS rbp_num,
                CAST(SUM(rel01 * wt) AS DOUBLE) / 1024.0 AS rbp
              FROM ranked JOIN w ON ranked.i = w.i
              GROUP BY source
              ORDER BY source""")),

    // ── MRR@10 (the first-hit retrieval metric next to q_ndcg) ──────────
    // Where nDCG grades the whole ranking, MRR grades time-to-first-
    // relevant: reciprocal rank of the first grade-4 doc in each
    // source's top-10 (0 when absent — standard MRR@10). Same
    // graft_topk bounded-heap ranking and (score DESC, doc_id) tie rule
    // as q_ndcg — k rows per (task × source) cross the shuffle, never
    // the corpus. The corpus-level MRR is a pinned sorted fold over the
    // per-source frame (FP addition order fixed in both engines), then
    // one division; the per-source frame persists because it feeds both
    // the fold and the output.
    Q("q_mrr",
      (s, dir) => {
        val hits = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .groupBy("source")
          .agg(expr("graft_topk(doc_id, CAST(n_chars AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"), posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).cast("long").as("i"),
            expr("pmod(((t.id % 2147483648) * 2654435761) div 65536, 4) + 1").as("rel"))
          .groupBy("source")
          .agg(min(when(col("rel") === 4, col("i"))).as("first_rel"))
          .select(col("source"), col("first_rel"),
            coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0))
              .as("rr")))
        val mrr = hits.agg(
          (expr("""aggregate(array_sort(collect_list(struct(source, rr))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.rr)""")
            / count(lit(1))).as("mrr"))
        hits.crossJoin(broadcast(mrr)).orderBy("source")
      },
      Some("""WITH r AS (
                SELECT source, ((doc_id % 2147483648) * 2654435761 // 65536 % 4 + 4) % 4 + 1 AS rel,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS i
                FROM documents),
              f AS (
                SELECT source,
                  MIN(CASE WHEN rel = 4 AND i <= 10 THEN i END)
                    AS first_rel
                FROM r GROUP BY 1),
              h AS (
                SELECT source, CAST(first_rel AS BIGINT) AS first_rel,
                  COALESCE(1.0 / first_rel, 0.0) AS rr
                FROM f),
              m AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list(rr ORDER BY source)), (a, x) -> a + x)
                       / count(*) AS mrr
                FROM h)
              SELECT h.source, h.first_rel, h.rr, m.mrr
              FROM h, m ORDER BY h.source""")),

    // ── precision/recall@10 (completing the MRR/nDCG metric trio) ───────
    // The set-overlap view of ranking quality: of each source's top-10
    // (same graft_topk heap and tie rule), how many are grade-4
    // relevant (precision@10), and what share of ALL its grade-4 docs
    // did the cut capture (recall@10)? The projected corpus base
    // feeds the relevant-total census and the top-k ranking — two
    // bounded readouts; rates are IEEE divisions
    // of exact counts.
    Q("q_precision_recall_at_k",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            expr("pmod(((doc_id % 2147483648) * 2654435761) div 65536, 4) + 1").as("rel"))
        val totals = base.filter(col("rel") === 4)
          .groupBy("source").agg(count(lit(1)).as("n_rel"))
        val top = base.groupBy("source")
          .agg(expr("graft_topk(doc_id, CAST(n_chars AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"), posexplode(col("topk")).as(Seq("pos", "t")))
          .groupBy("source")
          .agg(count(lit(1)).as("k"),
            count(when(expr("pmod(((t.id % 2147483648) * 2654435761) div 65536, 4) + 1") === 4, lit(1))).as("hits"))
        top.join(totals, "source")
          .select(col("source"), col("k"), col("hits"), col("n_rel"),
            (col("hits").cast("double") / col("k").cast("double"))
              .as("precision_at_k"),
            (col("hits").cast("double") / col("n_rel").cast("double"))
              .as("recall_at_k"))
          .orderBy("source")
      },
      Some("""WITH base AS (
                SELECT source, doc_id, n_chars, ((doc_id % 2147483648) * 2654435761 // 65536 % 4 + 4) % 4 + 1 AS rel
                FROM documents),
              totals AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_rel
                FROM base WHERE rel = 4 GROUP BY 1),
              r AS (
                SELECT source, rel, row_number() OVER
                  (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS i
                FROM base),
              top AS (
                SELECT source, CAST(count(*) AS BIGINT) AS k,
                  CAST(COUNT(CASE WHEN rel = 4 THEN 1 END) AS BIGINT)
                    AS hits
                FROM r WHERE i <= 10 GROUP BY 1)
              SELECT top.source, k, hits, n_rel,
                CAST(hits AS DOUBLE) / CAST(k AS DOUBLE)
                  AS precision_at_k,
                CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE)
                  AS recall_at_k
              FROM top JOIN totals ON top.source = totals.source
              ORDER BY top.source""")),

    // ── BPE tokenizer training: 10 merge rounds on the word census ───────
    // The third iterative-algorithm family (after ccStar and k-means):
    // byte-pair-encoding merge learning, the Sennrich et al. (2016)
    // shape every tokenizer pipeline runs before training. The crucial
    // scale property: after ONE corpus-sized word-frequency census, all
    // training happens on the VOCABULARY frame (words × freq — bounded
    // by the language, not the corpus). Per round: adjacent-symbol pair
    // census weighted by word freq (vocab-sized partial+final agg),
    // arg-max pair via a top-1 reduce (a driver-side iteration constant,
    // like PageRank's N), then a row-local greedy left-to-right fold
    // merges the winning pair inside every symbol array — no shuffle in
    // the merge step. Deterministic: ties break (count DESC, pair ASC).
    // Output = the 10-row merge table. Hash-oracled since r9: DuckDB
    // replays the full training as a generated CTE chain (greedy merge
    // ≡ anchored-string replace — see [[bpeOracleCtes]]); OpsSpec's
    // plain-Scala greedy replay stays as the semantic guard.
    Q("q_bpe_train",
      (s, dir) => {
        val s2 = s
        import s2.implicits._
        bpeMerges(s, dir).toDF("round", "left", "right", "pair_count")
          .orderBy("round")
      },
      Some(bpeTrainOracle)),

    // ── BPE tokenizer application: encode the corpus with the merges ─────
    // The other half of the tokenizer lifecycle: run the 10 trained
    // merges over the corpus and report per-source token budgets
    // (words, chars, post-merge tokens, chars/token). Scale design:
    // encode the VOCABULARY, not the stream — the corpus collapses to a
    // (source, word) census, each DISTINCT word is encoded once by the
    // same greedy left-to-right fold training used (10 chained
    // `aggregate` HOFs), and token counts rejoin the census on the word
    // key (un-hinted — the vocabulary grows with the corpus until the
    // language saturates it). Word-frequency skew ("the") is absorbed by
    // the census's partial agg, and the expensive fold runs |vocab|
    // times, not |corpus| times. Hash-oracled since r9: the oracle
    // trains in DuckDB (q_bpe_train's CTE chain) and encodes the
    // distinct-word frame with the 10 winners as nested anchored
    // replaces; OpsSpec's plain-Scala greedy encode replay stays as the
    // semantic guard.
    Q("q_bpe_apply",
      (s, dir) => {
        val merges = bpeMerges(s, dir)
        val census = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("source", "word").agg(count(lit(1)).as("n"))
        var syms: org.apache.spark.sql.Column = split(col("word"), "")
        for ((_, a, b, _) <- merges)
          syms = aggregate(syms, expr("cast(array() as array<string>)"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a)
                && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x))))
        val encoded = census.select(col("word")).distinct()
          .select(col("word"), size(syms).cast("long").as("toks"))
        census.join(encoded, Seq("word"))
          .groupBy("source")
          .agg(sum(col("n")).as("n_words"),
            sum(col("n") * length(col("word"))).as("n_chars"),
            sum(col("n") * col("toks")).as("n_tokens"))
          .select(col("source"), col("n_words"), col("n_chars"),
            col("n_tokens"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
          .orderBy("source")
      },
      Some(bpeApplyOracle)),

    // ── long-tail mining: every doc's rarest token ───────────────────────
    // The curation probe for niche/valuable content (and for tokenizer
    // OOV risk): per document, the corpus-globally RAREST token it
    // contains. Docs whose rarest token is a hapax carry content nothing
    // else covers — the long-tail slice a data-mixing pass upweights.
    // Shape: one corpus-sized token census, un-hinted hash rejoin of the
    // distinct (doc, token) frame on the token key, then a grouped
    // top-1 sort (window by doc_id) with a fully pinned (cnt, token)
    // order — exact ints end to end, no division at all.
    Q("q_rare_token_docs",
      (s, dir) => {
        // ONE TF matrix feeds both consumers: its group keys ARE the
        // per-doc distinct tokens, and summing its counts rebuilds the
        // full-occurrence corpus frequency (rarity counts repeats inside
        // one doc) — one scan + one explode instead of two of each
        val tf = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        val docTok = tf.select(col("doc_id"), col("w"))
        val freq = tf.groupBy("w").agg(sum(col("c")).as("cnt"))
        val pick = Window.partitionBy("doc_id")
          .orderBy(col("cnt"), col("w"))
        docTok.join(freq, Seq("w"))
          .withColumn("rn", row_number().over(pick))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_distinct_tokens"),
            min(when(col("rn") === 1, col("cnt"))).as("rarest_cnt"),
            min(when(col("rn") === 1, col("w"))).as("rarest_token"))
          .orderBy("doc_id")
      },
      Some("""WITH doctok AS (
                SELECT DISTINCT doc_id, w
                FROM (SELECT doc_id, unnest(list_filter(
                        string_split(text, ' '), x -> x <> '')) AS w
                      FROM documents)),
              freq AS (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT unnest(list_filter(string_split(text, ' '),
                        x -> x <> '')) AS w FROM documents)
                GROUP BY 1),
              ranked AS (
                SELECT d.doc_id, d.w, f.cnt,
                  row_number() OVER (PARTITION BY d.doc_id
                    ORDER BY f.cnt, d.w) AS rn
                FROM doctok d JOIN freq f USING (w))
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
                MIN(CASE WHEN rn = 1 THEN cnt END) AS rarest_cnt,
                MIN(CASE WHEN rn = 1 THEN w END) AS rarest_token
              FROM ranked GROUP BY 1 ORDER BY doc_id""")),

    // ── language-label audit: declared lang vs heuristic guess ───────────
    // The confusion matrix between the corpus's DECLARED language labels
    // and q_lang_id's marker-token guess — the audit that catches
    // mislabeled feeds before they poison per-language mixing weights.
    // Same deterministic scoring as q_lang_id (row-local, codegen'd
    // array filters), collapsed to the ≤ langs×guesses census — the
    // whole corpus folds in ONE partial+final agg, nothing bigger than
    // the label grid ever shuffles.
    Q("q_lang_mismatch",
      (s, dir) => {
        val score = (markers: Seq[String]) =>
          markers.map(m => size(filter(split(col("text"), " "),
            x => x === lit(m))).cast("long")).reduce(_ + _)
        t(s, dir, "documents")
          .select(col("lang"),
            score(Seq("the", "a", "of")).as("s_en"),
            score(Seq("el", "la", "de")).as("s_es"),
            score(Seq("der", "die", "das")).as("s_de"))
          .select(col("lang"),
            when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"),
              "en")
              .when(col("s_es") >= col("s_de"), "es")
              .otherwise("de").as("guess"))
          .groupBy("lang", "guess")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "guess")
      },
      Some("""WITH scored AS (
                SELECT lang,
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'the'))
                     + len(list_filter(string_split(text,' '), x -> x = 'a'))
                     + len(list_filter(string_split(text,' '), x -> x = 'of'))
                    AS BIGINT) AS s_en,
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'el'))
                     + len(list_filter(string_split(text,' '), x -> x = 'la'))
                     + len(list_filter(string_split(text,' '), x -> x = 'de'))
                    AS BIGINT) AS s_es,
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'der'))
                     + len(list_filter(string_split(text,' '), x -> x = 'die'))
                     + len(list_filter(string_split(text,' '), x -> x = 'das'))
                    AS BIGINT) AS s_de
                FROM documents),
              guessed AS (
                SELECT lang,
                  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                       WHEN s_es >= s_de THEN 'es'
                       ELSE 'de' END AS guess
                FROM scored)
              SELECT lang, guess, count(*) AS n_docs
              FROM guessed GROUP BY 1, 2 ORDER BY lang, guess""")),

    // ── per-source token diversity (Simpson concentration) ───────────────
    // Vocabulary concentration per source: Simpson index Σc²/N² and its
    // reciprocal (effective vocabulary size) — the char_diversity lens
    // lifted to the TOKEN level, where it reads "how template-heavy is
    // this feed". Token census first (vocab-sized partial+final agg),
    // then per-source int64 moments; the FP tail is the identical
    // two-division chain on both engines (Σc²/N/N — division by N
    // twice, not by the int64-overflow-prone N²), and eff_vocab =
    // 1.0/simpson reuses the same double. At extreme volumes Σc² is the
    // q_hhi-class caveat: re-scale the unit (sample the census) —
    // Simpson is scale-invariant.
    Q("q_token_diversity",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "") // multi-space text must not mint "" as vocab
          .groupBy("source", "tok")
          .agg(count(lit(1)).as("c"))
        census.groupBy("source")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") * col("c")).as("sum_c2"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            (col("sum_c2").cast("double") / col("n_tokens").cast("double")
              / col("n_tokens").cast("double")).as("simpson"),
            (lit(1.0) / (col("sum_c2").cast("double")
              / col("n_tokens").cast("double")
              / col("n_tokens").cast("double"))).as("eff_vocab"))
          .orderBy("source")
      },
      Some("""WITH census AS (
                SELECT source, unnest(string_split(text, ' ')) AS tok
                FROM documents),
              counts AS (
                SELECT source, tok, count(*) AS c
                FROM census WHERE tok <> '' GROUP BY 1, 2),
              m AS (
                SELECT source,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  CAST(SUM(c * c) AS BIGINT) AS sum_c2
                FROM counts GROUP BY 1)
              SELECT source, n_tokens, n_distinct,
                CAST(sum_c2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  / CAST(n_tokens AS DOUBLE) AS simpson,
                1.0 / (CAST(sum_c2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  / CAST(n_tokens AS DOUBLE)) AS eff_vocab
              FROM m ORDER BY source""")),

    // ── Zipf rank-frequency head (vocabulary distribution diagnostic) ────
    // The tokenizer-design readout: the top-100 token frequencies with
    // their ratio to rank 1 — how steep this corpus's Zipf curve is
    // (steep head → small vocab suffices; fat head → stopword handling
    // dominates). One vocab-sized census; the head cut is ORDER BY +
    // LIMIT (per-partition heaps — TakeOrderedAndProject, never a
    // census-wide sort); the rank window runs on the 100-row head.
    // Ties pinned (cnt DESC, token); ratio base is max(cnt) — tie-
    // invariant because it is a VALUE, not a row.
    Q("q_zipf_fit",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val top = census.orderBy(col("cnt").desc, col("tok")).limit(100)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok")))
              .cast("long"))
        top.crossJoin(broadcast(census.agg(max(col("cnt")).as("c1"))))
          .select(col("rank"), col("tok"), col("cnt"),
            (col("cnt").cast("double") / col("c1").cast("double"))
              .as("ratio"))
          .orderBy("rank")
      },
      Some("""WITH census AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1),
              top AS (
                SELECT tok, cnt,
                  CAST(row_number() OVER (ORDER BY cnt DESC, tok)
                    AS BIGINT) AS rank
                FROM census ORDER BY cnt DESC, tok LIMIT 100),
              m AS (SELECT MAX(cnt) AS c1 FROM census)
              SELECT rank, tok, cnt,
                CAST(cnt AS DOUBLE) / CAST(c1 AS DOUBLE) AS ratio
              FROM top, m ORDER BY rank""")),

    // ── readability index (ARI) per source ──────────────────────────────
    // The curation-filter classic: Automated Readability Index
    // 4.71·(chars/words) + 0.5·(words/sentences) − 21.43, computed at
    // the SOURCE level from exact integer sums (chars = non-space
    // bytes, words = non-empty tokens, sentences = period count,
    // floored at 1/doc) — so the whole corpus collapses in ONE
    // partial+final agg and the index is three IEEE ops on identical
    // doubles in both engines. Doc-level ARI filtering at 100 TB is
    // the same projection without the rollup.
    Q("q_readability",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          length(regexp_replace(col("text"), " ", "")).cast("long")
            .as("chars"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("words"),
          greatest(length(col("text"))
            - length(regexp_replace(col("text"), "\\.", "")), lit(1))
            .cast("long").as("sents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("chars")).as("chars"),
          sum(col("words")).as("words"),
          sum(col("sents")).as("sents"))
        .select(col("source"), col("n_docs"), col("chars"), col("words"),
          col("sents"),
          (lit(4.71) * col("chars").cast("double") / col("words").cast("double")
            + lit(0.5) * col("words").cast("double") / col("sents").cast("double")
            - lit(21.43)).as("ari"))
        .orderBy("source"),
      Some("""WITH d AS (
                SELECT source,
                  CAST(len(replace(text, ' ', '')) AS BIGINT) AS chars,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS words,
                  CAST(greatest(len(text) - len(replace(text, '.', '')), 1)
                    AS BIGINT) AS sents
                FROM documents)
              SELECT source, count(*) AS n_docs,
                CAST(SUM(chars) AS BIGINT) AS chars,
                CAST(SUM(words) AS BIGINT) AS words,
                CAST(SUM(sents) AS BIGINT) AS sents,
                4.71 * CAST(SUM(chars) AS DOUBLE) / CAST(SUM(words) AS DOUBLE)
                  + 0.5 * CAST(SUM(words) AS DOUBLE) / CAST(SUM(sents) AS DOUBLE)
                  - 21.43 AS ari
              FROM d GROUP BY 1 ORDER BY source""")),

    // ── MAP@10 (completing the retrieval-metric quartet) ─────────────────
    // Mean average precision over the same graft_topk ranking and
    // hashed binary relevance (rel = 4) as q_mrr/q_ndcg/q_precision_
    // recall_at_k: AP = Σ_{hit at rank i} (hits_so_far / i) divided by
    // min(n_rel_total, 10). The ranked top-10 stays a bounded per-task
    // heap; AP is a row-local fold over each source's ≤10-element
    // position array (FP order pinned by position in both engines);
    // the corpus MAP is the q_mrr pinned sorted fold over the
    // per-source frame.
    Q("q_map_at_k",
      (s, dir) => {
        val base = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            expr("pmod(((doc_id % 2147483648) * 2654435761) div 65536, 4) + 1")
              .as("rel")))
        val totals = base.filter(col("rel") === 4)
          .groupBy("source").agg(count(lit(1)).as("n_rel"))
        val ap = base.groupBy("source")
          .agg(expr("graft_topk(doc_id, CAST(n_chars AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"), expr(
            """transform(topk, t ->
                 IF(pmod(((t.id % 2147483648) * 2654435761) div 65536, 4) + 1 = 4,
                    1L, 0L))""").as("hits"))
          .select(col("source"),
            expr("""aggregate(sequence(1, size(hits)),
                      named_struct('cum', 0L, 'ap', CAST(0 AS DOUBLE)),
                      (a, i) -> named_struct(
                        'cum', a.cum + hits[i - 1],
                        'ap', a.ap + IF(hits[i - 1] = 1,
                          CAST(a.cum + hits[i - 1] AS DOUBLE) / CAST(i AS DOUBLE),
                          CAST(0 AS DOUBLE))),
                      a -> a.ap)""").as("ap_sum"))
        val perSrc = Artifacts.persist(ap.join(totals, Seq("source"), "left")
          .select(col("source"),
            coalesce(col("n_rel"), lit(0L)).as("n_rel"),
            when(coalesce(col("n_rel"), lit(0L)) === 0, lit(0.0))
              .otherwise(col("ap_sum")
                / least(col("n_rel"), lit(10L)).cast("double")).as("ap")))
        val map = perSrc.agg(
          (expr("""aggregate(array_sort(collect_list(struct(source, ap))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.ap)""")
            / count(lit(1))).as("map"))
        perSrc.crossJoin(broadcast(map)).orderBy("source")
      },
      Some("""WITH base AS (
                SELECT source, doc_id, n_chars,
                  ((doc_id % 2147483648) * 2654435761 // 65536 % 4 + 4) % 4 + 1
                    AS rel
                FROM documents),
              totals AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_rel
                FROM base WHERE rel = 4 GROUP BY 1),
              r AS (
                SELECT source, rel, row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS i
                FROM base),
              topr AS (SELECT * FROM r WHERE i <= 10),
              cum AS (
                SELECT source, i,
                  CASE WHEN rel = 4 THEN 1 ELSE 0 END AS hit,
                  SUM(CASE WHEN rel = 4 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY source ORDER BY i) AS c
                FROM topr),
              apsum AS (
                SELECT source,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(CASE WHEN hit = 1 THEN CAST(c AS DOUBLE) / i
                         ELSE 0.0 END ORDER BY i)),
                    (a, x) -> a + x) AS ap_sum
                FROM cum GROUP BY 1),
              per AS (
                SELECT a.source,
                  CAST(COALESCE(t.n_rel, 0) AS BIGINT) AS n_rel,
                  CASE WHEN COALESCE(t.n_rel, 0) = 0 THEN 0.0
                    ELSE a.ap_sum / CAST(least(t.n_rel, 10) AS DOUBLE)
                  END AS ap
                FROM apsum a LEFT JOIN totals t ON a.source = t.source),
              m AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list(ap ORDER BY source)), (a, x) -> a + x)
                       / count(*) AS map
                FROM per)
              SELECT per.source, per.n_rel, per.ap, m.map
              FROM per, m ORDER BY per.source""")),

    // ── language-ID confidence margin census ─────────────────────────────
    // The triage lens on q_lang_id: how decisive was the guess? margin
    // = top score − runner-up score (exact integers: 2·max + min − sum
    // over the three marker scores), folded into a capped band. A
    // margin-0 band is the ambiguous mass a pipeline routes to a
    // heavier classifier. Row-local scoring (same markers as
    // q_lang_id), ONE partial+final agg to the ≤ 3 guesses × 6 bands
    // census.
    Q("q_lang_margin",
      (s, dir) => {
        val score = (markers: Seq[String]) =>
          markers.map(m => size(filter(split(col("text"), " "),
            x => x === lit(m))).cast("long")).reduce(_ + _)
        t(s, dir, "documents")
          .select(score(Seq("the", "a", "of")).as("s_en"),
            score(Seq("el", "la", "de")).as("s_es"),
            score(Seq("der", "die", "das")).as("s_de"))
          .select(
            when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
              .when(col("s_es") >= col("s_de"), "es")
              .otherwise("de").as("guess"),
            (greatest(col("s_en"), col("s_es"), col("s_de")) * 2
              + least(col("s_en"), col("s_es"), col("s_de"))
              - col("s_en") - col("s_es") - col("s_de")).as("margin"))
          .groupBy(col("guess"), least(col("margin"), lit(5L)).as("margin_band"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("guess", "margin_band")
      },
      Some("""WITH s AS (
                SELECT
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'the'))
                     + len(list_filter(string_split(text,' '), x -> x = 'a'))
                     + len(list_filter(string_split(text,' '), x -> x = 'of'))
                    AS BIGINT) AS s_en,
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'el'))
                     + len(list_filter(string_split(text,' '), x -> x = 'la'))
                     + len(list_filter(string_split(text,' '), x -> x = 'de'))
                    AS BIGINT) AS s_es,
                  CAST(len(list_filter(string_split(text,' '), x -> x = 'der'))
                     + len(list_filter(string_split(text,' '), x -> x = 'die'))
                     + len(list_filter(string_split(text,' '), x -> x = 'das'))
                    AS BIGINT) AS s_de
                FROM documents),
              g AS (
                SELECT CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                            WHEN s_es >= s_de THEN 'es'
                            ELSE 'de' END AS guess,
                  greatest(s_en, s_es, s_de) * 2
                    + least(s_en, s_es, s_de) - s_en - s_es - s_de AS margin
                FROM s)
              SELECT guess, least(margin, 5) AS margin_band,
                count(*) AS n_docs
              FROM g GROUP BY 1, 2 ORDER BY guess, margin_band""")),

    // ── positional phrase search (exact 2-gram match) ────────────────────
    // The retrieval primitive q_inverted_index's impact-ordered postings
    // cannot answer: EXACT phrase occurrence needs token POSITIONS. The
    // positional index (token, doc, pos) explodes row-locally; the
    // 4-phrase query set broadcasts onto it (first-term postings only —
    // the classic index probe), and adjacency is an equi-join on
    // (doc, pos + 1, second term). At 100 TB the index is the stored
    // artifact and each query touches only its terms' postings; phrases
    // with zero hits drop from the census in both engines.
    Q("q_phrase_search",
      (s, dir) => {
        val pos = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val ph = Seq(("hash join", "hash", "join"),
          ("fast scan", "fast", "scan"),
          ("group order", "group", "order"),
          ("table table", "table", "table"))
        import org.apache.spark.sql.Row
        val phDf = pos.sparkSession.createDataFrame(
          pos.sparkSession.sparkContext.parallelize(
            ph.map(p => Row(p._1, p._2, p._3))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("phrase",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("w1",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("w2",
              org.apache.spark.sql.types.StringType))))
        pos.join(broadcast(phDf), col("tok") === col("w1"))
          .select(col("phrase"), col("doc_id").as("d1"),
            (col("pos") + 1).as("next_pos"), col("w2"))
          .join(pos.select(col("doc_id").as("d2"), col("pos").as("p2"),
            col("tok").as("t2")),
            col("d1") === col("d2") && col("next_pos") === col("p2")
              && col("w2") === col("t2"))
          .groupBy("phrase")
          .agg(countDistinct(col("d1")).as("n_docs"),
            count(lit(1)).as("n_occurrences"))
          .orderBy("phrase")
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              pos AS (
                SELECT doc_id, i - 1 AS pos, tk[i] AS tok
                FROM (SELECT doc_id, tk,
                        unnest(generate_series(1, len(tk))) AS i
                      FROM toks)),
              ph(phrase, w1, w2) AS (VALUES
                ('hash join', 'hash', 'join'),
                ('fast scan', 'fast', 'scan'),
                ('group order', 'group', 'order'),
                ('table table', 'table', 'table')),
              hits AS (
                SELECT ph.phrase, p1.doc_id
                FROM ph
                  JOIN pos p1 ON p1.tok = ph.w1
                  JOIN pos p2 ON p2.doc_id = p1.doc_id
                    AND p2.pos = p1.pos + 1 AND p2.tok = ph.w2)
              SELECT phrase,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                count(*) AS n_occurrences
              FROM hits GROUP BY 1 ORDER BY phrase""")),

    // ── top character trigrams per language (the lang-ID signature) ─────
    // The n-gram profile a real language identifier trains on: top-5
    // character 3-grams per language by occurrence count. Trigrams fan
    // out ROW-LOCALLY (transform over positions, no self-join) into one
    // (lang, trigram) census; the top-5 cut rides RangeRank (the
    // q_template_mining few-group discipline — 5 langs would otherwise
    // funnel the census through 5 window tasks).
    Q("q_char_trigrams",
      (s, dir) => {
        // round 13: the explode + census collapse live in the pinned
        // [[Censuses.charTrigrams]] artifact (built once per session);
        // only the top-5 rank pass remains per query
        val census = Censuses.charTrigrams(s, dir)
        RangeRank.ranked(census, Seq("lang"),
            Seq(col("cnt").desc, col("tri")), rnName = "rank", nName = None)
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("tri"), col("cnt"))
          .orderBy("lang", "rank")
      },
      Some("""WITH tri AS (
                SELECT lang, substr(text, i, 3) AS tri
                FROM (SELECT lang, text,
                        unnest(generate_series(1, len(text) - 2)) AS i
                      FROM documents)),
              census AS (
                SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt
                FROM tri GROUP BY 1, 2),
              r AS (
                SELECT lang, tri, cnt,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, tri) AS BIGINT) AS rank
                FROM census)
              SELECT lang, rank, tri, cnt
              FROM r WHERE rank <= 5 ORDER BY lang, rank""")),

    // ── language-ID accuracy audit (heuristic vs ground truth) ───────────
    // Closing the loop on q_lang_id: its marker-score guess against the
    // table's actual lang label, as a confusion census with per-row
    // share-of-actual and the corpus accuracy folded in as a 1-row
    // broadcast. The heuristic only knows en/es/de, so fr/zh rows
    // expose its failure mode explicitly — the audit a pipeline runs
    // before trusting any classifier-derived filter. ONE corpus pass
    // into a ≤15-cell census; rates are IEEE divisions of exact counts.
    Q("q_langid_accuracy",
      (s, dir) => {
        val score = (markers: Seq[String]) =>
          markers.map(m => size(filter(split(col("text"), " "),
            x => x === lit(m))).cast("long")).reduce(_ + _)
        val cells = Artifacts.persist(t(s, dir, "documents")
          .select(col("lang"),
            score(Seq("the", "a", "of")).as("s_en"),
            score(Seq("el", "la", "de")).as("s_es"),
            score(Seq("der", "die", "das")).as("s_de"))
          .select(col("lang"),
            when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
              .when(col("s_es") >= col("s_de"), "es")
              .otherwise("de").as("guess"))
          .groupBy("lang", "guess").agg(count(lit(1)).as("n")))
        val acc = cells.agg(
          (sum(when(col("lang") === col("guess"), col("n")).otherwise(0L))
            .cast("double") / sum(col("n")).cast("double")).as("accuracy"))
        val tot = cells.groupBy("lang").agg(sum(col("n")).as("n_lang"))
        cells.join(tot, "lang").crossJoin(broadcast(acc))
          .select(col("lang"), col("guess"), col("n"),
            (col("n").cast("double") / col("n_lang").cast("double"))
              .as("share_of_actual"),
            col("accuracy"))
          .orderBy("lang", "guess")
      },
      Some("""WITH g AS (
                SELECT lang,
                  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                       WHEN s_es >= s_de THEN 'es'
                       ELSE 'de' END AS guess
                FROM (
                  SELECT lang,
                    CAST(len(list_filter(string_split(text,' '), x -> x = 'the'))
                       + len(list_filter(string_split(text,' '), x -> x = 'a'))
                       + len(list_filter(string_split(text,' '), x -> x = 'of'))
                      AS BIGINT) AS s_en,
                    CAST(len(list_filter(string_split(text,' '), x -> x = 'el'))
                       + len(list_filter(string_split(text,' '), x -> x = 'la'))
                       + len(list_filter(string_split(text,' '), x -> x = 'de'))
                      AS BIGINT) AS s_es,
                    CAST(len(list_filter(string_split(text,' '), x -> x = 'der'))
                       + len(list_filter(string_split(text,' '), x -> x = 'die'))
                       + len(list_filter(string_split(text,' '), x -> x = 'das'))
                      AS BIGINT) AS s_de
                  FROM documents)),
              cells AS (
                SELECT lang, guess, CAST(count(*) AS BIGINT) AS n
                FROM g GROUP BY 1, 2),
              acc AS (
                SELECT CAST(SUM(CASE WHEN lang = guess THEN n ELSE 0 END)
                    AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS accuracy
                FROM cells),
              tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
                      FROM cells GROUP BY 1)
              SELECT cells.lang, guess, n,
                CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE)
                  AS share_of_actual,
                accuracy
              FROM cells JOIN tot ON cells.lang = tot.lang, acc
              ORDER BY cells.lang, guess""")),

    // ── BLEU-2 between fixed-offset doc pairs ───────────────────────────
    // The generation-eval metric as a batch op: candidate doc d scored
    // against reference doc d+20 (a deterministic pairing — no RNG, no
    // window). Modified n-gram precision = Σ clipped / Σ candidate
    // counts, clipping via a LEFT join of the two per-doc gram censuses
    // keyed (pair, gram) — co-partitioned, never corpus². The per-doc
    // unigram and bigram censuses are each persisted: candidate side,
    // reference side and the length frame all read ONE explode.
    // bleu2 = sqrt(p1·p2) (geometric mean, not the exp/ln form — libm
    // exp is not cross-engine reproducible, sqrt is IEEE-exact).
    Q("q_bleu_pairs",
      (s, dir) => {
        // per-doc n-gram censuses = the SHARED pinned BLEU artifacts
        val u = bleuUnigrams(s, dir)
        val b = bleuBigrams(s, dir)
        def prec(cen: DataFrame, lenName: String, clipName: String) = {
          val cand = cen.select(col("doc_id").as("pair"), col("g"), col("c"))
          val ref = cen.select((col("doc_id") - 20).as("pair"),
            col("g"), col("c").as("cr"))
          cand.join(ref, Seq("pair", "g"), "left")
            .groupBy("pair")
            .agg(sum(col("c")).as(lenName),
              sum(least(col("c"), coalesce(col("cr"), lit(0L))))
                .as(clipName))
        }
        val refLen = u.groupBy("doc_id")
          .agg(sum(col("c")).as("len_r"))
          .select((col("doc_id") - 20).as("pair"), col("len_r"))
        prec(u, "len_c", "clip1")
          .join(prec(b, "len2", "clip2"), "pair")
          .join(refLen, "pair") // inner: drops docs with no d+20 reference
          .select(col("pair"), col("len_c").cast("long").as("len_c"),
            col("len_r").cast("long").as("len_r"),
            (col("clip1").cast("double") / col("len_c").cast("double"))
              .as("p1"),
            when(col("len2") === 0, lit(null).cast("double"))
              .otherwise(col("clip2").cast("double")
                / col("len2").cast("double")).as("p2"),
            when(col("len2") === 0, lit(null).cast("double"))
              .otherwise(sqrt((col("clip1").cast("double")
                  / col("len_c").cast("double"))
                * (col("clip2").cast("double")
                  / col("len2").cast("double")))).as("bleu2"))
          .orderBy("pair")
      },
      Some("""WITH tl AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              u AS (
                SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(toks) AS g FROM tl)
                WHERE g <> '' GROUP BY 1, 2),
              b AS (
                SELECT doc_id, bg.x || ' ' || bg.y AS g,
                  CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id,
                        unnest([{'x': toks[i], 'y': toks[i+1]}
                          for i in generate_series(1, len(toks) - 1)]) AS bg
                      FROM tl WHERE len(toks) >= 2)
                WHERE bg.x <> '' AND bg.y <> '' GROUP BY 1, 2),
              p1 AS (
                SELECT cu.doc_id AS pair,
                  CAST(SUM(cu.c) AS BIGINT) AS len_c,
                  CAST(SUM(least(cu.c, coalesce(ru.c, 0))) AS BIGINT) AS clip1
                FROM u cu LEFT JOIN u ru
                  ON ru.doc_id = cu.doc_id + 20 AND ru.g = cu.g
                GROUP BY 1),
              p2 AS (
                SELECT cb.doc_id AS pair,
                  CAST(SUM(cb.c) AS BIGINT) AS len2,
                  CAST(SUM(least(cb.c, coalesce(rb.c, 0))) AS BIGINT) AS clip2
                FROM b cb LEFT JOIN b rb
                  ON rb.doc_id = cb.doc_id + 20 AND rb.g = cb.g
                GROUP BY 1),
              rl AS (
                SELECT doc_id - 20 AS pair, CAST(SUM(c) AS BIGINT) AS len_r
                FROM u GROUP BY 1)
              SELECT p1.pair, len_c, len_r,
                CAST(clip1 AS DOUBLE) / CAST(len_c AS DOUBLE) AS p1,
                CASE WHEN len2 = 0 THEN NULL
                  ELSE CAST(clip2 AS DOUBLE) / CAST(len2 AS DOUBLE) END AS p2,
                CASE WHEN len2 = 0 THEN NULL
                  ELSE sqrt((CAST(clip1 AS DOUBLE) / CAST(len_c AS DOUBLE))
                    * (CAST(clip2 AS DOUBLE) / CAST(len2 AS DOUBLE))) END
                  AS bleu2
              FROM p1 JOIN p2 ON p1.pair = p2.pair
                JOIN rl ON p1.pair = rl.pair
              ORDER BY p1.pair""")),

    // ── top-k vocabulary coverage curve ─────────────────────────────────
    // Tokenizer-design readout: what share of ALL token occurrences do
    // the top-5/10/25 vocabulary entries cover? One corpus explode to
    // the persisted vocab census; the census's total order (count desc)
    // rides RangeRank's range exchange — a Heaps-law vocabulary grows
    // with the corpus, so a single-task global window would be the
    // classic 100-TB funnel. Coverage = exact-integer prefix / total.
    Q("q_token_coverage",
      (s, dir) => {
        val census = Artifacts.persist(t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("c")))
        val tot = census.agg(sum(col("c")).as("total_tokens"),
          count(lit(1)).as("vocab_n"))
        RangeRank.ranked(census, Seq.empty,
            Seq(col("c").desc, col("tok")), nName = None,
            prefixSums = Seq(RangeRank.PrefixSum(col("c"), "pre")))
          .filter(col("rn").isin(5L, 10L, 25L))
          .crossJoin(broadcast(tot))
          .select(col("rn").as("rank_cut"),
            (col("pre") + col("c")).cast("long").as("covered_tokens"),
            col("total_tokens").cast("long").as("total_tokens"),
            ((col("pre") + col("c")).cast("double")
              / col("total_tokens").cast("double")).as("coverage"))
          .orderBy("rank_cut")
      },
      Some("""WITH census AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens
                      FROM census),
              r AS (
                SELECT c,
                  CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
                    AS rn,
                  CAST(SUM(c) OVER (ORDER BY c DESC, tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
                FROM census)
              SELECT rn AS rank_cut, cum AS covered_tokens, total_tokens,
                CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                  AS coverage
              FROM r, tot WHERE rn IN (5, 10, 25) ORDER BY rank_cut""")),

    // ── trigram hapax share per source ──────────────────────────────────
    // Data-quality lens: the share of a source's word-trigram vocabulary
    // seen exactly once (high hapax share = diverse/natural text; low =
    // templated/repetitive). Trigrams fan out ROW-LOCALLY (guarded
    // transform — no self-join), collapse in ONE (source, gram) census,
    // and the readout is a catalog-bounded per-source agg.
    Q("q_trigram_hapax",
      // round 13: the trigram census is the pinned
      // [[Censuses.wordTrigrams]] artifact; only the readout agg runs
      // per query
      (s, dir) => Censuses.wordTrigrams(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("c")).cast("long").as("occurrences"))
        .select(col("source"), col("n_distinct"), col("n_hapax"),
          col("occurrences"),
          (col("n_hapax").cast("double") / col("n_distinct").cast("double"))
            .as("hapax_share"))
        .orderBy("source"),
      Some("""WITH tl AS (
                SELECT source, string_split(text, ' ') AS toks
                FROM documents),
              tg AS (
                SELECT source,
                  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM tl, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
                WHERE len(toks) >= 3),
              cen AS (
                SELECT source, g, CAST(count(*) AS BIGINT) AS c
                FROM tg GROUP BY 1, 2)
              SELECT source, count(*) AS n_distinct,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                CAST(SUM(c) AS BIGINT) AS occurrences,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS hapax_share
              FROM cen GROUP BY 1 ORDER BY source""")),

    // ── token-frequency Gini per source ─────────────────────────────────
    // Vocabulary-concentration lens: Gini of the per-source BIGRAM
    // frequency distribution (0 = uniform usage, →1 = a few grams
    // dominate). Ranks over the census ride RangeRank grouped by source
    // (the census grows with the corpus under Heaps' law — never a
    // per-source single-task window); Gini stays in exact BIGINT
    // arithmetic (Σ rn·c, Σ c) until the one final division.
    Q("q_token_gini",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .select(col("source"), split(col("text"), " ").as("toks"))
          .select(col("source"), explode(expr(
            """CASE WHEN size(toks) >= 2
               THEN transform(sequence(0, size(toks) - 2),
                      i -> concat(toks[i], ' ', toks[i+1]))
               ELSE array() END""")).as("g"))
          .groupBy("source", "g").agg(count(lit(1)).as("c"))
        RangeRank.ranked(census, Seq("source"),
            Seq(col("c"), col("g")), nName = None)
          .groupBy("source")
          .agg(count(lit(1)).as("n_grams"),
            sum(col("c")).as("tot"),
            sum(col("rn") * col("c")).as("wsum"))
          .select(col("source"), col("n_grams"),
            col("tot").cast("long").as("occurrences"),
            ((lit(2.0) * col("wsum").cast("double")
              - (col("n_grams") + 1).cast("double")
                * col("tot").cast("double"))
              / (col("n_grams").cast("double") * col("tot").cast("double")))
              .as("gini"))
          .orderBy("source")
      },
      Some("""WITH tl AS (
                SELECT source, string_split(text, ' ') AS toks
                FROM documents),
              bg AS (
                SELECT source, toks[i] || ' ' || toks[i+1] AS g
                FROM tl, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
                WHERE len(toks) >= 2),
              cen AS (
                SELECT source, g, CAST(count(*) AS BIGINT) AS c
                FROM bg GROUP BY 1, 2),
              r AS (
                SELECT source, c,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY c, g) AS BIGINT) AS rn
                FROM cen)
              SELECT source, count(*) AS n_grams,
                CAST(SUM(c) AS BIGINT) AS occurrences,
                (2.0 * CAST(SUM(rn * c) AS DOUBLE)
                  - CAST(count(*) + 1 AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
                  / (CAST(count(*) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
                  AS gini
              FROM r GROUP BY 1 ORDER BY source""")),

    // ── character-distribution entropy per source ───────────────────────
    // Encoding/quality audit: Shannon entropy (bits) of each source's
    // character distribution — corrupted or templated text shows up as
    // an entropy outlier. Chars fan out ROW-LOCALLY, collapse in ONE
    // (source, char) census bounded by sources × alphabet; the −p·log₂p
    // terms round to 12 decimals and cross the final sum through the
    // position-pinned fold (libm log2 is not cross-engine exact; the
    // q_mutual_info discipline absorbs the last-ulp drift).
    Q("q_char_entropy",
      (s, dir) => {
        val wSrc = Window.partitionBy("source")
        t(s, dir, "documents")
          // split("") is LINEAR per doc; the transform(sequence, i ->
          // substring(text, i, 1)) alternative re-scans to the i-th
          // codepoint per element — O(len²) per doc, a real cost on
          // long documents. Trailing "" from Java's split(-1) filtered.
          .select(col("source"),
            explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= "")
          .groupBy("source", "ch").agg(count(lit(1)).as("c"))
          .select(col("source"), col("ch"), col("c"),
            sum(col("c")).over(wSrc).cast("long").as("n"))
          .select(col("source"), col("ch"), col("n"),
            round(-(col("c").cast("double") / col("n").cast("double"))
              * log2(col("c").cast("double") / col("n").cast("double")), 12)
              .as("term"))
          .groupBy("source")
          .agg(max(col("n")).as("n_chars"),
            count(lit(1)).cast("long").as("alphabet"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(ch, term))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
              .as("entropy_bits"))
          .orderBy("source")
      },
      Some("""WITH ch AS (
                SELECT source, substring(text, i, 1) AS ch
                FROM documents,
                  UNNEST(generate_series(1, length(text))) AS t(i)),
              cen AS (
                SELECT source, ch, CAST(count(*) AS BIGINT) AS c
                FROM ch GROUP BY 1, 2),
              m AS (
                SELECT source, ch, c,
                  CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
                FROM cen),
              terms AS (
                SELECT source, ch, n,
                  round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                    AS term
                FROM m)
              SELECT source, CAST(MAX(n) AS BIGINT) AS n_chars,
                CAST(count(*) AS BIGINT) AS alphabet,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY ch)), (a, x) -> a + x), 12)
                  AS entropy_bits
              FROM terms GROUP BY 1 ORDER BY source""")),

    // ── source-signature keywords (tf-idf at SOURCE granularity) ────────
    // What distinguishes each source's vocabulary? Source-level tf-idf:
    // tf from the persisted (source, token) census, df = #sources
    // carrying the token (catalog-bounded), idf = ln((1+S)/(1+df))
    // rounded to 12 decimals BEFORE ranking (libm ln is not
    // cross-engine exact; rounded scores make the rank total order
    // engine-stable with the token tiebreak). Top-5 per source rides
    // RangeRank — the vocabulary grows with the corpus, a per-source
    // single-task window would funnel it.
    Q("q_source_keywords",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("c")))
        val df = cen.groupBy("tok").agg(count(lit(1)).as("df"))
        val nS = cen.agg(countDistinct(col("source")).as("n_sources"))
        val scored = cen.join(df, "tok").crossJoin(broadcast(nS))
          .select(col("source"), col("tok"),
            round(col("c").cast("double")
              * log((lit(1.0) + col("n_sources").cast("double"))
                / (lit(1.0) + col("df").cast("double"))), 12).as("score"))
        RangeRank.ranked(scored, Seq("source"),
            Seq(col("score").desc, col("tok")), nName = None)
          .filter(col("rn") <= 5)
          .select(col("source"), col("rn").as("rank"), col("tok"),
            col("score"))
          .orderBy("source", "rank")
      },
      Some("""WITH cen AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1, 2),
              df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                     FROM cen GROUP BY 1),
              ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT)
                       AS n_sources FROM cen),
              scored AS (
                SELECT source, cen.tok,
                  round(CAST(c AS DOUBLE)
                    * ln((1.0 + CAST(n_sources AS DOUBLE))
                      / (1.0 + CAST(df AS DOUBLE))), 12) AS score
                FROM cen JOIN df ON cen.tok = df.tok, ns),
              r AS (
                SELECT source, tok, score,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score DESC, tok) AS BIGINT) AS rn
                FROM scored)
              SELECT source, rn AS rank, tok, score
              FROM r WHERE rn <= 5 ORDER BY source, rank""")),

    // ── corpus-level BLEU-2 ──────────────────────────────────────────────
    // The standard corpus BLEU aggregation over q_bleu_pairs' pairing:
    // clipped and candidate counts SUM across pairs before the
    // precision division (corpus BLEU ≠ mean of sentence BLEUs). Same
    // persisted per-doc censuses; bleu2 = sqrt(p1·p2) (geometric mean —
    // no libm exp), length ratio reported raw instead of the exp-based
    // brevity penalty for the same cross-engine-exactness reason.
    Q("q_bleu_corpus",
      (s, dir) => {
        // per-doc n-gram censuses = the SHARED pinned BLEU artifacts
        val u = bleuUnigrams(s, dir)
        val b = bleuBigrams(s, dir)
        def tot(cen: DataFrame, lenName: String, clipName: String) = {
          val cand = cen.select(col("doc_id").as("pair"), col("g"), col("c"))
          val ref = cen.select((col("doc_id") - 20).as("pair"),
            col("g"), col("c").as("cr"))
          // pair must EXIST (both docs present): semi via inner length join
          val refLen = cen.groupBy("doc_id").agg(sum(col("c")).as("lr"))
            .select((col("doc_id") - 20).as("pair"), col("lr"))
          cand.join(ref, Seq("pair", "g"), "left")
            .groupBy("pair")
            .agg(sum(col("c")).as("len"),
              sum(least(col("c"), coalesce(col("cr"), lit(0L)))).as("clip"))
            .join(refLen, "pair")
            .agg(sum(col("len")).cast("long").as(lenName),
              sum(col("clip")).cast("long").as(clipName),
              sum(col("lr")).cast("long").as(lenName + "_r"),
              count(lit(1)).as("n_pairs"))
        }
        val t1 = tot(u, "len1", "clip1")
        val t2 = tot(b, "len2", "clip2")
          .select(col("len2"), col("clip2"))
        t1.crossJoin(broadcast(t2))
          .select(col("n_pairs"),
            (col("clip1").cast("double") / col("len1").cast("double"))
              .as("p1"),
            (col("clip2").cast("double") / col("len2").cast("double"))
              .as("p2"),
            sqrt((col("clip1").cast("double") / col("len1").cast("double"))
              * (col("clip2").cast("double") / col("len2").cast("double")))
              .as("bleu2"),
            (col("len1").cast("double") / col("len1_r").cast("double"))
              .as("length_ratio"))
      },
      Some("""WITH tl AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              u AS (
                SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id, unnest(toks) AS g FROM tl)
                WHERE g <> '' GROUP BY 1, 2),
              b AS (
                SELECT doc_id, bg.x || ' ' || bg.y AS g,
                  CAST(count(*) AS BIGINT) AS c
                FROM (SELECT doc_id,
                        unnest([{'x': toks[i], 'y': toks[i+1]}
                          for i in generate_series(1, len(toks) - 1)]) AS bg
                      FROM tl WHERE len(toks) >= 2)
                WHERE bg.x <> '' AND bg.y <> '' GROUP BY 1, 2),
              rl AS (SELECT doc_id - 20 AS pair, CAST(SUM(c) AS BIGINT) AS lr
                     FROM u GROUP BY 1),
              p1 AS (
                SELECT cu.doc_id AS pair, SUM(cu.c) AS len,
                  SUM(least(cu.c, coalesce(ru.c, 0))) AS clip
                FROM u cu LEFT JOIN u ru
                  ON ru.doc_id = cu.doc_id + 20 AND ru.g = cu.g
                GROUP BY 1),
              p2 AS (
                SELECT cb.doc_id AS pair, SUM(cb.c) AS len,
                  SUM(least(cb.c, coalesce(rb.c, 0))) AS clip
                FROM b cb LEFT JOIN b rb
                  ON rb.doc_id = cb.doc_id + 20 AND rb.g = cb.g
                GROUP BY 1),
              t1 AS (
                SELECT CAST(SUM(len) AS BIGINT) AS len1,
                  CAST(SUM(clip) AS BIGINT) AS clip1,
                  CAST(SUM(lr) AS BIGINT) AS len1_r,
                  count(*) AS n_pairs
                FROM p1 JOIN rl ON p1.pair = rl.pair),
              t2 AS (
                SELECT CAST(SUM(len) AS BIGINT) AS len2,
                  CAST(SUM(clip) AS BIGINT) AS clip2
                FROM p2 JOIN rl ON p2.pair = rl.pair)
              SELECT n_pairs,
                CAST(clip1 AS DOUBLE) / CAST(len1 AS DOUBLE) AS p1,
                CAST(clip2 AS DOUBLE) / CAST(len2 AS DOUBLE) AS p2,
                sqrt((CAST(clip1 AS DOUBLE) / CAST(len1 AS DOUBLE))
                  * (CAST(clip2 AS DOUBLE) / CAST(len2 AS DOUBLE)))
                  AS bleu2,
                CAST(len1 AS DOUBLE) / CAST(len1_r AS DOUBLE)
                  AS length_ratio
              FROM t1, t2""")),

    // ── skip-gram PMI (window-3 co-occurrence) ──────────────────────────
    // The word2vec-flavored association statistic: PMI over token pairs
    // within a 3-token forward window (q_collocations is the adjacency
    // special case). Pairs fan out ROW-LOCALLY at ≤3× the token stream
    // (bounded by the window, not the doc); both censuses persist and
    // the totals derive from them — one corpus explode each. PMI =
    // ln of a ratio of exact counts, rounded 12 (per-row, no FP sum).
    Q("q_skipgram_pmi",
      (s, dir) => {
        val tl = t(s, dir, "documents")
          .select(split(col("text"), " ").as("toks"))
        val u = Artifacts.persist(tl.select(explode(col("toks")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("c")))
        val nUni = u.agg(sum(col("c")).as("n_uni"))
        val pairs = Artifacts.persist(tl.select(explode(expr(
            """flatten(transform(toks, (x, i) ->
                 transform(slice(toks, i + 2, 3),
                   y -> struct(x AS x, y AS y))))""")).as("p"))
          .filter(col("p.x") =!= "" && col("p.y") =!= "")
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("c_xy")))
        val nPairs = pairs.agg(sum(col("c_xy")).as("n_pairs"))
        pairs.filter(col("c_xy") >= 10)
          .join(u.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
          .join(u.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
          .crossJoin(broadcast(nUni)).crossJoin(broadcast(nPairs))
          .select(col("x"), col("y"), col("c_xy"),
            round(log(col("c_xy").cast("double")
              * col("n_uni").cast("double") * col("n_uni").cast("double")
              / (col("n_pairs").cast("double") * col("c_x").cast("double")
                * col("c_y").cast("double"))), 12).as("pmi"))
          .orderBy(col("pmi").desc, col("x"), col("y"))
          .limit(20)
      },
      Some("""WITH tl AS (SELECT string_split(text, ' ') AS toks
                          FROM documents),
              uni AS (SELECT unnest(toks) AS tok FROM tl),
              u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                    FROM uni WHERE tok <> '' GROUP BY 1),
              nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM u),
              pr AS (
                SELECT toks[i] AS x, toks[i + k] AS y
                FROM tl,
                  UNNEST(generate_series(1, len(toks))) AS t1(i),
                  UNNEST([1, 2, 3]) AS t2(k)
                WHERE i + k <= len(toks)
                  AND toks[i] <> '' AND toks[i + k] <> ''),
              pc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
                     FROM pr GROUP BY 1, 2),
              np AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_pairs FROM pc)
              SELECT pc.x, pc.y, c_xy,
                round(ln(CAST(c_xy AS DOUBLE)
                  * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)
                  / (CAST(n_pairs AS DOUBLE) * CAST(ux.c AS DOUBLE)
                    * CAST(uy.c AS DOUBLE))), 12) AS pmi
              FROM pc JOIN u ux ON ux.tok = pc.x
                JOIN u uy ON uy.tok = pc.y, nu, np
              WHERE c_xy >= 10
              ORDER BY pmi DESC, x, y LIMIT 20""")),

    // ── token length histogram ───────────────────────────────────────────
    // Tokenizer-design signal: the distribution of token lengths in
    // characters (long tails mean sub-word splitting pays). Row-local
    // explode into ONE length-bounded census; occurrence AND distinct-
    // type counts per length.
    Q("q_token_length_hist",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(length(col("tok")).cast("long").as("tok_len"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("tok")).cast("long").as("n_types"))
        .orderBy("tok_len"),
      Some("""SELECT CAST(length(tok) AS BIGINT) AS tok_len,
                count(*) AS n_occurrences,
                CAST(count(DISTINCT tok) AS BIGINT) AS n_types
              FROM (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1 ORDER BY tok_len""")),

    // ── language vocabulary similarity matrix ───────────────────────────
    // Jaccard of BIGRAM vocabularies between language pairs — which
    // languages share phrasing? The persisted (lang, gram) distinct
    // census self-joins on the gram key (co-partitioned); pairs are
    // bounded by the ≤langs² catalog, sizes census-over-census.
    Q("q_lang_vocab_jaccard",
      (s, dir) => {
        val lg = Artifacts.persist(t(s, dir, "documents")
          .select(col("lang"), split(col("text"), " ").as("toks"))
          .select(col("lang"), explode(expr(
            """CASE WHEN size(toks) >= 2
               THEN transform(sequence(0, size(toks) - 2),
                      i -> concat(toks[i], ' ', toks[i+1]))
               ELSE array() END""")).as("g"))
          .distinct())
        val sz = lg.groupBy("lang").agg(count(lit(1)).as("n"))
        val inter = lg.select(col("lang").as("la"), col("g"))
          .join(lg.select(col("lang").as("lb"), col("g")), "g")
          .filter(col("la") < col("lb"))
          .groupBy("la", "lb").agg(count(lit(1)).as("n_shared"))
        inter
          .join(sz.select(col("lang").as("la"), col("n").as("n_a")), Seq("la"))
          .join(sz.select(col("lang").as("lb"), col("n").as("n_b")), Seq("lb"))
          .select(col("la"), col("lb"), col("n_shared"),
            (col("n_shared").cast("double")
              / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
              .as("jaccard"))
          .orderBy("la", "lb")
      },
      Some("""WITH tl AS (SELECT lang, string_split(text, ' ') AS toks
                          FROM documents),
              lg AS (
                SELECT DISTINCT lang, toks[i] || ' ' || toks[i+1] AS g
                FROM tl, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
                WHERE len(toks) >= 2),
              sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                     FROM lg GROUP BY 1),
              inter AS (
                SELECT a.lang AS la, b.lang AS lb,
                  CAST(count(*) AS BIGINT) AS n_shared
                FROM lg a JOIN lg b ON a.g = b.g AND a.lang < b.lang
                GROUP BY 1, 2)
              SELECT la, lb, n_shared,
                CAST(n_shared AS DOUBLE)
                  / CAST(za.n + zb.n - n_shared AS DOUBLE) AS jaccard
              FROM inter JOIN sz za ON la = za.lang
                JOIN sz zb ON lb = zb.lang
              ORDER BY la, lb""")),

    // ── private-vocabulary share per source ─────────────────────────────
    // How much of each source's vocabulary appears NOWHERE else? The
    // uniqueness complement of q_source_overlap: persisted
    // (source, token) distinct census, token df derived from it, one
    // co-partitioned rejoin — private share = exact counts.
    Q("q_vocab_private_share",
      (s, dir) => {
        val st = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "").distinct())
        val df = st.groupBy("tok").agg(count(lit(1)).as("df"))
        st.join(df, "tok")
          .groupBy("source")
          .agg(count(lit(1)).as("vocab_n"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("private_n"))
          .select(col("source"), col("vocab_n"), col("private_n"),
            (col("private_n").cast("double") / col("vocab_n").cast("double"))
              .as("private_share"))
          .orderBy("source")
      },
      Some("""WITH st AS (
                SELECT DISTINCT source, tok
                FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> ''),
              df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                     FROM st GROUP BY 1)
              SELECT source, count(*) AS vocab_n,
                CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS private_n,
                CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS private_share
              FROM st JOIN df ON st.tok = df.tok
              GROUP BY 1 ORDER BY source""")),

    // ── per-source unigram KL divergence vs the corpus LM ────────────────
    // How far is each source's token distribution from the corpus mix?
    // (The language-model view of q_mix_shift; the lens DoReMi-style
    // domain reweighting reads.) Corpus-sized work is ONE (source,
    // token) census (persisted — the corpus rollup, the top-K pick and
    // the per-source restriction all read it); the distributions live
    // on the DENSE sources × top-200 grid (catalog × constant — absent
    // cells get the Laplace floor), add-one smoothed and renormalized
    // on the frame. KL terms are 12-decimal rounded and summed by the
    // token-pinned sorted fold — both engines reduce identically.
    Q("q_source_kl",
      (s, dir) => {
        val census = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("source", "tok")
          .agg(count(lit(1)).cast("long").as("n")))
        val top = census.groupBy("tok")
          .agg(sum(col("n")).cast("long").as("n_tok"))
          .orderBy(col("n_tok").desc, col("tok"))
          .limit(200)
        val topTot = top.agg(sum(col("n_tok")).cast("long").as("n_corpus"))
        val grid = census.select("source").distinct()
          .crossJoin(broadcast(top))
          .join(census, Seq("source", "tok"), "left")
          .select(col("source"), col("tok"), col("n_tok"),
            coalesce(col("n"), lit(0L)).as("n"))
        val srcTot = grid.groupBy("source")
          .agg(sum(col("n")).cast("long").as("n_src"))
        grid.join(srcTot, "source").crossJoin(broadcast(topTot))
          .select(col("source"), col("tok"), col("n_src"),
            round(((col("n") + 1).cast("double")
              / (col("n_src") + 200).cast("double"))
              * log(((col("n") + 1).cast("double")
                / (col("n_src") + 200).cast("double"))
                / ((col("n_tok") + 1).cast("double")
                  / (col("n_corpus") + 200).cast("double"))), 12)
              .as("term"))
          .groupBy("source")
          .agg(max(col("n_src")).as("n_top_tokens"),
            expr("""aggregate(array_sort(collect_list(struct(tok, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""").as("kl"))
          .orderBy("source")
      },
      Some("""WITH census AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1, 2),
              top AS (
                SELECT tok, CAST(SUM(n) AS BIGINT) AS n_tok
                FROM census GROUP BY 1
                ORDER BY n_tok DESC, tok LIMIT 200),
              tt AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_corpus
                     FROM top),
              grid AS (
                SELECT s.source, top.tok, top.n_tok,
                  COALESCE(census.n, 0) AS n
                FROM (SELECT DISTINCT source FROM census) s
                CROSS JOIN top
                LEFT JOIN census ON census.source = s.source
                  AND census.tok = top.tok),
              st AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_src
                     FROM grid GROUP BY 1),
              terms AS (
                SELECT grid.source, grid.tok, st.n_src,
                  round((CAST(n + 1 AS DOUBLE)
                      / CAST(n_src + 200 AS DOUBLE))
                    * ln((CAST(n + 1 AS DOUBLE)
                        / CAST(n_src + 200 AS DOUBLE))
                      / (CAST(n_tok + 1 AS DOUBLE)
                        / CAST(n_corpus + 200 AS DOUBLE))), 12) AS term
                FROM grid JOIN st ON grid.source = st.source, tt)
              SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_top_tokens,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY tok)), (a, x) -> a + x) AS kl
              FROM terms GROUP BY 1 ORDER BY source""")),

    // ── conditional bigram entropy H(next | prev) for head tokens ────────
    // How predictable is the next token after each high-frequency
    // token? (The LM-difficulty lens q_ngram_lm's probabilities feed;
    // low entropy after a token = boilerplate collocations.) The token
    // arrays are persisted ONCE and both the unigram head pick and the
    // bigram census explode the cache; the entropy frame is bounded by
    // the top-100 head cut. Per-head terms are 12-decimal rounded and
    // folded pinned by the next-token, so both engines reduce
    // identically; the bigram fan-out is guarded against <2-token docs
    // (descending-sequence trap).
    Q("q_bigram_cond_entropy",
      (s, dir) => {
        val toks = Artifacts.persist(t(s, dir, "documents")
          .select(split(col("text"), " ").as("w")))
        val top = toks.select(explode(col("w")).as("u"))
          .filter(col("u") =!= "")
          .groupBy("u").agg(count(lit(1)).cast("long").as("n_u"))
          .orderBy(col("n_u").desc, col("u"))
          .limit(100)
        val bi = toks.select(explode(when(size(col("w")) >= 2, expr(
            """transform(sequence(0, size(w) - 2),
                 i -> struct(w[i] AS u, w[i + 1] AS v))"""))
            .otherwise(expr("CAST(array() AS ARRAY<STRUCT<u: STRING, v: STRING>>)")))
            .as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"))
          .filter(col("u") =!= "" && col("v") =!= "")
          .groupBy("u", "v").agg(count(lit(1)).cast("long").as("n_uv"))
        val restricted = Artifacts.persist(bi.join(broadcast(top.select("u")), "u"))
        val den = restricted.groupBy("u")
          .agg(sum(col("n_uv")).cast("long").as("n_u_dot"))
        restricted.join(broadcast(den), "u")
          .select(col("u"), col("v"), col("n_u_dot"),
            round((col("n_uv").cast("double")
              / col("n_u_dot").cast("double"))
              * -log(col("n_uv").cast("double")
                / col("n_u_dot").cast("double")), 12).as("term"))
          .groupBy("u")
          .agg(max(col("n_u_dot")).as("n_pairs"),
            count(lit(1)).cast("long").as("branching"),
            expr("""aggregate(array_sort(collect_list(struct(v, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
              .as("h_next"))
          .orderBy("u")
      },
      Some("""WITH toks AS (
                SELECT string_split(text, ' ') AS w FROM documents),
              uni AS (
                SELECT u, CAST(count(*) AS BIGINT) AS n_u
                FROM (SELECT unnest(w) AS u FROM toks)
                WHERE u <> '' GROUP BY 1),
              top AS (SELECT u FROM uni ORDER BY n_u DESC, u LIMIT 100),
              bi AS (
                SELECT p.u AS u, p.v AS v, CAST(count(*) AS BIGINT) AS n_uv
                FROM (SELECT unnest(list_transform(
                        generate_series(1, len(w) - 1),
                        i -> {'u': w[i], 'v': w[i + 1]})) AS p
                      FROM toks)
                WHERE p.u <> '' AND p.v <> '' GROUP BY 1, 2),
              restricted AS (
                SELECT bi.u, bi.v, bi.n_uv FROM bi JOIN top ON bi.u = top.u),
              den AS (
                SELECT u, CAST(SUM(n_uv) AS BIGINT) AS n_u_dot
                FROM restricted GROUP BY 1),
              terms AS (
                SELECT restricted.u, v, n_u_dot,
                  round((CAST(n_uv AS DOUBLE) / CAST(n_u_dot AS DOUBLE))
                    * -ln(CAST(n_uv AS DOUBLE) / CAST(n_u_dot AS DOUBLE)),
                    12) AS term
                FROM restricted JOIN den ON restricted.u = den.u)
              SELECT u, CAST(MAX(n_u_dot) AS BIGINT) AS n_pairs,
                count(*) AS branching,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY v)), (a, x) -> a + x) AS h_next
              FROM terms GROUP BY 1 ORDER BY u""")),

    // ── word2vec-style negative-sampling table (unigram^3/4) ────────────
    // The noise distribution p_i ∝ c_i^0.75 over the top-200 head —
    // the skip-gram training prerequisite. c^0.75 = √c · √√c keeps the
    // fractional power CROSS-ENGINE EXACT (two correctly-rounded
    // IEEE square roots and one multiply — exp/ln powers are not);
    // normalization is restricted to the head set, so the fold is a
    // bounded token-pinned 200-item sum of 12-dec terms. ONE corpus
    // pass to the token census; the head picks by (count, token) —
    // an exact total order, no double-keyed ranking.
    Q("q_negative_sampling",
      (s, dir) => {
        val head = Artifacts.persist(t(s, dir, "documents")
          .select(explode(
            expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).cast("long").as("c"))
          .orderBy(col("c").desc, col("tok"))
          .limit(200)
          .withColumn("w",
            round(sqrt(col("c").cast("double"))
              * sqrt(sqrt(col("c").cast("double"))), 12)))
        val z = head.agg(
          expr("""aggregate(array_sort(collect_list(struct(tok, w))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.w)""").as("z"))
        head.crossJoin(broadcast(z))
          .select(col("tok"), col("c"),
            round(col("w") / col("z"), 12).as("p_neg"))
          .orderBy(col("c").desc, col("tok"))
      },
      Some("""WITH tok AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                  x -> x <> '')) AS tok
                FROM documents),
              cen AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1),
              head AS (
                SELECT tok, c,
                  round(sqrt(CAST(c AS DOUBLE))
                    * sqrt(sqrt(CAST(c AS DOUBLE))), 12) AS w
                FROM cen ORDER BY c DESC, tok LIMIT 200),
              z AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(w ORDER BY tok)), (a, x) -> a + x) AS z
                FROM head)
              SELECT tok, c, round(w / z, 12) AS p_neg
              FROM head, z ORDER BY c DESC, tok""")),

    // ── Yule's K vocabulary-richness characteristic per source ──────────
    // The repeat-rate constant stylometrics uses because it is nearly
    // length-invariant: K = 10⁴·(Σc² − N)/N². ENTIRELY EXACT
    // integers until one IEEE division — Σc² and N come straight off
    // the (source, token) census, no frequency-spectrum pivot and no
    // transcendental. ONE corpus pass, one partial+final agg.
    Q("q_yule_k",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"), explode(
            expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).cast("long").as("c"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("vocab"),
            sum(col("c")).cast("long").as("n_tokens"),
            sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
          .select(col("source"), col("vocab"), col("n_tokens"),
            when(col("n_tokens") === 0, lit(null).cast("double"))
              .otherwise(round(lit(10000.0)
                * (col("sc2") - col("n_tokens")).cast("double")
                / (col("n_tokens").cast("decimal(38,0)")
                  * col("n_tokens")).cast("double"), 6)).as("yule_k"))
          .orderBy("source")
      },
      Some("""WITH cen AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT source,
                        unnest(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS tok
                      FROM documents)
                GROUP BY 1, 2),
              agg AS (
                SELECT source, CAST(count(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  SUM(CAST(c AS HUGEINT) * c) AS sc2
                FROM cen GROUP BY 1)
              SELECT source, vocab, n_tokens,
                CASE WHEN n_tokens = 0 THEN NULL
                  ELSE round(10000.0 * CAST(sc2 - n_tokens AS DOUBLE)
                    / CAST(CAST(n_tokens AS HUGEINT) * n_tokens
                      AS DOUBLE), 6) END AS yule_k
              FROM agg ORDER BY source""")),

    // ── Burrows' Delta: stylometric distance between sources ────────────
    // The authorship-attribution classic: z-score each source's
    // relative frequency of the corpus' top-30 tokens against the
    // cross-source panel, Delta(a,b) = mean |z_a − z_b|. The corpus
    // folds ONCE to the (source, token) census (persisted); the head
    // set and the dense head×source grid are bounded (30×|sources|);
    // panel moments are source-pinned folds of 12-dec frequencies,
    // and each pair's Delta is a 30-term token-pinned fold. Pair
    // fan-out is |sources|² — catalog-bounded, never corpus².
    Q("q_burrows_delta",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"), explode(
            expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).cast("long").as("c")))
        val totals = cen.groupBy("source")
          .agg(sum(col("c")).cast("long").as("n_s"))
        val head = cen.groupBy("tok")
          .agg(sum(col("c")).cast("long").as("ct"))
          .orderBy(col("ct").desc, col("tok")).limit(30)
          .select(col("tok"))
        val grid = Artifacts.persist(head.crossJoin(totals)
          .join(cen, Seq("source", "tok"), "left")
          .select(col("tok"), col("source"),
            round(coalesce(col("c"), lit(0L)).cast("double")
              / col("n_s").cast("double"), 12).as("f")))
        val mom = grid.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("ns"),
            expr("""aggregate(array_sort(collect_list(struct(source, f))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.f)""").as("sf"),
            expr("""aggregate(array_sort(collect_list(
                      struct(source, f * f))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.col2)""")
              .as("sff"))
          .select(col("tok"),
            (col("sf") / col("ns").cast("double")).as("mu"),
            sqrt(col("sff") / col("ns").cast("double")
              - (col("sf") / col("ns").cast("double"))
                * (col("sf") / col("ns").cast("double"))).as("sd"))
          .filter(col("sd") > 0)
        val z = grid.join(broadcast(mom), "tok")
          .select(col("tok"), col("source"),
            round((col("f") - col("mu")) / col("sd"), 12).as("z"))
        z.as("a")
          .join(z.select(col("tok").as("tok"),
            col("source").as("src_b"), col("z").as("z_b")), Seq("tok"))
          .filter(col("source") < col("src_b"))
          .select(col("source").as("src_a"), col("src_b"), col("tok"),
            round(abs(col("z") - col("z_b")), 12).as("t"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(tok, t))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.t)"""), 12)
              .as("sum_t"))
          .select(col("src_a"), col("src_b"), col("n_tokens"),
            when(col("n_tokens") === 0, lit(null).cast("double"))
              .otherwise(round(col("sum_t")
                / col("n_tokens").cast("double"), 12)).as("delta"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH cen AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT source,
                        unnest(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS tok
                      FROM documents)
                GROUP BY 1, 2),
              totals AS (
                SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
                FROM cen GROUP BY 1),
              head AS (
                SELECT tok FROM (
                  SELECT tok, CAST(SUM(c) AS BIGINT) AS ct
                  FROM cen GROUP BY 1
                  ORDER BY ct DESC, tok LIMIT 30)),
              grid AS (
                SELECT head.tok, totals.source,
                  round(CAST(COALESCE(c, 0) AS DOUBLE)
                    / CAST(n_s AS DOUBLE), 12) AS f
                FROM head CROSS JOIN totals
                LEFT JOIN cen ON cen.tok = head.tok
                  AND cen.source = totals.source),
              mom AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS ns,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(f ORDER BY source)), (a, x) -> a + x) AS sf,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(f * f ORDER BY source)), (a, x) -> a + x)
                    AS sff
                FROM grid GROUP BY 1),
              ms AS (
                SELECT tok,
                  sf / CAST(ns AS DOUBLE) AS mu,
                  sqrt(sff / CAST(ns AS DOUBLE)
                    - (sf / CAST(ns AS DOUBLE))
                      * (sf / CAST(ns AS DOUBLE))) AS sd
                FROM mom),
              zz AS (
                SELECT grid.tok, source,
                  round((f - mu) / sd, 12) AS z
                FROM grid JOIN ms ON grid.tok = ms.tok
                WHERE sd > 0),
              pairs AS (
                SELECT a.source AS src_a, b.source AS src_b, a.tok,
                  round(abs(a.z - b.z), 12) AS t
                FROM zz a JOIN zz b
                  ON a.tok = b.tok AND a.source < b.source)
              , folds AS (
                SELECT src_a, src_b,
                  CAST(count(*) AS BIGINT) AS n_tokens,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(t ORDER BY tok)), (a, x) -> a + x), 12)
                    AS sum_t
                FROM pairs GROUP BY 1, 2)
              SELECT src_a, src_b, n_tokens,
                CASE WHEN n_tokens = 0 THEN NULL
                  ELSE round(sum_t / CAST(n_tokens AS DOUBLE), 12) END
                  AS delta
              FROM folds ORDER BY src_a, src_b""")),

    // ── lexical-richness battery: Guiraud R, Honoré R, Sichel S ─────────
    // The three classic length-corrected vocabulary-richness indices a
    // corpus-quality pass reads next to q_yule_k / q_chao1: Guiraud
    // R = V/√N (root-corrected type-token ratio), Honoré
    // R = 100·ln(N)/(1 − V1/V) (hapax-weighted — rises when fresh data
    // keeps minting one-off words), Sichel S = V2/V (dis-legomena
    // share, a stable authorship signal). ONE (source, token) census
    // feeds all three: V/V1/V2/N are exact-integer tallies of it;
    // sqrt is correctly-rounded IEEE (identical both engines on
    // identical ints) so Guiraud and Sichel need no rounding at all,
    // and only Honoré's ln gets the 6-dec pin. Census-bounded, one
    // corpus scan, partial+final aggs — the q_yule_k scale shape.
    Q("q_lexical_richness",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"), explode(
            expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).cast("long").as("c"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("vocab"),
            sum(col("c")).cast("long").as("n_tokens"),
            count(when(col("c") === 1, lit(1))).cast("long").as("v1"),
            count(when(col("c") === 2, lit(1))).cast("long").as("v2"))
          .select(col("source"), col("n_tokens"), col("vocab"),
            col("v1"), col("v2"),
            (col("vocab").cast("double")
              / sqrt(col("n_tokens").cast("double"))).as("guiraud_r"),
            when(col("v1") === col("vocab"), lit(null).cast("double"))
              .otherwise(round(lit(100.0)
                * log(col("n_tokens").cast("double"))
                / (lit(1.0) - col("v1").cast("double")
                  / col("vocab").cast("double")), 6)).as("honore_r"),
            (col("v2").cast("double") / col("vocab").cast("double"))
              .as("sichel_s"))
          .orderBy("source")
      },
      Some("""WITH cen AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT source,
                        unnest(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS tok
                      FROM documents)
                GROUP BY 1, 2),
              agg AS (
                SELECT source, CAST(count(*) AS BIGINT) AS vocab,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS v1,
                  CAST(COUNT(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS v2
                FROM cen GROUP BY 1)
              SELECT source, n_tokens, vocab, v1, v2,
                CAST(vocab AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
                  AS guiraud_r,
                CASE WHEN v1 = vocab THEN NULL
                  ELSE round(100.0 * ln(CAST(n_tokens AS DOUBLE))
                    / (1.0 - CAST(v1 AS DOUBLE) / CAST(vocab AS DOUBLE)),
                    6) END AS honore_r,
                CAST(v2 AS DOUBLE) / CAST(vocab AS DOUBLE) AS sichel_s
              FROM agg ORDER BY source""")),

    // ── expected reciprocal rank (ERR@10): the cascade-model metric ─────
    // Completes the MRR/nDCG/MAP/precision-recall ranking family with
    // the cascade-click model: ERR = Σ_r (σ_{r−1}·R_r)/r where
    // R = (2^rel − 1)/16 and σ is the running "not yet satisfied"
    // probability Π(1 − R_i). Same deterministic top-10 per source as
    // q_precision_recall_at_k (n_chars DESC, doc_id; hash-derived
    // rel 1..4). Cross-engine exactness without any rounding: R and
    // 1−R are DYADIC rationals (x/16), so σ is exact in ≤40 mantissa
    // bits, and both engines run the IDENTICAL rank-ordered fold — a
    // same-shape struct accumulator {r, e=ERR, s=σ} over the ordered
    // {r, e=R/r, s=1−R} elements (acc type = element type, the only
    // fold DuckDB's list_reduce admits). Census-bounded: the fold runs
    // over ≤10 rows per source.
    Q("q_err_ranking",
      (s, dir) => {
        // relevance is re-derived from t.id AFTER the top-k pick (the
        // bounded heap only carries (id, score)) — deriving it here too
        // would be dead weight through the groupBy and a second site to
        // drift from the in-projection formula
        val base = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
        val top = base.groupBy("source")
          .agg(expr("graft_topk(doc_id, CAST(n_chars AS DOUBLE), 10)")
            .as("topk"))
          .select(col("source"),
            posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).cast("long").as("r"),
            // (2^rel − 1)/16 via an exact integer shift — no libm pow
            expr("""CAST(shiftleft(1L, CAST(pmod(((t.id % 2147483648)
                * 2654435761) div 65536, 4) + 1 AS INT)) - 1 AS DOUBLE)
                / 16.0""").as("rr"))
        top.groupBy("source")
          .agg(count(lit(1)).cast("long").as("k"),
            expr("""aggregate(
                array_sort(collect_list(named_struct(
                  'r', CAST(r AS DOUBLE),
                  'e', rr / CAST(r AS DOUBLE),
                  's', 1.0 - rr))),
                named_struct('r', CAST(0 AS DOUBLE), 'e', CAST(0 AS DOUBLE),
                  's', CAST(1 AS DOUBLE)),
                (a, x) -> named_struct('r', x.r, 'e', a.e + a.s * x.e,
                  's', a.s * x.s)).e""").as("err_at_k"))
          .orderBy("source")
      },
      Some("""WITH base AS (
                SELECT source, doc_id, n_chars,
                  ((doc_id % 2147483648) * 2654435761 // 65536 % 4 + 4)
                    % 4 + 1 AS rel
                FROM documents),
              r AS (
                SELECT source, rel, CAST(row_number() OVER
                  (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS BIGINT) AS i
                FROM base),
              top AS (
                SELECT source, i AS rk,
                  CAST((1 << rel) - 1 AS DOUBLE) / 16.0 AS rr
                FROM r WHERE i <= 10)
              SELECT source, CAST(count(*) AS BIGINT) AS k,
                (list_reduce(list_prepend(
                  struct_pack(r := CAST(0 AS DOUBLE),
                    e := CAST(0 AS DOUBLE), s := CAST(1 AS DOUBLE)),
                  list(struct_pack(r := CAST(rk AS DOUBLE),
                    e := rr / CAST(rk AS DOUBLE), s := 1.0 - rr)
                    ORDER BY rk)),
                  (a, x) -> struct_pack(r := x.r, e := a.e + a.s * x.e,
                    s := a.s * x.s))).e AS err_at_k
              FROM top GROUP BY source ORDER BY source""")),

    // ── Chao1 vocabulary-richness estimator (bigram species) ────────────
    // "How much vocabulary haven't we seen yet?" — the capture-based
    // richness estimate over bigram types: Chao1 = S_obs +
    // F1(F1−1)/(2(F2+1)) (bias-corrected form, division-safe when
    // F2 = 0) plus Good-Turing sample coverage 1 − F1/N. Everything is
    // a two-stage integer census (grams → counts → abundance tallies) —
    // partial+final aggs on one corpus scan, a 1-row result, and the
    // only IEEE ops are two final divisions. At 100 TB this is the
    // cheapest "is more crawl data still adding vocabulary" readout:
    // no sort, no join, census-bounded by the gram vocabulary.
    Q("q_chao1",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .select(expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(explode(expr(
            """transform(
                 CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
                      ELSE array() END,
                 i -> concat(toks[i - 1], ' ', toks[i]))""")).as("gram"))
          .groupBy("gram").agg(count(lit(1)).cast("long").as("c"))
        census.agg(
            count(lit(1)).cast("long").as("s_obs"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long")
              .as("f1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long")
              .as("f2"),
            sum(col("c")).cast("long").as("n_grams"))
          .select(col("s_obs"), col("f1"), col("f2"), col("n_grams"),
            round(col("s_obs").cast("double")
              + col("f1").cast("double") * (col("f1") - 1).cast("double")
                / (lit(2.0) * (col("f2") + 1).cast("double")), 6)
              .as("chao1"),
            round(lit(1.0) - col("f1").cast("double")
              / col("n_grams").cast("double"), 12).as("coverage"))
      },
      Some("""WITH toks AS (
                SELECT list_filter(string_split(text, ' '), x -> x <> '')
                  AS tk
                FROM documents),
              grams AS (
                SELECT tk[i] || ' ' || tk[i + 1] AS gram
                FROM (SELECT tk,
                        unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM toks)),
              cen AS (
                SELECT gram, CAST(count(*) AS BIGINT) AS c
                FROM grams GROUP BY 1),
              h AS (
                SELECT CAST(count(*) AS BIGINT) AS s_obs,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS f1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS f2,
                  CAST(SUM(c) AS BIGINT) AS n_grams
                FROM cen)
              SELECT s_obs, f1, f2, n_grams,
                round(CAST(s_obs AS DOUBLE)
                  + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                    / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
                round(1.0 - CAST(f1 AS DOUBLE)
                  / CAST(n_grams AS DOUBLE), 12) AS coverage
              FROM h""")),

    // ── hashing-trick collision census (1024-bucket vectorizer) ─────────
    // Before shipping a feature-hashed bag-of-words model, measure what
    // the trick destroys: vocabulary → 1024 buckets via a fixed-window
    // polynomial char hash (ascii/substr only — deliberately
    // engine-portable arithmetic, NOT an engine hash builtin), then the
    // bucket-load histogram + Σload²-based collision probability. Two
    // integer censuses (vocab → buckets → loads), one corpus scan,
    // everything bounded by vocab then 1024 then distinct loads.
    Q("q_feature_hashing",
      (s, dir) => {
        // bigram features: the unigram vocab of the synthetic corpus is
        // ~31 types — bigrams give a vocabulary that actually collides
        val bucket = expr(
          """pmod(ascii(substring(tok, 1, 1)) * 29791
               + ascii(substring(tok, 2, 1)) * 961
               + ascii(substring(tok, 3, 1)) * 31
               + ascii(substring(tok, 4, 1)) * 7
               + ascii(substring(tok, -1, 1)) * 127
               + length(tok), 1024)""")
        val loads = Artifacts.persist(t(s, dir, "documents")
          .select(expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(explode(expr(
            """transform(
                 CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
                      ELSE array() END,
                 i -> concat(toks[i - 1], ' ', toks[i]))""")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .select(bucket.cast("long").as("b"))
          .groupBy("b").agg(count(lit(1)).cast("long").as("load")))
        val tot = loads.agg(sum(col("load")).cast("long").as("n_vocab"),
          count(lit(1)).cast("long").as("n_used"),
          sum(col("load") * (col("load") - 1)).cast("long").as("coll2"))
        loads.groupBy("load")
          .agg(count(lit(1)).cast("long").as("n_buckets"))
          .crossJoin(broadcast(tot))
          .select(col("load"), col("n_buckets"), col("n_vocab"),
            col("n_used"),
            round(col("coll2").cast("double")
              / (col("n_vocab") * (col("n_vocab") - 1)).cast("double"),
              12).as("collision_prob"))
          .orderBy("load")
      },
      Some("""WITH tk AS (
                SELECT list_filter(string_split(text, ' '), x -> x <> '')
                  AS toks
                FROM documents),
              vocab AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT toks[i] || ' ' || toks[i + 1] AS tok
                      FROM (SELECT toks,
                              unnest(generate_series(1, len(toks) - 1))
                                AS i
                            FROM tk))
                GROUP BY 1),
              loads AS (
                SELECT ((ascii(substr(tok, 1, 1)) * 29791
                    + ascii(substr(tok, 2, 1)) * 961
                    + ascii(substr(tok, 3, 1)) * 31
                    + ascii(substr(tok, 4, 1)) * 7
                    + ascii(substr(tok, -1, 1)) * 127
                    + length(tok)) % 1024 + 1024) % 1024 AS b,
                  CAST(count(*) AS BIGINT) AS load
                FROM vocab GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(load) AS BIGINT) AS n_vocab,
                  CAST(count(*) AS BIGINT) AS n_used,
                  CAST(SUM(load * (load - 1)) AS BIGINT) AS coll2
                FROM loads)
              SELECT load, CAST(count(*) AS BIGINT) AS n_buckets,
                n_vocab, n_used,
                round(CAST(coll2 AS DOUBLE)
                  / CAST(n_vocab * (n_vocab - 1) AS DOUBLE), 12)
                  AS collision_prob
              FROM loads, tot GROUP BY load, n_vocab, n_used, coll2
              ORDER BY load""")),

    // ── RAKE keyword extraction (degree/frequency word scores) ──────────
    // Rapid Automatic Keyword Extraction's core scoring: split each
    // document into candidate phrases at STOPWORDS (membership list,
    // not regex — regex dialects differ across engines), then score
    // every content word by deg(w)/freq(w), where freq counts
    // occurrences and deg sums the LENGTHS of the phrases each
    // occurrence sits in (long-phrase words outrank isolated ones —
    // the co-occurrence signal tf-idf misses). Phrase ids are a
    // per-doc stopword-prefix-count (the gaps-islands trick, windows
    // partitioned by doc — row-local at any SF); deg/freq are exact
    // longs off the word census; the top-15 orders on the IEEE ratio
    // of identical integers with a word tiebreak.
    Q("q_rake_keywords",
      (s, dir) => {
        val wPos = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wPhrase = Window.partitionBy("doc_id", "phrase_id")
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
          .withColumn("is_stop", col("w").isin("a", "the"))
          .withColumn("phrase_id",
            sum(col("is_stop").cast("long")).over(wPos))
        val words = toks.filter(!col("is_stop"))
          .withColumn("plen", count(lit(1)).over(wPhrase))
        words.groupBy("w")
          .agg(count(lit(1)).cast("long").as("freq"),
            sum(col("plen")).cast("long").as("deg"))
          .select(col("w"), col("freq"), col("deg"),
            round(col("deg").cast("double") / col("freq").cast("double"),
              6).as("score"))
          .orderBy((col("deg").cast("double")
            / col("freq").cast("double")).desc, col("w"))
          .limit(15)
      },
      Some("""WITH toks AS (
                SELECT doc_id, g.i AS pos,
                  string_split(text, ' ')[g.i] AS w
                FROM documents,
                  UNNEST(generate_series(1,
                    len(string_split(text, ' ')))) AS g(i)),
              flagged AS (
                SELECT doc_id, pos, w,
                  CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END AS st
                FROM toks WHERE w <> ''),
              phrased AS (
                SELECT doc_id, pos, w, st,
                  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS phrase_id
                FROM flagged),
              words AS (
                SELECT doc_id, w, phrase_id,
                  COUNT(*) OVER (PARTITION BY doc_id, phrase_id)
                    AS plen
                FROM phrased WHERE st = 0),
              census AS (
                SELECT w, CAST(count(*) AS BIGINT) AS freq,
                  CAST(SUM(plen) AS BIGINT) AS deg
                FROM words GROUP BY 1)
              SELECT w, freq, deg,
                round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 6)
                  AS score
              FROM census
              ORDER BY CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) DESC, w
              LIMIT 15""")),

    // ── token burstiness (Church–Gale adaptation probability) ───────────
    // tf-idf assumes occurrences are independent; real tokens ADAPT —
    // once a document uses a token it tends to reuse it. Burstiness =
    // P(k ≥ 2 | k ≥ 1) = docs-with-repeat / docs-with-token, the
    // readout LM-data curation uses to separate topical from function
    // words. One (doc, token) count census (partial+final agg),
    // conditional doc counts per token, one IEEE division; top-20 over
    // a df ≥ 50 support floor with a token tiebreak.
    Q("q_token_burstiness",
      (s, dir) => {
        val perDoc = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("k"))
        perDoc.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("df"),
            sum(when(col("k") >= 2, 1L).otherwise(0L)).cast("long")
              .as("df_repeat"))
          .filter(col("df") >= 50)
          .select(col("tok"), col("df"), col("df_repeat"),
            round(col("df_repeat").cast("double")
              / col("df").cast("double"), 12).as("burstiness"))
          .orderBy((col("df_repeat").cast("double")
            / col("df").cast("double")).desc, col("tok"))
          .limit(20)
      },
      Some("""WITH perdoc AS (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
                FROM (SELECT doc_id, unnest(string_split(text, ' '))
                        AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1, 2),
              census AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS df,
                  CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_repeat
                FROM perdoc GROUP BY 1)
              SELECT tok, df, df_repeat,
                round(CAST(df_repeat AS DOUBLE) / CAST(df AS DOUBLE), 12)
                  AS burstiness
              FROM census WHERE df >= 50
              ORDER BY CAST(df_repeat AS DOUBLE) / CAST(df AS DOUBLE)
                DESC, tok
              LIMIT 20""")),

    // ── Menzerath–Altmann law: word length vs document length ───────────
    // The linguistic scaling law ("the longer the construct, the
    // shorter its parts"): do longer documents use shorter words? Docs
    // band by word count (width-10 bands — value-bounded, the corpus
    // length distribution caps the band census); mean word length per
    // band is ONE exact-integer ratio (Σ chars-in-words / Σ words) —
    // whitespace-free char mass so the law isn't polluted by spacing.
    Q("q_menzerath",
      (s, dir) => {
        val perDoc = t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_words"),
            (length(col("text"))
              - (size(split(col("text"), " ")) - 1)).cast("long")
              .as("n_wchars"))
        perDoc
          .groupBy(expr("n_words div 10").as("band"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_words")).cast("long").as("words"),
            sum(col("n_wchars")).cast("long").as("wchars"))
          .select(col("band"), col("n_docs"),
            round(col("wchars").cast("double")
              / col("words").cast("double"), 12).as("mean_word_len"))
          .orderBy("band")
      },
      Some("""WITH per AS (
                SELECT len(string_split(text, ' ')) AS n_words,
                  strlen(text) - (len(string_split(text, ' ')) - 1)
                    AS n_wchars
                FROM documents)
              SELECT CAST(n_words // 10 AS BIGINT) AS band,
                CAST(count(*) AS BIGINT) AS n_docs,
                round(CAST(SUM(n_wchars) AS DOUBLE)
                  / CAST(SUM(n_words) AS DOUBLE), 12) AS mean_word_len
              FROM per GROUP BY 1 ORDER BY band""")),

    // ── Gries' DP: token dispersion across sources ──────────────────────
    // How evenly does a token spread over the corpus parts? DP =
    // Σᵢ|observed share − expected share|/2 (0 = perfectly even,
    // →1 = one source owns it). GRID-FREE exact form: with T = total
    // tokens, Tᵢ = source sizes, f = token count, vᵢ = in-source
    // counts, 2·DP·f·T = Σ_present(|vᵢT − Tᵢf| − Tᵢf) + T·f — absent
    // sources fold into the closed T·f term, so only observed
    // (token, source) cells are touched. All cross-products exact
    // DECIMAL(38,0); ONE division per token.
    Q("q_token_dispersion",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val cells = Artifacts.persist(t(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("v")))
        val sizes = cells.groupBy("source")
          .agg(sum(col("v")).cast("long").as("t_i"))
        val tot = sizes.agg(sum(col("t_i")).cast("long").as("tt"))
        val fTok = cells.groupBy("tok")
          .agg(sum(col("v")).cast("long").as("f"))
        cells.join(broadcast(sizes), "source")
          .join(fTok, "tok")
          .crossJoin(broadcast(tot))
          .groupBy(col("tok"), col("f"), col("tt"))
          .agg(sum(abs(col("v").cast(dec38) * col("tt")
              - col("t_i").cast(dec38) * col("f"))
            - col("t_i").cast(dec38) * col("f")).as("s_present"))
          .filter(col("f") >= 100)
          .select(col("tok"), col("f"),
            round((col("s_present") + col("f").cast(dec38) * col("tt"))
              .cast("double")
              / (lit(2.0) * col("f").cast("double")
                * col("tt").cast("double")), 12).as("dp"))
          .orderBy(col("dp").desc, col("tok"))
          .limit(20)
      },
      Some("""WITH cells AS (
                SELECT source, tok, CAST(count(*) AS BIGINT) AS v
                FROM (SELECT source, unnest(string_split(text, ' '))
                        AS tok
                      FROM documents)
                WHERE tok <> '' GROUP BY 1, 2),
              sizes AS (
                SELECT source, CAST(SUM(v) AS BIGINT) AS t_i
                FROM cells GROUP BY 1),
              tot AS (SELECT CAST(SUM(t_i) AS BIGINT) AS tt FROM sizes),
              ftok AS (
                SELECT tok, CAST(SUM(v) AS BIGINT) AS f
                FROM cells GROUP BY 1),
              terms AS (
                SELECT c.tok, f.f, tot.tt,
                  SUM(abs(CAST(c.v AS HUGEINT) * tot.tt
                      - CAST(s.t_i AS HUGEINT) * f.f)
                    - CAST(s.t_i AS HUGEINT) * f.f) AS s_present
                FROM cells c
                  JOIN sizes s ON c.source = s.source
                  JOIN ftok f ON c.tok = f.tok, tot
                GROUP BY 1, 2, 3)
              SELECT tok, f,
                round(CAST(s_present + CAST(f AS HUGEINT) * tt AS DOUBLE)
                  / (2.0 * CAST(f AS DOUBLE) * CAST(tt AS DOUBLE)), 12)
                  AS dp
              FROM terms WHERE f >= 100
              ORDER BY dp DESC, tok
              LIMIT 20"""))
  )

  /** r9 (r8 verdict item 5): the BPE pair moved INTO the hash gate.
    * The oracle trains the same 10 greedy merge rounds inside DuckDB —
    * no pinned literals needed once the greedy left-to-right merge is
    * recognized as SQL `replace` on an ANCHORED symbol string: encode
    * every word as `' a  b  c '` (single space at the ends, double
    * space between symbols — symbols never contain spaces), and one
    * merge round is `replace(seq, ' a  b ', ' ab ')`. SQL replace scans
    * left to right and resumes AFTER each insertion — exactly the
    * greedy fold's overlap rule (`' a  a  a '` → `' aa  a '`), and the
    * full anchoring makes a cross-symbol match impossible (a suffix
    * match would need the interior double space). Per round the oracle
    * censuses adjacent pairs off the split symbol string, arg-maxes
    * (cnt DESC, a, b) — the engine's exact tiebreak — and re-encodes;
    * the apply oracle chains all `rounds` winners as nested replaces
    * over the distinct-word frame and reads token counts off the space
    * census (k symbols ⇔ 2k spaces). Everything is exact integers until
    * the final chars/token division of identical doubles.
    */
  // final + literal = compile-time constant: the oracle builders run
  // during the `queries` val's initialization, BEFORE ordinary vals
  // declared below it would be assigned (a plain val here reads 0)
  private final val BpeRounds = 10

  /** The shared training CTE chain (v0 → p_r/w_r/v_r per round). */
  private def bpeOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """v0 AS (
      SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' '
               AS seq,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY 1)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
      p$r AS (
        SELECT syms[i] AS a, syms[i+1] AS b, freq
        FROM (SELECT string_split(trim(seq), '  ') AS syms, freq
              FROM v${r - 1}),
             UNNEST(generate_series(1, len(syms) - 1)) AS t(i)),
      w$r AS (
        SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$r
        GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
      v$r AS (
        SELECT replace(seq, ' ' || w.a || '  ' || w.b || ' ',
                       ' ' || w.a || w.b || ' ') AS seq, freq
        FROM v${r - 1}, w$r w)"""
    }
    sb.result()
  }

  private def bpeTrainOracle: String = {
    val unions = (1 to BpeRounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS round, a AS "left", b AS "right",
            cnt AS pair_count FROM w$r""").mkString(" UNION ALL ")
    s"WITH ${bpeOracleCtes(BpeRounds)} " +
      s"SELECT * FROM ($unions) ORDER BY round"
  }

  private def bpeApplyOracle: String = {
    val enc = (1 to BpeRounds).foldLeft("seq") { (e, r) =>
      s"replace($e, ' ' || w$r.a || '  ' || w$r.b || ' ', " +
        s"' ' || w$r.a || w$r.b || ' ')"
    }
    val wJoin = (1 to BpeRounds).map(r => s"w$r").mkString(", ")
    s"""WITH ${bpeOracleCtes(BpeRounds)},
      words AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY 1, 2),
      enc AS (
        SELECT word, $enc AS eseq
        FROM (SELECT DISTINCT word,
                ' ' || array_to_string(string_split(word, ''), '  ') || ' '
                  AS seq
              FROM words), $wJoin),
      tok AS (
        SELECT word,
          (length(eseq) - length(replace(eseq, ' ', ''))) // 2 AS toks
        FROM enc)
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_words,
        CAST(SUM(n * length(word)) AS BIGINT) AS n_chars,
        CAST(SUM(n * toks) AS BIGINT) AS n_tokens,
        CAST(SUM(n * length(word)) AS DOUBLE)
          / CAST(SUM(n * toks) AS DOUBLE) AS chars_per_token
      FROM words JOIN tok USING (word) GROUP BY source ORDER BY source"""
  }

  /** The 10 trained BPE merges for a corpus — (round, left, right,
    * pair_count), memoized per (session, corpus) like the IVF index and
    * the dedup pair artifact: train once, consumed by both q_bpe_train
    * (the merge table itself) and q_bpe_apply (corpus encoding).
    * Training happens on the VOCABULARY frame after one corpus census;
    * the per-round top-1 collect is an iteration constant (PageRank's-N
    * class), not a data collect.
    */
  private[ops] def bpeMerges(
      s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    bpeMemo.computeIfAbsent((s, dir), _ => {
      var vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(split(col("word"), "").as("syms"), col("freq"))
        .localCheckpoint(false)
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (r <- 1 to 10) {
        val top = vocab.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            """transform(sequence(0, size(syms) - 2),
                 i -> struct(syms[i] AS a, syms[i + 1] AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()(0)
        val (a, b) = (top.getString(0), top.getString(1))
        merges += ((r.toLong, a, b, top.getLong(2)))
        vocab = vocab.select(
          aggregate(col("syms"), expr("cast(array() as array<string>)"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a)
                && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x)))).as("syms"),
          col("freq"))
          .localCheckpoint(false)
      }
      merges.result()
    })

  private val bpeMemo =
    Artifacts.memo[Seq[(Long, String, String, Long)]]()
}
