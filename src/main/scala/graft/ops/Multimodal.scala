package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline multimodal columns (north-star extensions).
  *
  * Media are opaque `binary` payloads with a typed metadata struct riding
  * alongside — the schema a 100-TB multimodal corpus uses (payload bytes
  * in parquet, metadata queryable without touching payloads). The
  * container has no image/audio libraries, so the payload format is our
  * own packed header ([[HeaderCodec]] — magic + big-endian fields + body),
  * but the DECODE IS REAL: `q_multimodal_decode` round-trips every field
  * through actual bytes (packed by Spark expressions, parsed back
  * byte-by-byte in an init-once `mapPartitions` codec) and the DuckDB
  * oracle hash-checks the decoded values against an independent
  * recomputation. Swapping [[HeaderCodec]] for a JNI image/audio codec
  * changes one class; the schema, per-partition init, typed encoders and
  * frame sampling around it are production Spark plumbing.
  */
object Multimodal {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** `documents` packed into a REAL binary image-style container:
    * 13-byte header — magic "GIMG" (4) + big-endian u32 width (4) +
    * big-endian u32 height (4) + u8 channels (1) — followed by the
    * payload body (the utf-8 document bytes standing in for pixels).
    * The packing is pure codegen'd expressions (hex/lpad/unhex/concat),
    * so at 100 TB it is a narrow map over the corpus scan; header
    * fields derive from catalog columns so the oracle can recompute
    * them without a binary parser.
    */
  def packedAssets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      concat(
        unhex(concat(
          lit("47494D47"), // "GIMG"
          lpad(hex((col("n_chars") % 640 + 16).cast("int")), 8, "0"),
          lpad(hex((col("doc_id") % 480 + 16).cast("int")), 8, "0"),
          lpad(hex((col("doc_id") % 3 + 1).cast("int")), 2, "0"))),
        encode(col("text"), "UTF-8")).as("payload"))

  /** `documents` recast as a multimodal asset table: payload = utf-8 bytes
    * of `text` standing in for an image/audio blob, plus typed metadata.
    * Columns: doc_id, payload (binary), meta {format, n_bytes, sample_rate}.
    */
  def assets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("bin/v1").as("format"),
        col("n_chars").cast("long").as("n_bytes"),
        (col("doc_id") % 3 * 8000 + 16000).cast("long").as("sample_rate")).as("meta"))

  val queries: Seq[Q] = Seq(

    // ── mixed-type projection: text ⋈ embeddings ⋈ json-ish metadata ─────
    // One row mixing string, numeric, array-derived and computed columns —
    // the "feature row" a training pipeline materializes. The join key is
    // doc_id = vec_id (1:1 by construction). BOTH sides are corpus tables
    // that grow with SF, so neither is hint-broadcast: this is a
    // co-partitioned shuffle join (both sides hash on the same key; with
    // bucketed storage — Sources.bucketed — it is shuffle-free). A forced
    // broadcast of documents would OOM the build side at scale.
    Q("q_multimodal_cols",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            call_function("graft_dot", col("embedding"), col("embedding")).as("e_n2"),
            element_at(col("embedding"), 1).cast("double").as("e_first"))
          .join(docs, col("vec_id") === col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            col("n_tokens"), col("label"), sqrt(col("e_n2")).as("e_norm"),
            col("e_first"))
          .orderBy("doc_id")
      },
      Some("""SELECT d.doc_id, d.lang, d.source, d.n_chars,
                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                e.label,
                sqrt((SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                      FROM generate_series(1, 64) g(i))) AS e_norm,
                CAST(e.embedding[1] AS DOUBLE) AS e_first
              FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
              ORDER BY d.doc_id""")),

    // ── payload decode: REAL binary header parse (rows-only pipeline) ────
    // Every output column comes out of the decoded BYTES — magic check,
    // two big-endian u32 reads, a u8 read, and a body checksum — never
    // from the source columns; the oracle recomputes the same values
    // independently from the catalog columns + (asserted all-ASCII)
    // text codes, so the hash MATCH proves the pack→parse round-trip.
    // At 100 TB this is the map side of a feature-extraction job: one
    // codec instance per partition (the init-once shape a JNI decoder
    // needs), no shuffle at all until the output ORDER BY.
    Q("q_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        packedAssets(s, dir)
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            val dec = new HeaderCodec // init once, stream rows
            it.map { case (id, bytes) => dec.decode(id, bytes) }
          }
          .toDF()
          .select(col("doc_id"), col("width"), col("height"),
            col("channels"), col("row_stride"), col("pixel_bytes"),
            col("pixel_sum"))
          .orderBy("doc_id")
      },
      Some("""WITH chars AS (
                SELECT doc_id, ascii(substring(text, CAST(i AS INT), 1)) AS code
                FROM (SELECT doc_id, text,
                        unnest(generate_series(1, len(text))) AS i
                      FROM documents)),
              a AS (
                SELECT doc_id, CAST(sum(code) AS BIGINT) AS sc
                FROM chars GROUP BY 1)
              SELECT d.doc_id,
                CAST(d.n_chars % 640 + 16 AS BIGINT) AS width,
                CAST(d.doc_id % 480 + 16 AS BIGINT) AS height,
                CAST(d.doc_id % 3 + 1 AS BIGINT) AS channels,
                CAST((d.n_chars % 640 + 16) * (d.doc_id % 3 + 1) AS BIGINT)
                  AS row_stride,
                CAST(d.n_chars AS BIGINT) AS pixel_bytes,
                COALESCE(a.sc, 0) AS pixel_sum
              FROM documents d LEFT JOIN a USING (doc_id)
              ORDER BY d.doc_id""")),

    // ── resolution/aspect census over decoded media headers ─────────────
    // The asset-inventory readout a media-curation pass runs first:
    // decode every header (the REAL GIMG codec path — init-once
    // mapPartitions, same as q_multimodal_decode) and census the fleet
    // by (channels, aspect band, pixel band) with min/max pixels and
    // mean width per cell. All bands are exact integer div arithmetic;
    // the one division (mean width) is an exact-int ratio. The oracle
    // recomputes the synthetic header fields from the generator
    // formulas, so the codec round-trip stays hash-gated while the
    // census shape (decode → partial+final agg over a bounded grid)
    // is the 100-TB plan.
    Q("q_media_resolution",
      (s, dir) => {
        import s.implicits._
        packedAssets(s, dir)
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            val dec = new HeaderCodec // init once, stream rows
            it.map { case (id, bytes) => dec.decode(id, bytes) }
          }
          .toDF()
          .select(col("channels"),
            expr("((width * 1000) div height) div 500").as("aspect_band"),
            expr("(width * height) div 50000").as("mp_band"),
            (col("width") * col("height")).as("px"), col("width"))
          .groupBy("channels", "aspect_band", "mp_band")
          .agg(count(lit(1)).cast("long").as("n_assets"),
            min(col("px")).cast("long").as("min_px"),
            max(col("px")).cast("long").as("max_px"),
            (sum(col("width")).cast("double")
              / count(lit(1)).cast("double")).as("avg_width"))
          .orderBy("channels", "aspect_band", "mp_band")
      },
      Some("""WITH m AS (
                SELECT CAST(doc_id % 3 + 1 AS BIGINT) AS channels,
                  CAST(n_chars % 640 + 16 AS BIGINT) AS w,
                  CAST(doc_id % 480 + 16 AS BIGINT) AS h
                FROM documents),
              b AS (
                SELECT channels, (w * 1000 // h) // 500 AS aspect_band,
                  (w * h) // 50000 AS mp_band, w * h AS px, w
                FROM m)
              SELECT channels, aspect_band, mp_band,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(MIN(px) AS BIGINT) AS min_px,
                CAST(MAX(px) AS BIGINT) AS max_px,
                CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                  AS avg_width
              FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ── frame sampling (media chunking pipeline) ─────────────────────────
    // Payload sliced into fixed 32-byte "frames" (stand-in for video
    // frames / audio windows), every 4th frame sampled, per-frame feature
    // = first-byte value. Pure columnar expressions — no UDF in the hot
    // path; the explode is the row-per-frame fan-out a frame-level model
    // feed uses. Oracle-checked: the payload is the utf-8 bytes of an
    // all-ASCII `text` (asserted pure ASCII with len(text) = n_chars at
    // every SF), so DuckDB reproduces the byte arithmetic with character
    // slicing on the text itself.
    Q("q_frame_sample",
      (s, dir) => assets(s, dir)
        .select(col("doc_id"), col("payload"), col("meta.n_bytes").as("n_bytes"))
        .select(col("doc_id"), col("n_bytes"),
          explode(expr(
            """transform(
                 filter(sequence(0, CAST(ceil(n_bytes / 32.0) AS INT) - 1),
                        f -> f % 4 = 0),
                 f -> struct(CAST(f AS BIGINT) AS frame_id,
                             ascii(CAST(substring(payload, f * 32 + 1, 1) AS STRING)) AS lead_byte))"""))
            .as("fr"))
        .select(col("doc_id"), col("fr.frame_id"),
          col("fr.lead_byte").cast("long").as("lead_byte"))
        .orderBy("doc_id", "frame_id"),
      Some("""SELECT doc_id,
                CAST(f AS BIGINT) AS frame_id,
                CAST(ascii(substring(text, CAST(f * 32 + 1 AS INT), 1)) AS BIGINT) AS lead_byte
              FROM (
                SELECT doc_id, text,
                  unnest(generate_series(0, CAST(ceil(n_chars / 32.0) AS INT) - 1)) AS f
                FROM documents)
              WHERE f % 4 = 0
              ORDER BY doc_id, frame_id""")),

    // ── byte-exact payload dedup with storage-savings accounting ─────────
    // The media twin of q_dedup_exact: identical BLOBS (md5 over the
    // payload BYTES, not any source column) collapse to the min-id
    // keeper, and the readout is what a storage planner needs — loser
    // count and exact bytes reclaimed per source. The hashed frame is
    // persisted (it feeds the keeper census AND the loser re-join — one
    // corpus scan); the join is co-partitioned on the hash. The oracle
    // recomputes md5 over the same utf-8 bytes from the text column.
    Q("q_payload_dedup",
      (s, dir) => {
        val keyed = Artifacts.persist(t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_bytes"),
            md5(encode(col("text"), "UTF-8")).as("h")))
        val keepers = keyed.groupBy("h")
          .agg(min(col("doc_id")).as("keeper"))
        keyed.join(keepers, "h")
          .select(col("source"), col("n_bytes"),
            (col("doc_id") =!= col("keeper")).as("loser"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_assets"),
            sum(when(col("loser"), 1L).otherwise(0L)).cast("long")
              .as("n_losers"),
            sum(when(col("loser"), col("n_bytes")).otherwise(0L))
              .cast("long").as("bytes_saved"))
          .orderBy("source")
      },
      Some("""WITH keyed AS (
                SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_bytes,
                  md5(text) AS h
                FROM documents),
              keepers AS (
                SELECT h, MIN(doc_id) AS keeper FROM keyed GROUP BY 1)
              SELECT source, count(*) AS n_assets,
                CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_losers,
                CAST(SUM(CASE WHEN doc_id <> keeper THEN n_bytes
                  ELSE 0 END) AS BIGINT) AS bytes_saved
              FROM keyed JOIN keepers ON keyed.h = keepers.h
              GROUP BY 1 ORDER BY source"""))
  )
}

/** Real binary container codec for the GIMG packed-header format
  * ([[Multimodal.packedAssets]]): magic "GIMG" + big-endian u32 width +
  * big-endian u32 height + u8 channels + body bytes. `decode` validates
  * the magic and parses every field from raw bytes — the swap point for
  * a JNI image/audio codec keeps this exact signature (one instance per
  * partition, row-streaming, fixed-width numeric row out).
  */
final class HeaderCodec extends Serializable {
  private val HeaderLen = 13

  private def be32(bytes: Array[Byte], off: Int): Long =
    ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
      ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)

  def decode(id: Long, bytes: Array[Byte]): ImgMeta = {
    require(bytes.length >= HeaderLen, s"doc $id: truncated header (${bytes.length} bytes)")
    require(bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'M' && bytes(3) == 'G',
      s"doc $id: bad magic")
    val width = be32(bytes, 4)
    val height = be32(bytes, 8)
    val channels = (bytes(12) & 0xff).toLong
    var sum = 0L
    var i = HeaderLen
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    ImgMeta(id, width, height, channels, width * channels,
      bytes.length - HeaderLen.toLong, sum)
  }
}

final case class ImgMeta(
    doc_id: Long,
    width: Long,
    height: Long,
    channels: Long,
    row_stride: Long,
    pixel_bytes: Long,
    pixel_sum: Long)
