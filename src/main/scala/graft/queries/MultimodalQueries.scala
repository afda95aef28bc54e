package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal decode surface, oracled end-to-end through REAL
  * pure-JVM codecs.
  *
  * The trick that makes a codec oracle-able by an engine with no
  * codec: the synthesized media content is a closed-form function of
  * the row key (pixel (x,y) of asset `id` is `(id*31+7x+13y) mod 256`;
  * sample `i` is `(id*31+11i) mod 65536 - 32768`), so DuckDB can
  * recompute the EXPECTED decoded statistics from arithmetic alone,
  * while the Spark side must round-trip genuine PNG / RIFF-WAV bytes
  * through `javax.imageio` / `javax.sound.sampled` to produce the
  * same numbers. A broken encoder, a broken decoder, or metadata
  * passthrough (reporting stored width instead of decoding it —
  * the assets deliberately carry zeroed metadata) all hash-mismatch.
  *
  * Scale posture: encode and decode are both mapPartitions passes over
  * the asset rows — no shuffle until the final contract ORDER BY; the
  * 100 TB shape is "payloads in parquet binary columns, decode
  * map-only, one whole asset per decode" (Multimodal.scala).
  */
object MultimodalQueries extends Catalog {

  /** Every 5th doc gets an asset: 100 assets at sf0.01, 10k at sf1. */
  private val Every = 5

  override val queries: Seq[Q] = Seq(

    // q111: real PNG encode -> real PNG decode, pixel-exact oracle.
    // PNG is lossless, so the decoded red-channel sum must equal the
    // closed-form sum DuckDB computes with a range-joined pixel grid.
    Q("q111_image_decode",
      (s, dir) => {
        val assets = Multimodal.imageAssetsFromDocuments(
          Tables.load(s, dir, "documents"), Every)
        Multimodal.decodeImageFeatures(assets).toDF()
          .orderBy(col("asset_id"))
      },
      Some("""WITH px AS (SELECT g FROM generate_series(0, 30) t(g))
             |SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
             |       CAST(8 + d.doc_id % 24 AS INT) AS width,
             |       CAST(8 + (d.doc_id * 7) % 24 AS INT) AS height,
             |       CAST(SUM((d.doc_id * 31 + 7 * x.g + 13 * y.g) % 256)
             |            AS BIGINT) AS pixel_sum
             |FROM documents d
             |JOIN px x ON x.g < 8 + d.doc_id % 24
             |JOIN px y ON y.g < 8 + (d.doc_id * 7) % 24
             |WHERE d.doc_id % 5 = 0
             |GROUP BY d.doc_id
             |ORDER BY asset_id""".stripMargin)),

    // q112: real WAV encode -> real WAV decode, sample-exact oracle.
    // PCM is lossless; the decoder parses the RIFF container (fmt
    // chunk, frame length) rather than trusting any stored metadata.
    Q("q112_audio_decode",
      (s, dir) => {
        val assets = Multimodal.audioAssetsFromDocuments(
          Tables.load(s, dir, "documents"), Every)
        Multimodal.decodeAudioFeatures(assets).toDF()
          .orderBy(col("asset_id"))
      },
      Some("""WITH fr AS (SELECT g FROM generate_series(0, 767) t(g))
             |SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
             |       CAST(256 + d.doc_id % 512 AS BIGINT) AS n_frames,
             |       CAST(SUM((d.doc_id * 31 + 11 * i.g) % 65536 - 32768)
             |            AS BIGINT) AS sample_sum
             |FROM documents d
             |JOIN fr i ON i.g < 256 + d.doc_id % 512
             |WHERE d.doc_id % 5 = 0
             |GROUP BY d.doc_id
             |ORDER BY asset_id""".stripMargin)),

    // q113: real multi-frame animated-GIF encode -> real container
    // decode with frame STRIDING (every 2nd frame). The grayscale
    // palette makes GIF lossless on this content, so the sampled-frame
    // pixel sum is exactly the closed form; frame count and dimensions
    // must come from the container index, not stored metadata.
    Q("q113_video_decode",
      (s, dir) => {
        val assets = Multimodal.videoAssetsFromDocuments(
          Tables.load(s, dir, "documents"), Every)
        Multimodal.decodeVideoFeatures(assets, stride = 2).toDF()
          .orderBy(col("asset_id"))
      },
      Some("""WITH px AS (SELECT g FROM generate_series(0, 15) t(g)),
             |     fr AS (SELECT g FROM generate_series(0, 9) t(g))
             |SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
             |       CAST(4 + d.doc_id % 6 AS INT) AS n_frames,
             |       CAST(8 + d.doc_id % 8 AS INT) AS width,
             |       CAST(8 + (d.doc_id * 3) % 8 AS INT) AS height,
             |       CAST(SUM((d.doc_id * 31 + 7 * x.g + 13 * y.g
             |                 + 19 * f.g) % 256) AS BIGINT)
             |         AS sampled_pixel_sum
             |FROM documents d
             |JOIN px x ON x.g < 8 + d.doc_id % 8
             |JOIN px y ON y.g < 8 + (d.doc_id * 3) % 8
             |JOIN fr f ON f.g < 4 + d.doc_id % 6 AND f.g % 2 = 0
             |WHERE d.doc_id % 5 = 0
             |GROUP BY d.doc_id
             |ORDER BY asset_id""".stripMargin))
  )
}
