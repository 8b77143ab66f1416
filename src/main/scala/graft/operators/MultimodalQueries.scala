package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord

/** Multimodal-plumbing coverage. The media table derives its binary
  * content deterministically from the documents corpus (UTF-8 bytes,
  * pure ASCII — verified), so the DuckDB oracles can recompute every
  * stubbed-decoder feature from text codepoints: bytes == codepoints.
  */
object MultimodalQueries extends QueryPack {

  /** Column-level kind filter (not a typed lambda) so the predicate
    * folds into the scan instead of running post-deserialization. */
  private def media(s: SparkSession, d: String,
                    kind: String): Dataset[MediaRecord] = {
    val sp = s; import sp.implicits._
    Multimodal.mediaFromDocuments(Tables.documents(s, d))
      .filter(col("kind") === kind).as[MediaRecord]
  }

  protected val entries: Map[String, Query] = Map(
    // Manifest over the opaque binary column: sizes + digests.
    // Audio near-dup via landmark fingerprints (the Wang/Shazam
    // constellation idea in deterministic integer form): windowed
    // energies → local maxima (peaks) → fingerprint = (band₁, band₂,
    // Δt) of consecutive peak pairs (fan-out 2) with per-clip
    // relative energy bands — then clips sharing ≥5 distinct
    // fingerprints are duplicate/edit suspects. The corpus is salted
    // with tail-edited copies (leading windows identical), which the
    // matcher must recover. Everything is exact int64: energies,
    // bands (×64 DIV (max+1) — non-negative, floor==truncation),
    // hashes; the match join is fingerprint-equi, never all-pairs.
    // Scale: fingerprints per clip ≈ #peaks·2, the join key is a
    // 17-bit-entropy int — at 100 TB add a (band₁) prefilter bucket
    // exactly like the LSH band joins.
    "q256_audio_fingerprint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sp = s; import sp.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"))
      val salted = base.unionAll(base.filter(col("doc_id") % 6 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(expr(
            "substring(text, 1, greatest(0, length(text) - 40))"),
            lit("Y" * 40)).as("text")))
      val en = Multimodal.audioEnergy(
        salted.select(col("doc_id").as("media_id"),
          lit("audio").as("kind"), lit("wav").as("fmt"),
          col("text").cast("binary").as("content"))
          .as[Multimodal.MediaRecord],
        windowSamples = 32).toDF()
      val wn = Window.partitionBy(col("media_id"))
        .orderBy(col("window_no"))
      val peaks = en
        .withColumn("pl", lag(col("energy"), 1, -1L).over(wn))
        .withColumn("pr", lead(col("energy"), 1, -1L).over(wn))
        .filter(col("energy") > col("pl") && col("energy") > col("pr"))
        .select(col("media_id"), col("window_no"), col("energy"))
      val emax = peaks.groupBy(col("media_id"))
        .agg(max(col("energy")).as("emax"))
      val banded = peaks.join(broadcast(emax), "media_id")
        .select(col("media_id"), col("window_no"),
          expr("(energy * 64) DIV (emax + 1)").as("eb"))
      val wp = Window.partitionBy(col("media_id"))
        .orderBy(col("window_no"))
      val fp = Seq(1, 2).map { k =>
        banded
          .withColumn("w2", lead(col("window_no"), k).over(wp))
          .withColumn("eb2", lead(col("eb"), k).over(wp))
          .filter(col("w2").isNotNull
            && col("w2") - col("window_no") <= 16)
          .select(col("media_id"),
            ((col("eb") * 64 + col("eb2")) * 32
              + least(lit(31), col("w2") - col("window_no")))
              .as("fp"))
      }.reduce(_ unionAll _).distinct()
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp")
            && col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("media_a"),
          col("b.media_id").as("media_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("n_shared").desc, col("media_a").asc,
          col("media_b").asc)
        .limit(20)
    }),
    // REAL audio codec end-to-end (r12, replacing the audio decode
    // stub): per audio doc a spec-exact RIFF/WAVE payload is
    // synthesized (PCM16 mono, per-doc sample rate, a JUNK chunk with
    // an ODD size ahead of fmt), then Multimodal.decodeWav — a real
    // chunk walker with pad-byte handling — parses it back and the
    // q151-shape integer DSP windows the energies, carrying the
    // DECODED header's sample rate. The oracle recomputes the sample
    // values from the text codepoints (the corpus is pure ASCII:
    // byte == codepoint) and the sample rate from doc_id — a builder
    // or parser header slip diverges the hash. Row-local throughout:
    // build+decode+window is one mapPartitions pass, zero shuffles
    // before the output.
    "q375_wav_decode" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val samples = text.map(ch => (ch.toInt - 80) * 200).toArray
          val sr = 8000 + ((id / 3) % 4).toInt * 4000
          MediaRecord(id, "audio", "wav",
            Multimodal.buildWavPcm16(sr, 1, samples, junkChunk = true))
        })
      Multimodal.audioEnergyWav(media, windowSamples = 32).toDF()
        .select(col("media_id"), col("window_no"), col("energy"),
          col("n_samples"), col("sample_rate"))
    }),
    // REAL image codec end-to-end (the q375 discipline for images):
    // build spec-exact 8-bit palette BMPs — width 30, deliberately
    // not a multiple of 4, so the 4-byte row stride padding and the
    // bottom-up row order are both load-bearing — from the image-kind
    // docs' codepoints, decode them back with the real BMP parser,
    // and pool the raster into 10×10 block sums. The oracle
    // recomputes the blocks from the text codepoints directly: a
    // builder or parser slip (stride, row order, palette channel,
    // data offset) diverges the per-block sums. Row-local throughout.
    "q381_bmp_decode" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val W = 30
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0 && length(col("text")) >= W)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val h = text.length / W
          val px = text.take(h * W).map(_.toInt).toArray
          MediaRecord(id, "image", "bmp",
            Multimodal.buildBmpGray8(W, px))
        })
      Multimodal.imageBlocksBmp(media, block = 10).toDF()
        .select(col("media_id"), col("block_row"), col("block_col"),
          col("sum_px"), col("n_px"), col("width"), col("height"))
    }),
    // COMPRESSED image codec (r12 verdict task 4): same contract as
    // q381 but the containers are BI_RLE8-compressed — encoded runs,
    // absolute runs (WORD-padded) and the end-of-line/bitmap escapes
    // all sit on the decode path, over a different doc slice. The
    // oracle recomputes the block sums from the text codepoints, so
    // any RLE coder/decoder slip (run split, pad byte, bottom-up row
    // order under compression) diverges the sums. Row-local.
    "q391_bmp_rle8" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val W = 30
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 1 && length(col("text")) >= W)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val h = text.length / W
          val px = text.take(h * W).map(_.toInt).toArray
          MediaRecord(id, "image", "bmp",
            Multimodal.buildBmpRle8(W, px))
        })
      Multimodal.imageBlocksBmp(media, block = 10).toDF()
        .select(col("media_id"), col("block_row"), col("block_col"),
          col("sum_px"), col("n_px"), col("width"), col("height"))
    }),
    // COMPRESSED audio codec (r14 verdict task 4): G.711 µ-law/A-law
    // — the companded telephony formats real scraped audio arrives
    // in (WAV format tags 7/6). Codewords come straight from the
    // docs' codepoints (mod 256), the WAV container wraps them with
    // the law picked by doc parity, and decodeWav expands through
    // the ITU-T tables to 16-bit linear. The oracle recomputes the
    // expansion ARITHMETICALLY from the codepoints (the CCITT
    // segment/mantissa formula in SQL) — a table slip, sign-bit or
    // XOR-0x55 error diverges every window's energy. Row-local.
    "q411_g711_wav" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val codes = text.map(_.toInt & 0xff).toArray
          MediaRecord(id, "audio", "wav",
            Multimodal.buildWavG711(8000, 1, codes,
              mulaw = id % 2 == 0))
        })
      Multimodal.audioEnergyWav(media, windowSamples = 32).toDF()
        .select(col("media_id"), col("window_no"), col("energy"),
          col("n_samples"), col("sample_rate"),
          when(col("media_id") % 2 === 0, lit("ulaw"))
            .otherwise(lit("alaw")).as("law"))
    }),
    // IMA ADPCM (r15 verdict task 5): WAV format tag 0x11 — 4-bit
    // differential coding over the public 89-entry step table,
    // block-aligned with (predictor, step index) headers. The nibble
    // stream comes straight from the docs' codepoints (mod 16), the
    // builder lays out spec-exact blocks carrying the running decoder
    // state in each header, and decodeWav reconstructs 16-bit linear
    // through the IMA state machine. The oracle replays the SAME
    // public algorithm as a DuckDB recursive CTE over (predictor,
    // index) state — a table slip, clamp miss, nibble order or
    // block-framing error diverges every window's energy. Row-local
    // on the engine side; the stateful part never leaves the row.
    "q422_adpcm_wav" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val K = 32 // nibbles per block → blockAlign 20, 33 samples/block
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 1 && length(col("text")) >= K)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val tot = (text.length / K) * K
          val nibbles = text.take(tot).map(_.toInt & 0x0f).toArray
          MediaRecord(id, "audio", "wav",
            Multimodal.buildWavAdpcm(8000, nibbles, blockAlign = 20,
              initIndex = (id % 89).toInt))
        })
      Multimodal.audioEnergyWav(media, windowSamples = 32).toDF()
        .select(col("media_id"), col("window_no"), col("energy"),
          col("n_samples"), col("sample_rate"))
    }),
    // REAL video codec end-to-end, completing the trio (q375 audio,
    // q381 image): build spec-exact AVI containers — LIST hdrl/avih
    // header, odd-size JUNK between hdrl and movi (pad-byte walking
    // load-bearing), LIST movi of raw 00db bottom-up stride-padded
    // DIB frames at width 6 (stride 8) — from the video-kind docs'
    // codepoints, decode them back with the real RIFF/AVI walker, and
    // emit a POSITION-WEIGHTED checksum per frame (order-sensitive:
    // a row-order or stride slip moves the value where a plain sum
    // would not). The oracle recomputes the weighted sums from the
    // codepoints directly. Row-local throughout.
    "q382_avi_decode" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val (w, h) = (6, 4)
      val fpx = w * h
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 2 && length(col("text")) >= fpx)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val nf = text.length / fpx
          val frames = (0 until nf).map(f =>
            text.slice(f * fpx, (f + 1) * fpx).map(_.toInt).toArray)
          MediaRecord(id, "video", "avi",
            Multimodal.buildAviGray8(w, h, frames, junkChunk = true))
        })
      Multimodal.videoFrameFeatsAvi(media).toDF()
        .select(col("media_id"), col("frame_no"), col("wsum"),
          col("n_px"), col("width"), col("height"))
    }),
    "q57_media_manifest" -> ((s, d) =>
      Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .select(col("media_id"), col("kind"), col("fmt"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("digest"))),
    // Media↔caption pair batches per modality (training batch shape).
    "q87_pair_batches" -> ((s, d) =>
      Multimodal.captionPairBatches(Tables.documents(s, d), batchSize = 32)),
    // Stub decode + feature extraction via mapPartitions.
    "q58_image_features" -> ((s, d) =>
      Multimodal.imageFeatures(media(s, d, "image")).toDF()),
    // Stride-4 "resize" then re-extract features.
    "q59_image_resize" -> ((s, d) =>
      Multimodal.resizedFeatures(media(s, d, "image"), stride = 4).toDF()),
    // 16-byte frames, every 2nd sampled, rolling-hash fingerprint.
    "q60_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(media(s, d, "video"), frameBytes = 16,
        everyNth = 2).toDF()),
    // 32-sample windowed energy over centered i8 samples.
    "q61_audio_energy" -> ((s, d) =>
      Multimodal.audioEnergy(media(s, d, "audio"), windowSamples = 32)
        .toDF()),
    // Robust size outliers per modality: median/MAD envelope over the
    // binary payload sizes — the corrupt-file detector (truncated
    // downloads, runaway transcodes) that mean/stddev misses because
    // the outliers poison the estimate. All medians land on exact
    // half-integers (integer inputs), so both engines compare
    // identical doubles — no rounding needed anywhere. Per-kind
    // scalars broadcast back; the manifest scans stay 2 columns.
    "q160_size_outliers" -> ((s, d) => {
      val m = Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .select(col("kind"), col("media_id"),
          length(col("content")).cast("long").as("nb"))
      val med = m.groupBy(col("kind"))
        .agg(percentile(col("nb"), lit(0.5)).as("med"))
      val dev = m.join(broadcast(med), "kind")
        .select(col("kind"), col("nb"), col("med"),
          abs(col("nb") - col("med")).as("dev"))
      val mad = dev.groupBy(col("kind"))
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "kind")
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), max(col("med")).as("med_bytes"),
          max(col("mad")).as("mad_bytes"),
          sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    }),
    // Voice-activity segments: gap-islands over the audio energy
    // windows (q61's decode) — consecutive windows whose normalized
    // energy beats the clip's own mean become one segment, the
    // speech/silence splitter of audio training prep. The activity
    // test cross-multiplies exact integers (energy·tn > te·n), the
    // clip totals ride back via broadcast, and the island ids come
    // from the classic window_no − row_number trick inside the
    // media_id partition — one keyed shuffle end to end.
    "q151_vad_segments" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val en = Multimodal.audioEnergy(media(s, d, "audio"),
        windowSamples = 32).toDF()
      val tot = en.groupBy(col("media_id"))
        .agg(sum(col("energy")).as("te"),
          sum(col("n_samples").cast("long")).as("tn"))
      val act = en.join(broadcast(tot), "media_id")
        .filter(col("energy") * col("tn") > col("te") * col("n_samples"))
      val w = Window.partitionBy(col("media_id")).orderBy(col("window_no"))
      act.withColumn("grp", col("window_no") - row_number().over(w))
        .groupBy(col("media_id"), col("grp"))
        .agg(min(col("window_no")).as("seg_start"),
          max(col("window_no")).as("seg_end"),
          count(lit(1)).cast("long").as("n_windows"))
        .select(col("media_id"), col("seg_start"), col("seg_end"),
          col("n_windows"))
    }),
    // Video → frame features → mean-pooled per-video embedding: the
    // frame-encoder + pooling shape of multimodal training prep. The
    // stub encoder runs per-partition; the pool is a declarative
    // groupBy with exact long sums, one shuffle on media_id.
    "q119_frame_embed_pool" -> ((s, d) =>
      Multimodal.frameFeatures(media(s, d, "video"), frameBytes = 16,
          everyNth = 2)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          round(sum(col("fsum")).cast("double") / count(lit(1)), 6)
            .as("mean_sum"),
          round(sum(col("fmin")).cast("double") / count(lit(1)), 6)
            .as("mean_min"),
          round(sum(col("fmax")).cast("double") / count(lit(1)), 6)
            .as("mean_max"),
          // hash means are ~1e9: rounding THAT at 6 dp sits below the
          // double's ulp (ill-conditioned, engines disagree on
          // boundary cells) — normalize into [0,1) first
          round(sum(col("fhash")).cast("double") / count(lit(1))
            / 1000000007.0, 6).as("mean_hash_norm"))),
    // Perceptual-hash image near-dup: images plus synthetically
    // perturbed copies (one overwritten leading byte, id+100000 —
    // the q113 planted-duplicate pattern), 60-bit block-mean hash
    // per image, then the q43 pigeonhole: 4 chunks of 15 bits —
    // hamming ≤ 3 ⇒ at least one chunk equal — so candidates come
    // from 4 bucketed equi-joins on (chunk_no, chunk_value), never
    // an all-pairs product; xor-popcount verifies. One typed pass
    // for hashes, everything after is (id, long) tuples.
    "q132_phash_dedup" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val docs = Tables.documents(s, d)
      val imgs = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val pert = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("X"), col("text")
            .substr(lit(2), length(col("text")))).as("text"))
      val corpus = imgs.unionAll(pert)
        .select(col("doc_id"), col("text").cast("binary").as("content"))
        .as[(Long, Array[Byte])]
      val ph = Multimodal.blockMeanHash(corpus).toDF("doc_id", "h")
      val chv = ph
        .select(col("doc_id"), col("h"),
          explode(sequence(lit(0), lit(3))).as("c"))
        .withColumn("v",
          expr("shiftright(h, cast(15 * c as int))") bitwiseAND lit(32767L))
      val a = chv.select(col("doc_id").as("id_a"), col("h").as("ha"),
        col("c"), col("v"))
      val b = chv.select(col("doc_id").as("id_b"), col("h").as("hb"),
        col("c"), col("v"))
      a.join(b, Seq("c", "v")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("ha"), col("hb")).distinct()
        .select(col("id_a"), col("id_b"),
          bit_count(col("ha") bitwiseXOR col("hb")).cast("long").as("dist"))
        .filter(col("dist") <= 3)
    }),
    // LAION-style CLIP-score pair filter: every (caption, image
    // embedding) pair scored by cosine, kept iff score ≥ τ — THE
    // web-scale image-text curation gate (LAION-400M was built with
    // exactly this shape). The CLIP text tower is the stubbed piece:
    // a deterministic 64-dim feature-hash encoder (md5-60 word hash →
    // dim = h&63, sign = bit 6) stands in, so the oracle recomputes
    // the entire score bit-for-bit; the image tower is the embeddings
    // table keyed by doc_id. Everything else is the production
    // plumbing at its real scale shape: row-local encode, (doc,dim)
    // long-form dot product (never a dense-vector UDF), one pairing
    // join on doc_id, per-source keep/drop report with unpaired docs
    // surfaced by the left join. τ=0.05 is calibrated to the stub
    // encoder's score spread (quartiles ±0.09, symmetric about 0).
    "q212_clip_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = Dedup.md5Hash60(col("w"))
      val tv = docs.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), col("source"),
          (h bitwiseAND lit(63L)).as("dim"),
          when((shiftright(h, 6) bitwiseAND lit(1L)) === 0L, lit(1L))
            .otherwise(lit(-1L)).as("sgn"))
        .groupBy(col("doc_id"), col("source"), col("dim"))
        .agg(sum(col("sgn")).as("tv"))
      val tn = tv.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("tv") * col("tv"))).as("tnrm"))
      val img = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"),
          posexplode(col("embedding")).as(Seq("dim0", "xf")))
        .select(col("doc_id"), col("dim0").cast("long").as("dim"),
          col("xf").cast("double").as("ix"))
      val inrm = img.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("ix") * col("ix"))).as("inrm"))
      val dot = tv.join(img, Seq("doc_id", "dim"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("tv") * col("ix")).as("dp"))
      val score = dot.join(tn, "doc_id").join(inrm, "doc_id")
        .select(col("doc_id"), col("source"),
          round(col("dp") / (col("tnrm") * col("inrm")), 6).as("sc"))
      val paired = score.groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sc") >= 0.05, 1L).otherwise(0L)).cast("long")
            .as("n_kept"),
          round(min(col("sc")), 6).as("min_score"),
          round(max(col("sc")), 6).as("max_score"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(paired, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("min_score"), col("max_score"))
    }),
    // Shot-boundary detection: a cut where a sampled frame's feature
    // sum jumps >20% from its predecessor (the stub analog of
    // histogram-difference shot detection); segments = running sum of
    // cut flags. Per-media windows are bounded by media length (the
    // q151 VAD contract); frame features ride the same one-pass
    // extractor as q119. Output: shots, longest shot, mean length
    // per video.
    "q237_shot_boundaries" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fr = Multimodal.frameFeatures(media(s, d, "video"),
        frameBytes = 16, everyNth = 2).toDF()
      val wSeq = Window.partitionBy(col("media_id"))
        .orderBy(col("frame_no"))
      val shots = fr
        .withColumn("prev", lag(col("fsum"), 1).over(wSeq))
        .withColumn("b", when(col("prev").isNotNull &&
          abs(col("fsum") - col("prev")) * 5 > col("prev"), 1L)
          .otherwise(0L))
        .withColumn("shot", sum(col("b")).over(wSeq
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("media_id"), col("shot"))
        .agg(count(lit(1)).as("len"))
      shots.groupBy(col("media_id"))
        .agg((max(col("shot")) + 1).cast("long").as("n_shots"),
          sum(col("len")).cast("long").as("n_frames"),
          max(col("len")).cast("long").as("longest_shot"),
          round(sum(col("len")).cast("double")
            / (max(col("shot")) + 1), 6).as("mean_shot_len"))
    })
  )

  private val hashRed =
    "(h, c) -> (h * 31 + c) % 1000000007"

  /** codepoint exploder restricted to one media kind (doc_id mod 3). */
  private def cpCte(kindMod: Int) =
    s"""cp AS (SELECT doc_id, text,
      |   unnest(generate_series(1, length(text))) AS i
      |  FROM documents WHERE doc_id % 3 = $kindMod),
      | b AS (SELECT doc_id, i,
      |   CAST(unicode(substr(text, i, 1)) AS BIGINT) AS p FROM cp)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q382_avi_decode" ->
      s"""WITH ${cpCte(2)},
        | lim AS (SELECT doc_id,
        |   CAST(length(text) // 24 AS BIGINT) AS nf
        |  FROM documents
        |  WHERE doc_id % 3 = 2 AND length(text) >= 24),
        | q AS (SELECT b.doc_id, (b.i - 1) // 24 AS frame_no,
        |   (b.i - 1) % 24 AS j, b.p
        |  FROM b JOIN lim USING (doc_id) WHERE b.i <= lim.nf * 24)
        | SELECT doc_id AS media_id, CAST(frame_no AS INT) AS frame_no,
        |  CAST(sum((j + 1) * p) AS BIGINT) AS wsum,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(6 AS INT) AS width, CAST(4 AS INT) AS height
        | FROM q GROUP BY doc_id, frame_no""".stripMargin,
    "q381_bmp_decode" ->
      s"""WITH ${cpCte(0)},
        | lim AS (SELECT doc_id,
        |   CAST(length(text) // 30 AS BIGINT) AS h
        |  FROM documents
        |  WHERE doc_id % 3 = 0 AND length(text) >= 30),
        | q AS (SELECT b.doc_id, b.i - 1 AS i0, b.p, lim.h
        |  FROM b JOIN lim USING (doc_id) WHERE b.i <= lim.h * 30)
        | SELECT doc_id AS media_id,
        |  CAST((i0 // 30) // 10 AS INT) AS block_row,
        |  CAST((i0 % 30) // 10 AS INT) AS block_col,
        |  CAST(sum(p) AS BIGINT) AS sum_px,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(30 AS INT) AS width,
        |  CAST(h AS INT) AS height
        | FROM q
        | GROUP BY doc_id, (i0 // 30) // 10, (i0 % 30) // 10, h""".stripMargin,
    "q391_bmp_rle8" ->
      s"""WITH ${cpCte(1)},
        | lim AS (SELECT doc_id,
        |   CAST(length(text) // 30 AS BIGINT) AS h
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND length(text) >= 30),
        | q AS (SELECT b.doc_id, b.i - 1 AS i0, b.p, lim.h
        |  FROM b JOIN lim USING (doc_id) WHERE b.i <= lim.h * 30)
        | SELECT doc_id AS media_id,
        |  CAST((i0 // 30) // 10 AS INT) AS block_row,
        |  CAST((i0 % 30) // 10 AS INT) AS block_col,
        |  CAST(sum(p) AS BIGINT) AS sum_px,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(30 AS INT) AS width,
        |  CAST(h AS INT) AS height
        | FROM q
        | GROUP BY doc_id, (i0 // 30) // 10, (i0 % 30) // 10, h""".stripMargin,
    "q256_audio_fingerprint" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |   substr(text, 1, greatest(0, length(text) - 40))
        |     || repeat('Y', 40) AS text
        |  FROM documents WHERE doc_id % 6 = 1),
        | cp AS (SELECT doc_id, text,
        |   unnest(generate_series(1, length(text))) AS i FROM corpus),
        | b AS (SELECT doc_id, i,
        |   CAST(unicode(substr(text, i, 1)) AS BIGINT) AS p FROM cp),
        | en AS (SELECT doc_id AS media_id,
        |   CAST((i - 1) // 32 AS BIGINT) AS window_no,
        |   CAST(sum((p - 128) * (p - 128)) AS BIGINT) AS energy
        |  FROM b GROUP BY 1, 2),
        | pk AS (SELECT media_id, window_no, energy FROM (
        |   SELECT media_id, window_no, energy,
        |    coalesce(lag(energy) OVER w, -1) AS pl,
        |    coalesce(lead(energy) OVER w, -1) AS pr
        |   FROM en WINDOW w AS (PARTITION BY media_id
        |     ORDER BY window_no))
        |  WHERE energy > pl AND energy > pr),
        | emax AS (SELECT media_id, max(energy) AS emax
        |  FROM pk GROUP BY 1),
        | banded AS (SELECT pk.media_id, window_no,
        |   (energy * 64) // (emax + 1) AS eb
        |  FROM pk JOIN emax ON pk.media_id = emax.media_id),
        | l1 AS (SELECT media_id, window_no, eb,
        |   lead(window_no, 1) OVER w AS w2, lead(eb, 1) OVER w AS eb2,
        |   lead(window_no, 2) OVER w AS w3, lead(eb, 2) OVER w AS eb3
        |  FROM banded WINDOW w AS (PARTITION BY media_id
        |    ORDER BY window_no)),
        | fps AS (
        |  SELECT DISTINCT media_id,
        |    (eb * 64 + eb2) * 32 + least(31, w2 - window_no) AS fp
        |   FROM l1 WHERE w2 IS NOT NULL AND w2 - window_no <= 16
        |  UNION
        |  SELECT media_id,
        |    (eb * 64 + eb3) * 32 + least(31, w3 - window_no) AS fp
        |   FROM l1 WHERE w3 IS NOT NULL AND w3 - window_no <= 16),
        | m AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
        |   count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp
        |   AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        | SELECT media_a, media_b, CAST(n_shared AS BIGINT) AS n_shared
        | FROM m WHERE n_shared >= 5
        | ORDER BY n_shared DESC, media_a, media_b LIMIT 20"""
        .stripMargin,
    "q132_phash_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |   'X' || substr(text, 2) AS text
        |  FROM documents WHERE doc_id % 6 = 0),
        | cp AS (SELECT doc_id, text,
        |   unnest(generate_series(1, length(text))) AS i FROM corpus),
        | b AS (SELECT doc_id, i,
        |   CAST(unicode(substr(text, i, 1)) AS BIGINT) AS p,
        |   CAST(length(text) AS BIGINT) AS n FROM cp),
        | blk AS (SELECT doc_id, (i - 1) * 60 // n AS blk,
        |   sum(p) AS bs, count(*) AS bn, max(n) AS n
        |  FROM b GROUP BY doc_id, (i - 1) * 60 // n),
        | tot AS (SELECT doc_id, CAST(sum(bs) AS BIGINT) AS ts,
        |   max(n) AS n FROM blk GROUP BY doc_id),
        | bits AS (SELECT blk.doc_id,
        |   CASE WHEN bs * tot.n > ts * bn
        |    THEN (CAST(1 AS BIGINT) << CAST(blk AS INT)) ELSE 0 END AS bit
        |  FROM blk JOIN tot ON blk.doc_id = tot.doc_id),
        | ph AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS h
        |   FROM bits GROUP BY doc_id),
        | ch AS (SELECT doc_id, h,
        |   unnest(generate_series(0, 3)) AS c FROM ph),
        | chv AS (SELECT doc_id, h, c,
        |   (h >> CAST(15 * c AS INT)) & 32767 AS v FROM ch),
        | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |   a.h AS ha, b.h AS hb
        |  FROM chv a JOIN chv b ON a.c = b.c AND a.v = b.v
        |   AND a.doc_id < b.doc_id)
        | SELECT id_a, id_b,
        |  CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS BIGINT) AS dist
        | FROM cand
        | WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 3""".stripMargin,
    "q57_media_manifest" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |    ELSE 'mp4' END AS fmt,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        | FROM documents""".stripMargin,
    "q87_pair_batches" ->
      """WITH pairs AS (SELECT doc_id AS media_id,
        |   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |     ELSE 'video' END AS kind,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS cap_toks
        |  FROM documents),
        | nb AS (SELECT *, (row_number() OVER (
        |   PARTITION BY kind ORDER BY media_id) - 1) // 32 AS batch
        |  FROM pairs)
        | SELECT kind, batch, count(*) AS n_pairs,
        |  CAST(sum(cap_toks) AS BIGINT) AS cap_tokens,
        |  min(media_id) AS first_id, max(media_id) AS last_id
        | FROM nb GROUP BY kind, batch""".stripMargin,
    "q58_image_features" ->
      s"""WITH ${cpCte(0)}
        | SELECT doc_id AS media_id,
        |  CAST(least(count(*), 32) AS INT) AS width,
        |  CAST((count(*) + 31) // 32 AS INT) AS height,
        |  count(*) AS n_pixels, CAST(sum(p) AS BIGINT) AS sum_pixel,
        |  CAST(min(p) AS INT) AS min_pixel,
        |  CAST(max(p) AS INT) AS max_pixel
        | FROM b GROUP BY doc_id""".stripMargin,
    "q59_image_resize" ->
      s"""WITH ${cpCte(0)}
        | SELECT doc_id AS media_id,
        |  CAST(least(count(*), 32) AS INT) AS width,
        |  CAST((count(*) + 31) // 32 AS INT) AS height,
        |  count(*) AS n_pixels, CAST(sum(p) AS BIGINT) AS sum_pixel,
        |  CAST(min(p) AS INT) AS min_pixel,
        |  CAST(max(p) AS INT) AS max_pixel
        | FROM b WHERE (i - 1) % 4 = 0 GROUP BY doc_id""".stripMargin,
    "q60_frame_sample" ->
      s"""WITH ${cpCte(2)}
        | SELECT doc_id AS media_id,
        |  CAST((i - 1) // 16 AS INT) AS frame_no,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list(p ORDER BY i)), $hashRed) AS frame_hash,
        |  CAST(count(*) AS INT) AS n_bytes
        | FROM b GROUP BY doc_id, (i - 1) // 16
        | HAVING ((i - 1) // 16) % 2 = 0""".stripMargin,
    "q61_audio_energy" ->
      s"""WITH ${cpCte(1)}
        | SELECT doc_id AS media_id,
        |  CAST((i - 1) // 32 AS INT) AS window_no,
        |  CAST(sum((p - 128) * (p - 128)) AS BIGINT) AS energy,
        |  CAST(count(*) AS INT) AS n_samples
        | FROM b GROUP BY doc_id, (i - 1) // 32""".stripMargin,
    "q375_wav_decode" ->
      s"""WITH ${cpCte(1)},
        | sm AS (SELECT doc_id, i, (p - 80) * 200 AS s FROM b)
        | SELECT doc_id AS media_id,
        |  CAST((i - 1) // 32 AS INT) AS window_no,
        |  CAST(sum(s * s) AS BIGINT) AS energy,
        |  CAST(count(*) AS INT) AS n_samples,
        |  CAST(8000 + ((doc_id // 3) % 4) * 4000 AS INT) AS sample_rate
        | FROM sm GROUP BY doc_id, (i - 1) // 32""".stripMargin,
    "q411_g711_wav" ->
      s"""WITH ${cpCte(2)},
        | cw AS (SELECT doc_id, i, p % 256 AS c FROM b),
        | ex AS (SELECT doc_id, i,
        |   CASE WHEN doc_id % 2 = 0 THEN
        |    (CASE WHEN (255 - c) >= 128
        |      THEN 132 - ((((255 - c) % 16) * 8 + 132)
        |        * (1 << (((255 - c) // 16) % 8)))
        |      ELSE ((((255 - c) % 16) * 8 + 132)
        |        * (1 << (((255 - c) // 16) % 8))) - 132 END)
        |   ELSE
        |    (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END) *
        |    (CASE ((xor(c, 85) // 16) % 8)
        |      WHEN 0 THEN (xor(c, 85) % 16) * 16 + 8
        |      WHEN 1 THEN (xor(c, 85) % 16) * 16 + 264
        |      ELSE ((xor(c, 85) % 16) * 16 + 264)
        |        * (1 << (((xor(c, 85) // 16) % 8) - 1)) END)
        |   END AS s
        |  FROM cw)
        | SELECT doc_id AS media_id,
        |  CAST((i - 1) // 32 AS INT) AS window_no,
        |  CAST(sum(s * s) AS BIGINT) AS energy,
        |  CAST(count(*) AS INT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law
        | FROM ex GROUP BY doc_id, (i - 1) // 32""".stripMargin,
    // the oracle replays the public IMA state machine as a recursive
    // CTE: one round per nibble, state = (predictor, step index);
    // emission = every post-nibble predictor plus each block's header
    // predictor (the state at the block boundary, which the builder
    // wrote into the header and the decoder re-emits). Step table
    // spelled as a list literal indexed by the carried state.
    "q422_adpcm_wav" ->
      s"""WITH RECURSIVE ${cpCte(1)},
        | lim AS (SELECT doc_id, (length(text) // 32) * 32 AS tot
        |  FROM documents WHERE doc_id % 3 = 1 AND length(text) >= 32),
        | nib AS (SELECT b.doc_id, b.i, b.p % 16 AS n
        |  FROM b JOIN lim USING (doc_id) WHERE b.i <= lim.tot),
        | st AS (SELECT range AS sidx, ([7,8,9,10,11,12,13,14,16,17,
        |   19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,
        |   118,130,143,157,173,190,209,230,253,279,307,337,371,408,
        |   449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,
        |   1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
        |   4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
        |   12635,13899,15289,16818,18500,20350,22385,24623,27086,
        |   29794,32767])[range + 1] AS step FROM range(0, 89)),
        | dec AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT)
        |    AS pred, CAST(doc_id % 89 AS BIGINT) AS sidx FROM lim
        |  UNION ALL
        |  SELECT d.doc_id, d.j + 1,
        |   GREATEST(-32768, LEAST(32767, d.pred +
        |    (CASE WHEN n.n >= 8 THEN -1 ELSE 1 END) *
        |    ((s.step // 8)
        |     + CASE WHEN n.n % 2 = 1 THEN s.step // 4 ELSE 0 END
        |     + CASE WHEN (n.n // 2) % 2 = 1 THEN s.step // 2 ELSE 0 END
        |     + CASE WHEN (n.n // 4) % 2 = 1 THEN s.step ELSE 0 END))),
        |   GREATEST(0, LEAST(88, d.sidx +
        |    CASE WHEN n.n % 8 < 4 THEN -1 ELSE (n.n % 8 - 3) * 2 END))
        |  FROM dec d
        |  JOIN nib n ON n.doc_id = d.doc_id AND n.i = d.j + 1
        |  JOIN st s ON s.sidx = d.sidx),
        | em AS (
        |  SELECT doc_id, j + ((j - 1) // 32) AS ord, pred
        |  FROM dec WHERE j >= 1
        |  UNION ALL
        |  SELECT d.doc_id, (d.j // 32) * 33 AS ord, d.pred
        |  FROM dec d JOIN lim USING (doc_id)
        |  WHERE d.j % 32 = 0 AND d.j <= lim.tot - 32)
        | SELECT doc_id AS media_id,
        |  CAST(ord // 32 AS INT) AS window_no,
        |  CAST(sum(pred * pred) AS BIGINT) AS energy,
        |  CAST(count(*) AS INT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate
        | FROM em GROUP BY doc_id, ord // 32""".stripMargin,
    "q160_size_outliers" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |     ELSE 'video' END AS kind,
        |   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
        |  FROM documents),
        | med AS (SELECT kind, quantile_cont(nb, 0.5) AS med FROM m
        |  GROUP BY 1),
        | dev AS (SELECT m.kind, m.nb, med.med,
        |   abs(m.nb - med.med) AS dev FROM m JOIN med USING (kind)),
        | mad AS (SELECT kind, quantile_cont(dev, 0.5) AS mad FROM dev
        |  GROUP BY 1)
        | SELECT d.kind, count(*) AS n, max(d.med) AS med_bytes,
        |  max(mad.mad) AS mad_bytes,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        | FROM dev d JOIN mad USING (kind) GROUP BY d.kind""".stripMargin,
    "q151_vad_segments" ->
      s"""WITH ${cpCte(1)},
        | en AS (SELECT doc_id AS media_id,
        |   CAST((i - 1) // 32 AS INT) AS window_no,
        |   CAST(sum((p - 128) * (p - 128)) AS BIGINT) AS energy,
        |   CAST(count(*) AS BIGINT) AS n_samples
        |  FROM b GROUP BY doc_id, (i - 1) // 32),
        | tot AS (SELECT media_id, sum(energy) AS te,
        |   sum(n_samples) AS tn FROM en GROUP BY 1),
        | act AS (SELECT e.media_id, e.window_no
        |  FROM en e JOIN tot t USING (media_id)
        |  WHERE e.energy * t.tn > t.te * e.n_samples),
        | g AS (SELECT media_id, window_no,
        |   window_no - row_number() OVER (PARTITION BY media_id
        |     ORDER BY window_no) AS grp
        |  FROM act)
        | SELECT media_id, CAST(min(window_no) AS INT) AS seg_start,
        |  CAST(max(window_no) AS INT) AS seg_end,
        |  count(*) AS n_windows
        | FROM g GROUP BY media_id, grp""".stripMargin,
    "q119_frame_embed_pool" ->
      s"""WITH ${cpCte(2)},
        | fr AS (SELECT doc_id AS media_id,
        |   CAST((i - 1) // 16 AS INT) AS frame_no,
        |   CAST(sum(p) AS BIGINT) AS fsum,
        |   CAST(min(p) AS BIGINT) AS fmin,
        |   CAST(max(p) AS BIGINT) AS fmax,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list(p ORDER BY i)), $hashRed) AS fhash
        |  FROM b GROUP BY doc_id, (i - 1) // 16
        |  HAVING ((i - 1) // 16) % 2 = 0)
        | SELECT media_id, count(*) AS n_frames,
        |  round(CAST(sum(fsum) AS DOUBLE) / count(*), 6) AS mean_sum,
        |  round(CAST(sum(fmin) AS DOUBLE) / count(*), 6) AS mean_min,
        |  round(CAST(sum(fmax) AS DOUBLE) / count(*), 6) AS mean_max,
        |  round(CAST(sum(fhash) AS DOUBLE) / count(*) / 1000000007.0, 6)
        |    AS mean_hash_norm
        | FROM fr GROUP BY media_id""".stripMargin,
    "q212_clip_filter" ->
      s"""WITH toks AS (SELECT doc_id, source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | hm AS (SELECT doc_id, source, md5(w) AS m FROM toks),
        | hh AS (SELECT doc_id, source,
        |   ${DedupQueries.md5Hex60Sql} AS h FROM hm),
        | tv AS (SELECT doc_id, source, h & 63 AS dim,
        |    CAST(sum(CASE WHEN (h >> 6) & 1 = 0 THEN 1 ELSE -1 END)
        |      AS BIGINT) AS tv
        |   FROM hh GROUP BY 1, 2, 3),
        | tn AS (SELECT doc_id, sqrt(sum(tv * tv)) AS tnrm
        |   FROM tv GROUP BY 1),
        | img AS (SELECT vec_id AS doc_id, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(CAST(embedding AS DOUBLE[])[i] AS DOUBLE) AS ix
        |   FROM embeddings,
        |    UNNEST(generate_series(1,
        |      len(CAST(embedding AS DOUBLE[])))) AS t(i)),
        | inrm AS (SELECT doc_id, sqrt(sum(ix * ix)) AS inrm
        |   FROM img GROUP BY 1),
        | dot AS (SELECT t.doc_id, t.source, sum(t.tv * i.ix) AS dp
        |   FROM tv t JOIN img i
        |     ON t.doc_id = i.doc_id AND t.dim = i.dim
        |   GROUP BY 1, 2),
        | score AS (SELECT d.doc_id, d.source,
        |    round(dp / (tn.tnrm * inrm.inrm), 6) AS sc
        |   FROM dot d JOIN tn ON d.doc_id = tn.doc_id
        |   JOIN inrm ON d.doc_id = inrm.doc_id),
        | paired AS (SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN sc >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    round(min(sc), 6) AS min_score,
        |    round(max(sc), 6) AS max_score
        |   FROM score GROUP BY 1),
        | totals AS (SELECT source, count(*) AS n_docs
        |   FROM documents GROUP BY 1)
        | SELECT t.source, t.n_docs,
        |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  min_score, max_score
        | FROM totals t LEFT JOIN paired p
        |   ON t.source = p.source""".stripMargin,
    "q237_shot_boundaries" ->
      s"""WITH ${cpCte(2)},
        | fr AS (SELECT doc_id AS media_id,
        |   CAST((i - 1) // 16 AS INT) AS frame_no,
        |   CAST(sum(p) AS BIGINT) AS fsum
        |  FROM b GROUP BY doc_id, (i - 1) // 16
        |  HAVING ((i - 1) // 16) % 2 = 0),
        | lg AS (SELECT media_id, frame_no, fsum,
        |   lag(fsum) OVER (PARTITION BY media_id ORDER BY frame_no)
        |    AS prev FROM fr),
        | bb AS (SELECT media_id, frame_no,
        |   CASE WHEN prev IS NOT NULL AND abs(fsum - prev) * 5 > prev
        |    THEN 1 ELSE 0 END AS b FROM lg),
        | sh AS (SELECT media_id, frame_no,
        |   CAST(sum(b) OVER (PARTITION BY media_id ORDER BY frame_no
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS shot FROM bb),
        | seg AS (SELECT media_id, shot, count(*) AS len
        |  FROM sh GROUP BY 1, 2)
        | SELECT media_id, CAST(max(shot) + 1 AS BIGINT) AS n_shots,
        |  CAST(sum(len) AS BIGINT) AS n_frames,
        |  CAST(max(len) AS BIGINT) AS longest_shot,
        |  round(CAST(sum(len) AS DOUBLE) / (max(shot) + 1), 6)
        |    AS mean_shot_len
        | FROM seg GROUP BY 1""".stripMargin
  )
}
