package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** Structured Streaming jobs mirroring the batch semantics of
  * e01/e02 in [[graft.queries.Pipeline]] (RDW's exam-event ingest
  * stream, reference /root/reference/docs/Architecture.md "Exam
  * Processor"). Same column expressions as the batch path, so batch
  * is the oracle for the stream (tested with MemoryStream in
  * StreamingSpec).
  *
  * Scale: tumbling-window agg + watermark keeps state bounded to
  * (watermark horizon / window) × key cardinality per partition;
  * dedupe state is bounded the same way. Both shuffle once on the
  * grouping key — the minimum for stateful streaming.
  */
object StreamingJobs {

  /** Tumbling 1-hour counts/sums per event_type. Watermark allows 2h
    * of lateness before state eviction. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Watermarked stream dedupe: first arrival per (user_id,
    * event_type) wins. `dropDuplicatesWithinWatermark` (not plain
    * `dropDuplicates`) is what actually bounds the state: with the
    * plain variant Spark only evicts dedup state when the event-time
    * column is part of the duplicate keys — it isn't here — so state
    * would grow with distinct keys forever. The within-watermark
    * variant expires each key's state once the watermark passes its
    * first-seen time + delay, which is the semantics a re-submission
    * window needs (duplicates arrive close together; a re-submission
    * 2 h later is a legitimate new version, handled by latest-wins
    * downstream). */
  def dedupe(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Stream-stream interval join (click→purchase attribution): each
    * purchase matches same-user clicks at most 1 h before it. Both
    * sides watermarked; the time-range bound lets Spark evict click
    * state older than (purchase watermark − 1 h), so join state is
    * O(1 h of clicks), never O(stream). One shuffle per side on
    * user_id. `withWatermark` is a no-op in batch, so the same
    * function run on batch frames is the oracle for the stream.
    *
    * Expects `clicks(user_id, click_id, click_ts)` and
    * `purchases(p_user_id, purchase_id, purchase_ts, value)`. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("click_ts", "2 hours")
      .join(purchases.withWatermark("purchase_ts", "2 hours"),
        col("user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))

  /** Streaming corpus curation: quality/language gates + per-window
    * per-language admission stats over a document stream — the
    * continuous form of the batch curation chain (p01's gates). The
    * caller supplies the quality expression so stream and batch can
    * never diverge (it IS the batch formula). `withWatermark` is a
    * no-op in batch, so running this same function on a batch frame
    * is the oracle for the stream (e03's trick).
    *
    * Scale: gates are map-side; one shuffle on (window, lang); state
    * bounded to (watermark horizon / window) × languages. */
  def curateStream(docs: DataFrame, quality: org.apache.spark.sql.Column): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .withColumn("kept", col("lang") === "en" && quality >= 0.55)
      .groupBy(window(col("ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("window.start").as("window_start"), col("lang"),
        col("n_docs"), col("n_kept"))

  /** e10: continuous token-volume accounting under a FROZEN learned
    * vocab — the deployed tokenizer pattern: the vocab is fit offline
    * (t17's batch fit), shipped to the intake stream as a constant,
    * and every arriving document is priced in REAL tokens as it
    * lands. Per-window per-source doc counts + learned-token volume:
    * the running answer to "how many training tokens did each source
    * deliver this hour", which is what mixture controllers and
    * ingestion SLOs actually consume (whitespace proxies are 1.3–1.8×
    * off — t17's measurement). The costing scan is the same map-only
    * compiled LearnedTokenStats expression the batch path uses, so
    * running this function on a batch frame IS the oracle (e03's
    * trick); StreamingSpec proves the incremental run matches.
    *
    * Scale: costing is map-side (vocab held once per executor); one
    * shuffle on (window, source); state bounded to (watermark horizon
    * / window) × sources. */
  def tokenVolumeStream(docs: DataFrame, vocab: Seq[String]): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .withColumn("lt", graft.functions.GraftColumns
        .learnedTokenStats(col("text"), vocab).getField("learned_tokens"))
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lt")).as("learned_tokens"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("learned_tokens"))

  /** e11: continuous multimodal intake probe — the media counterpart
    * of e10's token accounting: every arriving media file is
    * header-probed ON ARRIVAL (the real
    * [[graft.operators.Multimodal.parseWavHeader]] RIFF chunk walk,
    * map-only via typed mapPartitions — the codec-per-partition batch
    * shape runs unchanged under streaming because it is stateless),
    * and the per-(window, source) intake report counts files, parse
    * failures, declared audio bytes and exact duration
    * (data_bytes·1000 div byte_rate — m05's arithmetic). Running this
    * same function on a batch frame IS the oracle (e03's trick);
    * StreamingSpec proves the incremental run matches and that junk
    * payloads surface in n_unparseable rather than poisoning the agg.
    *
    * Scale: the probe is map-side (no codec state crosses rows); one
    * shuffle on (window, source); state bounded to (watermark horizon
    * / window) × sources. */
  def mediaIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Multimodal.parseWavHeader(payload) match {
            case Some((_, _, _, brate, db)) =>
              (ts, src, true, db, db * 1000L / brate)
            case None => (ts, src, false, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "parsed", "data_bytes", "duration_ms")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("parsed"), 0L).otherwise(1L)).as("n_unparseable"),
        sum(col("data_bytes")).as("audio_bytes"),
        sum(col("duration_ms")).as("audio_ms"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_unparseable"),
        col("audio_bytes"), col("audio_ms"))
  }

  /** e14: streaming audio sample-level QC — one level below e11's
    * header probe (m09's PCM decode joined to the streaming family):
    * every arriving clip's samples are DECODED on arrival (the
    * stateless mapPartitions decode runs unchanged under streaming),
    * folded into exact per-clip integers — sample count, energy,
    * clipped 16-frame windows (peak at digital full scale), peak in
    * exact per-mille of full scale — and aggregated per (hour
    * window, source): the loudness/clipping SLO an audio intake
    * publishes. Undecodable clips (non-PCM code, truncated data)
    * count in n_undecodable and never poison the aggregate. Running
    * the same function on a batch frame IS the oracle (e03's trick);
    * StreamingSpec proves the incremental run matches and pins the
    * full-scale/clipping arithmetic on handcrafted clips.
    *
    * Scale: decode is map-side, per-clip work linear in data bytes;
    * one shuffle on (window, source); state = windows × sources. */
  def audioQcStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          val bits = graft.operators.Multimodal.parseWavHeader(payload)
            .map(_._3).getOrElse(0)
          val ws = graft.operators.Multimodal.decodePcmWindows(
            payload, docId = 0L, framesPerWin = 16)
          if (bits == 0 || ws.isEmpty) (ts, src, false, 0L, 0L, 0L, 0L)
          else {
            val full = 1L << (bits - 1)
            (ts, src, true,
              ws.map(_.n_frames).sum, ws.map(_.energy).sum,
              ws.count(_.peak >= full).toLong,
              ws.map(w => w.peak * 1000L / full).max)
          }
        }
      }
      .toDF("ts", "source", "decoded", "samples", "energy", "clipped", "peak_milli")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_clips"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("samples")).as("n_samples"),
        sum(col("energy")).as("energy"),
        sum(col("clipped")).as("clipped_windows"),
        max(col("peak_milli")).as("peak_milli_max"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_clips"), col("n_undecodable"), col("n_samples"),
        col("energy"), col("clipped_windows"), col("peak_milli_max"))
  }

  /** e15: streaming gzip corpus intake — t25's read path joined to
    * the streaming family: text documents arrive as gzip MEMBERS and
    * are decompressed ON ARRIVAL (Inflate.gunzip — header walk,
    * full RFC 1951 inflate, CRC-32/ISIZE verification — runs
    * unchanged as a stateless mapPartitions under streaming), folded
    * per (hour window, source) into the intake SLO: file count,
    * undecodable count (a corrupt member counts, never kills the
    * job), and decoded character volume. Running the same function on
    * a batch frame IS the oracle (e03's trick); StreamingSpec proves
    * the incremental run matches and that corrupt members surface in
    * n_undecodable.
    *
    * Scale: decompression is map-side, linear in member bytes; one
    * (window, source) shuffle of three longs per partial; state =
    * open windows × sources. */
  def gzipIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Inflate.gunzip(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(s) =>
              // code points, not UTF-16 units: matches t25's Spark
              // length() and the DuckDB oracle's length() on text,
              // so supplementary-plane chars hash identically; strict
              // UTF-8 — an invalid byte sequence is a malformation,
              // not a silent U+FFFD substitution
              (ts, src, true, s.codePointCount(0, s.length).toLong)
            case None => (ts, src, false, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("text_chars"))
  }

  /** e16: streaming record-framed gzip intake — t26's read path
    * joined to the streaming family: gzip members decompressed ON
    * ARRIVAL and their JSONL payload parsed PER RECORD
    * (graft.sources.Jsonl — strict, None on malformation, never
    * throws), folded per (hour window, source) into the intake SLO
    * with BOTH failure levels accounted: an undecodable MEMBER
    * (broken gzip) counts in n_undecodable, a malformed RECORD inside
    * a healthy member counts in n_malformed (including a parseable
    * record whose doc claim differs from the member's doc_id — batch
    * t26's rule) — neither kills the job, neither silently vanishes. Running the same function on a batch
    * frame IS the oracle (e03's trick); StreamingSpec proves the
    * incremental run matches and that a corrupt record surfaces.
    *
    * Scale: decompress + parse are map-side, linear in member bytes;
    * one (window, source) shuffle of four longs per partial; state =
    * open windows × sources. */
  def jsonlIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("doc_id"), col("ts"), col("source"), col("payload"))
      .as[(Long, java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (docId, ts, src, payload) =>
          graft.operators.Inflate.gunzip(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(decoded) =>
              val lines = decoded.split("\n", -1)
              var ok = 0L; var bad = 0L; var chars = 0L
              lines.foreach { l =>
                graft.sources.Jsonl.parseRecord(l) match {
                  // a record claiming another doc is an intake error
                  // too — same accounting as batch t26, so the
                  // streaming and batch twins cannot drift
                  case Some(r) if r.doc == docId =>
                    ok += 1
                    // code points, matching Spark/DuckDB length()
                    chars += r.body.codePointCount(0, r.body.length)
                  case _ => bad += 1
                }
              }
              (ts, src, true, ok, bad, chars)
            case None => (ts, src, false, 0L, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_rec", "n_bad", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_rec")).as("n_records"),
        sum(col("n_bad")).as("n_malformed"),
        sum(col("n_chars")).as("body_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_members"), col("n_undecodable"), col("n_records"),
        col("n_malformed"), col("body_chars"))
  }

  /** e18: streaming zstd intake — t30's read path joined to the
    * streaming family: `.zst` payloads are FRAME SERIES (RFC 8878
    * §3.1.2 — zstd frames with skippable frames interleaved, the
    * shape pzstd/seekable-zstd write) walked and decoded ON ARRIVAL
    * by the hand-written RFC 8878 decoder (graft.operators.Zstd —
    * full entropy stack, checksum verified when present), each
    * frame's bytes through the STRICT UTF-8 gate, folded per (hour
    * window, source) into the intake SLO; an undecodable payload (a
    * corrupt frame's length is unknowable — the walk cannot resync
    * past one) counts in n_undecodable, never kills the job. Batch
    * run of the same function is the oracle (e03's trick).
    *
    * Scale: decode is map-side, linear in frame bytes; one (window,
    * source) shuffle of four longs per partial. */
  def zstdIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Zstd.frameList(payload) match {
            case Some((frames, nSkip)) =>
              val texts = frames.map(graft.sources.Utf8.decodeStrict(_))
              if (texts.forall(_.isDefined)) {
                // code points, matching Spark/DuckDB length()
                val t = texts.flatMap(x => x).mkString
                (ts, src, true, frames.length.toLong, nSkip.toLong,
                  t.codePointCount(0, t.length).toLong)
              } else (ts, src, false, 0L, 0L, 0L)
            case None => (ts, src, false, 0L, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_frm", "n_skip", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_frm")).as("n_frames"),
        sum(col("n_skip")).as("n_skippable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("n_frames"),
        col("n_skippable"), col("text_chars"))
  }

  /** e19: streaming brotli intake — t31's read path joined to the
    * streaming family: RFC 7932 streams decoded ON ARRIVAL by the
    * hand-written decoder (graft.operators.Brotli — full prefix-code,
    * command and context-map machinery; static-dictionary references
    * and unverifiable context modes REJECTED per its profile
    * boundary), decoded bytes through the strict UTF-8 gate, folded
    * per (hour window, source) into the intake SLO; an undecodable
    * payload counts in n_undecodable, never kills the job. Batch run
    * of the same function is the oracle (e03's trick).
    *
    * Scale: decode is map-side, linear in stream bytes; one (window,
    * source) shuffle of two longs per partial. */
  def brotliIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Brotli.decompress(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(t) =>
              // code points, matching Spark/DuckDB length()
              (ts, src, true, t.codePointCount(0, t.length).toLong)
            case None => (ts, src, false, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("text_chars"))
  }

  /** e23: streaming bzip2 intake — t40's read path joined to the
    * streaming family: bzip2 streams decoded ON ARRIVAL by the
    * hand-written decoder (graft.operators.Bzip2 — full bit-level
    * block walk, Huffman groups, inverse BWT, per-block and combined
    * CRC), decoded bytes through the strict UTF-8 gate, folded per
    * (hour window, source) into the intake SLO; an undecodable
    * payload counts in n_undecodable, never kills the job. Batch run
    * of the same function is the oracle (e03's trick).
    *
    * Scale: decode is map-side, linear in stream bytes; one (window,
    * source) shuffle of two longs per partial. */
  def bzip2IntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Bzip2.decompress(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(t) =>
              // code points, matching Spark/DuckDB length()
              (ts, src, true, t.codePointCount(0, t.length).toLong)
            case None => (ts, src, false, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("text_chars"))
  }

  /** e25: streaming lz4 intake — t42's read path joined to the
    * streaming family: LZ4 frames decoded ON ARRIVAL by the
    * hand-written decoder (graft.operators.Lz4 — frame descriptor,
    * block token sequences, linked-mode windows, xxh32 checks),
    * decoded bytes through the strict UTF-8 gate, folded per (hour
    * window, source) into the intake SLO; an undecodable payload
    * counts in n_undecodable, never kills the job. Batch run of the
    * same function is the oracle (e03's trick).
    *
    * Scale: decode is map-side, linear in stream bytes; one (window,
    * source) shuffle of two longs per partial. */
  def lz4IntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Lz4.decompress(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(t) =>
              // code points, matching Spark/DuckDB length()
              (ts, src, true, t.codePointCount(0, t.length).toLong)
            case None => (ts, src, false, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("text_chars"))
  }

  /** e24: streaming xz intake — t41's read path joined to the
    * streaming family: xz streams decoded ON ARRIVAL by the
    * hand-written decoder (graft.operators.Xz — full container walk,
    * LZMA2 chunk layer, LZMA range decoding, per-block integrity
    * checks), decoded bytes through the strict UTF-8 gate, folded
    * per (hour window, source) into the intake SLO; an undecodable
    * payload counts in n_undecodable, never kills the job. Batch run
    * of the same function is the oracle (e03's trick).
    *
    * Scale: decode is map-side, linear in stream bytes; one (window,
    * source) shuffle of two longs per partial. */
  def xzIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Xz.decompress(payload)
            .flatMap(graft.sources.Utf8.decodeStrict(_)) match {
            case Some(t) =>
              // code points, matching Spark/DuckDB length()
              (ts, src, true, t.codePointCount(0, t.length).toLong)
            case None => (ts, src, false, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_files"), col("n_undecodable"), col("text_chars"))
  }

  /** e21: streaming ZIP archive intake — t37's read path joined to
    * the streaming family: ZIP archives walked ON ARRIVAL
    * (graft.sources.Zip — EOCD scan, central-directory index walk,
    * per-member stored/deflate decode + CRC-32 through the
    * hand-written Inflate substrate), decoded bodies through the
    * strict UTF-8 gate, folded per (hour window, source) with BOTH
    * failure levels accounted (e17's contract): an archive whose
    * INDEX is unusable counts in n_undecodable, a bad MEMBER inside a
    * walkable archive (CRC mismatch, encryption flag, unknown method,
    * undecodable name or body) counts in n_malformed — neither kills
    * the job, neither silently vanishes. Batch run of the same
    * function is the oracle (e03's trick).
    *
    * Scale: walk + decode are map-side, linear in archive bytes; one
    * (window, source) shuffle of four longs per partial; state = open
    * windows × sources. */
  def zipIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.sources.Zip.parseZip(payload) match {
            case Some(members) =>
              var bad = 0L; var chars = 0L
              members.foreach { m =>
                (if (m.ok) graft.sources.Utf8.decodeStrict(m.data) else None) match {
                  // code points, matching Spark/DuckDB length()
                  case Some(t) => chars += t.codePointCount(0, t.length)
                  case None => bad += 1
                }
              }
              (ts, src, true, members.length.toLong, bad, chars)
            case None => (ts, src, false, 0L, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_mem", "n_bad", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_archives"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_mem")).as("n_members"),
        sum(col("n_bad")).as("n_malformed"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_archives"), col("n_undecodable"), col("n_members"),
        col("n_malformed"), col("text_chars"))
  }

  /** e22: streaming tar.gz intake — t38's read path joined to the
    * streaming family: `.tar.gz` corpus drops gunzipped and
    * ustar-walked ON ARRIVAL (graft.sources.Tar — per-entry checksum,
    * GNU longname records, block-aligned walk with end-marker
    * discrimination), file bodies through the strict UTF-8 gate,
    * folded per (hour window, source). tar has no index and no
    * resync, so failure accounting is ARCHIVE-level (e17's
    * corrupt-shard semantics): a bad header, truncation, or
    * undecodable body counts the whole archive in n_undecodable —
    * never killing the job. Batch run of the same function is the
    * oracle (e03's trick).
    *
    * Scale: gunzip + walk are map-side, linear in archive bytes; one
    * (window, source) shuffle of three longs per partial. */
  def tarIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Inflate.gunzip(payload)
            .flatMap(graft.sources.Tar.parseTar(_)) match {
            case Some(entries) =>
              var files = 0L; var chars = 0L; var ok = true
              entries.foreach { e =>
                if (e.kind == 0) {
                  graft.sources.Utf8.decodeStrict(e.data) match {
                    // code points, matching Spark/DuckDB length()
                    case Some(t) =>
                      files += 1; chars += t.codePointCount(0, t.length)
                    case None => ok = false
                  }
                }
              }
              if (ok) (ts, src, true, files, chars)
              else (ts, src, false, 0L, 0L)
            case None => (ts, src, false, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_f", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_archives"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_f")).as("n_files"),
        sum(col("n_chars")).as("text_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_archives"), col("n_undecodable"), col("n_files"),
        col("text_chars"))
  }

  /** e17: streaming WARC shard intake — t28's read path joined to the
    * streaming family: `.warc.gz` shards decompressed ON ARRIVAL
    * (member walk — Common Crawl frames each record as its own gzip
    * member), each member parsed as a strict ISO 28500 record
    * (graft.sources.Warc — None on malformation, never throws),
    * response records' HTTP bodies extracted, folded per (hour
    * window, source) into the intake SLO with BOTH failure levels
    * accounted: an undecodable SHARD (any corrupt member — a corrupt
    * member's length is unknowable, so the walk cannot resync past
    * one) counts in n_undecodable, a malformed RECORD inside a
    * healthy shard counts in n_malformed. Running the same function
    * on a batch frame IS the oracle (e03's trick).
    *
    * Scale: decompress + parse are map-side, linear in shard bytes;
    * one (window, source) shuffle of five longs per partial; state =
    * open windows × sources. */
  def warcIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Inflate.gunzipMemberList(payload) match {
            case Some(members) =>
              var ok = 0L; var bad = 0L; var resp = 0L; var chars = 0L
              members.foreach { m =>
                graft.sources.Warc.parseMember(m) match {
                  case Some(rec) => rec.warcType.map(_.toLowerCase) match {
                    case Some("response") =>
                      // charset-aware, mirroring t28's batch reader
                      graft.sources.Warc.httpMessage(rec.block).flatMap {
                        case (b, ct) => graft.sources.Charset
                          .decode(b, ct, htmlPrescan = false).map(_.text)
                      } match {
                        case Some(t) =>
                          ok += 1; resp += 1
                          // code points, matching Spark/DuckDB length()
                          chars += t.codePointCount(0, t.length)
                        case None => bad += 1
                      }
                    case Some(_) => ok += 1
                    case None => bad += 1
                  }
                  case None => bad += 1
                }
              }
              (ts, src, true, ok, bad, resp, chars)
            case None => (ts, src, false, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_rec", "n_bad", "n_resp", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_shards"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_rec")).as("n_records"),
        sum(col("n_bad")).as("n_malformed"),
        sum(col("n_resp")).as("n_responses"),
        sum(col("n_chars")).as("body_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_shards"), col("n_undecodable"), col("n_records"),
        col("n_malformed"), col("n_responses"), col("body_chars"))
  }

  /** e20: streaming WET shard intake — t34's read path joined to the
    * streaming family: `.wet.gz` shards (Common Crawl's most-consumed
    * sidecar) member-walked ON ARRIVAL, each member a strict ISO 28500
    * record, `conversion` records' text/plain blocks decoded
    * CHARSET-AWARE against the record's own Content-Type (no HTTP
    * message layer in WET), folded per (hour window, source) with the
    * e17 two-level accounting (undecodable shard vs malformed
    * record). Running the same function on a batch frame IS the
    * oracle (e03's trick).
    *
    * Scale: e17's class — decompress + parse + decode map-side, one
    * (window, source) shuffle of five longs per partial. */
  def wetIntakeStream(media: DataFrame): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media.select(col("ts"), col("source"), col("payload"))
      .as[(java.sql.Timestamp, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ts, src, payload) =>
          graft.operators.Inflate.gunzipMemberList(payload) match {
            case Some(members) =>
              var ok = 0L; var bad = 0L; var conv = 0L; var chars = 0L
              members.foreach { m =>
                graft.sources.Warc.parseMember(m) match {
                  case Some(rec) => rec.warcType.map(_.toLowerCase) match {
                    case Some("conversion") =>
                      graft.sources.Charset.decode(rec.block,
                        rec.headers.get("content-type"),
                        htmlPrescan = false) match {
                        case Some(dd) =>
                          ok += 1; conv += 1
                          chars += dd.text.codePointCount(0, dd.text.length)
                        case None => bad += 1
                      }
                    case Some(_) => ok += 1
                    case None => bad += 1
                  }
                  case None => bad += 1
                }
              }
              (ts, src, true, ok, bad, conv, chars)
            case None => (ts, src, false, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("ts", "source", "decoded", "n_rec", "n_bad", "n_conv", "n_chars")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_shards"),
        sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(col("n_rec")).as("n_records"),
        sum(col("n_bad")).as("n_malformed"),
        sum(col("n_conv")).as("n_conversions"),
        sum(col("n_chars")).as("body_chars"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_shards"), col("n_undecodable"), col("n_records"),
        col("n_malformed"), col("n_conversions"), col("body_chars"))
  }

  /** e13: streaming SCD2 enrichment — the event-time dimension
    * lookup every streaming ETL performs (q35's validity intervals
    * consumed ON ARRIVAL): each arriving event joins the dimension
    * VERSION that was valid at its event time, `valid_from ≤ ts <
    * valid_to` with an open current version, via a stream-static
    * LEFT join — the interval predicate rides the user-key equi-join
    * against the broadcast dim, so the stream side is map-only with
    * ZERO state (no watermark needed: nothing is stateful). Events
    * predating the first version survive with the UNVERSIONED
    * marker — an enrichment must never drop facts. SCD2 intervals
    * partition time per key, so each event matches at most one
    * version and the row count is exactly the event count. Running
    * this same function on a batch frame is the oracle (e03's
    * trick); StreamingSpec proves the incremental run matches.
    *
    * Scale: dim broadcast (per-key version chains are small); at
    * warehouse scale a too-big dim becomes a shuffle-hash join on
    * the same user key with the interval predicate still riding it
    * — q21's note. State: none. */
  def scd2EnrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
      events("user_id") === dim("d_user_id") &&
        events("ts") >= dim("valid_from") &&
        (dim("valid_to").isNull || events("ts") < dim("valid_to")),
      "left_outer")
      .select(events("event_id"), events("user_id"), events("ts"),
        events("value"), dim("version_key"),
        coalesce(dim("priority"), lit("UNVERSIONED")).as("priority"))

  /** e12: continuous score-distribution drift monitor — q87's
    * exact-integer chi-square run against the INTAKE stream instead
    * of nightly between years (the shape a data-quality SLO consumes:
    * "did this window's level mix depart from the frozen baseline?").
    * The baseline distribution is fit OFFLINE and FROZEN (e10's
    * frozen-vocab pattern — a deployed monitor does not refit its
    * reference per batch): `baseline` is the 4 level counts, and
    * every arriving result is leveled map-side, single-agg'd to the
    * window's 4 pivoted level counts (streaming-legal: ONE
    * aggregation, the chi-square fold is per-row arithmetic after
    * it), then each term (O·N1 − C·N2)²·1e6 div (C·N1·N2) is q87's
    * exact DECIMAL(38) integer floor division — the 4-term sum is
    * exact BIGINT addition, so stream == batch == DuckDB replay with
    * no float fold order anywhere. drift compares against the
    * χ²₀.₀₅(df=3) critical value in the same micro-units.
    *
    * Scale: leveling map-side; one (window) shuffle of 6 longs per
    * partial; state bounded to watermark-horizon / window rows. */
  def distDriftStream(results: DataFrame, baseline: Seq[Long]): DataFrame = {
    require(baseline.length == 4 && baseline.forall(_ > 0),
      "baseline must give every level positive mass (E > 0)")
    val n1 = baseline.sum
    def term(o: String, c: Long): String =
      s"CAST((CAST($o AS DECIMAL(38,0)) * $n1 - CAST($c AS DECIMAL(38,0)) * n_cur) " +
        s"* (CAST($o AS DECIMAL(38,0)) * $n1 - CAST($c AS DECIMAL(38,0)) * n_cur) " +
        s"* 1000000 div (CAST($c AS DECIMAL(38,0)) * $n1 * n_cur) AS BIGINT)"
    val li = when(col("price") < 100000, 1).when(col("price") < 200000, 2)
      .when(col("price") < 350000, 3).otherwise(4)
    results
      .withWatermark("ts", "60 days")
      .withColumn("li", li)
      .groupBy(window(col("ts"), "30 days"))
      .agg(
        sum(when(col("li") === 1, 1L).otherwise(0L)).as("o1"),
        sum(when(col("li") === 2, 1L).otherwise(0L)).as("o2"),
        sum(when(col("li") === 3, 1L).otherwise(0L)).as("o3"),
        sum(when(col("li") === 4, 1L).otherwise(0L)).as("o4"),
        count(lit(1)).as("n_cur"))
      .withColumn("chi2_micro", expr(
        s"${term("o1", baseline(0))} + ${term("o2", baseline(1))} + " +
          s"${term("o3", baseline(2))} + ${term("o4", baseline(3))}"))
      .select(col("window.start").as("window_start"),
        col("o1"), col("o2"), col("o3"), col("o4"), col("n_cur"),
        col("chi2_micro"),
        (col("chi2_micro") / lit(1000000.0)).as("chi2"),
        (col("chi2_micro") > 7814728L).as("drift")) // χ²₀.₀₅, df = 3
  }

  /** e08: continuously-maintained count-min sketch over a document
    * stream — the streaming form of t10's heavy-hitter pass (a
    * boilerplate/stopword gate a training-data pipeline runs on its
    * INTAKE stream, not nightly over the corpus). The aggregation key
    * space is the depth×width counter table, so streaming state is
    * bounded by construction — depth·width cells total, regardless of
    * stream length — and counters merge by addition, which is exactly
    * the partial-agg merge the batch sketch uses: running this same
    * function on a batch frame is the oracle for the stream. The hash
    * rows are the shared md5 family ([[graft.functions.TextFunctions
    * .cmsBucket]]), so the continuously-maintained sketch replays
    * bit-for-bit in DuckDB (a hash-exact STREAMING sketch).
    *
    * Scale: tokenize/bucket are map-side; the one shuffle carries
    * partial counters (≤ depth·width rows per task). Complete-mode
    * output is the whole sketch — 1024-ish rows, constant. */
  def cmsStream(docs: DataFrame, depth: Int, width: Int): DataFrame = {
    val rows = (0 until depth).map(r =>
      struct(lit(r).as("r"),
        graft.functions.TextFunctions.cmsBucket(col("tok"), r, width).as("bucket")))
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
  }

  case class LatRow(user_id: Long, event_id: Long, ts: Timestamp,
                    event_type: String)
  case class LatState(last_click_us: Long)
  case class LatOut(user_id: Long, event_id: Long, ts_us: Long, proc_sec: Long)

  /** e09: continuous time-to-warehouse monitor — the q62/q63
    * created→updated latency derivation as a stateful streaming
    * operator (reference /root/reference/docs/Monitoring.md:94,123
    * documents these monitors as cron SQL against the warehouse; a
    * streaming engine computes them AS the results arrive). State is
    * ONE long per user (the latest submission/click event-time):
    * every processed result (purchase) emits its latency against that
    * state. Events inside a batch are processed in (event-time,
    * event_id) order, and an out-of-order click within the watermark
    * can only RAISE the stored latest-click (math.max — the mirror of
    * e07's min-on-start), so the batch run of this exact code path —
    * one sorted pass per user — reproduces the declarative
    * carried-forward window derivation row for row, which is what the
    * DuckDB oracle certifies.
    *
    * Scale: one shuffle on user_id; state O(users) × 8 bytes, no
    * growth with event volume. */
  def latencyExact(events: Dataset[LatRow]): Dataset[LatOut] = {
    import events.sparkSession.implicits._

    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

    def update(userId: Long, it: Iterator[LatRow],
               state: GroupState[LatState]): Iterator[LatOut] = {
      val sorted = it.toSeq.sortBy(r => (micros(r.ts), r.event_id))
      var lastClick = state.getOption.map(_.last_click_us).getOrElse(Long.MinValue)
      val out = Seq.newBuilder[LatOut]
      sorted.foreach { e =>
        val t = micros(e.ts)
        if (e.event_type == "purchase" && lastClick != Long.MinValue)
          out += LatOut(userId, e.event_id, t, (t - lastClick) / 1000000L)
        if (e.event_type == "click") lastClick = math.max(lastClick, t)
      }
      if (lastClick != Long.MinValue) state.update(LatState(lastClick))
      out.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  // ---- mart commit model: bucket-partitioned snapshots + manifest ----

  /** Run identity for the replay guard, stored INSIDE the checkpoint
    * directory (`_graft_run_id`) so it shares the checkpoint's exact
    * lifecycle. Structured Streaming batch ids are only unique WITHIN
    * one checkpoint lineage — they restart at 0 under a fresh/lost
    * checkpoint — so the applied-batch marker must be scoped to the
    * LINEAGE, not the path: a tag derived from the path alone would
    * (a) keep matching after ops wipe a corrupt checkpoint and
    * restart at the same configured path, silently dropping the new
    * lineage's first batch, and (b) stop matching when the same
    * directory is addressed through a different path spelling,
    * double-applying a replay. The id file is created with the
    * checkpoint, dies with it, and is indifferent to how the path is
    * written. */
  def ensureRunTag(spark: SparkSession, checkpoint: String): String = {
    val fs = fileSystem(spark, checkpoint)
    val dir = new org.apache.hadoop.fs.Path(checkpoint)
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_run_id")
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    } else {
      if (!fs.exists(dir)) fs.mkdirs(dir)
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val out = fs.create(p, true)
      try out.write(tag.getBytes("UTF-8")) finally out.close()
      tag
    }
  }

  /** Snapshot directory name for one applied batch of one run. */
  def snapshotName(tag: String, batchId: Long): String = s"v_${tag}_$batchId"

  /** Deterministic hash bucket of the natural key — the unit of the
    * incremental mart publish. Spark's `hash` is a fixed murmur3, so
    * the bucket of a key is stable across batches, runs and restarts
    * (internal layout only — never part of an oracle-checked result). */
  def bucketExpr(keys: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** The mart manifest `_LATEST` points at: the last applied snapshot
    * (replay guard), the bucket scheme it was written with, and, per
    * bucket, the snapshot directory currently holding that bucket's
    * rows. Untouched buckets keep pointing at the snapshot that last
    * wrote them — their files are never rewritten, which is what makes
    * the per-batch publish O(delta). The scheme is recorded because an
    * incremental merge is only valid against the SAME bucketing: a
    * mart written with different nBuckets (or the legacy single-dir
    * layout, scheme None) must be fully re-bucketed on first touch, or
    * old rows for merged keys would stay reachable beside their
    * replacements. */
  case class MartManifest(applied: String, scheme: Option[Int],
                          buckets: Map[Int, String])

  /** Streaming migrate: keeps a latest-state mart continuously up to
    * date with a change stream — RDW's Migrate Reporting Service
    * ("watches the data warehouse for changes and copies any changes
    * … within a few minutes", reference
    * /root/reference/docs/Architecture.md "Migrate Reporting
    * Service"). Each micro-batch merges via
    * [[graft.operators.Operators.migrateWithDeletes]] (latest-wins
    * across upserts AND tombstones) — see [[applyMigrateBatch]] for
    * the incremental commit model (only buckets the delta touches are
    * rewritten; the manifest swap is atomic; replays are idempotent).
    *
    * Scale: per batch, one shuffle of |delta| + |touched buckets| on
    * the natural key, and a write of the touched buckets only — work
    * is O(delta), never O(mart). `expireEvery > 0` additionally runs
    * [[expireMartSnapshots]] every that-many batches so a long-running
    * migrate does not accumulate one snapshot per batch. */
  def migrateStream(updates: DataFrame, martRoot: String,
                    keys: Seq[String], versionCol: String, tieBreakCol: String,
                    checkpoint: String, nBuckets: Int = 16,
                    expireEvery: Int = 0, expireKeep: Int = 2,
                    retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = ensureRunTag(updates.sparkSession, checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val applied = applyMigrateBatch(batch.toDF(), batchId, tag, martRoot,
          keys, versionCol, tieBreakCol, nBuckets, retainVersions)
        if (applied && expireEvery > 0 && batchId % expireEvery == 0)
          expireMartSnapshots(batch.sparkSession, martRoot, expireKeep)
        ()
      }
      .start()
  }

  /** Apply one change batch to the mart, incrementally: merge the
    * delta into ONLY the hash buckets it touches, write those buckets
    * to a fresh snapshot directory `v_<runTag>_<batchId>` (one
    * partitioned write), and atomically swap the `_LATEST` manifest so
    * touched buckets point at the new snapshot while untouched buckets
    * keep their existing directories byte-for-byte. Returns false (and
    * does nothing) when the manifest already records this exact
    * (runTag, batchId) as applied — the crash window between publish
    * and the streaming checkpoint commit replays the batch, and
    * re-merging would double-apply it. A replayed batch id from a
    * DIFFERENT checkpoint (batch ids restart at 0 under a fresh one)
    * has a different runTag, so it merges as the new data it is.
    *
    * Crash safety: a crash before the manifest swap leaves the live
    * manifest untouched (the half-written snapshot dir is orphaned and
    * later expired); the replay rebuilds it from the previous
    * manifest's directories — never from the directory being written. */
  def applyMigrateBatch(batch: DataFrame, batchId: Long, tag: String,
                        martRoot: String, keys: Seq[String],
                        versionCol: String, tieBreakCol: String,
                        nBuckets: Int = 16, retainVersions: Int = 2): Boolean = {
    val sp = batch.sparkSession
    val snap = snapshotName(tag, batchId)
    val manifest = readManifest(sp, martRoot)
    if (manifest.exists(_.applied == snap)) false
    else {
      // a mart written under a DIFFERENT bucket scheme (changed
      // nBuckets, or the legacy single-dir layout) cannot be merged
      // incrementally — rows for the delta's keys live in directories
      // the new scheme cannot address. First touch re-buckets the
      // whole mart once; every later batch is incremental again.
      val rebucket = manifest.exists(!_.scheme.contains(nBuckets))
      val delta = batch.persist() // read twice: touched-bucket probe + merge
      try {
        // ≤ nBuckets values — bounded by configuration, not data
        val touched =
          if (rebucket) (0 until nBuckets).toSet
          else delta.select(bucketExpr(keys, nBuckets).as("_b"))
            .distinct().collect().map(_.getInt(0)).toSet
        val bucketMap = manifest.map(_.buckets).getOrElse(Map.empty[Int, String])
        // sorted like martFrame's list, so a batch touching every
        // bucket reuses the schema the last mart read cached
        val curPaths =
          (if (rebucket) bucketMap.values.toSeq
           else touched.toSeq.flatMap(bucketMap.get))
            .distinct.sorted.map(d => s"$martRoot/$d")
        val ordering = Seq(col(versionCol).desc, col(tieBreakCol).desc)
        // the published mart carries only survivors (the deleted column
        // is dropped at merge time) — every mart row is alive, so it
        // re-enters the merge with deleted = false
        val current =
          if (curPaths.isEmpty) delta.limit(0)
          else Tables.readParquet(sp, curPaths: _*).withColumn("deleted", lit(false))
        val merged = graft.operators.Operators.migrateWithDeletes(
          current, delta, keys.map(col), ordering)
        merged.withColumn("_b", bucketExpr(keys, nBuckets))
          .write.partitionBy("_b").mode("overwrite").parquet(s"$martRoot/$snap")
        publishManifest(sp, martRoot, snap, touched,
          if (rebucket) Map.empty else bucketMap, nBuckets, retainVersions)
        true
      } finally { delta.unpersist(); () }
    }
  }

  /** Tenant-scoped mart root for a continuous migrate: the tenant is
    * the OUTERMOST directory (reference /root/reference/docs/
    * Runbook.MultiTenancy.md isolation model — the same layout
    * [[graft.sources.Ingest.writeTenantPartitioned]] uses for batch
    * marts), so each tenant's change stream commits to its own
    * bucket-manifest tree: one tenant's batches can never touch
    * another's buckets, and a tenant read resolves only its own
    * manifest + directories. Run one [[migrateStream]] per tenant
    * against these roots (with per-tenant checkpoints) — isolation is
    * then structural, not a filter (StreamingSpec proves byte-level
    * non-interference under concurrent streams). */
  def tenantMartRoot(martRoot: String, tenant: String,
                     tenantCol: String = "tenant"): String = {
    // a tenant id containing a path separator (or '..') would resolve
    // OUTSIDE this tenant's directory — the structural isolation the
    // layout guarantees would silently become cross-tenant writes
    require(tenant.nonEmpty && tenant.matches("[A-Za-z0-9._-]+") && tenant != ".." && tenant != ".",
      s"tenant id must be a plain directory-safe token, got '$tenant'")
    s"$martRoot/$tenantCol=$tenant"
  }

  /** Read the current mart state via the `_LATEST` manifest (all live
    * bucket directories as one frame). */
  def readMartLatest(spark: SparkSession, martRoot: String): Option[DataFrame] =
    readManifest(spark, martRoot).flatMap(martFrame(spark, martRoot, _))

  /** Time-travel read: the mart exactly as manifest version `version`
    * published it. The publish path retains the `retainVersions`
    * newest manifests (default 2: live + the crash fallback — pass a
    * larger value to [[migrateStream]]/[[olapMigrateStream]] for a
    * deeper window) and [[expireMartSnapshots]] protects every dir
    * any RESOLVABLE manifest references, so every retained version
    * reads back exactly — "inspect the state k batches ago" is a
    * configuration knob, not an archaeology exercise. None if that
    * version no longer resolves. */
  def readMartAt(spark: SparkSession, martRoot: String,
                 version: Long): Option[DataFrame] = {
    val fs = fileSystem(spark, martRoot)
    manifestVersions(fs, new org.apache.hadoop.fs.Path(martRoot))
      .find(_._1 == version)
      .flatMap { case (_, p) => openManifest(fs, p) }
      .flatMap(martFrame(spark, martRoot, _))
  }

  /** Resolvable manifest versions at the root, newest first — the
    * time-travel catalog ([[readMartAt]] accepts any of these). */
  def martVersions(spark: SparkSession, martRoot: String): Seq[Long] = {
    val fs = fileSystem(spark, martRoot)
    manifestVersions(fs, new org.apache.hadoop.fs.Path(martRoot)).map(_._1)
  }

  private def martFrame(spark: SparkSession, martRoot: String,
                        m: MartManifest): Option[DataFrame] = {
    val dirs = m.buckets.values.toSeq.distinct.sorted.map(d => s"$martRoot/$d")
    if (dirs.isEmpty) None else Some(Tables.readParquet(spark, dirs: _*))
  }

  /** The last applied snapshot name the manifest records, if any. */
  def readLatestName(spark: SparkSession, martRoot: String): Option[String] =
    readManifest(spark, martRoot).map(_.applied)

  /** Manifest files present at the mart root, newest version first.
    * Versioned form is `_LATEST.<n>` (monotonic n); the bare legacy
    * `_LATEST` reads as version 0 so marts written before versioning
    * keep resolving. `_LATEST.tmp` never matches (non-digit suffix),
    * and a suffix that doesn't fit in a Long (a crafted/corrupt name
    * like `_LATEST.99999999999999999999`) is ignored like any other
    * non-manifest file rather than throwing on the parse. */
  private def manifestVersions(fs: org.apache.hadoop.fs.FileSystem,
                               rootP: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(rootP)) Nil
    else fs.listStatus(rootP).toSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      if (n == "_LATEST") Some(0L -> p)
      else if (n.startsWith("_LATEST.") && n.length > 8 && n.drop(8).forall(_.isDigit))
        scala.util.Try(n.drop(8).toLong).toOption.map(_ -> p)
      else None
    }.sortBy(-_._1)

  /** Parse the newest resolvable manifest. Two content formats: the
    * bucket manifest (`applied=<snap>`, `nbuckets=<n>`, then
    * `<bucket>=<dir>` lines), and the legacy single-directory pointer
    * (one bare name) which reads as a one-bucket manifest with no
    * scheme. Manifests are published as whole-file atomic renames to a
    * fresh `_LATEST.<n>` name, so the newest version is always a
    * complete write; older versions are only consulted if the newest
    * somehow fails to parse (defense in depth, not an expected state). */
  def readManifest(spark: SparkSession, martRoot: String): Option[MartManifest] = {
    val fs = fileSystem(spark, martRoot)
    val rootP = new org.apache.hadoop.fs.Path(martRoot)
    def attempt(): Option[MartManifest] =
      manifestVersions(fs, rootP)
        .iterator
        .flatMap { case (_, p) => openManifest(fs, p) }
        .nextOption()
    // If two publishes land between our listing and the opens, every
    // version in the stale snapshot can have been pruned (publish N+1
    // retains only N; publish N+2 deletes N) — re-list once so a
    // reader never transiently sees a populated mart as empty.
    attempt().orElse(attempt())
  }

  /** Open + parse one manifest file, tolerating a concurrent prune: a
    * publisher may delete a superseded version between our listStatus
    * and open — that version is simply skipped and the caller falls
    * through to the next (the newest version is never pruned, so the
    * fall-through always terminates at a valid manifest). */
  private def openManifest(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Option[MartManifest] =
    try {
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      parseManifest(content)
    } catch { case _: java.io.FileNotFoundException => None }

  private def parseManifest(content: String): Option[MartManifest] = {
    val lines = content.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (lines.isEmpty) None
    else if (lines.head.startsWith("applied=")) {
      val scheme = lines.find(_.startsWith("nbuckets="))
        .map(_.stripPrefix("nbuckets=").toInt)
      val buckets = lines.tail.filterNot(_.startsWith("nbuckets=")).map { l =>
        val Array(b, d) = l.split("=", 2)
        b.toInt -> d
      }.toMap
      Some(MartManifest(lines.head.stripPrefix("applied="), scheme, buckets))
    } else Some(MartManifest(lines.head, None, Map(0 -> lines.head)))
  }

  /** Publish the next manifest version: touched buckets move to the
    * new snapshot (buckets whose merge left no survivors drop out),
    * untouched buckets keep their entries. Single-failure-safe: the
    * new state lands as ONE atomic rename to a fresh `_LATEST.<n+1>`
    * name — there is no delete-then-rename window in which no manifest
    * exists (a crash at any point leaves the previous version as the
    * newest resolvable manifest, and the orphaned snapshot dir is
    * expired later). Superseded versions beyond the `retainVersions`
    * newest (including the one being published) are pruned AFTER the
    * new version is durable — the retained tail IS the time-travel
    * window [[readMartAt]] serves, since [[expireMartSnapshots]]
    * never deletes a directory any retained manifest references. */
  private def publishManifest(spark: SparkSession, martRoot: String,
                              snap: String, touched: Set[Int],
                              prev: Map[Int, String], nBuckets: Int,
                              retainVersions: Int): Unit = {
    require(retainVersions >= 2,
      s"retainVersions must keep at least the new manifest + the crash fallback, got $retainVersions")
    val fs = fileSystem(spark, martRoot)
    val rootP = new org.apache.hadoop.fs.Path(martRoot)
    val snapPath = new org.apache.hadoop.fs.Path(martRoot, snap)
    val written: Map[Int, String] =
      if (!fs.exists(snapPath)) Map.empty
      else fs.listStatus(snapPath).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith("_b=") => n.drop(3).toInt -> s"$snap/$n" }
        .toMap
    val next = (prev -- touched) ++ written
    val content = (Seq(s"applied=$snap", s"nbuckets=$nBuckets") ++
      next.toSeq.sortBy(_._1).map { case (b, d) => s"$b=$d" }).mkString("\n")
    val existing = manifestVersions(fs, rootP)
    val nextVer = existing.headOption.map(_._1 + 1).getOrElse(1L)
    val tmp = new org.apache.hadoop.fs.Path(martRoot, "_LATEST.tmp")
    val ptrPath = new org.apache.hadoop.fs.Path(martRoot, s"_LATEST.$nextVer")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, ptrPath))
      throw new java.io.IOException(s"failed to publish mart snapshot $snap")
    // keep the retainVersions-1 newest prior versions (the newest of
    // them is the crash fallback; the rest are the time-travel
    // window); prune everything older
    existing.drop(retainVersions - 1).foreach { case (_, p) => fs.delete(p, false) }
  }

  /** Expire snapshot directories no longer referenced by any retained
    * manifest version, keeping the `keep` most recently modified
    * unreferenced ones as a time-travel window. Directories ANY
    * retained manifest references (bucket entries or the applied
    * marker) are never deleted — the newest serves live readers and
    * the retained previous version is the crash fallback, which must
    * stay fully resolvable. Returns the deleted names. */
  def expireMartSnapshots(spark: SparkSession, martRoot: String,
                          keep: Int): Seq[String] = {
    require(keep >= 0, "keep must be non-negative")
    val fs = fileSystem(spark, martRoot)
    val rootP = new org.apache.hadoop.fs.Path(martRoot)
    if (!fs.exists(rootP)) return Nil
    val referenced: Set[String] =
      manifestVersions(fs, rootP).flatMap { case (_, p) =>
        openManifest(fs, p).toSeq.flatMap(m =>
          m.buckets.values.map(_.split("/")(0)).toSeq :+ m.applied)
      }.toSet
    val doomed = fs.listStatus(rootP).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("v_"))
      .filterNot(s => referenced.contains(s.getPath.getName))
      .sortBy(-_.getModificationTime)
      .drop(keep)
      .map(_.getPath.getName)
    doomed.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(rootP, n), true))
    doomed
  }

  private def fileSystem(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  case class EventRow(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Gap-based streaming sessionization with explicit per-key state
    * (flatMapGroupsWithState + event-time timeout): a session closes
    * when a later event arrives past the gap, or when the watermark
    * passes last-event + gap. State per key is one small struct —
    * bounded regardless of stream length, the property that matters
    * on an unbounded 100 TB/day stream. Mirrors the batch
    * [[graft.operators.Operators.sessionize]] semantics.
    */
  def sessionizeStream(spark: SparkSession, events: Dataset[EventRow],
                       gapSeconds: Long): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    def update(userId: Long, it: Iterator[EventRow],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      def emit(st: SessionState) = SessionOut(userId,
        new Timestamp(st.start), new Timestamp(st.last), st.n, st.sum)
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit).iterator
        state.remove()
        out
      } else {
        val sorted = it.toSeq.sortBy(_.ts.getTime)
        var st = state.getOption.orNull
        val closed = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          val t = e.ts.getTime
          st = if (st == null) SessionState(t, t, 1, e.value)
          else if (t - st.last > gapMs) { closed += emit(st); SessionState(t, t, 1, e.value) }
          // a watermark-admitted out-of-order event may predate the
          // stored session start — lower start alongside raising last,
          // or the streamed session_start diverges from the batch run
          else st.copy(start = math.min(st.start, t),
            last = math.max(st.last, t), n = st.n + 1, sum = st.sum + e.value)
        }
        if (st != null) {
          state.update(st)
          // setTimeoutTimestamp throws if the requested time is not
          // strictly after the current watermark — reachable here
          // because flatMapGroupsWithState does NOT pre-drop late
          // events, so a straggler with last + gap <= watermark would
          // otherwise kill the query. Clamp: the session then times
          // out on the next trigger, which is the correct semantics
          // for an already-expired session.
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(st.last + gapMs, wm + 1))
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class SessRow(user_id: Long, ts: Timestamp, cents: Long)
  case class SessAgg(user_id: Long, start_us: Long, end_us: Long,
                     n_events: Long, cents: Long)

  /** Oracle-grade gap sessionization with explicit per-key state: the
    * same flatMapGroupsWithState shape as [[sessionizeStream]], but
    * every quantity the state holds is an exact integer — event time
    * as epoch MICROseconds (events carry sub-millisecond precision a
    * long-ms state would silently truncate) and money as cents
    * (pre-cast through Catalyst's DECIMAL(12,2), the cast already
    * proven to match DuckDB's) — so the BATCH run of this exact code
    * path hash-matches a declarative SQL oracle (e07). In batch the
    * timeout machinery does not exist; end-of-input plays the role of
    * the watermark, so the trailing open session emits instead of
    * parking in state (detected by the watermark probe throwing).
    *
    * Scale: state per key is one 4-long struct, bounded regardless of
    * stream length; one shuffle on user_id.
    */
  def sessionizeExact(events: Dataset[SessRow],
                      gapSeconds: Long): Dataset[SessAgg] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L

    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

    def update(userId: Long, it: Iterator[SessRow],
               state: GroupState[SessAgg]): Iterator[SessAgg] = {
      if (state.hasTimedOut) {
        val out = state.getOption.iterator
        state.remove()
        out
      } else {
        val sorted = it.toSeq.sortBy(r => micros(r.ts))
        var st = state.getOption.orNull
        val closed = Seq.newBuilder[SessAgg]
        sorted.foreach { e =>
          val t = micros(e.ts)
          st = if (st == null) SessAgg(userId, t, t, 1, e.cents)
          else if (t - st.end_us > gapUs) {
            closed += st; SessAgg(userId, t, t, 1, e.cents)
          // min on start_us: a watermark-admitted out-of-order event
          // that predates the stored session start must lower it, as
          // the batch/oracle run (which sorts all events first) does
          } else st.copy(start_us = math.min(st.start_us, t),
            end_us = math.max(st.end_us, t),
            n_events = st.n_events + 1, cents = st.cents + e.cents)
        }
        if (st != null) {
          try {
            val wm = state.getCurrentWatermarkMs()
            state.update(st)
            state.setTimeoutTimestamp(math.max(st.end_us / 1000L + gapSeconds * 1000L, wm + 1))
          } catch { case _: UnsupportedOperationException =>
            // batch mode: no watermark, no timeouts — end of input
            // closes the trailing session
            closed += st
          }
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class ChunkRow(chunk: Int, cv: Long, doc_id: Long, ts: Timestamp, sig: Long)
  case class NearDupHit(chunk: Int, a_id: Long, b_id: Long, hamming: Int)
  case class BucketState(entries: List[(Long, Long, Long)]) // (docId, sig, tsMs)

  /** Streaming near-duplicate detection over a document stream — the
    * continuous form of d05's SimHash dedup: each doc's 64-bit SimHash
    * (native [[graft.functions.expressions.SimHashTokens]]) splits
    * into 4 × 16-bit chunks; by pigeonhole, any pair within hamming
    * distance 3 agrees on at least one chunk, so per-(chunk, value)
    * buckets are a complete blocking scheme. Each bucket holds the
    * docs seen within `horizonSeconds` of event time and emits a hit
    * for every prior doc within hamming ≤ 3 of a new arrival.
    *
    * Output: (chunk, a_id, b_id, hamming) with a earlier than b by
    * (ts, doc_id) — a pair near-dup via k chunks appears k times, as
    * in d05's per-chunk candidate semantics; the declarative
    * equivalent (self-join on (chunk, value) with an event-time range
    * predicate) is the batch oracle, spec-asserted against BOTH the
    * batch run of this code path and the incremental MemoryStream run.
    *
    * Scale: state per bucket is the docs within the horizon that share
    * a 16-bit chunk value — the stream-time analogue of d05's bounded
    * buckets; event-time timeout evicts whole buckets once the
    * watermark passes. Signature + chunking are map-side; the only
    * shuffle is the groupByKey on (chunk, value).
    */
  def nearDupStream(chunked: Dataset[ChunkRow],
                    horizonSeconds: Long): Dataset[NearDupHit] = {
    import chunked.sparkSession.implicits._
    val horizonMs = horizonSeconds * 1000L

    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

    def update(key: (Int, Long), it: Iterator[ChunkRow],
               state: GroupState[BucketState]): Iterator[NearDupHit] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // (ts, doc_id) order makes pair direction deterministic in
        // batch mode and across micro-batch boundaries
        val sorted = it.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
        var entries = state.getOption.map(_.entries).getOrElse(Nil)
        val hits = Seq.newBuilder[NearDupHit]
        var maxTs = Long.MinValue
        sorted.foreach { r =>
          val t = r.ts.getTime
          maxTs = math.max(maxTs, t)
          entries = entries.filter(_._3 >= t - horizonMs)
          entries.foreach { case (aId, aSig, aTs) =>
            val h = ham(aSig, r.sig)
            if (h <= 3 && aId != r.doc_id) {
              // orient each pair by (ts, doc_id) against the STORED
              // entry: on a timestamp tie split across micro-batches
              // the new arrival may sort before the stored doc, and
              // the declarative oracle's direction must still hold
              if (aTs < t || (aTs == t && aId < r.doc_id))
                hits += NearDupHit(key._1, aId, r.doc_id, h)
              else
                hits += NearDupHit(key._1, r.doc_id, aId, h)
            }
          }
          entries = (r.doc_id, r.sig, t) :: entries
        }
        state.update(BucketState(entries))
        // In batch mode the watermark node is eliminated from the plan
        // and GroupState refuses watermark/timeout calls; timeouts
        // can't fire in batch anyway, so only arm them when streaming.
        try {
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm + 1))
        } catch { case _: UnsupportedOperationException => () }
        hits.result().iterator
      }
    }

    chunked
      .groupByKey(r => (r.chunk, r.cv))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Algebraic partial aggregates for the OLAP mart: exact decimal sum
    * + row count per key. Shared by the continuous migrate
    * ([[olapMigrateStream]]) and the batch oracle (e06) so the stored
    * shape cannot diverge from the certified one. The fixed
    * DECIMAL(30,2) keeps the mart schema stable across arbitrarily
    * many merge generations (Spark would otherwise widen the sum type
    * every merge until it hit the precision cap). */
  def olapPartials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(valueCol).cast(DecimalType(12, 2)))
        .cast(DecimalType(30, 2)).as("sum_dec"),
        count(lit(1)).as("n_rows"))

  /** Derive the read-time measures from stored partials: exact decimal
    * sum surfaced as double, count, and avg as ONE IEEE division —
    * the q47 exactness policy, so a mart maintained by any number of
    * delta merges hash-equals the full recompute. */
  def olapDerive(partials: DataFrame, keys: Seq[String]): DataFrame =
    partials.select(keys.map(col) ++ Seq(
      col("sum_dec").cast(DoubleType).as("sum_value"),
      col("n_rows"),
      (col("sum_dec").cast(DoubleType) / col("n_rows")).as("avg_value")): _*)

  /** Continuous OLAP aggregate maintenance — RDW's Migrate OLAP
    * Service as a stream (reference /root/reference/docs/Architecture
    * .md "Migrate OLAP … watches the data warehouse for changes",
    * migrated daily; here the same merge runs per micro-batch).
    * Each batch's rows partial-aggregate ([[olapPartials]]) and merge
    * into the mart by RE-AGGREGATING partials — sums add, counts add
    * — so maintenance work scales with |delta| + |touched buckets|,
    * never the fact history (q47's algebraic-partials property, run
    * continuously). Commit model is [[applyOlapBatch]] — same
    * incremental bucket publish, atomic manifest swap and
    * checkpoint-scoped replay guard as [[applyMigrateBatch]]; the
    * guard is essential here because re-merging partials would
    * double-count. */
  def olapMigrateStream(updates: DataFrame, martRoot: String,
                        keys: Seq[String], valueCol: String,
                        checkpoint: String, nBuckets: Int = 16,
                        expireEvery: Int = 0, expireKeep: Int = 2,
                        retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    val tag = ensureRunTag(updates.sparkSession, checkpoint)
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val applied = applyOlapBatch(batch.toDF(), batchId, tag, martRoot,
          keys, valueCol, nBuckets, retainVersions)
        if (applied && expireEvery > 0 && batchId % expireEvery == 0)
          expireMartSnapshots(batch.sparkSession, martRoot, expireKeep)
        ()
      }
      .start()
  }

  /** Apply one delta batch to the OLAP partials mart incrementally:
    * re-aggregate the delta's partials with the current partials of
    * ONLY the buckets the delta touches, write those buckets to a
    * fresh snapshot, swap the manifest. Same idempotency contract as
    * [[applyMigrateBatch]] (skip iff this exact (runTag, batchId) is
    * the applied marker). Returns whether the batch was applied. */
  def applyOlapBatch(batch: DataFrame, batchId: Long, tag: String,
                     martRoot: String, keys: Seq[String], valueCol: String,
                     nBuckets: Int = 16, retainVersions: Int = 2): Boolean = {
    val sp = batch.sparkSession
    val snap = snapshotName(tag, batchId)
    val manifest = readManifest(sp, martRoot)
    if (manifest.exists(_.applied == snap)) false
    else {
      val rebucket = manifest.exists(!_.scheme.contains(nBuckets))
      // persisted: read twice (touched-bucket probe + merge) — without
      // it every micro-batch pays the partial-agg shuffle twice
      val delta = olapPartials(batch, keys, valueCol).persist()
      try {
        val touched =
          if (rebucket) (0 until nBuckets).toSet
          else delta.select(bucketExpr(keys, nBuckets).as("_b"))
            .distinct().collect().map(_.getInt(0)).toSet
        val bucketMap = manifest.map(_.buckets).getOrElse(Map.empty[Int, String])
        // in martFrame's order (see applyMigrateBatch)
        val curPaths =
          (if (rebucket) bucketMap.values.toSeq
           else touched.toSeq.flatMap(bucketMap.get))
            .distinct.sorted.map(d => s"$martRoot/$d")
        val merged =
          if (curPaths.isEmpty) delta
          else Tables.readParquet(sp, curPaths: _*).unionByName(delta)
            .groupBy(keys.map(col): _*)
            .agg(sum(col("sum_dec")).cast(DecimalType(30, 2)).as("sum_dec"),
              sum(col("n_rows")).as("n_rows"))
        merged.withColumn("_b", bucketExpr(keys, nBuckets))
          .write.partitionBy("_b").mode("overwrite").parquet(s"$martRoot/$snap")
        publishManifest(sp, martRoot, snap, touched,
          if (rebucket) Map.empty else bucketMap, nBuckets, retainVersions)
        true
      } finally { delta.unpersist(); () }
    }
  }

  /** Map a document frame (doc_id, ts, text) to the 4-chunk SimHash
    * rows [[nearDupStream]] consumes; the watermark rides the chunk
    * rows. Shared by the batch oracle path and the streaming path so
    * they cannot diverge. */
  def simhashChunks(docs: DataFrame): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    val sig = graft.functions.GraftColumns.simHashTokens(col("text"))
    docs
      .withColumn("sig", sig)
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sig"), 16 * c).bitwiseAND(lit(0xFFFFL)).as("cv"))
        }: _*)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.cv").as("cv"),
        col("doc_id"), col("ts"), col("sig"))
      .withWatermark("ts", "2 hours")
      .as[ChunkRow]
  }
}
