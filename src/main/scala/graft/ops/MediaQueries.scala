package graft.ops

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second multimodal batch: temporal segmentation — the video/audio
  * structure pass (shot-boundary detection, VAD-style segmenting)
  * that turns a flat frame sequence into editable units.
  */
object MediaQueries extends graft.QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** mm08 frame width in bytes (payloads are ASCII, so char = byte). */
  private val SEG_CHUNK = 64

  /** mm08 boundary threshold: a cut is declared when consecutive
    * frames' mean byte values differ by more than this (integer
    * mean-shift units; the planted scene block shifts the mean by
    * ~20).
    */
  private val SEG_T = 8L

  /** mm08: shot-boundary detection over per-frame features — the
    * temporal-segmentation pass of a video/audio pipeline (PySceneDetect's
    * content detector, VAD segmentation): frame f's feature here is its
    * mean byte value (the decode stub per the multimodal contract — a
    * real build computes a frame histogram/embedding at the
    * [[Multimodal.decodeFeatures]] codec seam and NOTHING downstream
    * changes), and a cut is declared where the feature jumps. The gate
    * input plants a scene change (media_id ≡ 1 mod 6 gets a high-byte
    * block appended), so the report shows REAL multi-shot media, not
    * detector noise. Per medium: frame count, shot count, and the
    * longest shot's length — the units a frame-sampler or clip
    * extractor consumes.
    *
    * Exactness: the cut test is the cross-multiplied integer compare
    * |sum_f·len_prev − sum_prev·len_f| > T·len_f·len_prev (no float
    * means), and every per-frame sum is a bounded HOF over ≤64 chars.
    *
    * Shape at scale: frames fan out map-side (posexplode of in-payload
    * offsets); the lag/cumsum windows partition by media_id — bounded
    * by payload length, never global; one groupBy(media_id) rollup
    * ends the pipeline. 100 TB of video segments with one shuffle of
    * the frame table (and the frame table itself never carries payload
    * bytes — only offsets and 2 integers per frame).
    */
  private val shotBounds: Q = (s, dir) => {
    val media = Multimodal
      .asMediaTable(Tables(s, dir).documents)
      .select(
        col("media_id"),
        // decode stub: features come from the payload text (ASCII)
        decode(col("payload"), "UTF-8").as("text")
      )
      .withColumn(
        "text",
        when(
          pmod(col("media_id"), lit(6)) === 1,
          concat(col("text"), lit(" "), repeat(lit("~~~~"), 40))
        ).otherwise(col("text"))
      )
    // per-frame features computed in ONE codegen'd pass over the
    // payload (see [[graft.plans.FrameFeatures]] for the bit-identical
    // nested-HOF form this replaces and its O(L²/chunk) substr cost),
    // so the exploded frame table carries two integers per frame —
    // never the payload
    val frames = media
      .select(
        col("media_id"),
        posexplode(
          graft.plans.FrameFeatures(s, col("text"), lit(SEG_CHUNK))
        ).as(Seq("frame_idx", "fr"))
      )
      .select(
        col("media_id"),
        col("frame_idx"),
        col("fr.flen").as("flen"),
        col("fr.fsum").as("fsum")
      )
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    val cuts = frames
      .withColumn("prev_sum", lag(col("fsum"), 1).over(w))
      .withColumn("prev_len", lag(col("flen"), 1).over(w))
      .withColumn(
        "cut",
        coalesce(
          abs(
            col("fsum") * col("prev_len") - col("prev_sum") * col("flen")
          ) > lit(SEG_T) * col("flen") * col("prev_len"),
          lit(false)
        )
      )
      .withColumn(
        "shot_id",
        sum(when(col("cut"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
      )
    cuts
      .groupBy(col("media_id"), col("shot_id"))
      .agg(count(lit(1)).as("shot_frames"))
      .groupBy(col("media_id"))
      .agg(
        sum(col("shot_frames")).as("n_frames"),
        count(lit(1)).as("n_shots"),
        max(col("shot_frames")).as("longest_shot")
      )
      .orderBy("media_id")
  }

  /** mm09's resolution ladder: the (width, height) training shapes a
    * compiled image trainer caches kernels for (the SDXL bucketing
    * ladder's shape — square plus portrait/landscape pairs around the
    * same pixel budget).
    */
  private val AR_LADDER: Seq[(Int, Int, Int)] = Seq(
    (1, 512, 512),
    (2, 448, 576),
    (3, 576, 448),
    (4, 384, 640),
    (5, 640, 384)
  )

  /** LCM of the ladder heights — makes mm09's closest-aspect score an
    * exact integer (num·(LCM/th)) instead of a float ratio.
    */
  private val AR_LCM: Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    AR_LADDER.map(_._3.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** mm09: aspect-ratio bucketing — the image-batching assignment
    * (SDXL-style resolution ladders, any multi-aspect trainer): each
    * image goes to the ladder shape whose aspect is CLOSEST to its
    * own, so a batch pads/crops minimally instead of squashing every
    * image square. Closest is decided in exact integer arithmetic:
    * |w/h − tw/th| comparisons cross-multiply to
    * |w·th₁ − h·tw₁|·th₂ < |w·th₂ − h·tw₂|·th₁ (denominators
    * positive), ties to the lower ladder index — no float ratio ever
    * exists, so the assignment is bit-identical in both engines. Per
    * bucket: image count, the aspect range it absorbed (ppm), and the
    * summed |w·th − h·tw| mismatch — the crop/pad budget the ladder
    * choice controls.
    *
    * Shape at scale: the ladder is a plan literal, the argmin is a
    * bounded fold over 5 candidates per row (map-side, no shuffle),
    * and the report is one ladder-sized hash aggregation.
    */
  private val aspectBuckets: Q = (s, dir) => {
    val media = Multimodal
      .asMediaTable(Tables(s, dir).documents)
      .select(col("media_id"), col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
    val ladder = typedLit(AR_LADDER.map { case (i, tw, th) => (i, tw, th) })
    val best = media.select(
      col("media_id"),
      col("w"),
      col("h"),
      aggregate(
        ladder,
        struct(
          lit(0).as("idx"),
          lit(0L).as("tw"),
          lit(0L).as("th"),
          lit(0L).as("num"),
          lit(-1L).as("score")
        ),
        (acc, t) => {
          val num =
            abs(col("w") * t.getField("_3") - col("h") * t.getField("_2"))
          // |w/h − tw/th| ranks as num·(LCM/th): every ladder height
          // divides AR_LCM, so the score is an exact integer and the
          // comparison never touches a float ratio
          val score = num * (lit(AR_LCM) / t.getField("_3")).cast("long")
          val better =
            acc.getField("score") === -1L || score < acc.getField("score")
          when(
            better,
            struct(
              t.getField("_1").as("idx"),
              t.getField("_2").cast("long").as("tw"),
              t.getField("_3").cast("long").as("th"),
              num.as("num"),
              score.as("score")
            )
          ).otherwise(acc)
        }
      ).as("b")
    )
    best
      .groupBy(col("b.idx").as("bucket"), col("b.tw").as("target_w"),
        col("b.th").as("target_h"))
      .agg(
        count(lit(1)).as("n_images"),
        min(expr("(w * 1000000) div h")).as("min_aspect_ppm"),
        max(expr("(w * 1000000) div h")).as("max_aspect_ppm"),
        sum(col("b.num")).as("sum_mismatch")
      )
      .orderBy("bucket")
  }

  /** mm10: a REAL byte-level codec behind the multimodal decode seam
    * — every other mm query stubs decode with UTF-8 proxies; this one
    * round-trips a self-describing uncompressed raster format through
    * actual binary parsing. Format `GIMG`: 4 magic bytes `47 49 4D
    * 47`, 1 width byte, 1 height byte, then width·height grayscale
    * pixel bytes — the PPM/BMP shape reduced to its load-bearing
    * parts (magic, header-declared geometry, raw samples). The
    * ENCODER plants payloads as binary columns (one third truncated
    * by a byte — the corrupt-file arm); the DECODER sees ONLY the
    * payload bytes: magic check, header geometry, the
    * header-vs-actual pixel-count guard, and per-pixel stats
    * including a POSITIONAL checksum (Σ i·pᵢ) that fails if bytes
    * are decoded out of order. Both engines transcode the payload
    * through one hex() per row and slice bytes from the hex string
    * (byte b = chars [2b−1, 2b]) — DuckDB has no blob substring, and
    * the single transcode beats per-byte binary slicing anyway.
    * Corrupt rows keep their decoded header and NULL stats: the
    * decode boundary REPORTS damage, it does not drop rows.
    *
    * Shape at scale: everything is one map-side expression chain per
    * row (generate → unhex → hex → slice); the only shuffle is the
    * presentation sort. Integer arithmetic end-to-end. A real codec
    * (JPEG/PNG) swaps into [[Multimodal.decodeFeatures]]'s
    * per-partition pass; THIS query pins the byte-exact plumbing the
    * swap inherits — binary column lifecycle, header/guard/stat
    * schema, NULL-on-damage contract.
    */
  /** The planted GIMG raster slice (doc_id ≡ 5 mod 11) with its
    * header geometry — shared by mm10 (decode, incl. the corrupt
    * arm) and mm11 (resize, valid rasters only).
    */
  private def gimgPlanted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(11)) === 5)
      .select(
        col("doc_id").as("media_id"),
        (lit(4L) + pmod(col("doc_id"), lit(5))).as("gw"),
        (lit(3L) + pmod(col("doc_id"), lit(4))).as("gh")
      )

  /** The GIMG wire hex for a planted row: magic + w + h + row-major
    * pixel bytes p(i) = (media_id·31 + i·7) mod 256 — the ONE
    * definition both the mm10 and mm11 encoders share.
    */
  private def gimgFullHex: org.apache.spark.sql.Column =
    concat(
      lit("47494D47"),
      lpad(hex(col("gw")), 2, "0"),
      lpad(hex(col("gh")), 2, "0"),
      array_join(
        transform(
          sequence(lit(0L), col("gw") * col("gh") - 1),
          i => lpad(hex(pmod(col("media_id") * 31 + i * 7, lit(256))), 2, "0")
        ),
        ""
      )
    )

  private val rasterDecode: Q = (s, dir) => {
    val planted = gimgPlanted(s, dir)
    val fullHex = gimgFullHex
    val media = planted
      .select(col("media_id"), fullHex.as("fullhex"))
      .select(
        col("media_id"),
        unhex(
          when(
            pmod(col("media_id"), lit(3)) === 0,
            col("fullhex").substr(lit(1), length(col("fullhex")) - 2)
          ).otherwise(col("fullhex"))
        ).as("payload")
      )
    // decoder: payload bytes only, via one hex transcode per row
    def bv(startChar: org.apache.spark.sql.Column) =
      conv(col("h").substr(startChar.cast("int"), lit(2)), 16, 10).cast("long")
    val hdr = media
      .select(
        col("media_id"),
        hex(col("payload")).as("h"),
        octet_length(col("payload")).cast("long").as("n_bytes")
      )
      .select(
        col("media_id"),
        col("h"),
        col("n_bytes"),
        (col("n_bytes") >= 6 &&
          substring(col("h"), 1, 8) === "47494D47").as("is_img"),
        // header reads are guarded so the decoder is TOTAL over
        // arbitrary payloads: under 6 bytes there is no header, and an
        // unguarded hex-slice-cast diverges across engines (Spark conv
        // of "" yields NULL, DuckDB CAST('0x' || '') raises)
        when(col("n_bytes") >= 6, bv(lit(9))).as("width"),
        when(col("n_bytes") >= 6, bv(lit(11))).as("height"),
        (col("n_bytes") - 6).as("npix_act")
      )
    val dec = hdr.select(
      col("media_id"),
      col("n_bytes"),
      col("is_img"),
      col("width"),
      col("height"),
      (col("is_img") && col("npix_act") === col("width") * col("height"))
        .as("valid"),
      when(
        col("is_img") && col("npix_act") === col("width") * col("height"),
        transform(sequence(lit(1L), col("npix_act")), i => bv(lit(11L) + i * 2))
      ).as("pix")
    )
    dec
      .select(
        col("media_id"),
        col("n_bytes"),
        col("width"),
        col("height"),
        col("valid"),
        when(col("valid"), size(col("pix")).cast("long")).as("n_pixels"),
        when(col("valid"), array_min(col("pix"))).as("px_min"),
        when(col("valid"), array_max(col("pix"))).as("px_max"),
        when(col("valid"), aggregate(col("pix"), lit(0L), _ + _)).as("px_sum"),
        when(
          col("valid"),
          aggregate(
            transform(col("pix"), (p, idx) => (idx.cast("long") + 1L) * p),
            lit(0L),
            _ + _
          )
        ).as("px_possum"),
        when(col("valid"), size(filter(col("pix"), _ >= 128)).cast("long"))
          .as("bright_px")
      )
      .withColumn(
        "mean_milli",
        when(col("valid"), expr("(px_sum * 1000) div n_pixels"))
      )
      .orderBy("media_id")
  }

  /** mm11: raster RESIZE over the decoded GIMG grid — the mandated
    * multimodal verb mm10's codec makes real: a 2× box downsample
    * (output pixel = floor mean of its 2×2 source block, row-major
    * geometry, odd trailing row/column truncated — the standard box
    * filter) computed entirely from PAYLOAD BYTES, then RE-ENCODED
    * as a valid GIMG payload whose byte length and content hash the
    * gate checks — a resize that reads the wrong source offsets or
    * writes a malformed header fails on bytes, not on a summary
    * stat. Valid (uncorrupted) planted rasters only; the corrupt arm
    * is mm10's contract.
    *
    * Exactness: integer pixel loads (one hex transcode, as mm10),
    * integer 4-sum + floor-div-4, positional checksum over the
    * OUTPUT grid (order sensitivity survives the resize), and the
    * portable hash of the re-encoded wire hex — byte-identical
    * across engines. Shape at scale: one map-side expression chain
    * per row (decode → downsample → encode inside nested HOFs); the
    * only shuffle is the presentation sort.
    */
  private val rasterResize: Q = (s, dir) => {
    val valid = gimgPlanted(s, dir).filter(pmod(col("media_id"), lit(3)) =!= 0)
    val hx = valid
      .select(col("media_id"), col("gw"), col("gh"), gimgFullHex.as("fullhex"))
      .select(col("media_id"), hex(unhex(col("fullhex"))).as("h"))
    def bv(idx: org.apache.spark.sql.Column) =
      conv(col("h").substr((lit(13) + idx * 2).cast("int"), lit(2)), 16, 10)
        .cast("long")
    val hdr = hx.select(
      col("media_id"),
      col("h"),
      conv(substring(col("h"), 9, 2), 16, 10).cast("long").as("w"),
      conv(substring(col("h"), 11, 2), 16, 10).cast("long").as("ht")
    )
    val ds = hdr
      .select(
        col("media_id"),
        col("h"),
        col("w"),
        col("ht"),
        expr("w div 2").as("w2"),
        expr("ht div 2").as("h2")
      )
      .select(
        col("media_id"),
        col("w"),
        col("ht"),
        col("w2"),
        col("h2"),
        transform(
          sequence(lit(0L), col("w2") * col("h2") - 1),
          k => {
            val row = floor(k / col("w2")).cast("long")
            val c0 = pmod(k, col("w2"))
            val s00 = (row * 2) * col("w") + c0 * 2
            floor(
              (bv(s00) + bv(s00 + 1) + bv(s00 + col("w")) +
                bv(s00 + col("w") + 1)) / 4
            ).cast("long")
          }
        ).as("outpix")
      )
    ds.select(
      col("media_id"),
      col("w").as("width"),
      col("ht").as("height"),
      col("w2"),
      col("h2"),
      (lit(6L) + col("w") * col("ht")).as("n_bytes_in"),
      octet_length(
        unhex(
          concat(
            lit("47494D47"),
            lpad(hex(col("w2")), 2, "0"),
            lpad(hex(col("h2")), 2, "0"),
            array_join(transform(col("outpix"), p => lpad(hex(p), 2, "0")), "")
          )
        )
      ).cast("long").as("n_bytes_out"),
      aggregate(col("outpix"), lit(0L), _ + _).as("out_px_sum"),
      aggregate(
        transform(col("outpix"), (p, i) => (i.cast("long") + 1L) * p),
        lit(0L),
        _ + _
      ).as("out_possum"),
      graft.functions.PortableHash
        .h32(
          concat(
            lit("47494D47"),
            lpad(hex(col("w2")), 2, "0"),
            lpad(hex(col("h2")), 2, "0"),
            array_join(transform(col("outpix"), p => lpad(hex(p), 2, "0")), "")
          )
        )
        .as("out_hash")
    ).orderBy("media_id")
  }

  /** mm13 boundary threshold in milli amplitude units: the planted
    * wave's window means differ by ~18 or ~69 units between adjacent
    * windows (pattern step ±29/∓58 over a +40 drift), so 30 separates
    * the two regimes — both boundary verdicts occur on the fixture.
    */
  private val AUD_T = 30000L

  /** The planted GWAV audio slice (doc_id ≡ 7 mod 13): sample-rate
    * code and sample count — shared by mm12 (decode, incl. the
    * corrupt arm) and mm13 (segmentation, valid payloads only).
    */
  private def gwavPlanted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(13)) === 7)
      .select(
        col("doc_id").as("media_id"),
        (lit(1L) + pmod(col("doc_id"), lit(3))).as("sr_code"),
        (lit(24L) + pmod(col("doc_id"), lit(5)) * 8).as("ns")
      )

  /** The GWAV wire hex: 4 magic bytes `47 57 41 56` ("GWAV"), 1
    * sample-rate-code byte, 2 sample-count bytes (big-endian), then
    * ns unsigned 8-bit PCM samples s(i) = (id·17 + ((id + ⌊i/8⌋) mod
    * 3)·29 + i·5) mod 256 — a piecewise wave whose 8-sample windows
    * shift mean by the ±29-step pattern over a +40 drift, so
    * segmentation has real structure to find. The ONE definition both
    * the mm12 and mm13 encoders share.
    */
  private def gwavFullHex: org.apache.spark.sql.Column =
    concat(
      lit("47574156"),
      lpad(hex(col("sr_code")), 2, "0"),
      lpad(hex(col("ns")), 4, "0"),
      array_join(
        transform(
          sequence(lit(0L), col("ns") - 1),
          i => {
            val w = (i - pmod(i, lit(8))) / lit(8)
            lpad(
              hex(
                pmod(
                  col("media_id") * 17 +
                    pmod(col("media_id") + w.cast("long"), lit(3)) * 29 +
                    i * 5,
                  lit(256)
                )
              ),
              2,
              "0"
            )
          }
        ),
        ""
      )
    )

  /** mm12: a second REAL codec at the multimodal decode seam — audio.
    * GWAV is the RIFF/WAV shape reduced to its load-bearing parts
    * (magic, a sample-rate field, a header-declared sample count, raw
    * PCM samples) on the mm10 discipline: the ENCODER plants binary
    * payloads (one third truncated by a byte — the corrupt arm); the
    * DECODER sees ONLY payload bytes through one hex() transcode per
    * row — magic check, header fields guarded by n_bytes ≥ 7 (total
    * over arbitrary payloads, the mm10 lesson), the header-vs-actual
    * sample-count guard, and integer amplitude stats including the
    * positional checksum (Σ i·sᵢ — order sensitivity) and the energy
    * sum (Σ sᵢ² — the RMS numerator a VAD pass reads). Corrupt rows
    * keep their decoded header and NULL stats: damage is REPORTED,
    * never dropped.
    *
    * Shape at scale: one map-side expression chain per row; the only
    * shuffle is the presentation sort. A real PCM/FLAC decoder swaps
    * into the same seam; this row pins the byte-exact plumbing.
    */
  private val audioDecode: Q = (s, dir) => {
    val media = gwavPlanted(s, dir)
      .select(col("media_id"), gwavFullHex.as("fullhex"))
      .select(
        col("media_id"),
        unhex(
          when(
            pmod(col("media_id"), lit(3)) === 0,
            col("fullhex").substr(lit(1), length(col("fullhex")) - 2)
          ).otherwise(col("fullhex"))
        ).as("payload")
      )
    def bv(startChar: org.apache.spark.sql.Column, len: Int) =
      conv(col("h").substr(startChar.cast("int"), lit(len)), 16, 10)
        .cast("long")
    val hdr = media
      .select(
        col("media_id"),
        hex(col("payload")).as("h"),
        octet_length(col("payload")).cast("long").as("n_bytes")
      )
      .select(
        col("media_id"),
        col("h"),
        col("n_bytes"),
        (col("n_bytes") >= 7 &&
          substring(col("h"), 1, 8) === "47574156").as("is_wav"),
        when(col("n_bytes") >= 7, bv(lit(9), 2)).as("sr_code"),
        when(col("n_bytes") >= 7, bv(lit(11), 4)).as("ns_hdr"),
        (col("n_bytes") - 7).as("ns_act")
      )
    val dec = hdr.select(
      col("media_id"),
      col("n_bytes"),
      col("sr_code"),
      col("ns_hdr"),
      (col("is_wav") && col("ns_act") === col("ns_hdr")).as("valid"),
      when(
        col("is_wav") && col("ns_act") === col("ns_hdr"),
        transform(sequence(lit(1L), col("ns_act")), i => bv(lit(13L) + i * 2, 2))
      ).as("amp")
    )
    dec
      .select(
        col("media_id"),
        col("n_bytes"),
        col("sr_code"),
        col("ns_hdr"),
        col("valid"),
        when(col("valid"), size(col("amp")).cast("long")).as("n_samples"),
        when(col("valid"), array_min(col("amp"))).as("amp_min"),
        when(col("valid"), array_max(col("amp"))).as("amp_max"),
        when(col("valid"), aggregate(col("amp"), lit(0L), _ + _)).as("amp_sum"),
        when(
          col("valid"),
          aggregate(
            transform(col("amp"), (a, idx) => (idx.cast("long") + 1L) * a),
            lit(0L),
            _ + _
          )
        ).as("amp_possum"),
        when(
          col("valid"),
          aggregate(transform(col("amp"), a => a * a), lit(0L), _ + _)
        ).as("amp_sqsum")
      )
      .withColumn(
        "mean_milli",
        when(col("valid"), expr("(amp_sum * 1000) div n_samples"))
      )
      .orderBy("media_id")
  }

  /** mm13: audio segmentation over REAL decoded amplitudes — mm08's
    * temporal-segmentation verb re-run with the proxy replaced by the
    * codec: window means come from GWAV PCM samples decoded by the
    * mm12 byte path, not from a byte-mean stub. Valid payloads only;
    * per media the 8-sample windows get exact milli mean amplitudes
    * (sum·125 — 1000/8 is exact, so no division at all), a boundary
    * is declared where adjacent window means differ by more than
    * [[AUD_T]], and the row reports the window count, boundary count,
    * the order-free Σw / Σw² boundary-position checksums, and the
    * maximum inter-window delta. One map-side chain per row + the
    * presentation sort, as the whole codec family.
    */
  private val audioSegments: Q = (s, dir) => {
    val valid = gwavPlanted(s, dir).filter(pmod(col("media_id"), lit(3)) =!= 0)
    val hx = valid
      .select(col("media_id"), col("ns"), gwavFullHex.as("fullhex"))
      .select(
        col("media_id"),
        col("ns"),
        hex(unhex(col("fullhex"))).as("h")
      )
    def bv(startChar: org.apache.spark.sql.Column) =
      conv(col("h").substr(startChar.cast("int"), lit(2)), 16, 10).cast("long")
    val amps = hx.select(
      col("media_id"),
      (col("ns") / 8).cast("long").as("nw"),
      transform(sequence(lit(1L), col("ns")), i => bv(lit(13L) + i * 2))
        .as("amp")
    )
    val wm = amps.select(
      col("media_id"),
      col("nw"),
      transform(
        sequence(lit(1L), col("nw")),
        w =>
          aggregate(
            slice(col("amp"), ((w - 1) * 8 + 1).cast("int"), lit(8)),
            lit(0L),
            _ + _
          ) * 125L
      ).as("wm")
    )
    val deltas = wm.select(
      col("media_id"),
      col("nw"),
      col("wm"),
      // zip the tail against the list: element k is |wm[k+2]−wm[k+1]|
      // (boundary at window k+2); the trailing null from the length
      // mismatch is filtered below
      zip_with(
        slice(col("wm"), 2, 10000),
        col("wm"),
        (a, b) => abs(a - b)
      ).as("dl")
    )
    deltas
      .select(
        col("media_id"),
        col("nw").as("n_windows"),
        size(filter(col("dl"), d => d.isNotNull && d > AUD_T)).cast("long")
          .as("n_bounds"),
        aggregate(
          transform(
            col("dl"),
            (d, idx) =>
              when(d.isNotNull && d > AUD_T, idx.cast("long") + 2L)
                .otherwise(0L)
          ),
          lit(0L),
          _ + _
        ).as("bound_wsum"),
        aggregate(
          transform(
            col("dl"),
            (d, idx) =>
              when(d.isNotNull && d > AUD_T,
                (idx.cast("long") + 2L) * (idx.cast("long") + 2L))
                .otherwise(0L)
          ),
          lit(0L),
          _ + _
        ).as("bound_wsqsum"),
        array_max(filter(col("dl"), d => d.isNotNull)).as("max_delta")
      )
      .orderBy("media_id")
  }

  /** mm15 shot threshold in milli mean-amplitude units: within a
    * scene consecutive frames drift by +3/pixel (≈3000 milli, modulo
    * per-pixel wraps), across a scene boundary by +44 (≈44000), so 20
    * separates the regimes — both verdicts occur on the fixture.
    */
  private val VID_T = 20000L

  /** The planted GVID video slice (doc_id ≡ 9 mod 17): frame count
    * and shared frame geometry — shared by mm14 (decode, incl. the
    * corrupt arm) and mm15 (shot bounds, valid payloads only).
    */
  private def gvidPlanted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(17)) === 9)
      .select(
        col("doc_id").as("media_id"),
        (lit(3L) + pmod(col("doc_id"), lit(4))).as("nf"),
        (lit(4L) + pmod(col("doc_id"), lit(3))).as("vw"),
        (lit(3L) + pmod(col("doc_id"), lit(3))).as("vh")
      )

  /** The GVID wire hex: 4 magic bytes `47 56 49 44` ("GVID"), 1 frame
    * count, 1 width, 1 height, then nf row-major frames of vw·vh
    * grayscale bytes p(f, i) = (id·23 + ⌊f/2⌋·41 + f·3 + i·7) mod 256
    * — two-frame scenes whose means jump by ~41 at scene boundaries
    * over a +3/frame drift, so shot detection has real structure. The
    * ONE definition the mm14 and mm15 encoders share.
    */
  private def gvidFullHex: org.apache.spark.sql.Column =
    concat(
      lit("47564944"),
      lpad(hex(col("nf")), 2, "0"),
      lpad(hex(col("vw")), 2, "0"),
      lpad(hex(col("vh")), 2, "0"),
      array_join(
        transform(
          sequence(lit(0L), col("nf") * col("vw") * col("vh") - 1),
          k => {
            val npix = col("vw") * col("vh")
            val f = (k - pmod(k, npix)) / npix
            val i = pmod(k, npix)
            val scene = (f.cast("long") - pmod(f.cast("long"), lit(2))) / lit(2)
            lpad(
              hex(
                pmod(
                  col("media_id") * 23 + scene.cast("long") * 41 +
                    f.cast("long") * 3 + i * 7,
                  lit(256)
                )
              ),
              2,
              "0"
            )
          }
        ),
        ""
      )
    )

  /** mm14: the video CONTAINER at the decode seam — multi-frame GVID
    * on the mm10/mm12 discipline (magic, header-declared frame count
    * and shared frame geometry, raw frame bytes; encoder plants the
    * truncated-corrupt arm; decoder sees ONLY payload bytes through
    * one hex transcode with header reads guarded n_bytes ≥ 7). The
    * container completes the codec trio: raster (mm10), PCM audio
    * (mm12), and frame-sequence video here — the three payload shapes
    * a multimodal corpus carries. Stats include the whole-payload
    * positional checksum (frame order AND pixel order sensitivity)
    * and the first/last frame means the segmentation pass consumes.
    */
  private val videoDecode: Q = (s, dir) => {
    val media = gvidPlanted(s, dir)
      .select(col("media_id"), gvidFullHex.as("fullhex"))
      .select(
        col("media_id"),
        unhex(
          when(
            pmod(col("media_id"), lit(3)) === 0,
            col("fullhex").substr(lit(1), length(col("fullhex")) - 2)
          ).otherwise(col("fullhex"))
        ).as("payload")
      )
    def bv(startChar: org.apache.spark.sql.Column) =
      conv(col("h").substr(startChar.cast("int"), lit(2)), 16, 10).cast("long")
    val hdr = media
      .select(
        col("media_id"),
        hex(col("payload")).as("h"),
        octet_length(col("payload")).cast("long").as("n_bytes")
      )
      .select(
        col("media_id"),
        col("h"),
        col("n_bytes"),
        (col("n_bytes") >= 7 &&
          substring(col("h"), 1, 8) === "47564944").as("is_vid"),
        when(col("n_bytes") >= 7, bv(lit(9))).as("nf_hdr"),
        when(col("n_bytes") >= 7, bv(lit(11))).as("vw"),
        when(col("n_bytes") >= 7, bv(lit(13))).as("vh"),
        (col("n_bytes") - 7).as("npx_act")
      )
    val dec = hdr.select(
      col("media_id"),
      col("n_bytes"),
      col("nf_hdr"),
      col("vw"),
      col("vh"),
      (col("is_vid") &&
        col("npx_act") === col("nf_hdr") * col("vw") * col("vh"))
        .as("valid"),
      when(
        col("is_vid") &&
          col("npx_act") === col("nf_hdr") * col("vw") * col("vh"),
        transform(sequence(lit(1L), col("npx_act")), k => bv(lit(13L) + k * 2))
      ).as("px")
    )
    dec
      .select(
        col("media_id"),
        col("n_bytes"),
        col("nf_hdr"),
        col("vw"),
        col("vh"),
        col("valid"),
        when(col("valid"), aggregate(col("px"), lit(0L), _ + _)).as("px_sum"),
        when(
          col("valid"),
          aggregate(
            transform(col("px"), (p, idx) => (idx.cast("long") + 1L) * p),
            lit(0L),
            _ + _
          )
        ).as("px_possum"),
        when(
          col("valid"),
          expr(
            "(aggregate(slice(px, 1, CAST(vw * vh AS INT)), 0L, (a, x) -> a + x) * 1000) div (vw * vh)"
          )
        ).as("mean_first_milli"),
        when(
          col("valid"),
          expr(
            "(aggregate(slice(px, CAST((nf_hdr - 1) * vw * vh + 1 AS INT), CAST(vw * vh AS INT)), 0L, (a, x) -> a + x) * 1000) div (vw * vh)"
          )
        ).as("mean_last_milli")
      )
      .orderBy("media_id")
  }

  /** mm15: shot-boundary detection over REAL decoded frames — mm08's
    * segmentation verb with the byte-mean stub replaced by the mm14
    * container: per-frame mean amplitudes come from actual GVID frame
    * bytes, a cut is declared where consecutive frame means differ
    * beyond [[VID_T]], and the row reports frame count, cut count,
    * shot count (= cuts + 1), the order-free Σf/Σf² cut-position
    * checksums, and the maximum inter-frame delta. Valid payloads
    * only (the corrupt arm is mm14's contract). One map-side chain
    * per row + the presentation sort, as the whole codec family.
    */
  /** mm16 sampling target: keep ~3 frames per video (the thumbnail
    * track density), via stride ⌈nf/3⌉ from frame 1.
    */
  private val SAMPLE_TARGET = 3L

  /** mm16: temporal frame SAMPLING over the real container — the
    * thumbnail-track operation that completes the mandated multimodal
    * verb set at the byte level (decode mm10/12/14, resize mm11,
    * frame-sample here): every ⌈nf/3⌉-th frame of a valid GVID is
    * selected (from frame 1, preserving order) and the sampled track
    * is RE-ENCODED as a VALID GVID payload — header frame count
    * updated to the kept count, same geometry, kept frames byte-for-
    * byte — whose byte length, content hash, and positional checksum
    * the gate checks (the mm11 re-encode discipline: a sampler that
    * picks wrong offsets, reorders frames, or writes a stale header
    * fails on bytes, not on a count). One map-side chain per row.
    */
  private val videoFrameSample: Q = (s, dir) => {
    val valid = gvidPlanted(s, dir).filter(pmod(col("media_id"), lit(3)) =!= 0)
    val hx = valid
      .select(
        col("media_id"),
        col("nf"),
        col("vw"),
        col("vh"),
        gvidFullHex.as("fullhex")
      )
      .select(
        col("media_id"),
        col("nf"),
        col("vw"),
        col("vh"),
        (col("vw") * col("vh")).as("npix"),
        hex(unhex(col("fullhex"))).as("h")
      )
    val stride = expr(s"(nf + $SAMPLE_TARGET - 1) DIV $SAMPLE_TARGET")
    val sampled = hx
      .withColumn("stride", stride)
      .withColumn("kept", sequence(lit(1L), col("nf"), col("stride")))
      .withColumn(
        "outhex",
        concat(
          lit("47564944"),
          lpad(hex(size(col("kept"))), 2, "0"),
          lpad(hex(col("vw")), 2, "0"),
          lpad(hex(col("vh")), 2, "0"),
          array_join(
            transform(
              col("kept"),
              f =>
                // the kept frame's pixel bytes, copied verbatim from
                // the wire: hex chars [15 + 2·(f−1)·npix, +2·npix)
                col("h").substr(
                  (lit(15L) + (f - 1) * col("npix") * 2).cast("int"),
                  (col("npix") * 2).cast("int")
                )
            ),
            ""
          )
        )
      )
    def bv(startChar: org.apache.spark.sql.Column) =
      conv(col("oh").substr(startChar.cast("int"), lit(2)), 16, 10)
        .cast("long")
    sampled
      .select(
        col("media_id"),
        col("nf").as("nf_in"),
        col("stride"),
        size(col("kept")).cast("long").as("nf_out"),
        hex(unhex(col("outhex"))).as("oh")
      )
      .select(
        col("media_id"),
        col("nf_in"),
        col("stride"),
        col("nf_out"),
        (octet_length(unhex(col("oh"))) - 7).cast("long").as("npx_out"),
        graft.functions.PortableHash.h32(col("oh")).cast("long")
          .as("out_hash"),
        aggregate(
          transform(
            sequence(lit(1L), (octet_length(unhex(col("oh"))) - 7).cast("long")),
            k => k * bv(lit(13L) + k * 2)
          ),
          lit(0L),
          _ + _
        ).as("out_possum")
      )
      .orderBy("media_id")
  }

  private val videoShotBounds: Q = (s, dir) => {
    val valid = gvidPlanted(s, dir).filter(pmod(col("media_id"), lit(3)) =!= 0)
    val hx = valid
      .select(
        col("media_id"),
        col("nf"),
        col("vw"),
        col("vh"),
        gvidFullHex.as("fullhex")
      )
      .select(
        col("media_id"),
        col("nf"),
        (col("vw") * col("vh")).as("npix"),
        hex(unhex(col("fullhex"))).as("h")
      )
    def bv(startChar: org.apache.spark.sql.Column) =
      conv(col("h").substr(startChar.cast("int"), lit(2)), 16, 10).cast("long")
    // exact integer floor division on nonnegative exact multiples:
    // (a - a mod b) / b is an integer-valued double, cast back exact
    def idiv(
        a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column
    ) = ((a - pmod(a, b)) / b).cast("long")
    val fm = hx.select(
      col("media_id"),
      col("nf"),
      transform(
        sequence(lit(1L), col("nf")),
        f =>
          idiv(
            aggregate(
              transform(
                sequence(lit(1L), col("npix")),
                i => bv(lit(13L) + ((f - 1) * col("npix") + i) * 2)
              ),
              lit(0L),
              _ + _
            ) * 1000L,
            col("npix")
          )
      ).as("fmeans")
    )
    fm
      .select(
        col("media_id"),
        col("nf").as("n_frames"),
        zip_with(
          slice(col("fmeans"), 2, 10000),
          col("fmeans"),
          (a, b) => abs(a - b)
        ).as("dl")
      )
      .select(
        col("media_id"),
        col("n_frames"),
        size(filter(col("dl"), d => d.isNotNull && d > VID_T)).cast("long")
          .as("n_cuts"),
        (size(filter(col("dl"), d => d.isNotNull && d > VID_T)).cast("long")
          + 1L).as("n_shots"),
        aggregate(
          transform(
            col("dl"),
            (d, idx) =>
              when(d.isNotNull && d > VID_T, idx.cast("long") + 2L)
                .otherwise(0L)
          ),
          lit(0L),
          _ + _
        ).as("cut_fsum"),
        aggregate(
          transform(
            col("dl"),
            (d, idx) =>
              when(d.isNotNull && d > VID_T,
                (idx.cast("long") + 2L) * (idx.cast("long") + 2L))
                .otherwise(0L)
          ),
          lit(0L),
          _ + _
        ).as("cut_fsqsum"),
        array_max(filter(col("dl"), d => d.isNotNull)).as("max_delta")
      )
      .orderBy("media_id")
  }

  // -----------------------------------------------------------------
  // mm17/mm18: CONTENT near-dup over the decoded containers — the
  // dedup net (mm05 sketch → mm06 banding → mm07 clusters) reaching
  // past stills into frame sequences and PCM streams.
  // -----------------------------------------------------------------

  /** mm17 verify bound: a pair is a near-dup when the aligned
    * per-frame Hamming sum is ≤ this per frame (re-encodes land at
    * ~2 bits/frame — only comparisons straddling a mod-256 wrap flip;
    * unrelated frames at ~32).
    */
  private[ops] val VID_DUP_HAM_PER_FRAME = 10L

  /** The mm17 corpus: its own GVID slice (pixels h32-pseudorandom per
    * (video, frame, position) — full-entropy frames, unlike mm14's
    * smooth segmentation fixture) plus two planted waves: a RE-ENCODE
    * copy of every video under id + 10⁹ (+4 brightness to every
    * pixel, mod 256 — the lossy-transcode drift) and a frame-REVERSED
    * decoy under id + 2·10⁹ for odd ids (same frames, wrong order —
    * what a temporal-blind signature would false-match).
    */
  private def gvidDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(17)) === 9)
      .select(
        col("doc_id").as("orig"),
        (lit(3L) + pmod(col("doc_id"), lit(4))).as("nf"),
        (lit(8L) + pmod(col("doc_id"), lit(3))).as("vw"),
        lit(8L).as("vh")
      )
    def arm(off: Long, shift: Long, rev: Long)(b: DataFrame) =
      b.select(
        (col("orig") + lit(off)).as("media_id"),
        col("orig"), col("nf"), col("vw"), col("vh"),
        lit(shift).as("shift"), lit(rev).as("rev")
      )
    arm(0L, 0L, 0L)(base)
      .unionByName(arm(1000000000L, 4L, 0L)(base))
      .unionByName(arm(2000000000L, 0L, 1L)(
        base.filter(pmod(col("orig"), lit(2)) === 1)))
  }

  /** mm17's GVID wire hex (same container as [[gvidFullHex]], its own
    * content): px(f, p) = (h32("v<orig>.<f>.<p>") + shift) mod 256,
    * frames written in `rev` order for the decoy arm.
    */
  private def gvidDupHex: org.apache.spark.sql.Column =
    concat(
      lit("47564944"),
      lpad(hex(col("nf")), 2, "0"),
      lpad(hex(col("vw")), 2, "0"),
      lpad(hex(col("vh")), 2, "0"),
      array_join(
        transform(
          sequence(lit(0L), col("nf") * col("vw") * col("vh") - 1),
          k => {
            val npix = col("vw") * col("vh")
            val f = ((k - pmod(k, npix)) / npix).cast("long")
            val p = pmod(k, npix)
            val fsrc = when(col("rev") === 1, col("nf") - 1 - f).otherwise(f)
            lpad(
              hex(
                pmod(
                  graft.functions.PortableHash.h32(
                    concat(lit("v"), col("orig").cast("string"), lit("."),
                      fsrc.cast("string"), lit("."), p.cast("string"))
                  ) + col("shift"),
                  lit(256)
                )
              ),
              2,
              "0"
            )
          }
        ),
        ""
      )
    )

  /** mm17: video content near-dup over REAL decoded GVID frames — the
    * mm05→mm06→mm07 image-dedup net applied to frame SEQUENCES:
    * (1) decode each container (one hex transcode) and sketch every
    * frame with the 64-bit ordinal dHash (bit j: sampled pixel j vs
    * j+1 — invariant to the brightness shift a re-encode applies,
    * except where a value wraps); (2) the ORDER-AWARE signature is
    * the per-video frame-hash sequence; banding keys are
    * (frame index, band, 16-bit chunk) — a temporal-blind key would
    * false-match the reversed decoys, a full-signature key would
    * never tolerate re-encode drift; (3) candidates verify by the
    * ALIGNED Hamming sum over the sequence (same frame count
    * required), ≤ [[VID_DUP_HAM_PER_FRAME]]·nf; (4) verified edges →
    * connected components → one row per cluster with the survivor
    * (lowest id — the original; planted copies carry +10⁹ offsets)
    * and the order-free Σ h32(member) fingerprint. The oracle
    * re-derives the whole pipeline (corpus, frame hashes, banding,
    * verification, reachability) from first principles, so a dropped
    * pair, a false merge, or a reversed decoy joining its original's
    * cluster diverges at the gate.
    *
    * Shape at scale: the sketch is one map-side pass per frame (the
    * payload never rides a shuffle — only 64-bit hashes do);
    * candidates are banded (never all-pairs); verification touches
    * candidates only (≤ nf longs each); components propagate over
    * edge-incident nodes only.
    */
  /** mm17's frame-sketch stage, factored out so the plan exhibit can
    * dump it (the full query checkpoints components, which hides this
    * subplan behind a LogicalRDD leaf in the top-level dump): decode
    * header fields from the hex transcode, explode frames, and sketch
    * each with the codegen'd byte-loop dHash.
    */
  private[graft] def videoFrameSketch(
      s: SparkSession, dir: String): DataFrame = {
    val media = gvidDupCorpus(s, dir)
      .select(col("media_id"), gvidDupHex.as("fullhex"))
      .select(col("media_id"), unhex(col("fullhex")).as("payload"))
    def bv(pos: org.apache.spark.sql.Column) =
      conv(col("h").substr(pos.cast("int"), lit(2)), 16, 10).cast("long")
    val hdr = media
      .select(col("media_id"), col("payload"), hex(col("payload")).as("h"))
      .select(
        col("media_id"),
        col("payload"),
        bv(lit(9)).as("nf"),
        (bv(lit(11)) * bv(lit(13))).as("npix")
      )
    val frames = hdr.select(
      col("media_id"),
      col("payload"),
      col("nf"),
      col("npix"),
      explode(sequence(lit(0L), col("nf") - 1)).as("f")
    )
    // frame sketch: one codegen'd byte loop per row (see
    // [[graft.plans.VideoFrameDHash]] for the bit-identical composed
    // form this replaces and the ~1,500-node-tree cost it removes)
    frames.select(
      col("media_id"), col("nf"), col("f"),
      graft.plans.VideoFrameDHash(s, col("payload"), col("f"), col("npix"))
        .as("fhash"))
  }

  private val videoNearDup: Q = (s, dir) => {
    val fh = videoFrameSketch(s, dir)
    val vids = fh
      .groupBy(col("media_id"), col("nf"))
      .agg(array_sort(collect_list(struct(col("f"), col("fhash")))).as("sf"))
      .select(
        col("media_id"),
        col("nf"),
        expr("transform(sf, x -> x.fhash)").as("fhs")
      )
    val long = vids
      .select(
        struct(col("media_id")).as("m"),
        posexplode(col("fhs")).as(Seq("f", "fhv"))
      )
      .select(
        col("m"),
        col("f"),
        posexplode(
          array((0 until 4).map(b =>
            shiftright(col("fhv"), 16 * b).bitwiseAND(lit(65535L))): _*)
        ).as(Seq("b", "bkey"))
      )
    val cand = PairJoins
      .bucketedPairs(long, Seq("f", "b", "bkey"), "m")
      .select(col("id_a.media_id").as("id_a"), col("id_b.media_id").as("id_b"))
    val near = cand
      .join(
        vids.select(col("media_id").as("id_a"), col("nf").as("nf_a"),
          col("fhs").as("fa")),
        "id_a")
      .join(
        vids.select(col("media_id").as("id_b"), col("nf").as("nf_b"),
          col("fhs").as("fb")),
        "id_b")
      .filter(col("nf_a") === col("nf_b"))
      .withColumn(
        "th",
        expr("""aggregate(zip_with(fa, fb,
          |  (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, v) -> a + v)""".stripMargin)
      )
      .filter(col("th") <= col("nf_a") * VID_DUP_HAM_PER_FRAME)
      .select("id_a", "id_b")
    val cc = graft.dedup.Clusters
      .connectedComponents(vids.select(col("media_id").as("id")), near)
    cc.groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("id")).as("survivor_id"),
        sum(
          graft.functions.PortableHash
            .h32(col("id").cast("string"))
            .cast("long")
        ).as("member_fp")
      )
      .orderBy("cluster_id")
  }

  /** mm18 verify bound: Σ_w |Δ window mean| ≤ this per window, in
    * milli amplitude units (the clipped +2 re-encode moves every
    * window mean by at most 2 units = 2000 milli; unrelated windows
    * sit ~29 units apart).
    */
  private[ops] val AUD_DUP_SUM_PER_WINDOW = 2000L

  /** mm18 staggered-grid quantum for candidate keys, milli units: two
    * signatures within Q/2 of each other share a cell on grid 0 or
    * the Q/2-offset grid 1 — the 1-D LSH guarantee that makes recall
    * structural instead of statistical.
    */
  private[ops] val AUD_DUP_GRID_MILLI = 8000L

  /** The mm18 corpus: its own GWAV slice (samples h32-pseudorandom
    * per (audio, position)) plus a CLIPPED-re-encode copy of every
    * audio under id + 10⁹ (s′ = min(s + 2, 255) — the limiter a lossy
    * transcode applies; clipping, not wrapping, so every window mean
    * moves by ≤ 2 units) and a one-window TIME-SHIFT decoy under
    * id + 2·10⁹ for odd ids (samples rotated by 8 — same content,
    * wrong alignment).
    */
  private def gwavDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).documents
      .filter(pmod(col("doc_id"), lit(13)) === 7)
      .select(
        col("doc_id").as("orig"),
        (lit(1L) + pmod(col("doc_id"), lit(3))).as("sr_code"),
        (lit(24L) + pmod(col("doc_id"), lit(5)) * 8).as("ns")
      )
    def arm(off: Long, clip: Long, rot: Long)(b: DataFrame) =
      b.select(
        (col("orig") + lit(off)).as("media_id"),
        col("orig"), col("sr_code"), col("ns"),
        lit(clip).as("clip"), lit(rot).as("rot")
      )
    arm(0L, 0L, 0L)(base)
      .unionByName(arm(1000000000L, 1L, 0L)(base))
      .unionByName(arm(2000000000L, 0L, 1L)(
        base.filter(pmod(col("orig"), lit(2)) === 1)))
  }

  /** mm18's GWAV wire hex (same container as [[gwavFullHex]], its own
    * content): s(i) = h32("a<orig>.<i_src>") mod 256 with
    * i_src = (i + 8) mod ns on the rotated arm, then
    * s′ = min(s + 2, 255) on the clipped arm.
    */
  private def gwavDupHex: org.apache.spark.sql.Column =
    concat(
      lit("47574156"),
      lpad(hex(col("sr_code")), 2, "0"),
      lpad(hex(col("ns")), 4, "0"),
      array_join(
        transform(
          sequence(lit(0L), col("ns") - 1),
          i => {
            val isrc =
              when(col("rot") === 1, pmod(i + 8, col("ns"))).otherwise(i)
            val base = pmod(
              graft.functions.PortableHash.h32(
                concat(lit("a"), col("orig").cast("string"), lit("."),
                  isrc.cast("string"))
              ),
              lit(256)
            )
            lpad(
              hex(
                when(col("clip") === 1, least(base + 2, lit(255L)))
                  .otherwise(base)
              ),
              2,
              "0"
            )
          }
        ),
        ""
      )
    )

  /** mm18: audio fingerprint near-dup over REAL decoded GWAV PCM —
    * the windowed-energy signature with the mm06/mm07 banded net:
    * (1) decode each container and compute the per-8-sample-window
    * mean amplitude in exact milli units — the signature is the
    * window-mean SEQUENCE (order-aware: the time-shift decoys must
    * not match); (2) candidate keys are (window index, grid,
    * quantized mean) on TWO staggered grids ([[AUD_DUP_GRID_MILLI]]
    * apart, offset by half) — any pair within Q/2 per window shares a
    * cell by construction, so the clipped re-encodes (≤ 2 units away)
    * are structurally recalled; (3) verification is the aligned
    * Σ |Δ mean| ≤ [[AUD_DUP_SUM_PER_WINDOW]]·nw (same window count
    * required); (4) verified edges → connected components → the
    * cluster report (survivor = lowest id, Σ h32(member) fingerprint).
    * Oracle re-derives everything from first principles.
    *
    * Shape at scale: window means are one map-side pass (payload
    * bytes never shuffle); candidates banded on dense integer keys;
    * verification touches candidates only.
    */
  private val audioNearDup: Q = (s, dir) => {
    val media = gwavDupCorpus(s, dir)
      .select(col("media_id"), gwavDupHex.as("fullhex"))
      .select(col("media_id"), unhex(col("fullhex")).as("payload"))
    def bv(pos: org.apache.spark.sql.Column) =
      conv(col("h").substr(pos.cast("int"), lit(2)), 16, 10).cast("long")
    val hdr = media
      .select(col("media_id"), hex(col("payload")).as("h"))
      .select(
        col("media_id"),
        col("h"),
        expr("CAST(conv(substr(h, 11, 4), 16, 10) AS BIGINT) DIV 8").as("nw")
      )
    val windows = hdr.select(
      col("media_id"),
      col("h"),
      col("nw"),
      explode(sequence(lit(0L), col("nw") - 1)).as("w")
    )
    val msum = (0 until 8)
      .map(k => bv(lit(15L) + (col("w") * 8 + k) * 2))
      .reduce(_ + _)
    val wm = windows
      .withColumn("__ms", msum)
      .select(
        col("media_id"),
        col("nw"),
        col("w"),
        expr("CAST((__ms * 1000) DIV 8 AS BIGINT)").as("m")
      )
    val auds = wm
      .groupBy(col("media_id"), col("nw"))
      .agg(array_sort(collect_list(struct(col("w"), col("m")))).as("sm"))
      .select(
        col("media_id"),
        col("nw"),
        expr("transform(sm, x -> x.m)").as("ms")
      )
    val q = AUD_DUP_GRID_MILLI
    val long = auds
      .select(
        struct(col("media_id")).as("m"),
        posexplode(col("ms")).as(Seq("w", "mv"))
      )
      .select(
        col("m"),
        col("w"),
        posexplode(
          array(
            expr(s"CAST(mv DIV $q AS BIGINT)"),
            expr(s"CAST((mv + ${q / 2}) DIV $q AS BIGINT)")
          )
        ).as(Seq("g", "bkey"))
      )
    val cand = PairJoins
      .bucketedPairs(long, Seq("w", "g", "bkey"), "m")
      .select(col("id_a.media_id").as("id_a"), col("id_b.media_id").as("id_b"))
    val near = cand
      .join(
        auds.select(col("media_id").as("id_a"), col("nw").as("nw_a"),
          col("ms").as("ma")),
        "id_a")
      .join(
        auds.select(col("media_id").as("id_b"), col("nw").as("nw_b"),
          col("ms").as("mb")),
        "id_b")
      .filter(col("nw_a") === col("nw_b"))
      .withColumn(
        "sd",
        expr("""aggregate(zip_with(ma, mb, (x, y) -> abs(x - y)),
          |  CAST(0 AS BIGINT), (a, v) -> a + v)""".stripMargin)
      )
      .filter(col("sd") <= col("nw_a") * AUD_DUP_SUM_PER_WINDOW)
      .select("id_a", "id_b")
    val cc = graft.dedup.Clusters
      .connectedComponents(auds.select(col("media_id").as("id")), near)
    cc.groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("id")).as("survivor_id"),
        sum(
          graft.functions.PortableHash
            .h32(col("id").cast("string"))
            .cast("long")
        ).as("member_fp")
      )
      .orderBy("cluster_id")
  }

  val queries: Map[String, Q] = named(
    "mm08_shot_bounds" -> shotBounds,
    "mm09_aspect_buckets" -> aspectBuckets,
    "mm10_raster_decode" -> rasterDecode,
    "mm11_raster_resize" -> rasterResize,
    "mm12_audio_decode" -> audioDecode,
    "mm13_audio_segments" -> audioSegments,
    "mm14_video_decode" -> videoDecode,
    "mm15_video_shots" -> videoShotBounds,
    "mm16_frame_sample" -> videoFrameSample,
    "mm17_video_neardup" -> videoNearDup,
    "mm18_audio_neardup" -> audioNearDup
  )

  /** DuckDB mirror of [[gwavPlanted]] + [[gwavFullHex]] (CTE list,
    * no WITH): `gen` exposes (media_id, sr_code, ns, fullhex). Shared
    * by the mm12 and mm13 oracles.
    */
  private def gwavCtes(corruptArm: Boolean): String = {
    val corrupt = if (corruptArm) "" else " AND doc_id % 3 <> 0"
    s"""planted AS (
       |  SELECT doc_id AS media_id,
       |    CAST(1 + doc_id % 3 AS BIGINT) AS sr_code,
       |    CAST(24 + (doc_id % 5) * 8 AS BIGINT) AS ns
       |  FROM documents WHERE doc_id % 13 = 7$corrupt),
       |gen AS (
       |  SELECT media_id, sr_code, ns,
       |    concat('47574156', lpad(hex(sr_code), 2, '0'),
       |      lpad(hex(ns), 4, '0'),
       |      array_to_string(list_transform(range(0, ns),
       |        i -> lpad(hex((media_id * 17
       |               + ((media_id + i // 8) % 3) * 29 + i * 5) % 256),
       |             2, '0')), ''))
       |      AS fullhex
       |  FROM planted)""".stripMargin
  }

  /** DuckDB mirror of [[gvidPlanted]] + [[gvidFullHex]]: `gen`
    * exposes (media_id, nf, vw, vh, fullhex). Shared by the mm14 and
    * mm15 oracles.
    */
  private def gvidCtes(corruptArm: Boolean): String = {
    val corrupt = if (corruptArm) "" else " AND doc_id % 3 <> 0"
    s"""planted AS (
       |  SELECT doc_id AS media_id,
       |    CAST(3 + doc_id % 4 AS BIGINT) AS nf,
       |    CAST(4 + doc_id % 3 AS BIGINT) AS vw,
       |    CAST(3 + doc_id % 3 AS BIGINT) AS vh
       |  FROM documents WHERE doc_id % 17 = 9$corrupt),
       |gen AS (
       |  SELECT media_id, nf, vw, vh,
       |    concat('47564944', lpad(hex(nf), 2, '0'), lpad(hex(vw), 2, '0'),
       |      lpad(hex(vh), 2, '0'),
       |      array_to_string(list_transform(range(0, nf * vw * vh),
       |        k -> lpad(hex((media_id * 23
       |               + ((k // (vw * vh)) // 2) * 41
       |               + (k // (vw * vh)) * 3
       |               + (k % (vw * vh)) * 7) % 256), 2, '0')), ''))
       |      AS fullhex
       |  FROM planted)""".stripMargin
  }

  val oracle: Map[String, String] = named(
    // the container mirrored from first principles on the mm10/mm12
    // pattern: same GVID hex construction, same one-transcode decode,
    // same truncation arm, same NULL-on-damage stats
    "mm14_video_decode" ->
      s"""WITH ${gvidCtes(corruptArm = true)},
         |media AS (
         |  SELECT media_id,
         |    from_hex(CASE WHEN media_id % 3 = 0
         |      THEN substring(fullhex, 1, length(fullhex) - 2)
         |      ELSE fullhex END) AS payload
         |  FROM gen),
         |hx AS (SELECT media_id, hex(payload) AS h,
         |         CAST(octet_length(payload) AS BIGINT) AS n_bytes
         |       FROM media),
         |hdr AS (
         |  SELECT media_id, h, n_bytes,
         |    (n_bytes >= 7 AND substring(h, 1, 8) = '47564944') AS is_vid,
         |    CASE WHEN n_bytes >= 7 THEN
         |      CAST(concat('0x', substring(h, 9, 2)) AS BIGINT) END AS nf_hdr,
         |    CASE WHEN n_bytes >= 7 THEN
         |      CAST(concat('0x', substring(h, 11, 2)) AS BIGINT) END AS vw,
         |    CASE WHEN n_bytes >= 7 THEN
         |      CAST(concat('0x', substring(h, 13, 2)) AS BIGINT) END AS vh,
         |    n_bytes - 7 AS npx_act
         |  FROM hx),
         |dec AS (
         |  SELECT media_id, n_bytes, nf_hdr, vw, vh,
         |    (is_vid AND npx_act = nf_hdr * vw * vh) AS valid,
         |    CASE WHEN is_vid AND npx_act = nf_hdr * vw * vh THEN
         |      list_transform(range(1, npx_act + 1),
         |        k -> CAST(concat('0x',
         |          substring(h, CAST(13 + 2 * k AS BIGINT), 2)) AS BIGINT))
         |    END AS px
         |  FROM hdr)
         |SELECT media_id, n_bytes, nf_hdr, vw, vh, valid,
         |  CASE WHEN valid THEN CAST(list_aggregate(px, 'sum') AS BIGINT)
         |    END AS px_sum,
         |  CASE WHEN valid THEN
         |    CAST(list_aggregate(list_transform(range(1, len(px) + 1),
         |      k -> k * px[k]), 'sum') AS BIGINT) END AS px_possum,
         |  CASE WHEN valid THEN
         |    (CAST(list_aggregate(list_slice(px, 1, vw * vh), 'sum')
         |      AS BIGINT) * 1000) // (vw * vh) END AS mean_first_milli,
         |  CASE WHEN valid THEN
         |    (CAST(list_aggregate(list_slice(px, (nf_hdr - 1) * vw * vh + 1,
         |      nf_hdr * vw * vh), 'sum') AS BIGINT) * 1000) // (vw * vh)
         |    END AS mean_last_milli
         |FROM dec ORDER BY media_id""".stripMargin,
    // the same strided selection from the same wire bytes, re-encoded
    // and hashed — header count, kept-frame bytes, positional checksum
    "mm16_frame_sample" ->
      s"""WITH ${gvidCtes(corruptArm = false)},
         |hx AS (SELECT media_id, nf, vw, vh, vw * vh AS npix,
         |         hex(from_hex(fullhex)) AS h
         |       FROM gen),
         |sm AS (
         |  SELECT media_id, nf, vw, vh, npix,
         |    (nf + $SAMPLE_TARGET - 1) // $SAMPLE_TARGET AS stride,
         |    list_transform(
         |      range(1, nf + 1, (nf + $SAMPLE_TARGET - 1) // $SAMPLE_TARGET),
         |      f -> substring(h, CAST(15 + 2 * (f - 1) * npix AS BIGINT),
         |             CAST(2 * npix AS BIGINT))) AS kepthex
         |  FROM hx),
         |enc AS (
         |  SELECT media_id, nf, stride, npix,
         |    CAST(len(kepthex) AS BIGINT) AS nf_out,
         |    concat('47564944', lpad(hex(len(kepthex)), 2, '0'),
         |      lpad(hex(vw), 2, '0'), lpad(hex(vh), 2, '0'),
         |      array_to_string(kepthex, '')) AS ohraw
         |  FROM sm),
         |oh2 AS (SELECT media_id, nf, stride, nf_out,
         |          hex(from_hex(ohraw)) AS oh
         |        FROM enc)
         |SELECT media_id,
         |  nf AS nf_in,
         |  stride,
         |  nf_out,
         |  CAST(octet_length(from_hex(oh)) - 7 AS BIGINT) AS npx_out,
         |  ${graft.functions.PortableHash.sqlH32("oh")} AS out_hash,
         |  CAST(list_aggregate(list_transform(
         |    range(1, octet_length(from_hex(oh)) - 7 + 1),
         |    k -> k * CAST(concat('0x',
         |      substring(oh, CAST(13 + 2 * k AS BIGINT), 2)) AS BIGINT)),
         |    'sum') AS BIGINT) AS out_possum
         |FROM oh2 ORDER BY media_id""".stripMargin,
    // the same per-frame means from the same frame bytes, the same
    // thresholded cuts and Σf/Σf² checksums
    "mm15_video_shots" ->
      s"""WITH ${gvidCtes(corruptArm = false)},
         |hx AS (SELECT media_id, nf, vw * vh AS npix,
         |         hex(from_hex(fullhex)) AS h
         |       FROM gen),
         |fm AS (
         |  SELECT media_id, nf,
         |    list_transform(range(1, nf + 1), f ->
         |      (CAST(list_aggregate(list_transform(range(1, npix + 1),
         |         i -> CAST(concat('0x', substring(h,
         |           CAST(13 + 2 * ((f - 1) * npix + i) AS BIGINT), 2))
         |           AS BIGINT)), 'sum') AS BIGINT) * 1000) // npix)
         |      AS fmeans
         |  FROM hx),
         |dl AS (
         |  SELECT media_id, nf,
         |    list_transform(range(2, nf + 1),
         |      f -> abs(fmeans[f] - fmeans[f - 1])) AS dl
         |  FROM fm)
         |SELECT media_id,
         |  CAST(nf AS BIGINT) AS n_frames,
         |  CAST(len(list_filter(dl, d -> d > $VID_T)) AS BIGINT) AS n_cuts,
         |  CAST(len(list_filter(dl, d -> d > $VID_T)) + 1 AS BIGINT)
         |    AS n_shots,
         |  CAST(list_aggregate(list_transform(range(1, nf),
         |    k -> CASE WHEN dl[k] > $VID_T THEN k + 1 ELSE 0 END), 'sum')
         |    AS BIGINT) AS cut_fsum,
         |  CAST(list_aggregate(list_transform(range(1, nf),
         |    k -> CASE WHEN dl[k] > $VID_T THEN (k + 1) * (k + 1) ELSE 0 END),
         |    'sum') AS BIGINT) AS cut_fsqsum,
         |  CAST(list_aggregate(dl, 'max') AS BIGINT) AS max_delta
         |FROM dl ORDER BY media_id""".stripMargin,
    // generator and decoder mirrored from first principles on the
    // mm10 pattern: same GWAV hex construction, same one-transcode
    // decode, same truncation arm, same NULL-on-damage stats
    "mm12_audio_decode" ->
      s"""WITH ${gwavCtes(corruptArm = true)},
         |media AS (
         |  SELECT media_id,
         |    from_hex(CASE WHEN media_id % 3 = 0
         |      THEN substring(fullhex, 1, length(fullhex) - 2)
         |      ELSE fullhex END) AS payload
         |  FROM gen),
         |hx AS (SELECT media_id, hex(payload) AS h,
         |         CAST(octet_length(payload) AS BIGINT) AS n_bytes
         |       FROM media),
         |hdr AS (
         |  SELECT media_id, h, n_bytes,
         |    (n_bytes >= 7 AND substring(h, 1, 8) = '47574156') AS is_wav,
         |    CASE WHEN n_bytes >= 7 THEN
         |      CAST(concat('0x', substring(h, 9, 2)) AS BIGINT) END AS sr_code,
         |    CASE WHEN n_bytes >= 7 THEN
         |      CAST(concat('0x', substring(h, 11, 4)) AS BIGINT) END AS ns_hdr,
         |    n_bytes - 7 AS ns_act
         |  FROM hx),
         |dec AS (
         |  SELECT media_id, n_bytes, sr_code, ns_hdr,
         |    (is_wav AND ns_act = ns_hdr) AS valid,
         |    CASE WHEN is_wav AND ns_act = ns_hdr THEN
         |      list_transform(range(1, ns_act + 1),
         |        i -> CAST(concat('0x',
         |          substring(h, CAST(13 + 2 * i AS BIGINT), 2)) AS BIGINT))
         |    END AS amp
         |  FROM hdr)
         |SELECT media_id, n_bytes, sr_code, ns_hdr, valid,
         |  CASE WHEN valid THEN CAST(len(amp) AS BIGINT) END AS n_samples,
         |  CASE WHEN valid THEN CAST(list_aggregate(amp, 'min') AS BIGINT)
         |    END AS amp_min,
         |  CASE WHEN valid THEN CAST(list_aggregate(amp, 'max') AS BIGINT)
         |    END AS amp_max,
         |  CASE WHEN valid THEN CAST(list_aggregate(amp, 'sum') AS BIGINT)
         |    END AS amp_sum,
         |  CASE WHEN valid THEN
         |    CAST(list_aggregate(list_transform(range(1, len(amp) + 1),
         |      i -> i * amp[i]), 'sum') AS BIGINT) END AS amp_possum,
         |  CASE WHEN valid THEN
         |    CAST(list_aggregate(list_transform(amp, a -> a * a), 'sum')
         |      AS BIGINT) END AS amp_sqsum,
         |  CASE WHEN valid THEN
         |    (CAST(list_aggregate(amp, 'sum') AS BIGINT) * 1000) //
         |      CAST(len(amp) AS BIGINT) END AS mean_milli
         |FROM dec ORDER BY media_id""".stripMargin,
    // the same 8-sample window means (sum·125 — exact), the same
    // adjacent-window deltas and threshold verdicts, the same Σw/Σw²
    // boundary checksums
    "mm13_audio_segments" ->
      s"""WITH ${gwavCtes(corruptArm = false)},
         |hx AS (SELECT media_id, ns, hex(from_hex(fullhex)) AS h FROM gen),
         |amps AS (
         |  SELECT media_id, ns // 8 AS nw,
         |    list_transform(range(1, ns + 1),
         |      i -> CAST(concat('0x',
         |        substring(h, CAST(13 + 2 * i AS BIGINT), 2)) AS BIGINT))
         |      AS amp
         |  FROM hx),
         |wm AS (
         |  SELECT media_id, nw,
         |    list_transform(range(1, nw + 1),
         |      w -> CAST(list_aggregate(
         |             list_slice(amp, (w - 1) * 8 + 1, (w - 1) * 8 + 8),
         |             'sum') AS BIGINT) * 125) AS wm
         |  FROM amps),
         |dl AS (
         |  SELECT media_id, nw,
         |    list_transform(range(2, nw + 1), w -> abs(wm[w] - wm[w - 1]))
         |      AS dl
         |  FROM wm)
         |SELECT media_id,
         |  CAST(nw AS BIGINT) AS n_windows,
         |  CAST(len(list_filter(dl, d -> d > $AUD_T)) AS BIGINT) AS n_bounds,
         |  CAST(list_aggregate(list_transform(range(1, nw),
         |    k -> CASE WHEN dl[k] > $AUD_T THEN k + 1 ELSE 0 END), 'sum')
         |    AS BIGINT) AS bound_wsum,
         |  CAST(list_aggregate(list_transform(range(1, nw),
         |    k -> CASE WHEN dl[k] > $AUD_T THEN (k + 1) * (k + 1) ELSE 0 END),
         |    'sum') AS BIGINT) AS bound_wsqsum,
         |  CAST(list_aggregate(dl, 'max') AS BIGINT) AS max_delta
         |FROM dl ORDER BY media_id""".stripMargin,
    // the same row-major 2x2 box downsample from the same wire bytes,
    // re-encoded and hashed — // arithmetic mirrors div/floor on
    // nonnegative smalls; the double-division row index is exact
    "mm11_raster_resize" -> {
      def bv(idx: String) =
        s"CAST(concat('0x', substring(h, CAST(13 + 2 * ($idx) AS BIGINT), 2)) AS BIGINT)"
      val outhex =
        """concat('47494D47', lpad(hex(w2), 2, '0'), lpad(hex(h2), 2, '0'),
          |      array_to_string(list_transform(outpix,
          |        p -> lpad(hex(p), 2, '0')), ''))""".stripMargin
      s"""WITH planted AS (
         |  SELECT doc_id AS media_id,
         |    CAST(4 + doc_id % 5 AS BIGINT) AS gw,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS gh
         |  FROM documents WHERE doc_id % 11 = 5 AND doc_id % 3 <> 0),
         |gen AS (
         |  SELECT media_id,
         |    concat('47494D47', lpad(hex(gw), 2, '0'), lpad(hex(gh), 2, '0'),
         |      array_to_string(list_transform(range(0, gw * gh),
         |        i -> lpad(hex((media_id * 31 + i * 7) % 256), 2, '0')), ''))
         |      AS fullhex
         |  FROM planted),
         |hx AS (SELECT media_id, hex(from_hex(fullhex)) AS h FROM gen),
         |hdr AS (
         |  SELECT media_id, h,
         |    CAST(concat('0x', substring(h, 9, 2)) AS BIGINT) AS w,
         |    CAST(concat('0x', substring(h, 11, 2)) AS BIGINT) AS ht
         |  FROM hx),
         |ds AS (
         |  SELECT media_id, w, ht, w // 2 AS w2, ht // 2 AS h2,
         |    list_transform(range(0, (w // 2) * (ht // 2)), k ->
         |      (${bv("((k // (w // 2)) * 2) * w + (k % (w // 2)) * 2")}
         |       + ${bv("((k // (w // 2)) * 2) * w + (k % (w // 2)) * 2 + 1")}
         |       + ${bv("((k // (w // 2)) * 2 + 1) * w + (k % (w // 2)) * 2")}
         |       + ${bv(
            "((k // (w // 2)) * 2 + 1) * w + (k % (w // 2)) * 2 + 1"
          )}) // 4
         |    ) AS outpix
         |  FROM hdr),
         |enc AS (
         |  SELECT media_id, w, ht, w2, h2, outpix, $outhex AS outhex
         |  FROM ds)
         |SELECT media_id, w AS width, ht AS height, w2, h2,
         |  CAST(6 + w * ht AS BIGINT) AS n_bytes_in,
         |  CAST(octet_length(from_hex(outhex)) AS BIGINT) AS n_bytes_out,
         |  CAST(list_aggregate(outpix, 'sum') AS BIGINT) AS out_px_sum,
         |  CAST(list_aggregate(list_transform(range(1, len(outpix) + 1),
         |    i -> i * outpix[i]), 'sum') AS BIGINT) AS out_possum,
         |  ${graft.functions.PortableHash.sqlH32("outhex")} AS out_hash
         |FROM enc ORDER BY media_id""".stripMargin
    },
    // generator and decoder both mirrored from first principles: the
    // same GIMG hex construction (from_hex), the same one-hex
    // transcode decode (byte b = hex chars [2b-1, 2b]), the same
    // corrupt-truncation arm, the same NULL-on-damage stats
    "mm10_raster_decode" ->
      s"""WITH planted AS (
         |  SELECT doc_id AS media_id,
         |    CAST(4 + doc_id % 5 AS BIGINT) AS gw,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS gh
         |  FROM documents WHERE doc_id % 11 = 5),
         |gen AS (
         |  SELECT media_id,
         |    concat('47494D47', lpad(hex(gw), 2, '0'), lpad(hex(gh), 2, '0'),
         |      array_to_string(list_transform(range(0, gw * gh),
         |        i -> lpad(hex((media_id * 31 + i * 7) % 256), 2, '0')), ''))
         |      AS fullhex
         |  FROM planted),
         |media AS (
         |  SELECT media_id,
         |    from_hex(CASE WHEN media_id % 3 = 0
         |      THEN substring(fullhex, 1, length(fullhex) - 2)
         |      ELSE fullhex END) AS payload
         |  FROM gen),
         |hx AS (SELECT media_id, hex(payload) AS h,
         |         CAST(octet_length(payload) AS BIGINT) AS n_bytes
         |       FROM media),
         |hdr AS (
         |  SELECT media_id, h, n_bytes,
         |    (n_bytes >= 6 AND substring(h, 1, 8) = '47494D47') AS is_img,
         |    CASE WHEN n_bytes >= 6 THEN
         |      CAST(concat('0x', substring(h, 9, 2)) AS BIGINT) END AS width,
         |    CASE WHEN n_bytes >= 6 THEN
         |      CAST(concat('0x', substring(h, 11, 2)) AS BIGINT) END AS height,
         |    n_bytes - 6 AS npix_act
         |  FROM hx),
         |dec AS (
         |  SELECT media_id, n_bytes, is_img, width, height,
         |    (is_img AND npix_act = width * height) AS valid,
         |    CASE WHEN is_img AND npix_act = width * height THEN
         |      list_transform(range(1, npix_act + 1),
         |        i -> CAST(concat('0x',
         |          substring(h, CAST(11 + 2 * i AS BIGINT), 2)) AS BIGINT))
         |    END AS pix
         |  FROM hdr)
         |SELECT media_id, n_bytes, width, height, valid,
         |  CASE WHEN valid THEN CAST(len(pix) AS BIGINT) END AS n_pixels,
         |  CASE WHEN valid THEN CAST(list_aggregate(pix, 'min') AS BIGINT)
         |    END AS px_min,
         |  CASE WHEN valid THEN CAST(list_aggregate(pix, 'max') AS BIGINT)
         |    END AS px_max,
         |  CASE WHEN valid THEN CAST(list_aggregate(pix, 'sum') AS BIGINT)
         |    END AS px_sum,
         |  CASE WHEN valid THEN
         |    CAST(list_aggregate(list_transform(range(1, len(pix) + 1),
         |      i -> i * pix[i]), 'sum') AS BIGINT) END AS px_possum,
         |  CASE WHEN valid THEN
         |    CAST(len(list_filter(pix, p -> p >= 128)) AS BIGINT)
         |    END AS bright_px,
         |  CASE WHEN valid THEN
         |    (CAST(list_aggregate(pix, 'sum') AS BIGINT) * 1000) //
         |      CAST(len(pix) AS BIGINT) END AS mean_milli
         |FROM dec ORDER BY media_id""".stripMargin,
    // the same ladder as a VALUES table, the same integer score
    // (num · LCM/th), argmin via row_number with the same (score, idx)
    // tie-break; width/height mirror mm01's metadata derivation
    "mm09_aspect_buckets" -> {
      val lad = AR_LADDER
        .map { case (i, tw, th) => s"($i, $tw, $th)" }
        .mkString(", ")
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    CAST(64 + (doc_id * 7) % 448 AS BIGINT) AS w,
         |    CAST(64 + (doc_id * 13) % 448 AS BIGINT) AS h
         |  FROM documents),
         |lad(idx, tw, th) AS (VALUES $lad),
         |sc AS (
         |  SELECT media_id, w, h, idx, tw, th,
         |    abs(w * th - h * tw) AS num,
         |    abs(w * th - h * tw) * ($AR_LCM // th) AS score
         |  FROM m CROSS JOIN lad),
         |best AS (
         |  SELECT * FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY media_id
         |    ORDER BY score, idx) = 1)
         |SELECT CAST(idx AS INT) AS bucket,
         |  CAST(tw AS BIGINT) AS target_w, CAST(th AS BIGINT) AS target_h,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  MIN((w * 1000000) // h) AS min_aspect_ppm,
         |  MAX((w * 1000000) // h) AS max_aspect_ppm,
         |  CAST(SUM(num) AS BIGINT) AS sum_mismatch
         |FROM best GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin
    },
    // same plant, same 64-byte frames, same integer cross-multiplied
    // cut test; frame sums via list_transform over the in-frame
    // offsets (payloads are ASCII so ascii(substr) = byte value)
    "mm08_shot_bounds" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 6 = 1
         |      THEN text || ' ' || repeat('~~~~', 40)
         |      ELSE text END AS text
         |  FROM documents),
         |f AS (
         |  SELECT media_id, CAST(g.i AS INT) AS frame_idx,
         |    CAST(least($SEG_CHUNK, length(text) - g.i * $SEG_CHUNK)
         |      AS BIGINT) AS flen,
         |    CAST(list_sum(list_transform(
         |      range(1, CAST(least($SEG_CHUNK,
         |        length(text) - g.i * $SEG_CHUNK) AS BIGINT) + 1),
         |      j -> ascii(substr(text,
         |        CAST(g.i * $SEG_CHUNK + j AS INT), 1))))
         |      AS BIGINT) AS fsum
         |  FROM m, range(0, 100000) g(i)
         |  WHERE g.i * $SEG_CHUNK < length(text)),
         |c AS (
         |  SELECT media_id, frame_idx, flen, fsum,
         |    lag(fsum) OVER w AS prev_sum,
         |    lag(flen) OVER w AS prev_len
         |  FROM f WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
         |k AS (
         |  SELECT media_id, frame_idx,
         |    COALESCE(
         |      abs(fsum * prev_len - prev_sum * flen)
         |        > $SEG_T * flen * prev_len,
         |      FALSE) AS cut
         |  FROM c),
         |sh AS (
         |  SELECT media_id, frame_idx,
         |    SUM(CASE WHEN cut THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY media_id ORDER BY frame_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS shot_id
         |  FROM k),
         |per AS (
         |  SELECT media_id, shot_id, CAST(COUNT(*) AS BIGINT) AS shot_frames
         |  FROM sh GROUP BY 1, 2)
         |SELECT media_id, CAST(SUM(shot_frames) AS BIGINT) AS n_frames,
         |  CAST(COUNT(*) AS BIGINT) AS n_shots,
         |  CAST(MAX(shot_frames) AS BIGINT) AS longest_shot
         |FROM per GROUP BY 1 ORDER BY media_id""".stripMargin,
    // the whole mm17 pipeline from first principles: corpus (orig +
    // brightness-shifted re-encode + frame-reversed decoy), h32 pixel
    // content, per-frame ordinal dHash over the sampled grid, banded
    // candidates, aligned-Hamming verification, recursive
    // reachability, and the survivor/fingerprint report
    "mm17_video_neardup" -> {
      val h32id = graft.functions.PortableHash.sqlH32("CAST(id AS VARCHAR)")
      val pxh = graft.functions.PortableHash.sqlH32(
        "concat('v', CAST(orig AS VARCHAR), '.', CAST(fsrc AS VARCHAR), " +
          "'.', CAST(p AS VARCHAR))")
      def pos(j: Int) = s"(($j * (npix - 1)) // 64)"
      val bits = (0 until 64)
        .map(j =>
          s"(CASE WHEN px[${pos(j)} + 1] < px[${pos(j + 1)} + 1] " +
            s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH RECURSIVE planted AS (
         |  SELECT doc_id AS orig,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS nf,
         |    CAST((8 + doc_id % 3) * 8 AS BIGINT) AS npix
         |  FROM documents WHERE doc_id % 17 = 9),
         |corp AS (
         |  SELECT orig AS media_id, orig, nf, npix,
         |    0 AS shift, 0 AS rev FROM planted
         |  UNION ALL
         |  SELECT orig + 1000000000, orig, nf, npix, 4, 0 FROM planted
         |  UNION ALL
         |  SELECT orig + 2000000000, orig, nf, npix, 0, 1
         |  FROM planted WHERE orig % 2 = 1),
         |fr0 AS (SELECT media_id, orig, nf, npix, shift, rev,
         |    unnest(range(0, nf)) AS f FROM corp),
         |fr AS (SELECT media_id, orig, nf, npix, shift, f,
         |    CASE WHEN rev = 1 THEN nf - 1 - f ELSE f END AS fsrc
         |  FROM fr0),
         |pxl AS (SELECT media_id, nf, npix, f,
         |    list_transform(range(0, npix),
         |      p -> (($pxh) + shift) % 256) AS px
         |  FROM fr),
         |fh AS (SELECT media_id, nf, f, $bits AS fhash FROM pxl),
         |bd AS (SELECT media_id, f, t.b,
         |    (fhash >> (16 * t.b)) & 65535 AS bkey
         |  FROM fh, (VALUES (0), (1), (2), (3)) t(b)),
         |cand AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
         |  FROM bd x JOIN bd y ON x.f = y.f AND x.b = y.b
         |    AND x.bkey = y.bkey AND x.media_id < y.media_id),
         |ham AS (SELECT c.id_a, c.id_b,
         |    CAST(SUM(bit_count(xor(x.fhash, y.fhash))) AS BIGINT) AS th
         |  FROM cand c
         |  JOIN fh x ON x.media_id = c.id_a
         |  JOIN fh y ON y.media_id = c.id_b AND y.f = x.f
         |  GROUP BY 1, 2),
         |near AS (SELECT h.id_a, h.id_b FROM ham h
         |  JOIN corp a ON a.media_id = h.id_a
         |  JOIN corp b ON b.media_id = h.id_b
         |  WHERE a.nf = b.nf AND h.th <= a.nf * $VID_DUP_HAM_PER_FRAME),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM near
         |          UNION ALL SELECT id_b, id_a FROM near),
         |reach(id, lbl) AS (
         |  SELECT media_id, media_id FROM corp
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MIN(id) AS survivor_id,
         |  CAST(SUM($h32id) AS BIGINT) AS member_fp
         |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    },
    // the whole mm18 pipeline from first principles: corpus (orig +
    // clipped re-encode + one-window rotation decoy), h32 PCM
    // content, exact milli window means, staggered-grid candidates,
    // aligned sum-of-|delta| verification, reachability, report
    "mm18_audio_neardup" -> {
      val h32id = graft.functions.PortableHash.sqlH32("CAST(id AS VARCHAR)")
      val q = AUD_DUP_GRID_MILLI
      // sample value at absolute index I (a plain SQL expression —
      // lambdas admit no subqueries): rotation remaps the index, the
      // h32 content renders, clipping applies
      def samp(i: String) = {
        val isrc = s"(CASE WHEN rot = 1 THEN (($i) + 8) % ns ELSE ($i) END)"
        val base = "(" + graft.functions.PortableHash.sqlH32(
          s"concat('a', CAST(orig AS VARCHAR), '.', CAST($isrc AS VARCHAR))"
        ) + " % 256)"
        s"(CASE WHEN clip = 1 THEN LEAST($base + 2, 255) ELSE $base END)"
      }
      s"""WITH RECURSIVE planted AS (
         |  SELECT doc_id AS orig,
         |    CAST(24 + (doc_id % 5) * 8 AS BIGINT) AS ns
         |  FROM documents WHERE doc_id % 13 = 7),
         |corp AS (
         |  SELECT orig AS media_id, orig, ns, 0 AS clip, 0 AS rot
         |  FROM planted
         |  UNION ALL
         |  SELECT orig + 1000000000, orig, ns, 1, 0 FROM planted
         |  UNION ALL
         |  SELECT orig + 2000000000, orig, ns, 0, 1
         |  FROM planted WHERE orig % 2 = 1),
         |wr AS (SELECT media_id, orig, ns, clip, rot, ns // 8 AS nw,
         |    unnest(range(0, ns // 8)) AS w FROM corp),
         |wm AS (SELECT media_id, nw, w,
         |    (CAST(list_aggregate(list_transform(range(0, 8),
         |      k -> ${samp("w * 8 + k")}), 'sum') AS BIGINT) * 1000) // 8
         |      AS m
         |  FROM wr),
         |bd AS (SELECT media_id, w, t.g,
         |    CASE WHEN t.g = 0 THEN m // $q
         |      ELSE (m + ${q / 2}) // $q END AS bkey
         |  FROM wm, (VALUES (0), (1)) t(g)),
         |cand AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
         |  FROM bd x JOIN bd y ON x.w = y.w AND x.g = y.g
         |    AND x.bkey = y.bkey AND x.media_id < y.media_id),
         |dv AS (SELECT c.id_a, c.id_b,
         |    CAST(SUM(abs(x.m - y.m)) AS BIGINT) AS sd
         |  FROM cand c
         |  JOIN wm x ON x.media_id = c.id_a
         |  JOIN wm y ON y.media_id = c.id_b AND y.w = x.w
         |  GROUP BY 1, 2),
         |near AS (SELECT d.id_a, d.id_b FROM dv d
         |  JOIN corp a ON a.media_id = d.id_a
         |  JOIN corp b ON b.media_id = d.id_b
         |  WHERE a.ns = b.ns
         |    AND d.sd <= (a.ns // 8) * $AUD_DUP_SUM_PER_WINDOW),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM near
         |          UNION ALL SELECT id_b, id_a FROM near),
         |reach(id, lbl) AS (
         |  SELECT media_id, media_id FROM corp
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MIN(id) AS survivor_id,
         |  CAST(SUM($h32id) AS BIGINT) AS member_fp
         |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    }
  )
}
