package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.MultimodalOps
import graft.streaming.StreamFace
import graft.tables.Tables

/** Multimodal-column plumbing over a deterministic asset table derived from
  * `documents` (binary payload + typed metadata). Both paths are
  * oracle-checked: the Catalyst-only path (metadata, checksum via
  * binary→string round-trip, frame sampling) directly, and the stub-decoder
  * path by replaying the byte-level stats in SQL (the corpus is ASCII, so
  * DuckDB's code points are the payload bytes). */
object MultimodalQueries {
  /** The mono-audio stats oracle, ONE definition for every lossless face
    * (WAV, FLAC fixed + LPC, AIFF): all four fixtures share the text-to-
    * sample map and rate rotation, and losslessness makes the expected
    * stats identical - a shared definition keeps the faces from drifting
    * (the HtmlExtractCtes/CurateChainOracleSql stance). */
  private def MonoAudioOracleSql(format: String): String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |         list_transform(range(1, length(text) + 1),
       |           i -> (unicode(substr(text, CAST(i AS INT), 1)) - 80) * 257) AS ss,
       |         ([8000, 16000, 44100])[CAST(doc_id % 3 AS INT) + 1] AS rate
       |  FROM documents)
       |SELECT doc_id AS asset_id, '$format' AS format,
       |  CAST(rate AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
       |  CAST(len(ss) AS BIGINT) AS n_samples,
       |  CAST(len(ss) AS DOUBLE) / rate AS duration_s,
       |  CASE WHEN len(ss) = 0 THEN 0.0
       |       ELSE sqrt(CAST(list_sum(list_transform(ss, x -> x * x)) AS DOUBLE)
       |                 / len(ss)) END AS rms,
       |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0) AS INT) AS peak,
       |  CAST(COALESCE(list_sum(list_transform(range(1, len(ss)),
       |    i -> CASE WHEN (ss[i] >= 0) <> (ss[i + 1] >= 0)
       |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
       |FROM s ORDER BY asset_id""".stripMargin

  /** The clamped 3-tap truncating horizontal box blur as a DuckDB list
    * expression over columns `vs`, `w` — ONE definition for BlurPixCtes
    * and the vision capstone (mirrors
    * [[graft.ops.MultimodalOps.blurCompanionAssets]]). */
  private val BlurVsSql: String =
    """list_transform(range(0, w * h), i ->
      |      (vs[CAST((i // w) * w + greatest((i % w) - 1, 0) + 1 AS INT)]
      |       + vs[CAST(i + 1 AS INT)]
      |       + vs[CAST((i // w) * w + least((i % w) + 1, w - 1) + 1 AS INT)])
      |      // 3)""".stripMargin

  /** Oracle CTEs ending in `u(doc_id, w, h, vs, kind)`: the grayscale-PNG
    * pixel tiling plus the horizontally box-blurred companion corpus
    * (mirrors [[graft.ops.MultimodalOps.blurCompanionAssets]] — clamped
    * 3-tap truncating row means at doc_id + 1e6). ONE definition shared by
    * `mm_image_blur` and `mm_image_filter`, so the blur arithmetic cannot
    * drift between the faces. */
  private val BlurPixCtes: String = {
    def px(idx: String) =
      s"""(CASE WHEN length(text) = 0 THEN 0
         |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
         | END)""".stripMargin.replace("\n", "")
    s"""a AS (
       |  SELECT doc_id, text,
       |         CAST(doc_id % 9 + 1 AS INT) AS w,
       |         CAST(doc_id % 7 + 1 AS INT) AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, w, h,
       |         list_transform(range(0, w * h), i -> ${px("i")}) AS vs
       |  FROM a),
       |u AS (
       |  SELECT doc_id, w, h, vs, 'orig' AS kind FROM c
       |  UNION ALL
       |  SELECT doc_id + 1000000, w, h,
       |    $BlurVsSql AS vs,
       |    'blur' AS kind FROM c)""".stripMargin
  }

  /** Laplacian-list CTE `l` over [[BlurPixCtes]]'s `u` — the 4-neighbor
    * interior fold both image-quality faces aggregate. Carries the columns
    * in `extra` through. */
  private def lapCte(extra: String, src: String = "u"): String =
    s"""l AS (
       |  SELECT doc_id$extra,
       |    list_filter(list_transform(range(0, w * h), i ->
       |      CASE WHEN i // w >= 1 AND i // w <= h - 2
       |            AND i % w >= 1 AND i % w <= w - 2
       |        THEN 4 * vs[CAST(i + 1 AS INT)] - vs[CAST(i + 1 - w AS INT)]
       |             - vs[CAST(i + 1 + w AS INT)] - vs[CAST(i AS INT)]
       |             - vs[CAST(i + 2 AS INT)]
       |        ELSE NULL END), x -> x IS NOT NULL) AS lap
       |  FROM $src)""".stripMargin

  import OracleText.FINGERPRINT

  /** The samples-from-text → fixed-point DFT → integer mel-fold CTE chain,
    * ending in `me(asset_id, f, m, men)` — ONE definition shared by the
    * mel / MFCC / VAD oracles so the replayed arithmetic cannot drift
    * between the audio-feature faces (the MonoAudioOracleSql stance). */
  private def melCtesFrom(sBody: String): String = {
    import graft.ops.MultimodalOps.{AudioFpBands, AudioFpCos, AudioFpFrame,
      AudioFpSin, MelBins, MelShift, MelWeights}
    val trigRows = (for {
      k <- 0 until AudioFpBands; n <- 0 until AudioFpFrame
    } yield s"(${k + 1},$n,${AudioFpCos(k)(n)},${AudioFpSin(k)(n)})").mkString(",")
    val melRows = (for { m <- 0 until MelBins; k <- 0 until AudioFpBands }
      yield s"(${m + 1},${k + 1},${MelWeights(m)(k)})").mkString(",")
    s"""s AS ($sBody),
       |tg(k, n, c, sn) AS (SELECT * FROM (VALUES $trigRows) t(k, n, c, sn)),
       |mw(m, k, w) AS (SELECT * FROM (VALUES $melRows) t(m, k, w)),
       |fr AS (SELECT asset_id, ss,
       |         CAST(unnest(range(0, len(ss) // $AudioFpFrame)) AS INT) AS f
       |       FROM s),
       |be AS (SELECT a.asset_id, a.f, t.k,
       |         SUM(a.ss[CAST(a.f * $AudioFpFrame + t.n + 1 AS INT)] * t.c) AS re,
       |         SUM(a.ss[CAST(a.f * $AudioFpFrame + t.n + 1 AS INT)] * t.sn) AS im
       |       FROM fr a, tg t GROUP BY 1, 2, 3),
       |ep AS (SELECT asset_id, f, k,
       |         (CAST(re AS BIGINT) * re + CAST(im AS BIGINT) * im)
       |           >> $MelShift AS es
       |       FROM be),
       |me AS (SELECT e.asset_id, e.f, w.m, CAST(SUM(w.w * e.es) AS BIGINT) AS men
       |       FROM ep e JOIN mw w USING (k) GROUP BY 1, 2, 3)""".stripMargin
  }

  /** The standard samples-from-text source (every WAV-fixture face). */
  private lazy val MelCtes: String = melCtesFrom(
    s"""SELECT doc_id AS asset_id,
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST((unicode(substr(text, CAST(i AS INT), 1)) - 80) * 257
       |           AS BIGINT)) AS ss
       |  FROM documents""".stripMargin)

  /** The VAD fixture's source: the same sample map truncated to whole
    * frames, with 2 silence frames after every `3 + doc_id % 3` content
    * frames (MultimodalOps.vadAssetsFromDocuments replayed with list
    * slicing — block boundaries are frame-aligned by construction). */
  private lazy val VadMelCtes: String = {
    import graft.ops.MultimodalOps.AudioFpFrame
    melCtesFrom(
      s"""SELECT doc_id AS asset_id,
         |    flatten(list_transform(range(0, (nf0 + per - 1) // per),
         |      b -> list_concat(
         |        content[CAST(b * per * $AudioFpFrame + 1 AS INT) :
         |                CAST(least((b + 1) * per * $AudioFpFrame,
         |                     nf0 * $AudioFpFrame) AS INT)],
         |        list_transform(range(0, ${2 * AudioFpFrame}),
         |          x -> CAST(0 AS BIGINT))))) AS ss
         |  FROM (SELECT doc_id,
         |          ss0[1 : CAST((len(ss0) // $AudioFpFrame) * $AudioFpFrame
         |                  AS INT)] AS content,
         |          len(ss0) // $AudioFpFrame AS nf0,
         |          3 + doc_id % 3 AS per
         |        FROM (SELECT doc_id,
         |                list_transform(range(1, length(text) + 1),
         |                  i -> CAST((unicode(substr(text, CAST(i AS INT), 1))
         |                       - 80) * 257 AS BIGINT)) AS ss0
         |              FROM documents))""".stripMargin)
  }

  /** CTE chain `lt/dw/mt/lg/mf/pv` over [[MelCtes]]'s `me`, ending in
    * `pv(asset_id, f, c0..c3)` — the per-frame MFCC coefficients. ONE
    * definition shared by `mm_audio_mfcc` and `mm_audio_deltas` so the
    * delta face differentiates exactly the replayed coefficients. */
  private lazy val MfccPvCtes: String = {
    import graft.ops.MultimodalOps.{DctWeights, LogScale, LogTable, MelBins}
    val logRows = LogTable.zipWithIndex
      .map { case (v, i) => s"($i,$v)" }.mkString(",")
    val dctRows = (for { c <- 0 until MelBins; m <- 0 until MelBins }
      yield s"($c,${m + 1},${DctWeights(c)(m)})").mkString(",")
    val sums = (0 until MelBins).map(c =>
      s"CAST(SUM(CASE WHEN c = $c THEN mfc END) AS BIGINT) AS c$c")
      .mkString(", ")
    s"""lt(i, v) AS (SELECT * FROM (VALUES $logRows) t(i, v)),
       |dw(c, m, w) AS (SELECT * FROM (VALUES $dctRows) t(c, m, w)),
       |mt AS (SELECT asset_id, f, m, men,
       |         CASE WHEN men <= 0 THEN 0
       |              ELSE length(bin(men)) - 1 END AS ip,
       |         CASE WHEN men <= 0 THEN 0
       |              WHEN length(bin(men)) - 1 >= 6
       |                THEN (men >> (length(bin(men)) - 1 - 6)) & 63
       |              ELSE (men << (6 - (length(bin(men)) - 1))) & 63 END AS mant
       |       FROM me),
       |lg AS (SELECT t.asset_id, t.f, t.m,
       |         CASE WHEN t.men <= 0 THEN 0
       |              ELSE t.ip * $LogScale + lt.v END AS lg
       |       FROM mt t JOIN lt ON lt.i = t.mant),
       |mf AS (SELECT l.asset_id, l.f, d.c, CAST(SUM(d.w * l.lg) AS BIGINT) AS mfc
       |       FROM lg l JOIN dw d ON d.m = l.m GROUP BY 1, 2, 3),
       |pv AS (SELECT asset_id, f, $sums FROM mf GROUP BY 1, 2)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Binary column round-trip + periodic frame sampling, pure expressions:
    // the payload is only touched in the projected expression, never decoded
    // by a UDF. frame_codes joined to a string (array compare portability).
    QueryDef.withOracle("mm_frames",
      s"""SELECT doc_id AS asset_id,
         |  (['audio','image','video'])[CAST(doc_id % 3 AS INT) + 1] AS format,
         |  octet_length(encode(text)) AS n_bytes,
         |  $FINGERPRINT AS checksum,
         |  array_to_string(list_transform(
         |    range(0, CAST(least(floor((length(text) - 1) / 64) + 1, 8) AS BIGINT)),
         |    i -> CAST(unicode(substr(text, CAST(i * 64 + 1 AS INT), 1)) AS VARCHAR)),
         |    ',') AS frame_codes
         |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      // repartition: benchmark input is one parquet row group = one task,
      // and the checksum is real per-row hash compute
      MultimodalOps.sampleFrames(
        MultimodalOps.assetsFromDocuments(
          Tables(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)),
        stride = 64, maxFrames = 8)
        .orderBy("asset_id")
    },

    // Stub-decoder feature extraction (mapPartitions batch iteration — the
    // real-codec plumbing). The fake decode is deterministic byte math, and
    // the corpus is pure ASCII, so the oracle recomputes the same stats from
    // code points. Histogram joined to a string (array compare portability).
    QueryDef.withOracle("mm_decode",
      """WITH codes AS (
        |  SELECT doc_id, list_transform(range(1, length(text) + 1),
        |           i -> unicode(substr(text, CAST(i AS INT), 1))) AS cs
        |  FROM documents)
        |SELECT doc_id AS asset_id,
        |  (['audio','image','video'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(len(cs) AS BIGINT) AS n_bytes,
        |  CASE WHEN len(cs) = 0 THEN 0.0
        |       ELSE CAST(list_sum(cs) AS DOUBLE) / len(cs) END AS mean_byte,
        |  array_to_string(list_transform(range(0, 16),
        |    b -> CAST(len(list_filter(cs, c -> c // 16 = b)) AS VARCHAR)), ',') AS byte_hist
        |FROM codes ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.assetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // Stub-resize (every 2nd byte, dims halved with ceiling) fused with
    // feature extraction in one typed pass; the oracle replays the byte
    // decimation over the ASCII corpus's code points. The resized binary
    // never leaves the task — only metadata and stats of the resized
    // payload are emitted.
    QueryDef.withOracle("mm_resize",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST((doc_id % 640) + 1 AS INT) AS w,
        |         CAST((doc_id % 480) + 1 AS INT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |         list_transform(
        |           range(0, CAST(floor((length(text) - 1) / 2) + 1 AS BIGINT)),
        |           i -> CAST(unicode(substr(text, CAST(2 * i + 1 AS INT), 1)) AS BIGINT)) AS cs
        |  FROM a)
        |SELECT doc_id AS asset_id,
        |  (['audio','image','video'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST((w + 1) // 2 AS INT) AS dst_w,
        |  CAST((h + 1) // 2 AS INT) AS dst_h,
        |  CAST(len(cs) AS BIGINT) AS n_bytes,
        |  CASE WHEN len(cs) = 0 THEN 0.0
        |       ELSE CAST(list_sum(cs) AS DOUBLE) / len(cs) END AS mean_byte
        |FROM r ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.resizeFeatures(
        MultimodalOps.assetsFromDocuments(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .select(col("asset_id"), col("format"),
          col("width").as("dst_w"), col("height").as("dst_h"),
          col("n_bytes"), col("mean_byte"))
        .orderBy("asset_id")
    },

    // REAL byte decoding: each doc becomes a genuine 24bpp BMP (header,
    // bottom-up BGR rows, 4-byte padding) whose pixels are the text bytes
    // tiled over a (doc_id-derived) w×h grid; BmpCodec PARSES the actual
    // layout back. The oracle recomputes the decoded-pixel stats from the
    // text + tiling arithmetic alone — a header/offset/row-order/padding
    // bug in either codec direction breaks the match.
    QueryDef.withOracle("mm_decode_bmp",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 8 + 1 AS INT) AS w,
        |         CAST(doc_id % 6 + 1 AS INT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, list_transform(range(0, w * h * 3),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST(i % length(text) + 1 AS INT), 1)) END) AS cs
        |  FROM a)
        |SELECT doc_id AS asset_id, 'bmp' AS format,
        |  CAST(len(cs) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(cs) AS DOUBLE) / len(cs) AS mean_byte,
        |  array_to_string(list_transform(range(0, 16),
        |    b -> CAST(len(list_filter(cs, x -> x // 16 = b)) AS VARCHAR)), ',') AS byte_hist
        |FROM c ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.bmpAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // ViT-style PATCH extraction (MultimodalOps.imagePatches): the decoded
    // w×h grid splits into non-overlapping 2×2 tiles (floor grid, standard
    // crop-to-multiple), one row per tile with its flattened row-major RGB
    // values — the map-side reshape a patch-embedding layer consumes; the
    // full image never leaves the task. The oracle replays every patch
    // byte from the text tiling arithmetic alone (k → (dy, dx, c) →
    // source byte index), so a decode, tiling, or ordering bug anywhere
    // breaks the match.
    QueryDef.withOracle("mm_patches",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 8 + 1 AS INT) AS w,
        |         CAST(doc_id % 6 + 1 AS INT) AS h
        |  FROM documents),
        |p1 AS (SELECT doc_id, text, w, h, unnest(range(0, h // 2)) AS py FROM a),
        |p2 AS (SELECT doc_id, text, w, h, py, unnest(range(0, w // 2)) AS px FROM p1),
        |v AS (
        |  SELECT doc_id, py, px,
        |    list_transform(range(0, 12), k ->
        |      CASE WHEN length(text) = 0 THEN 0
        |           ELSE unicode(substr(text,
        |                  CAST((((py * 2 + k // 6) * w + (px * 2 + (k % 6) // 3)) * 3
        |                        + k % 3) % length(text) + 1 AS INT), 1)) END) AS vals
        |  FROM p2)
        |SELECT doc_id AS asset_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
        |  array_to_string(vals, ',') AS patch_csv,
        |  CAST(list_sum(vals) AS DOUBLE) / 12 AS mean_byte
        |FROM v ORDER BY asset_id, py, px""".stripMargin) { (s, dir) =>
      MultimodalOps.imagePatches(
          MultimodalOps.bmpAssetsFromDocuments(Tables(s, dir, "documents")),
          patch = 2)
        .toDF()
        .select(col("asset_id"), col("py"), col("px"),
          concat_ws(",", col("patch")).as("patch_csv"), col("mean_byte"))
        .orderBy("asset_id", "py", "px")
    },

    // ViT patches THROUGH the compressed format: the same tiling contract
    // as mm_patches, but each asset is a real color PNG (truecolor even
    // ids / palette odd ids — see mm_decode_png_rgb), so every patch byte
    // rides the chunk-walk + inflate + unfilter (+ PLTE expansion) path
    // before tiling. Decode and tiling stay fused in one typed pass.
    QueryDef.withOracle("mm_patches_png", {
      val J = "CASE WHEN length(text) = 0 THEN 0 ELSE unicode(substr(text, " +
        "CAST(((py * 2 + k // 6) * w + (px * 2 + (k % 6) // 3)) " +
        "% length(text) + 1 AS INT), 1)) END"
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |p1 AS (SELECT doc_id, text, w, h, unnest(range(0, h // 2)) AS py FROM a),
         |p2 AS (SELECT doc_id, text, w, h, py, unnest(range(0, w // 2)) AS px FROM p1),
         |v AS (
         |  SELECT doc_id, py, px,
         |    list_transform(range(0, 12), k ->
         |      CASE WHEN length(text) = 0 THEN 0
         |           WHEN doc_id % 2 = 0 THEN
         |             unicode(substr(text,
         |               CAST((((py * 2 + k // 6) * w + (px * 2 + (k % 6) // 3)) * 3
         |                     + k % 3) % length(text) + 1 AS INT), 1))
         |           ELSE CASE k % 3 WHEN 0 THEN $J
         |                           WHEN 1 THEN (7 * ($J)) % 256
         |                           ELSE (13 * ($J)) % 256 END
         |      END) AS vals
         |  FROM p2)
         |SELECT doc_id AS asset_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
         |  array_to_string(vals, ',') AS patch_csv,
         |  CAST(list_sum(vals) AS DOUBLE) / 12 AS mean_byte
         |FROM v ORDER BY asset_id, py, px""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.imagePatches(
          MultimodalOps.pngColorAssetsFromDocuments(Tables(s, dir, "documents")),
          patch = 2)
        .toDF()
        .select(col("asset_id"), col("py"), col("px"),
          concat_ws(",", col("patch")).as("patch_csv"), col("mean_byte"))
        .orderBy("asset_id", "py", "px")
    },

    // REAL compressed-format decoding: each doc becomes a genuine
    // grayscale-8 PNG — CRC'd chunk walk, two IDAT chunks, DEFLATE'd
    // scanlines, and a per-row filter type cycling through all five spec
    // filters by doc_id, so the corpus itself drives every unfilter branch.
    // The compression round-trip is lossless, so the oracle recomputes the
    // decoded-pixel stats from the text + tiling arithmetic alone — a
    // signature/CRC/inflate/filter-reversal bug anywhere in the codec
    // breaks the match.
    QueryDef.withOracle("mm_decode_png",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 9 + 1 AS INT) AS w,
        |         CAST(doc_id % 7 + 1 AS INT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST(i % length(text) + 1 AS INT), 1)) END) AS cs
        |  FROM a)
        |SELECT doc_id AS asset_id, 'png' AS format,
        |  CAST(len(cs) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(cs) AS DOUBLE) / len(cs) AS mean_byte,
        |  array_to_string(list_transform(range(0, 16),
        |    b -> CAST(len(list_filter(cs, x -> x // 16 = b)) AS VARCHAR)), ',') AS byte_hist
        |FROM c ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // 16-BIT grayscale PNG (the scientific-imaging shape) with Adam7
    // interlacing on odd ids: big-endian sample pairs where BOTH bytes
    // carry signal, filters cycling all five types over bpp=2 offsets,
    // and the seven-pass de-interlace scatter. Lossless, so the oracle
    // recomputes the stats from the tiling alone — and the output is
    // POSITION-SENSITIVE (head samples + Σ v(i)·(i+1) checksum), so a
    // de-interlace that permutes pixels without changing the mean still
    // breaks the match.
    QueryDef.withOracle("mm_decode_png16", {
      def c(idx: String) =
        s"""(CASE WHEN length(text) = 0 THEN 0
           |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
           | END)""".stripMargin.replace("\n", "")
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, w * h),
         |           i -> ${c("i")} * 256 + ${c("i + 1")}) AS vs
         |  FROM a)
         |SELECT doc_id AS asset_id, 'png' AS format,
         |  CAST(len(vs) AS BIGINT) AS n_px,
         |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
         |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM c ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeGray16Features(
        MultimodalOps.png16AssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // 16-BIT TRUECOLOR PNG (color type 2, depth 16 — the last PNG depth
    // face): big-endian channel pairs, filters over bpp = 6 scanlines
    // (the widest "left" offset the spec defines), odd ids Adam7. The
    // lossless round-trip lets the oracle recompute decoded samples from
    // the text tiling alone, position-sensitively (head + wsum) — a
    // filter-offset, byte-order or interlace-scatter bug all break it.
    QueryDef.withOracle("mm_decode_png16_rgb", {
      def c(idx: String) =
        s"""(CASE WHEN length(text) = 0 THEN 0
           |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
           | END)""".stripMargin.replace("\n", "")
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, w * h * 3),
         |           i -> ${c("i")} * 256 + ${c("i + 1")}) AS vs
         |  FROM a)
         |SELECT doc_id AS asset_id, 'png' AS format,
         |  CAST(len(vs) AS BIGINT) AS n_px,
         |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
         |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM c ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeRgb16Features(
        MultimodalOps.png16RgbAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // STREAMING MULTIMODAL INGEST (r14): the shape a production asset
    // pipeline actually runs — assets LAND continuously (file source,
    // two batches), and feature extraction is a STATELESS typed map over
    // the stream: no shuffle, no watermark, no state store; exactly-once
    // comes from the file-source + checkpoint contract alone. Two
    // AvailableNow drains over one checkpoint: the second batch must not
    // re-emit the first batch's assets (a replay or a missed file changes
    // the row count / values against the all-docs oracle). Decode is the
    // REAL PNG chain; the oracle recomputes every doc's positional stats
    // from the lossless text tiling.
    QueryDef.withOracle("mm_stream_decode", {
      val J = "CASE WHEN length(text) = 0 THEN 0 ELSE unicode(substr(text, " +
        "CAST(i % length(text) + 1 AS INT), 1)) END"
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, w * h), i -> $J) AS vs
         |  FROM a)
         |SELECT doc_id AS asset_id, 'png' AS format,
         |  CAST(len(vs) AS BIGINT) AS n_px,
         |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
         |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM c ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      val assets = MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents"))
        .localCheckpoint(false) // encode once; both batch writes read it
      val assetSchema = assets.schema
      val feeds = Seq(0, 1).map(r => (stage: String) =>
        assets.filter(col("asset_id") % 2 === r).write.mode("append").parquet(stage))
      val out = StreamFace.toParquet(s, feeds) { (fs, stage) =>
        MultimodalOps.pngPositionalFeatures(
          fs.readStream.schema(assetSchema).parquet(stage).toDF())
      }
      s.read.parquet(out)
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // REAL COLOR decoding: even docs become truecolor RGB8 PNGs (color
    // type 2 — what real corpora carry), odd docs PALETTE PNGs (color type
    // 3, indices through a fixed 256-entry PLTE with entry j =
    // (j, 7j mod 256, 13j mod 256)); filter types still cycle through all
    // five by id, now over bpp=3 scanlines for truecolor. The round-trip
    // is lossless, so the oracle recomputes the decoded RGB stats from
    // text + tiling + palette arithmetic alone — a bpp-offset unfilter
    // bug, a PLTE parse bug, or an index-expansion bug breaks the match.
    QueryDef.withOracle("mm_decode_png_rgb", {
      val J = "CASE WHEN length(text) = 0 THEN 0 ELSE unicode(substr(text, " +
        "CAST(i % length(text) + 1 AS INT), 1)) END"
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      list_transform(range(0, w * h * 3), i -> $J)
         |    ELSE
         |      flatten(list_transform(range(0, w * h), i ->
         |        list_transform(range(0, 3), ch ->
         |          CASE WHEN ch = 0 THEN $J
         |               WHEN ch = 1 THEN (7 * ($J)) % 256
         |               ELSE (13 * ($J)) % 256 END)))
         |    END AS cs
         |  FROM a)
         |SELECT doc_id AS asset_id, 'png' AS format,
         |  CAST(len(cs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(cs) AS DOUBLE) / len(cs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(cs, x -> x // 16 = b)) AS VARCHAR)), ',') AS byte_hist
         |FROM c ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.pngColorAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // REAL nearest-neighbor resize on the decoded pixel grid (dst(x,y) =
    // src(2x, 2y), dims ceil-halved), fused with stats of the RESIZED
    // pixels. The oracle replays the sampling indices over the tiled text
    // bytes — wrong stride arithmetic, a BGR/RGB swap that survives
    // averaging by luck, or an off-by-one on the grid breaks the match.
    QueryDef.withOracle("mm_resize_bmp",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 8 + 1 AS INT) AS w,
        |         CAST(doc_id % 6 + 1 AS INT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |         (w + 1) // 2 AS dw, (h + 1) // 2 AS dh,
        |         flatten(flatten(
        |           list_transform(range(0, (h + 1) // 2), y ->
        |             list_transform(range(0, (w + 1) // 2), x ->
        |               list_transform(range(0, 3), ch ->
        |                 CASE WHEN length(text) = 0 THEN 0
        |                      ELSE unicode(substr(text,
        |                        CAST((((2 * y) * w + 2 * x) * 3 + ch)
        |                               % length(text) + 1 AS INT), 1)) END))))) AS rs
        |  FROM a)
        |SELECT doc_id AS asset_id, 'bmp' AS format,
        |  CAST(dw AS INT) AS dst_w, CAST(dh AS INT) AS dst_h,
        |  CAST(len(rs) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(rs) AS DOUBLE) / len(rs) AS mean_byte
        |FROM r ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.resizeFeatures(
        MultimodalOps.bmpAssetsFromDocuments(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .select(col("asset_id"), col("format"),
          col("width").as("dst_w"), col("height").as("dst_h"),
          col("n_bytes"), col("mean_byte"))
        .orderBy("asset_id")
    },

    // REAL resize through the COMPRESSED format: decode (chunk walk + CRC
    // + inflate + unfilter), nearest-neighbor sample the grayscale plane,
    // stats of the resized pixels. The oracle replays the sampling indices
    // over the tiled text bytes — the whole codec path has to be lossless
    // for the match to hold.
    QueryDef.withOracle("mm_resize_png",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 9 + 1 AS INT) AS w,
        |         CAST(doc_id % 7 + 1 AS INT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |         (w + 1) // 2 AS dw, (h + 1) // 2 AS dh,
        |         flatten(
        |           list_transform(range(0, (h + 1) // 2), y ->
        |             list_transform(range(0, (w + 1) // 2), x ->
        |               CASE WHEN length(text) = 0 THEN 0
        |                    ELSE unicode(substr(text,
        |                      CAST(((2 * y) * w + 2 * x)
        |                             % length(text) + 1 AS INT), 1)) END))) AS rs
        |  FROM a)
        |SELECT doc_id AS asset_id, 'png' AS format,
        |  CAST(dw AS INT) AS dst_w, CAST(dh AS INT) AS dst_h,
        |  CAST(len(rs) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(rs) AS DOUBLE) / len(rs) AS mean_byte
        |FROM r ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.resizeFeatures(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .select(col("asset_id"), col("format"),
          col("width").as("dst_w"), col("height").as("dst_h"),
          col("n_bytes"), col("mean_byte"))
        .orderBy("asset_id")
    },

    // REAL audio decoding: each doc becomes a genuine RIFF/WAVE 16-bit PCM
    // mono file (canonical header; every 5th asset carries a JUNK metadata
    // chunk so the corpus itself exercises the chunk walk), samples are an
    // affine map of the text bytes; WavCodec PARSES the actual layout back
    // and extracts the signal stats a curation pipeline filters on. The
    // oracle recomputes RMS / peak / zero-crossings from the text + the
    // sample map alone — a header-offset, endianness, chunk-padding or
    // sign-handling bug in either codec direction breaks the hash.
    QueryDef.withOracle("mm_decode_wav",
      MonoAudioOracleSql("wav")) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // REAL baseline-TIFF decoding (r15 — the scientific-imaging container):
    // per doc one grayscale TIFF through the full layout — byte-order
    // header, IFD walk (with a planted external Software tag to skip),
    // multi-strip data, PackBits with per-row restart (every 3rd doc's
    // pixels run in 4s to exercise RLE; every 4th asset is uncompressed).
    // Position-sensitive oracle like mm_decode_png16: head bytes and the
    // index-weighted sum break on any strip-offset/PackBits/IFD slip even
    // when the mean survives.
    QueryDef.withOracle("mm_decode_tiff",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 13 + 1 AS INT) AS w,
        |         CAST(doc_id % 5 + 2 AS INT) AS h
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text, CAST(
        |                       CASE WHEN doc_id % 3 = 0 THEN (i // 4) % length(text)
        |                            ELSE i % length(text) END + 1 AS INT), 1)) END) AS vs
        |  FROM a)
        |SELECT doc_id AS asset_id, 'tiff' AS format,
        |  CAST(len(vs) AS BIGINT) AS n_px,
        |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
        |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
        |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
        |       AS BIGINT) AS wsum
        |FROM v ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.tiffPositionalFeatures(
        MultimodalOps.tiffAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // MULTI-PAGE TIFF (r15): the scanned-document shape — one IFD per
    // page chained through next-IFD pointers, each page its own strips.
    // One row per page in CHAIN order; the oracle recomputes every page
    // from the text tiling (offset 11·f), so a chain-walk bug (wrong next
    // pointer, skipped page, strips crossing pages) breaks page_idx /
    // head / wsum directly.
    QueryDef.withOracle("mm_tiff_pages",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 7 + 2 AS INT) AS w,
        |         CAST(doc_id % 4 + 2 AS INT) AS h,
        |         CAST(2 + doc_id % 3 AS INT) AS nf
        |  FROM documents),
        |pf AS (SELECT a.*, CAST(f.f AS INT) AS f
        |       FROM a, range(4) f(f) WHERE f.f < nf),
        |v AS (
        |  SELECT doc_id, f, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST((11 * f + i) % length(text) + 1 AS INT), 1)) END) AS vs
        |  FROM pf)
        |SELECT doc_id AS asset_id, CAST(f AS INT) AS page_idx,
        |  CAST(len(vs) AS BIGINT) AS n_px,
        |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
        |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
        |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
        |       AS BIGINT) AS wsum
        |FROM v ORDER BY asset_id, page_idx""".stripMargin) { (s, dir) =>
      MultimodalOps.tiffPageFeatures(
        MultimodalOps.tiffPageAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("page_idx"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id", "page_idx")
    },

    // REAL FLAC decoding (r15 — the lossless-compression audio face):
    // each doc becomes a genuine FLAC stream (STREAMINFO, CRC-8-guarded
    // fixed-blocksize frame headers, constant/fixed-predictor subframes
    // with Rice-coded residuals incl. the escape, CRC-16 frame footers;
    // every 5th asset carries a PADDING metadata block so the corpus
    // exercises the metadata walk). The signal is the SAME text→sample
    // map as mm_decode_wav, and FLAC is lossless — so the oracle replays
    // identical stats from the text alone: ANY coding slip (predictor
    // polynomial, Rice zigzag, CRC, warm-up handling, UTF-8 frame number)
    // changes decoded samples and breaks rms/peak/zc exactly.
    QueryDef.withOracle("mm_decode_flac",
      MonoAudioOracleSql("flac")) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.flacAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // STEREO FLAC (r15): the spec's inter-channel decorrelation — frames
    // CYCLE independent / left-side / side-right / mid-side (blockSize 64
    // ⇒ every corpus doc exercises all four), SIDE subframes carry the
    // 17-bit widened samples, mid floors (L+R)/2 with the side's low bit
    // restoring the unit. R is L shifted 3 chars, so decorrelation
    // genuinely compresses. Lossless ⇒ the oracle replays interleaved
    // rms/peak/zero-crossings from the text; any decorrelation or width
    // slip lands directly in the values.
    QueryDef.withOracle("mm_decode_flac_stereo",
      """WITH s AS (
        |  SELECT doc_id,
        |         flatten(list_transform(range(1, length(text) + 1), i ->
        |           [(unicode(substr(text, CAST(i AS INT), 1)) - 80) * 257,
        |            (unicode(substr(text,
        |               CAST((i + 2) % length(text) + 1 AS INT), 1)) - 80) * 257]))
        |           AS ss,
        |         ([8000, 16000, 44100])[CAST(doc_id % 3 AS INT) + 1] AS rate
        |  FROM documents)
        |SELECT doc_id AS asset_id, 'flac' AS format,
        |  CAST(rate AS INT) AS sample_rate, CAST(2 AS INT) AS channels,
        |  CAST(len(ss) AS BIGINT) AS n_samples,
        |  CAST(len(ss) // 2 AS DOUBLE) / rate AS duration_s,
        |  CASE WHEN len(ss) = 0 THEN 0.0
        |       ELSE sqrt(CAST(list_sum(list_transform(ss, x -> x * x)) AS DOUBLE)
        |                 / len(ss)) END AS rms,
        |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0) AS INT) AS peak,
        |  CAST(COALESCE(list_sum(list_transform(range(1, len(ss)),
        |    i -> CASE WHEN (ss[i] >= 0) <> (ss[i + 1] >= 0)
        |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
        |FROM s ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.flacStereoAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // LPC-FLAC (the subframe type real encoders actually emit on real
    // audio): Levinson-Durbin coefficients quantized to 12-bit ints,
    // order cycling 1..8 across frames (blockSize 64 ⇒ every doc's
    // stream carries many orders), 64-bit prediction accumulator,
    // explicit shift. Same signal map as mm_decode_flac and lossless
    // REGARDLESS of coefficient quality (residuals are computed from the
    // quantized predictor), so the oracle replays identical stats from
    // the text alone.
    QueryDef.withOracle("mm_decode_flac_lpc",
      MonoAudioOracleSql("flac")) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.flacLpcAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // NETPBM (P5 grayscale / P6 RGB — the no-compression interchange
    // dump scientific pipelines still ship): even ids P5, odd ids P6,
    // every 3rd asset 16-BIT big-endian (samples c·257 — both bytes
    // carry signal), every 4th a '#' header comment the ASCII header
    // walk must skip. Uncompressed ⇒ position-sensitive stats replay
    // from the text tiling alone.
    QueryDef.withOracle("mm_decode_pnm", {
      def c(idx: String) =
        s"""(CASE WHEN length(text) = 0 THEN 0
           |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
           | END)""".stripMargin.replace("\n", "")
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h,
         |         CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS ch,
         |         CASE WHEN doc_id % 3 = 0 THEN 257 ELSE 1 END AS scale
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, w * h * ch),
         |           i -> ${c("i")} * scale) AS vs
         |  FROM a)
         |SELECT doc_id AS asset_id, 'pnm' AS format,
         |  CAST(len(vs) AS BIGINT) AS n_px,
         |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
         |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM c ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.pnmPositionalFeatures(
        MultimodalOps.pnmAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // HISTOGRAM EQUALIZATION (the classic contrast augmentation, the
    // remaining sibling of resize/patches): integer CDF remap
    // (cdf(v)−cdf_min)·255/(n−cdf_min) with floor division, fused with
    // the REAL PNG decode in one typed map. The oracle rebuilds the
    // per-image CDF from the text tiling (rank-of-value counting) and
    // replays the remap pixel-for-pixel — position-sensitive stats, so a
    // CDF off-by-one or a rounding-mode slip breaks the match.
    QueryDef.withOracle("mm_hist_equalize", {
      def c(idx: String) =
        s"""(CASE WHEN length(text) = 0 THEN 0
           |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
           | END)""".stripMargin.replace("\n", "")
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 9 + 1 AS INT) AS w,
         |         CAST(doc_id % 7 + 1 AS INT) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, list_transform(range(0, w * h), i -> ${c("i")}) AS vs
         |  FROM a),
         |e AS (
         |  SELECT doc_id, len(vs) AS n,
         |    len(list_filter(vs, x -> x = list_min(vs))) AS cm,
         |    vs
         |  FROM c),
         |q AS (
         |  SELECT doc_id, n,
         |    list_transform(vs, v -> CASE WHEN n = cm THEN 0
         |      ELSE (len(list_filter(vs, x -> x <= v)) - cm) * 255 // (n - cm)
         |      END) AS eq
         |  FROM e)
         |SELECT doc_id AS asset_id, 'png' AS format,
         |  CAST(n AS BIGINT) AS n_px,
         |  CAST(list_sum(eq) AS DOUBLE) / n AS mean_val,
         |  array_to_string(list_slice(eq, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(eq) + 1), k -> eq[k] * k))
         |       AS BIGINT) AS wsum
         |FROM q ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.histEqualizeFeatures(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // BLUR DETECTION (variance of Laplacian — the standard vision-corpus
    // sharpness filter): every grayscale PNG plus a horizontally
    // box-blurred companion (re-encoded through the real PNG encoder, so
    // both codec directions stay load-bearing); the face carries the
    // exact integer Laplacian moments and ONE double division at the end.
    // The planted companions give the score its discriminative evidence:
    // the spec gates blurred ≤ original pairwise. No-interior images
    // (w < 3 or h < 3) report NULL, not a fake sharp/blurry verdict.
    QueryDef.withOracle("mm_image_blur",
      s"""WITH $BlurPixCtes,
         |${lapCte(", kind")},
         |m AS (
         |  SELECT doc_id, kind, CAST(len(lap) AS BIGINT) AS n_int,
         |    CAST(coalesce(list_sum(lap), 0) AS BIGINT) AS lap_sum,
         |    CAST(coalesce(list_sum(list_transform(lap, x -> x * x)), 0)
         |         AS BIGINT) AS lap_sum2
         |  FROM l)
         |SELECT doc_id AS asset_id, kind, n_int, lap_sum, lap_sum2,
         |  CASE WHEN n_int = 0 THEN NULL
         |       ELSE CAST(n_int * lap_sum2 - lap_sum * lap_sum AS DOUBLE)
         |            / (n_int * n_int) END AS sharpness
         |FROM m ORDER BY asset_id""".stripMargin
    ) { (s, dir) =>
      val assets = MultimodalOps.blurCompanionAssets(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")))
      MultimodalOps.lapSharpness(assets)
        .select(col("asset_id"),
          // classify MODULO the GenScale replica stride: a scaled corpus
          // offsets doc_ids by r*1e9, and a raw >= comparison would label
          // every replica original 'blur' (review finding)
          when(pmod(col("asset_id"), lit(MultimodalOps.DocIdStride))
              >= MultimodalOps.BlurCompanionOffset,
            lit("blur")).otherwise(lit("orig")).as("kind"),
          col("n_int"), col("lap_sum"), col("lap_sum2"), col("sharpness"))
        .orderBy("asset_id")
    },

    // COMPOSITE image-curation FILTER (the LAION-style keep/drop stage):
    // aspect-ratio gate, minimum-size gate, brightness band, sharpness
    // floor — checked in that priority order, first failing rule is the
    // recorded drop reason. EVERY rule is an integer comparison
    // (brightness as sum ≷ k·n_px, sharpness as n·ΣL² − (ΣL)² ≥ 8000·n²),
    // so the verdict chain is bit-portable with no float thresholds. The
    // blur companions make 'blurry' fire; the fixture's 1-row/1-column
    // geometries make 'aspect' and 'too_small' fire; 'keep' is the
    // majority — the spec checks every reason occurs.
    QueryDef.withOracle("mm_image_filter",
      s"""WITH $BlurPixCtes,
         |${lapCte(", w, h, CAST(w * h AS BIGINT) AS n_px, CAST(list_sum(vs) AS BIGINT) AS bright_sum")},
         |m AS (
         |  SELECT doc_id, w, h, n_px, bright_sum,
         |    CAST(len(lap) AS BIGINT) AS n_int,
         |    CAST(len(lap) * coalesce(list_sum(list_transform(lap, x -> x * x)), 0)
         |         - coalesce(list_sum(lap), 0) * coalesce(list_sum(lap), 0)
         |         AS BIGINT) AS lap_num
         |  FROM l),
         |v AS (
         |  SELECT *, CASE
         |    WHEN w > 4 * h OR h > 4 * w THEN 'aspect'
         |    WHEN w < 3 OR h < 3 THEN 'too_small'
         |    WHEN bright_sum < 90 * n_px THEN 'dark'
         |    WHEN bright_sum > 101 * n_px THEN 'bright'
         |    WHEN lap_num < 8000 * n_int * n_int THEN 'blurry'
         |    ELSE 'keep' END AS reason
         |  FROM m)
         |SELECT doc_id AS asset_id, w, h, n_px, bright_sum, n_int, lap_num,
         |       reason = 'keep' AS keep, reason
         |FROM v ORDER BY asset_id""".stripMargin
    ) { (s, dir) =>
      val assets = MultimodalOps.blurCompanionAssets(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")))
      val m = MultimodalOps.imageCurationMoments(assets)
      val reason = when(col("w") > lit(4) * col("h") ||
            col("h") > lit(4) * col("w"), "aspect")
        .when(col("w") < 3 || col("h") < 3, "too_small")
        .when(col("bright_sum") < lit(90L) * col("n_px"), "dark")
        .when(col("bright_sum") > lit(101L) * col("n_px"), "bright")
        .when(col("lap_num") < lit(8000L) * col("n_int") * col("n_int"),
          "blurry")
        .otherwise("keep")
      m.withColumn("reason", reason)
        .select(col("asset_id"), col("w"), col("h"), col("n_px"),
          col("bright_sum"), col("n_int"), col("lap_num"),
          (col("reason") === "keep").as("keep"), col("reason"))
        .orderBy("asset_id")
    },

    // FORMAT DETECTION + DISPATCH over an UNLABELED corpus (crawled blob
    // stores have no extensions or content-types — sniffing magic bytes
    // and routing to the right decoder IS a pipeline stage): one mixed
    // corpus rotating through all ELEVEN pure-JVM codec families (incl.
    // WebP-VP8L, which shares RIFF magic with WAV — the offset-8 fourcc
    // disambiguates), detected from first bytes alone, dispatched to the
    // REAL decoder, unit counts (pixels·channels / samples / bytes)
    // replayed from each family's fixture arithmetic. Unrecognized magic
    // throws — guessing corrupts downstream decode.
    QueryDef.withOracle("mm_detect_format",
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 11 AS INT)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
        |    WHEN 3 THEN 'wav' WHEN 4 THEN 'flac' WHEN 5 THEN 'tiff'
        |    WHEN 6 THEN 'jpeg' WHEN 7 THEN 'pnm' WHEN 8 THEN 'aiff'
        |    WHEN 9 THEN 'gz' ELSE 'webp' END AS detected,
        |  CASE WHEN doc_id % 11 IN (0, 1, 2, 5, 6, 7, 10) THEN 'image'
        |       WHEN doc_id % 11 IN (3, 4, 8) THEN 'audio'
        |       ELSE 'archive' END AS kind,
        |  CAST(CASE CAST(doc_id % 11 AS INT)
        |    WHEN 0 THEN (doc_id % 9 + 1) * (doc_id % 7 + 1)
        |    WHEN 1 THEN (doc_id % 11 + 1) * (doc_id % 6 + 1)
        |    WHEN 2 THEN (doc_id % 8 + 1) * (doc_id % 6 + 1) * 3
        |    WHEN 3 THEN length(text)
        |    WHEN 4 THEN length(text)
        |    WHEN 5 THEN (doc_id % 13 + 1) * (doc_id % 5 + 2)
        |    WHEN 6 THEN 8 * (doc_id % 3 + 1) * 8 * (doc_id % 2 + 1)
        |    WHEN 7 THEN (doc_id % 9 + 1) * (doc_id % 7 + 1) *
        |                (CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END)
        |    WHEN 8 THEN length(text)
        |    WHEN 9 THEN length(text)
        |    ELSE (doc_id % 10 + 2) * (doc_id % 6 + 2) END AS BIGINT)
        |    AS n_units
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.sniffDecode(
        MultimodalOps.mixedAssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    },

    // WebP-VP8L DECODE (the modern web's second image format — r16
    // verdict missing #2): real RIFF/WEBP containers decoded through the
    // from-scratch VP8L path (canonical prefix codes incl. the
    // code-length-coded form, LZ77 distance-1 runs, the multiply-shift
    // color cache, subtract-green on even docs), to position-sensitive
    // per-channel stats. The three channel laws (r = g + 64, b = 2g)
    // make a channel swap, a transform slip or a cache corruption
    // value-visible; the oracle replays everything from text + geometry
    // arithmetic alone — the DuckDB side never sees a WebP byte.
    QueryDef.withOracle("mm_decode_webp",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 14 + 4 AS INT) AS w,
        |         CAST(doc_id % 9 + 4 AS INT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, h, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST(i % length(text) + 1 AS INT), 1)) END)
        |           AS cs
        |  FROM a)
        |SELECT doc_id AS asset_id,
        |  CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(cs) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(1, w * h + 1),
        |    i -> i * cs[CAST(i AS INT)])) AS BIGINT) AS wsum_g,
        |  CAST(list_sum(cs) + 64 * w * h AS BIGINT) AS sum_r,
        |  CAST(2 * list_sum(cs) AS BIGINT) AS sum_b
        |FROM c ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.webpFeatures(
        MultimodalOps.webpAssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    },

    // MP3 HEADER-WALK audit (the honest metadata face of the perceptual
    // family — psychoacoustic decode stays behind FakeDecoder by policy,
    // but a corpus audit doesn't decode: it walks FRAME HEADERS for
    // duration/bitrate/rate distributions, pure public MPEG-1 table
    // arithmetic). Every 3rd asset sits behind an ID3v2 synchsafe-size
    // prefix; padding bits vary per frame, so the frame-length formula
    // (144·bitrate/rate + pad) is value-load-bearing byte for byte.
    QueryDef.withOracle("mm_mp3_scan",
      """WITH p AS (
        |  SELECT doc_id,
        |    ([64, 96, 128, 192, 320])[CAST(doc_id % 5 AS INT) + 1] AS kbps,
        |    ([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1] AS rate,
        |    5 + doc_id % 7 AS nf
        |  FROM documents)
        |SELECT doc_id AS asset_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(kbps AS INT) AS bitrate_kbps, CAST(rate AS INT) AS sample_rate,
        |  CAST(nf * 1152 AS BIGINT) AS n_samples,
        |  CAST(nf * 1152 AS DOUBLE) / rate AS duration_s,
        |  CAST(list_sum(list_transform(range(0, nf), f ->
        |    144 * (kbps * 1000) // rate +
        |    CASE WHEN (doc_id + f) % 3 = 0 THEN 1 ELSE 0 END)) AS BIGINT)
        |    AS frame_bytes,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 10 + 17 + doc_id % 9
        |       ELSE 0 END AS BIGINT) AS id3_bytes
        |FROM p ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.mp3Scan(
        MultimodalOps.mp3AssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    },

    // MP4 / ISO-BMFF BOX-TREE audit (real crawled video is MP4/H.264,
    // not MJPEG-AVI — the mm_mp3_scan pattern extended to the box
    // grammar): walk ftyp/moov/mvhd/trak/mdia/mdhd/hdlr/minf/stbl/stsd/
    // stts, census tracks + codecs + sample counts + duration WITHOUT
    // touching a media byte (mdat skipped by size, incl. the 64-bit
    // largesize form every 5th doc; a planted free box every 3rd; a
    // two-entry stts every 7th that a first-entry-only reader mis-sums).
    // Every output field is fixture arithmetic the oracle replays.
    QueryDef.withOracle("mm_mp4_scan",
      """SELECT doc_id AS asset_id,
        |  CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_boxes,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((doc_id % 240 + 30) * 20 AS BIGINT) AS duration,
        |  CAST((doc_id % 240 + 30) * 20 AS DOUBLE) / 600 AS duration_s,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_tracks,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1,mp4a' ELSE 'avc1' END
        |    AS codecs,
        |  CAST(doc_id % 50 + 10 + CASE WHEN doc_id % 2 = 0
        |       THEN doc_id % 80 + 20 ELSE 0 END AS BIGINT) AS n_samples,
        |  CAST(doc_id % 100 + 8 AS BIGINT) AS mdat_bytes
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.mp4Scan(
        MultimodalOps.mp4AssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    },

    // AIFF (the big-endian IFF twin of WAV, still common in scraped
    // music corpora): COMM carries the sample rate as an 80-bit IEEE 754
    // extended float (the format's one exotic field — encoded/decoded
    // exactly for integer rates), SSND holds big-endian PCM behind an
    // offset/blockSize preamble, and every 5th asset plants an odd-size
    // ANNO chunk exercising the IFF even-padding rule. Same signal map
    // as the WAV/FLAC faces ⇒ identical oracle stats from the text.
    QueryDef.withOracle("mm_decode_aiff",
      MonoAudioOracleSql("aiff")) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.aiffAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // SAMPLE-RATE CONVERSION (r14): the 16 kHz normalization every
    // speech/audio pipeline runs — integer-exact linear interpolation
    // from each clip's native rate (8k upsamples 2x, 16k is identity,
    // 44.1k downsamples ~2.76x — all three live in the corpus). The
    // oracle replays the tap positions and the truncating-division
    // interpolation sample-by-sample over the text-derived signal, with
    // position-sensitive stats — a tap-index off-by-one, a rounding-mode
    // slip, or an output-length fencepost all break the value match.
    QueryDef.withOracle("mm_audio_resample",
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |           i -> CAST((unicode(substr(text, CAST(i AS INT), 1)) - 80) * 257
        |                AS BIGINT)) AS ss,
        |         ([8000, 16000, 44100])[CAST(doc_id % 3 AS INT) + 1] AS rate
        |  FROM documents),
        |r AS (SELECT doc_id, rate, ss,
        |        CASE WHEN len(ss) = 0 THEN 0
        |             ELSE (len(ss) - 1) * 16000 // rate + 1 END AS n_out FROM s),
        |o AS (SELECT doc_id, rate, len(ss) AS n_in, n_out,
        |        list_transform(range(0, n_out), k ->
        |          CASE WHEN (k * rate) % 16000 = 0
        |               THEN ss[CAST((k * rate) // 16000 + 1 AS INT)]
        |               ELSE ss[CAST((k * rate) // 16000 + 1 AS INT)]
        |                    + ((ss[CAST((k * rate) // 16000 + 2 AS INT)]
        |                        - ss[CAST((k * rate) // 16000 + 1 AS INT)])
        |                       * ((k * rate) % 16000)) // 16000
        |          END) AS vs
        |      FROM r)
        |SELECT doc_id AS asset_id, CAST(rate AS INT) AS rate_in,
        |  CAST(16000 AS INT) AS rate_out,
        |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
        |  CASE WHEN n_out = 0 THEN 0.0
        |       ELSE CAST(list_sum(vs) AS DOUBLE) / len(vs) END AS mean_val,
        |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
        |  CAST(COALESCE(list_sum(list_transform(range(1, len(vs) + 1),
        |         k -> vs[k] * k)), 0) AS BIGINT) AS wsum
        |FROM o ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.audioResampleFeatures(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")),
        outRate = 16000)
        .toDF()
        .select(col("asset_id"), col("rate_in"), col("rate_out"),
          col("n_in"), col("n_out"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // Frame-level audio features (decode fused with 64-sample framing, one
    // ROW per analysis frame, first 4 frames per asset — the VAD /
    // loudness-normalization access pattern). The oracle slices the same
    // frames out of the reconstructed sample list; a frame-boundary
    // off-by-one or a partial-tail-frame bug breaks the match.
    QueryDef.withOracle("mm_audio_frames",
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |           i -> (unicode(substr(text, CAST(i AS INT), 1)) - 80) * 257) AS ss
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, ss,
        |         unnest(range(0, least((len(ss) + 63) // 64, 4))) AS fi
        |  FROM s),
        |g AS (
        |  SELECT doc_id, fi,
        |         ss[CAST(fi * 64 + 1 AS INT):CAST(least(fi * 64 + 64, len(ss)) AS INT)] AS fs
        |  FROM f)
        |SELECT doc_id AS asset_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(len(fs) AS INT) AS n,
        |  sqrt(CAST(list_sum(list_transform(fs, x -> x * x)) AS DOUBLE) / len(fs)) AS rms,
        |  CAST(list_max(list_transform(fs, x -> abs(x))) AS INT) AS peak
        |FROM g ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
      MultimodalOps.audioFrames(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")),
        frameSize = 64, maxFrames = 4)
        .toDF()
        .orderBy("asset_id", "frame_idx")
    },

    // MEL-FILTERBANK frame features (the speech-curation analog of the
    // image patch pipeline; r15 verdict gap #5): per 32-sample frame the
    // fixed-point DFT band powers fold through an integer-quantized
    // triangular mel filterbank (the published 2595·log10(1+f/700)
    // construction evaluated once at build time — see MultimodalOps
    // .MelWeights). Compared output: per-asset frame count, EXACT total
    // energy per mel bin, and an order-sensitive fold of the per-frame
    // argmax bin (ties to the lowest bin, both engines). The oracle
    // replays samples-from-text, the trig VALUES, the >> 20 prescale and
    // the weight join term-by-term.
    QueryDef.withOracle("mm_audio_mel", {
      import graft.ops.MultimodalOps.MelBins
      import graft.ops.TextOps.{B2, P}
      val sums = (1 to MelBins).map(m =>
        s"CAST(SUM(CASE WHEN m = $m THEN men END) AS BIGINT) AS m${m - 1}")
        .mkString(", ")
      s"""WITH $MelCtes,
         |pv AS (SELECT asset_id, f, $sums FROM me GROUP BY 1, 2),
         |tp AS (SELECT asset_id, f, m, row_number() OVER
         |         (PARTITION BY asset_id, f ORDER BY men DESC, m) AS rk
         |       FROM me),
         |ag AS (SELECT p.asset_id, CAST(count(*) AS BIGINT) AS n_frames,
         |        ${(0 until MelBins).map(m => s"CAST(SUM(p.m$m) AS BIGINT) AS sum_m$m").mkString(", ")},
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list(CAST(t.m AS BIGINT) ORDER BY p.f)),
         |          (h, x) -> (h * $B2 + x) % $P) AS top_fp
         |       FROM pv p JOIN tp t ON t.asset_id = p.asset_id AND t.f = p.f
         |         AND t.rk = 1
         |       GROUP BY 1)
         |SELECT d.doc_id AS asset_id,
         |  COALESCE(ag.n_frames, 0) AS n_frames,
         |  ${(0 until MelBins).map(m => s"COALESCE(ag.sum_m$m, 0) AS sum_m$m").mkString(", ")},
         |  COALESCE(ag.top_fp, 0) AS top_fp
         |FROM documents d LEFT JOIN ag ON ag.asset_id = d.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.TextOps.{B2, P}
      val mel = MultimodalOps.audioMel(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")))
      val agg = mel.groupBy("asset_id").agg(
        count(lit(1)).as("n_frames"),
        sum("m0").as("sum_m0"), sum("m1").as("sum_m1"),
        sum("m2").as("sum_m2"), sum("m3").as("sum_m3"),
        aggregate(
          array_sort(collect_list(struct(col("f"), col("top")))), lit(0L),
          (h, x) => pmod(h * B2 + x.getField("top"), lit(P))).as("top_fp"))
      Tables(s, dir, "documents").select(col("doc_id").as("asset_id"))
        .join(agg, Seq("asset_id"), "left")
        .select(col("asset_id"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          coalesce(col("sum_m0"), lit(0L)).as("sum_m0"),
          coalesce(col("sum_m1"), lit(0L)).as("sum_m1"),
          coalesce(col("sum_m2"), lit(0L)).as("sum_m2"),
          coalesce(col("sum_m3"), lit(0L)).as("sum_m3"),
          coalesce(col("top_fp"), lit(0L)).as("top_fp"))
        .orderBy("asset_id")
    },

    // MFCC frame features (the standard speech front-end COMPLETED): the
    // mm_audio_mel chain extended by fixed-point log compression
    // (bitlen-1 integer part + a 64-entry quantized mantissa table — no
    // transcendental rides the compared output) and an integer DCT-II
    // over the log-mel vector. Compared: per-asset frame count, EXACT
    // per-coefficient totals, and an order-sensitive fold of c1 mod P.
    // The oracle replays logfix via length(bin(x)) + shifts + the table
    // as VALUES, and the DCT as a weight join.
    // VISION CURATION CAPSTONE — the whole image-side pipeline as ONE
    // oracled plan (the pipeline_curate_web stance for the multimodal
    // family): real-PNG corpus (the pHash fixture: brightness twins planted
    // every 40th doc) plus box-blurred companions of every 7th doc →
    // decode + sharpness FILTER (variance-of-Laplacian floor drops the
    // blurred) → perceptual-hash DEDUP among the survivors (63-bit pHash,
    // Hamming ≤ 4 via exact pigeonhole banding, connected components,
    // keep-min canonical) → per-asset verdict. The planted structure makes
    // every verdict reachable: blur companions MUST be filtered, brightness
    // twins MUST dedup onto their base (pHash is brightness-invariant by
    // construction), everything else MUST survive. Stage order is the
    // production one — filter before dedup, so the pair stage never hashes
    // assets the filter already dropped.
    QueryDef.withOracle("pipeline_curate_images", {
      def px(idx: String) =
        s"""(CASE WHEN length(text) = 0 THEN 0
           |      ELSE unicode(substr(text, CAST(($idx) % length(text) + 1 AS INT), 1))
           | END)""".stripMargin.replace("\n", "")
      s"""WITH RECURSIVE geo AS (
         |  SELECT doc_id, text,
         |         CAST(doc_id % 24 + 8 AS INT) AS w,
         |         CAST(doc_id % 16 + 8 AS INT) AS h
         |  FROM documents),
         |g0 AS (SELECT doc_id, w, h,
         |         list_transform(range(0, w * h), i -> ${px("i")}) AS vs
         |       FROM geo),
         |pxg AS (
         |  SELECT doc_id, w, h, vs FROM g0
         |  UNION ALL
         |  SELECT doc_id + 10000000, w, h, list_transform(vs, v -> v + 16)
         |  FROM g0 WHERE doc_id % 40 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, w, h, $BlurVsSql
         |  FROM g0 WHERE (doc_id % 1000000000) % 7 = 0),
         |${lapCte("", "pxg")},
         |fm AS (SELECT doc_id, CAST(len(lap) AS BIGINT) AS n_int,
         |        CAST(len(lap) * coalesce(list_sum(list_transform(lap, x -> x * x)), 0)
         |             - coalesce(list_sum(lap), 0) * coalesce(list_sum(lap), 0)
         |             AS BIGINT) AS lap_num
         |       FROM l),
         |fv AS (SELECT doc_id,
         |         CASE WHEN lap_num < 8000 * n_int * n_int THEN 'blurry'
         |              ELSE 'keep' END AS freason
         |       FROM fm),
         |keptg AS (SELECT p.* FROM pxg p JOIN fv USING (doc_id)
         |          WHERE fv.freason = 'keep'),
         |${OraclePhash.gridChain("keptg", "doc_id")},
         |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM ph a, ph b WHERE a.doc_id < b.doc_id
         |          AND bit_count(xor(a.phash, b.phash)) <= 4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |walk(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
         |comp AS (SELECT id, min(label) AS component FROM walk GROUP BY id)
         |SELECT p.doc_id AS asset_id,
         |  CASE WHEN fv.freason = 'blurry' THEN 'filtered_blurry'
         |       WHEN comp.id IS NOT NULL AND comp.component != p.doc_id
         |         THEN 'dup'
         |       ELSE 'kept' END AS status,
         |  CASE WHEN fv.freason = 'blurry' THEN NULL
         |       WHEN comp.id IS NOT NULL THEN comp.component
         |       ELSE p.doc_id END AS canon
         |FROM pxg p JOIN fv USING (doc_id)
         |LEFT JOIN comp ON comp.id = p.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.DedupOps
      graft.functions.GraftFunctions.register(s)
      val base = MultimodalOps.phashAssetsFromDocuments(
        Tables(s, dir, "documents"))
      // classify modulo the replica stride (the mm_image_blur lesson): on a
      // GenScale corpus replica ids are r*1e9 + orig, and raw comparisons
      // would plant blur companions for replica 0 only
      val rid = pmod(col("asset_id"), lit(MultimodalOps.DocIdStride))
      val blurOnly = MultimodalOps.blurCompanionAssets(
          base.filter(rid % 7 === 0 &&
            rid < MultimodalOps.PhashCompanionOffset))
        .filter(pmod(col("asset_id"), lit(MultimodalOps.DocIdStride))
          >= MultimodalOps.BlurCompanionOffset)
      // pinned: the fixture is PNG-encoded per traversal and the moments /
      // hash maps are full decode passes — assets feeds the filter AND the
      // survivor hash, fv feeds the kept-filter AND the verdict join, and
      // the banding core re-references the fingerprints on both join sides
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val assets = base.unionByName(blurOnly).persist(MEMORY_AND_DISK)
      val fv = MultimodalOps.imageCurationMoments(assets)
        .select(col("asset_id"),
          when(col("lap_num") < lit(8000L) * col("n_int") * col("n_int"),
            lit("blurry")).otherwise(lit("keep")).as("freason"))
        .persist(MEMORY_AND_DISK)
      val kept = assets.join(
        fv.filter(col("freason") === "keep").select("asset_id"), "asset_id")
      val ph = MultimodalOps.imagePhash(kept)
        .select(col("asset_id").as("id"), col("phash").as("fp"))
        .persist(MEMORY_AND_DISK)
      val comp = DedupOps.connectedComponents(
        DedupOps.bandedHammingPairs(ph, bits = 63, maxHamming = 4)
          .select("id_a", "id_b"))
      fv.join(comp, fv("asset_id") === comp("id"), "left")
        .select(col("asset_id"),
          when(col("freason") === "blurry", "filtered_blurry")
            .when(col("id").isNotNull && col("component") =!= col("asset_id"),
              "dup")
            .otherwise("kept").as("status"),
          when(col("freason") === "blurry", lit(null))
            .when(col("id").isNotNull, col("component"))
            .otherwise(col("asset_id")).as("canon"))
        .orderBy("asset_id")
    },

    // DELTA / DELTA-DELTA cepstral features (the standard ASR front-end
    // finisher — trainers consume [c, Δc, ΔΔc] stacks, and the slopes are
    // what carry the phonetic transitions): 2-point Δc(t) = c(t+1) − c(t−1)
    // over interior frames, ΔΔ as the second difference over the Δ stream,
    // exact int64 on the SAME replayed coefficients as mm_audio_mfcc (one
    // shared pv chain). Gates the non-telescoping |Δ| energies (a plain ΣΔ
    // collapses to 4 endpoint terms) and order-sensitive fingerprints of
    // the Δc₁ / ΔΔc₁ streams. One row per asset straight from the typed
    // map — frames never leave the task.
    QueryDef.withOracle("mm_audio_deltas", {
      import graft.ops.TextOps.{B2, P}
      def fpOf(col: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           | list((($col % $P) + $P) % $P ORDER BY f)),
           | (h, x) -> (h * $B2 + x) % $P)""".stripMargin.replace("\n", " ")
      s"""WITH $MelCtes,
         |$MfccPvCtes,
         |dl AS (SELECT asset_id, f,
         |         lead(c0) OVER w - lag(c0) OVER w AS d0,
         |         lead(c1) OVER w - lag(c1) OVER w AS d1
         |       FROM pv WINDOW w AS (PARTITION BY asset_id ORDER BY f)),
         |dv AS (SELECT asset_id, f, d0, d1 FROM dl WHERE d1 IS NOT NULL),
         |ddl AS (SELECT asset_id, f,
         |          lead(d1) OVER w2 - lag(d1) OVER w2 AS dd1
         |        FROM dv WINDOW w2 AS (PARTITION BY asset_id ORDER BY f)),
         |ddv AS (SELECT asset_id, f, dd1 FROM ddl WHERE dd1 IS NOT NULL),
         |ad AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_d,
         |         CAST(sum(abs(d0)) AS BIGINT) AS sum_abs_d0,
         |         CAST(sum(abs(d1)) AS BIGINT) AS sum_abs_d1,
         |         ${fpOf("d1")} AS d1_fp
         |       FROM dv GROUP BY 1),
         |add2 AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_dd,
         |           ${fpOf("dd1")} AS dd1_fp
         |         FROM ddv GROUP BY 1)
         |SELECT d.doc_id AS asset_id,
         |  COALESCE(ad.n_d, 0) AS n_d, COALESCE(add2.n_dd, 0) AS n_dd,
         |  COALESCE(ad.sum_abs_d0, 0) AS sum_abs_d0,
         |  COALESCE(ad.sum_abs_d1, 0) AS sum_abs_d1,
         |  COALESCE(ad.d1_fp, 0) AS d1_fp, COALESCE(add2.dd1_fp, 0) AS dd1_fp
         |FROM documents d
         |LEFT JOIN ad ON ad.asset_id = d.doc_id
         |LEFT JOIN add2 ON add2.asset_id = d.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      val d = MultimodalOps.audioMfccDeltas(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")))
      Tables(s, dir, "documents").select(col("doc_id").as("asset_id"))
        .join(d, Seq("asset_id"), "left")
        .select(col("asset_id"),
          coalesce(col("n_d"), lit(0L)).as("n_d"),
          coalesce(col("n_dd"), lit(0L)).as("n_dd"),
          coalesce(col("sum_abs_d0"), lit(0L)).as("sum_abs_d0"),
          coalesce(col("sum_abs_d1"), lit(0L)).as("sum_abs_d1"),
          coalesce(col("d1_fp"), lit(0L)).as("d1_fp"),
          coalesce(col("dd1_fp"), lit(0L)).as("dd1_fp"))
        .orderBy("asset_id")
    },

    QueryDef.withOracle("mm_audio_mfcc", {
      import graft.ops.MultimodalOps.MelBins
      import graft.ops.TextOps.{B2, P}
      s"""WITH $MelCtes,
         |$MfccPvCtes,
         |ag AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_frames,
         |        ${(0 until MelBins).map(c => s"CAST(SUM(c$c) AS BIGINT) AS sum_c$c").mkString(", ")},
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list(((c1 % $P) + $P) % $P ORDER BY f)),
         |          (h, x) -> (h * $B2 + x) % $P) AS c1_fp
         |       FROM pv GROUP BY 1)
         |SELECT d.doc_id AS asset_id,
         |  COALESCE(ag.n_frames, 0) AS n_frames,
         |  ${(0 until MelBins).map(c => s"COALESCE(ag.sum_c$c, 0) AS sum_c$c").mkString(", ")},
         |  COALESCE(ag.c1_fp, 0) AS c1_fp
         |FROM documents d LEFT JOIN ag ON ag.asset_id = d.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      import graft.ops.TextOps.{B2, P}
      val mfcc = MultimodalOps.audioMfcc(
        MultimodalOps.wavAssetsFromDocuments(Tables(s, dir, "documents")))
      val agg = mfcc.groupBy("asset_id").agg(
        count(lit(1)).as("n_frames"),
        sum("c0").as("sum_c0"), sum("c1").as("sum_c1"),
        sum("c2").as("sum_c2"), sum("c3").as("sum_c3"),
        aggregate(
          array_sort(collect_list(struct(col("f"), col("c1")))), lit(0L),
          (h, x) => pmod(h * B2 + pmod(x.getField("c1"), lit(P)), lit(P)))
          .as("c1_fp"))
      Tables(s, dir, "documents").select(col("doc_id").as("asset_id"))
        .join(agg, Seq("asset_id"), "left")
        .select(col("asset_id"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          coalesce(col("sum_c0"), lit(0L)).as("sum_c0"),
          coalesce(col("sum_c1"), lit(0L)).as("sum_c1"),
          coalesce(col("sum_c2"), lit(0L)).as("sum_c2"),
          coalesce(col("sum_c3"), lit(0L)).as("sum_c3"),
          coalesce(col("c1_fp"), lit(0L)).as("c1_fp"))
        .orderBy("asset_id")
    },

    // Energy VAD (voice-activity detection — the speech-curation
    // segmenter): per-frame total mel energy, per-asset threshold
    // T = totalE / (2·nF) (half the mean, integer division), speech =
    // E > T, segments = maximal speech runs. The Spark side runs the
    // whole state machine in one typed map; the oracle replays it
    // relationally — threshold from the energy totals, runs via the
    // gaps-and-islands row_number trick, the ordered segment-start fold
    // in a list_reduce. Compared: frame/speech/segment counts, longest
    // run, and the start-position fingerprint.
    QueryDef.withOracle("mm_audio_vad", {
      import graft.ops.TextOps.{B2, P}
      s"""WITH $VadMelCtes,
         |fe AS (SELECT asset_id, f, CAST(SUM(men) AS BIGINT) AS e
         |       FROM me GROUP BY 1, 2),
         |tt AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS nf,
         |         CAST(SUM(e) AS BIGINT) AS te
         |       FROM fe GROUP BY 1),
         |sp AS (SELECT fe.asset_id, fe.f,
         |         fe.e > (tt.te // (2 * tt.nf)) AS speech
         |       FROM fe JOIN tt USING (asset_id)),
         |isl AS (SELECT asset_id, f,
         |          f - row_number() OVER (PARTITION BY asset_id ORDER BY f)
         |            AS grp
         |        FROM sp WHERE speech),
         |seg AS (SELECT asset_id, CAST(min(f) AS BIGINT) AS start,
         |          CAST(count(*) AS BIGINT) AS len
         |        FROM isl GROUP BY asset_id, grp),
         |ag AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_segments,
         |         CAST(SUM(len) AS BIGINT) AS n_speech,
         |         CAST(MAX(len) AS BIGINT) AS longest,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list(start + 1 ORDER BY start)),
         |           (h, x) -> (h * $B2 + x) % $P) AS starts_fp
         |       FROM seg GROUP BY 1)
         |SELECT d.doc_id AS asset_id,
         |  COALESCE(tt.nf, 0) AS n_frames,
         |  COALESCE(ag.n_speech, 0) AS n_speech,
         |  COALESCE(ag.n_segments, 0) AS n_segments,
         |  COALESCE(ag.longest, 0) AS longest,
         |  COALESCE(ag.starts_fp, 0) AS starts_fp
         |FROM documents d
         |LEFT JOIN tt ON tt.asset_id = d.doc_id
         |LEFT JOIN ag ON ag.asset_id = d.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      // audioVad is per-asset (map, not per-frame flatMap), so every doc
      // already has its row — no completion join needed
      MultimodalOps.audioVad(
        MultimodalOps.vadAssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    },

    // REAL BASELINE JPEG: each doc becomes a genuine SOF0 grayscale JPEG
    // (marker walk, Annex-K Huffman tables rebuilt FROM the stream's DHT,
    // DC DPCM, byte stuffing, zigzag) whose transform stage is the repo's
    // integer-exact DCT chain — JPEG is lossy, but the decoded pixels are
    // a DETERMINISTIC function of the source tiling, so the oracle replays
    // encode→decode arithmetic (forward DCT → quantize round → IDCT →
    // clamp) term-by-term in SQL with the same fixed-point tables. The
    // entropy layer transports coefficients exactly (proved by the
    // bitstream-vs-transform-chain spec), so a Huffman, DPCM, stuffing,
    // zigzag or marker bug in EITHER codec direction breaks this match.
    QueryDef.withOracle("mm_decode_jpeg", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      s"""WITH jya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h FROM documents),
         |jct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |jal(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |jpx AS (SELECT asset_id, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
         |          CAST((CASE WHEN length(text) = 0 THEN 0
         |                ELSE unicode(substr(text,
         |                  CAST(((bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
         |                       % length(text) + 1 AS INT), 1)) END)
         |               - 128 AS BIGINT) AS p
         |        FROM jya, range(2) bi(b), range(3) bj(b),
         |             range(8) ri(i), range(8) rj(j)
         |        WHERE bi.b < h // 8 AND bj.b < w // 8),
         |jf AS (SELECT asset_id, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM jpx JOIN jct cu ON cu.i = jpx.i
         |                JOIN jct cv ON cv.i = jpx.j
         |       GROUP BY 1, 2, 3, 4, 5),
         |jq AS (SELECT f.asset_id, bi, bj, f.u AS u, f.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM jf f JOIN jal au ON au.u = f.u JOIN jal av ON av.u = f.v),
         |jr AS (SELECT q.asset_id, bi, bj, ci.i AS i, cj.i AS j,
         |         CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |              AS BIGINT) + 128 AS s
         |       FROM jq q JOIN jal au ON au.u = q.u JOIN jal av ON av.u = q.v
         |                 JOIN jct ci ON ci.u = q.u JOIN jct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5),
         |jpc AS (SELECT asset_id,
         |          CAST(greatest(0, least(255, s)) AS BIGINT) AS px FROM jr),
         |jl AS (SELECT asset_id, list(px) AS pxs FROM jpc GROUP BY 1)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(pxs, x -> x * 16 // 256 = b))
         |              AS VARCHAR)), ',') AS byte_hist
         |FROM jl ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.jpegAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // PROGRESSIVE JPEG (SOF2): every doc carries a baseline coding AND a
    // progressive coding (successive-approximation script on even ids,
    // spectral-selection-only on odd) of the SAME pixel grid. Progressive
    // is entropy TRANSPORT over the identical quantized coefficients, so
    // the decoded pixels must be byte-identical across codings — the
    // oracle replays the baseline decode chain once per doc and expects
    // it for BOTH asset ids, with position-sensitive stats (head + a
    // Σ v(i)·(i+1) checksum): a DC-refinement slip, a band mis-assembly,
    // an EOB-run or correction-bit bug all move wsum/head.
    QueryDef.withOracle("mm_decode_jpeg_prog", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      val off = graft.ops.MultimodalOps.ProgJpegCompanionOffset
      s"""WITH pja AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h FROM documents),
         |pjt(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |pjl(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |pjx AS (SELECT asset_id, w, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
         |          CAST((CASE WHEN length(text) = 0 THEN 0
         |                ELSE unicode(substr(text,
         |                  CAST(((bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
         |                       % length(text) + 1 AS INT), 1)) END)
         |               - 128 AS BIGINT) AS p
         |        FROM pja, range(2) bi(b), range(3) bj(b),
         |             range(8) ri(i), range(8) rj(j)
         |        WHERE bi.b < h // 8 AND bj.b < w // 8),
         |pjf AS (SELECT asset_id, w, bi, bj, cu.u AS u, cv.u AS v,
         |          CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
         |        FROM pjx JOIN pjt cu ON cu.i = pjx.i
         |                 JOIN pjt cv ON cv.i = pjx.j
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |pjq AS (SELECT f.asset_id, w, bi, bj, f.u AS u, f.v AS v,
         |          (fraw * au.a * av.a + $half) // $div AS qc
         |        FROM pjf f JOIN pjl au ON au.u = f.u JOIN pjl av ON av.u = f.v),
         |pjr AS (SELECT q.asset_id, w, bi, bj, ci.i AS i, cj.i AS j,
         |          CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |               AS BIGINT) + 128 AS s
         |        FROM pjq q JOIN pjl au ON au.u = q.u JOIN pjl av ON av.u = q.v
         |                  JOIN pjt ci ON ci.u = q.u JOIN pjt cj ON cj.u = q.v
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |pjc AS (SELECT asset_id,
         |          CAST((bi * 8 + i) * w + bj * 8 + j AS BIGINT) AS pos,
         |          CAST(greatest(0, least(255, s)) AS BIGINT) AS px FROM pjr),
         |pjls AS (SELECT asset_id, list(px ORDER BY pos) AS pxs FROM pjc GROUP BY 1),
         |pjb AS (SELECT asset_id, pxs FROM pjls
         |        UNION ALL SELECT asset_id + $off, pxs FROM pjls)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_px,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_val,
         |  array_to_string(list_slice(pxs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(pxs) + 1), k -> pxs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM pjb ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeGrayFeatures(
        MultimodalOps.progressiveJpegAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // REAL COLOR JPEG: YCbCr 4:4:4, three interleaved full-resolution
    // components through the same Huffman/DPCM/stuffing machinery, integer
    // JFIF color matrices on both sides. The oracle replays the WHOLE
    // chain per channel — RGB tiling -> integer YCbCr (clamped) -> per
    // component per block forward DCT -> quantize -> IDCT -> clamp ->
    // inverse color matrix -> clamp -> RGB stats — so an interleave,
    // per-component-DPCM, color-matrix or rounding bug in either codec
    // direction breaks the value match.
    QueryDef.withOracle("mm_decode_jpeg_rgb", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      def ch(off: Int) =
        s"""CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE unicode(substr(text,
           |                CAST((3 * p.p + $off) % length(text) + 1 AS INT), 1)) END
           |             AS BIGINT)""".stripMargin
      s"""WITH kya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h FROM documents),
         |kct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |kal(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |krgb0 AS (SELECT asset_id, w, p.p AS p,
         |            ${ch(0)} AS r,
         |            ${ch(1)} AS g,
         |            ${ch(2)} AS b
         |          FROM kya, range(${32 * 16}) p(p) WHERE p.p < w * h),
         |kyc AS (SELECT asset_id, w, p,
         |          greatest(0, least(255, (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
         |          greatest(0, least(255, (-1687 * r - 3313 * g + 5000 * b + 5000) // 10000 + 128)) AS cb,
         |          greatest(0, least(255, (5000 * r - 4187 * g - 813 * b + 5000) // 10000 + 128)) AS cr
         |        FROM krgb0),
         |kcomp AS (SELECT asset_id, cc.c AS comp,
         |            (p // w) // 8 AS bi, (p % w) // 8 AS bj,
         |            (p // w) % 8 AS i, (p % w) % 8 AS j,
         |            (CASE cc.c WHEN 0 THEN y WHEN 1 THEN cb ELSE cr END) - 128 AS s
         |          FROM kyc, range(3) cc(c)),
         |kf AS (SELECT asset_id, comp, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(s * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM kcomp JOIN kct cu ON cu.i = kcomp.i
         |                  JOIN kct cv ON cv.i = kcomp.j
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |kq AS (SELECT f.asset_id, comp, bi, bj, f.u AS u, f.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM kf f JOIN kal au ON au.u = f.u JOIN kal av ON av.u = f.v),
         |kr AS (SELECT q.asset_id, comp, bi, bj, ci.i AS i, cj.i AS j,
         |         greatest(0, least(255,
         |           CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |                AS BIGINT) + 128)) AS dv
         |       FROM kq q JOIN kal au ON au.u = q.u JOIN kal av ON av.u = q.v
         |                 JOIN kct ci ON ci.u = q.u JOIN kct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |kpv AS (SELECT asset_id, bi, bj, i, j,
         |          MAX(CASE WHEN comp = 0 THEN dv END) AS y2,
         |          MAX(CASE WHEN comp = 1 THEN dv END) - 128 AS cb2,
         |          MAX(CASE WHEN comp = 2 THEN dv END) - 128 AS cr2
         |        FROM kr GROUP BY 1, 2, 3, 4, 5),
         |kout AS (SELECT asset_id, unnest([
         |           greatest(0, least(255, y2 + (1402 * cr2 + 500) // 1000)),
         |           greatest(0, least(255, y2 - (3441 * cb2 + 7141 * cr2 + 5000) // 10000)),
         |           greatest(0, least(255, y2 + (1772 * cb2 + 500) // 1000))]) AS px
         |         FROM kpv),
         |kl AS (SELECT asset_id, list(px) AS pxs FROM kout GROUP BY 1)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(pxs, x -> x * 16 // 256 = b))
         |              AS VARCHAR)), ',') AS byte_hist
         |FROM kl ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.jpegColorAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // PROGRESSIVE COLOR JPEG (r14): SOF2 with 3 components — interleaved
    // DC scans + single-component AC scans (the progressive-mode RULE).
    // Every doc carries the baseline 4:4:4 coding AND the progressive
    // coding of the same RGB grid; entropy transport over identical
    // quantized grids means byte-identical decodes, so the oracle replays
    // the baseline color chain once per doc and expects it for BOTH asset
    // ids with position-sensitive stats.
    QueryDef.withOracle("mm_decode_jpeg_prog_rgb", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      val off = graft.ops.MultimodalOps.ProgJpegCompanionOffset
      def ch(off: Int) =
        s"""CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE unicode(substr(text,
           |                CAST((3 * p.p + $off) % length(text) + 1 AS INT), 1)) END
           |             AS BIGINT)""".stripMargin
      s"""WITH qya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h FROM documents),
         |qct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |qal(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |qrgb AS (SELECT asset_id, w, p.p AS p,
         |           ${ch(0)} AS r,
         |           ${ch(1)} AS g,
         |           ${ch(2)} AS b
         |         FROM qya, range(${24 * 16}) p(p) WHERE p.p < w * h),
         |qyc AS (SELECT asset_id, w, p,
         |          greatest(0, least(255, (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
         |          greatest(0, least(255, (-1687 * r - 3313 * g + 5000 * b + 5000) // 10000 + 128)) AS cb,
         |          greatest(0, least(255, (5000 * r - 4187 * g - 813 * b + 5000) // 10000 + 128)) AS cr
         |        FROM qrgb),
         |qcomp AS (SELECT asset_id, cc.c AS comp,
         |            (p // w) // 8 AS bi, (p % w) // 8 AS bj,
         |            (p // w) % 8 AS i, (p % w) % 8 AS j,
         |            (CASE cc.c WHEN 0 THEN y WHEN 1 THEN cb ELSE cr END) - 128 AS s
         |          FROM qyc, range(3) cc(c)),
         |qf AS (SELECT asset_id, comp, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(s * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM qcomp JOIN qct cu ON cu.i = qcomp.i
         |                  JOIN qct cv ON cv.i = qcomp.j
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |qq AS (SELECT f.asset_id, comp, bi, bj, f.u AS u, f.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM qf f JOIN qal au ON au.u = f.u JOIN qal av ON av.u = f.v),
         |qr AS (SELECT q.asset_id, comp, bi, bj, ci.i AS i, cj.i AS j,
         |         greatest(0, least(255,
         |           CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |                AS BIGINT) + 128)) AS dv
         |       FROM qq q JOIN qal au ON au.u = q.u JOIN qal av ON av.u = q.v
         |                 JOIN qct ci ON ci.u = q.u JOIN qct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |qpv AS (SELECT r0.asset_id,
         |          (bi * 8 + i) * a.w + bj * 8 + j AS p,
         |          MAX(CASE WHEN comp = 0 THEN dv END) AS y2,
         |          MAX(CASE WHEN comp = 1 THEN dv END) - 128 AS cb2,
         |          MAX(CASE WHEN comp = 2 THEN dv END) - 128 AS cr2
         |        FROM qr r0 JOIN qya a ON a.asset_id = r0.asset_id
         |        GROUP BY 1, 2),
         |qout AS (SELECT asset_id, 3 * p + chn.c AS pos,
         |           CASE chn.c
         |             WHEN 0 THEN greatest(0, least(255, y2 + (1402 * cr2 + 500) // 1000))
         |             WHEN 1 THEN greatest(0, least(255, y2 - (3441 * cb2 + 7141 * cr2 + 5000) // 10000))
         |             ELSE greatest(0, least(255, y2 + (1772 * cb2 + 500) // 1000))
         |           END AS px
         |         FROM qpv, (VALUES (0), (1), (2)) chn(c)),
         |ql AS (SELECT asset_id, list(px ORDER BY pos) AS pxs FROM qout GROUP BY 1),
         |qb AS (SELECT asset_id, pxs FROM ql
         |       UNION ALL SELECT asset_id + $off, pxs FROM ql)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_px,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_val,
         |  array_to_string(list_slice(pxs, 1, 12), ',') AS head_csv,
         |  CAST(list_sum(list_transform(range(1, len(pxs) + 1), k -> pxs[k] * k))
         |       AS BIGINT) AS wsum
         |FROM qb ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeRgbPositionalFeatures(
        MultimodalOps.progressiveRgbJpegAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // REAL 4:2:0 COLOR JPEG — the sampling every camera JPEG uses: Y at
    // full resolution (2×2), chroma subsampled 2× both directions. The
    // oracle replays the ENTIRE chain: RGB tiling -> integer YCbCr ->
    // chroma 2×2 average ((sum+2)//4) onto the half-res grid -> forward
    // DCT / quantize / IDCT / clamp per grid (Y blocks full-res, chroma
    // blocks half-res) -> replication upsample -> inverse color matrix ->
    // RGB stats. A subsample-average, MCU-block-order, per-grid-DPCM or
    // upsample-index bug in either codec direction breaks the match.
    QueryDef.withOracle("mm_decode_jpeg_420", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      def ch(off: Int) =
        s"""CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE unicode(substr(text,
           |                CAST((3 * p.p + $off) % length(text) + 1 AS INT), 1)) END
           |             AS BIGINT)""".stripMargin
      s"""WITH m4a AS (SELECT doc_id AS asset_id, text,
         |         CAST(16 * (doc_id % 2 + 1) AS INT) AS w,
         |         CAST(16 AS INT) AS h FROM documents),
         |m4ct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |m4al(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |m4rgb AS (SELECT asset_id, w, h, p.p AS p,
         |            ${ch(0)} AS r,
         |            ${ch(1)} AS g,
         |            ${ch(2)} AS b
         |          FROM m4a, range(${32 * 16}) p(p) WHERE p.p < w * h),
         |m4yc AS (SELECT asset_id, w, h, p,
         |          greatest(0, least(255, (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
         |          greatest(0, least(255, (-1687 * r - 3313 * g + 5000 * b + 5000) // 10000 + 128)) AS cb,
         |          greatest(0, least(255, (5000 * r - 4187 * g - 813 * b + 5000) // 10000 + 128)) AS cr
         |        FROM m4rgb),
         |m4ys AS (SELECT asset_id, 0 AS comp,
         |           (p // w) // 8 AS bi, (p % w) // 8 AS bj,
         |           (p // w) % 8 AS i, (p % w) % 8 AS j,
         |           y - 128 AS s
         |         FROM m4yc),
         |m4cv AS (SELECT asset_id, w,
         |           (p % w) // 2 AS x2, (p // w) // 2 AS y2,
         |           (SUM(cb) + 2) // 4 AS cbs, (SUM(cr) + 2) // 4 AS crs
         |         FROM m4yc GROUP BY 1, 2, 3, 4),
         |m4cs AS (SELECT asset_id, cc.c AS comp,
         |           y2 // 8 AS bi, x2 // 8 AS bj, y2 % 8 AS i, x2 % 8 AS j,
         |           (CASE cc.c WHEN 1 THEN cbs ELSE crs END) - 128 AS s
         |         FROM m4cv, (VALUES (1), (2)) cc(c)),
         |m4all AS (SELECT * FROM m4ys UNION ALL SELECT * FROM m4cs),
         |m4f AS (SELECT asset_id, comp, bi, bj, cu.u AS u, cv.u AS v,
         |          CAST(SUM(s * cu.c * cv.c) AS BIGINT) AS fraw
         |        FROM m4all JOIN m4ct cu ON cu.i = m4all.i
         |                   JOIN m4ct cv ON cv.i = m4all.j
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m4q AS (SELECT f.asset_id, comp, bi, bj, f.u AS u, f.v AS v,
         |          (fraw * au.a * av.a + $half) // $div AS qc
         |        FROM m4f f JOIN m4al au ON au.u = f.u JOIN m4al av ON av.u = f.v),
         |m4r AS (SELECT q.asset_id, comp, bi, bj, ci.i AS i, cj.i AS j,
         |          greatest(0, least(255,
         |            CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |                 AS BIGINT) + 128)) AS dv
         |        FROM m4q q JOIN m4al au ON au.u = q.u JOIN m4al av ON av.u = q.v
         |                  JOIN m4ct ci ON ci.u = q.u JOIN m4ct cj ON cj.u = q.v
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m4d AS (SELECT asset_id, comp, bi * 8 + i AS py, bj * 8 + j AS px, dv
         |        FROM m4r),
         |m4px AS (SELECT asset_id, w, p.p % w AS x, p.p // w AS y
         |         FROM m4a, range(${32 * 16}) p(p) WHERE p.p < w * h),
         |m4j AS (SELECT px.asset_id, px.x, px.y,
         |          MAX(CASE WHEN d.comp = 0 THEN dv END) AS y2,
         |          MAX(CASE WHEN d.comp = 1 THEN dv END) - 128 AS cb2,
         |          MAX(CASE WHEN d.comp = 2 THEN dv END) - 128 AS cr2
         |        FROM m4px px JOIN m4d d ON d.asset_id = px.asset_id
         |          AND ((d.comp = 0 AND d.px = px.x AND d.py = px.y)
         |            OR (d.comp > 0 AND d.px = px.x // 2 AND d.py = px.y // 2))
         |        GROUP BY 1, 2, 3),
         |m4out AS (SELECT asset_id, unnest([
         |            greatest(0, least(255, y2 + (1402 * cr2 + 500) // 1000)),
         |            greatest(0, least(255, y2 - (3441 * cb2 + 7141 * cr2 + 5000) // 10000)),
         |            greatest(0, least(255, y2 + (1772 * cb2 + 500) // 1000))]) AS px
         |          FROM m4j),
         |m4l AS (SELECT asset_id, list(px) AS pxs FROM m4out GROUP BY 1)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(pxs, x -> x * 16 // 256 = b))
         |              AS VARCHAR)), ',') AS byte_hist
         |FROM m4l ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.jpeg420AssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // 4:2:2 CHROMA SUBSAMPLING (r14): Y at 2x1, chroma half-horizontal —
    // the broadcast/video-editing sampling between 4:4:4 and 4:2:0. 16x8
    // MCUs of two Y blocks + one Cb + one Cr in T.81 interleaved order;
    // chroma averages its 2 horizontal neighbors ((c0+c1+1)//2) on encode
    // and replicates horizontally only on decode. The oracle replays the
    // ENTIRE chain per component grid — a vertical-averaging slip (the
    // 4:2:0 rule applied here), a block-order bug, or a 2D-replication
    // upsample all break the value match.
    QueryDef.withOracle("mm_decode_jpeg_422", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      def ch(off: Int) =
        s"""CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE unicode(substr(text,
           |                CAST((3 * p.p + $off) % length(text) + 1 AS INT), 1)) END
           |             AS BIGINT)""".stripMargin
      s"""WITH m5a AS (SELECT doc_id AS asset_id, text,
         |         CAST(16 * (doc_id % 2 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS h FROM documents),
         |m5ct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |m5al(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |m5rgb AS (SELECT asset_id, w, h, p.p AS p,
         |            ${ch(0)} AS r,
         |            ${ch(1)} AS g,
         |            ${ch(2)} AS b
         |          FROM m5a, range(${32 * 24}) p(p) WHERE p.p < w * h),
         |m5yc AS (SELECT asset_id, w, h, p,
         |          greatest(0, least(255, (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
         |          greatest(0, least(255, (-1687 * r - 3313 * g + 5000 * b + 5000) // 10000 + 128)) AS cb,
         |          greatest(0, least(255, (5000 * r - 4187 * g - 813 * b + 5000) // 10000 + 128)) AS cr
         |        FROM m5rgb),
         |m5ys AS (SELECT asset_id, 0 AS comp,
         |           (p // w) // 8 AS bi, (p % w) // 8 AS bj,
         |           (p // w) % 8 AS i, (p % w) % 8 AS j,
         |           y - 128 AS s
         |         FROM m5yc),
         |m5cv AS (SELECT asset_id, w,
         |           (p % w) // 2 AS x2, p // w AS y2,
         |           (SUM(cb) + 1) // 2 AS cbs, (SUM(cr) + 1) // 2 AS crs
         |         FROM m5yc GROUP BY 1, 2, 3, 4),
         |m5cs AS (SELECT asset_id, cc.c AS comp,
         |           y2 // 8 AS bi, x2 // 8 AS bj, y2 % 8 AS i, x2 % 8 AS j,
         |           (CASE cc.c WHEN 1 THEN cbs ELSE crs END) - 128 AS s
         |         FROM m5cv, (VALUES (1), (2)) cc(c)),
         |m5all AS (SELECT * FROM m5ys UNION ALL SELECT * FROM m5cs),
         |m5f AS (SELECT asset_id, comp, bi, bj, cu.u AS u, cv.u AS v,
         |          CAST(SUM(s * cu.c * cv.c) AS BIGINT) AS fraw
         |        FROM m5all JOIN m5ct cu ON cu.i = m5all.i
         |                   JOIN m5ct cv ON cv.i = m5all.j
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m5q AS (SELECT f.asset_id, comp, bi, bj, f.u AS u, f.v AS v,
         |          (fraw * au.a * av.a + $half) // $div AS qc
         |        FROM m5f f JOIN m5al au ON au.u = f.u JOIN m5al av ON av.u = f.v),
         |m5r AS (SELECT q.asset_id, comp, bi, bj, ci.i AS i, cj.i AS j,
         |          greatest(0, least(255,
         |            CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |                 AS BIGINT) + 128)) AS dv
         |        FROM m5q q JOIN m5al au ON au.u = q.u JOIN m5al av ON av.u = q.v
         |                  JOIN m5ct ci ON ci.u = q.u JOIN m5ct cj ON cj.u = q.v
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m5d AS (SELECT asset_id, comp, bi * 8 + i AS py, bj * 8 + j AS px, dv
         |        FROM m5r),
         |m5px AS (SELECT asset_id, w, p.p % w AS x, p.p // w AS y
         |         FROM m5a, range(${32 * 24}) p(p) WHERE p.p < w * h),
         |m5j AS (SELECT px.asset_id, px.x, px.y,
         |          MAX(CASE WHEN d.comp = 0 THEN dv END) AS y2,
         |          MAX(CASE WHEN d.comp = 1 THEN dv END) - 128 AS cb2,
         |          MAX(CASE WHEN d.comp = 2 THEN dv END) - 128 AS cr2
         |        FROM m5px px JOIN m5d d ON d.asset_id = px.asset_id
         |          AND ((d.comp = 0 AND d.px = px.x AND d.py = px.y)
         |            OR (d.comp > 0 AND d.px = px.x // 2 AND d.py = px.y))
         |        GROUP BY 1, 2, 3),
         |m5out AS (SELECT asset_id, unnest([
         |            greatest(0, least(255, y2 + (1402 * cr2 + 500) // 1000)),
         |            greatest(0, least(255, y2 - (3441 * cb2 + 7141 * cr2 + 5000) // 10000)),
         |            greatest(0, least(255, y2 + (1772 * cb2 + 500) // 1000))]) AS px
         |          FROM m5j),
         |m5l AS (SELECT asset_id, list(px) AS pxs FROM m5out GROUP BY 1)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(pxs, x -> x * 16 // 256 = b))
         |              AS VARCHAR)), ',') AS byte_hist
         |FROM m5l ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.jpeg422AssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // 4:1:1 CHROMA SUBSAMPLING (r14): Y at 4x1, chroma quarter-horizontal
    // — the DV/consumer-camcorder sampling. 32x8 MCUs of FOUR Y blocks +
    // Cb + Cr; chroma averages 4 horizontal neighbors ((sum+2)//4) and
    // replicates x//4 on decode. Same whole-chain oracle as 4:2:0/4:2:2.
    QueryDef.withOracle("mm_decode_jpeg_411", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      def ch(off: Int) =
        s"""CAST(CASE WHEN length(text) = 0 THEN 0
           |              ELSE unicode(substr(text,
           |                CAST((3 * p.p + $off) % length(text) + 1 AS INT), 1)) END
           |             AS BIGINT)""".stripMargin
      s"""WITH m6a AS (SELECT doc_id AS asset_id, text,
         |         CAST(32 * (doc_id % 2 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS h FROM documents),
         |m6ct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |m6al(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |m6rgb AS (SELECT asset_id, w, h, p.p AS p,
         |            ${ch(0)} AS r,
         |            ${ch(1)} AS g,
         |            ${ch(2)} AS b
         |          FROM m6a, range(${64 * 24}) p(p) WHERE p.p < w * h),
         |m6yc AS (SELECT asset_id, w, h, p,
         |          greatest(0, least(255, (299 * r + 587 * g + 114 * b + 500) // 1000)) AS y,
         |          greatest(0, least(255, (-1687 * r - 3313 * g + 5000 * b + 5000) // 10000 + 128)) AS cb,
         |          greatest(0, least(255, (5000 * r - 4187 * g - 813 * b + 5000) // 10000 + 128)) AS cr
         |        FROM m6rgb),
         |m6ys AS (SELECT asset_id, 0 AS comp,
         |           (p // w) // 8 AS bi, (p % w) // 8 AS bj,
         |           (p // w) % 8 AS i, (p % w) % 8 AS j,
         |           y - 128 AS s
         |         FROM m6yc),
         |m6cv AS (SELECT asset_id, w,
         |           (p % w) // 4 AS x4, p // w AS y4,
         |           (SUM(cb) + 2) // 4 AS cbs, (SUM(cr) + 2) // 4 AS crs
         |         FROM m6yc GROUP BY 1, 2, 3, 4),
         |m6cs AS (SELECT asset_id, cc.c AS comp,
         |           y4 // 8 AS bi, x4 // 8 AS bj, y4 % 8 AS i, x4 % 8 AS j,
         |           (CASE cc.c WHEN 1 THEN cbs ELSE crs END) - 128 AS s
         |         FROM m6cv, (VALUES (1), (2)) cc(c)),
         |m6all AS (SELECT * FROM m6ys UNION ALL SELECT * FROM m6cs),
         |m6f AS (SELECT asset_id, comp, bi, bj, cu.u AS u, cv.u AS v,
         |          CAST(SUM(s * cu.c * cv.c) AS BIGINT) AS fraw
         |        FROM m6all JOIN m6ct cu ON cu.i = m6all.i
         |                   JOIN m6ct cv ON cv.i = m6all.j
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m6q AS (SELECT f.asset_id, comp, bi, bj, f.u AS u, f.v AS v,
         |          (fraw * au.a * av.a + $half) // $div AS qc
         |        FROM m6f f JOIN m6al au ON au.u = f.u JOIN m6al av ON av.u = f.v),
         |m6r AS (SELECT q.asset_id, comp, bi, bj, ci.i AS i, cj.i AS j,
         |          greatest(0, least(255,
         |            CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |                 AS BIGINT) + 128)) AS dv
         |        FROM m6q q JOIN m6al au ON au.u = q.u JOIN m6al av ON av.u = q.v
         |                  JOIN m6ct ci ON ci.u = q.u JOIN m6ct cj ON cj.u = q.v
         |        GROUP BY 1, 2, 3, 4, 5, 6),
         |m6d AS (SELECT asset_id, comp, bi * 8 + i AS py, bj * 8 + j AS px, dv
         |        FROM m6r),
         |m6px AS (SELECT asset_id, w, p.p % w AS x, p.p // w AS y
         |         FROM m6a, range(${64 * 24}) p(p) WHERE p.p < w * h),
         |m6j AS (SELECT px.asset_id, px.x, px.y,
         |          MAX(CASE WHEN d.comp = 0 THEN dv END) AS y2,
         |          MAX(CASE WHEN d.comp = 1 THEN dv END) - 128 AS cb2,
         |          MAX(CASE WHEN d.comp = 2 THEN dv END) - 128 AS cr2
         |        FROM m6px px JOIN m6d d ON d.asset_id = px.asset_id
         |          AND ((d.comp = 0 AND d.px = px.x AND d.py = px.y)
         |            OR (d.comp > 0 AND d.px = px.x // 4 AND d.py = px.y))
         |        GROUP BY 1, 2, 3),
         |m6out AS (SELECT asset_id, unnest([
         |            greatest(0, least(255, y2 + (1402 * cr2 + 500) // 1000)),
         |            greatest(0, least(255, y2 - (3441 * cb2 + 7141 * cr2 + 5000) // 10000)),
         |            greatest(0, least(255, y2 + (1772 * cb2 + 500) // 1000))]) AS px
         |          FROM m6j),
         |m6l AS (SELECT asset_id, list(px) AS pxs FROM m6out GROUP BY 1)
         |SELECT asset_id, 'jpeg' AS format,
         |  CAST(len(pxs) AS BIGINT) AS n_bytes,
         |  CAST(list_sum(pxs) AS DOUBLE) / len(pxs) AS mean_byte,
         |  array_to_string(list_transform(range(0, 16),
         |    b -> CAST(len(list_filter(pxs, x -> x * 16 // 256 = b))
         |              AS VARCHAR)), ',') AS byte_hist
         |FROM m6l ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.jpeg411AssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_bytes"), col("mean_byte"),
          concat_ws(",", col("byte_hist")).as("byte_hist"))
        .orderBy("asset_id")
    },

    // BILINEAR RESIZE (r14): align-corners interpolation of every decoded
    // grayscale PNG onto a fixed 16x16 model-input grid — the resize
    // training pipelines actually normalize with (the NN faces cover the
    // fast path). Integer-exact 4-tap weighting with truncating division;
    // the corpus includes 1-wide and 1-tall sources, so the degenerate
    // nx=0/ny=0 paths and the clamped last-row/column taps are all live.
    // The oracle replays the tap indices and weights per destination
    // pixel over the lossless text tiling, position-sensitively.
    QueryDef.withOracle("mm_resize_bilinear",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 9 + 1 AS INT) AS w,
        |         CAST(doc_id % 7 + 1 AS INT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, h, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST(i % length(text) + 1 AS INT), 1)) END) AS vs
        |  FROM a),
        |d AS (SELECT doc_id, w, h, vs, t.t AS t,
        |        t.t % 16 AS x, t.t // 16 AS y
        |      FROM c, range(256) t(t)),
        |e AS (SELECT doc_id, vs, t, w,
        |        (x * (w - 1)) // 15 AS ix, (x * (w - 1)) % 15 AS nx,
        |        (y * (h - 1)) // 15 AS iy, (y * (h - 1)) % 15 AS ny,
        |        least((x * (w - 1)) // 15 + 1, w - 1) AS ix1,
        |        least((y * (h - 1)) // 15 + 1, h - 1) AS iy1
        |      FROM d),
        |f AS (SELECT doc_id, t,
        |        (vs[CAST(iy * w + ix + 1 AS INT)] * (15 - nx) * (15 - ny)
        |         + vs[CAST(iy * w + ix1 + 1 AS INT)] * nx * (15 - ny)
        |         + vs[CAST(iy1 * w + ix + 1 AS INT)] * (15 - nx) * ny
        |         + vs[CAST(iy1 * w + ix1 + 1 AS INT)] * nx * ny) // 225 AS v
        |      FROM e),
        |g2 AS (SELECT doc_id, list(v ORDER BY t) AS rs FROM f GROUP BY 1)
        |SELECT doc_id AS asset_id, 'png' AS format,
        |  CAST(256 AS BIGINT) AS n_px,
        |  CAST(list_sum(rs) AS DOUBLE) / 256 AS mean_val,
        |  array_to_string(list_slice(rs, 1, 12), ',') AS head_csv,
        |  CAST(list_sum(list_transform(range(1, 257), k -> rs[k] * k))
        |       AS BIGINT) AS wsum
        |FROM g2 ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.imageBilinearFeatures(
        MultimodalOps.pngAssetsFromDocuments(Tables(s, dir, "documents")),
        dw = 16, dh = 16)
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // REAL resize through the LOSSY format: full entropy-decode + inverse
    // transform chain, then nearest-neighbor sampling of the DECODED
    // grayscale grid. The oracle replays the whole decode arithmetic and
    // then the same sampling indices — fusing the mm_decode_jpeg chain
    // with the resize contract, so a transform bug OR a sampling-index bug
    // breaks the match.
    QueryDef.withOracle("mm_resize_jpeg", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      s"""WITH jya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h FROM documents),
         |jct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |jal(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |jpx AS (SELECT asset_id, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
         |          CAST((CASE WHEN length(text) = 0 THEN 0
         |                ELSE unicode(substr(text,
         |                  CAST(((bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
         |                       % length(text) + 1 AS INT), 1)) END)
         |               - 128 AS BIGINT) AS p
         |        FROM jya, range(2) bi(b), range(3) bj(b),
         |             range(8) ri(i), range(8) rj(j)
         |        WHERE bi.b < h // 8 AND bj.b < w // 8),
         |jf AS (SELECT asset_id, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM jpx JOIN jct cu ON cu.i = jpx.i
         |                JOIN jct cv ON cv.i = jpx.j
         |       GROUP BY 1, 2, 3, 4, 5),
         |jq AS (SELECT f.asset_id, bi, bj, f.u AS u, f.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM jf f JOIN jal au ON au.u = f.u JOIN jal av ON av.u = f.v),
         |jr AS (SELECT q.asset_id, bi, bj, ci.i AS i, cj.i AS j,
         |         CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |              AS BIGINT) + 128 AS s
         |       FROM jq q JOIN jal au ON au.u = q.u JOIN jal av ON av.u = q.v
         |                 JOIN jct ci ON ci.u = q.u JOIN jct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5),
         |jsam AS (SELECT asset_id,
         |           CAST(greatest(0, least(255, s)) AS BIGINT) AS px
         |         FROM jr WHERE (bi * 8 + i) % 2 = 0 AND (bj * 8 + j) % 2 = 0),
         |jagg AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS nb,
         |           SUM(px) AS sp FROM jsam GROUP BY 1)
         |SELECT jagg.asset_id, 'jpeg' AS format,
         |  CAST(w // 2 AS INT) AS dst_w, CAST(h // 2 AS INT) AS dst_h,
         |  nb AS n_bytes, CAST(sp AS DOUBLE) / nb AS mean_byte
         |FROM jagg JOIN jya ON jya.asset_id = jagg.asset_id
         |ORDER BY jagg.asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.resizeFeatures(
        MultimodalOps.jpegAssetsFromDocuments(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .select(col("asset_id"), col("format"),
          col("width").as("dst_w"), col("height").as("dst_h"),
          col("n_bytes"), col("mean_byte"))
        .orderBy("asset_id")
    },

    // REAL COMPRESSED AUDIO: G.711 µ-law WAV (format tag 7, 18-byte fmt
    // chunk) — the decoder expands every on-wire code byte to its linear
    // value with the exact ITU integer formula, so the oracle replays
    // text byte -> code (parity-keyed sign) -> µ-law expansion -> signal
    // stats; a complement, mantissa-bias, segment-shift or sign bug in the
    // expansion breaks the value match.
    QueryDef.withOracle("mm_decode_ulaw",
      """WITH c AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1),
        |           i -> unicode(substr(text, CAST(i AS INT), 1))
        |                + 128 * (unicode(substr(text, CAST(i AS INT), 1)) % 2)) AS cs,
        |         ([8000, 16000, 44100])[CAST(doc_id % 3 AS INT) + 1] AS rate
        |  FROM documents),
        |s AS (SELECT doc_id, rate, list_transform(cs, c ->
        |        CASE WHEN 255 - c >= 128
        |             THEN 132 - ((((255 - c) % 16) * 8 + 132)
        |                         * (1 << (((255 - c) // 16) % 8)))
        |             ELSE (((255 - c) % 16) * 8 + 132)
        |                  * (1 << (((255 - c) // 16) % 8)) - 132 END) AS ss
        |      FROM c)
        |SELECT doc_id AS asset_id, 'wav' AS format,
        |  CAST(rate AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(len(ss) AS BIGINT) AS n_samples,
        |  CAST(len(ss) AS DOUBLE) / rate AS duration_s,
        |  CASE WHEN len(ss) = 0 THEN 0.0
        |       ELSE sqrt(CAST(list_sum(list_transform(ss, x -> x * x)) AS DOUBLE)
        |                 / len(ss)) END AS rms,
        |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0) AS INT) AS peak,
        |  CAST(COALESCE(list_sum(list_transform(range(1, len(ss)),
        |    i -> CASE WHEN (ss[i] >= 0) <> (ss[i + 1] >= 0)
        |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
        |FROM s ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.mulawWavAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // REAL GIF: logical-screen/GCT/extension/image-descriptor walk + the
    // actual variable-width adaptive LZW decoder (clear/EOI, KwKwK,
    // decoder-lags-encoder width sync), with the corpus cycling the
    // descriptor shapes by id%4: plain / INTERLACED (rows transported in
    // the spec's four-pass order, scattered back on decode — transport
    // only, so the oracle expects the ORIGINAL pixel order and a decoder
    // that ignores the flag emits row-permuted values) / LOCAL color
    // table (entry j = (j, 7j mod 256, 13j mod 256) overrides the
    // grayscale GCT → decoded value is that entry's integer luma, which
    // the oracle maps) / both. Lossless round-trip + position-sensitive
    // stats (head + Σ v(i)·(i+1)): any entropy, de-interlace or
    // palette-selection bug breaks the value match.
    QueryDef.withOracle("mm_decode_gif",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 11 + 1 AS INT) AS w,
        |         CAST(doc_id % 6 + 1 AS INT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST(i % length(text) + 1 AS INT), 1)) END) AS idxs
        |  FROM a),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 IN (2, 3) THEN
        |      list_transform(idxs, j ->
        |        (299 * j + 587 * ((7 * j) % 256) + 114 * ((13 * j) % 256)) // 1000)
        |    ELSE idxs END AS vs
        |  FROM c)
        |SELECT doc_id AS asset_id, 'gif' AS format,
        |  CAST(len(vs) AS BIGINT) AS n_px,
        |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
        |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
        |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
        |       AS BIGINT) AS wsum
        |FROM v ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.gifPositionalFeatures(
        MultimodalOps.gifAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("format"), col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id")
    },

    // ANIMATED GIF (r14): multi-frame GIF89a — NETSCAPE loop extension,
    // per-frame Graphic Control Extension delays, one image descriptor +
    // LZW stream per frame (descriptor variants cycle plain/interlaced/
    // LCT/both by id). One row per frame with the GCE delay and
    // position-sensitive pixel stats; the oracle recomputes every frame
    // from the text tiling (offset 11·f per frame — a walk returning the
    // wrong frame, dropping a GCE, or mis-scoping a per-frame LCT all
    // break the value match).
    QueryDef.withOracle("mm_gif_frames",
      """WITH a AS (
        |  SELECT doc_id, text,
        |         CAST(doc_id % 7 + 2 AS INT) AS w,
        |         CAST(doc_id % 5 + 2 AS INT) AS h,
        |         CAST(2 + doc_id % 3 AS INT) AS nf
        |  FROM documents),
        |fr AS (SELECT a.*, CAST(f.f AS INT) AS f
        |       FROM a, range(4) f(f) WHERE f.f < nf),
        |c AS (
        |  SELECT doc_id, f, list_transform(range(0, w * h),
        |           i -> CASE WHEN length(text) = 0 THEN 0
        |                     ELSE unicode(substr(text,
        |                            CAST((11 * f + i) % length(text) + 1 AS INT), 1)) END) AS idxs
        |  FROM fr),
        |v AS (
        |  SELECT doc_id, f,
        |    CASE WHEN doc_id % 4 IN (2, 3) THEN
        |      list_transform(idxs, j ->
        |        (299 * j + 587 * ((7 * j) % 256) + 114 * ((13 * j) % 256)) // 1000)
        |    ELSE idxs END AS vs
        |  FROM c)
        |SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,
        |  CAST(4 + f AS INT) AS delay_cs,
        |  CAST(len(vs) AS BIGINT) AS n_px,
        |  CAST(list_sum(vs) AS DOUBLE) / len(vs) AS mean_val,
        |  array_to_string(list_slice(vs, 1, 12), ',') AS head_csv,
        |  CAST(list_sum(list_transform(range(1, len(vs) + 1), k -> vs[k] * k))
        |       AS BIGINT) AS wsum
        |FROM v ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
      MultimodalOps.gifFrameFeatures(
        MultimodalOps.animGifAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .select(col("asset_id"), col("frame_idx"), col("delay_cs"),
          col("n_px"), col("mean_val"),
          concat_ws(",", col("head")).as("head_csv"), col("wsum"))
        .orderBy("asset_id", "frame_idx")
    },

    // REAL PREDICTIVE AUDIO: IMA ADPCM (WAV format 0x11) — 4-bit codes,
    // per-block headers, fact-trimmed padding. Lossy, but the fused
    // encode->decode chain is an exact integer STATE MACHINE, so the
    // oracle replays it sample by sample with a RECURSIVE CTE (the BPE
    // trainer set the precedent): per step, the encoder's quantized code
    // from (sample, predictor, step index), then the shared
    // predictor/index update — the decoded value IS the updated
    // predictor. A step-table, sign, clamp, block-boundary or nibble
    // order bug in either codec direction breaks the value match.
    QueryDef.withOracle("mm_decode_adpcm", {
      val stepRows = graft.ops.WavCodec.AdpcmSteps.zipWithIndex
        .map { case (v, i) => s"($i,$v)" }.mkString(",")
      val idxRows = graft.ops.WavCodec.AdpcmIndexAdjust.zipWithIndex
        .map { case (d, c) => s"($c,$d)" }.mkString(",")
      val spb = 9 // blockAlign 8 -> 1 header + 8 coded samples per block
      s"""WITH RECURSIVE
         |stt(si, st) AS (SELECT * FROM (VALUES $stepRows) t(si, st)),
         |itb(ic, id) AS (SELECT * FROM (VALUES $idxRows) t(ic, id)),
         |src AS (SELECT doc_id, text, length(text) AS n,
         |          ([8000, 16000, 44100])[CAST(doc_id % 3 AS INT) + 1] AS rate
         |        FROM documents),
         |rec AS (
         |  SELECT doc_id, 0 AS i, CAST(0 AS INT) AS pred, 0 AS idx,
         |         CAST(NULL AS INT) AS dec
         |  FROM src WHERE n > 0
         |  UNION ALL
         |  SELECT doc_id, i, CASE WHEN hdr THEN smp ELSE np END,
         |         CASE WHEN hdr THEN idx ELSE ni END,
         |         CASE WHEN hdr THEN smp ELSE np END
         |  FROM (
         |    SELECT q.doc_id, q.i, q.idx, q.hdr, q.smp,
         |      greatest(-32768, least(32767,
         |        q.pred + CASE WHEN q.sgn THEN -q.dq ELSE q.dq END)) AS np,
         |      greatest(0, least(88, q.idx + itb.id)) AS ni
         |    FROM (
         |      SELECT p.*,
         |        (p.st // 8) + p.c4 * p.st + p.c2 * (p.st // 2)
         |          + p.c1 * (p.st // 4) AS dq,
         |        p.c4 * 4 + p.c2 * 2 + p.c1 AS cm
         |      FROM (
         |        SELECT b.*,
         |          CASE WHEN b.d0 >= b.st THEN 1 ELSE 0 END AS c4,
         |          CASE WHEN b.d0 - (CASE WHEN b.d0 >= b.st THEN b.st ELSE 0 END)
         |                 >= b.st // 2 THEN 1 ELSE 0 END AS c2,
         |          CASE WHEN b.d0 - (CASE WHEN b.d0 >= b.st THEN b.st ELSE 0 END)
         |                 - (CASE WHEN b.d0 - (CASE WHEN b.d0 >= b.st THEN b.st ELSE 0 END)
         |                      >= b.st // 2 THEN b.st // 2 ELSE 0 END)
         |                 >= b.st // 4 THEN 1 ELSE 0 END AS c1
         |        FROM (
         |          SELECT r.doc_id, r.i + 1 AS i, r.pred, r.idx,
         |            (r.i % $spb) = 0 AS hdr,
         |            CAST((unicode(substr(s.text, r.i + 1, 1)) - 80) * 257 AS INT) AS smp,
         |            (CAST((unicode(substr(s.text, r.i + 1, 1)) - 80) * 257 AS INT)
         |              - r.pred) < 0 AS sgn,
         |            abs(CAST((unicode(substr(s.text, r.i + 1, 1)) - 80) * 257 AS INT)
         |              - r.pred) AS d0,
         |            stt.st AS st
         |          FROM rec r JOIN src s USING (doc_id) JOIN stt ON stt.si = r.idx
         |          WHERE r.i < s.n
         |        ) b
         |      ) p
         |    ) q JOIN itb ON itb.ic = q.cm
         |  )
         |),
         |ds AS (SELECT doc_id, list(dec ORDER BY i) AS ss FROM rec
         |       WHERE i > 0 GROUP BY doc_id)
         |SELECT src.doc_id AS asset_id, 'wav' AS format,
         |  CAST(rate AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
         |  CAST(len(ss) AS BIGINT) AS n_samples,
         |  CAST(len(ss) AS DOUBLE) / rate AS duration_s,
         |  sqrt(CAST(list_sum(list_transform(ss, x -> CAST(x AS BIGINT) * x))
         |            AS DOUBLE) / len(ss)) AS rms,
         |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0) AS INT) AS peak,
         |  CAST(COALESCE(list_sum(list_transform(range(1, len(ss)),
         |    i -> CASE WHEN (ss[i] >= 0) <> (ss[i + 1] >= 0)
         |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
         |FROM ds JOIN src ON src.doc_id = ds.doc_id
         |ORDER BY asset_id""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.audioFeatures(
        MultimodalOps.adpcmWavAssetsFromDocuments(Tables(s, dir, "documents")))
        .toDF()
        .orderBy("asset_id")
    },

    // REAL VIDEO: MJPEG-in-AVI container walk + per-frame baseline-JPEG
    // decode, sampling every 2nd frame. The oracle replays the WHOLE chain
    // per sampled frame — per-frame tiling offset (7·f) -> forward DCT ->
    // quantize -> IDCT -> clamp -> pixel stats — plus the container
    // geometry (frame count, fps) from the header fields, so a container
    // walk that returns the wrong frame, drops the even-padding rule, or
    // mis-reads strh breaks the value match.
    QueryDef.withOracle("mm_video_frames", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      s"""WITH vya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h,
         |         CAST(2 + doc_id % 3 AS INT) AS nf,
         |         CAST(10 + (doc_id % 3) * 5 AS DOUBLE) AS fps FROM documents),
         |vfr AS (SELECT vya.*, CAST(fr.f AS INT) AS f
         |        FROM vya, range(4) fr(f) WHERE fr.f < nf AND fr.f % 2 = 0),
         |vct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |val2(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |vpx AS (SELECT asset_id, f, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
         |          CAST((CASE WHEN length(text) = 0 THEN 0
         |                ELSE unicode(substr(text,
         |                  CAST((7 * f + (bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
         |                       % length(text) + 1 AS INT), 1)) END)
         |               - 128 AS BIGINT) AS p
         |        FROM vfr, range(2) bi(b), range(3) bj(b),
         |             range(8) ri(i), range(8) rj(j)
         |        WHERE bi.b < h // 8 AND bj.b < w // 8),
         |vf AS (SELECT asset_id, f, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM vpx JOIN vct cu ON cu.i = vpx.i
         |                JOIN vct cv ON cv.i = vpx.j
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |vq AS (SELECT vf.asset_id, f, bi, bj, vf.u AS u, vf.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM vf JOIN val2 au ON au.u = vf.u JOIN val2 av ON av.u = vf.v),
         |vr AS (SELECT q.asset_id, f, bi, bj, ci.i AS i, cj.i AS j,
         |         CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |              AS BIGINT) + 128 AS s
         |       FROM vq q JOIN val2 au ON au.u = q.u JOIN val2 av ON av.u = q.v
         |                 JOIN vct ci ON ci.u = q.u JOIN vct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |vpc AS (SELECT asset_id, f,
         |          CAST(greatest(0, least(255, s)) AS BIGINT) AS px FROM vr),
         |vl AS (SELECT asset_id, f, CAST(count(*) AS BIGINT) AS nb,
         |         SUM(px) AS sp FROM vpc GROUP BY 1, 2)
         |SELECT vl.asset_id, vl.f AS frame_idx, nf AS n_frames, fps,
         |  w AS width, h AS height, nb AS n_bytes,
         |  CAST(sp AS DOUBLE) / nb AS mean_byte
         |FROM vl JOIN vfr ON vfr.asset_id = vl.asset_id AND vfr.f = vl.f
         |ORDER BY vl.asset_id, frame_idx""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.videoFrameFeatures(
        MultimodalOps.mjpegAssetsFromDocuments(Tables(s, dir, "documents")),
        frameStride = 2)
        .toDF()
        .orderBy("asset_id", "frame_idx")
    },

    // VIDEO -> FRAME SAMPLE -> PATCH TOKENS, the video-ViT input pipeline
    // fused in one typed pass. patch = 8 aligns with the JPEG block grid,
    // so the oracle reuses the per-frame decode chain and groups each
    // block's 64 clamped pixels in row-major order — a sampling, tiling,
    // ordering or decode bug anywhere breaks the CSV match.
    QueryDef.withOracle("mm_video_patches", {
      val half = 1L << 41
      val div = 1L << 42
      val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
        .mkString(",")
      s"""WITH vya AS (SELECT doc_id AS asset_id, text,
         |         CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
         |         CAST(8 * (doc_id % 2 + 1) AS INT) AS h,
         |         CAST(2 + doc_id % 3 AS INT) AS nf FROM documents),
         |vfr AS (SELECT vya.*, CAST(fr.f AS INT) AS f
         |        FROM vya, range(4) fr(f) WHERE fr.f < nf AND fr.f % 2 = 0),
         |vct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
         |val2(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
         |vpx AS (SELECT asset_id, f, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
         |          CAST((CASE WHEN length(text) = 0 THEN 0
         |                ELSE unicode(substr(text,
         |                  CAST((7 * f + (bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
         |                       % length(text) + 1 AS INT), 1)) END)
         |               - 128 AS BIGINT) AS p
         |        FROM vfr, range(2) bi(b), range(3) bj(b),
         |             range(8) ri(i), range(8) rj(j)
         |        WHERE bi.b < h // 8 AND bj.b < w // 8),
         |vf AS (SELECT asset_id, f, bi, bj, cu.u AS u, cv.u AS v,
         |         CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
         |       FROM vpx JOIN vct cu ON cu.i = vpx.i
         |                JOIN vct cv ON cv.i = vpx.j
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |vq AS (SELECT vf.asset_id, f, bi, bj, vf.u AS u, vf.v AS v,
         |         (fraw * au.a * av.a + $half) // $div AS qc
         |       FROM vf JOIN val2 au ON au.u = vf.u JOIN val2 av ON av.u = vf.v),
         |vr AS (SELECT q.asset_id, f, bi, bj, ci.i AS i, cj.i AS j,
         |         CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
         |              AS BIGINT) + 128 AS s
         |       FROM vq q JOIN val2 au ON au.u = q.u JOIN val2 av ON av.u = q.v
         |                 JOIN vct ci ON ci.u = q.u JOIN vct cj ON cj.u = q.v
         |       GROUP BY 1, 2, 3, 4, 5, 6),
         |vb AS (SELECT asset_id, f, bi, bj, i, j,
         |         CAST(greatest(0, least(255, s)) AS BIGINT) AS px FROM vr),
         |vp AS (SELECT asset_id, f, bi, bj,
         |         array_to_string(list(px ORDER BY i, j), ',') AS patch_csv,
         |         CAST(SUM(px) AS DOUBLE) / 64 AS mean_byte
         |       FROM vb GROUP BY 1, 2, 3, 4)
         |SELECT asset_id, f AS frame_idx, CAST(bi AS INT) AS py,
         |  CAST(bj AS INT) AS px, patch_csv, mean_byte
         |FROM vp ORDER BY asset_id, frame_idx, py, px""".stripMargin
    }) { (s, dir) =>
      MultimodalOps.videoFramePatches(
        MultimodalOps.mjpegAssetsFromDocuments(Tables(s, dir, "documents")),
        frameStride = 2, patch = 8)
        .toDF()
        .select(col("asset_id"), col("frame_idx"), col("py"), col("px"),
          concat_ws(",", col("patch")).as("patch_csv"), col("mean_byte"))
        .orderBy("asset_id", "frame_idx", "py", "px")
    },

    // AUDIO FINGERPRINTS (Haitsma-Kalker band-energy-difference shape,
    // integer-exact): PCM decode -> 32-sample frames -> fixed-point DFT
    // band powers -> adjacent-band difference bits -> 4-frame window
    // polyhash, over the polarity-companion-planted corpus. The oracle
    // replays sample mapping, the DFT (exact int64), the bit rule and the
    // window hash term-by-term; inverted companions MUST fingerprint
    // identically (powers are invariant under negation) — dedup_audio
    // consumes exactly that.
    QueryDef.withOracle("mm_audio_fp",
      s"""WITH ${OracleAudioFp.CTES}
         |SELECT asset_id, f AS frame_idx, fp FROM aff
         |ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
      MultimodalOps.audioFingerprints(
        MultimodalOps.fpWavAssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id", "frame_idx")
    },

    // VIDEO perceptual hashes: container walk + per-frame JPEG decode +
    // pHash, over the companion-planted corpus (every 7th doc gets a
    // one-frame-temporal-shift twin). The oracle replays the ENTIRE chain
    // per frame — container tiling, lossy decode arithmetic, 8x8 sample,
    // fixed-point DCT, median split — so a frame-order bug, a decode bug,
    // or a sample-index slip breaks the hash match. Shifted companion
    // frames MUST hash identically to the original's next frame (their
    // JPEGs are byte-identical by construction) — dedup_video consumes
    // exactly that.
    QueryDef.withOracle("mm_video_phash",
      s"""WITH ${OracleVideoPhash.CTES}
         |SELECT asset_id, f AS frame_idx, phash FROM vph
         |ORDER BY asset_id, frame_idx""".stripMargin) { (s, dir) =>
      MultimodalOps.videoPhashes(
        MultimodalOps.mjpegCompanionAssetsFromDocuments(Tables(s, dir, "documents")),
        frameStride = 1)
        .orderBy("asset_id", "frame_idx")
    },

    // Perceptual hashes over REAL pixels: decode the grayscale-PNG fixture
    // (plus its brightened companions), 8x8 nearest-neighbor sample,
    // integer DCT, median-split bits — the oracle replays the whole chain
    // term-by-term from text + tiling arithmetic, with the SAME fixed-point
    // cosine table interpolated as literals (MultimodalOps.PhashDct), so a
    // decode bug, a sampling off-by-one, or a median-rank slip all break
    // the hash match. Companions MUST hash identically to their base
    // (brightness moves only the excluded DC coefficient) — checked here
    // value-by-value and consumed by dedup_phash below.
    QueryDef.withOracle("mm_phash",
      s"""WITH ${OraclePhash.CTES}
         |SELECT asset_id, phash FROM ph ORDER BY asset_id""".stripMargin) {
      (s, dir) =>
      // base PNGs + rotated TIFF companions (every 9th doc, orientations
      // cycling 2..8): the oracle replays the companions as their BASE
      // doc's hash chain, so imagePhash only matches if the Orientation
      // tag is applied as the exact inverse permutation
      val base = MultimodalOps.phashAssetsFromDocuments(
        Tables(s, dir, "documents"))
      MultimodalOps.imagePhash(
        base.unionByName(MultimodalOps.orientedCompanionAssets(base)))
        .orderBy("asset_id")
    },

    // APP1 EXIF audit (r16 verdict missing #5): orientation / timestamp /
    // make / GPS-presence walk over real JPEGs in BOTH TIFF byte orders,
    // plus proof the publish-time PII scrub works (gps_after_strip
    // re-scans stripExif output — false everywhere, including the docs
    // whose APP1 planted a GPS IFD). Every field is fixture arithmetic;
    // entropy-coded image data is never touched.
    QueryDef.withOracle("mm_exif",
      """SELECT doc_id AS asset_id,
        |  doc_id % 7 <> 0 AS has_exif,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0
        |       ELSE doc_id % 8 + 1 END AS BIGINT) AS orientation,
        |  CASE WHEN doc_id % 7 = 0 THEN ''
        |       ELSE '2020:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |            || ' 12:00:00' END AS datetime,
        |  CASE WHEN doc_id % 7 = 0 THEN ''
        |       ELSE 'cam-' || CAST(doc_id % 5 AS VARCHAR) END AS make,
        |  doc_id % 7 <> 0 AND doc_id % 3 = 0 AS has_gps,
        |  CASE WHEN doc_id % 7 = 0 THEN ''
        |       WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
        |  FALSE AS gps_after_strip
        |FROM documents ORDER BY asset_id""".stripMargin) { (s, dir) =>
      MultimodalOps.exifScan(
        MultimodalOps.exifJpegAssetsFromDocuments(Tables(s, dir, "documents")))
        .orderBy("asset_id")
    }
  )
}

/** Shared oracle CTEs of the perceptual-hash family (mm_phash here,
  * dedup_phash in DedupQueries): asset fixture -> 8x8 sampled pixels ->
  * integer DCT coefficients -> AC median -> 63-bit hash. Every stage is
  * exact int64 arithmetic; the DCT basis is interpolated from
  * [[graft.ops.MultimodalOps.PhashDct]] so no trig crosses the engine
  * boundary. */
/** DuckDB CTE block for the AUDIO fingerprint family: replays the
  * polarity-companion-planted PCM corpus (sample i = sgn·(byte−80)·257),
  * the per-frame fixed-point DFT band powers (E = Re² + Im², exact
  * int64), the adjacent-band difference bits, and the 4-frame polynomial
  * window hash. Ends in `aff(asset_id, f, fp)`. Shared by `mm_audio_fp`
  * and `dedup_audio`. */
object OracleAudioFp {
  import graft.ops.MultimodalOps.{AudioCompanionOffset, AudioCompanionStep,
    AudioFpBands, AudioFpCos, AudioFpFrame, AudioFpSin, AudioFpWindow,
    AudioSilenceFrames, AudioSilenceStep}
  import graft.ops.TextOps.{B2, P}

  private val trigRows = (for { k <- 0 until AudioFpBands; n <- 0 until AudioFpFrame }
    yield s"(${k + 1},$n,${AudioFpCos(k)(n)},${AudioFpSin(k)(n)})").mkString(",")

  private val silenceSamples = AudioSilenceFrames * AudioFpFrame

  val CTES: String =
    s"""afa AS (SELECT doc_id AS asset_id, text, 1 AS sgn,
       |          CASE WHEN doc_id % $AudioSilenceStep = 0
       |               THEN $silenceSamples ELSE 0 END AS lead
       |        FROM documents
       |        UNION ALL
       |        SELECT doc_id + $AudioCompanionOffset, text, -1,
       |          CASE WHEN doc_id % $AudioSilenceStep = 0
       |               THEN $silenceSamples ELSE 0 END
       |        FROM documents WHERE doc_id % $AudioCompanionStep = 0),
       |afs AS (SELECT asset_id,
       |          list_transform(range(lead), z -> CAST(0 AS BIGINT)) ||
       |          list_transform(range(1, length(text) + 1),
       |            i -> CAST(sgn * (unicode(substr(text, CAST(i AS INT), 1)) - 80)
       |                 * 257 AS BIGINT)) AS ss
       |        FROM afa),
       |afc(k, n, c, s) AS (SELECT * FROM (VALUES $trigRows) t(k, n, c, s)),
       |aft AS (SELECT asset_id, ss,
       |          CAST(unnest(range(0, len(ss) // $AudioFpFrame)) AS INT) AS f
       |        FROM afs),
       |afe AS (SELECT a.asset_id, a.f, t.k AS k,
       |          SUM(a.ss[CAST(a.f * $AudioFpFrame + t.n + 1 AS INT)] * t.c) AS re,
       |          SUM(a.ss[CAST(a.f * $AudioFpFrame + t.n + 1 AS INT)] * t.s) AS im
       |        FROM aft a, afc t
       |        GROUP BY 1, 2, 3),
       |afp AS (SELECT asset_id, f, k,
       |          CAST(re AS BIGINT) * re + CAST(im AS BIGINT) * im AS e
       |        FROM afe),
       |afb AS (SELECT x.asset_id, x.f,
       |          CAST(COALESCE(SUM(CASE WHEN x.e > y.e
       |                 THEN 1::BIGINT << (x.k - 1) ELSE 0::BIGINT END), 0)
       |               AS BIGINT) AS b
       |        FROM afp x JOIN afp y
       |          ON y.asset_id = x.asset_id AND y.f = x.f AND y.k = x.k + 1
       |        GROUP BY 1, 2),
       |aff AS (SELECT b0.asset_id, b0.f AS f,
       |          ((((b0.b * $B2 + b1.b) % $P) * $B2 + b2.b) % $P * $B2 + b3.b)
       |            % $P AS fp
       |        FROM afb b0
       |        JOIN afb b1 ON b1.asset_id = b0.asset_id AND b1.f = b0.f + 1
       |        JOIN afb b2 ON b2.asset_id = b0.asset_id AND b2.f = b0.f + 2
       |        JOIN afb b3 ON b3.asset_id = b0.asset_id AND b3.f = b0.f + 3)""".stripMargin
}

/** DuckDB CTE block for the VIDEO perceptual-hash family: replays the
  * companion-planted MJPEG corpus (one-frame temporal shift at every
  * [[graft.ops.MultimodalOps.VideoCompanionStep]]-th doc), the per-frame
  * baseline-JPEG decode chain (tiling offset 7·(f+shift) → forward DCT →
  * quantize → IDCT → clamp), then the pHash chain per frame (8×8
  * nearest-neighbor sample of the DECODED pixels → fixed-point DCT →
  * median split). Ends in `vph(asset_id, f, phash)`. Shared by
  * `mm_video_phash` and `dedup_video`. */
object OracleVideoPhash {
  import graft.ops.MultimodalOps.{TitleCardGray, VideoCommonStep,
    VideoCompanionOffset, VideoCompanionStep}
  private val half = 1L << 41
  private val div = 1L << 42
  private val alphaRows = (0 until 8).map(u => s"($u,${if (u == 0) 724 else 1024})")
    .mkString(",")

  val CTES: String =
    s"""vya AS (SELECT doc_id AS asset_id, text,
       |          CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
       |          CAST(8 * (doc_id % 2 + 1) AS INT) AS h,
       |          CAST(2 + doc_id % 3 AS INT) AS nf, 0 AS shift,
       |          CASE WHEN doc_id % $VideoCommonStep = 0 THEN 1 ELSE 0 END AS tc
       |        FROM documents
       |        UNION ALL
       |        SELECT doc_id + $VideoCompanionOffset, text,
       |          CAST(8 * (doc_id % 3 + 1) AS INT),
       |          CAST(8 * (doc_id % 2 + 1) AS INT),
       |          CAST(2 + doc_id % 3 AS INT), 1,
       |          CASE WHEN doc_id % $VideoCommonStep = 0 THEN 1 ELSE 0 END
       |        FROM documents WHERE doc_id % $VideoCompanionStep = 0),
       |vfr AS (SELECT vya.*, CAST(fr.f AS INT) AS f
       |        FROM vya, range(5) fr(f) WHERE fr.f < nf + tc),
       |vct(u, i, c) AS (SELECT * FROM (VALUES ${OraclePhash.dctRows}) t(u, i, c)),
       |val2(u, a) AS (SELECT * FROM (VALUES $alphaRows) t(u, a)),
       |vpx AS (SELECT asset_id, f, bi.b AS bi, bj.b AS bj, ri.i AS i, rj.j AS j,
       |          CAST((CASE WHEN tc = 1 AND f = 0 THEN $TitleCardGray
       |                WHEN length(text) = 0 THEN 0
       |                ELSE unicode(substr(text,
       |                  CAST((7 * (f - tc + shift) + (bi.b * 8 + ri.i) * w + bj.b * 8 + rj.j)
       |                       % length(text) + 1 AS INT), 1)) END)
       |               - 128 AS BIGINT) AS p
       |        FROM vfr, range(2) bi(b), range(3) bj(b),
       |             range(8) ri(i), range(8) rj(j)
       |        WHERE bi.b < h // 8 AND bj.b < w // 8),
       |vf AS (SELECT asset_id, f, bi, bj, cu.u AS u, cv.u AS v,
       |         CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fraw
       |       FROM vpx JOIN vct cu ON cu.i = vpx.i
       |                JOIN vct cv ON cv.i = vpx.j
       |       GROUP BY 1, 2, 3, 4, 5, 6),
       |vq AS (SELECT vf.asset_id, f, bi, bj, vf.u AS u, vf.v AS v,
       |         (fraw * au.a * av.a + $half) // $div AS qc
       |       FROM vf JOIN val2 au ON au.u = vf.u JOIN val2 av ON av.u = vf.v),
       |vr AS (SELECT q.asset_id, f, bi, bj, ci.i AS i, cj.i AS j,
       |         CAST((SUM(qc * au.a * av.a * ci.c * cj.c) + $half) // $div
       |              AS BIGINT) + 128 AS s
       |       FROM vq q JOIN val2 au ON au.u = q.u JOIN val2 av ON av.u = q.v
       |                 JOIN vct ci ON ci.u = q.u JOIN vct cj ON cj.u = q.v
       |       GROUP BY 1, 2, 3, 4, 5, 6),
       |vdp AS (SELECT asset_id, f, bi * 8 + i AS y, bj * 8 + j AS x,
       |          greatest(0, least(255, s)) AS px FROM vr),
       |vs8 AS (SELECT v.asset_id, v.f, si.i AS si, sj.j AS sj, d.px AS p
       |        FROM (SELECT DISTINCT asset_id, f, w, h FROM vfr) v,
       |             range(8) si(i), range(8) sj(j), vdp d
       |        WHERE d.asset_id = v.asset_id AND d.f = v.f
       |          AND d.y = si.i * v.h // 8 AND d.x = sj.j * v.w // 8),
       |vco AS (SELECT asset_id, f, cu.u AS u, cv.u AS v,
       |          CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS fc
       |        FROM vs8 JOIN vct cu ON cu.i = vs8.si
       |                 JOIN vct cv ON cv.i = vs8.sj
       |        GROUP BY 1, 2, 3, 4),
       |vmed AS (SELECT asset_id, f, fc AS med FROM (
       |           SELECT asset_id, f, fc,
       |             row_number() OVER (PARTITION BY asset_id, f ORDER BY fc) AS rn
       |           FROM vco WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
       |vph AS MATERIALIZED (
       |  -- MATERIALIZED: the whole per-frame JPEG decode chain sits above;
       |  -- consumers reference vph several times (filter + dedup legs) and
       |  -- DuckDB would otherwise re-evaluate the chain per reference
       |  SELECT c.asset_id, c.f,
       |          CAST(SUM(CASE WHEN c.fc > m.med
       |                   THEN 1::BIGINT << (c.u * 8 + c.v - 1)
       |                   ELSE 0::BIGINT END) AS BIGINT) AS phash
       |        FROM vco c JOIN vmed m ON m.asset_id = c.asset_id AND m.f = c.f
       |        WHERE NOT (c.u = 0 AND c.v = 0) GROUP BY 1, 2)""".stripMargin
}

object OraclePhash {
  import graft.ops.MultimodalOps.{DocIdStride, PhashCompanionOffset,
    PhashCompanionStep, PhashDct, RotCompanionOffset, RotCompanionStep}

  /** The fixed-point cosine table as VALUES rows — shared with the JPEG
    * oracle (same C = round(cos·2^10) basis). */
  val dctRows: String = (for { u <- 0 until 8; i <- 0 until 8 }
    yield s"($u,$i,${PhashDct(u)(i)})").mkString(",")

  /** pHash chain `phct/phpx/phco/phmed/ph` over a GRID CTE
    * `src(idCol, w, h, vs)` (vs = 1-based full pixel list) — ONE
    * definition consumed by [[CTES]] (the fixture corpus) and the vision
    * curation capstone (filtered grids incl. blurred companions), so the
    * 8x8 sampling, DCT, median rank and bit fold cannot drift. */
  def gridChain(src: String, idCol: String): String =
    s"""phct(u, i, c) AS (SELECT * FROM (VALUES $dctRows) t(u, i, c)),
       |phpx AS (SELECT k.$idCol, ri.i AS i, rj.j AS j,
       |           CAST(k.vs[CAST((ri.i * k.h // 8) * k.w
       |                          + (rj.j * k.w // 8) + 1 AS INT)] AS BIGINT) AS p
       |         FROM $src k, range(8) ri(i), range(8) rj(j)),
       |phco AS (SELECT $idCol, cu.u AS u, cv.u AS v,
       |           CAST(SUM(p * cu.c * cv.c) AS BIGINT) AS f
       |         FROM phpx px JOIN phct cu ON cu.i = px.i
       |                      JOIN phct cv ON cv.i = px.j
       |         GROUP BY 1, 2, 3),
       |phmed AS (SELECT $idCol, f AS med FROM (
       |            SELECT $idCol, f,
       |              row_number() OVER (PARTITION BY $idCol ORDER BY f) AS rn
       |            FROM phco WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
       |ph AS (SELECT c.$idCol,
       |         CAST(SUM(CASE WHEN c.f > m.med
       |                  THEN 1::BIGINT << (c.u * 8 + c.v - 1)
       |                  ELSE 0::BIGINT END) AS BIGINT) AS phash
       |       FROM phco c JOIN phmed m USING ($idCol)
       |       WHERE NOT (c.u = 0 AND c.v = 0) GROUP BY 1)""".stripMargin

  val CTES: String =
    s"""pha AS (SELECT doc_id AS asset_id, text,
       |          CAST(doc_id % 24 + 8 AS INT) AS w,
       |          CAST(doc_id % 16 + 8 AS INT) AS h, 0 AS boost FROM documents
       |        UNION ALL
       |        SELECT doc_id + $PhashCompanionOffset, text,
       |          CAST(doc_id % 24 + 8 AS INT), CAST(doc_id % 16 + 8 AS INT), 16
       |        FROM documents WHERE doc_id % $PhashCompanionStep = 0
       |        UNION ALL
       |        -- rotated TIFF companions: the ORIENTATION-CORRECTED decode
       |        -- restores the base grid bit-exactly (pure permutation on a
       |        -- lossless container), so their pHash replays as the BASE
       |        -- doc's chain verbatim — boost 0, same dims, same text
       |        SELECT doc_id + $RotCompanionOffset, text,
       |          CAST(doc_id % 24 + 8 AS INT), CAST(doc_id % 16 + 8 AS INT), 0
       |        FROM documents
       |        -- modulo the replica stride (the mm_image_blur lesson):
       |        -- the Spark side classifies rid = asset_id % 1e9, and
       |        -- 1e9 % $RotCompanionStep != 0, so raw doc_id % step picks
       |        -- a DIFFERENT companion set on GenScale replica corpora
       |        WHERE (doc_id % $DocIdStride) % $RotCompanionStep = 0),
       |phg AS (SELECT asset_id, w, h,
       |          list_transform(range(0, w * h), i ->
       |            (CASE WHEN length(text) = 0 THEN 0
       |                  ELSE unicode(substr(text,
       |                    CAST(i % length(text) + 1 AS INT), 1)) END)
       |            + boost) AS vs
       |        FROM pha),
       |${gridChain("phg", "asset_id")}""".stripMargin
}
