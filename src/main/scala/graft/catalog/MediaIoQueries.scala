package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{Layout, UrlOps}
import Shared._

/** Scale extensions: media, storage layout, sink round trips and URLs. */
private[graft] object MediaIoQueries {

  val queries: Seq[Query] = Seq(

    Query("layout_compaction", { (s, dir) =>
      // OPTIMIZE planning from metadata only: every document stands in
      // for a small file (bytes = n_chars), packed per source into
      // 4000-byte output bins by sorted next-fit — one window, no
      // sequential state; oversized files isolate by the same arithmetic
      Layout.compactionPlan(
        t(s, dir, "documents").select(col("source"),
          concat(lit("f_"), col("doc_id").cast("string")).as("file"),
          col("n_chars").cast("long").as("bytes")),
        "source", "file", "bytes", targetBytes = 4000L)
    },
      // compaction replay: same (bytes desc, name) window, running-total
      // bin arithmetic, per-bin rollup
      """WITH f AS (SELECT source, 'f_' || CAST(doc_id AS VARCHAR) AS file,
             CAST(n_chars AS BIGINT) AS bytes
           FROM documents),
         c AS (SELECT source, file, bytes,
             sum(bytes) OVER (PARTITION BY source
               ORDER BY bytes DESC, file
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM f)
         SELECT source, CAST((cum - bytes) // 4000 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
         FROM c GROUP BY source, (cum - bytes) // 4000"""),

    Query("layout_partition_prune", { (s, dir) =>
      // hive-partitioned layout round trip: documents written dir-per-lang
      // (one file per dir — repartition first), read back with a partition
      // filter that PRUNES at listing time (LayoutSpec asserts the scan
      // touches 2 of 5 partition dirs). Oracle replays filter+agg on the
      // unpartitioned table — layout must never change answers.
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_layout_pp_" +
        ProcessHandle.current().pid()
      Layout.partitionedWrite(t(s, dir, "documents")
        .select("doc_id", "source", "n_chars", "lang"), root, Seq("lang"))
      Layout.prunedRead(s, root, col("lang").isin("en", "zh"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_sum"))
    },
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
         FROM documents WHERE lang IN ('en', 'zh')
         GROUP BY lang, source"""),

    Query("layout_zorder", { (s, dir) =>
      // Z-order layout audit: interleave (user_id, day) bits, cut the
      // curve into 32 "files", report each file's min/max on BOTH dims —
      // the hypercube-bounds proof that multi-predicate skipping works.
      // ntile over the exact key order keeps bucketing deterministic for
      // the oracle; the production write path is Layout.zorderWrite
      // (repartitionByRange — sampled boundaries, one shuffle).
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("day_off"))
      val keyed = e.withColumn("zkey",
        Layout.zorderKey2(col("user_id"), col("day_off").cast("long"), bits = 8))
      // r17: the former ntile(32) over Window.orderBy(zkey, event_id)
      // moved the WHOLE events table to one task — the one unbounded
      // global window in the declared set. Layout.globalNtile computes
      // the identical bucket ids scalably (per-zkey offsets from the
      // bounded bits=8 histogram + a zkey-partitioned rank window).
      Layout.globalNtile(keyed, col("zkey"), col("event_id"),
          n = 32, outCol = "file_id")
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("day_off").as("min_day"), max("day_off").as("max_day"))
    }, {
      // identical 8-bit Morton interleave, unrolled as SQL bit ops
      val zexpr = (0 until 8).map(i =>
        s"(((user_id >> $i) & 1) << ${2 * i}) | (((day_off >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH e AS (SELECT event_id, user_id,
           date_diff('day', DATE '2024-01-01',
             CAST(make_timestamp(epoch_us(ts)) AS DATE)) AS day_off
           FROM events),
         k AS (SELECT event_id, user_id, day_off, $zexpr AS zkey FROM e),
         b AS (SELECT user_id, day_off,
             ntile(32) OVER (ORDER BY zkey, event_id) AS file_id FROM k)
         SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(day_off) AS min_day, max(day_off) AS max_day
         FROM b GROUP BY file_id"""
    }),

    Query("s9_sink_roundtrip", { (s, dir) =>
      // S9 sink proof the driver can SEE: write partitioned JSONL, read
      // it back with an explicit schema, hash-match the original rows.
      // Round-trips the sink+source pair instead of trusting the spec.
      // pid-suffixed so two concurrent driver sessions never interleave
      // writes into one another's read
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s9_roundtrip_${ProcessHandle.current().pid()}"
      graft.sources.Sinks.writeJsonl(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"), out)
      s.read.schema("doc_id LONG, source STRING, n_chars LONG").json(out)
    },
      "SELECT doc_id, source, n_chars FROM documents"),

    Query("s11_csv_roundtrip", { (s, dir) =>
      // CSV sink+source proof, driver-checked like s9. The corpus has no
      // CSV-hostile bytes, so every 5th doc gets a deterministic injected
      // suffix with a comma, a double quote, and a NEWLINE — the oracle
      // rebuilds the same strings from the original parquet, so the
      // hash only matches if the quote/escape/multiLine dialect
      // round-trips them byte-exactly.
      val hostile = concat(col("text"),
        lit(", \"quoted\"\nline2 of doc "), col("doc_id").cast("string"))
      val src = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("n_chars"),
        when(col("doc_id") % 5 === 0, hostile).otherwise(col("text")).as("text_rt"))
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s11_roundtrip_${ProcessHandle.current().pid()}"
      graft.sources.Sinks.writeCsv(src, out)
      graft.sources.Sources.csvTable(s, out,
        "doc_id LONG, source STRING, n_chars LONG, text_rt STRING")
    },
      """SELECT doc_id, source, n_chars,
           CASE WHEN doc_id % 5 = 0
             THEN text || ', "quoted"' || chr(10) || 'line2 of doc ' || doc_id
             ELSE text END AS text_rt
         FROM documents"""),

    Query("media_probe", { (s, dir) =>
      // multimodal plumbing, driver-checked: synthesized media paths
      // (extension cycles by doc_id), extension→modality routing, exact
      // byte length and content digest of the payload. The decode stage
      // stays an honest stub (no codecs in this container); everything
      // the cluster actually schedules on — schema, routing, sizes,
      // hashes — is real and oracle-checked here.
      val ext = element_at(
        typedlit(Seq(".jpg", ".wav", ".mp4", ".txt", ".png")),
        (col("doc_id") % 5 + 1).cast("int"))
      val path = concat(lit("media/doc_"), col("doc_id").cast("string"), ext)
      t(s, dir, "documents").select(col("doc_id"),
        path.as("path"),
        graft.multimodal.MediaOps.modalityOf(path).as("modality"),
        octet_length(col("text")).as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha"))
    },
      """SELECT doc_id,
           'media/doc_' || CAST(doc_id AS VARCHAR) ||
             (['.jpg','.wav','.mp4','.txt','.png'])[(doc_id % 5) + 1] AS path,
           CASE (doc_id % 5) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             WHEN 2 THEN 'video' WHEN 3 THEN 'other' WHEN 4 THEN 'image' END AS modality,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha
         FROM documents"""),

    Query("media_pipeline", { (s, dir) =>
      // the full multimodal path the cluster schedules — binary payloads
      // → media frame (modality routing) → mapPartitions decode → video
      // frame sampling (explode generator, payload dropped). Audio rows
      // carry REAL synthesized RIFF/WAVE payloads that the decode stage
      // parses byte-level (WavCodec); image/video keep the md5-derived
      // deterministic fake (no codecs in this container). Both paths are
      // hash-checked: the oracle replays the WAV synthesis arithmetic
      // (duration = nSamples/8 ms) and the md5 fake directly in SQL.
      // udf justified: imperative little-endian byte assembly (RIFF
      // header + PCM samples) has no Column-function form.
      val wavUdf = udf((id: Long) =>
        graft.multimodal.WavCodec.synthesize(id, 8000, 800 + (id % 32).toInt * 8))
      val ext = element_at(
        typedlit(Seq(".jpg", ".wav", ".mp4", ".txt", ".png")),
        (col("doc_id") % 5 + 1).cast("int"))
      val bin = t(s, dir, "documents").select(
        concat(lit("media/doc_"), col("doc_id").cast("string"), ext).as("path"),
        when(col("doc_id") % 5 === 1, wavUdf(col("doc_id")))
          .otherwise(col("text").cast("binary")).as("content"))
      val decoded = graft.multimodal.MediaOps.decode(
        graft.multimodal.MediaOps.toMediaFrame(bin))
      graft.multimodal.MediaOps.frameSample(decoded, everyMs = 5000L)
        .select(col("path"), col("modality"), col("frame_idx"),
          col("frame_ts_ms"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.format").as("format"),
          col("meta.duration_ms").as("duration_ms"))
    },
      """WITH m AS (
           SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR) ||
               (['.jpg','.wav','.mp4','.txt','.png'])[(doc_id % 5) + 1] AS path,
             CASE (doc_id % 5) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               WHEN 2 THEN 'video' WHEN 3 THEN 'other' ELSE 'image' END AS modality,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h
           FROM documents),
         d AS (
           SELECT path, modality,
             CASE WHEN modality = 'audio' THEN 8000
                  ELSE CAST(64 + h % 1920 AS INT) END AS width,
             CASE WHEN modality = 'audio' THEN 1
                  ELSE CAST(64 + (h // 2048) % 1080 AS INT) END AS height,
             CASE modality WHEN 'image' THEN 'rgb8' WHEN 'audio' THEN 'pcm16'
               WHEN 'video' THEN 'yuv420' ELSE 'bin' END AS format,
             CAST(CASE WHEN modality = 'image' THEN 0
                  WHEN modality = 'audio' THEN 100 + doc_id % 32
                  ELSE 1000 + (h // 8388608) % 60000 END AS BIGINT) AS duration_ms
           FROM m),
         f AS (
           SELECT *, CAST(floor(greatest(1.0, CASE WHEN modality = 'video'
               THEN duration_ms / 5000.0 ELSE 1.0 END)) AS BIGINT) AS nf
           FROM d)
         SELECT path, modality, CAST(u.fi AS BIGINT) AS frame_idx,
           CAST(u.fi * 5000 AS BIGINT) AS frame_ts_ms,
           width, height, format, duration_ms
         FROM f, unnest(range(f.nf)) AS u(fi)"""),

    Query("media_frame_dedup", { (s, dir) =>
      // cross-video dedup from sampled-frame signatures: the corpus's
      // video slice (doc_id%5==2, media_pipeline's synthesis arithmetic)
      // plus a trimmed re-upload of every 4th clip; re-encodes of
      // identical content share ALL frame sigs (jaccard 1000), trims are
      // contained (overlap 1000, jaccard < 1000). df-capped inverted
      // index — no video-to-video comparison ever materializes.
      val vids = t(s, dir, "documents").filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("text"),
          concat(lit("media/doc_"), col("doc_id").cast("string"),
            lit(".mp4")).as("path"),
          expr("CAST(1000 + (CAST(conv(substr(md5(text), 1, 15), 16, 10) " +
            "AS BIGINT) div 8388608) % 60000 AS BIGINT)").as("duration_ms"))
        .withColumn("nf", floor(greatest(lit(1.0),
          col("duration_ms") / lit(5000.0))).cast("long"))
        .select(col("doc_id"), col("text"), col("path"), col("nf"))
      val withTrims = vids.unionByName(
        vids.filter(col("doc_id") % 20 === 2)
          .select(col("doc_id"), col("text"),
            regexp_replace(col("path"), "\\.mp4$", "_trim.mp4").as("path"),
            greatest(lit(1L), col("nf") - 2).as("nf")))
      val frames = withTrims
        .withColumn("frame_idx", explode(sequence(lit(0L), col("nf") - 1)))
        .select(col("path"),
          substring(md5(concat(md5(col("text").cast("binary")), lit("_"),
            col("frame_idx").cast("string")).cast("binary")), 1, 16)
            .as("frame_sig"))
      graft.multimodal.MediaOps.frameDedupPairs(frames, "path", "frame_sig",
        dfCap = 8, minOverlapMilli = 800L)
    },
      // frame-dedup replay: video synthesis arithmetic (media_pipeline's h
      // and duration), trim twin, per-frame sigs, df cap, pair join and
      // the two integer overlap measures
      """WITH v AS (SELECT doc_id, text,
             'media/doc_' || CAST(doc_id AS VARCHAR) || '.mp4' AS path,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h
           FROM documents WHERE doc_id % 5 = 2),
         n AS (SELECT doc_id, text, path,
             CAST(floor(greatest(1.0,
               CAST(1000 + (h // 8388608) % 60000 AS BIGINT) / 5000.0))
               AS BIGINT) AS nf
           FROM v),
         allv AS (SELECT text, path, nf FROM n
           UNION ALL
           SELECT text, replace(path, '.mp4', '_trim.mp4'),
             greatest(1, nf - 2)
           FROM n WHERE doc_id % 20 = 2),
         fr AS (SELECT DISTINCT path,
             substr(md5(md5(text) || '_' || CAST(u.fi AS VARCHAR)), 1, 16)
               AS sig
           FROM allv, unnest(range(allv.nf)) AS u(fi)),
         dfc AS (SELECT sig FROM fr GROUP BY sig HAVING count(*) <= 8),
         oc AS (SELECT fr.path, fr.sig FROM fr JOIN dfc USING (sig)),
         sz AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM oc
           GROUP BY path),
         pr AS (SELECT a.path AS path_a, b.path AS path_b,
             CAST(count(*) AS BIGINT) AS shared_frames
           FROM oc a JOIN oc b ON a.sig = b.sig AND a.path < b.path
           GROUP BY a.path, b.path)
         SELECT path_a, path_b, shared_frames,
           CAST(1000 * shared_frames // least(sa.n, sb.n) AS BIGINT)
             AS overlap_milli,
           CAST(1000 * shared_frames // (sa.n + sb.n - shared_frames)
             AS BIGINT) AS jaccard_milli
         FROM pr JOIN sz sa ON pr.path_a = sa.path
           JOIN sz sb ON pr.path_b = sb.path
         WHERE 1000 * shared_frames // least(sa.n, sb.n) >= 800"""),

    Query("url_canonicalize", { (s, dir) =>
      // web-corpus address normalization: four raw spellings per page
      // (cased host, default port, tracking params, fragment, dup
      // slashes, unsorted query) must collapse to one canonical form
      val raw = t(s, dir, "documents").select(col("doc_id"),
        rawUrlVariants.as("url"))
      raw.select(col("doc_id"), col("url"),
        UrlOps.canonicalize(col("url")).as("canonical"))
    },
      // the UrlOps.canonicalize rule chain replayed stage by stage:
      // fragment strip, scheme/host lowercase, default-port strip, dup
      // slash collapse, tracking-param filter + bytewise param sort
      s"""WITH raw AS (SELECT doc_id, $urlVariantSql AS url FROM documents),
         $urlCanonCte
         SELECT doc_id, url, canonical FROM canon""")
  )
}
