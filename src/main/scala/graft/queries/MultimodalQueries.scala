package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Multimodal, Similarity, TextOps}

/** Multimodal binary-column queries. The perceptual-hash gates carry
  * REAL images: each document rendered as an 8-bit grayscale PNG and
  * decoded back with `javax.imageio`, the hash computed over decoded
  * pixels (graft.ops.Multimodal.renderPngCorpus / pHashDecoded). The
  * render is a pure function of the (ASCII) text and PNG is lossless,
  * so the DuckDB oracle recomputes the expected hash from the text
  * column — a hash-green gate certifies the encode→decode roundtrip
  * pixel-for-pixel, and the decoded-resize gate extends it to a real
  * decode → pixel-area downscale → re-encode chain. Rendered payloads
  * live in persisted content-keyed media stores ([[mediaStore]]) built
  * untimed with the other store builds: in a real pipeline the binary
  * payloads ARE the source data, so the gates read stored bytes and
  * pay decode — the actual operator — not synthesis. The
  * features/resize/frames gates keep byte-level payloads (UTF-8 bytes
  * of the text) exercising the binary plumbing for formats with no
  * JDK codec. */
object MultimodalQueries {

  /** DuckDB CTE pair computing the 60-bit audio-energy fingerprint of
    * `textExpr` — the arithmetic the decoded-PCM path lands on
    * (Multimodal.AudioSamples: sample j = (char at (j·len)/600 − 128)
    * ·256, frame k = Σ|sample| over [10k, 10k+10), bit k = frame
    * energy above the mean). Emits `<p>e(doc_id, es)` and
    * `<p>h(doc_id, <hcol>)`. */
  private def audioFpCtes(src: String, textExpr: String, p: String,
                          hcol: String): String =
    s"""${p}e AS (SELECT doc_id, list_transform(range(0, 60),
       |    k -> CAST(list_sum(list_transform(range(10 * k, 10 * k + 10),
       |      j -> abs((ord(substr(t, 1 + (j * length(t)) // 600, 1))
       |           - 128) * 256))) AS BIGINT)) AS es
       |  FROM (SELECT doc_id, $textExpr AS t FROM $src)),
       |${p}h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
       |    k -> CASE WHEN es[k + 1] * 60 > list_sum(es)
       |      THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS $hcol FROM ${p}e)""".stripMargin

  /** DuckDB CTE pair computing the 60-bit average-hash of `textExpr`
    * — the same arithmetic the decoded-pixel path lands on (see
    * Multimodal.RenderW: 300 pixels, sample k = pixel 5k = text char
    * (k·len)/60). Emits `<p>s(doc_id, bs)` and `<p>h(doc_id, <hcol>)`. */
  private def phashCtes(src: String, textExpr: String, p: String,
                        hcol: String): String =
    s"""${p}s AS (SELECT doc_id, list_transform(range(0, 60),
       |    k -> ord(substr(t, 1 + (k * length(t)) // 60, 1))) AS bs
       |  FROM (SELECT doc_id, $textExpr AS t FROM $src)),
       |${p}h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
       |    k -> CASE WHEN bs[k + 1] * 60 > list_sum(bs)
       |      THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS $hcol FROM ${p}s)""".stripMargin

  /** Planted-twin id offset shared by the media gates and every
    * oracle's id arithmetic. */
  private val TwinOffset = 3000000L

  /** The planted media near-dup corpus as DuckDB CTEs: docs of >= 60
    * chars (`base`) plus a one-char-splice twin of each at
    * doc_id + [[TwinOffset]] (`corpus`). */
  private val spliceTwinsSql =
    """base AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 60),
      |corpus AS (SELECT doc_id, text FROM base
      |  UNION ALL SELECT doc_id + 3000000,
      |    concat(substr(text, 1, 9), 'Z', substr(text, 11))
      |  FROM base)""".stripMargin

  /** The stored media lake: rendered payloads persisted ONCE per
    * fixture as a content-keyed CTAS — in a real pipeline the binary
    * payloads ARE the source data, so queries read stored bytes and
    * pay DECODE (the actual operator), not synthesis; the render here
    * is fixture manufacturing and runs untimed with the other store
    * builds. Originals (every doc with ≥1 byte) keep their doc_id;
    * planted one-char splice twins — built only for docs with a
    * stable 60-byte hash grid — are stored at doc_id + 3000000.
    * `n_chars` carries the source text length for downstream grid
    * filters. */
  private def mediaStore(s: SparkSession, d: String, kind: String,
      render: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, ver: String = "v1"): String = {
    val tbl = s"media_${kind}_" +
      Sinks.contentKey(d, "documents.parquet", s"media$kind|$ver")
    graft.ops.StoreGuard.table(s, tbl) {
      val base = documents(s, d).filter(length(col("text")) >= 1)
        .select("doc_id", "text")
      val twins = documents(s, d).filter(length(col("text")) >= 60)
        .select((col("doc_id") + TwinOffset).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("text"))
      val all = base.unionByName(twins)
      render(all).select("doc_id", "payload")
        .join(all.select(col("doc_id"),
          length(col("text")).cast("int").as("n_chars")), "doc_id")
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  private def mediaPngTable(s: SparkSession, d: String): String =
    mediaStore(s, d, "png", Multimodal.renderPngCorpus)

  /** The media lake as it actually lands: one image FILE per doc
    * (content-keyed dir, executor-side writes with atomic member
    * renames — the WarcSink discipline; on a cluster this dir is
    * shared storage). Front door for the `binaryFile` source gate.
    *
    * SHARDED, and a registered prepare, since the sf10 sweep: the v1
    * layout wrote every member into ONE flat directory, inside the
    * gate body. At 5k files that is invisible; at 500k files the
    * local filesystem serializes every create/rename on the single
    * directory's lock and the gate blew a 900 s watchdog — the same
    * reason real object-store lakes spread keys across prefixes.
    * Members now land in 256 `shard=NN/` subdirectories (doc_id mod
    * 256, ~2k files each at sf10), and the materialization itself is
    * fixture manufacturing (the lake EXISTS before anyone queries
    * it), so it runs with the other untimed store builds via
    * [[prepares]]; the timed gate pays listing + read + decode — the
    * actual operator. */
  private val MediaShards = 256
  private def mediaFilesDir(s: SparkSession, d: String): String =
    graft.ops.StoreGuard.directory("graft_mediafiles_" +
        Sinks.contentKey(d, "documents.parquet", "mediafiles|v2")) { path =>
      (0 until MediaShards).foreach { sh =>
        new java.io.File(path, f"shard=$sh%03d").mkdirs()
      }
      s.table(mediaPngTable(s, d))
        .filter(col("doc_id") < TwinOffset)
        .select("doc_id", "payload")
        .foreachPartition {
          (rows: Iterator[org.apache.spark.sql.Row]) =>
            rows.foreach { r =>
              val id = r.getLong(0)
              val shard = new java.io.File(path,
                f"shard=${(id % MediaShards).toInt}%03d")
              val tmp = new java.io.File(shard, s".doc_$id.png.tmp")
              java.nio.file.Files.write(tmp.toPath,
                r.getAs[Array[Byte]](1))
              // throws on failure — a silently missing member would
              // poison the marker-guarded dir until manually deleted
              java.nio.file.Files.move(tmp.toPath,
                new java.io.File(shard, s"doc_$id.png").toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
        }
    }
  private def mediaWavTable(s: SparkSession, d: String): String =
    mediaStore(s, d, "wav", Multimodal.renderWavCorpus)
  private def mediaGifTable(s: SparkSession, d: String): String =
    mediaStore(s, d, "gif", Multimodal.renderGifCorpus, ver = "v3")

  /** Persisted banded phash index over the media corpus (originals
    * with doc_id < 400 — the "existing corpus" of the incremental
    * path): (doc_id, phash, band, key) rows from decoded stored
    * payloads, content-keyed (single CTAS — the catalog entry is its
    * own completion marker). At corpus scale this table is
    * partitioned/bucketed by (band, key) so probes prune to touched
    * buckets; batches append their banded rows — appending IS the
    * index merge, as in the inverted-index store. */
  private def phashIndexTable(s: SparkSession, d: String): String = {
    val srcT = mediaPngTable(s, d)
    val tbl = "phash_idx_" +
      Sinks.contentKey(d, "documents.parquet", "phashix|v2")
    graft.ops.StoreGuard.table(s, tbl) {
      Multimodal.bandedPhash(
          Multimodal.pHashDecoded(s.table(srcT)
            .filter(col("doc_id") < 400 && col("n_chars") >= 60)).toDF())
        .write.format("parquet").mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** Dedicated banded phash index for the takedown gate (the shared
    * [[phashIndexTable]] must stay untouched — other gates probe it),
    * with every corpus doc_id % 7 == 0 tombstoned at build time via
    * the shared [[graft.ops.Tombstones]] lifecycle. Partitioned by
    * band (4 partitions), the layout the index doc prescribes at
    * corpus scale — which also routes the compaction path through the
    * partitioned two-phase swap. The guard re-runs the whole block
    * on a half-built store; re-delivered tombstones are harmless
    * (readers anti-join). */
  private def phashTdIndexTable(s: SparkSession, d: String): String = {
    val srcT = mediaPngTable(s, d)
    val tbl = "phash_td_" +
      Sinks.contentKey(d, "documents.parquet", "phashtd|v1")
    graft.ops.StoreGuard.tables(s, s"${tbl}_ok",
      writes = Seq(tbl, graft.ops.Tombstones.table(tbl))) {
      Multimodal.bandedPhash(
          Multimodal.pHashDecoded(s.table(srcT)
            .filter(col("doc_id") < 400 && col("n_chars") >= 60)).toDF())
        .write.format("parquet").mode("overwrite")
        .partitionBy("band").saveAsTable(tbl)
      Multimodal.phashTakedown(
        s.table(tbl).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(7)) === 0).distinct(), tbl)
    }
    tbl
  }

  /** One-time content-addressed store builds (untimed in the bench
    * harness via [[Registry.prepares]] — paid per corpus refresh, not
    * per session). */
  def prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "media_png_store" -> ((s, d) => { mediaPngTable(s, d); () }),
    "media_files_dir" -> ((s, d) => { mediaFilesDir(s, d); () }),
    "media_wav_store" -> ((s, d) => { mediaWavTable(s, d); () }),
    "media_gif_store" -> ((s, d) => { mediaGifTable(s, d); () }),
    "phash_index" -> ((s, d) => { phashIndexTable(s, d); () }),
    "phash_takedown_index" -> ((s, d) => { phashTdIndexTable(s, d); () }))

  def all: Seq[Q] = Seq(

    Q("q_multimodal_features",
      (s, d) => Multimodal.extractFeatures(
          Multimodal.binaryCorpus(documents(s, d)))
        .toDF().orderBy("doc_id"),
      Some("""
        |WITH f AS (SELECT doc_id, length(text) AS n_bytes,
        |    ord(substr(text, 1, 1)) AS first_byte,
        |    ord(substr(text, length(text), 1)) AS last_byte,
        |    CAST(list_sum(list_transform(range(1, length(text) + 1),
        |      i -> ord(substr(text, i, 1)))) AS BIGINT) AS checksum
        |  FROM documents)
        |SELECT doc_id, n_bytes, first_byte, last_byte, checksum,
        |  CAST(checksum % 640 AS INTEGER) AS width,
        |  CAST(checksum % 480 AS INTEGER) AS height
        |FROM f ORDER BY doc_id
        |""".stripMargin.trim)),

    // resize stub: every-4th-byte downsample; oracle recomputes the
    // same downsample from the text characters (payload = ASCII bytes)
    Q("q_multimodal_resize",
      (s, d) => Multimodal.resizeStub(
          Multimodal.binaryCorpus(documents(s, d)), everyK = 4)
        .toDF().orderBy("doc_id"),
      Some("""
        |SELECT doc_id, length(text) AS n_bytes,
        |  len(range(1, length(text) + 1, 4)) AS n_bytes_resized,
        |  md5(array_to_string(list_transform(
        |    range(1, length(text) + 1, 4),
        |    i -> substr(text, i, 1)), '')) AS fp_resized
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    Q("q_multimodal_frames",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.binaryCorpus(documents(s, d)),
          frameBytes = 32, everyK = 2)
        .select("doc_id", "frame_idx", "frame_bytes")
        .orderBy("doc_id", "frame_idx"),
      Some("""
        |WITH n AS (SELECT doc_id, length(text) AS len,
        |    CAST(ceil(length(text) / 32.0) AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT doc_id, i AS frame_idx,
        |  least(32, len - i * 32) AS frame_bytes
        |FROM n, LATERAL (SELECT unnest(range(0, n_frames)) AS i)
        |WHERE i % 2 = 0 ORDER BY doc_id, frame_idx
        |""".stripMargin.trim)),

    // ---- REAL decoded features --------------------------------------
    // Feature extraction over genuinely decoded images: geometry and
    // first-band pixel statistics from ImageIO rasters of the stored
    // PNGs. The oracle replays the decode from the text (pixel p =
    // char at (p*len)//300), so width/height/sum/mean pin the codec
    // chain value-for-value.
    Q("q_multimodal_features_decoded",
      (s, d) => {
        val pngs = s.table(mediaPngTable(s, d))
          .filter(col("doc_id") < TwinOffset)
        Multimodal.extractFeaturesDecoded(pngs).toDF().orderBy("doc_id")
      },
      Some("""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |px AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 300),
        |    p -> ord(substr(text, 1 + (p * length(text)) // 300, 1))))
        |    AS BIGINT) AS pixel_sum
        |  FROM base)
        |SELECT doc_id, 20 AS width, 15 AS height, 300 AS n_pixels,
        |  pixel_sum, CAST(pixel_sum // 300 AS INTEGER) AS mean_pixel
        |FROM px ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- REAL pixel resize over decoded images ----------------------
    // Each document's rendered 20x15 PNG is DECODED back with
    // javax.imageio and downscaled to 5x5 by integer pixel-area
    // averaging (blocks of 4x3, floor mean), then re-encoded. Every
    // step is integer arithmetic over decoded pixels, so the oracle
    // replays decode->resize straight from the text (pixel p = char at
    // (p*len)//300) and the md5 over the comma-joined output pixels
    // pins the whole chain — a one-pixel decode or block-mapping
    // deviation changes the fingerprint.
    Q("q_multimodal_resize_decoded",
      (s, d) => {
        val pngs = s.table(mediaPngTable(s, d))
          .filter(col("doc_id") < TwinOffset)
        Multimodal.resizeDecoded(pngs, outW = 5, outH = 5)
          .toDF()
          .select("doc_id", "w_in", "h_in", "w_out", "h_out", "fp_resized")
          .orderBy("doc_id")
      },
      Some("""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |px AS (SELECT doc_id, list_transform(range(0, 300),
        |    p -> ord(substr(text, 1 + (p * length(text)) // 300, 1))) AS ps
        |  FROM base),
        |r AS (SELECT doc_id, list_transform(range(0, 25), q ->
        |    list_sum(list_transform(range(0, 12), b ->
        |      ps[1 + ((q // 5) * 3 + b // 4) * 20 + (q % 5) * 4 + b % 4]))
        |    // 12) AS ms FROM px)
        |SELECT doc_id, 20 AS w_in, 15 AS h_in, 5 AS w_out, 5 AS h_out,
        |  md5(array_to_string(ms, ',')) AS fp_resized
        |FROM r ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- perceptual-hash near-dup over REAL decoded images ----------
    // Planted twins (one char spliced at a fixed offset, length
    // preserved), rendered to grayscale PNGs, DECODED back with
    // javax.imageio, and average-hashed over the decoded pixels;
    // banded candidate join (complete for hamming <= 3) + exact
    // bit_count verify. The oracle recomputes the expected hash from
    // the text (the render is a pure text function and PNG is
    // lossless) and does the all-pairs compare the banded form avoids
    // — pinning BOTH candidate completeness and the codec roundtrip.
    Q("q_multimodal_phash_neardup",
      (s, d) => {
        val pngs = s.table(mediaPngTable(s, d))
          .filter(col("n_chars") >= 60)
        val hashes = Multimodal.pHashDecoded(pngs).toDF()
        Multimodal.phashNearDup(hashes, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        |WITH $spliceTwinsSql,
        |${phashCtes("corpus", "text", "p", "phash")}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  AND bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY id_a, id_b
        |""".stripMargin.trim)),

    // ---- decode-recall companion: every planted twin, directly ------
    // For EVERY planted pair (base, Z-spliced twin), both sides go
    // through the full render -> PNG encode -> ImageIO decode -> hash
    // chain and the pair's exact hamming is emitted with its
    // detected-at-3 verdict — the planted-transform recall gate
    // (q_simhash_detected's role for the image path). One bad decode
    // on either side flips a hash bit somewhere and the oracle's
    // text-derived hamming stops matching.
    Q("q_multimodal_decode_recall",
      (s, d) => {
        val store = s.table(mediaPngTable(s, d))
          .filter(col("n_chars") >= 60)
        val hb = Multimodal.pHashDecoded(
            store.filter(col("doc_id") < TwinOffset))
          .toDF().select(col("doc_id"), col("phash").as("h_a"))
        val ht = Multimodal.pHashDecoded(
            store.filter(col("doc_id") >= TwinOffset))
          .toDF().select((col("doc_id") - TwinOffset).as("doc_id"),
            col("phash").as("h_b"))
        hb.join(ht, "doc_id")
          .withColumn("hamming", bit_count(expr("h_a ^ h_b")).cast("long"))
          .withColumn("detected", col("hamming") <= 3)
          .select("doc_id", "hamming", "detected")
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 60),
        |${phashCtes("base", "text", "ta", "h_a")},
        |${phashCtes(
              "base", "concat(substr(text, 1, 9), 'Z', substr(text, 11))",
              "tb", "h_b")}
        |SELECT a.doc_id,
        |  CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming,
        |  bit_count(xor(h_a, h_b)) <= 3 AS detected
        |FROM tah a JOIN tbh b USING (doc_id) ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- cross-modal paired curation (image x caption) ---------------
    // The multimodal-training-set operator the media and text families
    // meet at (r12 verdict item 4): (image, caption) PAIRS are the
    // unit, and curation must flag pairs whose two modalities
    // disagree. Image near-dup comes from the banded-phash chain over
    // STORED decoded PNGs; caption near-dup from the MinHash-LSH +
    // exact-Jaccard chain — the same two cluster chains the dedup
    // gates pin individually. A pair of pairs sharing a near-dup
    // image but NOT a near-dup caption is a caption conflict (same
    // picture, contradictory descriptions — a labeling defect);
    // sharing a near-dup caption but NOT a near-dup image is an image
    // conflict (stock caption pasted across different pictures). The
    // planted universe: consistent pairs (doc, its render), the
    // stored Z-splice twins (near image + near caption — consistent),
    // a %7 tranche pairing the SAME stored image with reversed-token
    // captions, and a %5 tranche pairing the SAME caption with the
    // NEXT doc's stored image. Both anti-joins are pair-keyed over
    // the two chains' bounded near-dup lists; at 100 TB both chains
    // read their persisted banded stores and nothing else moves. The
    // oracle replays BOTH chains from first principles (text-derived
    // phash + brute-force all-pairs Jaccard).
    Q("q_multimodal_paired_curation",
      (s, d) => {
        val store = s.table(mediaPngTable(s, d))
        val base = documents(s, d)
          .filter(length(col("text")) >= 60 && col("doc_id") < 400)
          .select(col("doc_id"), col("text"))
        val toks = TextOps.tokens(col("text"))
        val p = base.select(col("doc_id").as("pair_id"),
          col("doc_id").as("img_id"), col("text").as("caption"))
        val t = base.select((col("doc_id") + TwinOffset).as("pair_id"),
          (col("doc_id") + TwinOffset).as("img_id"),
          concat(substring(col("text"), 1, 9), lit("Z"),
            expr("substring(text, 11)")).as("caption"))
        val u = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 7000000L).as("pair_id"),
            col("doc_id").as("img_id"),
            array_join(reverse(toks), " ").as("caption"))
        val v = base.as("a")
          .join(base.select(col("doc_id").as("nid")).as("b"),
            col("a.doc_id") + 5 === col("b.nid"))
          .filter(col("a.doc_id") % 5 === 0)
          .select((col("a.doc_id") + 5000000L).as("pair_id"),
            col("b.nid").as("img_id"), col("a.text").as("caption"))
        val pairs = p.unionByName(t).unionByName(u).unionByName(v)
          .transform(graft.ops.Checkpoints.spill) // 3 consumers: img-id distinct, the
          // hash join-back, and the caption shingle chain
        val imgIds = pairs.select(col("img_id")).distinct()
        val hashes = Multimodal.pHashDecoded(
            store.join(imgIds, store("doc_id") === imgIds("img_id"))
              .select(store("doc_id"), col("payload"))).toDF()
          .select(col("doc_id").as("img_id"), col("phash"))
        val pairHashes = pairs
          .join(hashes, Seq("img_id"))
          .select(col("pair_id").as("doc_id"), col("phash"))
        val imgPairs = Multimodal.phashNearDup(pairHashes,
            maxHamming = 3)
          .select("id_a", "id_b")
        val capPairs = Similarity.nearDupPairs(
            pairs.select(col("pair_id").as("id"),
                TextOps.wordShingles(col("caption"), 3).as("shingles"))
              .filter(size(col("shingles")) > 0),
            k = 32, bands = 16, thresholdMilli = 800)
          .select("id_a", "id_b")
        imgPairs.join(capPairs, Seq("id_a", "id_b"), "left_anti")
          .withColumn("flag", lit("caption_conflict"))
          .unionByName(
            capPairs.join(imgPairs, Seq("id_a", "id_b"), "left_anti")
              .withColumn("flag", lit("image_conflict")))
          .orderBy("flag", "id_a", "id_b")
      },
      Some(s"""
        |WITH mp_base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 60 AND doc_id < 400),
        |mp_pairs AS (
        |  SELECT doc_id AS pair_id, doc_id AS img_id, text AS caption
        |    FROM mp_base
        |  UNION ALL SELECT doc_id + 3000000, doc_id + 3000000,
        |    concat(substr(text, 1, 9), 'Z', substr(text, 11))
        |    FROM mp_base
        |  UNION ALL SELECT doc_id + 7000000, doc_id, array_to_string(
        |      list_reverse(string_split_regex(trim(text),
        |        '[ \\t\\n\\r\\f]+')), ' ')
        |    FROM mp_base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT a.doc_id + 5000000, b.doc_id, a.text
        |    FROM mp_base a JOIN mp_base b ON b.doc_id = a.doc_id + 5
        |    WHERE a.doc_id % 5 = 0),
        |mp_imgsrc AS (
        |  SELECT doc_id, text FROM mp_base
        |  UNION ALL SELECT doc_id + 3000000,
        |    concat(substr(text, 1, 9), 'Z', substr(text, 11))
        |    FROM mp_base),
        |${phashCtes("mp_imgsrc", "text", "mpi", "phash")},
        |mp_ph AS (SELECT p.pair_id, h.phash
        |  FROM mp_pairs p JOIN mpih h ON h.doc_id = p.img_id),
        |mp_img AS (SELECT a.pair_id AS id_a, b.pair_id AS id_b
        |  FROM mp_ph a JOIN mp_ph b ON a.pair_id < b.pair_id
        |   AND bit_count(xor(a.phash, b.phash)) <= 3),
        |mp_sh AS (SELECT pair_id AS id, list_distinct(list_transform(
        |    range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    AS shingles
        |  FROM (SELECT pair_id, string_split_regex(trim(caption),
        |      '[ \\t\\n\\r\\f]+') AS toks FROM mp_pairs)
        |  WHERE len(toks) >= 3),
        |mp_capcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM (SELECT id, unnest(shingles) AS s FROM mp_sh) a
        |  JOIN (SELECT id, unnest(shingles) AS s FROM mp_sh) b
        |    ON a.s = b.s AND a.id < b.id),
        |mp_cap AS (SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b, floor(1000.0
        |        * len(list_intersect(sa.shingles, sb.shingles))
        |        / (len(sa.shingles) + len(sb.shingles)
        |           - len(list_intersect(sa.shingles, sb.shingles)))
        |        + 0.5) AS jm
        |    FROM mp_capcand JOIN mp_sh sa ON sa.id = mp_capcand.id_a
        |    JOIN mp_sh sb ON sb.id = mp_capcand.id_b)
        |  WHERE jm >= 800)
        |SELECT id_a, id_b, 'caption_conflict' AS flag FROM mp_img i
        |  WHERE NOT EXISTS (SELECT 1 FROM mp_cap c
        |    WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
        |UNION ALL
        |SELECT id_a, id_b, 'image_conflict' AS flag FROM mp_cap c
        |  WHERE NOT EXISTS (SELECT 1 FROM mp_img i
        |    WHERE i.id_a = c.id_a AND i.id_b = c.id_b)
        |ORDER BY flag, id_a, id_b
        |""".stripMargin.trim)),

    // ---- audio fingerprint over REAL decoded WAVs -------------------
    // The audio twin of the PNG chain: each document rendered as a
    // genuine 16-bit PCM WAV, parsed back through
    // javax.sound.sampled.AudioSystem, and fingerprinted by decoded
    // frame energies. PCM is lossless and the render is a pure text
    // function, so the oracle pins the whole container roundtrip —
    // a mis-parsed header or sample misalignment flips energy bits
    // and the hash stops matching.
    Q("q_multimodal_audio_fp",
      (s, d) => {
        val wavs = s.table(mediaWavTable(s, d))
          .filter(col("doc_id") < TwinOffset)
        Multimodal.audioFingerprint(wavs).toDF().orderBy("doc_id")
      },
      Some(s"""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |${audioFpCtes("base", "text", "w", "afp")}
        |SELECT doc_id, afp FROM wh ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- audio near-dup: banded join over decoded fingerprints ------
    // Planted one-char splice twins through the full WAV
    // render/decode/energy chain, then the SAME 4x15 banded candidate
    // join as the image path (one 60-bit hash space, one banding
    // proof). Oracle does the all-pairs compare.
    Q("q_multimodal_audio_neardup",
      (s, d) => {
        val wavs = s.table(mediaWavTable(s, d))
          .filter(col("n_chars") >= 60)
        val hashes = Multimodal.audioFingerprint(wavs)
          .toDF().select(col("doc_id"), col("afp").as("phash"))
        Multimodal.phashNearDup(hashes, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        |WITH $spliceTwinsSql,
        |${audioFpCtes("corpus", "text", "w", "afp")}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
        |FROM wh a JOIN wh b ON a.doc_id < b.doc_id
        |  AND bit_count(xor(a.afp, b.afp)) <= 3
        |ORDER BY id_a, id_b
        |""".stripMargin.trim)),

    // ---- media dedup end-to-end: pairs -> clusters -> keep-one ------
    // The stage that turns detected image near-dups back into a
    // deduplicated media corpus: banded pair detection over decoded
    // pixels, distributed min-label connected components (A~B, B~C =>
    // {A,B,C}), one representative per cluster (min doc_id — the
    // original wins over its planted +3000000 twin). Pure composition
    // of owned ops; the oracle replays hashes from the text, resolves
    // components with a recursive CTE, and picks the same
    // representative.
    Q("q_multimodal_dedup",
      (s, d) => {
        val pngs = s.table(mediaPngTable(s, d))
          .filter(col("n_chars") >= 60)
        val hashes = Multimodal.pHashDecoded(pngs).toDF()
        val pairs = Multimodal.phashNearDup(hashes, maxHamming = 3)
        val comps = graft.ops.Components.connectedComponents(
          pairs.select("id_a", "id_b"))
        val scored = pngs.select(col("doc_id").as("id"),
          col("doc_id").as("score"))
        graft.ops.Components.representatives(comps, scored, "id", "score")
          .orderBy("component")
      },
      Some(s"""
        |WITH RECURSIVE $spliceTwinsSql,
        |${phashCtes("corpus", "text", "p", "phash")},
        |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |    AND bit_count(xor(a.phash, b.phash)) <= 3),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM e
        |        UNION ALL SELECT id_b AS src, id_a AS dst FROM e),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT component, min(id) AS rep_id, count(*) AS members
        |FROM comp GROUP BY component ORDER BY component
        |""".stripMargin.trim)),

    // ---- video frame sampling over REAL multi-frame containers ------
    // Each document stored as a genuine 4-frame animated GIF (frame f
    // renders the text's f-th quarter-window); the gate parses the
    // container with an ImageReader sequence, keeps every 2nd frame,
    // and fingerprints each kept frame's DECODED pixels — the
    // frame-sample + scene-fingerprint access pattern on a real video
    // container. GIF's gray palette makes the roundtrip pixel-exact,
    // so the oracle replays every kept frame's hash from the text
    // windows — a mis-parsed frame boundary or palette deviation
    // flips bits and the hash stops matching.
    Q("q_multimodal_video_frames",
      (s, d) => {
        val gifs = s.table(mediaGifTable(s, d))
          .filter(col("doc_id") < TwinOffset)
        Multimodal.frameHashes(gifs, everyK = 2).toDF()
          .orderBy("doc_id", "frame_idx")
      },
      Some("""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |fe AS (SELECT doc_id, f, list_transform(range(0, 60),
        |    k -> ord(substr(text,
        |      1 + ((f * 300 + 5 * k) * length(text)) // 1200, 1))) AS bs
        |  FROM base, (VALUES (0), (2)) frames(f)),
        |fh AS (SELECT doc_id, f, CAST(list_sum(list_transform(range(0, 60),
        |    k -> CASE WHEN bs[k + 1] * 60 > list_sum(bs)
        |      THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS fhash FROM fe)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, fhash FROM fh
        |ORDER BY doc_id, frame_idx
        |""".stripMargin.trim)),

    // ---- video near-dup over REAL decoded frames (r11 verdict 5) ----
    // The scene-level near-dup a video pipeline runs: corpus = stored
    // animated GIFs of docs < 400, batch = the stored one-char splice
    // TWINS of docs < 80 — both sides genuinely container-decoded
    // (ImageReader sequence, every frame), per-frame average-hashed,
    // banded, and joined at the same timeline position; a pair is a
    // near-dup when >= 3 of its 4 aligned frames verify within
    // hamming 3. The oracle replays every frame hash from the text
    // windows (the pixel-exact GIF roundtrip, as q_multimodal_video
    // _frames) and brute-forces ALL (twin, corpus) frame pairs — so
    // it also re-proves banding completeness at hamming <= 3: a
    // banding that lost a qualifying frame would undercount
    // n_frames_matched and hash-fail.
    Q("q_multimodal_video_neardup",
      (s, d) => {
        val store = s.table(mediaGifTable(s, d))
        val corpus = store
          .filter(col("doc_id") < 400 && col("n_chars") >= 60)
        val batch = store
          .filter(col("doc_id") >= TwinOffset &&
            col("doc_id") - TwinOffset < 80 && col("n_chars") >= 60)
        Multimodal.videoNearDup(
            Multimodal.frameHashes(batch).toDF(),
            Multimodal.frameHashes(corpus).toDF(),
            maxHamming = 3, minFrames = 3)
          .orderBy("id_new", "id_corpus")
      },
      Some("""
        |WITH corpus AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 60 AND doc_id < 400),
        |batch AS (SELECT doc_id + 3000000 AS doc_id,
        |    concat(substr(text, 1, 9), 'Z', substr(text, 11)) AS text
        |  FROM documents WHERE length(text) >= 60 AND doc_id < 80),
        |cfe AS (SELECT doc_id, f, list_transform(range(0, 60),
        |    k -> ord(substr(text,
        |      1 + ((f * 300 + 5 * k) * length(text)) // 1200, 1))) AS bs
        |  FROM corpus, (VALUES (0), (1), (2), (3)) frames(f)),
        |cfh AS (SELECT doc_id, f, CAST(list_sum(list_transform(range(0, 60),
        |    k -> CASE WHEN bs[k + 1] * 60 > list_sum(bs)
        |      THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS fhash FROM cfe),
        |bfe AS (SELECT doc_id, f, list_transform(range(0, 60),
        |    k -> ord(substr(text,
        |      1 + ((f * 300 + 5 * k) * length(text)) // 1200, 1))) AS bs
        |  FROM batch, (VALUES (0), (1), (2), (3)) frames(f)),
        |bfh AS (SELECT doc_id, f, CAST(list_sum(list_transform(range(0, 60),
        |    k -> CASE WHEN bs[k + 1] * 60 > list_sum(bs)
        |      THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS fhash FROM bfe),
        |m AS (SELECT b.doc_id AS id_new, c.doc_id AS id_corpus, b.f
        |  FROM bfh b JOIN cfh c ON b.f = c.f
        |    AND bit_count(xor(b.fhash, c.fhash)) <= 3)
        |SELECT id_new, id_corpus,
        |  CAST(count(*) AS BIGINT) AS n_frames_matched
        |FROM m GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_new, id_corpus
        |""".stripMargin.trim)),

    // ---- binaryFile-source ingest: files on disk -> decode chain ----
    // Spark's `binaryFile` source is the media lake's real front door
    // ---- magic-byte format sniffing over a mixed blob column --------
    // Every 8th-class payload carries a different planted container
    // signature (PNG / JPEG / GIF / RIFF+WAVE / gzip / PDF / ID3, and
    // one class of RAW text); sniffFormat must route each by its
    // leading bytes alone. The oracle recomputes the plant rule — and
    // for the raw-text class REPLAYS the ASCII-representable
    // signatures over the text prefix (GIF8/%PDF/ID3/RIFF can occur in
    // genuine text; the non-ASCII magics cannot start valid UTF-8), so
    // a sniffer that guessed instead of reading bytes hash-fails.
    // Pure per-row prefix work: substring keeps ≤ 12 bytes, hex never
    // sees the payload body.
    Q("q_media_sniff",
      (s, d) => {
        val text = encode(col("text"), "UTF-8")
        val payload = when(col("doc_id") % 8 === 0,
            concat(unhex(lit("89504E470D0A1A0A")), text))
          .when(col("doc_id") % 8 === 1, concat(unhex(lit("FFD8FFE0")), text))
          .when(col("doc_id") % 8 === 2,
            concat(unhex(lit("474946383961")), text))
          .when(col("doc_id") % 8 === 3,
            concat(unhex(lit("524946460A00000057415645")), text))
          .when(col("doc_id") % 8 === 4, concat(unhex(lit("1F8B08")), text))
          .when(col("doc_id") % 8 === 5, concat(unhex(lit("25504446")), text))
          .when(col("doc_id") % 8 === 6, concat(unhex(lit("494433")), text))
          .otherwise(text)
        documents(s, d)
          .select(col("doc_id"), payload.as("payload"))
          .select(col("doc_id"),
            Multimodal.sniffFormat(col("payload")).as("format"))
          .orderBy("doc_id")
      },
      Some("""
        |SELECT doc_id, CASE doc_id % 8
        |  WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        |  WHEN 3 THEN 'wav' WHEN 4 THEN 'gzip' WHEN 5 THEN 'pdf'
        |  WHEN 6 THEN 'mp3'
        |  ELSE (CASE
        |    WHEN substr(text, 1, 6) IN ('GIF87a', 'GIF89a') THEN 'gif'
        |    WHEN substr(text, 1, 4) = 'RIFF' AND
        |         substr(text, 9, 4) = 'WAVE' THEN 'wav'
        |    WHEN substr(text, 1, 4) = 'RIFF' AND
        |         substr(text, 9, 4) = 'AVI ' THEN 'avi'
        |    WHEN substr(text, 1, 4) = '%PDF' THEN 'pdf'
        |    WHEN substr(text, 1, 3) = 'ID3' THEN 'mp3'
        |    ELSE 'unknown' END)
        |  END AS format
        |FROM documents ORDER BY doc_id
        |""".stripMargin.trim)),

    // (one image file per asset): list the directory, parse the asset
    // id from the filename, run the SAME typed decode+hash path over
    // file-sourced bytes. The oracle is the text-derived hash chain,
    // so file write → listing → id parse → decode are all pinned.
    Q("q_binaryfile_ingest",
      (s, d) => {
        val dir = mediaFilesDir(s, d)
        val bin = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .option("recursiveFileLookup", "true").load(dir)
          .select(regexp_extract(col("path"), "doc_([0-9]+)\\.png$", 1)
            .cast("long").as("doc_id"),
            col("content").as("payload"))
        Multimodal.pHashDecoded(bin).toDF().orderBy("doc_id")
      },
      Some(s"""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |${phashCtes("base", "text", "p", "phash")}
        |SELECT doc_id, phash FROM ph ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- streaming media ingest: decode + fingerprint in-stream -----
    // The media lake's arrival path: new payloads land as files and
    // are decoded + fingerprinted AS A STREAM (readStream over the
    // stored PNG layout, the typed mapPartitions decode running
    // unchanged — it is a stateless projection, so batch semantics
    // carry over verbatim; Append mode, AvailableNow to completion).
    // Oracle = the batch fingerprint arithmetic from the text, so
    // stream ≡ batch is hash-pinned.
    Q("q_stream_media_fp",
      (s, d) => {
        val tbl = mediaPngTable(s, d)
        val loc = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl))
          .location.toString
        val s2 = graft.streaming.StreamingOps.session(s)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.IntegerType)))
        val stream = s2.readStream.schema(schema).parquet(loc)
          .filter(col("doc_id") < TwinOffset)
        graft.streaming.StreamingOps.runToTable(
            Multimodal.pHashDecoded(stream).toDF(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .orderBy("doc_id")
      },
      Some(s"""
        |WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |${phashCtes("base", "text", "p", "phash")}
        |SELECT doc_id, phash FROM ph ORDER BY doc_id
        |""".stripMargin.trim)),

    // ---- incremental media near-dup against the stored index --------
    // The daily path for the media family: the corpus's banded phash
    // index is READ from the persisted store (built once, untimed);
    // the increment pays render+decode+hash+banding over the BATCH
    // only, then one (band, key) equi-join + exact bit_count verify.
    // Planted splice twins of corpus docs arrive in the batch and must
    // be caught. Oracle = all-pairs cross-side hamming over the
    // text-derived hashes — pinning candidate completeness, the codec
    // chain on both sides, and that the stored index still matches
    // its corpus.
    Q("q_incr_phash_neardup",
      (s, d) => {
        val idxT = phashIndexTable(s, d)
        val store = s.table(mediaPngTable(s, d))
          .filter(col("n_chars") >= 60)
        // the arriving batch: stored originals >= 400 plus the splice
        // twins of corpus docs < 50, re-keyed to the batch id space
        val batchPayloads = store
          .filter(col("doc_id") >= 400 && col("doc_id") < TwinOffset)
          .select("doc_id", "payload")
          .unionByName(store
            .filter(col("doc_id") >= TwinOffset &&
              col("doc_id") - TwinOffset < 50)
            .select((col("doc_id") - TwinOffset + 5000000L).as("doc_id"),
              col("payload")))
        val batchHashes = Multimodal.pHashDecoded(batchPayloads).toDF()
        Multimodal.phashNearDupAgainst(batchHashes, s.table(idxT),
            maxHamming = 3)
          .orderBy("id_new", "id_corpus")
      },
      Some(s"""
        |WITH corpus AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 60 AND doc_id < 400),
        |batch AS (SELECT doc_id, text FROM documents
        |    WHERE length(text) >= 60 AND doc_id >= 400
        |  UNION ALL SELECT doc_id + 5000000,
        |    concat(substr(text, 1, 9), 'Z', substr(text, 11))
        |  FROM documents WHERE length(text) >= 60 AND doc_id < 50),
        |${phashCtes("corpus", "text", "c", "ph_c")},
        |${phashCtes("batch", "text", "b", "ph_b")}
        |SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
        |  CAST(bit_count(xor(ph_b, ph_c)) AS BIGINT) AS hamming
        |FROM bh n JOIN ch c
        |  ON bit_count(xor(ph_b, ph_c)) <= 3
        |ORDER BY id_new, id_corpus
        |""".stripMargin.trim)),

    // ---- takedown against the persisted phash index -------------------
    // The media-family member of the takedown sweep (r10 verdict: the
    // banded phash index is the store a real DMCA request hits first,
    // and it had no retraction gate). Corpus docs with doc_id % 7 == 0
    // are tombstoned beside the dedicated band-partitioned index; the
    // probing batch is the splice twins of corpus docs < 80 — so a
    // removed doc's TWIN still probes (a removed document can still be
    // somebody's query) but the removed doc itself must vanish from
    // the candidate side. Oracle: the full text-derived-hash replay
    // with the removed ids never present in the corpus —
    // as-if-never-ingested, not output filtering. TakedownSpec pins
    // the compaction half (tombstoned == compacted == rebuilt-without,
    // band partitioning intact through the two-phase swap).
    Q("q_phash_takedown",
      (s, d) => {
        val idxT = phashTdIndexTable(s, d)
        val store = s.table(mediaPngTable(s, d))
        val batch = store
          .filter(col("doc_id") >= TwinOffset &&
            col("doc_id") - TwinOffset < 80)
          .select((col("doc_id") - TwinOffset + 5000000L).as("doc_id"),
            col("payload"))
        Multimodal.phashNearDupAgainst(
            Multimodal.pHashDecoded(batch).toDF(),
            Multimodal.phashIndexRetracted(s, idxT), maxHamming = 3)
          .orderBy("id_new", "id_corpus")
      },
      Some(s"""
        |WITH corpus AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 60 AND doc_id < 400 AND doc_id % 7 != 0),
        |batch AS (SELECT doc_id + 5000000 AS doc_id,
        |    concat(substr(text, 1, 9), 'Z', substr(text, 11)) AS text
        |  FROM documents WHERE length(text) >= 60 AND doc_id < 80),
        |${phashCtes("corpus", "text", "c", "ph_c")},
        |${phashCtes("batch", "text", "b", "ph_b")}
        |SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
        |  CAST(bit_count(xor(ph_b, ph_c)) AS BIGINT) AS hamming
        |FROM bh n JOIN ch c
        |  ON bit_count(xor(ph_b, ph_c)) <= 3
        |ORDER BY id_new, id_corpus
        |""".stripMargin.trim))
  )
}
