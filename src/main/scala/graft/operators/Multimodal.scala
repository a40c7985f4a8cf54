package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads modeled as
  * opaque `binary` columns with typed metadata, processed in
  * partition-batched imperative passes (`mapPartitions` — the Scala
  * analogue of `mapInPandas` batch UDFs).
  *
  * The actual media decode is STUBBED (no image/audio codecs in this
  * container): [[StubDecoder]] derives deterministic fake
  * width/height/duration from the payload bytes. Everything around it
  * — schema, binary transport, batch iteration, partition sizing,
  * downstream joins — is the real Spark plumbing a production decode
  * UDF would drop into.
  */
object Multimodal {

  /** Typed metadata produced by the (stubbed) decoder. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      media_type: String,
      width: Int,
      height: Int,
      duration_ms: Long,
      checksum: Long
  )

  /** A "media table": binary payload column + minimal metadata,
    * standing in for a table of encoded images/audio. The payload here
    * is the UTF-8 document text — opaque bytes as far as the pipeline
    * is concerned.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("doc_id") % 3).cast("int").as("modality") // 0=image, 1=audio, 2=video
      )

  /** STUB decoder — deterministic fake of a media codec.
    * A real deployment replaces `decode` with e.g. an image library
    * call; the signature (bytes in, typed struct out) is the contract.
    */
  object StubDecoder {
    def decode(docId: Long, payload: Array[Byte], modality: Int): MediaMeta = {
      // FNV-1a over the payload: cheap deterministic checksum standing
      // in for decoded-content inspection.
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < payload.length) { h ^= (payload(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      val mt = modality match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      MediaMeta(
        doc_id = docId,
        n_bytes = payload.length.toLong,
        media_type = mt,
        width = if (modality == 0 || modality == 2) 320 + (math.abs(h) % 1600).toInt else 0,
        height = if (modality == 0 || modality == 2) 240 + (math.abs(h >> 17) % 840).toInt else 0,
        duration_ms = if (modality != 0) 1000L + math.abs(h >> 31) % 600000L else 0L,
        checksum = h
      )
    }
  }

  /** Batched decode over partitions — one decoder instance per
    * partition (mirrors per-batch model loading in a Pandas UDF),
    * rows streamed through without materializing the partition.
    */
  def extractMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "modality")
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { rows =>
        // per-partition setup would go here (codec/model init)
        rows.map { case (id, bytes, modality) => StubDecoder.decode(id, bytes, modality) }
      }
  }

  /** Media embedder, exploded form: payload bytes → content-defined
    * feature HISTOGRAM as (vec_id, dim_idx, cnt) rows — a hashed
    * token-count histogram over the decoded payload (`dim` buckets,
    * bucket = first 8 hex digits of md5(token) mod dim).
    * DETERMINISTIC and SQL-replayABLE, the [[sampleFrames]] stance:
    * md5 hex-digit arithmetic and integer counts are bit-identical in
    * any engine, so `multimodal_embed` is a hash-checked oracle query
    * rather than a labeled stub. A real deployment swaps in a learned
    * encoder; the contract this pins is payload in, fixed-dim feature
    * out, directly indexable by [[Similarity]]'s ANN tier.
    *
    * Shape matters at scale: explode → hash → count is entirely
    * codegen'd with map-side partial aggregation, and the shuffle
    * boundary keeps the per-token md5 work parallel across scan
    * partitions — the first formulation (a per-bucket `filter` inside
    * `transform`) ran as INTERPRETED higher-order functions, O(dim ×
    * tokens) lambda evals pinned to however few partitions the scan
    * produced, and took minutes at sf1 where this takes seconds. The
    * grid left-join restores all-zero rows for token-less documents.
    */
  def embedMediaRows(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val docs = mediaTable(spark, dir)
      .select(col("doc_id").as("vec_id"), expr("coalesce(decode(payload, 'UTF-8'), '')").as("t"))
    val counts = docs
      .select(col("vec_id"), explode(expr("letter_tokens(t)")).as("tok"))
      .select(
        col("vec_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % dim).cast("int").as("dim_idx")
      )
      .groupBy("vec_id", "dim_idx")
      .agg(count(lit(1)).as("cnt"))
    docs
      .select(col("vec_id"), explode(sequence(lit(0), lit(dim - 1))).as("dim_idx"))
      .join(counts, Seq("vec_id", "dim_idx"), "left")
      .select(col("vec_id"), col("dim_idx"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("vec_id", "dim_idx")
  }

  /** [[embedMediaRows]] reassembled into the fixed-dim `Array[Float]`
    * vector the ANN tier consumes — every value an exact small integer
    * (no normalization, no float nondeterminism; cosine downstream
    * normalizes where it matters). `array_sort` over (dim_idx, cnt)
    * structs orders by dim_idx, so the vector layout is positional.
    */
  def embedMedia(spark: SparkSession, dir: String, dim: Int = 64): DataFrame =
    embedMediaRows(spark, dir, dim)
      .groupBy("vec_id")
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim_idx"), col("cnt")))),
          e => e.getField("cnt").cast("float")
        ).as("embedding")
      )

  /** Deterministic frame sampling for "video" rows: every `stride`-th
    * frame index up to a fake frame count derived from the payload —
    * the explode-shaped (one row in, many rows out) media op.
    *
    * The stub duration/signature hash is the first 15 hex digits of
    * md5(payload) as a 60-bit integer — deliberately PORTABLE math
    * (md5 + integer ops both engines compute bit-identically) rather
    * than [[StubDecoder]]'s FNV, so the DuckDB oracle replays the
    * whole operator and the correctness check is a hash match instead
    * of rows-only. Runs as pure codegen'd expressions (md5 + sequence
    * + explode) — the explode shape, not the hash, is what a real
    * frame sampler keeps.
    */
  def sampleFrames(spark: SparkSession, dir: String, stride: Int = 10): DataFrame =
    Tables
      .documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull)
      .select(
        col("doc_id"),
        expr("cast(conv(substring(md5(encode(text, 'UTF-8')), 1, 15), 16, 10) as bigint)").as("h60")
      )
      .select(col("doc_id"), col("h60"), (lit(1000L) + col("h60") % 600000L).as("duration_ms")) // stub: 1–601 s
      .select(
        col("doc_id"),
        col("h60"),
        // 25 fps stub → duration/40 frames; stride-sample from 0
        explode(expr(s"sequence(0L, duration_ms div 40 - 1, $stride)")).as("frame_idx")
      )
      .select(col("doc_id"), col("frame_idx"), expr("h60 ^ frame_idx").as("frame_sig"))

  /** Shot-boundary detection over the sampled frame stream — the
    * video segmentation op a curation pipeline runs before
    * per-shot captioning/sampling: a shot cut is where consecutive
    * frames' feature distance (Hamming over a 60-bit per-frame
    * signature — exactly how per-frame perceptual hashes are compared)
    * exceeds `theta`. The STRUCTURE is the real pipeline's (explode to
    * frames → media-partitioned ordered window → distance → boundary
    * count); the FEATURE is the honest portable stub (per-frame md5 of
    * content + index — content-dependent, bit-identical in any
    * engine), so the whole operator hash-replays instead of being
    * rows-only. One explode + one window + one aggregate; at scale
    * everything partitions by media id.
    */
  def shotBoundaries(spark: SparkSession, dir: String, stride: Int = 10, theta: Int = 38): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = Tables
      .documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull)
      // repartition by the window key BEFORE the ~1000x frame explode:
      // left inline, the explode and the per-frame md5 run in the SCAN
      // stage, whose parallelism is the parquet row-group count — a
      // single-row-group file serializes the whole frame stream into
      // one task (measured at sf1: one 35 s task under a 37 s wall).
      // The window needs hashpartitioning(doc_id) anyway, so this
      // moves the existing exchange BELOW the explode (docs move, not
      // frames; exchange count unchanged) and the heavy stage scales
      // with the shuffle-partition knob instead of the file layout.
      // The count is PINNED (REPARTITION_BY_NUM): AQE's byte-based
      // coalescing sees only the doc-sized shuffle write, not the
      // explode multiplier behind it, and folds a by-column
      // repartition back to row-group parallelism (measured).
      .repartition(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id")
      )
      .select(
        col("doc_id"),
        col("text"),
        expr("cast(conv(substring(md5(encode(text, 'UTF-8')), 1, 15), 16, 10) as bigint)").as("h60")
      )
      .select(col("doc_id"), col("text"), (lit(1000L) + col("h60") % 600000L).as("duration_ms"))
      .select(
        col("doc_id"),
        col("text"),
        explode(expr(s"sequence(0L, duration_ms div 40 - 1, $stride)")).as("frame_idx")
      )
      .select(
        col("doc_id"),
        col("frame_idx"),
        expr(
          "cast(conv(substring(md5(encode(concat(text, '#', cast(frame_idx as string)), 'UTF-8')), 1, 15), 16, 10) as bigint)"
        ).as("fsig")
      )
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("prev", lag("fsig", 1).over(w))
      .withColumn(
        "cut",
        when(col("prev").isNotNull && expr("bit_count(fsig ^ prev)") > theta, 1L).otherwise(0L)
      )
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), (sum("cut") + 1L).as("n_shots"))
      .orderBy("doc_id")
  }

  /** SQL-expressible slice of the binary plumbing (oracle-checkable):
    * payload byte length + hex prefix of the payload.
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("hex_prefix"),
        (col("doc_id") % 3).cast("int").as("modality")
      )
      .orderBy("doc_id")

  /** Block-MEAN perceptual fingerprint of each media payload (the
    * block-mean image-hash family: Yang/Gu/Niu, "Block Mean Value
    * Based Image Perceptual Hashing", IIH-MSP 2006): cut the payload
    * into `blocks` equal content slices, bit i = (mean value of slice
    * i) > (global mean). A local edit perturbs a few block means and
    * leaves the rest near-unchanged, so Hamming distance is a
    * similarity proxy — unlike a slice-hash bit, which a single
    * length change scrambles wholesale.
    *
    * The per-unit "pixel value" is a STUB in the [[sampleFrames]]
    * tradition: md5 first byte of each character (a smooth,
    * content-derived 0–255 value; no image codec in this container),
    * PORTABLE so the DuckDB oracle replays the operator bit-exactly; a
    * real deployment substitutes decoded pixel values per block and
    * keeps the rest. The mean comparison is the integer
    * cross-multiplication `blockSum * totalCount > totalSum *
    * blockCount` — no float division anywhere.
    *
    * Plan: one explode to character grain (O(total payload size) rows,
    * the floor for any content hash), partial→final aggregation to
    * block grain, a tiny per-doc join, and a fold back to one long per
    * doc. Shuffles on (doc, block) then doc — hash-partitioned all the
    * way; `blocks` ≤ 60 keeps the fingerprint a non-negative BIGINT
    * both engines shift identically.
    */
  def perceptualHashes(docs: DataFrame, blocks: Int = 60): DataFrame = {
    require(blocks >= 1 && blocks <= 60, s"blocks must be in [1,60], got $blocks")
    val hv = docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text").as("t"), length(col("text")).cast("long").as("L"))
      .select(
        col("doc_id"),
        col("L"),
        explode(expr("sequence(1L, L)")).as("pos"),
        col("t")
      )
      .select(
        col("doc_id"),
        expr(s"((pos - 1) * $blocks) div L").as("b"),
        expr("conv(substring(md5(substring(t, cast(pos as int), 1)), 1, 2), 16, 10)").cast("long").as("v")
      )
    val blk = hv.groupBy("doc_id", "b").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val tot = blk.groupBy("doc_id").agg(sum("s").as("gs"), sum("n").as("gn"))
    blk
      .join(tot, Seq("doc_id"))
      .select(
        col("doc_id"),
        when(col("s") * col("gn") > col("gs") * col("n"), lit(1L)).otherwise(lit(0L)).as("bit"),
        col("b")
      )
      .groupBy("doc_id")
      .agg(sum(expr("shiftleft(bit, cast(b as int))")).as("phash"))
  }

  /** Perceptual-hash near-duplicate pairs at Hamming distance ≤
    * `maxHd`: the SimHash pigeonhole discipline applied to the media
    * fingerprint. The hash splits into `chunks` equal bit-chunks; any
    * pair within `chunks - 1` distance agrees on some chunk, so
    * candidates come from an equi-join on (chunk index, chunk value)
    * via [[Dedup.bucketPairs]] and the exact `bit_count(xor)` verify
    * runs only on candidates. Requires `maxHd < chunks`.
    *
    * Scale honesty: a block-mean hash separates near-dups around
    * hd ≈ 0.1–0.25 × bits (this corpus: dup pairs at 7–14 of 60,
    * noise floor ≥ 16), so complete recall needs ≥ maxHd+1 chunks of
    * only ~4 bits — 16 distinct bucket values, which stops
    * partitioning a corpus beyond ~10⁵ docs (every bucket goes hot;
    * the `cap` guard keeps the job alive but sheds recall). This
    * operator is therefore the BOUNDED-cohort tool (per-source or
    * per-cluster batches); corpus-scale media dedup belongs to the
    * embedding tiers ([[embedMedia]] → SemDeDup/ANN), whose blocking
    * keys don't collapse with the threshold.
    */
  def perceptualNearDup(
      hashes: DataFrame,
      maxHd: Int = 12,
      chunks: Int = 15,
      bitsPerChunk: Int = 4,
      bucketCap: Int = Int.MaxValue
  ): DataFrame = {
    require(maxHd < chunks, s"pigeonhole recall needs maxHd < chunks, got $maxHd >= $chunks")
    val chunked = hashes.select(
      col("doc_id"),
      col("phash"),
      posexplode(
        expr(
          s"transform(sequence(0, ${chunks - 1}), c -> shiftright(phash, c * $bitsPerChunk) & ${(1L << bitsPerChunk) - 1})"
        )
      ).as(Seq("chunk_idx", "chunk_val"))
    )
    Dedup
      .bucketPairs(
        chunked,
        Seq("chunk_idx", "chunk_val"),
        struct(col("doc_id").as("id"), col("phash").as("sig")),
        bucketCap
      )
      .select(
        col("a.id").as("a"),
        col("b.id").as("b"),
        // bigint on both engines (DuckDB's bit_count is TINYINT)
        expr("cast(bit_count(a.sig ^ b.sig) as bigint)").as("hd")
      )
      .distinct()
      .filter(col("hd") <= maxHd)
  }
}
