package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * The container ships no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake ([[decodeStub]]); everything Spark-
  * side — the binary column representation, the metadata schema, the
  * mapPartitions batch shape, partition-preserving execution — is real
  * and tested, and is exactly what a production decode (JNI codec or
  * Arrow-batched Python worker) would plug into.
  */
object MultimodalOps {

  /** Typed metadata a real decoder would emit. */
  case class MediaMeta(docId: Long, byteLen: Long, width: Int, height: Int,
      nFrames: Int, format: String)

  /** DECODE STUB — deterministic fake. A real implementation would parse
    * the container header (JPEG SOF / WAV fmt / MP4 moov); here metadata
    * is derived arithmetically from the payload length so tests are
    * reproducible without codecs.
    */
  def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(docId, n,
      width = (n % 64).toInt + 1,
      height = ((n / 7) % 64).toInt + 1,
      nFrames = (n / 100).toInt + 1,
      format = if (n % 2 == 0) "img" else "audio")
  }

  /** Binary payload table: the documents' text bytes standing in for real
    * media blobs (the testdata ships no binary table; the cast is the
    * only fake part of the schema).
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Distributed decode via mapPartitions over the typed Dataset — the
    * per-partition iterator is where a real codec would batch rows
    * (Arrow-style) before calling into native code. No shuffle: decode is
    * partition-local, so it scales with input splits.
    */
  def decodeAll(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    val s = spark
    import s.implicits._
    mediaTable(spark, dir).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeStub(id, payload) })
  }

  /** Per-payload features a vision/audio pipeline would batch-extract:
    * a 16-bin byte-value histogram and mean byte — REAL computation over
    * the binary payload (unlike the decode stub, no codec is needed),
    * in the same partition-local mapPartitions batch shape a production
    * extractor (Arrow → native kernel) plugs into.
    */
  case class MediaFeatures(docId: Long, byteLen: Long,
      hist: Array[Long], meanByte: Double)

  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    val s = spark
    import s.implicits._
    mediaTable(spark, dir).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        while (i < payload.length) {
          val b = payload(i) & 0xff
          hist(b >> 4) += 1
          sum += b
          i += 1
        }
        MediaFeatures(id, payload.length.toLong, hist,
          if (payload.length == 0) 0.0 else sum.toDouble / payload.length)
      })
  }

  /** RESIZE STUB — metadata-only: a real implementation rescales pixel
    * buffers; the partition-local transform shape is identical.
    */
  def resizeStub(meta: MediaMeta, targetW: Int, targetH: Int): MediaMeta =
    meta.copy(width = targetW, height = targetH)

  /** Frame sampling: every `stride`-th frame index, always including
    * frame 0 — the deterministic index plan a video decoder would fetch.
    */
  def sampleFrameIndices(nFrames: Int, stride: Int): Seq[Int] =
    0 until nFrames by stride

  /** Rows-only gate entry for the typed mapPartitions feature path:
    * histogram mass must equal byte length (checked in spec; the gate
    * checks determinism via rows>0 + schema). The histogram is emitted
    * as a comma-joined STRING, not array<long>: downstream compare
    * tooling (pandas sort/hash) can't order array cells, and a scalar
    * column keeps the output portable across engines.
    */
  def qMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, col}
    extractFeatures(spark, dir).toDF()
      .select(col("docId").as("doc_id"), col("byteLen").as("byte_len"),
        array_join(col("hist").cast("array<string>"), ",").as("hist"),
        col("meanByte").as("mean_byte"))
      .orderBy(col("doc_id"))
  }

  /** 256-bin byte-value profile — the full-resolution sibling of
    * [[extractFeatures]]'s 16-bin histogram, same partition-local
    * mapPartitions kernel shape (one tight JVM loop over the payload,
    * no shuffle, no codec). For real media this is the byte-distribution
    * perceptual profile (a block-mean pHash would slot into the same
    * kernel); over the stand-in text payloads it is the per-character
    * frequency profile.
    */
  case class ByteProfile(docId: Long, byteLen: Long, hist: Array[Long])

  def byteProfileOf(spark: SparkSession, media: DataFrame): Dataset[ByteProfile] = {
    val s = spark
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val hist = new Array[Long](256)
        var i = 0
        while (i < payload.length) { hist(payload(i) & 0xff) += 1; i += 1 }
        ByteProfile(id, payload.length.toLong, hist)
      })
  }

  def byteProfile(spark: SparkSession, dir: String): Dataset[ByteProfile] =
    byteProfileOf(spark, spread(spark, mediaTable(spark, dir)))

  /** Bucket cap + verify threshold for the binary near-dup pass.
    * MediaBandCap bounds every band bucket's pair quadratic at
    * C(64,2) exactly like the SimHash cap (the cap is mirrored in the
    * oracle, so the query stays hash-checked); MediaL1MaxBp keeps only
    * pairs whose exact byte-distribution L1 distance is ≤ 2.5% of total
    * mass (the sf0.01 probe put the closest non-clone pairs at
    * 1,100+ bp, planted near-dups under 150 bp — a 250 bp cut separates
    * them with an order of magnitude of headroom each side).
    */
  val MediaBands = 4
  val MediaBandCap = 64
  val MediaL1MaxBp = 250L

  /** Perceptual-hash-style near-dup detection over the BINARY payloads —
    * the multimodal twin of [[graft.operators.DedupOps.qDedupSimhashPairs]]:
    *
    *  1. [[byteProfile]] (partition-local kernel) → sparse
    *     (doc, byte, count) frame; shares quantized by exact integer
    *     division (q8 = cnt·256 div len — 8-bit resolution for blocking,
    *     s10k = cnt·10⁴ div len — basis points for the verify).
    *  2. Banded signature: byte residue class (byte mod 4) splits the
    *     profile into 4 interleaved bands; a band's key is its sorted
    *     `byte:q8` cell string. Near-identical payloads agree exactly on
    *     ≥ 1 band w.h.p. (pigeonhole over the few differing cells) —
    *     candidate generation is a key-equality self-join, never
    *     payload×payload, and recall is band-blocking-bounded exactly
    *     like the SimHash twin.
    *  3. Hot buckets clamped at [[MediaBandCap]] docs (ascending doc_id,
    *     the shared [[DedupOps.bucketPairs]] generator) — at 100 TB a
    *     boilerplate byte-profile (empty images, silence) lands millions
    *     of payloads in one bucket; the cap bounds the quadratic by
    *     construction.
    *  4. Exact verify on candidates only: full-outer merge of the two
    *     sides' basis-point profiles, L1 distance, keep ≤ [[MediaL1MaxBp]];
    *     `exact_dup` = payload-digest equality (the byte-identical
    *     subset). All-integer output → hash-oracled.
    *
    * Ref: the reference has no media pipeline; this is the
    * LLM-training-data operator the brief's multimodal family calls for
    * (dedup before training, CLIP-era corpora dedup on perceptual
    * signatures, not exact bytes).
    */
  def qMediaNeardup(spark: SparkSession, dir: String): DataFrame =
    mediaNeardupPairs(spark, spread(spark, mediaTable(spark, dir)))

  /** Pipeline core over any (doc_id, payload binary) frame — the spec
    * plants byte-identical and perturbed clones through this entry.
    */
  def mediaNeardupPairs(spark: SparkSession, media: DataFrame): DataFrame = {
    // localCheckpoint: the partition-local byte-histogram kernel is the
    // expensive pass (every payload byte), and the un-checkpointed frame
    // was re-executed by each of its consumers — the band-key build and
    // BOTH sides of the candidate verify — i.e. 3 full payload scans per
    // run (r16 profile). Materializing the ~|docs|·|distinct bytes| sparse
    // profile once keeps the payload pass single; the checkpoint runs
    // inside the query's own construction, so every bench/oracle
    // invocation still computes it from parquet.
    val prof = byteProfileOf(spark, media).toDF()
      .select(col("docId").as("doc_id"), col("byteLen").as("byte_len"),
        posexplode(col("hist")).as(Seq("byte", "cnt")))
      .filter(col("cnt") > 0)
      .select(col("doc_id"), col("byte_len"), col("byte"), col("cnt"),
        expr("cnt * 10000 div byte_len").as("s10k"),
        expr("cnt * 256 div byte_len").as("q8"),
        (col("byte") % MediaBands).as("band"))
      .localCheckpoint()
    val cand = DedupOps.bucketPairs(
      prof.groupBy(col("doc_id"), col("band"))
        .agg(array_sort(collect_list(struct(col("byte"), col("q8")))).as("cells"))
        .select(col("doc_id"),
          concat(col("band").cast("string"), lit("|"),
            array_join(transform(col("cells"), c =>
              concat(c("byte").cast("string"), lit(":"),
                c("q8").cast("string"))), ",")).as("bkey")),
      "bkey", MediaBandCap)
    // L1 verify as ONE join + a two-level aggregation instead of the old
    // (cand⋈cells) full_outer (cand⋈cells) three-join shape (r16): each
    // candidate pair fans to two signed sides, cells attach by a single
    // doc-keyed join, and |va − vb| per byte is the absolute SIGNED SUM of
    // the per-side contributions — a byte present on one side only
    // contributes |±v| exactly as the full_outer's coalesce(…, 0) did.
    // One shuffle of narrow (pair, byte, signed value) rows with map-side
    // partial aggregation replaces two wide join exchanges.
    val cells = prof.select(col("doc_id"), col("byte"), col("s10k"))
    val sides = cand.select(col("doc_a"), col("doc_b"),
        explode(array(
          struct(col("doc_a").as("doc_id"), lit(1L).as("sign")),
          struct(col("doc_b").as("doc_id"), lit(-1L).as("sign")))).as("s"))
      .select(col("doc_a"), col("doc_b"), col("s.doc_id").as("doc_id"),
        col("s.sign").as("sign"))
    val l1 = sides.join(cells, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"), col("byte"))
      .agg(sum(col("sign") * col("s10k")).as("d"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(abs(col("d"))).as("l1_bp"))
      .filter(col("l1_bp") <= MediaL1MaxBp)
    val meta = media
      .select(col("doc_id"), octet_length(col("payload")).cast("long").as("blen"),
        md5(col("payload")).as("digest"))
    l1.join(meta.select(col("doc_id").as("doc_a"), col("blen").as("byte_len_a"),
        col("digest").as("dig_a")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("blen").as("byte_len_b"),
        col("digest").as("dig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("l1_bp"),
        col("byte_len_a"), col("byte_len_b"),
        (col("dig_a") === col("dig_b")).cast("long").as("exact_dup"))
      .orderBy(col("l1_bp"), col("doc_a"), col("doc_b"))
  }

  /** SQL-expressible slice of the metadata (oracle-checkable): byte
    * length + the deterministic fake decode fields + frame-sample count
    * (every 4th frame, at least 1).
    */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      .select(
        col("doc_id"),
        col("byte_len"),
        expr("byte_len % 64 + 1").as("fake_width"),
        expr("byte_len div 7 % 64 + 1").as("fake_height"),
        expr("byte_len div 100 + 1").as("n_frames"),
        // ceil(n/stride): matches sampleFrameIndices(n, 4).length exactly
        expr("(byte_len div 100 + 1 + 3) div 4").as("sampled_frames"))
      .orderBy(col("doc_id"))
}
