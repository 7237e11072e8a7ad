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

  /** One document's row of the near-dup pass: byte length, payload md5,
    * the dense 256-bin basis-point profile (`s10k(b)` = cnt·10⁴ div len,
    * 0 for absent bytes) and its band keys. */
  case class MediaProfile(docId: Long, byteLen: Long, digest: String,
      s10k: Array[Int], bkeys: Array[String])

  /** The byte kernel: one loop over the payload counts every byte value,
    * one loop over the 256 bins quantizes the present ones — s10k in basis
    * points for the verify, q8 = cnt·256 div len for blocking — and
    * appends `byte:q8` to the key of the byte's residue band (byte mod
    * [[MediaBands]]). A band key is `band|byte:q8,…` over the band's
    * present bytes, ascending; a band with no present byte has no key.
    */
  def mediaProfile(docId: Long, payload: Array[Byte], digest: String): MediaProfile = {
    val cnt = new Array[Long](256)
    var i = 0
    while (i < payload.length) { cnt(payload(i) & 0xff) += 1; i += 1 }
    val len = payload.length.toLong
    val s10k = new Array[Int](256)
    val keys = Array.fill(MediaBands)(new java.lang.StringBuilder)
    var b = 0
    while (b < 256) {
      if (cnt(b) > 0) {
        s10k(b) = (cnt(b) * 10000 / len).toInt
        val k = keys(b % MediaBands)
        if (k.length == 0) k.append(b % MediaBands).append('|') else k.append(',')
        k.append(b).append(':').append(cnt(b) * 256 / len)
      }
      b += 1
    }
    MediaProfile(docId, len, digest, s10k, keys.filter(_.length > 0).map(_.toString))
  }

  /** Perceptual-hash-style near-dup detection over the BINARY payloads —
    * the multimodal twin of [[graft.operators.DedupOps.qDedupSimhashPairs]]:
    *
    *  1. [[mediaProfile]] (partition-local kernel, one pass per payload)
    *     → one row per document with its dense basis-point profile and
    *     its band keys.
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
    *  4. Exact verify on candidates only: L1 distance of the two sides'
    *     profiles, keep ≤ [[MediaL1MaxBp]]; `exact_dup` = payload-digest
    *     equality (the byte-identical subset). All-integer output →
    *     hash-oracled.
    *
    * Ref: the reference has no media pipeline; this is the
    * LLM-training-data operator the brief's multimodal family calls for
    * (dedup before training, CLIP-era corpora dedup on perceptual
    * signatures, not exact bytes).
    */
  def qMediaNeardup(spark: SparkSession, dir: String): DataFrame =
    mediaNeardupPairs(spark, mediaTable(spark, dir))

  /** Pipeline core over any (doc_id, payload binary) frame — the spec
    * plants byte-identical and perturbed clones through this entry.
    *
    * The profile frame is read three times (the band keys and both verify
    * sides) and is not materialized: the verify sides are one broadcast
    * of it, the second side reusing the first's exchange. The L1 distance
    * sums |a − b| over all 256 bins, the same integer as the sum over the
    * union of present bytes, since an absent byte is 0 on both sides.
    * A null payload has no profile and never pairs, as in the oracle.
    */
  def mediaNeardupPairs(spark: SparkSession, media: DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    val prof = media.select(col("doc_id"), col("payload"), md5(col("payload")))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.collect { case (id, payload, digest) if payload != null =>
        mediaProfile(id, payload, digest) })
      .toDF()
    val cand = DedupOps.bucketPairs(
      prof.select(col("docId").as("doc_id"), explode(col("bkeys")).as("bkey")),
      "bkey", MediaBandCap)
    val (a, b) = (prof.as("a"), prof.as("b"))
    cand.join(a, col("doc_a") === col("a.docId"))
      .join(b, col("doc_b") === col("b.docId"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("a.s10k"), col("b.s10k"), (x, y) => abs(x - y)),
          lit(0L), (acc, d) => acc + d).as("l1_bp"),
        col("a.byteLen").as("byte_len_a"), col("b.byteLen").as("byte_len_b"),
        (col("a.digest") === col("b.digest")).cast("long").as("exact_dup"))
      .filter(col("l1_bp") <= MediaL1MaxBp)
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
