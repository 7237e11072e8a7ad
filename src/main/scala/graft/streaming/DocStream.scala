package graft.streaming

import graft.functions.ShingleHash32
import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** One band-bucket probe: a document's membership claim on one LSH
  * bucket, carrying the distinct-shingle-hash set the exact verify
  * needs. */
case class BandProbe(bucket: String, doc_id: Long, sh: Array[Long])

/** A verified streaming near-dup hit. `bucket` names the band that
  * surfaced the pair — a pair agreeing on k bands emits k times (one
  * per shared bucket); consumers that want the batch pair set apply
  * `dropDuplicates("doc_a","doc_b")`, mirroring the batch `distinct()`
  * between candidate generation and verify. */
case class NearDupHit(doc_a: Long, doc_b: Long, bucket: String,
    jaccard: Double)

/** One stored bucket member (id + verification set). */
case class BandMember(doc_id: Long, sh: Array[Long])

/** Streaming near-duplicate detection — the `transformWithState` twin of
  * [[graft.operators.DedupOps.qDedupIncremental]]: the continuous form
  * of "dedup arriving documents against everything already ingested"
  * that a streaming corpus ingest needs, with the NEAR-dup semantics
  * `dropDuplicatesWithinWatermark` (exact only) cannot express.
  *
  * Shape: each arriving document is shingled and banded with the batch
  * kernel itself ([[DedupOps.signatures]]: ShingleHash32 → 12 affine
  * permutation minima, carrying the distinct hash set; then
  * [[DedupOps.bandBuckets]]: 4 md5 band keys, as in
  * [[DedupOps.bandRows]]), exploded to one probe per band, and keyed BY
  * BUCKET. Each bucket's StatefulProcessor holds at most
  * [[DedupOps.MinhashBandCap]] members (doc_id + distinct shingle-hash
  * set): a new probe exact-verifies (set Jaccard, HALF_UP 4dp — the
  * batch `r4(jaccard(...))` arithmetic) against every stored member,
  * emits the verified hits, then joins the member list iff the cap has
  * room. A probe arriving at a FULL bucket emits nothing and is
  * dropped — the identical junior-drop semantics of the batch
  * first-cap-by-doc_id clamp, so for in-order (doc_id-ascending)
  * arrival the emitted pair set (after the per-band dropDuplicates)
  * EQUALS the batch LSH pair frame; out-of-order arrival degrades only
  * WHICH family members survive a saturated bucket (first-arrival
  * wins), never the bound — and while no bucket saturates, even a
  * fully doc_id-descending replay reproduces the batch frame exactly.
  * Both halves are spec-pinned (EventStreamSpec's descending-replay and
  * descending-storm tests).
  *
  * Scale posture: per-bucket state is ≤ cap members regardless of how
  * many clones flood that bucket (the clone-storm soak's claim — state
  * plateaus while events grow without bound); bucket keys hash-spread
  * across executors like any keyed state. Total state across keys
  * grows with the DISTINCT-bucket count (i.e. with corpus novelty, not
  * with event count); a deployment bounding total retention sets a
  * TTL on the member state — plumbed here via `ttl` — turning the
  * index into a sliding-recency dedup window: expired members stop
  * matching and their state rows are swept by subsequent batches
  * (spec-pinned in EventStreamSpec; decay measured in STREAM_SOAK.json's
  * `neardup_ttl` entry). NOTE a TTL'd query runs in processing-time
  * mode, where Spark re-triggers micro-batches for as long as the query
  * lives (processing time always advances — that is what fires the
  * cleanup): give it a real trigger interval, and await source OFFSETS
  * rather than processAllAvailable, which never observes quiescence
  * under continuous re-trigger.
  */
object DocStream {

  /** Near-dup hits over a streaming `(doc_id, text)` frame.
    *
    * ==TTL requires a real trigger interval==
    * Passing `ttl != TTLConfig.NONE` switches the query to
    * processing-time mode, where Spark re-triggers micro-batches for as
    * long as the query lives (processing time always advances — that is
    * what fires the state cleanup). Under the DEFAULT 0 ms trigger this
    * is a busy loop — one state-store commit per shuffle partition per
    * EMPTY batch, stages churning continuously — and
    * `processAllAvailable()` NEVER returns because the query never
    * observes quiescence (progress events also report `numInputRows=0`
    * in this mode, so row polling stalls too). Drive a TTL'd query with
    * `.trigger(Trigger.ProcessingTime(250))` (or any real interval) and
    * await the SOURCE OFFSET your write committed rather than calling
    * `processAllAvailable()` — the executable pattern is pinned in
    * EventStreamSpec's "nearDupStream TTL" test and
    * [[graft.StreamSoak.soakNearDupTtl]]. With no TTL the processor is
    * clockless (`TimeMode.None`) and the default trigger is fine.
    */
  def nearDupStream(docs: DataFrame, cap: Int = DedupOps.MinhashBandCap,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    DedupOps.signatures(docs, array_distinct(col("hs")).as("sh"))
      .select(DedupOps.bandBuckets(), col("doc_id"), col("sh"))
      .filter(col("bucket").isNotNull) // shingle-less docs band to NULL: no bucket, no state
      .as[BandProbe]
      .groupByKey(_.bucket)
      // TTL state requires a clock: processing-time mode iff a TTL is
      // configured (state-TTL is defined against processing time; with
      // no TTL the processor is clockless and TimeMode.None is cheaper)
      .transformWithState(new NearDupProcessor(cap, ttl),
        if (ttl.ttlDuration == null || ttl.ttlDuration.isZero) TimeMode.None()
        else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Streaming benchmark-decontamination gate — the continuous twin of
    * [[graft.operators.DedupOps.qDecontaminate]]: every arriving
    * document is scored against the held-out eval set's distinct
    * 5-shingle hashes and emits the input row plus
    * `(n_shared, contaminated)`, so a training-data ingest can drop
    * leaked benchmark items ON ARRIVAL instead of in a later batch
    * scrub. STATELESS by design: the eval
    * set is a compile-into-the-plan constant (eval benchmarks are small
    * by definition — the batch operator broadcasts the same set), so
    * the gate is a narrow codegen projection with no state store, no
    * watermark, no shuffle; it composes in front of [[nearDupStream]]
    * in the same ingest query. `n_shared` counts DISTINCT shared
    * shingle hashes (the containment numerator of
    * q_contamination_pairs, summed over the whole eval set) — the SAME
    * arithmetic as the batch [[DedupOps.qDecontaminate]], so the two
    * paths agree row-for-row on `(doc_id, n_shared, contaminated)`
    * (EventStreamSpec pins the full-row equality, not just the flag).
    * `n_shared` and `contaminated` are reserved output column names:
    * an input that already carries either is rejected (IAE), never
    * silently overwritten.
    */
  def decontaminateStream(docs: DataFrame, evalHashes: Set[Long]): DataFrame = {
    // `n_shared` / `contaminated` are RESERVED output columns: silently
    // overwriting an input column of the same name would corrupt the
    // payload this gate promises to preserve — fail loudly instead.
    for (reserved <- Seq("n_shared", "contaminated"))
      require(!docs.columns.contains(reserved),
        s"decontaminateStream: input already has a '$reserved' column — " +
          "it is a reserved output column of this gate; rename it upstream")
    val evalArr = typedLit(evalHashes.toSeq.sorted)
    // PRESERVES the input columns (text and anything else riding along):
    // a gate that dropped the payload couldn't gate an ingest — this is
    // what lets `.filter(contaminated === 0)` pipe straight into
    // [[nearDupStream]] in one query (spec-proven composition)
    docs
      .withColumn("n_shared",
        size(array_intersect(
          array_distinct(ShingleHash32(col("text"), 5)), evalArr)).cast("long"))
      .withColumn("contaminated", (col("n_shared") > 0).cast("long"))
  }

  /** The batch verify arithmetic on driver-side sets: |a∩b| / |a∪b|
    * rounded HALF_UP to 4dp (Spark's `round`), so streamed jaccards are
    * bit-equal to the batch column. */
  private[graft] def jaccardSets(a: Array[Long], b: Array[Long]): Double = {
    val sb = b.toSet
    var inter = 0
    var i = 0
    while (i < a.length) { if (sb.contains(a(i))) inter += 1; i += 1 }
    val uni = a.length + b.length - inter
    BigDecimal(inter.toDouble / uni)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Per-bucket member list + probe-verify-join state machine for
    * [[nearDupStream]]. Within a micro-batch, probes are processed in
    * doc_id order (the iterator's order is partition-racy) so replayed
    * or multi-doc batches emit deterministically; a doc_id already in
    * the member list is skipped (idempotent under micro-batch replay).
    */
  private[graft] class NearDupProcessor(cap: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, BandProbe, NearDupHit] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[BandMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BandMember]("members",
        Encoders.product[BandMember], ttl)

    override def handleInputRows(bucket: String, rows: Iterator[BandProbe],
        timerValues: TimerValues): Iterator[NearDupHit] = {
      val stored = scala.collection.mutable.ArrayBuffer[BandMember]()
      stored ++= members.get()
      val have = scala.collection.mutable.Set[Long](stored.toSeq.map(_.doc_id): _*)
      val out = scala.collection.mutable.ArrayBuffer[NearDupHit]()
      for (p <- rows.toArray.sortBy(_.doc_id) if !have.contains(p.doc_id)) {
        if (stored.size < cap) {
          var i = 0
          while (i < stored.length) {
            val m = stored(i)
            out += NearDupHit(math.min(m.doc_id, p.doc_id),
              math.max(m.doc_id, p.doc_id), bucket, jaccardSets(m.sh, p.sh))
            i += 1
          }
          stored += BandMember(p.doc_id, p.sh)
          have += p.doc_id
          // appendValue, not put: each member keeps its OWN TTL
          // insertion timestamp, so an expiring bucket decays member
          // by member (true sliding recency) instead of having every
          // member's clock reset whenever any new member joins
          members.appendValue(BandMember(p.doc_id, p.sh))
        } // full bucket: junior dropped, nothing emitted (batch cap semantics)
      }
      out.iterator
    }
  }
}
