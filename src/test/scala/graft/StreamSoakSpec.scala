package graft

import graft.streaming.EventStream

/** Scale-posture contract for the streaming soak harness: state stays
  * bounded by the operator's DESIGN quantity (active sessions / shard
  * count), not by events processed or key cardinality. The full-size
  * run (`graft.StreamSoak`) records throughput in STREAM_SOAK.json;
  * this spec pins the boundedness invariants at a size CI can afford.
  */
class StreamSoakSpec extends SparkSpec {

  test("sessionizer soak: state bounded by the active window, evicted behind it") {
    val nBatches = 32
    val batchSize = 500
    val nUsers = 240
    val r = withRocksDb {
      StreamSoak.soakSessionizer(spark, nBatches, batchSize, nUsers)
    }
    // generator: batch b activates users [b*nUsers/8, b*nUsers/8+nUsers)
    val totalDistinctUsers = (nBatches - 1).toLong * (nUsers / 8) + nUsers
    assert(r.rows === nBatches.toLong * batchSize)
    assert(r.peakStateRows > 0, "progress metrics must report state rows")
    // eviction really happens: a no-eviction sessionizer would hold one
    // state row per user ever seen
    assert(r.peakStateRows < totalDistinctUsers,
      s"peak state ${r.peakStateRows} should stay below the " +
        s"$totalDistinctUsers distinct users the soak streamed")
    // bounded by the design quantity: open sessions (≤ nUsers active) +
    // the watermark-lag backlog of quiet users awaiting their timer
    // (2h lag / 15min-per-batch ≈ 8 batches × nUsers/8) + timer rows
    assert(r.peakStateRows <= 4L * nUsers,
      s"peak state ${r.peakStateRows} exceeds the active-window bound")
  }

  test("near-dup restart soak: exactly-once across a mid-corpus kill, state recovered") {
    val r = withRocksDb {
      StreamSoak.soakNearDupRestart(spark, nBatches = 6, batchSize = 8, cap = 8)
    }
    assert(r.rows === 48L)
    assert(r.exactlyOnce,
      s"pair multiset diverged across restart: ${r.hitsInterrupted} vs ${r.hitsReference}")
    assert(r.changelogFiles > 0,
      "no RocksDB changelog under the checkpoint: commits were snapshot-only")
    assert(r.crossRestartHits > 0,
      "no pair bridges the crash — recovered state was empty")
    // one doc per pool per batch below cap: every later member pairs
    // with every earlier one in all 4 bands — C(6,2)·4·8 pools exactly
    assert(r.hitsReference === 15L * 4 * 8)
  }

  test("heavy-hitters soak: state rows = shard count at any cardinality") {
    val shards = 4
    val r = withRocksDb {
      StreamSoak.soakHeavyHitters(spark, nBatches = 8, batchSize = 1000,
        shards = shards)
    }
    assert(r.rows === 8000L)
    assert(r.peakStateRows > 0 && r.peakStateRows <= shards,
      s"sketch state must be one summary row per shard, got ${r.peakStateRows}")
    assert(r.finalStateRows === r.peakStateRows,
      "summary state neither grows nor shrinks after warmup")
  }

  test("interval join soaks: buffered rows evicted behind the watermark, outer twin emits orphans") {
    val nBatches = 12
    val batchSize = 200
    val (inner, outer, orphans) = withRocksDb {
      val inner = StreamSoak.soakIntervalJoin(spark, nBatches, batchSize, nUsers = 50)
      val outer = StreamSoak.soakIntervalJoin(spark, nBatches, batchSize, nUsers = 50,
        pipeline = EventStream.orphanErrors, name = "soak_orphan")
      (inner, outer, spark.sql("SELECT count(*) FROM soak_orphan").head().getLong(0))
    }
    for ((r, join) <- Seq(inner -> "inner", outer -> "left outer")) {
      // the three drain batches carry 8 rows each
      assert(r.rows === nBatches.toLong * batchSize + 3 * 8)
      assert(r.batches === nBatches + 3)
      assert(r.stateRows.size >= r.batches,
        s"$join: ${r.stateRows.size} state reports for ${r.batches} batches")
      assert(r.finalStateRows < r.peakStateRows / 4,
        s"$join: post-watermark state ${r.finalStateRows} vs peak ${r.peakStateRows}")
    }
    assert(orphans > 0, "the left outer join emitted no null-side row")
  }
}
