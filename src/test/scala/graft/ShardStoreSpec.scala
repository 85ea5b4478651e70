package graft

import org.apache.spark.sql.functions._
import graft.operators.TxLog
import graft.sources.{ShardStore, ShardStreamSource}

/** The emulated Kinesis transport's contract (SURVEY §2.1 A15's real
  * semantics): MD5 key routing, dense per-shard sequence numbers,
  * split/merge resharding, checkpointed streaming resume — and the one
  * guarantee that matters downstream: PER-SHARD (hence per-key) order
  * survives the pipeline even when the global arrival order across
  * shards is fully scrambled. */
class ShardStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft_shards").toString + "/stream"

  /** A key routed into [lo, hi) — probes k0, k1, ... deterministically. */
  private def keyIn(st: ShardStore, lo: Long, hi: Long): String =
    (0 until 1000).map("k" + _).find { k =>
      val h = st.keyHash(k); h >= lo && h < hi
    }.getOrElse(sys.error("no probe key landed in the range"))

  test("routing is deterministic, seqs are dense per shard, gets are ordered") {
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(4)
    assert(st.shards().map(_.id) === Seq("s0", "s1", "s2", "s3"))
    // the shard map PARTITIONS the hash space: adjacent, covering
    val sorted = st.shards().sortBy(_.hashLo)
    assert(sorted.head.hashLo === 0L && sorted.last.hashHi === Long.MaxValue)
    sorted.sliding(2).foreach { case Seq(a, b) => assert(a.hashHi === b.hashLo) }
    // same key -> same shard, every time; seq increases by arrival
    val (sh1, q1) = st.put("user-7", "a")
    val (sh2, q2) = st.put("user-7", "b")
    val (sh3, q3) = st.put("user-7", "c")
    assert(sh1 === sh2 && sh2 === sh3, "one key must ride one shard")
    assert(Seq(q1, q2, q3) === Seq(q1, q1 + 1, q1 + 2), "per-shard seqs must be dense")
    assert(st.get(sh1, 0L).map(_._2) === Seq("a", "b", "c"))
    assert(st.get(sh1, q1).map(_._2) === Seq("b", "c"), "cursor read is exclusive-from")
  }

  test("split and merge reshard the hash space; parents close, coverage holds") {
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(2)
    val k = keyIn(st, 0L, Long.MaxValue / 2) // routes to s0
    st.put(k, "before-split")
    val (c1, c2) = st.split("s0")
    val after = st.shards()
    assert(!after.find(_.id == "s0").get.open, "split parent must close")
    assert(after.filter(_.open).map(_.id).toSet === Set("s1", c1, c2))
    // open shards still partition the space exactly
    val open = after.filter(_.open).sortBy(_.hashLo)
    assert(open.head.hashLo === 0L && open.last.hashHi === Long.MaxValue)
    open.sliding(2).foreach { case Seq(a, b) => assert(a.hashHi === b.hashLo) }
    // the key now routes to whichever CHILD covers its hash; the parent's
    // records remain readable (consumers drain parents, then children)
    val (shardAfter, _) = st.put(k, "after-split")
    assert(Set(c1, c2).contains(shardAfter), "post-split put must route to a child")
    assert(st.get("s0", 0L).map(_._2) === Seq("before-split"))
    // children record their parentage (the drain-order signal)
    assert(after.find(_.id == shardAfter).get.parents === Seq("s0"))
    // merge the two children back: both close, one child covers the union
    val m = st.merge(c1, c2)
    val afterMerge = st.shards()
    assert(afterMerge.find(_.id == m).get.parents.toSet === Set(c1, c2))
    val openM = afterMerge.filter(_.open).sortBy(_.hashLo)
    assert(openM.map(_.id).toSet === Set("s1", m))
    assert(openM.head.hashLo === 0L && openM.last.hashHi === Long.MaxValue)
    val (shardM, _) = st.put(k, "after-merge")
    assert(shardM === m)
  }

  test("offset round-trip: canonical json survives serialize/parse") {
    val c = Map("s0" -> 12L, "s10" -> 7L, "s2" -> 0L)
    assert(ShardStreamSource.parse(ShardStreamSource.serialize(c)) === c)
    assert(ShardStreamSource.serialize(c) === """{"s0":12,"s10":7,"s2":0}""")
    assert(ShardStreamSource.parse("{}") === Map.empty[String, Long])
  }

  test("stream == batch, exactly once across a checkpointed restart") {
    val dir = freshStore()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_shards_ckpt").toString
    val st = new ShardStore(dir)
    st.createStream(3)
    for (i <- 0 until 30) st.put(s"key-${i % 7}", s"v$i")

    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    def runOnce(): Unit = {
      val q = spark.readStream.format("shardstore").option("dir", dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.as[(String, Long, String)].collect()
          }: Unit
        }.start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    // stream delivered exactly the store's contents (batch read = ground truth)
    val batchAll = st.shards().flatMap(s =>
      st.get(s.id, 0L).map { case (q, v) => (s.id, q, v) }).toSet
    assert(seen.toSet === batchAll && seen.size === 30, "stream != batch")
    // restart on the same checkpoint with new records: ONLY the delta arrives
    seen.clear()
    for (i <- 30 until 40) st.put(s"key-${i % 7}", s"v$i")
    runOnce()
    assert(seen.size === 10, s"restart must resume from cursors, got ${seen.size}")
    assert(seen.map(_._3).toSet === (30 until 40).map("v" + _).toSet)
    // per-shard delivery is in sequence order: cursors never regress
    seen.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2) === rs.map(_._2).sorted, "per-shard order violated")
    }
  }

  test("per-shard order (not global) survives the pipeline: scrambled cross-shard arrivals still snapshot correctly") {
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(2)
    // two keys on DIFFERENT shards (the transport's routing guarantee)
    val kLow = keyIn(st, 0L, Long.MaxValue / 2)
    val kHigh = keyIn(st, Long.MaxValue / 2, Long.MaxValue)
    def rec(k: String, ver: Long, v: String): String =
      s"""{"id":"$k","ver":$ver,"v":"$v"}"""
    // GLOBAL arrival order is scrambled across the two shards (high's
    // version 3 lands before low's version 1), but each key's own
    // versions arrive in order on its own shard — exactly Kinesis'
    // guarantee, and all the pipeline is allowed to rely on
    st.put(kHigh, rec(kHigh, 3L, "h3"))
    st.put(kLow, rec(kLow, 1L, "l1"))
    st.put(kHigh, rec(kHigh, 5L, "h5"))
    st.put(kLow, rec(kLow, 2L, "l2"))

    val state = java.nio.file.Files.createTempDirectory("graft_shards_state")
      .toString + "/zone"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_shards_ck2").toString
    def runOnce(): Unit = {
      val parsed = spark.readStream.format("shardstore").option("dir", dir).load()
        .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
          "id STRING, ver BIGINT, v STRING")).as("r"), col("seq"))
        .select(col("r.id").as("id"), col("r.ver").as("ver"),
          col("r.v").as("v"), col("seq"))
      val q = parsed.writeStream
        .option("checkpointLocation", ckpt)
        // the CDC current-state sink assumes per-key order ACROSS batches
        // — the shard transport is what licenses that assumption
        .foreachBatch(TxLog.cdcMergeSink(state, "id", "seq"))
        .outputMode("update").start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    // a second round, still scrambled globally, still ordered per key
    st.put(kLow, rec(kLow, 4L, "l4"))
    st.put(kHigh, rec(kHigh, 7L, "h7"))
    runOnce()
    val got = TxLog.read(spark, state).select($"id", $"v")
      .as[(String, String)].collect().toMap
    assert(got === Map(kLow -> "l4", kHigh -> "h7"),
      s"per-key last-writer state is wrong: $got")
  }

  test("shard transport through the A13 CDC pipeline equals the batch transform") {
    // ShardCdcSource -> CdcStream.pipeline: the reference's ingest path
    // (Kinesis -> Lambda transform -> hour-partitioned gzip JSON lake)
    // over the emulated transport, checked against the batch transform
    // of the same envelopes
    import graft.operators.Cdc
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(3)
    def env(id: Long, seq: Long): String =
      s"""{"eventName":"${if (seq == 0) "INSERT" else "MODIFY"}","dynamodb":{""" +
        s""""ApproximateCreationDateTime":${1687310000 + id * 10 + seq}.0,""" +
        s""""Keys":{"id":{"S":"$id"},"name":{"S":"n$id"}},""" +
        s""""NewImage":{"id":{"S":"$id"},"name":{"S":"n$id"},"Designation":{"S":"d$id-$seq"}}}}"""
    val lines = for { id <- 0L until 20L; seq <- 0L until 2L } yield env(id, seq)
    for ((l, i) <- lines.zipWithIndex) st.put((i % 20).toString, l)

    val base = java.nio.file.Files.createTempDirectory("graft_shard_a13").toString
    // drain what is there and stop: the default 60 s processing-time
    // trigger would make the drain wait on its grid
    val q = graft.streaming.CdcStream.pipeline(
      graft.sources.ShardCdcSource(dir).stream(spark),
      s"$base/lake", s"$base/err", s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.read.json(s"$base/lake/year=*/month=*/day=*/hour=*")
      .select("id", "name", "Event")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val batch = Cdc.transform(Cdc.parse(lines.toDF("value")))
      .select(col("id"), col("name"), col("event").as("Event"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed === batch,
      "shard-streamed A13 lake content must equal the batch transform")
    assert(streamed.values.sum === 40)
  }

  test("maxRecordsPerShard: a deep shard drains in bounded per-shard bites") {
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(2)
    st.put("k0", "seed")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("shardstore").option("dir", dir)
      .option("maxRecordsPerShard", "5").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }: Unit
      }.start()
    q.processAllAvailable()
    assert(batches.toSeq === Seq(1L))
    // 40 records land while the query runs: with 2 shards and a 5-record
    // per-shard cap, catch-up batches carry <= 10 records each and it
    // takes >= 4 of them — the GetRecords page-size shape
    for (i <- 0 until 40) st.put(s"key-$i", s"v$i")
    q.processAllAvailable(); q.stop()
    assert(batches.sum === 41L, s"records must arrive exactly once: $batches")
    val catchUp = batches.drop(1)
    assert(catchUp.size >= 4 && catchUp.forall(_ <= 10L),
      s"catch-up must be bounded per-shard bites: $batches")
  }

  test("resharding mid-stream: child shards are discovered and drained after parents") {
    val dir = freshStore()
    val st = new ShardStore(dir)
    st.createStream(2)
    val k = keyIn(st, 0L, Long.MaxValue / 2)
    st.put(k, "p1"); st.put(k, "p2")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_shards_ck3").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("shardstore").option("dir", dir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.select("value").as[String].collect() }: Unit
        }.start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(seen.toSet === Set("p1", "p2"))
    // split: the key's later records land on a CHILD shard the consumer
    // has never seen — it must appear in the next offset at cursor 0
    st.split("s0")
    st.put(k, "c1"); st.put(k, "c2")
    runOnce()
    assert(seen.toSet === Set("p1", "p2", "c1", "c2"),
      "post-split child records were not discovered")
    assert(seen.size === 4, "reshard must not duplicate records")
  }
}
