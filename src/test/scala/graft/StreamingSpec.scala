package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.mine.DrainTree
import graft.sources.Tables
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("streaming windowed counts equal the batch plan on the same data") {
    import spark.implicits._
    val path = s"${TestSession.sf}/events.parquet"
    val schema = spark.read.parquet(path).schema
    val streamed = StreamingOps.runToMemory(spark, src =>
        StreamingOps.windowedCounts(
          graft.sources.Tables.normalizeTs(src, "ts"),
          "ts", "event_type", "value", "1 hour"),
        TestSession.sf, "events.parquet", schema)
      .orderBy($"window_start", $"event_type").collect().toSeq
    val batch = StreamingOps.windowedCounts(
        Tables.events(spark, TestSession.sf), "ts", "event_type", "value", "1 hour")
      .orderBy($"window_start", $"event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("runToMemory never mutates the caller session's shuffle partitions") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val path = s"${TestSession.sf}/events.parquet"
    val schema = spark.read.parquet(path).schema
    val out = StreamingOps.runToMemory(spark, src =>
        StreamingOps.windowedCounts(
          graft.sources.Tables.normalizeTs(src, "ts"),
          "ts", "event_type", "value", "1 hour"),
        TestSession.sf, "events.parquet", schema)
    assert(out.count() > 0)
    // the cap lives on a child session for the stream's life; the caller's
    // conf must be untouched even mid-stream (here: after, which the old
    // try/finally also guaranteed — the child session guarantees DURING too)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // and the caller session can still join against the streamed result
    val joined = out.join(
      Tables.events(spark, TestSession.sf).select($"event_type").distinct(),
      "event_type")
    assert(joined.count() > 0)
  }

  test("streaming dedup drops within-watermark duplicate keys across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val q = StreamingOps.dedupeStream(
        input.toDF().toDF("key", "ts", "payload"), "ts", Seq("key"), "30 minutes")
      .writeStream.format("memory").queryName("dedup_test").outputMode("append")
      .start()
    input.addData((1L, ts(0), "a"), (1L, ts(1), "dup"), (2L, ts(2), "b"))
    q.processAllAvailable()
    input.addData((1L, ts(3), "dup2"), (3L, ts(4), "c"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_test").select($"key").as[Long].collect().sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L), s"got ${keys.toSeq}")
  }

  test("streaming heavy hitters: MG state accumulates across batches, bounded at k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = StreamingOps.streamingHeavyHitters(input.toDS(), k = 3, shards = 1)
      .toDF("shard", "tok", "count_lb", "ver")
      .writeStream.format("memory").queryName("hh_test").outputMode("update")
      .start()
    // batch 1: 'a' x4, 'b' x2, noise c,d (k=3 forces decrements)
    input.addData(Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"): _*)
    q.processAllAvailable()
    // batch 2: 'a' x3 more — state must carry batch 1's counts forward
    input.addData(Seq.fill(3)("a") ++ Seq("e"): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hh_test")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val finalVer = rows.map(_._3).max
    val finalState = rows.filter(_._3 == finalVer).map(t => t._1 -> t._2).toMap
    assert(finalState.size <= 3, s"state exceeded k: $finalState")
    // 'a' has true freq 7 of 12 > 12/(3+1): MUST be present, with a
    // lower-bound count carried across the batch boundary (> batch-2-only)
    assert(finalState.contains("a"), s"heavy item lost: $finalState")
    assert(finalState("a") > 3L, s"state did not accumulate: $finalState")
    assert(finalState("a") <= 7L, s"count_lb above true frequency: $finalState")
  }

  test("stream-stream interval join matches the batch range join, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val orders = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingOps.streamIntervalJoin(
        clicks.toDF().toDF("user", "cts"),
        orders.toDF().toDF("ouser", "ots", "item"),
        "user", "ouser", "cts", "ots", maxLagSeconds = 600, watermark = "10 minutes")
      .select($"user", $"cts", $"item")
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    clicks.addData((1L, ts(10)), (2L, ts(12)))
    orders.addData((1L, ts(9), "in_range"), (1L, ts(11), "late"), (2L, ts(1), "too_old"))
    q.processAllAvailable()
    clicks.addData((1L, ts(15)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_test").select($"user", $"item").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // click(1,10:10) matches order(1,10:09) [within 10 min, not after];
    // click(1,10:15) matches orders at 10:09 and 10:11;
    // click(2,10:12) matches nothing (order at 10:01 is >10 min older)
    assert(got == Set((1L, "in_range"), (1L, "late")), s"got $got")
    val batch = StreamingOps.streamIntervalJoin(
        Seq((1L, ts(10)), (2L, ts(12)), (1L, ts(15))).toDF("user", "cts"),
        Seq((1L, ts(9), "in_range"), (1L, ts(11), "late"), (2L, ts(1), "too_old"))
          .toDF("ouser", "ots", "item"),
        "user", "ouser", "cts", "ots", maxLagSeconds = 600)
      .select($"user", $"cts", $"item").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2))).toSet
    assert(batch == Set((1L, ts(10), "in_range"), (1L, ts(15), "in_range"), (1L, ts(15), "late")),
      s"batch twin diverged: $batch")
  }

  test("streaming session windows merge events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = input.toDF().toDF("user", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy($"user", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"user", $"w.start".as("session_start"), $"n")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    input.addData((1L, ts(10, 0)), (2L, ts(10, 5)))
    q.processAllAvailable()
    // second batch: 10:20 continues user 1's 10:00 session (gap 20m < 30m);
    // 12:00 starts a fresh one
    input.addData((1L, ts(10, 20)), (1L, ts(12, 0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_test")
      .select($"user", $"session_start", $"n").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got == Set((1L, ts(10, 0), 2L), (1L, ts(12, 0), 1L), (2L, ts(10, 5), 1L)),
      s"sessions must merge across batches, got $got")
  }

  test("stateful streaming mining across micro-batches matches sequential mining") {
    assume(GoldenFixture.available)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = GoldenFixture.lines()
    val input = MemoryStream[(Int, String)]
    val q = StreamingOps.streamingMine(input.toDS())
      .toDF("shard", "t")
      .writeStream.format("memory").queryName("mine_test").outputMode("append")
      .start()
    // two micro-batches over one shard — state must carry across batches
    input.addData(lines.take(600).map(l => (0, l)))
    q.processAllAvailable()
    input.addData(lines.drop(600).map(l => (0, l)))
    q.processAllAvailable()
    q.stop()
    // last emitted snapshot per cluster id = final state
    val snap = spark.table("mine_test")
      .select($"t.eventId", $"t.size", $"t.template")
      .groupBy($"eventId")
      .agg(max(struct($"size", $"template")).as("s"))
      .select($"eventId", $"s.size", $"s.template")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    val seq = new DrainTree()
    lines.foreach(seq.addLogMessage)
    val expect = seq.clusters.map(t => (t.eventId, t.size, t.template))
    assert(snap.map(_._1).toSeq == expect.map(_._1), "cluster id sets differ")
    assert(snap.map(_._2).sum == 1282L, "mass must be conserved")
    assert(snap.toSeq == expect, "final streamed state must equal sequential mining")
  }

  test("file-source mining E2E: checkpointed state survives a query restart") {
    // the reference's deployment shape: log FILES arriving in a directory,
    // mined with persistent state that a restarted process resumes
    // (process_logs_v10.py:86-111 file tail + drain3.ini snapshotting) —
    // here readStream.text + flatMapGroupsWithState state in the stream
    // checkpoint, restarted mid-corpus
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_stream_e2e").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val chkDir = s"$root/chk"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Paths.get(root, name)   // write-then-move: the
      java.nio.file.Files.write(tmp, String.join("\n", lines: _*).getBytes)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(inDir, name))
    }
    def startQuery() = {
      val lines = spark.readStream.text(inDir)
        .select(lit(0).as("shard"), col("value")).as[(Int, String)]
      StreamingOps.streamingMine(lines)
        .map { case (shard, t) => (shard, t.eventId, t.size, t.template) }
        .toDF("shard", "event_id", "size", "template")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chkDir)
        .outputMode("append").start()
    }
    writeFile("a.log", (1 to 40).map(i => s"connected to 10.0.0.$i port 443") ++
      (1 to 10).map(i => s"worker $i heartbeat ok"))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // second file arrives while the query is DOWN; the restart must pick
    // it up AND resume the mined state. The new lines vary the PORT, so
    // the restored cluster's template widens (port 443 -> <*>) and the
    // tree emits the updated cluster with its ACCUMULATED size — a reset
    // tree would instead mint a fresh 20-line cluster with the port as a
    // constant
    writeFile("b.log", (41 to 60).map(i => s"connected to 10.0.0.$i port 8080"))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val snap = spark.read.parquet(outDir)
      .groupBy($"event_id")
      .agg(max(struct($"size", $"template")).as("s"))
      .select($"s.template", $"s.size").as[(String, Long)].collect().toMap
    val connected = snap.keys.find(_.startsWith("connected to"))
    assert(connected.isDefined, s"missing connected-template in $snap")
    assert(connected.get.contains("port <*>"),
      s"resumed cluster must widen the port slot: $snap")
    assert(snap(connected.get) == 60L,
      s"restarted query must RESUME state: expected size 60 (40 + 20 across " +
        s"the restart), got ${snap(connected.get)}")
    val heartbeat = snap.keys.find(_.contains("heartbeat"))
    assert(heartbeat.isDefined && snap(heartbeat.get) == 10L)
  }

  test("streaming page-hinkley: state carries across batches; step drift alarms once") {
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Double)](spark)
    val q = StreamingOps.streamingPageHinkley(input.toDS(), 0.0, 100.0)
      .toDF("key", "n", "ph", "alarmed_at")
      .writeStream.format("memory").queryName("ph_stream")
      .outputMode("update").start()
    // batch 1: flat — no alarm
    input.addData((1 to 20).map(i => ("a", 50.0)))
    q.processAllAvailable()
    val mid = spark.table("ph_stream").orderBy($"n".desc).head()
    assert(mid.getLong(1) == 20 && mid.getLong(3) == -1L, s"flat must not alarm: $mid")
    // batch 2: step up — alarms after the shift, exactly once, state carried
    input.addData((1 to 20).map(i => ("a", 450.0)))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("ph_stream").orderBy($"n".desc).head()
    assert(fin.getLong(1) == 40, s"state must carry: $fin")
    assert(fin.getLong(3) > 20, s"alarm index after the step: $fin")
    assert(fin.getDouble(2) > 100.0)
  }
}
