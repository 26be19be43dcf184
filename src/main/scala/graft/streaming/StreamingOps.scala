package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.mine.{DrainTree, EventTemplate}

/** Structured Streaming surface (SURVEY.md §7.2 step 8).
  *
  * The reference's windowing is positional (`row_index // 5`) because it
  * never parses timestamps; the streaming engine makes the documented
  * semantic upgrade to TIME windows with watermarks (SURVEY.md §2.5 W2):
  * late container logs are bounded by the watermark instead of silently
  * reordering history. Mining state (M1) lives per shard in
  * `flatMapGroupsWithState` — the streaming twin of the batch
  * per-partition tree, checkpointable (M4) by the engine's checkpoint dir
  * rather than a hand-rolled state file.
  */
object StreamingOps {

  /** Tumbling time-window aggregation with a watermark: per (window,
    * key) event counts and value sums. Works for batch DataFrames too
    * (same plan), which is how the oracle checks it. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: String, windowLen: String,
                     watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    withWm
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      // exact long split sum: order-invariant under any partitioning/
      // micro-batching (see graft.operators.ExactAgg) — double sums flip
      // their last rounded digit with the merge order.
      .agg(count(lit(1)).as("n"),
           graft.operators.ExactAgg.dsum(col(valueCol), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"), col("sum_value"))
  }

  /** M1 streaming: per-shard online template mining with
    * `flatMapGroupsWithState`. Emits the full cluster snapshot of every
    * shard whose tree changed in the micro-batch (idempotent downstream
    * merge — pair with [[graft.mine.TemplateMining.treeFromTemplates]]).
    * State is the Java-serializable [[DrainTree]]; checkpointing the query
    * persists it (the engine-native replacement for drain3_state.bin). */
  def streamingMine(lines: Dataset[(Int, String)]): Dataset[(Int, EventTemplate)] =
    streamingMineFrom(lines, () => new DrainTree())

  /** [[streamingMine]] with an arbitrary INITIAL-STATE factory — the
    * migration-resume surface: seed each shard's first micro-batch from
    * a restored snapshot (e.g. the reference's own `drain3_state.bin`
    * via `graft.mine.Drain3State.read(path).newTree()`) and keep mining
    * where the prior deployment left off. The factory runs once per
    * shard ON THE EXECUTOR at first sight (it must be serializable and
    * deterministic); afterwards the stream checkpoint owns the state. */
  def streamingMineFrom(lines: Dataset[(Int, String)],
                        initTree: () => DrainTree): Dataset[(Int, EventTemplate)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    implicit val treeEnc = Encoders.javaSerialization[DrainTree]
    lines
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, String)], state: GroupState[DrainTree]) =>
          val tree = state.getOption.getOrElse(initTree())
          var changed = false
          rows.foreach { case (_, line) =>
            val (_, change) = tree.addLogMessage(if (line == null) "" else line)
            if (change != "none") changed = true
          }
          state.update(tree)
          if (changed) tree.clusters.iterator.map(t => (shard, t)) else Iterator.empty
      }
  }

  /** Streaming heavy hitters: per-shard Misra-Gries counters held in
    * `flatMapGroupsWithState` — the streaming twin of the batch
    * `graft_heavy_hitters` aggregate (q62). Hash-sharding routes EVERY
    * occurrence of an item to one shard, so a globally heavy item
    * (freq > n/(k+1)) is also heavy within its shard's substream
    * (n_shard <= n) and survives that shard's MG(k) state — the batch
    * guarantee carries over unchanged. State per shard is <= k counters
    * REGARDLESS of stream length; each micro-batch emits the shard's
    * current candidates tagged with a state version, so the max-version
    * rows per shard are the end-of-stream candidate set — which an exact
    * batch rescan (as in q62) turns into exact heavy hitters. */
  def streamingHeavyHitters(items: Dataset[String], k: Int,
                            shards: Int = 8): Dataset[(Int, String, Long, Long)] = {
    val spark = items.sparkSession
    import spark.implicits._
    implicit val stateEnc =
      Encoders.javaSerialization[(scala.collection.mutable.HashMap[String, Long], Long)]
    items
      .groupByKey(s => math.floorMod(if (s == null) 0 else s.hashCode, shards))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String],
         state: GroupState[(scala.collection.mutable.HashMap[String, Long], Long)]) =>
          val (m, ver) = state.getOption
            .getOrElse((scala.collection.mutable.HashMap.empty[String, Long], 0L))
          rows.foreach { s =>
            if (s != null) graft.functions.MisraGries.offer(m, s, k)
          }
          val nextVer = ver + 1
          state.update((m, nextVer))
          m.iterator.map { case (item, c) => (shard, item, c, nextVer) }.toSeq.iterator
      }
  }

  /** Streaming PAGE-HINKLEY drift detector — the stateful twin of the
    * batch `graft.analyze.Drift.pageHinkley`: per key, O(1) state
    * `(count, sum6, m6, minM6, alarmedAt)` folds each arriving 6-dp
    * pinned value with the same algebra (`term = x − runningMean − δ`,
    * `PH = m − min m`), and every micro-batch emits the key's current
    * `(key, n, ph, alarmed_at)` row (Update mode — downstream keeps the
    * latest per key). The per-row running mean uses the COUNT-SO-FAR
    * (true online semantics; the batch twin over a closed window is the
    * cross-check on single-batch input, where the fold order is the
    * event order given). State never grows with stream length. */
  def streamingPageHinkley(values: Dataset[(String, Double)],
                           delta: Double, lambda: Double)
      : Dataset[(String, Long, Double, Long)] = {
    val spark = values.sparkSession
    import spark.implicits._
    implicit val stateEnc =
      Encoders.javaSerialization[(Long, Long, Long, Long, Long)]
    val d6 = math.round(delta * 1e6)
    val l6 = math.round(lambda * 1e6)
    values
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (n, sum6, m6, minM6, alarmedAt) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, -1L))
          rows.foreach { case (_, v) =>
            val x6 = math.round(v * 1e6)
            n += 1; sum6 += x6
            // pinned per-step term: x − mean-so-far − δ (same pin as the
            // batch operator's per-day term)
            val term6 = math.round(x6.toDouble - sum6.toDouble / n - d6)
            m6 += term6
            if (m6 < minM6) minM6 = m6
            if (alarmedAt < 0 && m6 - minM6 > l6) alarmedAt = n
          }
          state.update((n, sum6, m6, minM6, alarmedAt))
          Iterator((key, n, (m6 - minM6).toDouble / 1e6, alarmedAt))
      }
  }

  /** Stream-stream INNER join with watermarks on BOTH sides and an
    * explicit event-time range bound — the only join shape whose buffered
    * state Structured Streaming can provably discard: each side keeps
    * only rows younger than (watermark + maxLagSeconds), so state is
    * bounded regardless of stream length. Right rows match left rows of
    * the same key with `l.ts - maxLag <= r.ts <= l.ts` (the streaming
    * twin of [[graft.operators.Temporal.asOfJoin]]'s "recent context"
    * semantics, as a set rather than latest-only). Degrades to a plain
    * range join for batch inputs. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         maxLagSeconds: Long,
                         watermark: String = "1 hour"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark(leftTs, watermark) else left).alias("l")
    val r = (if (right.isStreaming) right.withWatermark(rightTs, watermark) else right).alias("r")
    l.join(r,
      col(s"l.$leftKey") === col(s"r.$rightKey") &&
      col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $maxLagSeconds SECONDS") &&
      col(s"r.$rightTs") <= col(s"l.$leftTs"))
  }

  /** Stream-static ENRICHMENT join: each micro-batch of `stream` is
    * joined against the bounded dimension table `dim` (user profile,
    * customer segment, allow-list), broadcast so no micro-batch ever
    * shuffles — the standard streaming-ingest enrichment step. Inner
    * join; stateless, so no watermark is needed and any output mode
    * works. The dimension frame is re-resolved per micro-batch by
    * Structured Streaming, which is exactly the desired semantics for a
    * slowly-changing dimension backed by a table. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey))

  /** Streaming exact dedup: drop rows whose key was already seen within
    * the watermark horizon (`dropDuplicatesWithinWatermark`) — state is
    * bounded by the horizon instead of growing forever, the streaming twin
    * of [[graft.dedup.Dedup.exactGroups]]'s digest-keyed batch dedup. For
    * batch frames it degrades to a plain dropDuplicates. */
  def dedupeStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                   watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Run a streaming query over a parquet path to completion (memory
    * sink) and return the result — a genuine streaming execution with a
    * batch-shaped output, used by the driver-facing streaming queries.
    * At production scale the sink would be parquet/kafka with a
    * checkpoint dir; the memory sink is the local harness.
    *
    * Trigger.Once over AvailableNow, deliberately: the harness sources
    * are single files, so both run ONE data micro-batch, but AvailableNow
    * appends a final empty batch to mark completion — a full extra
    * state-store snapshot/commit cycle per query (~0.5-2 s measured at
    * sf0.1) for no data. The deprecation is about Once ignoring
    * rate-limit options on multi-batch backfills, which a one-file
    * source never hits. */
  def runToMemory(spark: SparkSession, build: DataFrame => DataFrame,
                  sourceDir: String, globFilter: String,
                  schema: org.apache.spark.sql.types.StructType,
                  outputMode: String = "complete"): DataFrame = {
    val name = "stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // State partitions = shuffle partitions at first checkpoint, PERMANENT
    // for the stream's life — size them to stream volume, not to the batch
    // session default: every stateful operator pays per-partition store
    // init/snapshot/commit per micro-batch, so 32 partitions of near-empty
    // state is pure overhead here. On a production stream this is the same
    // deliberate choice, made once at stream birth. The override lives on a
    // CHILD session (shared SparkContext + extensions, private SQLConf) so
    // concurrent queries on the caller's session never observe it.
    val parentParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // 4, not 8: every stateful operator pays store init/snapshot/commit
    // per state partition per micro-batch (a stream-stream join keeps
    // FOUR stores per partition), and the harness streams are single-
    // file sources — 4 partitions still exercises multi-partition state
    // (shards spread across stores, cross-partition merges) at half the
    // fixed overhead. A production stream sizes this to volume.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", math.min(4, parentParts).toString)
    val src = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", globFilter)
      .parquet(sourceDir)
    val q = build(src).writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination()
    ss.table(name)
  }

  /** Streaming ingestion into a [[graft.sources.Versioned]] table: each
    * micro-batch commits one snapshot version via `foreachBatch`, so a
    * reader always sees whole batches (the manifest rename is the
    * visibility point — never a half-written batch) and TIME TRAVEL
    * works across the ingestion history. `AvailableNow` +
    * `maxFilesPerTrigger=1` drains the backlog one source file per
    * batch/version; a live deployment would keep the query running with
    * the same sink.
    *
    * Exactly-once caveat, stated honestly: `foreachBatch` is
    * at-least-once on failure/retry — a re-run batch would commit a
    * DUPLICATE version, not corrupt one (append-only manifests). A
    * production sink would record the batchId in the manifest and
    * no-op on replay; the spec pins the normal-path version count. */
  def streamToVersioned(spark: SparkSession, sourceDir: String,
                        globFilter: String,
                        schema: org.apache.spark.sql.types.StructType,
                        root: String,
                        build: DataFrame => DataFrame = identity): Int = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val src = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", globFilter)
      .parquet(sourceDir)
    val q = build(src).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.commit(batch, root): Unit
      }
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.Versioned.versions(root).size
  }
}
