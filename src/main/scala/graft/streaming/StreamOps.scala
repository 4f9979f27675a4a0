package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.api.GraftOps.{GramKey, bandKeys, wordGrams}

/** Structured Streaming variants of the event-analytics operators.
  *
  * The batch forms in [[graft.operators.Events]] are the oracle-checked
  * semantics; these are the same logical aggregations expressed as
  * incremental streaming plans: file source -> event-time watermark ->
  * windowed aggregation / custom session state -> sink. Specs drive them
  * synchronously with a memory sink (`processAllAvailable`), which
  * exercises exactly the code path a production kafka/file stream uses.
  *
  * Scale notes: windowed aggs are partial-aggregated per micro-batch and
  * state-store backed, keyed by (window, event_type) — uniform keys, no
  * skew. The sessionizer keys state by user_id; at 100 TB you'd bound
  * state with the same watermark-driven timeout used here.
  *
  * ==The message-bus contract (no broker in this environment)==
  *
  * Production streams arrive from a partitioned log (Kafka-shaped:
  * per-partition offsets, committed offset log, bounded admission per
  * trigger). This library's stand-in for that contract is the
  * `graft-synth` V2 micro-batch source
  * ([[graft.sources.SynthDocsSource]] / `SynthMicroBatchStream`),
  * which implements the SAME DataSourceV2 streaming surface a Kafka
  * source implements, point for point:
  *
  *  - '''offsets''': a monotone row-count offset plays the role of the
  *    per-partition offset vector; `initialOffset`/`deserializeOffset`/
  *    `commit` are the offset-log round-trip (spec-pinned: a
  *    checkpointed restart resumes WITHOUT re-delivery).
  *  - '''admission control''': `SupportsAdmissionControl.
  *    latestOffset(start, limit)` bounds rows admitted per micro-batch
  *    (`rowsPerBatch` = `maxOffsetsPerTrigger`); the zero-arg
  *    `latestOffset()` deliberately throws, pinning Spark to the
  *    restart-safe form — a stateless stream can never regress the
  *    offset log.
  *  - '''planning''': `planInputPartitions(start, end)` carves the
  *    admitted range into splits exactly as Kafka's source carves
  *    topic-partition ranges.
  *
  * Swapping in a real broker is therefore a source-string change
  * (`format("kafka")` + subscribe options) — every transform,
  * watermark, state op, and sink in this file is source-agnostic.
  * [[readSocket]] is the third leg: the quick-look TCP tap (Spark's
  * built-in `socket` source) for demos and smoke tests — NOT
  * replayable (no offsets), so nothing durable may hang off it; the
  * spec uses it to prove the transforms run against a live push
  * source with zero file involvement.
  */
object StreamOps {

  /** Quick-look TCP line tap (Spark's `socket` source): one `value`
    * string column. No offsets, no replay — demo/smoke only; durable
    * pipelines use the file or V2 micro-batch sources above.
    */
  def readSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Streaming read of the events table, normalized to session-UTC
    * TimestampType like Tables.events. A streaming read needs the schema
    * up front: it takes the stored schema and the ts fix-up from
    * Tables, which decides the stored vintage in one place.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val stored = graft.Tables.eventsStored(spark, dir).schema
    spark.readStream
      .schema(stored)
      .parquet(s"$dir/events*") // glob: the file source requires a dir/glob, not a bare file
      .withColumn("ts", graft.Tables.eventsTs(stored("ts").dataType))
  }

  /** Tumbling 1-hour event-time windows with a 2-hour watermark. The
    * value sum goes through Stable.dsum (decimal cast) like batch e01 —
    * order-independent, so emitted windows are BYTE-identical to the
    * DuckDB-oracled batch rows, not merely approximately equal.
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.Stable.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming table fingerprint: v22's order-independent content
    * checksum as a streaming aggregate. bit_xor is commutative,
    * associative, and self-inverse, so the running fingerprint is
    * exact under ANY micro-batch arrival order and merges for free in
    * partial aggregation — after the last row, the streaming value
    * equals the batch fingerprint bit-for-bit (spec-pinned). The
    * incremental-replica-validation shape: fingerprint the stream as
    * it lands instead of re-scanning the table afterwards.
    */
  def fingerprintStream(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .select(expr(
        """conv(substring(md5(concat_ws('|', event_id, event_type, props)),
                1, 15), 16, 10)""")
        .cast("decimal(38,0)").cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fingerprint"))

  /** Streaming exact dedup with bounded state: duplicates are dropped if
    * they arrive within the watermark window, and state for keys older
    * than the watermark is evicted — the only way exact streaming dedup
    * stays feasible on an unbounded 100 TB/day stream. Keyed on the
    * payload hash (md5 of props+type), the same normalize-hash-keep-first
    * shape as batch d01.
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withColumn("payload_hash",
        md5(concat_ws("|", col("event_type"), col("props"))))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("payload_hash")

  /** Stream-stream interval join: each purchase joins the views by the
    * same user within the preceding hour. Both sides are watermarked so
    * the join state is bounded — Spark evicts buffered rows once the
    * watermark passes the interval bound (the only way a stream-stream
    * join survives unbounded input).
    */
  def purchaseViewJoin(spark: SparkSession, dir: String): DataFrame = {
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = readEvents(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension (customer) on the key. The static side is planned as a
    * broadcast per micro-batch — no stream-side state, no watermark
    * needed, and dimension updates are picked up on re-plan. This is the
    * standard "enrich fact stream with dim table" pattern at any scale.
    */
  def enrichWithDim(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    readEvents(spark, dir).join(broadcast(dim), Seq("user_id"), "left")
  }

  /** Windowed KMV distinct-user sketch running INSIDE Structured
    * Streaming: the custom `TypedImperativeAggregate` serializes its
    * buffer into the state store between micro-batches and merges
    * partials exactly like a map-side combine — the proof that the
    * sketch family (KMV/Bloom/QuantileSketch) is streaming-safe. The
    * estimate is deterministic (md5-prefix hashing), so the streaming
    * result must equal the batch result on the same closed window.
    */
  def sketchedDistinct(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(graft.functions.kmv_distinct(col("user_id"), 64).as("kmv"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("kmv.est_distinct").as("est_users"), col("n_events"))

  /** Streaming corpus front door: quality-score each arriving document
    * and tag its lane (keep / low_quality / quarantine) as it lands.
    * Stateless narrow per-row logic — no watermark, no state store;
    * each micro-batch costs exactly one scan of the new files, so the
    * gate keeps up with any ingest rate. Downstream sinks split on
    * `lane` (the m05 pattern, incremental).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.Tables.schemas("documents")).parquet(s"$dir/documents*")
      .withColumn("byte_len", length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
      .withColumn("quality",
        lit(0.5) * least(lit(1.0), col("n_words").cast("double") / 100.0)
          + lit(0.5) * (length(regexp_replace(col("text"), "[^A-Za-z0-9]", ""))
            .cast("double") / length(col("text"))))
      .withColumn("lane",
        when(col("byte_len") % 251 === 0, "quarantine")
          .when(col("quality") < 0.6, "low_quality")
          .otherwise("keep"))
      .select("doc_id", "source", "lane", "quality")

  /** Windowed heavy hitters through the state store: the SpaceSaving
    * `TopKItems` aggregator's partial buffers merge across micro-batches
    * exactly as they merge across partitions in batch, so closed
    * streaming windows equal the batch result while capacity covers the
    * key cardinality. One row per (window, item, count).
    */
  def windowedTopK(spark: SparkSession, dir: String): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKItems(3, 64),
      org.apache.spark.sql.Encoders.STRING)
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(topk(col("event_type")).as("topk"))
      .select(col("window.start").as("window_start"),
        explode(col("topk")).as(Seq("event_type", "n")))
  }

  /** Checkpointed incremental ingest (the nightly-batch pattern):
    * processes whatever files have LANDED in `srcDir` since the last
    * run, runs the narrow enrichment, appends to the parquet sink
    * exactly once, and stops (`Trigger.AvailableNow`). Re-running after
    * more files land resumes from the checkpoint offsets — already-
    * ingested files are never reprocessed, which is the only workable
    * contract when each nightly drop is terabytes. Returns the started
    * query; callers await its (self-initiated) termination.
    */
  def incrementalIngest(spark: SparkSession, srcDir: String, outDir: String,
                        checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema(graft.Tables.schemas("documents"))
      .parquet(s"$srcDir/*")
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .select("doc_id", "lang", "n_chars", "n_words")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming CDC apply: exactly-once MERGE of a change stream into a
    * [[graft.sources.SnapshotTable]]. Each micro-batch is collapsed to
    * its latest row per key (ts, then event_id as the total-order
    * tiebreak — the MERGE contract wants one source row per key), then
    * applied via `SnapshotTable.upsertBatch` with `(appId, batchId)` as
    * the transaction watermark. Structured Streaming replays the last
    * in-flight batch after every restart (foreachBatch alone is
    * at-least-once); the watermark rides the table's atomic manifest
    * swap, so replays are skipped and the table state is exactly-once —
    * restart the query with the same appId+checkpoint and nothing
    * double-applies. This is the streaming-merge sink pattern every
    * lakehouse CDC pipeline runs.
    */
  def cdcUpsertStream(spark: SparkSession, srcDir: String, tablePath: String,
                      checkpointDir: String, appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.SnapshotTable
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        // persisted: upsertBatch consumes the changes THREE times (the
        // duplicate-key guard aggregate, the anti-join key set, the
        // union) — unpersisted, each consumption re-reads the source
        // files, tripling per-batch input (measured by StreamStress:
        // numInputRows 3x the file rows before this barrier)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .select(col("user_id"), col("event_type").as("last_type"),
            col("ts").as("last_ts"), col("value").as("last_value"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try SnapshotTable.upsertBatch(latest.sparkSession, tablePath, latest,
          Seq("user_id"), appId, batchId)
        finally latest.unpersist(false)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** ONE CDC stream fanned into ALL THREE table legs — SnapshotTable +
    * Delta + Hudi MOR — inside a single foreachBatch: each micro-batch
    * collapses to its latest state per key ONCE, then lands through
    * each leg's exactly-once batch verb (`SnapshotTable.upsertBatch`,
    * `DeltaWrite.upsertBatch`, `HudiWrite.upsertLogBatch`), every one
    * carrying the SAME (appId, batchId) watermark in its own
    * transaction mechanism. A restart — or a full re-run with a wiped
    * checkpoint — replays batches that each leg independently detects
    * and skips, so all three tables stay bit-identical to a single
    * clean run (spec-pinned three ways). The Delta and Hudi tables
    * must exist (same schema as the collapsed frame, Hudi
    * MERGE_ON_READ keyed by user_id); SnapshotTable creates itself.
    */
  def cdcFanoutStream(spark: SparkSession, srcDir: String,
                      snapPath: String, deltaPath: String,
                      hudiPath: String, checkpointDir: String,
                      appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.{DeltaWrite, HudiWrite, SnapshotTable}
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        // last_ts rides as epoch MICROS (BIGINT): the one scalar shape
        // every leg's payload codec carries identically — the
        // bit-identical contract is then schema-for-schema the same on
        // all three tables
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .select(col("user_id"), col("event_type").as("last_type"),
            expr("unix_micros(ts)").as("last_ts_us"),
            col("value").as("last_value"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          SnapshotTable.upsertBatch(latest.sparkSession, snapPath,
            latest, Seq("user_id"), appId, batchId)
          DeltaWrite.upsertBatch(latest, deltaPath, Seq("user_id"),
            appId, batchId)
          HudiWrite.upsertLogBatch(latest, hudiPath, "user_id",
            appId, batchId)
        } finally latest.unpersist(false)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Full streaming CDC apply — upserts AND deletes (the Debezium-shaped
    * feed: rows carry an op column with I/U/D). Each micro-batch is
    * collapsed to its LAST op per key (ts then event id — a later
    * delete beats an earlier update and vice versa), then applied in
    * ONE atomic [[graft.sources.SnapshotTable.applyCdc]] commit riding
    * the per-appId transaction watermark — exactly-once across restart
    * replays, deletes and upserts never observable separately. The
    * synthetic op derivation ('purchase' events delete the user's
    * row — a stand-in for a tombstone feed; everything else upserts)
    * keeps the demo self-contained on the events table; a real CDC
    * topic supplies its own op column.
    */
  /** EXACTLY-ONCE streaming append into an OPEN-FORMAT Delta table —
    * the cdcUpsertStream contract pointed at [[graft.sources.DeltaWrite]]
    * instead of SnapshotTable: each micro-batch commits through
    * `appendBatch`, whose `txn` action (the public protocol's
    * transaction identifier) makes a replayed batch a detected no-op, so
    * a restart — or a full re-run with a wiped checkpoint — never
    * double-appends. The watermark rides commits AND the periodic
    * classic checkpoint, so log cleaning cannot reopen the replay hole.
    */
  def deltaAppendStream(spark: SparkSession, srcDir: String,
                        tablePath: String, checkpointDir: String,
                        appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // create-if-absent with an EMPTY segment so the data itself
        // always lands through the watermarked appendBatch — were the
        // first batch part of the create, a wiped-checkpoint replay of
        // batch 0 would double-append it
        val lp = new org.apache.hadoop.fs.Path(tablePath, "_delta_log")
        val f = lp.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!f.exists(lp))
          graft.sources.DeltaWrite.create(batch.limit(0), tablePath)
        graft.sources.DeltaWrite.appendBatch(
          batch, tablePath, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** EXACTLY-ONCE streaming append into an Apache ICEBERG table — the
    * [[deltaAppendStream]] contract on the other open-format leg: the
    * per-app watermark lives in the table PROPERTIES
    * (`graft.txn.<appId>`, riding the same atomic metadata commit as
    * each snapshot), so a wiped-checkpoint re-run replays every batch
    * as a detected no-op and the table stays bit-identical.
    */
  def icebergAppendStream(spark: SparkSession, srcDir: String,
                          tablePath: String, checkpointDir: String,
                          appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // create-if-absent with an EMPTY snapshot so the data itself
        // always lands through the watermarked appendBatch
        val mp = new org.apache.hadoop.fs.Path(tablePath, "metadata")
        val f = mp.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!f.exists(mp))
          graft.sources.IcebergWrite.create(batch.limit(0), tablePath)
        graft.sources.IcebergWrite.appendBatch(
          batch, tablePath, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Exactly-once streaming insert into a Hudi COPY_ON_WRITE table —
    * the [[deltaAppendStream]] contract on the third open-format leg:
    * `HudiWrite.insertBatch` watermarks (appId, batchId) in the
    * commit's extraMetadata, so Structured Streaming's at-least-once
    * foreachBatch replays are detected no-ops. Create-if-absent with
    * an EMPTY first commit so batch 0 itself is always watermarked.
    */
  def hudiInsertStream(spark: SparkSession, srcDir: String,
                       tablePath: String, checkpointDir: String,
                       appId: String, keyCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hp = new org.apache.hadoop.fs.Path(tablePath,
          ".hoodie/hoodie.properties")
        val f = hp.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!f.exists(hp))
          graft.sources.HudiWrite.create(batch.limit(0), tablePath, keyCol)
        graft.sources.HudiWrite.insertBatch(
          batch, tablePath, keyCol, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** EXACTLY-ONCE streaming LOG-UPSERT into a Hudi MERGE_ON_READ
    * table, as a LIBRARY verb (round 12 — previously a hardcoded
    * events-schema demo): `source` is ANY streaming DataFrame; each
    * micro-batch keeps its LATEST row per `keyCol` (latest = first
    * under `orderBy` — give a unique tiebreaker so replays are
    * deterministic), projects through `projection` (identity by
    * default; must keep `keyCol`), and lands as avro log blocks via
    * `HudiWrite.upsertLogBatch` — O(batch), never O(table). The
    * per-app watermark rides each deltacommit's `extraMetadata`, so a
    * wiped-checkpoint re-run replays every batch as a detected no-op
    * and the table stays bit-identical. Create-if-absent with an EMPTY
    * first commit so batch 0 itself is always watermarked.
    */
  def hudiUpsertStreamOf(source: DataFrame, tablePath: String,
                         checkpointDir: String, appId: String,
                         keyCol: String,
                         orderBy: Seq[org.apache.spark.sql.Column],
                         projection: DataFrame => DataFrame =
                           identity[DataFrame])
      : org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // at-most-one-source-row-per-key is upsertLog's contract
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(orderBy: _*)
        val latest = projection(batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
        require(latest.columns.contains(keyCol),
          s"hudiUpsertStreamOf: projection must keep key column $keyCol")
        val hp = new org.apache.hadoop.fs.Path(tablePath,
          ".hoodie/hoodie.properties")
        val f = hp.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!f.exists(hp))
          graft.sources.HudiWrite.create(latest.limit(0), tablePath,
            keyCol, "", "MERGE_ON_READ")
        graft.sources.HudiWrite.upsertLogBatch(
          latest, tablePath, keyCol, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** STREAMING FORGET (right-to-be-forgotten) into a Delta table:
    * `source` is a stream of key tuples to delete; each micro-batch
    * masks matching rows with deletion vectors via
    * `DeltaWrite.deleteDvKeysBatch` — O(bitmap bytes) per batch, never
    * a file rewrite, exactly-once under restart replays (the txn
    * watermark detects a replayed batch even when its keys would newly
    * match — rows inserted after the original run survive). The shape
    * a GDPR erasure queue drains through on a 100 TB table.
    */
  def deltaForgetStream(source: DataFrame, tablePath: String,
                        checkpointDir: String, appId: String,
                        keyCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.DeltaWrite.deleteDvKeysBatch(
          batch, tablePath, keyCols, appId, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The events-table wiring of [[hudiUpsertStreamOf]] (one merged row
    * per user, latest by (ts, event_id)) — the e2e-spec fixture.
    */
  def hudiUpsertStream(spark: SparkSession, srcDir: String,
                       tablePath: String, checkpointDir: String,
                       appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hudiUpsertStreamOf(readEvents(spark, srcDir), tablePath,
      checkpointDir, appId, keyCol = "user_id",
      orderBy = Seq(col("ts").desc, col("event_id").desc),
      projection = df => df.select(col("user_id"),
        col("event_type").as("last_type"),
        col("event_id").as("last_event"),
        col("value").as("last_value")))

  def cdcApplyStream(spark: SparkSession, srcDir: String, tablePath: String,
                     checkpointDir: String, appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.SnapshotTable
    readEvents(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .select(col("user_id"),
            when(col("event_type") === "purchase", lit("D"))
              .otherwise(lit("U")).as("op"),
            col("event_type").as("last_type"),
            col("ts").as("last_ts"), col("value").as("last_value"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try SnapshotTable.applyCdc(latest.sparkSession, tablePath, latest,
          Seq("user_id"), "op", appId, batchId)
        finally latest.unpersist(false)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  case class BandMember(band: Int, bh: Long, doc_id: Long,
                        sig: Array[Long], shs: Array[Long])
  case class NearDupPair(id_a: Long, id_b: Long, shared: Long,
                         jaccard: Double)

  /** Streaming verified near-dup pairs — the d06 operating point
    * (MinHash-banded candidates + EXACT shingle-set verification) as an
    * incremental stream, closing the last batch/streaming capability
    * asymmetry in the dedup family. `dropDuplicatesWithinWatermark`
    * covers exact-hash dedup; this covers NEAR duplicates: each
    * arriving document's signature is banded, and the band keys flow
    * through the STATE STORE — state is keyed by (band, bucket-hash),
    * holding the bucket's members (id, signature, shingle hashes), so a
    * new member pairs only against its own bucket's history, never the
    * corpus (candidate volume bounded by band-collision probability,
    * exactly the batch jaccardJoinBanded discipline).
    *
    * Emit-once across bands without a second stateful dedup: a pair
    * colliding in several bands is emitted only by its FIRST
    * value-colliding band (both signatures sit in state, so the check
    * is local — the same trick batch uses a `distinct` for). Pairs are
    * verified with exact sorted-array intersection before emission, so
    * the output equals batch `jaccardJoinBanded` row-for-row
    * (StreamingSpec pins set equality). Within a micro-batch, members
    * process in doc_id order — arrival-order-independent output.
    *
    * State contract at scale: per-bucket member lists are the
    * signature+shingle working set of the dedup horizon. Here the
    * corpus is finite so state is unbounded (NoTimeout); the PRODUCTION
    * bounded form is [[nearDupPairsBoundedStream]] — documents keyed by
    * an event-time column, bucket members EVICTED past the horizon with
    * EventTimeTimeout exactly as [[sessionize]] does — the SAME bounded-
    * state contract `dropDuplicatesWithinWatermark` applies to exact
    * dedup. (The one documented divergence from batch: an xxhash64
    * bucket collision between UNEQUAL band slices would make batch
    * verify a candidate this path never sees — odds ~2^-64 per bucket,
    * the d02 oracle's own collision argument.)
    */
  def nearDupPairsStream(spark: SparkSession, dir: String,
                         threshold: Double = 0.5, numHashes: Int = 64,
                         bands: Int = 16): Dataset[NearDupPair] = {
    import spark.implicits._
    val r = numHashes / bands
    val banded = spark.readStream.schema(graft.Tables.schemas("documents")).parquet(s"$dir/documents*")
      .select(col("doc_id"),
        graft.functions.minhash_signature(col("text"), numHashes, 3).as("sig"),
        expr(s"array_sort(array_distinct(${wordGrams("split(text, ' ')", 3, GramKey.XxHash64)}))")
          .as("shs"))
      .select(explode(expr(bandKeys("sig", bands, r))).as("bk"),
        col("doc_id"), col("sig"), col("shs"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"),
        col("doc_id"), col("sig"), col("shs"))
      .as[BandMember]

    def bandEq(a: Array[Long], b: Array[Long], band: Int): Boolean = {
      var i = band * r
      val end = (band + 1) * r
      while (i < end) { if (a(i) != b(i)) return false; i += 1 }
      true
    }
    def firstCollidingBand(a: Array[Long], b: Array[Long]): Int = {
      var band = 0
      while (band < bands) { if (bandEq(a, b, band)) return band; band += 1 }
      -1
    }
    def sharedCount(a: Array[Long], b: Array[Long]): Long = {
      var (i, j, n) = (0, 0, 0L)
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      n
    }

    banded
      .groupByKey(m => (m.band, m.bh))
      .flatMapGroupsWithState[List[BandMember], NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[BandMember],
         state: GroupState[List[BandMember]]) =>
          val prior = state.getOption.getOrElse(Nil)
          val fresh = rows.toSeq.sortBy(_.doc_id).toList
          val out = Seq.newBuilder[NearDupPair]
          var seen = prior
          fresh.foreach { nw =>
            seen.foreach { m =>
              if (m.doc_id != nw.doc_id
                  && firstCollidingBand(m.sig, nw.sig) == key._1) {
                val (a, b) = if (m.doc_id < nw.doc_id) (m, nw) else (nw, m)
                val shared = sharedCount(a.shs, b.shs)
                val union = a.shs.length.toLong + b.shs.length - shared
                val jac = shared.toDouble / union
                if (jac >= threshold)
                  out += NearDupPair(a.doc_id, b.doc_id, shared, jac)
              }
            }
            seen = nw :: seen
          }
          state.update(seen)
          out.result().iterator
      }
  }

  // carries the WATERMARKED event-time column itself (the analyzer
  // requires it to reach the stateful operator for EventTimeTimeout)
  case class BandMemberT(band: Int, bh: Long, doc_id: Long,
                         sig: Array[Long], shs: Array[Long],
                         ts: java.sql.Timestamp) {
    def ms: Long = ts.getTime
  }

  /** BOUNDED-STATE streaming near-dup — the production form of
    * [[nearDupPairsStream]]: documents carry an event-time column, the
    * stream is watermarked, and every (band, bucket) group EVICTS
    * members once the watermark passes `eventTime + horizonMillis`
    * (EventTimeTimeout, the [[sessionize]] discipline) — state is the
    * horizon's working set, never the corpus. A pair emits only when
    * the two documents are within the horizon of EACH OTHER, so the
    * output equals batch jaccardJoinBanded restricted to
    * |ts_a − ts_b| ≤ horizon regardless of WHEN eviction fires (the
    * pair window is checked explicitly; timeouts only bound state).
    * Emit-once via the first-colliding-band trick, verification by
    * exact sorted-array intersection — both unchanged from the
    * unbounded form.
    */
  def nearDupPairsBoundedStream(source: DataFrame, idCol: String,
                                textCol: String, tsCol: String,
                                horizonMillis: Long,
                                watermarkDelay: String = "1 hour",
                                threshold: Double = 0.5,
                                numHashes: Int = 64,
                                bands: Int = 16): Dataset[NearDupPair] = {
    val spark = source.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val banded = source.withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).as("doc_id"),
        graft.functions.minhash_signature(col(textCol), numHashes, 3)
          .as("sig"),
        expr(s"array_sort(array_distinct(${wordGrams(s"split(`$textCol`, ' ')", 3, GramKey.XxHash64)}))")
          .as("shs"),
        col(tsCol).as("ts"))
      .select(explode(expr(bandKeys("sig", bands, r))).as("bk"),
        col("doc_id"), col("sig"), col("shs"), col("ts"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"),
        col("doc_id"), col("sig"), col("shs"), col("ts"))
      .as[BandMemberT]

    def bandEq(a: Array[Long], b: Array[Long], band: Int): Boolean = {
      var i = band * r
      val end = (band + 1) * r
      while (i < end) { if (a(i) != b(i)) return false; i += 1 }
      true
    }
    def firstCollidingBand(a: Array[Long], b: Array[Long]): Int = {
      var band = 0
      while (band < bands) { if (bandEq(a, b, band)) return band; band += 1 }
      -1
    }
    def sharedCount(a: Array[Long], b: Array[Long]): Long = {
      var (i, j, n) = (0, 0, 0L)
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      n
    }
    // re-arm the group's wake-up at the EARLIEST member expiry (must
    // land strictly past the current watermark per the state contract)
    def rearm(state: GroupState[List[BandMemberT]],
              kept: List[BandMemberT], wm: Long): Unit =
      if (kept.isEmpty) state.remove()
      else {
        state.update(kept)
        state.setTimeoutTimestamp(
          math.max(kept.map(_.ms + horizonMillis).min, wm + 1))
      }

    banded
      .groupByKey(m => (m.band, m.bh))
      .flatMapGroupsWithState[List[BandMemberT], NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandMemberT],
         state: GroupState[List[BandMemberT]]) =>
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            // age out members past the horizon; keep (and re-arm) the rest
            rearm(state, state.getOption.getOrElse(Nil)
              .filter(_.ms + horizonMillis >= wm), wm)
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(Nil)
              .filter(_.ms + horizonMillis >= wm)
            val fresh = rows.toSeq.sortBy(m => (m.ms, m.doc_id)).toList
            val out = Seq.newBuilder[NearDupPair]
            var seen = prior
            fresh.foreach { nw =>
              seen.foreach { m =>
                if (m.doc_id != nw.doc_id
                    && math.abs(nw.ms - m.ms) <= horizonMillis
                    && firstCollidingBand(m.sig, nw.sig) == key._1) {
                  val (a, b) =
                    if (m.doc_id < nw.doc_id) (m, nw) else (nw, m)
                  val shared = sharedCount(a.shs, b.shs)
                  val union = a.shs.length.toLong + b.shs.length - shared
                  val jac = shared.toDouble / union
                  if (jac >= threshold)
                    out += NearDupPair(a.doc_id, b.doc_id, shared, jac)
                }
              }
              seen = nw :: seen
            }
            rearm(state, seen.filter(_.ms + horizonMillis >= wm), wm)
            out.result().iterator
          }
      }
  }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class SessionAcc(startMicros: Long, lastMicros: Long, n: Int, value: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Int, session_value: Double)

  /** Gap-based sessionizer over per-user state (30-minute inactivity gap).
    * Emits a session whenever a new event arrives more than the gap after
    * the previous one, or when the state times out at the watermark.
    */
  def sessionize(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMicros = 30L * 60 * 1000 * 1000

    // microsecond-precision start (a bare Timestamp(millis) would drop
    // the sub-ms part and break byte parity with batch session_window);
    // floorDiv/floorMod so pre-epoch timestamps split correctly too
    def flush(acc: SessionAcc, userId: Long): SessionOut = {
      val t = new java.sql.Timestamp(Math.floorDiv(acc.startMicros, 1000000L) * 1000)
      t.setNanos((Math.floorMod(acc.startMicros, 1000000L) * 1000).toInt)
      SessionOut(userId, t, acc.n, acc.value)
    }

    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[Ev], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(_, userId)).toSeq
            state.remove()
            out.iterator
          } else {
            // full microsecond precision: getTime is millis-only and
            // would both misplace sub-ms gap boundaries and break byte
            // parity of session_start with the batch session_window;
            // floorDiv so pre-epoch times don't round toward zero
            def micros(t: java.sql.Timestamp): Long =
              Math.floorDiv(t.getTime, 1000L) * 1000000 + t.getNanos / 1000
            val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val closed = Seq.newBuilder[SessionOut]
            var acc = state.getOption.orNull
            sorted.foreach { e =>
              val t = micros(e.ts)
              if (acc == null) acc = SessionAcc(t, t, 1, e.value)
              else if (t > acc.lastMicros + gapMicros) {
                closed += flush(acc, userId)
                acc = SessionAcc(t, t, 1, e.value)
              } else acc = acc.copy(lastMicros = math.max(acc.lastMicros, t),
                n = acc.n + 1, value = acc.value + e.value)
            }
            if (acc != null) {
              state.update(acc)
              state.setTimeoutTimestamp(acc.lastMicros / 1000 + 30 * 60 * 1000)
            }
            closed.result().iterator
          }
      }
  }
}
