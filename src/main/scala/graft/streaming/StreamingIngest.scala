package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model._
import graft.pipeline.SingerPipeline

/** Structured-Streaming variant of the Singer ingest (SURVEY.md §7.1 #7):
  * `readStream.text(dir)` → `foreachBatch` running the same
  * dispatch/validate/flatten core per micro-batch, appending per-stream
  * parquet and emitting the state bookmark after every committed batch —
  * the streaming analogue of the reference's unbounded stdin loop, with
  * Spark's checkpointing replacing its ad-hoc resume bookkeeping.
  *
  * Cross-batch state (the schema registry and last bookmark) lives on the
  * driver, exactly like the reference's `schemas`/`state` dicts — SCHEMA
  * and STATE are control-plane; RECORD data stays distributed. Because a
  * Singer tap only re-sends SCHEMA at ITS restart, not at the target's,
  * the registry is also persisted under `{outputUri}/_graft_registry/` (via
  * the Hadoop FS API, so it works for local paths and s3a:// alike) and
  * reloaded on construction — a resumed query must not fail on records
  * whose SCHEMA arrived before the restart.
  */
final class StreamingIngest(
    spark: SparkSession,
    outputUri: String,
    config: TargetConfig = TargetConfig(),
    clock: () => String = Naming.defaultTimestamp _) extends Serializable {

  import org.apache.hadoop.fs.Path

  private def fs = new Path(outputUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def registryDir = new Path(outputUri, "_graft_registry")

  private def loadRegistry(): Map[String, SchemaMessage] = {
    val f = fs
    if (!f.exists(registryDir)) Map.empty
    else f.listStatus(registryDir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = f.open(st.getPath)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Singer.parseControl(-1L, line).asInstanceOf[SchemaMessage]
      }.map(m => m.stream -> m).toMap
  }

  private def persistSchema(rawLine: String, stream: String): Unit = {
    val f = fs
    f.mkdirs(registryDir)
    val out = f.create(new Path(registryDir, s"$stream.json"), true)
    try out.write(rawLine.getBytes("UTF-8")) finally out.close()
  }

  // Driver-side registries (control-plane, tiny).
  private val schemas = new AtomicReference(loadRegistry())
  private val lastState = new AtomicReference[Option[String]](None)
  @volatile private var sawRecordAfterState = false

  def emittedState: Option[String] =
    if (sawRecordAfterState) None else lastState.get()

  /** Process one micro-batch of raw Singer lines (also usable directly
    * for testing without a streaming query). */
  def processBatch(lines: DataFrame, batchId: Long): Unit = {
    import lines.sparkSession.implicits._
    // Arrival order is captured FIRST, on the batch's ORIGINAL
    // partitioning (monotonically_increasing_id is nondeterministic, so
    // Catalyst never moves it across the exchange below — idx semantics
    // are bit-identical to the pre-r16 single-projection spelling for
    // both the file-spool and live sources). THEN the batch fans out
    // and materializes once: foreachBatch re-executes the source scan
    // per downstream action, and the live pipe source is one serial
    // partition by nature, so without this every control-plane collect
    // and per-epoch write below re-parsed the whole batch
    // single-threaded (measured 12 s/batch at sf0.1 on the live row —
    // vs ~4 s for the whole spool pipeline; the "parallelism happens
    // DOWNSTREAM" contract in StdinStreamSource's scaladoc is exactly
    // this exchange).
    val typed = lines
      .select(col("value"), monotonically_increasing_id().as("idx"))
      .repartition(lines.sparkSession.sparkContext.defaultParallelism)
      .select(
        col("value"),
        col("idx"),
        get_json_object(col("value"), "$.type").as("mtype"),
        get_json_object(col("value"), "$.stream").as("stream"))
      .localCheckpoint()

    typed.filter(col("mtype").isNull).select("value").limit(1).collect()
      .foreach(r => throw new RuntimeException(Singer.unparseableError(r.getString(0))))

    val controlRaw = typed.filter(col("mtype").isin("SCHEMA", "STATE"))
      .select("idx", "value").collect()
      .map(r => (r.getString(1), Singer.parseControl(r.getLong(0), r.getString(1))))
      .sortBy(_._2.idx)
    val newSchemas = controlRaw.collect { case (raw, m: SchemaMessage) => (raw, m) }
    val latestInBatch = newSchemas.groupBy(_._2.stream).view
      .mapValues(_.maxBy(_._2.idx)).toMap
    val baseline = schemas.get() // registry as of the previous batch
    val inBatchByStream = newSchemas.map(_._2).groupBy(_.stream).view
      .mapValues(_.sortBy(_.idx).toSeq).toMap
    val states = controlRaw.collect { case (_, m: StateMessage) => m }

    val records = typed.filter(col("mtype") === "RECORD")
      .select(col("idx"), col("stream"),
        get_json_object(col("value"), "$.record").as("rec"),
        get_json_object(col("value"), "$.time_extracted").as("time_extracted"))

    val present = records.select("stream").distinct().as[String].collect().sorted

    // Epochs per stream: the registry schema (if any) governs records up
    // to the batch's first in-batch SCHEMA; each in-batch SCHEMA governs
    // from its own position to the next — same positional semantics as
    // the batch pipeline.
    def epochsFor(stream: String): Seq[(Long, SchemaMessage)] =
      baseline.get(stream).map(m => (Long.MinValue, m)).toSeq ++
        inBatchByStream.getOrElse(stream, Seq.empty).map(m => (m.idx, m))

    // ALL order checks run BEFORE any schema is persisted or registered:
    // a batch that fails the record-before-SCHEMA check must fail
    // identically when the restarted query retries it — persisting first
    // would make the protocol error vanish on the second attempt (the
    // record would silently take the schema that arrived after it).
    present.foreach { stream =>
      val epochs = epochsFor(stream)
      if (epochs.isEmpty)
        throw new IllegalArgumentException(Singer.recordBeforeSchemaError(stream))
      // In-batch order check (reference __init__.py:224-229): with no
      // prior registration, a record preceding the batch's first SCHEMA
      // is an error — same strictness as the batch path.
      if (!baseline.contains(stream)) {
        val minRec = records.filter(col("stream") === stream)
          .agg(min("idx")).collect().head
        if (!minRec.isNullAt(0) && minRec.getLong(0) < epochs.head._1)
          throw new IllegalArgumentException(Singer.recordBeforeSchemaError(stream))
      }
    }

    // Config parity with the batch path (SingerPipeline.run): the
    // reference's naming (__init__.py:264-271), §1.4 extra-field
    // passthrough, and L1 metadata columns apply to EVERY write, not just
    // batch-mode ones. One timestamp per micro-batch — under the default
    // naming each batch lands in its own timestamped key, the streaming
    // analogue of the reference's one-file-per-batch output.
    val timestamp = clock()
    // Every epoch of the batch is inferred and validated before the first
    // write: a batch that fails validation leaves no append-mode files for
    // its retry to duplicate. Inference costs one pass per epoch per
    // MICRO-BATCH — on the streaming hot path that is per-trigger read
    // amplification; latency-sensitive deployments should set
    // infer_extra_fields=false or bound it via infer_sample_rows.
    val checked = present.toSeq.flatMap { stream =>
      val epochs = epochsFor(stream)
      val streamRecs = records.filter(col("stream") === stream)
      val ends = epochs.map(_._1).drop(1) :+ Long.MaxValue
      epochs.zip(ends).map { case ((start, sm), end) =>
        stream -> SingerPipeline.checkEpoch(spark,
          streamRecs.filter(col("idx") > start && col("idx") < end), sm, config,
          validate = config.strictValidation)
      }
    }
    SingerPipeline.throwFirstViolation(checked)
    checked.foreach { case (stream, c) =>
      SingerPipeline.writeEpoch(c, SingerPipeline.outputPath(outputUri, config, stream, timestamp),
        "append", timestamp, config)
    }

    // Last-wins registration, matching the reference's overwrite-on-every-
    // SCHEMA (__init__.py:239-245): the registry (and its on-disk persist)
    // holds the LATEST schema per stream. Registered only AFTER the write
    // loop: a batch that fails mid-write is retried by the restarted query
    // against the SAME baseline, so pre-SCHEMA records re-parse under the
    // schema that actually governed them (persisting first would reshape
    // them under the batch's later schema on retry). A batch failing
    // validation writes nothing; one failing mid-write (a crash, a storage
    // error) leaves the append-mode files already written, which its
    // retry duplicates — the trade the reference makes in the opposite
    // direction (it LOSES everything since its last state on a crash).
    latestInBatch.foreach { case (stream, (raw, _)) => persistSchema(raw, stream) }
    schemas.updateAndGet(reg => reg ++ latestInBatch.map { case (k, (_, m)) => k -> m })

    // P8 fold across the batch: any record after the batch's last STATE
    // nullifies; a batch with records and no trailing STATE nullifies too.
    val maxRecIdx = records.agg(max("idx")).collect().head
    val recIdx = if (maxRecIdx.isNullAt(0)) None else Some(maxRecIdx.getLong(0))
    (states.lastOption, recIdx) match {
      case (Some(st), r) =>
        lastState.set(Some(Singer.toJsonString(st.value)))
        sawRecordAfterState = r.exists(_ > st.idx)
      case (None, Some(_)) => sawRecordAfterState = true
      case (None, None) => ()
    }
    Bookmarks.emit(emittedState, batchId)
  }

  /** Start `q` with checkpoint-file checksums scoped off (unless
    * re-enabled — [[StreamingAnalytics.checkpointChecksum]]'s r16
    * thread-leak finding applies to the ingest checkpoints too). The
    * restore after `.start()` is safe: `startQuery` clones the session
    * state synchronously inside start, so the running query keeps the
    * conf it started with. */
  private def startWithCkptConf(q: => StreamingQuery): StreamingQuery = {
    val key = StreamingAnalytics.ChecksumConfKey
    val prev = spark.conf.getOption(key)
    val cksum = StreamingAnalytics.checkpointChecksum
    if (!cksum) spark.conf.set(key, "false")
    try q finally if (!cksum)
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Start the streaming query over a directory of Singer message files. */
  def start(inputDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWithCkptConf(spark.readStream.text(inputDir).toDF("value")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start())

  /** Start the streaming query over LIVE stdin via the DSv2
    * [[StdinMicroBatchStream]] — the unbounded `tap | target` pipe with
    * no pre-spool. Same per-micro-batch core; replay/restart semantics
    * documented at [[StdinStream]]. */
  def startLive(checkpointDir: String,
                trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    startWithCkptConf(
      spark.readStream.format(classOf[StdinStreamProvider].getName).load()
        .toDF("value")
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
        .start())
}

private object Bookmarks {
  /** Bookmark emission per committed batch (reference emits once at EOF;
    * a streaming target emits after every commit). */
  def emit(state: Option[String], batchId: Long): Unit =
    state.foreach(s => Console.out.println(s))
}
