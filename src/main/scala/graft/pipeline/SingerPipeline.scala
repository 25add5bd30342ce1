package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.schema.JsonSchemaConverter
import graft.functions.FlattenColumns
import graft.validate.Constraints

/** The engine's core: the reference's whole dataflow
  * (`stdin → parse → validate → flatten → partition-by-stream →
  * micro-batch → parquet → S3`, SURVEY.md §0) re-expressed as one Spark
  * batch job per stream.
  *
  * Scale design (SURVEY.md §3.2 mapping):
  *  - RECORD lines never touch the driver: they flow scan → `from_json` →
  *    constraint check → flatten select-list → parquet sink, all
  *    partition-parallel. At 100 TB the input splits across executors like
  *    any text scan.
  *  - Every (stream, schema epoch) is inferred and validated before any is
  *    written, concurrently from a driver thread pool; the writes then run
  *    one stream per thread. Under the default (not inline) validation, an
  *    invalid record anywhere fails the run with no stream written.
  *  - SCHEMA/STATE are control-plane (a handful of lines per run,
  *    reference corpus has 13); only those are collected, preserving file
  *    order via `monotonically_increasing_id` (monotone in file offset for
  *    ordered text splits).
  *  - The order constraint (record-before-schema → error, reference
  *    __init__.py:224-229) and the state fold (P8) need only per-stream
  *    `min(idx)` / global `max(idx)` — O(1)-output aggregates.
  *  - The reference's producer/consumer process pair and its
  *    stream-change flush artifact (X2) disappear: Spark's scheduler
  *    provides the pipeline parallelism, `maxRecordsPerFile` provides the
  *    size-based batching (X3).
  *
  * Documented divergences from the reference (all SURVEY.md §7.4): actual
  * compression instead of rename-only (S9), no crash on missing prefix
  * (S8) or zero records (X4), one parquet directory per stream instead of
  * many change-triggered small files (X2).
  */
object SingerPipeline {

  /** Max unknown-type payloads echoed to stderr (reference warns per
    * message, __init__.py:246-251; the echo here is capped — see run). */
  val unknownSampleN = 5

  final case class StreamOutput(stream: String, path: String, rows: Long)
  final case class IngestResult(
      state: Option[String],
      outputs: Seq[StreamOutput],
      keyProperties: Map[String, Seq[String]])

  /** Run the batch pipeline over a newline-delimited Singer message file
    * (local path, hdfs:// or s3a://) writing one parquet dataset per
    * stream under `outputUri`. */
  def run(spark: SparkSession,
          inputPath: String,
          outputUri: String,
          config: TargetConfig = TargetConfig(),
          clock: () => String = Naming.defaultTimestamp _): IngestResult = {
    import spark.implicits._

    val raw = spark.read.textFile(inputPath).toDF("value")
      .withColumn("idx", monotonically_increasing_id())
    // Compute-bound-expansion rule (the dedup_substr / Profiling
    // precedent): downstream work per line (from_json of the record
    // payload, constraint predicates, flatten, parquet encode) is far
    // heavier than the text scan, so parallelism must track CORES, not
    // input splits. A tap's output often arrives as ONE spooled file —
    // one split — which would run the whole pipeline as a single task.
    // idx is projected BELOW the exchange (on the ordered scan
    // partitions), so its file-order monotonicity survives the
    // round-robin; every consumer is order-independent given idx.
    // When the input already has >= defaultParallelism splits (any real
    // multi-file corpus — and any 100 TB one), this is a no-op: no
    // shuffle of raw input bytes is ever added at scale.
    // The fan-out is cut from the plan as an RDD, so it runs once: every
    // later pass reads its shuffle output instead of re-scanning the
    // split, and Catalyst cannot push a pass's filters below it into the
    // one-task scan (measured: 40% of batch_flat's task CPU ran there).
    val scanParts = raw.rdd.getNumPartitions
    val lines =
      if (scanParts < spark.sparkContext.defaultParallelism) {
        val fanned = raw.repartition(spark.sparkContext.defaultParallelism)
        spark.createDataFrame(fanned.rdd, fanned.schema)
      } else raw

    // Envelope dispatch (P2) via codegen'd JSON path extraction — the full
    // record payload is NOT parsed here.
    val typed = lines.select(
      col("idx"), col("value"),
      get_json_object(col("value"), "$.type").as("mtype"),
      get_json_object(col("value"), "$.stream").as("stream"))

    // ONE pre-pass over all lines covers: the strict parse check (P1 — a
    // line without $.type is invalid JSON / not a Singer message),
    // unknown-type accounting (reference warns per unknown message,
    // __init__.py:246-251), AND the per-stream record extents used by the
    // order check (P4) and state fold (P8). Output is O(streams), so the
    // collect is control-plane-sized at any input scale.
    // Control rows (SCHEMA/STATE) ride along as a conditional
    // collect_list — collect_list skips nulls, so the RECORD groups
    // collect nothing and the output stays O(streams + control messages).
    val prepass = typed.groupBy("mtype", "stream")
      .agg(min("idx").as("minIdx"), max("idx").as("maxIdx"),
           count(lit(1)).as("n"),
           min(when(col("mtype").isNull, col("value"))).as("sample"),
           collect_list(when(col("mtype").isin("SCHEMA", "STATE"),
             struct(col("idx"), col("value")))).as("ctrl"))
      .collect()
    // row layout: (mtype, stream, minIdx, maxIdx, n, sample, ctrl)
    prepass.find(_.isNullAt(0)).foreach { r =>
      throw new RuntimeException(Singer.unparseableError(r.getString(5)))
    }
    val nUnknown = prepass.filter(r => !r.isNullAt(0) &&
      !Set("RECORD", "SCHEMA", "STATE").contains(r.getString(0))).map(_.getLong(4)).sum
    if (nUnknown > 0) {
      // Echo the payloads like the reference does per unknown message
      // (__init__.py:246-251), but bounded: the first `unknownSampleN` in
      // file order via a TakeOrdered limit — a rogue tap emitting millions
      // of ACTIVATE_VERSIONs costs one bounded extra scan in this warning
      // path, never driver memory. The aggregate count is always exact.
      val samples = typed
        .filter(col("mtype").isNotNull &&
          !col("mtype").isin("RECORD", "SCHEMA", "STATE"))
        .orderBy("idx").limit(SingerPipeline.unknownSampleN)
        .select(col("mtype"), col("value")).collect()
      samples.foreach(r => Console.err.println(
        s"[graft] warning: Unknown message type ${r.getString(0)} " +
          s"in message ${r.getString(1)}"))
      if (nUnknown > samples.length)
        Console.err.println(s"[graft] warning: $nUnknown unknown-type " +
          s"message(s) total; first ${samples.length} shown")
    }

    // Control plane → driver, in file order.
    val control = prepass.toSeq
      .flatMap(_.getSeq[org.apache.spark.sql.Row](6))
      .map(r => Singer.parseControl(r.getLong(0), r.getString(1)))
      .sortBy(_.idx)

    // Schema re-registration is POSITIONAL, matching the reference, which
    // overwrites the stream's validator on every SCHEMA message
    // (__init__.py:239-245) — that is how Singer taps do schema evolution.
    // Records between two SCHEMA messages are shaped/validated by the
    // earlier one; records after a re-emit by the new one. Each (schema,
    // record-range) pair is an "epoch" written in its own pass below.
    val schemasByStream: Map[String, Seq[SchemaMessage]] =
      control.collect { case s: SchemaMessage => s }
        .groupBy(_.stream).view.mapValues(_.sortBy(_.idx).toSeq).toMap
    val states = control.collect { case s: StateMessage => s }.toSeq

    val records = typed.filter(col("mtype") === "RECORD")
      .select(col("idx"), col("stream"),
              get_json_object(col("value"), "$.record").as("rec"),
              get_json_object(col("value"), "$.time_extracted").as("time_extracted"))
    // Persist the parsed records only when several epochs will each
    // filter the same scan. With one epoch, caching was measured (sf0.1)
    // to cost more than the text re-scans its inference, validation and
    // write passes perform — so don't.
    val multiEpoch = schemasByStream.size > 1 ||
      schemasByStream.values.exists(_.size > 1)
    if (multiEpoch) records.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Per-stream record extents, already computed in the pre-pass.
      val extents = prepass
        .filter(r => !r.isNullAt(0) && r.getString(0) == "RECORD")
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

      extents.foreach { case (stream, (minIdx, _, _)) =>
        schemasByStream.get(stream) match {
          case None => throw new IllegalArgumentException(Singer.recordBeforeSchemaError(stream))
          case Some(sms) if minIdx < sms.head.idx =>
            throw new IllegalArgumentException(Singer.recordBeforeSchemaError(stream))
          case _ => ()
        }
      }

      val maxRecordIdx = extents.values.map(_._2).maxOption
      val emittedState = StateFold.emittedState(states, maxRecordIdx)
        .map(Singer.toJsonString)

      val timestamp = clock()

      // Epoch bounds: each schema governs records up to the next
      // re-registration (positional last-wins, see above). Zero-record
      // streams have no epochs and get no file (fixes X4 crash).
      val epochs: Seq[Epoch] = for {
        stream <- schemasByStream.keys.toSeq.sorted if extents.contains(stream)
        sms = schemasByStream(stream)
        ((sm, end), n) <- sms.zip(sms.map(_.idx).drop(1) :+ Long.MaxValue).zipWithIndex
      } yield Epoch(stream, n, sm, end)

      def pathOf(stream: String): String = outputPath(outputUri, config, stream, timestamp)

      // Epochs are independent Spark jobs, each too small to fill the
      // cores alone: run them from a driver pool sized by the input and
      // the machine. Each job spends driver CPU (planning, codegen) as
      // well as task CPU, so half the cores keep enough jobs in flight:
      // on batch_nested (16 epochs, 4 cores) a full-width pool synced no
      // faster and its peak RSS was ~16% higher.
      // Phase 1 checks every epoch before phase 2 writes any, so (unless
      // validation is inline) an invalid record anywhere leaves no stream
      // written. Phase 2 writes one output path per thread, its epochs in
      // order; streams whose naming maps them to one path share a thread
      // and write in stream order, as a sequential run would.
      val pool = Executors.newFixedThreadPool(
        math.max(1, math.min(epochs.size, Runtime.getRuntime.availableProcessors / 2)))
      try {
        val checked = parMap(pool, epochs) { e =>
          checkEpoch(spark, records.filter(col("stream") === e.stream &&
              col("idx") > e.sm.idx && col("idx") < e.end), e.sm, config,
            validate = config.strictValidation && !config.inlineValidation)
        }
        throwFirstViolation(epochs.map(_.stream).zip(checked))

        val byPath = epochs.zip(checked).groupBy { case (e, _) => pathOf(e.stream) }
          .toSeq.sortBy(_._1)
        parMap(pool, byPath) { case (path, pathEpochs) =>
          pathEpochs.foreach { case (e, c) =>
            // Fused validation: the guard evaluates during the write scan
            // itself — one less full pass over the records, the right
            // trade at 100 TB. Cost: a violating record aborts MID-write,
            // so partial output can exist (the reference has the same
            // hazard across its already-flushed batches, §3.2); the
            // default stays the checked-before-written path.
            val guarded =
              if (!(config.strictValidation && config.inlineValidation)) c
              else {
                val v = Constraints.violation(Constraints.compile(e.sm.schema),
                  col("r"), col("rec"))
                c.copy(parsed = c.parsed.filter(
                  when(v.isNotNull, raise_error(concat(
                    lit(s"Record validation failed for stream ${e.stream}: "), v))
                    .cast("boolean"))
                  .otherwise(lit(true))))
              }
            // First epoch replaces any previous run's output; later epochs
            // append their (possibly differently-shaped) files alongside —
            // parquet readers merge by footer schema, same as the
            // reference's per-batch inferred files (§1.4).
            writeEpoch(guarded, path, if (e.n == 0) "overwrite" else "append",
              timestamp, config)
          }
        }
      } finally pool.shutdown()

      val outputs = epochs.map(_.stream).distinct
        .map(stream => StreamOutput(stream, pathOf(stream), extents(stream)._3))
      IngestResult(emittedState, outputs,
        schemasByStream.view.mapValues(_.last.keyProperties).toMap)
    } finally if (multiEpoch) { records.unpersist(); () }
  }

  /** One stream's records between two of its SCHEMA messages: the `n`-th
    * schema `sm` of `stream` governs the records with `sm.idx < idx < end`. */
  private final case class Epoch(stream: String, n: Int, sm: SchemaMessage, end: Long)

  /** One epoch's records ready to write: the schema they are parsed with
    * (declared, plus the record-only fields when inferring), the parsed
    * records (`idx`, `rec`, `time_extracted`, struct `r`), and the first
    * invalid record's `(idx, message)` when validation ran and found one. */
  private[graft] final case class CheckedEpoch(
      schema: StructType, parsed: DataFrame, firstBad: Option[(Long, String)])

  /** Shape one epoch's records (`idx`, `rec`, `time_extracted`) by the
    * SCHEMA message `sm` that governs them and, when `validate`, find the
    * first invalid one. Shared by the batch and the streaming ingest. */
  private[graft] def checkEpoch(spark: SparkSession, recs: DataFrame, sm: SchemaMessage,
                                config: TargetConfig, validate: Boolean): CheckedEpoch = {
    val declared = JsonSchemaConverter.toStructType(sm.schema, config.decimalForMultipleOf)
    // Union-schema passthrough (§1.4): record-only fields survive.
    val schema: StructType =
      if (config.inferExtraFields)
        JsonSchemaConverter.mergeSchemas(declared,
          JsonSchemaConverter.inferExtra(spark, recs, config.inferSampleRows))
      else declared
    val parsed = recs.select(col("idx"), col("rec"), col("time_extracted"),
      from_json(col("rec"), schema).as("r"))
    val firstBad =
      if (validate) Constraints.firstViolation(parsed, Constraints.compile(sm.schema),
        col("r"), col("rec"))
      else None
    CheckedEpoch(schema, parsed, firstBad)
  }

  /** Fail with the first invalid record in input order among the checked
    * `(stream, epoch)`s, whichever stream it belongs to — the record the
    * reference, which validates in arrival order, would have stopped at. */
  private[graft] def throwFirstViolation(checked: Seq[(String, CheckedEpoch)]): Unit =
    checked.flatMap { case (stream, c) => c.firstBad.map(stream -> _) }
      .minByOption(_._2._1)
      .foreach { case (stream, (_, msg)) => throw Constraints.violationError(stream, msg) }

  /** Where `stream`'s parquet dataset goes for a run (or micro-batch)
    * stamped `timestamp`. */
  private[graft] def outputPath(outputUri: String, config: TargetConfig, stream: String,
                                timestamp: String): String =
    if (config.streamsInSeparateFolder) s"$outputUri/$stream"
    else s"$outputUri/${Naming.outputKey(config, stream, timestamp)}"

  /** Flatten one checked epoch and write it as parquet under `path`. */
  private[graft] def writeEpoch(c: CheckedEpoch, path: String, mode: String,
                                timestamp: String, config: TargetConfig): Unit = {
    // L1 metadata columns (reference legacy __init__.py:85-88):
    // _sdc_extracted_at from the envelope, _sdc_batched_at = batch time.
    val metaCols: Seq[Column] =
      if (config.addMetadataColumns)
        Seq(col("time_extracted").as("_sdc_extracted_at"), lit(timestamp).as("_sdc_batched_at"))
      else Seq.empty
    var writer = c.parsed.select(FlattenColumns.columns(col("r"), c.schema) ++ metaCols: _*)
      .write.mode(mode).option("compression", config.compressionCodecAndExt._1)
    if (config.fileSize > 0) writer = writer.option("maxRecordsPerFile", config.fileSize)
    writer.parquet(path)
  }

  /** `f` over `xs` on `pool`, results in `xs` order. Returns only once
    * every call has finished, then rethrows the first failure in `xs`
    * order: no job outlives the call, and the error does not depend on
    * which thread finished first. */
  private def parMap[A, B](pool: ExecutorService, xs: Seq[A])(f: A => B): Seq[B] =
    pool.invokeAll(xs.map(x => (() => f(x)): Callable[B]).asJava).asScala.toSeq.map { r =>
      try r.get() catch { case e: ExecutionException => throw e.getCause }
    }

  /** State emission (S10, reference __init__.py:26-31): one JSON line to
    * stdout, nothing when state is absent. */
  def emitState(state: Option[String]): Unit = state.foreach { s =>
    Console.out.println(s)
    Console.out.flush()
  }
}
