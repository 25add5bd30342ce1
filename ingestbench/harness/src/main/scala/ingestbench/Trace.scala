package ingestbench

import java.io.{ByteArrayOutputStream, PipedInputStream, PipedOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.ingestbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.FlattenColumns
import graft.model._
import graft.pipeline.SingerPipeline
import graft.schema.JsonSchemaConverter
import graft.streaming.{StdinSpooler, StreamingIngest}
import graft.validate.Constraints

/** Listener-side counters; a span reads their difference across its body. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                        inputBytes: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
                        singleTaskCpuNs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, inputBytes - o.inputBytes, shuffleWrite - o.shuffleWrite,
    spill - o.spill, singleTaskCpuNs - o.singleTaskCpuNs)
  def cpuS: Double = cpuNs / 1e9
}

final class LayerListener extends SparkListener {
  private var c = Counts()
  private val stageCpu = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val key = (e.stageId, e.stageAttemptId)
      stageCpu(key) = stageCpu.getOrElse(key, 0L) + m.executorCpuTime
      c = c.copy(tasks = c.tasks + 1, cpuNs = c.cpuNs + m.executorCpuTime,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    } else c = c.copy(tasks = c.tasks + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val cpu = stageCpu.remove((info.stageId, info.attemptNumber())).getOrElse(0L)
    c = c.copy(stages = c.stages + 1,
      singleTaskCpuNs = c.singleTaskCpuNs + (if (info.numTasks == 1) cpu else 0L))
  }
  def counts: Counts = synchronized(c)
}

/** Spans kept in memory (name, start, end, parent, workload) and written as
  * JSON lines when the run ends. */
final class Spans(workload: String, spark: SparkSession, listener: LayerListener) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[String]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  /** Runs `body` as span `name`: (result, wall seconds, listener counts). */
  def apply[T](name: String)(body: => T): (T, Double, Counts) = {
    ListenerBusDrain(spark.sparkContext)
    val before = listener.counts
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val start = System.nanoTime()
    val out = try body finally stack.pop()
    val end = System.nanoTime()
    ListenerBusDrain(spark.sparkContext)
    done += f"""{"id":$id,"name":"$name","start_s":${(start - t0) / 1e9}%.6f,""" +
      f""""end_s":${(end - t0) / 1e9}%.6f,"parent":$parent,"workload":"$workload"}"""
    (out, (end - start) / 1e9, listener.counts - before)
  }

  def write(path: String): Unit = Files.write(Paths.get(path), done.asJava)
}

/** Traced run of the ingest layers on one benchmark corpus.
  *
  * Times the public functions of each ingest module (`model`, `schema`,
  * `validate`, `functions`, `pipeline`, `streaming`) from outside, with a
  * [[LayerListener]] counting the Spark work under each span, and prints one
  * JSON object of per-layer metrics as its last stdout line.
  *
  * Usage: Trace --workload W --corpus file --config cfg.json --out dir
  *              --cores n --spans file [--only pipeline]
  */
object Trace {
  private val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** SingerPipeline.run, keeping the bookmark it returns in `<out>.state`
    * for the benchmark's output check. */
  private def runPipeline(spark: SparkSession, corpus: String, out: Path,
                          config: TargetConfig): Unit = {
    val result = SingerPipeline.run(spark, corpus, out.toString, config)
    Files.writeString(Paths.get(out.toString + ".state"), result.state.getOrElse(""))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val cores = opts("cores").toInt
    val corpus = opts("corpus")
    val out = Paths.get(opts("out"))
    val config = readConfig(opts("config"))

    var builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ingestbench-trace")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    config.tempDir.foreach(d => builder = builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val spans = new Spans(opts("workload"), spark, listener)

    val lines = Files.readAllLines(Paths.get(corpus)).asScala.toSeq
    val c = CorpusInfo(lines, Files.size(Paths.get(corpus)))
    try {
      // The first call in a fresh JVM, on every core count: the pair that
      // the single-core baseline compares.
      metrics("pipeline.run.cold_wall_s") =
        spans("pipeline.run.cold")(runPipeline(spark, corpus, out.resolve("pipeline-cold"), config))._2
      if (!opts.get("only").contains("pipeline")) {
        control(spans, c)
        recordLayers(spark, spans, corpus, out.resolve("flat"), config, c)
        pipeline(spark, spans, listener, corpus, out.resolve("pipeline"), config, c, cores)
        streaming(spark, spans, out, config, c)
        spoolFeed(spans, out.resolve("spool"), c)
      }
    } finally {
      spans.write(opts("spans"))
      spark.stop()
    }
    println(metrics.map { case (k, v) => s""""$k": ${json(v)}""" }.mkString("{", ", ", "}"))
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def readConfig(path: String): TargetConfig = {
    val node = Singer.parseJson(Files.readString(Paths.get(path)))
    TargetConfig.fromMap(node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
  }

  /** The corpus seen from the driver: control lines, and the first stream's
    * last SCHEMA line and RECORD lines (the stream the record-level probes use). */
  final case class CorpusInfo(lines: Seq[String], bytes: Long) {
    private val typed = lines.zipWithIndex.map { case (l, i) =>
      val n = Singer.parseJson(l); (n.get("type").asText(), Option(n.get("stream")).map(_.asText()), l, i)
    }
    val control: Seq[(String, Long)] =
      typed.collect { case (t, _, l, i) if t == "SCHEMA" || t == "STATE" => (l, i.toLong) }
    val stream: String = typed.collectFirst { case ("SCHEMA", Some(s), _, _) => s }.get
    val schemaLine: String = typed.collect { case ("SCHEMA", Some(`stream`), l, _) => l }.last
    val schemaNode = Singer.parseControl(0, schemaLine).asInstanceOf[SchemaMessage].schema
    val records: Seq[String] = typed.collect { case ("RECORD", Some(`stream`), l, _) => l }
    val stateIdx: Set[Int] = typed.collect { case ("STATE", _, _, i) => i }.toSet
  }

  /** Mean microseconds per call of `f`, repeated for at least 0.2 s. */
  private def perCallUs(f: => Any): Double = {
    var n = 0L
    val start = System.nanoTime()
    while (n < 20 || System.nanoTime() - start < 200000000L) { f; n += 1 }
    (System.nanoTime() - start) / 1e3 / n
  }

  /** Control plane: Singer.parseControl + StateFold, JSON Schema → struct,
    * constraint compilation. */
  private def control(spans: Spans, c: CorpusInfo): Unit = {
    val (us, _, _) = spans("model.parse_control") {
      perCallUs {
        val msgs = c.control.map { case (l, i) => Singer.parseControl(i, l) }
        StateFold.emittedState(msgs.collect { case s: StateMessage => s }, Some(c.lines.size.toLong))
      } / c.control.size
    }
    metrics("model.parse_control_us") = us
    metrics("schema.to_struct_type_us") =
      spans("schema.to_struct_type")(perCallUs(JsonSchemaConverter.toStructType(c.schemaNode)))._1
    metrics("validate.compile_us") =
      spans("validate.compile")(perCallUs(Constraints.compile(c.schemaNode)))._1
  }

  /** The first stream's records, shaped as SingerPipeline.run shapes them. */
  private def streamRecords(spark: SparkSession, corpus: String, stream: String): DataFrame = {
    val raw = spark.read.textFile(corpus).toDF("value")
      .withColumn("idx", monotonically_increasing_id())
    val dp = spark.sparkContext.defaultParallelism
    val lines = if (raw.rdd.getNumPartitions < dp) raw.repartition(dp) else raw
    lines.filter(get_json_object(col("value"), "$.type") === "RECORD" &&
        get_json_object(col("value"), "$.stream") === stream)
      .select(col("idx"), get_json_object(col("value"), "$.record").as("rec"),
              get_json_object(col("value"), "$.time_extracted").as("time_extracted"))
  }

  /** Record-level layers on one stream: schema inference, validation and
    * flatten (without and with the Parquet encode). */
  private def recordLayers(spark: SparkSession, spans: Spans, corpus: String, out: Path,
                           config: TargetConfig, c: CorpusInfo): Unit = {
    val recs = streamRecords(spark, corpus, c.stream)
    val n = c.records.size.toDouble
    val declared = JsonSchemaConverter.toStructType(c.schemaNode, config.decimalForMultipleOf)
    val (inferred, inferS, inferC) = spans("schema.infer_extra") {
      JsonSchemaConverter.inferExtra(spark, recs, config.inferSampleRows)
    }
    metrics("schema.infer_extra.wall_s") = inferS
    metrics("schema.infer_extra.task_cpu_s") = inferC.cpuS
    metrics("schema.infer_extra.read_amplification") = inferC.inputBytes.toDouble / c.bytes
    val schema: StructType =
      if (config.inferExtraFields) JsonSchemaConverter.mergeSchemas(declared, inferred) else declared
    val parsed = recs.select(col("idx"), col("rec"), col("time_extracted"),
      from_json(col("rec"), schema).as("r"))

    val cc = Constraints.compile(c.schemaNode)
    val (_, valS, valC) = spans("validate.validate_or_throw") {
      Constraints.validateOrThrow(parsed, cc, col("r"), col("rec"), c.stream)
    }
    metrics("validate.validate_or_throw.wall_s") = valS
    metrics("validate.validate_or_throw.task_cpu_s") = valC.cpuS
    metrics("validate.cpu_us_per_record") = valC.cpuS * 1e6 / n

    val meta: Seq[Column] =
      if (config.addMetadataColumns)
        Seq(col("time_extracted").as("_sdc_extracted_at"), lit("ts").as("_sdc_batched_at"))
      else Seq.empty
    val flat = parsed.select(FlattenColumns.columns(col("r"), schema) ++ meta: _*)
    val (_, noopS, noopC) = spans("functions.flatten_noop") {
      flat.write.format("noop").mode("overwrite").save()
    }
    val (_, pqS, _) = spans("functions.flatten_parquet") {
      flat.write.mode("overwrite").option("compression", config.compressionCodecAndExt._1)
        .parquet(out.toString)
    }
    metrics("functions.flatten_noop.wall_s") = noopS
    metrics("functions.flatten_parquet.wall_s") = pqS
    metrics("functions.parquet_encode_s") = pqS - noopS
    metrics("functions.cpu_us_per_record") = noopC.cpuS * 1e6 / n
  }

  /** SingerPipeline.run on the whole corpus in a warm JVM: once with the
    * listener detached, then traced; the pair gives the tracing overhead. */
  private def pipeline(spark: SparkSession, spans: Spans, listener: LayerListener, corpus: String,
                       out: Path, config: TargetConfig, c: CorpusInfo, cores: Int): Unit = {
    // Each call writes its own directory: default output naming is
    // timestamped, so calls sharing one would add up their files.
    spark.sparkContext.removeSparkListener(listener)
    val start = System.nanoTime()
    try runPipeline(spark, corpus, Paths.get(out.toString + "-untraced"), config)
    finally spark.sparkContext.addSparkListener(listener)
    val untraced = (System.nanoTime() - start) / 1e9
    val (_, wall, k) = spans("pipeline.run")(runPipeline(spark, corpus, out, config))
    metrics("trace.overhead_frac") = wall / untraced - 1
    val files = Files.walk(out).iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      Files.isRegularFile(p) && name.endsWith(".parquet") && !name.startsWith(".") &&
        !name.startsWith("_")
    }.toSeq
    metrics("pipeline.run.wall_s") = wall
    metrics("pipeline.run.jobs") = k.jobs.toDouble
    metrics("pipeline.run.stages") = k.stages.toDouble
    metrics("pipeline.run.tasks") = k.tasks.toDouble
    metrics("pipeline.run.task_cpu_s") = k.cpuS
    metrics("pipeline.run.core_util") = k.cpuS / (wall * cores)
    metrics("pipeline.run.single_task_cpu_frac") =
      if (k.cpuNs > 0) k.singleTaskCpuNs.toDouble / k.cpuNs else 0.0
    metrics("pipeline.run.read_amplification") = k.inputBytes.toDouble / c.bytes
    metrics("pipeline.run.shuffle_write_bytes") = k.shuffleWrite.toDouble
    metrics("pipeline.run.spill_bytes") = k.spill.toDouble
    metrics("pipeline.run.output_files") = files.size.toDouble
    metrics("pipeline.run.output_bytes") = files.map(Files.size).sum.toDouble
  }

  /** StreamingIngest.processBatch on batches of the first stream's records:
    * the fixed cost of a one-record batch and the per-record slope up to a
    * larger batch. */
  private def streaming(spark: SparkSession, spans: Spans, out: Path,
                        config: TargetConfig, c: CorpusInfo): Unit = {
    val ingest = new StreamingIngest(spark, out.resolve("stream").toString, config)
    val state = """{"type":"STATE","value":{"seq":0}}"""
    val big = math.min(2000, c.records.size)
    val bookmarks = new ByteArrayOutputStream()
    var batchId = 0L
    def batch(n: Int, withSchema: Boolean = false): (Double, Counts) = {
      val msgs = (if (withSchema) Seq(c.schemaLine) else Seq.empty) ++ c.records.take(n) :+ state
      val df = spark.createDataset(msgs)(Encoders.STRING).toDF("value")
      val (_, wall, k) = spans(s"streaming.process_batch.$n") {
        Console.withOut(new PrintStream(bookmarks, true))(ingest.processBatch(df, batchId))
      }
      batchId += 1
      (wall, k)
    }
    batch(1, withSchema = true) // registers the stream's schema
    val ones = (1 to 3).map(_ => batch(1))
    val fixed = median(ones.map(_._1))
    val slope = median((1 to 2).map(_ => batch(big)._1))
    metrics("streaming.process_batch.fixed_s") = fixed
    metrics("streaming.process_batch.us_per_record") = (slope - fixed) * 1e6 / math.max(1, big - 1)
    metrics("streaming.process_batch.jobs") = median(ones.map(_._2.jobs.toDouble))
    metrics("streaming.bookmarks_emitted") =
      bookmarks.toString("UTF-8").linesIterator.count(_.nonEmpty).toDouble
  }

  /** The corpus fed through a pipe into StdinSpooler (the stream mode's
    * stdin reader) as fast as the pipe takes it, every line due at the
    * start.  Gives `streaming.spool_s` and, for corpora that no scheduled
    * feeder drives, the feeder-health pair: how late each STATE got into the
    * pipe (p99), and the growth of STATE-to-chunk lag over the corpus. */
  private def spoolFeed(spans: Spans, dir: Path, c: CorpusInfo): Unit = {
    Files.createDirectories(dir)
    val in = new PipedInputStream(1 << 16)
    val pipe = new PipedOutputStream(in)
    val spooler = new StdinSpooler(in, dir).start()
    val written = mutable.ArrayBuffer.empty[(Int, Double)] // (line, seconds after start)
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val (_, spoolS, _) = spans("streaming.spool") {
      c.lines.zipWithIndex.foreach { case (l, i) =>
        pipe.write((l + "\n").getBytes(UTF_8))
        if (c.stateIdx(i)) written += ((i, (System.nanoTime() - start) / 1e9))
      }
      pipe.close()
      spooler.awaitEof()
    }
    metrics("streaming.spool_s") = spoolS
    // Chunk files in order give each line the time its chunk appeared.
    var first = 0
    val chunks = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("chunk-")).toSeq.sorted.map { n =>
        val f = dir.resolve(n)
        val lines = Files.readAllLines(f).size
        val r = (first, first + lines, (Files.getLastModifiedTime(f).toMillis - startMs) / 1e3)
        first += lines
        r
      }
    val lags = written.map { case (i, t) => chunks.find(ch => i >= ch._1 && i < ch._2).get._3 - t }
    val late = written.map(_._2).sorted
    val q = lags.size / 4
    metrics("gen.late_p99_s") = late(math.min(late.size - 1, (late.size * 0.99).toInt))
    metrics("gen.lag_growth_s") =
      if (q > 0) median(lags.takeRight(q).toSeq) - median(lags.take(q).toSeq) else Double.NaN
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
