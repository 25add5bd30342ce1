package graft.validate

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Singer
import graft.schema.JsonSchemaConverter

/** Per-keyword Draft-4 pins, matching the `jsonschema` library semantics
  * the reference relies on (__init__.py:231,241). */
class ConstraintsSpec extends SparkSpec {

  /** First violation message for one raw record under a schema, or None. */
  private def violation(schemaJson: String, recordJson: String): Option[String] = {
    import spark.implicits._
    val node = Singer.parseJson(schemaJson)
    val cc = Constraints.compile(node)
    val st = JsonSchemaConverter.toStructType(node)
    Seq(recordJson).toDF("raw")
      .select(col("raw"), from_json(col("raw"), st).as("r"))
      .select(Constraints.violation(cc, col("r"), col("raw")).as("v"))
      .collect().headOption.flatMap(r => Option(r.getString(0)))
  }

  private val intProp = """{"type": ["null", "integer"]}"""
  private val numProp = """{"type": ["null", "number"]}"""

  test("required: present-but-null satisfies; absent key violates (Draft 4)") {
    val s = s"""{"required": ["a"], "properties": {"a": $intProp}}"""
    assert(violation(s, """{"a": null}""").isEmpty) // presence, not non-null
    assert(violation(s, """{"a": 3}""").isEmpty)
    assert(violation(s, """{"b": 1}""").contains("'a' is a required property"))
  }

  test("required on a nested object is vacuous when the parent is absent") {
    val s = """{"properties": {"p": {"type": ["null", "object"],
              |"required": ["x"], "properties": {"x": {"type": ["null", "integer"]}}}}}"""
      .stripMargin.replace("\n", " ")
    assert(violation(s, """{}""").isEmpty)               // no parent: vacuous
    assert(violation(s, """{"p": {"x": 1}}""").isEmpty)
    assert(violation(s, """{"p": {"y": 1}}""").exists(_.contains("'x' is a required property")))
  }

  test("exclusiveMinimum/exclusiveMaximum are Draft-4 BOOLEAN modifiers") {
    val incl = s"""{"properties": {"v": {"type": ["null", "number"], "minimum": 5}}}"""
    val excl = s"""{"properties": {"v": {"type": ["null", "number"],
                  |"minimum": 5, "exclusiveMinimum": true}}}""".stripMargin.replace("\n", " ")
    assert(violation(incl, """{"v": 5}""").isEmpty)       // inclusive: 5 ok
    assert(violation(excl, """{"v": 5}""").exists(_.contains("less than or equal to")))
    assert(violation(excl, """{"v": 5.1}""").isEmpty)
    val exclMax = s"""{"properties": {"v": {"type": ["null", "number"],
                     |"maximum": 9, "exclusiveMaximum": true}}}""".stripMargin.replace("\n", " ")
    assert(violation(exclMax, """{"v": 9}""").exists(_.contains("greater than or equal to")))
    assert(violation(exclMax, """{"v": 8.9}""").isEmpty)
  }

  test("multipleOf uses decimal arithmetic, not float mod (closes L2)") {
    val s = s"""{"properties": {"v": {"type": ["null", "number"], "multipleOf": 0.1}}}"""
    // 0.3 % 0.1 != 0 in IEEE doubles — decimal arithmetic must accept it
    assert(violation(s, """{"v": 0.3}""").isEmpty)
    assert(violation(s, """{"v": 0.35}""").exists(_.contains("not a multiple of 0.1")))
    val ints = s"""{"properties": {"v": {"type": ["null", "integer"], "multipleOf": 3}}}"""
    assert(violation(ints, """{"v": 9}""").isEmpty)
    assert(violation(ints, """{"v": 10}""").exists(_.contains("not a multiple of 3")))
  }

  test("bounds still enforced beyond Decimal(38,18) range (overflow not vacuous)") {
    val s = s"""{"properties": {"a": {"type": ["null", "number"], "maximum": 100}}}"""
    // 1e21 overflows DECIMAL(38,18) to NULL; the double comparison must
    // still flag it rather than passing a value 10^19x over the bound.
    assert(violation(s, """{"a": 1e21}""").exists(_.contains("greater than")))
    val sm = s"""{"properties": {"a": {"type": ["null", "number"], "minimum": -100}}}"""
    assert(violation(sm, """{"a": -1e21}""").exists(_.contains("less than")))
    // multipleOf falls back to float mod out of decimal range (Python
    // float % is what the reference computes there) — 1e21 % 0.5 == 0.0
    val mult = s"""{"properties": {"a": {"type": ["null", "number"], "multipleOf": 0.5}}}"""
    assert(violation(mult, """{"a": 1e21}""").isEmpty)
  }

  test("bounds are exact past double precision (2^53 + 1 over a 2^53 bound)") {
    // both sides round to the same double; the decimal comparison must
    // still see the difference (Python compares arbitrary-precision ints)
    val s = s"""{"properties": {"a": {"type": ["null", "integer"], "maximum": 9007199254740992}}}"""
    assert(violation(s, """{"a": 9007199254740993}""").exists(_.contains("greater than")))
    assert(violation(s, """{"a": 9007199254740992}""").isEmpty)
  }

  test("pattern is an unanchored search, like Python re.search") {
    val s = """{"properties": {"v": {"type": ["null", "string"], "pattern": "b+"}}}"""
    assert(violation(s, """{"v": "abc"}""").isEmpty) // substring match suffices
    assert(violation(s, """{"v": "acd"}""").exists(_.contains("does not match")))
    val anchored = """{"properties": {"v": {"type": ["null", "string"], "pattern": "^[a-z]+$"}}}"""
    assert(violation(anchored, """{"v": "ok"}""").isEmpty)
    assert(violation(anchored, """{"v": "Not"}""").exists(_.contains("does not match")))
  }

  test("enum membership (typed literals)") {
    val s = """{"properties": {"v": {"type": ["null", "string"], "enum": ["red", "green"]}}}"""
    assert(violation(s, """{"v": "red"}""").isEmpty)
    assert(violation(s, """{"v": "blue"}""").exists(_.contains("is not one of")))
    val n = s"""{"properties": {"v": {"type": ["null", "integer"], "enum": [1, 2]}}}"""
    assert(violation(n, """{"v": 2}""").isEmpty)
    assert(violation(n, """{"v": 3}""").exists(_.contains("is not one of")))
  }

  test("minLength / maxLength") {
    val s = """{"properties": {"v": {"type": ["null", "string"], "minLength": 3, "maxLength": 5}}}"""
    assert(violation(s, """{"v": "abc"}""").isEmpty)
    assert(violation(s, """{"v": "ab"}""").exists(_.contains("too short")))
    assert(violation(s, """{"v": "abcdef"}""").exists(_.contains("too long")))
  }

  test("numeric instance in a string-declared field is a TYPE violation") {
    // from_json coerces 123 into the string slot as "123"; the violation
    // must be the type error, not a pattern/length check of the rendering
    val s = """{"properties": {"v": {"type": ["null", "string"],
              |"pattern": "^[a-z]+$", "maxLength": 2}}}"""
      .stripMargin.replace("\n", " ")
    assert(violation(s, """{"v": 123}""").exists(_.contains("is not of type")))
    assert(violation(s, """{"v": {"x": 1}}""").exists(_.contains("is not of type")))
    assert(violation(s, """{"v": "ab"}""").isEmpty)
  }

  test("string keywords ignore non-string instances in union-typed fields (Draft 4)") {
    // type ["null","integer","string"]: instance 7 is a valid integer;
    // pattern/length apply only to string instances
    val s = """{"properties": {"v": {"type": ["null", "integer", "string"],
              |"pattern": "^[a-z]+$", "minLength": 2}}}"""
      .stripMargin.replace("\n", " ")
    assert(violation(s, """{"v": 7}""").isEmpty)
    assert(violation(s, """{"v": "ok"}""").isEmpty)
    assert(violation(s, """{"v": "XY"}""").exists(_.contains("does not match")))
  }

  test("keywords are vacuous for null values (type unions with null)") {
    val s = """{"properties": {"v": {"type": ["null", "string"],
              |"minLength": 3, "pattern": "x", "enum": ["xxx"]}}}"""
      .stripMargin.replace("\n", " ")
    assert(violation(s, """{"v": null}""").isEmpty)
    assert(violation(s, """{}""").isEmpty)
  }

  private val strSchema = Singer.parseJson(
    s"""{"properties": {"pk": $intProp, "v": {"type": ["null", "string"], "maxLength": 3}}}""")

  test("validateOrThrow names the earliest violating record in input order") {
    import spark.implicits._
    // The later record (idx 9) comes first in the only partition: taking
    // whichever violation is found first would name it.
    val df = Seq(9L -> """{"pk": "x", "v": "ok"}""", 5L -> """{"pk": 1, "v": "toolong"}""",
        7L -> """{"pk": 2, "v": "ok"}""").toDF("idx", "rec").coalesce(1)
      .withColumn("r", from_json(col("rec"), JsonSchemaConverter.toStructType(strSchema)))
    val cc = Constraints.compile(strSchema)
    assert(Constraints.firstViolation(df, cc, col("r"), col("rec"))
      .contains(5L -> "v: toolong is too long (maxLength 3)"))
    val e = intercept[IllegalArgumentException] {
      Constraints.validateOrThrow(df, cc, col("r"), col("rec"), "s")
    }
    assert(e.getMessage == "Record validation failed for stream s: v: toolong is too long (maxLength 3)")
    assert(Constraints.firstViolation(df.filter(col("idx") === 7L), cc, col("r"), col("rec")).isEmpty)
  }

  test("validation of a one-split input runs on every core") {
    val f = Files.createTempFile("records", ".jsonl")
    Files.writeString(f, (1 to 2000).map(i => s"""{"pk": $i, "v": "abc"}""").mkString("\n"))
    val raw = spark.read.textFile(f.toString).toDF("rec")
      .withColumn("idx", monotonically_increasing_id())
    assert(raw.rdd.getNumPartitions == 1)
    val cores = spark.sparkContext.defaultParallelism
    // The pipeline's shape: fan the one split out, then parse.
    val df = raw.repartition(cores)
      .withColumn("r", from_json(col("rec"), JsonSchemaConverter.toStructType(strSchema)))

    // Stage sizes seen while validating. Listener events arrive
    // asynchronously and in order, so the end of a marker job run after
    // the call proves every earlier stage has been reported.
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val marker = "constraints-spec-marker"
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == marker)
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (markerDone.getCount > 0) stageTasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Constraints.validateOrThrow(df, Constraints.compile(strSchema), col("r"), col("rec"), "s")
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(stageTasks.asScala.map(_.intValue).max >= cores)
  }
}
