package graft.validate

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.schema.JsonSchemaConverter.typeNames
import scala.jdk.CollectionConverters._

/** JSON-Schema (Draft 4) → Catalyst constraint predicates.
  *
  * The reference validates every RECORD with `Draft4Validator.validate`
  * (reference __init__.py:231,241) — a per-row Python interpreter call. Here
  * the same keywords compile once per stream into `Column` expressions
  * evaluated inside WholeStageCodegen: validation cost is a few comparisons
  * per row and the whole check is Catalyst-optimizable (SURVEY.md §2.2 P5
  * option b).
  *
  * Keyword coverage (Draft-4 semantics as implemented by the `jsonschema`
  * library the reference uses):
  *  - `type` — structural: `from_json` yields null for a cell whose raw
  *    JSON is present but uncoercible, so `raw NOT NULL AND parsed NULL`
  *    ⇔ wrong type;
  *  - `minimum` / `maximum`, with Draft-4 BOOLEAN `exclusiveMinimum` /
  *    `exclusiveMaximum` modifiers (Draft 6 made them numbers — the
  *    reference pins Draft 4);
  *  - `multipleOf` — computed in DECIMAL(38,18), not float mod, closing
  *    the reference's legacy float→decimal intent (L2, __init__.py:76-82);
  *  - `maxLength` / `minLength`;
  *  - `pattern` — `rlike`, unanchored search like Python `re.search`;
  *  - `enum` — `isin` over the literal values;
  *  - `required` — key PRESENCE via `json_object_keys` on the raw JSON:
  *    a present-but-null key satisfies `required` in Draft 4, so a
  *    parsed-null test would be wrong; only the raw text knows presence.
  */
object Constraints {

  final case class LeafConstraint(
      path: Seq[String],           // nested field path in the parsed struct
      jsonPath: String,            // $.a.b for get_json_object on the raw record
      minimum: Option[BigDecimal],
      maximum: Option[BigDecimal],
      exclusiveMinimum: Boolean,
      exclusiveMaximum: Boolean,
      multipleOf: Option[BigDecimal],
      maxLength: Option[Int],
      minLength: Option[Int],
      pattern: Option[String],
      enumVals: Option[Seq[Any]],
      declaredTypes: Seq[String]) {
    def flatName: String = path.mkString("__")
  }

  /** `required` is an OBJECT-level keyword (a list of child names); the
    * check is key presence inside the parent's raw JSON object. */
  final case class RequiredConstraint(parentPath: Seq[String], key: String) {
    def flatName: String = (parentPath :+ key).mkString("__")
  }

  final case class CompiledConstraints(
      leaves: Seq[LeafConstraint],
      required: Seq[RequiredConstraint])

  private def enumValue(n: JsonNode): Any =
    if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.toString

  /** Walk a schema's properties, collecting leaf + required constraints.
    * Arrays are leaves (never recursed), mirroring the flatten walk. */
  def compile(schema: JsonNode, parent: Seq[String] = Seq.empty): CompiledConstraints = {
    val required: Seq[RequiredConstraint] = Option(schema.get("required")).toSeq
      .filter(_.isArray)
      .flatMap(r => (0 until r.size()).map(i => RequiredConstraint(parent, r.get(i).asText())))
    val props = Option(schema.get("properties"))
    val children = props.toSeq.flatMap(_.properties().asScala.toSeq.map { e =>
      val (k, v) = (e.getKey, e.getValue)
      val path = parent :+ k
      if (typeNames(v).contains("object")) compile(v, path)
      else CompiledConstraints(Seq(LeafConstraint(
        path = path,
        jsonPath = "$." + path.mkString("."),
        minimum = Option(v.get("minimum")).map(n => BigDecimal(n.asText())),
        maximum = Option(v.get("maximum")).map(n => BigDecimal(n.asText())),
        exclusiveMinimum = Option(v.get("exclusiveMinimum")).exists(_.asBoolean(false)),
        exclusiveMaximum = Option(v.get("exclusiveMaximum")).exists(_.asBoolean(false)),
        multipleOf = Option(v.get("multipleOf")).map(n => BigDecimal(n.asText())),
        maxLength = Option(v.get("maxLength")).map(_.asInt()),
        minLength = Option(v.get("minLength")).map(_.asInt()),
        pattern = Option(v.get("pattern")).map(_.asText()),
        enumVals = Option(v.get("enum")).filter(_.isArray)
          .map(a => (0 until a.size()).map(i => enumValue(a.get(i)))),
        declaredTypes = typeNames(v))), Seq.empty)
    })
    CompiledConstraints(
      children.flatMap(_.leaves),
      required ++ children.flatMap(_.required))
  }

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)(_.getField(_))

  private val Dec = DecimalType(38, 18)

  /** A column evaluating to the first violation message for the row, or
    * null if the row is valid. `root` is the parsed struct column, `raw`
    * the original record-JSON string column. A null `raw` — a RECORD
    * envelope with no `record` key — is itself a protocol violation (the
    * reference crashes on the missing key, __init__.py:216): flagging it
    * here surfaces a Singer error instead of an opaque downstream
    * json-inference failure, and without it every keyword check is
    * vacuous on the null payload. */
  def violation(cc: CompiledConstraints, root: Column, raw: Column): Column = {
    val missingRecord =
      when(raw.isNull, lit("Message is missing required key 'record'"))
    val requiredChecks: Seq[Column] = cc.required.map { rc =>
      // json_object_keys(null JSON / non-object) is null → when the parent
      // object itself is absent, `required` for its children is vacuous
      // (Draft 4 applies keywords only to present instances).
      val parentJson =
        if (rc.parentPath.isEmpty) raw
        else get_json_object(raw, "$." + rc.parentPath.mkString("."))
      val keys = json_object_keys(parentJson)
      when(keys.isNotNull && !array_contains(keys, rc.key),
        lit(s"'${rc.key}' is a required property"))
    }
    val leafChecks: Seq[Column] = cc.leaves.flatMap { c =>
      val parsed = field(root, c.path)
      val rawCell = get_json_object(raw, c.jsonPath)
      // Draft 4 applies string keywords (pattern/minLength/maxLength) only
      // to STRING instances — a numeric instance must not be pattern-
      // checked against its rendered text (jsonschema _validators.py
      // guards each with `not isinstance(instance, str)`). The probe is a
      // streaming early-exit walk (see JsonCellIsString for why neither
      // from_json nor get_json_object can answer this).
      lazy val isJsonString =
        graft.functions.JsonCellIsString.jsonCellIsString(raw, c.path)
      // min/max compare in DOUBLE like the reference's Python floats — a
      // Decimal(38,18) cast of |v| >= 1e20 THROWS under ANSI (default in
      // Spark 4), so one huge value would kill the whole validation job;
      // try_cast makes it NULL instead, and the double comparisons keep
      // the bound checks from going vacuous exactly for the most
      // out-of-range values.
      val num = parsed.cast("double")
      val dec = parsed.try_cast(Dec)
      val str = parsed.cast("string")
      val typeCheck: Seq[Column] =
        if (c.declaredTypes.isEmpty || c.declaredTypes.contains("array")) Seq.empty
        // parsed.isNull FIRST: And short-circuits in codegen, so the
        // get_json_object re-parse of the raw record only runs for rows
        // whose parsed cell is null — on clean data that is almost never,
        // keeping the hot validation scan free of redundant JSON parsing.
        else Seq(when(parsed.isNull && rawCell.isNotNull,
          format_string("%s is not of type %s", rawCell,
            lit(c.declaredTypes.mkString("'", "', '", "'")))))
      // String-only declared fields: from_json coerced any token into the
      // string slot, so `parsed.isNull` never fires — flag a non-string
      // instance as the TYPE violation it is (ahead of the string
      // keywords, which Draft 4 says ignore non-string instances).
      val strTypeCheck: Seq[Column] =
        if (c.declaredTypes.contains("string") &&
            c.declaredTypes.forall(t => t == "string" || t == "null"))
          Seq(when(parsed.isNotNull && !isJsonString,
            format_string("%s is not of type %s", rawCell,
              lit(c.declaredTypes.mkString("'", "', '", "'")))))
        else Seq.empty
      // Exact decimal comparison when the value fits Decimal(38,18)
      // (doubles lose integer precision past 2^53 — 2^53+1 over a 2^53
      // bound must still flag); double fallback outside decimal range,
      // where Python float comparison is the reference semantics anyway.
      def bound(cmpDec: Column => Column, cmpDbl: Column => Column): Column =
        coalesce(cmpDec(dec), cmpDbl(num))
      val minCheck = c.minimum.toSeq.map { m =>
        val md = m.bigDecimal; val dd = m.bigDecimal.doubleValue
        if (c.exclusiveMinimum)
          when(bound(_ <= md, _ <= dd),
            format_string(s"%s is less than or equal to the minimum of $m", str))
        else
          when(bound(_ < md, _ < dd),
            format_string(s"%s is less than the minimum of $m", str))
      }
      val maxCheck = c.maximum.toSeq.map { m =>
        val md = m.bigDecimal; val dd = m.bigDecimal.doubleValue
        if (c.exclusiveMaximum)
          when(bound(_ >= md, _ >= dd),
            format_string(s"%s is greater than or equal to the maximum of $m", str))
        else
          when(bound(_ > md, _ > dd),
            format_string(s"%s is greater than the maximum of $m", str))
      }
      // multipleOf stays exact in DECIMAL(38,18) (0.3 IS a multiple of
      // 0.1 — the L2 closure); the double pmod is only the fallback for
      // values outside decimal range, where Python float % is what the
      // reference computes anyway.
      val multCheck = c.multipleOf.toSeq.map { m =>
        val exact = pmod(dec, lit(m.bigDecimal).cast(Dec)) =!= lit(0).cast(Dec)
        val approx = pmod(num, lit(m.bigDecimal.doubleValue)) =!= lit(0.0)
        when(coalesce(exact, approx),
          format_string(s"%s is not a multiple of $m", str))
      }
      val maxLenCheck = c.maxLength.toSeq.map(n =>
        when(isJsonString && (length(str) > n),
          format_string(s"%s is too long (maxLength $n)", str)))
      val minLenCheck = c.minLength.toSeq.map(n =>
        when(isJsonString && (length(str) < n),
          format_string(s"%s is too short (minLength $n)", str)))
      val patCheck = c.pattern.toSeq.map(p =>
        when(isJsonString && !str.rlike(p),
          format_string(s"%s does not match '$p'", str)))
      val enumCheck = c.enumVals.toSeq.map(vs =>
        when(!parsed.isin(vs: _*),
          format_string(s"%s is not one of ${vs.mkString("[", ", ", "]")}", str)))
      (typeCheck ++ strTypeCheck ++ minCheck ++ maxCheck ++ multCheck ++
        maxLenCheck ++ minLenCheck ++ patCheck ++ enumCheck)
        .map(ch => when(ch.isNotNull, concat(lit(s"${c.flatName}: "), ch)))
    }
    val checks = missingRecord +: (requiredChecks ++ leafChecks)
    coalesce(checks :+ lit(null).cast("string"): _*)
  }

  /** The first invalid record in input order: its `idx` and violation
    * message, or None when every record is valid. `df` carries the `idx`
    * input-order column next to `root` and `raw`.
    *
    * Reduced by an aggregate rather than a `violation IS NOT NULL`
    * filter: Catalyst would push that filter through the `from_json`
    * projection (re-parsing the record once per referenced leaf) and below
    * a round-robin exchange into the scan, validating a one-split input in
    * one task. A projection stays where it is written, so the check runs
    * on every post-exchange partition, and the `min` over
    * `(idx, violation)` needs no `limit` take-ladder. */
  def firstViolation(df: DataFrame, cc: CompiledConstraints,
                     root: Column, raw: Column): Option[(Long, String)] = {
    val first = df.select(col("idx"), violation(cc, root, raw).as("v"))
      .agg(min(when(col("v").isNotNull, struct(col("idx"), col("v")))))
      .head()
    if (first.isNullAt(0)) None
    else Some(first.getStruct(0).getLong(0) -> first.getStruct(0).getString(1))
  }

  def violationError(stream: String, message: String): IllegalArgumentException =
    new IllegalArgumentException(s"Record validation failed for stream $stream: $message")

  /** Strict mode (reference behavior): fail on the first invalid record in
    * input order. Only that one record's message reaches the driver. */
  def validateOrThrow(df: DataFrame, cc: CompiledConstraints,
                      root: Column, raw: Column, stream: String): Unit =
    firstViolation(df, cc, root, raw).foreach { case (_, m) => throw violationError(stream, m) }
}
