package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import graft.model.TargetConfig

/** `graft.Main --mode batch`: what a sync leaves behind in `temp_dir`. */
class MainSpec extends SparkSpec {

  private val schema =
    """{"type": "SCHEMA", "stream": "s", "schema": {"properties": {"pk": {"type": ["null", "integer"]}}}, "key_properties": ["pk"]}"""
  private val valid = Seq(schema,
    """{"type": "RECORD", "stream": "s", "record": {"pk": 1}}""",
    """{"type": "STATE", "value": {"seq": 1}}""")

  /** Run a batch sync with `stdin` as the tap's output; returns its stdout. */
  private def runBatch(stdin: Seq[String], opts: Map[String, String], tempDir: Path,
                       out: String): String = {
    val saved = System.in
    val stdout = new ByteArrayOutputStream()
    System.setIn(new ByteArrayInputStream(stdin.mkString("\n").getBytes("UTF-8")))
    try Console.withOut(new PrintStream(stdout, true, "UTF-8")) {
      Main.runBatch(spark, opts, out, TargetConfig(tempDir = Some(tempDir.toString)))
    } finally System.setIn(saved)
    stdout.toString("UTF-8")
  }

  private def listing(dir: Path): Seq[String] = dir.toFile.list().toSeq

  test("batch mode deletes its stdin spool file, also when the sync fails") {
    val tmp = Files.createTempDirectory("graft-temp")
    val out = Files.createTempDirectory("graft-out").toString
    assert(runBatch(valid, Map.empty, tmp, out).trim == """{"seq":1}""")
    assert(listing(tmp).isEmpty)

    intercept[RuntimeException](runBatch(Seq(schema, "NOT JSON"), Map.empty, tmp, out))
    assert(listing(tmp).isEmpty)
  }

  test("batch mode never deletes an --input file") {
    val tmp = Files.createTempDirectory("graft-temp")
    val input = Files.createTempFile("messages", ".jsonl")
    Files.writeString(input, valid.mkString("\n"))
    runBatch(Seq.empty, Map("input" -> input.toString), tmp,
      Files.createTempDirectory("graft-out").toString)
    assert(Files.readString(input) == valid.mkString("\n"))
  }
}
