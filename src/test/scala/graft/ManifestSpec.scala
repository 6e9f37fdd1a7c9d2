package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.Manifest

/** Checkpoint-manifest semantics: atomic completion records, lineage
  * round-trip, resume anti-filter (SURVEY.md §5e). The end-to-end
  * kill-and-resume flow is exercised through graft.cli.Main (see
  * .claude/skills/verify/SKILL.md). */
class ManifestSpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_mf").toString + "/manifest.jsonl"

  test("round-trip: markComplete then load preserves lineage + metrics") {
    val p = tmp()
    Manifest.markComplete(p, "3", rows = 1000, violations = 7, pass = false,
      snapshotId = "snap-42", files = Seq("f1.parquet", "f2.parquet"))
    val st = Manifest.load(p)
    assert(st.isComplete("3"))
    assert(!st.isComplete("4"))
    val e = st.entries("3")
    assert(e.rows === 1000 && e.violations === 7 && !e.pass)
    assert(e.snapshotId === "snap-42")
    assert(e.files === Seq("f1.parquet", "f2.parquet"))
  }

  test("re-marking a partition overwrites its entry (idempotent rerun)") {
    val p = tmp()
    Manifest.markComplete(p, "0", 10, 1, pass = false)
    Manifest.markComplete(p, "0", 10, 0, pass = true)
    val st = Manifest.load(p)
    assert(st.entries.size === 1)
    assert(st.entries("0").pass)
  }

  test("resume anti-filter: only absent partitions remain") {
    val p = tmp()
    Seq("0", "1", "2").foreach(Manifest.markComplete(p, _, 5, 0, pass = true))
    val st = Manifest.load(p)
    val todo = (0 to 5).map(_.toString).filterNot(st.isComplete)
    assert(todo === Seq("3", "4", "5"))
  }

  test("missing manifest file loads as empty (fresh run)") {
    assert(Manifest.load("/nonexistent/manifest.jsonl").entries.isEmpty)
  }

  test("escaping: partitions and files with quotes/backslashes survive") {
    val p = tmp()
    Manifest.markComplete(p, """part"weird\name""", 1, 0, pass = true,
      files = Seq("""a"b\c.parquet"""))
    val st = Manifest.load(p)
    assert(st.isComplete("""part"weird\name"""))
    assert(st.entries("""part"weird\name""").files === Seq("""a"b\c.parquet"""))
    // property: arbitrary names and paths round-trip through commit + load,
    // including the fragments a hand-rolled line parser trips on
    val fragment = Gen.oneOf(
      Gen.oneOf("\n", "],", "\"", "\\", "\\n", "},{", ":", "\t", "\u0000", "é", "名前", "\u2028"),
      Gen.alphaNumStr, Gen.asciiPrintableStr)
    val text = Gen.listOf(fragment).map(_.mkString)
    val entry = for {
      part <- text; files <- Gen.listOf(text); snap <- text
      rows <- Gen.choose(0L, Long.MaxValue); viol <- Gen.choose(0L, rows)
      at <- Gen.choose(0L, Long.MaxValue)
    } yield Manifest.Entry(part, rows, viol, viol == 0, snap, files, at)
    val path = Paths.get(tmp())
    val roundTrip = Prop.forAll(Gen.listOf(entry)) { es =>
      Files.deleteIfExists(path)
      Manifest.commit(path.toString, es)
      Manifest.load(path.toString).entries == es.map(e => e.partition -> e).toMap
    }
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(7L)).withMinSuccessfulTests(200), roundTrip)
    assert(res.passed, res.status)
  }

  test("a line in the established on-disk format loads, and rewrites byte-identically") {
    val p = tmp()
    val line = """{"partition":"3","rows":1000,"violations":7,"pass":false,""" +
      """"snapshot_id":"scan-1700000000000","files":["file:/t/part_bucket=3/a\"b.parquet",""" +
      """"file:/t/part_bucket=3/c\\d.parquet"],"completed_at_ms":1700000000123}"""
    Files.write(Paths.get(p), (line + "\n").getBytes(StandardCharsets.UTF_8))
    assert(Manifest.load(p).entries === Map("3" -> Manifest.Entry("3", 1000, 7, pass = false,
      "scan-1700000000000", Seq("file:/t/part_bucket=3/a\"b.parquet", "file:/t/part_bucket=3/c\\d.parquet"),
      1700000000123L)))
    Manifest.commit(p, Nil)
    assert(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8) === line + "\n")
  }

  test("a malformed line fails the load, naming the file and line") {
    val good = """{"partition":"0","rows":1,"violations":0,"pass":true,""" +
      """"snapshot_id":"","files":[],"completed_at_ms":1}"""
    val torn = """{"partition":"1","rows":5,"viol"""
    val missingKey = """{"partition":"2","rows":5,"violations":0,"pass":true}"""
    for (bad <- Seq(torn, missingKey)) {
      val p = tmp()
      Files.write(Paths.get(p), s"$good\n$bad\n".getBytes(StandardCharsets.UTF_8))
      val e = intercept[IllegalArgumentException](Manifest.load(p))
      assert(e.getMessage.contains(s"$p:2"), e.getMessage)
    }
  }
}
