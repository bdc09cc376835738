package graft.frontier

import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.frontier.SnapshotTable.Snapshot

/** Resume compatibility of the crawl state files: `meta.json`,
  * `manifest.json` and `round.json` text in the layout the string-built
  * writer produced (verbatim below) parses to the same typed values, and the
  * codec writes the same keys with the same value types — so an existing
  * state directory resumes.
  */
class StateFilesSpec extends AnyFunSuite {
  import StateFilesSpec._
  lazy val spark = TestSpark.spark

  private def tmpFile(name: String, text: String): Path = {
    val p = Paths.get(TestSpark.tmpDir("state-files"), name)
    Files.writeString(p, text)
    p
  }

  test("verbatim frontier meta.json parses to one typed snapshot") {
    val s = StateFiles.parseSnapshot(FrontierMeta)
    assert(s == Snapshot(2L, Seq("0", "1", "2"), Seq("1", "2"),
      Seq("part-00000-c5196883-4cac-486d-aaf5-d78479049a56-c000.snappy.parquet"),
      Map("claimed" -> "12", "parentVersion" -> "1", "processed" -> "15",
        "round" -> "2", "rows" -> "64", "segmentRows" -> "57", "tombRows" -> "15")))
    assert(s.rows == 64L && s.tombRows == 15L)
  }

  test("verbatim seen meta.json keeps absolute shared refs whole, commas included") {
    val s = StateFiles.parseSnapshot(SeenMeta)
    assert(s.segments == Seq(0, 1, 2).map(k => s"/data/a,b/sessions/s1/frontier/segments/$k"))
    assert(s.tombstones.isEmpty && s.rows == 79L && s.tombRows == 0L)
  }

  test("the codec writes the verbatim layout's keys, in order, with its value types") {
    def shape(json: String): List[(String, String)] =
      JsonMethods.parse(json) match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.getClass.getSimpleName
          .replace("JLong", "JInt") }
        case other => fail(s"not an object: $other")
      }
    Seq(FrontierMeta, SeenMeta).foreach { text =>
      val s = StateFiles.parseSnapshot(text)
      val rendered = StateFiles.renderSnapshot(s)
      assert(shape(rendered) == shape(text))
      assert(StateFiles.parseSnapshot(rendered) == s)
      assert(legacyMeta(s) == text, "the legacy writer below reproduces the verbatim text")
    }
    val p = tmpFile("round.json", RoundJson)
    StateFiles.writeLongs(p, "frontier" -> 2L, "seen" -> 2L)
    assert(shape(Files.readString(p)) == shape(RoundJson))
  }

  test("verbatim manifest.json and round.json parse as number records") {
    assert(StateFiles.readLongs(tmpFile("manifest.json", Manifest))
      .contains(Map("current" -> 2L)))
    assert(StateFiles.readLongs(tmpFile("round.json", RoundJson))
      .contains(Map("frontier" -> 2L, "seen" -> 2L)))
    assert(StateFiles.readLongs(Paths.get(TestSpark.tmpDir("state-files"), "absent.json"))
      .isEmpty)
  }

  test("a table written in the verbatim layout reads, and takes a commit on top") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("state-legacy-table")
    Seq(("http://h/1", 1L), ("http://h/2", 2L)).toDF("url", "urlHash")
      .coalesce(1).write.parquet(s"$dir/segments/0")
    Files.createDirectories(Paths.get(dir, "snapshots", "0"))
    Files.writeString(Paths.get(dir, "snapshots", "0", "meta.json"), legacyMeta(Snapshot(
      0L, Seq("0"), Seq.empty, Seq.empty,
      Map("kind" -> "seed", "parentVersion" -> "-1", "round" -> "0", "rows" -> "2",
        "segmentRows" -> "2", "tombRows" -> "0"))))
    Files.writeString(Paths.get(dir, "manifest.json"), """{"current": 0}""")
    val t = new SnapshotTable(dir, spark)
    assert(t.currentVersion == 0L && t.rowsOf(0L) == 2L)
    assert(t.metric(0L, "kind").contains("seed"))
    assert(t.read().count() == 2L)
    val (v1, n1) = t.commitAppend(Seq(("http://h/3", 3L)).toDF("url", "urlHash"))
    assert(v1 == 1L && n1 == 3L && t.segmentsOf(v1) == Seq("0", "1"))
    assert(t.metric(v1, "parentVersion").contains("0"))
    t.drop()
  }
}

object StateFilesSpec {
  // state files as the string-built writer laid them out (frontier and seen
  // tables after two crawl rounds; the seen table references the frontier's
  // segments by absolute path)
  val FrontierMeta: String =
    """{
      |  "version": 2,
      |  "claimed": "12",
      |  "parentVersion": "1",
      |  "processed": "15",
      |  "round": "2",
      |  "rows": "64",
      |  "segmentRows": "57",
      |  "tombRows": "15",
      |  "segments": ["0","1","2"],
      |  "tombstones": ["1","2"],
      |  "newFiles": ["part-00000-c5196883-4cac-486d-aaf5-d78479049a56-c000.snappy.parquet"]
      |}
      |""".stripMargin

  val SeenMeta: String =
    """{
      |  "version": 2,
      |  "parentVersion": "1",
      |  "round": "2",
      |  "rows": "79",
      |  "segmentRows": "57",
      |  "tombRows": "0",
      |  "segments": ["/data/a,b/sessions/s1/frontier/segments/0","/data/a,b/sessions/s1/frontier/segments/1","/data/a,b/sessions/s1/frontier/segments/2"],
      |  "tombstones": [],
      |  "newFiles": ["part-00000-c5196883-4cac-486d-aaf5-d78479049a56-c000.snappy.parquet"]
      |}
      |""".stripMargin

  val Manifest = """{"current": 2}"""
  val RoundJson = """{"frontier": 2, "seen": 2}"""

  /** the string-built meta.json writer, byte for byte */
  def legacyMeta(s: Snapshot): String = {
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")
    val metrics = s.metrics.toSeq.sortBy(_._1)
      .map { case (k, q) => s""""$k": "$q"""" }.mkString(",\n  ")
    s"""{\n  "version": ${s.version},\n  $metrics,\n  "segments": ${arr(s.segments)},""" +
      s"""\n  "tombstones": ${arr(s.tombstones)},\n  "newFiles": ${arr(s.newFiles)}\n}\n"""
  }

  /** Rewrite every state file under `dir` into the string-built layout. */
  def rewriteLegacy(dir: String): Unit = {
    val walk = Files.walk(Paths.get(dir))
    val files = try walk.toArray.toSeq.map(_.asInstanceOf[Path]) finally walk.close()
    files.foreach { p =>
      p.getFileName.toString match {
        case "meta.json" =>
          Files.writeString(p, legacyMeta(StateFiles.parseSnapshot(Files.readString(p))))
        case "manifest.json" | "round.json" =>
          val fields = StateFiles.readLongs(p).get
          Files.writeString(p,
            fields.map { case (k, n) => s""""$k": $n""" }.mkString("{", ", ", "}"))
        case _ =>
      }
    }
  }
}
