package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexStore
import graft.sources.TranscriptSource
import TestKit.spark

/** Source/sink coverage (SURVEY §2.1): S1 JSON-lines scan with explicit
  * schema, S3/S5 manifest text round-trip, S4 parquet sink via the store.
  */
class SourcesSpec extends AnyFunSuite {

  test("S1: JSON-lines scan with the transcripts schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-json").toString
    val rows = Seq(
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"hello Wörld","tool":"","ts":"2026-01-01T00:00:00.000Z"}""",
      """{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"data table","tool":"","ts":"2026-01-01T00:00:01.000Z"}""")
    Files.writeString(java.nio.file.Paths.get(dir, "part-0.json"), rows.mkString("\n"))
    val df = spark.read.schema(TranscriptSource.schema).json(dir)
    assert(df.count() == 2)
    val got = df.orderBy($"turn_idx").collect()
    assert(got(0).getAs[String]("text") == "hello Wörld")
    assert(got(1).getAs[Int]("turn_idx") == 1)
  }

  test("S3/S5: manifest JSON round-trips through the atomic writer") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val m = IndexStore.Manifest("snap \"quoted\"\nnewline", "lower+stop(181)",
      1.2, 0.75, 8, 100L, 128, 777L, 24.25,
      Seq(IndexStore.ShardLineage(0, 10L, 2L, 123L, -5L)),
      Map("buildSec" -> 1.5, "skewRatio" -> 1.0),
      blockDirs = Seq("blocks", "delta-v1/blocks"),
      docDirs = Seq("docs", "delta-v1/docs"),
      termstatsDir = "termstats-v1", complete = true,
      // ']' in an id must not truncate the array parse; quotes/newlines
      // must round-trip through the escaper
      history = Seq("snap \"quoted\"\nnewline", "batch[3]", "snap-2"))
    IndexStore.writeManifest(dir, m)
    val got = IndexStore.readManifest(dir)
    assert(got.contains(m))
  }

  test("transcripts derivation matches the pinned schema") {
    val df = TranscriptSource.fromDocuments(spark, "/root/testdata/sf0.001")
    assert(df.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert(df.count() > 0)
  }

  test("manifest v7 fields (nextDocId, tombstone/grace dirs) round-trip") {
    val dir = Files.createTempDirectory("graft-manifest-v7").toString
    val m = IndexStore.Manifest("s", "a", 1.2, 0.75, 8, 100L, 128, 700L, 20.0,
      Nil, Map("dirGen" -> 3.0), blockDirs = Seq("blocks"),
      docDirs = Seq("docs"), termstatsDir = "termstats-g3", complete = true,
      history = Seq("s"), positional = true, nextDocId = 777L,
      tombstoneDirs = Seq("tombstones-g3"),
      graceDirs = Seq("termstats-g2", "tombstones-g2"))
    IndexStore.writeManifest(dir, m)
    assert(IndexStore.readManifest(dir).contains(m))
  }

  /** A v7 manifest as the hand-rolled writer before json4s wrote it
    * (resource `manifest-v7-golden.json`): every v7 field set, quotes, a
    * newline, a tab, backslashes and `]` in ids. Pins the on-disk format
    * against the reader, and so against a json4s or Jackson upgrade.
    */
  private def goldenText: String = new String(
    getClass.getResourceAsStream("/manifest-v7-golden.json").readAllBytes(), "UTF-8")

  private def manifestDir(json: String): String = {
    val dir = Files.createTempDirectory("graft-manifest-golden").toString
    Files.writeString(java.nio.file.Paths.get(dir, "manifest.json"), json)
    dir
  }

  test("manifest: the golden v7 file reads back exactly") {
    val id = "snap \"quoted\"\nnewline ]x[ \\back\\slash\ttab"
    val want = IndexStore.Manifest(id, "lower+stop(181)#9f2c", 1.2, 0.75, 8, 12345L, 128,
      9007199254740991L, 24.25,
      Seq(IndexStore.ShardLineage(0, 10L, 2L, 123L, -5L),
        IndexStore.ShardLineage(3, 4000000000L, 31250000L, 9876543210L, 8589934591L)),
      Map("buildSec" -> 1.5, "dirGen" -> 3.0, "skewRatio" -> 1.0625,
        "historyDropped" -> 0.0, "tiny" -> 1.0E-4, "turnsPerSec" -> 12681.333333333334),
      blockDirs = Seq("blocks", "delta-g1/blocks", "compact-g2/blocks"),
      docDirs = Seq("docs", "delta-g1/docs"),
      termstatsDir = "termstats-g3", complete = true,
      history = Seq(id, "batch[3]", "]", "snap-2"),
      positional = true, nextDocId = 9007199254740990L,
      tombstoneDirs = Seq("tombstones-g3"),
      graceDirs = Seq("termstats-g2", "tombstones-g2"))
    assert(IndexStore.readManifest(manifestDir(goldenText)).contains(want))
  }

  test("manifest: longs above 2^53 round-trip exactly") {
    val big = (1L << 53) + 1
    val dir = Files.createTempDirectory("graft-manifest-big").toString
    val m = IndexStore.Manifest("s", "a", 1.2, 0.75, 8, big, 128, big, 20.0,
      Seq(IndexStore.ShardLineage(0, big, big, big, -big)), Map.empty,
      blockDirs = Seq("blocks"), docDirs = Seq("docs"), termstatsDir = "termstats-v0",
      complete = true, nextDocId = big)
    IndexStore.writeManifest(dir, m)
    assert(IndexStore.readManifest(dir).contains(m))
  }

  test("manifest: a missing field without a default fails, naming the field") {
    val json = goldenText.replace("\"avgdl\":24.25,", "")
    assert(json != goldenText)
    val e = intercept[Exception](IndexStore.readManifest(manifestDir(json)))
    assert(e.getMessage.contains("avgdl"), e.getMessage)
  }

  test("manifest: a missing or different formatVersion reads as no manifest") {
    val v7 = "\"formatVersion\":7,"
    assert(goldenText.contains(v7))
    Seq("", "\"formatVersion\":6,", "\"formatVersion\":70,", "\"formatVersion\":\"7\",")
      .foreach { v =>
        assert(IndexStore.readManifest(manifestDir(goldenText.replace(v7, v))).isEmpty, v)
      }
  }

  test("TranscriptCatalog: stable snapshot id for unchanged data; read == transcripts") {
    val cat = new graft.sources.ParquetTranscriptCatalog("/root/testdata/sf0.001")
    assert(cat.currentSnapshotId == cat.currentSnapshotId)
    assert(cat.currentSnapshotId !=
      new graft.sources.ParquetTranscriptCatalog("/root/testdata/sf0.01").currentSnapshotId)
    val viaCatalog = cat.read(spark).count()
    assert(viaCatalog ==
      TranscriptSource.fromDocuments(spark, "/root/testdata/sf0.001").count())
    assert(viaCatalog > 0)
  }
}
