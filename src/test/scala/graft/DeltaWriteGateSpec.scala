package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame

/** The write gate every Delta write operation passes before it stages
  * anything: a table declaring a writer feature this writer does not
  * implement refuses every operation, naming the operation and the
  * feature, and an `appendOnly` table refuses every operation that
  * removes rows. Either refusal leaves `_delta_log` untouched.
  * Compaction is the protocol's carve-out: its removes carry
  * dataChange=false, so it still runs on an appendOnly table.
  */
class DeltaWriteGateSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_gate_$tag").resolve("t")
      .toAbsolutePath.toString

  private def logEntries(dir: String): Set[String] =
    Option(new java.io.File(dir, "_delta_log").list()).map(_.toSet).getOrElse(Set.empty)

  private def rows(ids: Long*): DataFrame =
    ids.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)

  /** (name the refusal must start with, removes rows, the call). */
  private val ops: Seq[(String, Boolean, String => Any)] = Seq(
    ("deleteWhere", true, d => LakeWriter.deleteWhere(spark, d, "id = 1")),
    ("deleteWhereDv", true, d => LakeWriter.deleteWhereDv(spark, d, "id = 1")),
    ("updateWhere", true, d => LakeWriter.updateWhere(spark, d, "id = 1", Map("v" -> "'x'"))),
    ("updateWhereDv", true,
      d => LakeWriter.updateWhereDv(spark, d, "id = 1", Map("v" -> "'x'"))),
    ("applyCdcDv", true, d => LakeWriter.applyCdcDv(spark, d,
      Seq((1L, "x", "delete")).toDF("id", "v", "_change_type"), Seq("id"))),
    ("mergeInto", true, d => LakeWriter.mergeInto(spark, d, rows(1L, 9L), Seq("id"))),
    ("overwriteWhere", true, d => LakeWriter.overwriteWhere(rows(1L), d, "id = 1")),
    ("restoreDelta", true, d => LakeWriter.restoreDelta(spark, d, 0L)),
    ("appendDelta", false, d => LakeWriter.appendDelta(rows(7L), d)))

  test("a writer feature this writer does not implement refuses every operation") {
    val d = fresh("unknown")
    LakeWriter.writeDelta(rows(1L, 2L), d)
    // version 1: a hand-written (1,7) protocol declaring a feature no
    // graft operation honors
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "_delta_log", f"${1L}%020d.json"),
      Seq(
        """{"commitInfo":{"timestamp":0,"operation":"UPGRADE PROTOCOL","operationParameters":{},"readVersion":0,"engineInfo":"test"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","someFutureFeature"]}}""")
        .mkString("\n").getBytes("UTF-8"))
    val before = logEntries(d)
    ops.foreach { case (name, _, call) =>
      val e = intercept[IllegalArgumentException](call(d))
      assert(e.getMessage.stripPrefix("requirement failed: ").startsWith(name),
        s"$name: ${e.getMessage}")
      assert(e.getMessage.contains("someFutureFeature"), s"$name: ${e.getMessage}")
      assert(logEntries(d) == before, s"$name wrote to _delta_log")
    }
    assert(DeltaReader.snapshot(spark, d, None).version == 1L)
  }

  test("an appendOnly table refuses every row-removing operation; compaction still runs") {
    val d = fresh("ao")
    LakeWriter.writeDelta(rows(1L, 2L), d, configuration = Map("delta.appendOnly" -> "true"))
    LakeWriter.appendDelta(rows(3L), d)
    val before = logEntries(d)
    ops.filter(_._2).foreach { case (name, _, call) =>
      val e = intercept[IllegalArgumentException](call(d))
      assert(e.getMessage.stripPrefix("requirement failed: ").startsWith(name),
        s"$name: ${e.getMessage}")
      assert(e.getMessage.contains("appendOnly"), s"$name: ${e.getMessage}")
      assert(logEntries(d) == before, s"$name wrote to _delta_log")
    }
    ops.filterNot(_._2).foreach { case (_, _, call) => call(d) }
    LakeWriter.compactDelta(spark, d, minFiles = 2)
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.version == 3L && snap.active.size == 1, snap.active.map(_.path))
    assert(DeltaReader.read(spark, d).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 7L))
  }
}
