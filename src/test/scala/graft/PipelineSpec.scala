package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.logs.{LogLines, LogSource}
import graft.mine.TemplateMining
import graft.operators.EventMatrix
import graft.sources.Tables

/** The reference's E1/E2 program (`process_logs_v10.py:86-179`) as ONE
  * composed query over log FILES — q47's shape: recursive scan → clean →
  * parallel mining → broadcast match → failure distribution. Golden
  * counts on a deterministic mini-corpus pin the semantics. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("scan→clean→mine→match→counts reproduces known template masses") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val lines =
      (1 to 40).map(i => s"2015-10-17 15:37:56,547 INFO [main] worker.Task: task $i started") ++
      (1 to 25).map(i => s"2015-10-17 15:38:00,000 WARN [w] worker.Task: job $i failed code ${i % 7}") ++
      Seq.fill(10)("2015-10-17 15:39:00,000 INFO [main] hb.Beat: heartbeat ok")
    Files.writeString(Paths.get(root, "container_00.log"), lines.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(root, "ignore.txt"), "DECOY\n")
    val raw = LogSource.readLogDir(spark, root)
    val cleaned = raw.select(LogLines.clean(col("value")).as("line"))
    val templates = TemplateMining.mineParallel(cleaned, "line").collect().toSeq
    val tree = TemplateMining.treeFromTemplates(templates)
    val matched = TemplateMining.matchLines(cleaned, "line", tree)
    val dist = EventMatrix.failureDistribution(matched, "eventId").collect()
    assert(dist.map(_.getLong(1)).sum == 75, "mass conservation: all 75 lines matched")
    val masses = dist.map(_.getLong(1)).sorted.toSeq
    assert(masses.contains(40L) && masses.contains(25L) && masses.contains(10L),
      s"numeric parametrization must fold the three line families; got $masses")
  }

  test("q47 runs end-to-end with rows > 0 (driver rows-only gate)") {
    assert(SparkEntry.queries("q47_log_pipeline")(spark, TestSession.sf).count() > 0)
  }

  test("q47's cached log corpus follows a rewritten documents table") {
    val dir = Files.createTempDirectory("graft_q47_sf").toString
    val docs = Tables.documents(spark, TestSession.sf).orderBy(col("doc_id"))
    def lineMass(): Long =
      SparkEntry.queries("q47_log_pipeline")(spark, dir).collect().map(_.getLong(1)).sum
    docs.limit(150).write.parquet(s"$dir/documents.parquet")
    assert(lineMass() == 150L)
    docs.limit(90).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(lineMass() == 90L, "q47 read a corpus cached from the old documents table")
  }
}
