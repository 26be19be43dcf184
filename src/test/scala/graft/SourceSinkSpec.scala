package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.logs.LogSource
import graft.mine.{DrainTree, TemplateMining}
import graft.sources.Sinks

/** S1/S2/S4/S5 sources & sinks (FIXTURES.md §2 corpus layout). */
class SourceSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def mkCorpus(): String = {
    val root = Files.createTempDirectory("graft_corpus").toString
    val d1 = Paths.get(root, "app1", "c1"); Files.createDirectories(d1)
    val d2 = Paths.get(root, "app2"); Files.createDirectories(d2)
    Files.writeString(d1.resolve("container_01.log"),
      "2015-10-17 15:37:56,547 INFO [main] a.b.C: start\ncontinuation line one\n2015-10-17 15:37:57,000 WARN [w] a.b.C: warn msg\n")
    Files.writeString(d2.resolve("container_02.log"),
      "2015-10-17 16:00:00,000 INFO [main] x.y.Z: other start\nsecond file line 2\n")
    Files.writeString(d2.resolve("syslog.txt"), "DECOY must not be read\n")
    root
  }

  test("S1: recursive scan applies the filename predicate and keeps continuations") {
    import spark.implicits._
    val root = mkCorpus()
    val df = LogSource.lineNumbered(LogSource.readLogDir(spark, root))
    val rows = df.select($"file", $"line_no", $"value").collect()
    assert(rows.length == 5, s"expected 5 lines, got ${rows.length}")
    assert(!rows.exists(_.getString(2).contains("DECOY")), "decoy file must be excluded")
    // per-file line numbers are contiguous from 1 and follow file order
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size == 2)
    byFile.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length).toSeq)
    }
    val f1 = byFile.keys.find(_.contains("container_01")).get
    val f1Lines = byFile(f1).sortBy(_.getInt(1)).map(_.getString(2)).toSeq
    assert(f1Lines(1) == "continuation line one", "file order must be preserved")
  }

  test("orderedLines: global index follows (file, in-file) order with no per-file reducer") {
    import spark.implicits._
    val root = mkCorpus()
    val df = LogSource.orderedLines(LogSource.readLogDir(spark, root))
    val rows = df.select($"file", $"line_idx", $"value").collect()
      .sortBy(_.getLong(1))
    assert(rows.map(_.getLong(1)).toSeq == rows.indices.map(_.toLong), "index must be contiguous")
    // within each file, the global order preserves in-file line order
    val f1 = rows.filter(_.getString(0).contains("container_01")).map(_.getString(2)).toSeq
    assert(f1(1) == "continuation line one", s"file order broken: $f1")
    // files form contiguous index ranges (sorted by file path)
    val byFile = rows.map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(v => (v.map(_._2).min, v.map(_._2).max)).toMap
    val ranges = byFile.toSeq.sortBy(_._2._1)
    assert(ranges.map(_._1).toSeq == ranges.map(_._1).sorted, "files must be contiguous ranges in path order")
  }

  test("S4: CSV sink round-trips a small summary with header") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_csv").toString + "/counts"
    val df = Seq(("click", 10L), ("error", 2L)).toDF("event", "cnt")
    Sinks.writeCsv(df, out)
    val back = spark.read.option("header", "true").csv(out)
      .select($"event", $"cnt".cast("long"))
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 10L), ("error", 2L)))
  }

  test("JSONL sink/source round-trips a document slice losslessly") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSession.sf)
      .select($"doc_id", $"text", $"lang").limit(50)
    val out = Files.createTempDirectory("graft_jsonl").toString + "/docs"
    Sinks.writeJsonl(docs, out)
    val back = Sinks.readJsonl(spark, out, Some(docs.schema))
    assert(back.schema == docs.schema)
    assert(back.orderBy($"doc_id").collect().toSeq ==
      docs.orderBy($"doc_id").collect().toSeq)
  }

  test("ORC sink/source round-trips losslessly with pushdown-friendly layout") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSession.sf)
      .select($"doc_id", $"text", $"source", $"n_chars").limit(80)
    val out = Files.createTempDirectory("graft_orc").toString + "/docs"
    Sinks.writeOrc(docs, out)
    val back = Sinks.readOrc(spark, out)
    assert(back.schema == docs.schema)
    assert(back.orderBy($"doc_id").collect().toSeq ==
      docs.orderBy($"doc_id").collect().toSeq)
    // filters and projections reach the ORC scan
    val plan = back.filter($"n_chars" > 100).select($"doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"), plan)
  }

  test("S6: chart-data sink writes the spec + a renderable series") {
    import spark.implicits._
    val dist = Seq(("Event_1", 40L), ("Event_5", 25L)).toDF("event", "cnt")
    val out = Files.createTempDirectory("graft_chart").toString + "/failure"
    Sinks.chartFailureBar(dist, out)
    val spec = Files.readString(Paths.get(out, "chart.json"))
    assert(spec.contains("\"kind\":\"bar\"") && spec.contains("\"x\":\"event\"") &&
      spec.contains("\"y\":\"cnt\"") && spec.contains("\"xtickEvery\":5"), spec)
    val back = spark.read.option("header", "true").csv(s"$out/data")
      .select($"event", $"cnt".cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(back == Set(("Event_1", 40L), ("Event_5", 25L)))
  }

  test("S5: template state parquet round-trip restores an equivalent probe tree") {
    assume(GoldenFixture.available)
    import spark.implicits._
    val mined = {
      val t = new DrainTree()
      GoldenFixture.lines().foreach(t.addLogMessage)
      t.clusters
    }
    val path = Files.createTempDirectory("graft_state").toString + "/templates"
    Sinks.saveTemplates(spark.createDataset(mined), path)
    val loaded = Sinks.loadTemplates(spark, path).collect().sortBy(_.eventId).toSeq
    assert(loaded == mined, "save/load must be lossless")
    val probe = TemplateMining.treeFromTemplates(loaded)
    assert(probe.clusters == mined, "restored tree must expose identical clusters")
    // restored tree still matches the corpus lines it was mined from
    val misses = GoldenFixture.lines().count(l => probe.matchLine(l) < 0)
    assert(misses < 60, s"restored tree failed to match $misses/1282 lines")
  }
}
