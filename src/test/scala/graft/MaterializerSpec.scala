package graft

import java.nio.file.Files

import graft.materialize.Materializer
import graft.model.{ChunkProfile, RunConfig}
import graft.source.{FileSource, TranscriptGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializerSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("mergeUpsert: MERGE-by-id keeps existing values, adds new rows (S6)") {
    val existing = Seq(
      ("n1", "old-name", Map("a" -> "1", "b" -> "2"))
    ).toDF("id", "name", "props")
    val incoming = Seq(
      ("n1", "new-name", Map("b" -> "99", "c" -> "3")), // matched: existing wins per key
      ("n2", "fresh", Map("x" -> "7")) // new: inserted
    ).toDF("id", "name", "props")
    val merged = Materializer.mergeUpsert(existing, incoming, "id")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getMap[String, String](2).toMap)).toMap
    assert(merged("n1")._1 == "old-name") // ON MATCH keeps existing scalar
    assert(merged("n1")._2 == Map("a" -> "1", "b" -> "2", "c" -> "3")) // map union, existing wins
    assert(merged("n2") == ("fresh", Map("x" -> "7"))) // ON CREATE inserts
  }

  test("mergeUpsert is idempotent") {
    val df = Seq(("n1", "v", Map("k" -> "1"))).toDF("id", "name", "props")
    val once = Materializer.mergeUpsert(df, df, "id")
    assert(once.count() == 1)
    val r = once.collect()(0)
    assert(r.getString(1) == "v" && r.getMap[String, String](2).toMap == Map("k" -> "1"))
  }

  test("built node and edge props follow the reference's property rules") {
    // ref:src/fancyrag/kg/pipeline.py:759-819: no null value, integers as
    // digits, provenance lists as sorted JSON arrays, and every semantic
    // node and edge stamped with its source and git commit
    val turns = TranscriptGen.table(spark, 12L).toDF()
    val g = graft.app.KgBuild.buildGraph(turns,
      RunConfig(runKey = "kg:props", gitCommit = Some("0123abcd")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val intKeys = Set("seq", "index", "n_turns", "turn_idx")
    def check(what: String, props: Map[String, String], semantic: Boolean): Unit = {
      props.foreach { case (k, v) =>
        assert(v != null, s"$what: null $k")
        if (intKeys(k)) assert(v.matches("-?\\d+"), s"$what: $k=$v")
        if (k == "chunk_uids") {
          val arr = mapper.readTree(v)
          assert(arr.isArray && arr.size > 0, s"$what: chunk_uids=$v")
          val uids = (0 until arr.size).map { i =>
            assert(arr.get(i).isTextual, s"$what: chunk_uids=$v"); arr.get(i).asText
          }
          assert(uids == uids.distinct.sorted, s"$what: chunk_uids=$v")
        }
      }
      if (semantic) {
        assert(props.get("semantic_source").contains(graft.app.KgBuild.SemanticSource), what)
        assert(props.get("git_commit").contains("0123abcd"), what)
      }
    }
    val nodes = g.nodes.select("id", "labels", "props").collect()
    val edges = g.edges.select("src", "dst", "rel_type", "props").collect()
    nodes.foreach { r =>
      check(r.getString(0), r.getMap[String, String](2).toMap,
        semantic = r.getSeq[String](1).contains("__Entity__"))
    }
    edges.foreach { r =>
      check(s"${r.getString(0)}-${r.getString(2)}->${r.getString(1)}",
        r.getMap[String, String](3).toMap, semantic = r.getString(2) != "HAS_CHUNK")
    }
    // every rule above had rows to bite on
    val keys = (nodes.map(_.getMap[String, String](2)) ++ edges.map(_.getMap[String, String](3)))
      .flatMap(_.keys).toSet
    assert((intKeys + "chunk_uids" + "git_commit").subsetOf(keys), s"keys seen: $keys")
    g.release()
    spark.catalog.clearCache()
  }

  test("file-mode source: deterministic order, blank files skipped (S1-S4)") {
    val dir = Files.createTempDirectory("graft-files")
    Files.writeString(dir.resolve("b.txt"), "Acme Corp launched HoverBoard X on 2020-01-01.")
    Files.writeString(dir.resolve("a.txt"), "Grace Hopper founded Initech in 1999.")
    Files.writeString(dir.resolve("blank.txt"), "   \n  ")
    val files = FileSource.readDirectory(spark, dir.toString)
    val paths = files.select("relative_path").collect().map(_.getString(0))
    assert(paths.sameElements(Array("a.txt", "b.txt"))) // sorted, blank skipped
    // file mode feeds the same pipeline via the transcript shape (S4)
    val g = graft.app.KgBuild.buildGraph(FileSource.asTurns(files), RunConfig(runKey = "kg:file"))
    val triples = g.triples.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(triples == Set(
      ("Grace Hopper", "FOUNDED", "Initech"),
      ("Acme Corp", "LAUNCHED", "HoverBoard X")))
    // single-file mode errors on missing path (S1)
    intercept[IllegalArgumentException] {
      FileSource.readFile(spark, dir.toString + "/missing.txt")
    }
    spark.catalog.clearCache()
  }

  test("fetch by id strips nothing it shouldn't and filters exactly (R4)") {
    val turns = TranscriptGen.table(spark, 3L).toDF()
    val g = graft.app.KgBuild.buildGraph(turns, RunConfig(runKey = "kg:fetch"))
    val anyId = g.nodes.select("id").head().getString(0)
    val fetched = graft.operators.Retrieval.fetchById(g.nodes, anyId)
    assert(fetched.count() == 1)
    spark.catalog.clearCache()
  }
}
