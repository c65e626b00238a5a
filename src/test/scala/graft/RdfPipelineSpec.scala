package graft

import graft.pipeline.{Pipeline, RdfPipeline}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end over RDF files — the reference's own use case (main.rs:38-165). */
class RdfPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("RDF files -> summary with decl merge and inference") {
    val dir = SparkSuite.tmpDir("rdfpipe-in")
    val out = SparkSuite.tmpDir("rdfpipe-out")

    // one Turtle file declaring a prefix, one N-Triples file with an
    // inferable high-frequency namespace and a rare one
    val ttl = new StringBuilder
    ttl.append("@prefix myont: <http://myontology.example.com/terms/> .\n")
    (0 until 30).foreach { i =>
      ttl.append(s"<http://dbpedia.org/resource/E$i> myont:related <http://dbpedia.org/resource/E${i + 1}> .\n")
    }
    Files.write(Paths.get(dir, "decl.ttl"), ttl.toString.getBytes("UTF-8"))

    val nt = new StringBuilder
    (0 until 500).foreach { i =>
      nt.append(s"""<http://hot.example.net/ns/item$i> <http://dbpedia.org/ontology/knows> "v$i" .\n""")
    }
    (0 until 3).foreach { i =>
      nt.append(s"""<http://cold.example.io/x$i> <http://dbpedia.org/ontology/knows> _:b$i .\n""")
    }
    Files.write(Paths.get(dir, "data.nt"), nt.toString.getBytes("UTF-8"))

    val res = RdfPipeline.run(spark, Seq(s"$dir/decl.ttl", s"$dir/data.nt"),
      Pipeline.Config(outDir = out, minOccurs = 5, minNsSize = 100, minDomainOccurs = 10))

    // file-declared prefix merged with its declared alias (N7)
    assert(res.registry.aliasMap.get("myont").map(_._1)
      .contains("http://myontology.example.com/terms/"))
    // hot namespace inferred, cold one not (thresholds)
    assert(res.registry.resolveAlias("http://hot.example.net/ns/item1").isDefined)
    assert(res.registry.resolveAlias("http://cold.example.io/x1").isEmpty)

    val rows = res.summary.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
    // 500 hot triples: (hot-alias, dbo, xsd, true)
    assert(rows.exists(r => r._2 == "dbo" && r._3 == "xsd" && r._4 && r._5 == 500))
    // 30 ttl triples: (dbr, myont, dbr, false)
    assert(rows.exists(r => r._1 == "dbr" && r._2 == "myont" && r._3 == "dbr" && !r._4 && r._5 == 30))
    // 3 cold triples: (UNKNOWN, dbo, BLANK, false)
    assert(rows.exists(r => r._1 == "UNKNOWN" && r._3 == "BLANK" && r._5 == 3))

    val ttlOut = new String(Files.readAllBytes(Paths.get(out, "output.ttl")), "UTF-8")
    assert(ttlOut.contains("<#namespacePrefix> <http://myontology.example.com/terms/>"))
    assert(ttlOut.contains("\"500\"^^<http://www.w3.org/2001/XMLSchema#integer>"))

    // tasks.json parity (meta_info.rs:31-46,104-141): per-file byte size +
    // kind tallies, per-stage durations, inference housekeeping roll-up
    val tasks = new String(Files.readAllBytes(Paths.get(out, "tasks.json")), "UTF-8")
    assert(tasks.contains("\"stages\""))
    assert(tasks.contains("\"infer_hk\""))
    assert(tasks.contains("\"rounds\""))
    assert(tasks.contains("\"added_ns\""))
    val declSize = Files.size(Paths.get(dir, "decl.ttl"))
    assert(tasks.contains(s""""size_bytes": $declSize"""))
    assert(tasks.contains("\"triples\": 30")) // decl.ttl tally
    assert(tasks.contains("\"triples\": 503")) // data.nt tally
    assert("\"stage\": \"infer_round_1\"".r.findFirstIn(tasks).isDefined)
    // the exact stage order tasks.json readers key on
    val rounds = res.metrics.count(_.name.startsWith("infer_round_"))
    assert(rounds >= 1)
    assert(res.metrics.map(_.name) == Seq("scan", "prefix_decls") ++
      (1 to rounds).map(i => s"infer_round_$i") ++ Seq("summarize", "sinks", "file_metrics"))

    // a DIRECTORY input expands to its contained files in tasks.json (the
    // tally keys are file paths; a directory row would report silent zeros)
    val out2 = SparkSuite.tmpDir("rdfpipe-out-dir")
    RdfPipeline.run(spark, Seq(dir),
      Pipeline.Config(outDir = out2, minOccurs = 5, minNsSize = 100, minDomainOccurs = 10))
    val tasks2 = new String(Files.readAllBytes(Paths.get(out2, "tasks.json")), "UTF-8")
    assert(tasks2.contains("decl.ttl") && tasks2.contains("data.nt"))
    assert(tasks2.contains("\"triples\": 30") && tasks2.contains("\"triples\": 503"))
  }

  test("IRIs above 200 graphemes are capped on the RDF path (prefixes.rs:431-444)") {
    val dir = SparkSuite.tmpDir("rdfpipe-cap")
    val out = SparkSuite.tmpDir("rdfpipe-cap-out")
    val longIri = "http://long.example.com/" + ("x" * 300)
    val capped = longIri.take(200)
    val nt =
      s"""<$longIri> <http://dbpedia.org/ontology/knows> <$longIri> .
         |<http://dbpedia.org/resource/A> <$longIri> "lit" .
         |""".stripMargin
    Files.write(Paths.get(dir, "long.nt"), nt.getBytes("UTF-8"))
    val res = RdfPipeline.run(spark, Seq(s"$dir/long.nt"),
      Pipeline.Config(outDir = out, minOccurs = 1, inferNs = false))
    val ts = res.triples.collect()
    assert(ts.forall(r => r.getAs[String]("p").length <= 200))
    assert(ts.exists(r => r.getAs[String]("s") == capped && r.getAs[String]("o") == capped))
    // literals are NOT capped (the reference caps IRIs only)
    assert(ts.exists(r => r.getAs[String]("o") == "lit"))
  }

  test("declared alias conflicting with existing alias falls back to generated") {
    val reg = graft.ns.Registry.community()
    val reg2 = graft.ns.Registry.addDeclared(reg, "http://other.example.org/rdfx/", "rdf")
    assert(reg2.resolveAlias("http://other.example.org/rdfx/a").exists(_ != "rdf"))
    // covered namespace is skipped entirely
    val reg3 = graft.ns.Registry.addDeclared(reg, "http://dbpedia.org/resource/sub/", "sub")
    assert(reg3.size == reg.size)
  }
}
