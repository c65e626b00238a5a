package graft.perfbench

import graft.ns.Registry
import graft.pipeline.{Pipeline, RdfPipeline}
import java.nio.file.{Files, Path}

/** Checks of the benchmark itself: seeded inputs are reproducible and
  * seed-dependent, the generator's expected counts agree with the summarizer
  * on a tiny corpus, and the metric name table is printed for run.py to
  * compare with BENCHMARK.json.
  */
object SelfTest {

  private def fileBytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toSeq.sortBy(_.getFileName.toString)
        // part files carry a per-write UUID in their name; compare by position
        .map(p => p.getFileName.toString.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "") -> Files.readAllBytes(p).toSeq)
    } finally s.close()
  }

  def run(o: Main.Opts): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: String): Unit = {
      System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) failures += what
    }

    // 1. RDF inputs: same seed, same bytes; another seed, other bytes
    val a = RdfGen.write(o.work.resolve("gen-a"), 7L, 20000)
    val b = RdfGen.write(o.work.resolve("gen-b"), 7L, 20000)
    val c = RdfGen.write(o.work.resolve("gen-c"), 8L, 20000)
    expect(fileBytes(o.work.resolve("gen-a")) == fileBytes(o.work.resolve("gen-b")),
      "rdf corpus: same seed gives byte-identical files")
    expect(fileBytes(o.work.resolve("gen-a")) != fileBytes(o.work.resolve("gen-c")),
      "rdf corpus: another seed gives different files")
    expect(a.expected == b.expected && a.triples == b.triples, "rdf corpus: same expected counts")

    // 2. community namespaces the generator counts on resolve to its aliases
    val community = Registry.community()
    RdfGen.CommunityAliases.foreach { case (alias, ns) =>
      expect(community.resolveAlias(ns + "x").contains(alias), s"community alias $alias for $ns")
    }

    val spark = Main.session(o.work)

    // 3. page and triple tables: same seed, same parquet bytes
    def staged(name: String, seed: Long, tag: String): Seq[(String, Seq[Byte])] = {
      val dir = o.work.resolve(s"stage-$name-$tag")
      Workloads(name, spark, seed, Map.empty, small = true).stage(dir)
      val sub = if (name == "pages_kg") "pages" else "kg-triples"
      fileBytes(dir.resolve(sub))
    }
    Seq("pages_kg", "kg_analytics").foreach { name =>
      val x = staged(name, 3L, "x")
      expect(x.nonEmpty && x == staged(name, 3L, "y"), s"$name: same seed gives byte-identical input")
      expect(x != staged(name, 4L, "z"), s"$name: another seed gives different input")
    }

    // 4. expected-count logic on a tiny corpus, through the real pipeline
    val tiny = RdfGen.write(o.work.resolve("tiny"), 5L, 3000,
      planted = Seq("http://alpha.bench-kg.org/a/" -> 40, "http://tiny0.bench-kg.net/t/" -> 10))
    val res = RdfPipeline.run(spark, tiny.files,
      Pipeline.Config(outDir = o.work.resolve("tiny-out").toString))
    val rows = Workloads.summaryRows(res.summary)
    val miss = RdfGen.mismatches(tiny, rows)
    miss.foreach(m => System.err.println(s"[selftest]      $m"))
    expect(miss.isEmpty && tiny.expected.nonEmpty, s"tiny corpus: ${tiny.expected.size} expected counts agree")

    // 5. the metric name table, compared with BENCHMARK.json by run.py
    def arr(xs: Seq[String]) = xs.map(Registry.jstr).mkString("[", ", ", "]")
    println(s"""NAMES {"end_to_end": ${arr(Main.EndToEnd)}, "per_layer": ${arr(Main.PerLayer)}}""")
    if (failures.isEmpty) 0 else 1
  }
}
