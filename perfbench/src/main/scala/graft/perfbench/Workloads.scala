package graft.perfbench

import graft.extract.Synth
import graft.kg.GraphOps
import graft.model.{Kind, Page, PrefixDecl, SummaryRow}
import graft.ns.Registry
import graft.pipeline.{Pipeline, RdfPipeline}
import graft.rdf.RdfSource
import graft.sinks.{Snapshot, TtlSink, VisJson}
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths}

/** What one run produced: digests of its outputs (compared between the traced
  * and the untraced run, and against pinned values) and the counts the output
  * check needs.
  */
final case class Outcome(digests: Map[String, String], triples: Long, summary: Seq[SummaryRow])

abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  /** Writes the seeded inputs under `dir`. */
  def stage(dir: Path): Unit
  /** Triples the workload consumes per run (the `triples_per_s` numerator). */
  def inputTriples: Long
  /** One run through the public entry point. */
  def run(out: Path): Outcome
  /** The same run, stage by stage, with a span around each layer call. */
  def traced(out: Path, tr: Tracer): Outcome
  /** Problems with a run's output; empty when correct. */
  def check(o: Outcome): Seq[String]
  /** Digests compared against the values pinned from the seed commit. */
  def pinnedKeys: Seq[String] = Nil
  /** Distinct page contents the seed chooses from (see [[Workloads.contentSeed]]). */
  def contents: Int = 1
  final def content: Long = Workloads.contentSeed(seed, contents)
  /** Untraced runs per process whatever `--seconds` says, set per workload
    * from its measured run-to-run spread.
    */
  def minRuns: Int = 4
}

object Workloads {
  /** Page ids start at 100000: from there on Synth plants its long-tail
    * gadget sentences (8 of every 1009 pages), which the pipeline's inference
    * resolves in a second round once the corpus holds more than ~126k pages.
    */
  val FirstPageId = 100000L
  val KgPages = 3000L
  val PagesKgPages = 130000L
  val RdfTriples = 150000

  /** The Synth seed of a page workload: one of `contents` values, whose output
    * digests are pinned in `pinned.tsv`; the benchmark seed also orders the
    * rows inside each staged file. Synth mixes `seed ^ id`, so a small seed
    * would only permute page contents among ids of the same range; the high
    * bits make each content seed draw other pages.
    */
  def contentSeed(seed: Long, contents: Int): Long =
    0x5eed0000L + (Math.floorMod(seed, contents.toLong) << 20)

  /** `small` inputs serve the self-test only. */
  def apply(
      name: String, spark: SparkSession, seed: Long, pinned: Map[String, String],
      small: Boolean = false): Workload =
    name match {
      case "pages_kg" => new PagesKg(spark, seed, pinned, if (small) 2000L else PagesKgPages)
      case "rdf_summary" => new RdfSummary(spark, seed)
      case "kg_analytics" => new KgAnalytics(spark, seed, pinned, if (small) 500L else KgPages)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(p))
    md.digest().map(b => f"$b%02x").mkString
  }

  def sha256(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Order-independent digest of a result table: row count plus two wrapping
    * sums of 32-bit halves of each row's xxhash64, computed where the rows are.
    */
  def tableDigest(df: DataFrame): (String, Long) = {
    val h = F.xxhash64(df.columns.map(c => F.col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(F.count(F.lit(1)), F.sum(F.col("h").bitwiseAND(0xffffffffL)),
        F.sum(F.shiftrightunsigned(F.col("h"), 32)))
      .collect()(0)
    val n = r.getLong(0)
    (s"$n:${if (n == 0) 0L else r.getLong(1)}:${if (n == 0) 0L else r.getLong(2)}", n)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** The summary files both pipelines write, by name. */
  val SummaryFiles = Seq("output.ttl", "all-prefixes.json", "vis-data.json", "used-groups.tsv")

  def summaryDigests(out: Path): Map[String, String] =
    SummaryFiles.map(f => f -> sha256(out.resolve(f))).toMap

  def summaryRows(df: DataFrame): Seq[SummaryRow] =
    df.collect().map(r => SummaryRow(r.getString(0), r.getString(1), r.getString(2),
      r.getBoolean(3), r.getLong(4))).toSeq

  /** Stages a seeded page table with ids [FirstPageId, FirstPageId + n); the
    * benchmark seed orders the rows inside each of the `Main.Cores` files.
    */
  def stagePages(spark: SparkSession, content: Long, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(FirstPageId, FirstPageId + n, 1, Main.Cores)
      .map(id => Synth.page(id, content)).toDF()
      .sortWithinPartitions(F.xxhash64(F.col("url"), F.lit(seed)))
  }

  def pinnedKey(w: Workload, output: String): String = s"${w.name}/${w.content}/$output"

  def pinnedProblems(w: Workload, o: Outcome, pinned: Map[String, String]): Seq[String] =
    w.pinnedKeys.flatMap { k =>
      val key = pinnedKey(w, k)
      pinned.get(key) match {
        case Some(d) if d == o.digests(k) => Nil
        case Some(d) => Seq(s"$k digest ${o.digests(k)} != pinned $d")
        case None => Seq(s"no pinned digest for $key")
      }
    }

  /** Round 1's input: one row per IRI occurrence (s and o when IRIs, p). */
  def explodedIris(triples: DataFrame): DataFrame =
    triples
      .select(F.explode(F.array(
        F.when(F.col("sKind") === Kind.IRI, F.col("s")),
        F.col("p"),
        F.when(F.col("oKind") === Kind.IRI, F.col("o")))).as("iri"))
      .filter(F.col("iri").isNotNull)

  /** Traced namespace layer shared by both pipelines: the inference rounds as
    * the pipeline runs them, then resolution over the exploded IRI column
    * timed on its own (an extra measurement the pipeline does not make).
    */
  def tracedNs(
      tr: Tracer, triples: DataFrame, initial: Registry, cfg: Pipeline.Config,
      metrics: scala.collection.mutable.Builder[Pipeline.StageMetrics, Vector[Pipeline.StageMetrics]]
  ): (Registry, Pipeline.InferHk) = {
    val (registry, hk, _) = tr.span("ns.infer") {
      Pipeline.runInference(triples, initial, cfg, metrics)
    }
    tr.span("ns.resolve") {
      val iris = explodedIris(triples).persist(StorageLevel.MEMORY_ONLY)
      try {
        val total = iris.count()
        val t0 = System.nanoTime()
        val hits = iris.agg(F.count(Normalize.resolveCol(F.col("iri"), registry))).collect()(0).getLong(0)
        val s = (System.nanoTime() - t0) / 1e9
        val misses = iris.filter(Normalize.resolveCol(F.col("iri"), initial).isNull).count()
        tr.count("ns.resolve_iris_per_s", total / s)
        tr.count("ns.resolve_hit_rate", if (total > 0) hits.toDouble / total else 0.0)
        tr.count("ns.unresolved_iris", misses.toDouble)
      } finally iris.unpersist()
    }
    tr.count("ns.rounds", hk.rounds.toDouble)
    tr.count("ns.candidates", hk.inferredNs.toDouble)
    tr.count("ns.added", hk.addedNs.toDouble)
    tr.count("ns.added_per_candidate",
      if (hk.inferredNs > 0) hk.addedNs.toDouble / hk.inferredNs else 0.0)
    tr.count("ns.registry_size", registry.size.toDouble)
    (registry, hk)
  }

  /** Stage C and the summary sinks, as both pipelines run them. */
  def tracedSummary(
      tr: Tracer, triples: DataFrame, registry: Registry, cfg: Pipeline.Config,
      out: Path, lineage: Seq[String], rowsIn: Long
  ): (Seq[SummaryRow], DataFrame) = {
    val spark = triples.sparkSession
    val (rows, groups) = tr.span("summarize") {
      val bc = spark.sparkContext.broadcast(registry)
      val (r, g, _, _) = Normalize.summarizeWithGroups(triples, bc, cfg.ignoreUnknown)
      (r, g)
    }
    tr.count("summarize.rows_in", rowsIn.toDouble)
    tr.count("summarize.groups", rows.size.toDouble)
    val summary = spark.createDataFrame(rows)
      .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"), F.col("occurs"))
    tr.span("sinks") {
      TtlSink.write(out.resolve("output.ttl"), TtlSink.render(rows, groups, cfg.minOccurs))
      TtlSink.write(out.resolve("all-prefixes.json"), registry.toJson)
      val vis = VisJson.build(rows.filter(_.occurs >= cfg.minOccurs), groups.toMap)
      TtlSink.write(out.resolve("vis-data.json"), VisJson.toJson(vis))
      TtlSink.write(out.resolve("used-groups.tsv"), TtlSink.groupsTsv(groups))
      Snapshot.writeSmall(summary, out.resolve("summary").toString, "summary", lineage,
        rows.size.toLong)
    }
    tr.count("sinks.bytes_out",
      (SummaryFiles.map(f => Files.size(out.resolve(f))).sum + dirBytes(out.resolve("summary"))).toDouble)
    (rows, summary)
  }
}

import Workloads._

/** North-rule pipeline over a staged page table (`Pipeline.run`, default
  * Config: resume on, so the triple snapshot is written and re-read).
  */
final class PagesKg(spark0: SparkSession, seed0: Long, pinned: Map[String, String], nPages: Long)
    extends Workload(spark0, seed0) {
  import spark.implicits._
  val name = "pages_kg"
  private var pagesDir: Path = _
  private var nTriples = 0L

  def stage(dir: Path): Unit = {
    pagesDir = dir.resolve("pages")
    stagePages(spark, content, seed, nPages).write.mode("overwrite").parquet(pagesDir.toString)
  }

  def inputTriples: Long = nTriples
  private def pages = spark.read.parquet(pagesDir.toString).as[Page]

  def run(out: Path): Outcome = {
    val res = Pipeline.run(spark, pages, Pipeline.Config(outDir = out.toString))
    val triples = res.metrics.find(_.name == "extract").map(_.rows).getOrElse(-1L)
    nTriples = triples
    Outcome(summaryDigests(out), triples, summaryRows(res.summary))
  }

  def traced(out: Path, tr: Tracer): Outcome = {
    val cfg = Pipeline.Config(outDir = out.toString)
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]
    val triplesDir = Paths.get(cfg.outDir, "triples").toString
    val (triples, n) = tr.span("extract") {
      val df = Snapshot.resumeOrWrite(spark, triplesDir, "triples", Seq("pages")) {
        Pipeline.extractTriples(pages).toDF()
      }
      (df, df.count())
    }
    tr.count("extract.pages", nPages.toDouble)
    tr.count("extract.triples", n.toDouble)
    tr.count("extract.snapshot_mb", dirBytes(Paths.get(triplesDir)) / 1e6)
    val (registry, hk) = tracedNs(tr, triples, Registry.community(), cfg, metrics)
    val (rows, _) = tracedSummary(tr, triples, registry, cfg, out, Seq(triplesDir), n)
    TtlSink.write(out.resolve("tasks.json"), Pipeline.tasksJson(metrics.result(), hk, Nil))
    Outcome(summaryDigests(out), n, rows)
  }

  override def pinnedKeys: Seq[String] = Seq("output.ttl", "all-prefixes.json")
  override def contents: Int = 8
  // the longest runs and the steadiest: 3 keep the process near 40 s
  override def minRuns: Int = 3

  def check(o: Outcome): Seq[String] = {
    val sum = o.summary.map(_.occurs).sum
    (if (sum != o.triples) Seq(s"sum(occurs)=$sum but ${o.triples} triples") else Nil) ++
      pinnedProblems(this, o, pinned)
  }
}

/** chilon's own use case: RDF files in, namespace summary out
  * (`RdfPipeline.run`, which keeps the parsed triples in memory).
  */
final class RdfSummary(spark0: SparkSession, seed0: Long) extends Workload(spark0, seed0) {
  val name = "rdf_summary"
  private var corpus: RdfGen.Corpus = _

  def stage(dir: Path): Unit = corpus = RdfGen.write(dir.resolve("rdf"), seed, RdfTriples)
  def inputTriples: Long = corpus.triples

  /** The per-file section of tasks.json is deterministic; the stage timings
    * around it are not.
    */
  private def withFiles(out: Path, d: Map[String, String]): Map[String, String] = {
    val tasks = new String(Files.readAllBytes(out.resolve("tasks.json")), "UTF-8")
    d + ("tasks.json#files" -> sha256(tasks.substring(tasks.indexOf("\"files\""))))
  }

  def run(out: Path): Outcome = {
    val res = RdfPipeline.run(spark, corpus.files, Pipeline.Config(outDir = out.toString))
    try {
      val triples = res.metrics.find(_.name == "scan").map(_.rows).getOrElse(-1L)
      Outcome(withFiles(out, summaryDigests(out)), triples, summaryRows(res.summary))
    } finally res.triples.unpersist()
  }

  def traced(out: Path, tr: Tracer): Outcome = {
    val cfg = Pipeline.Config(outDir = out.toString)
    val paths = corpus.files
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]
    val (triplesDs, declsDs) = RdfSource.read(spark, paths)
    val (triples, n) = tr.span("rdf.scan") {
      val df = RdfPipeline.truncateIris(triplesDs.toDF()).persist(StorageLevel.MEMORY_AND_DISK)
      (df, df.count())
    }
    try {
      tr.count("rdf.triples", n.toDouble)
      tr.count("rdf.mb_read", corpus.bytes / 1e6)
      val registry0 = tr.span("rdf.prefix_decls") {
        val decls: Array[PrefixDecl] = declsDs.collect()
        tr.count("rdf.decls", decls.length.toDouble)
        Registry.addDeclaredAll(Registry.community(),
          decls.sortBy(d => (d.ns.length, d.ns)).map(d => d.ns -> d.alias).toSeq)
      }
      val (registry, hk) = tracedNs(tr, triples, registry0, cfg, metrics)
      val (rows, _) = tracedSummary(tr, triples, registry, cfg, out, paths, n)
      val files = tr.span("sinks.file_metrics")(fileMetrics(triples, paths))
      TtlSink.write(out.resolve("tasks.json"), Pipeline.tasksJson(metrics.result(), hk, files))
      Outcome(withFiles(out, summaryDigests(out)), n, rows)
    } finally triples.unpersist()
  }

  /** `RdfPipeline.run`'s per-file metrics stage (plain files, no directories). */
  private def fileMetrics(triples: DataFrame, paths: Seq[String]): Seq[Pipeline.FileMetrics] = {
    def canon(p: String): String = {
      val noScheme =
        if (p.startsWith("file:")) Paths.get(new java.net.URI(p)).toString else p
      Paths.get(noScheme).toAbsolutePath.normalize.toString
    }
    val tallies = graft.sinks.Metrics.perSource(triples).collect()
      .map(r => canon(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    paths.map { p =>
      val (t, i, b, l) = tallies.getOrElse(canon(p), (0L, 0L, 0L, 0L))
      Pipeline.FileMetrics(p, Files.size(Paths.get(p)), t, i, b, l)
    }
  }

  def check(o: Outcome): Seq[String] =
    (if (o.triples != corpus.triples) Seq(s"parsed ${o.triples} triples, generated ${corpus.triples}")
     else Nil) ++ RdfGen.mismatches(corpus, o.summary)
}

/** Graph analytics over a materialized triple table: degrees, integer
  * PageRank, triangle counts and label propagation on hub-skewed keys.
  */
final class KgAnalytics(spark0: SparkSession, seed0: Long, pinned: Map[String, String], nPages: Long)
    extends Workload(spark0, seed0) {
  import spark.implicits._
  val name = "kg_analytics"
  private var triplesDir: Path = _
  private var nTriples = 0L
  private var nEdges = 0L

  def stage(dir: Path): Unit = {
    triplesDir = dir.resolve("kg-triples")
    Pipeline.extractTriples(stagePages(spark, content, seed, nPages).as[Page]).toDF()
      .sortWithinPartitions(F.xxhash64(F.col("s"), F.col("p"), F.col("o"), F.lit(seed)))
      .write.mode("overwrite").parquet(triplesDir.toString)
    val t = table
    nTriples = t.count()
    val node = Seq(Kind.IRI, Kind.BLANK)
    nEdges = t.filter(F.col("sKind").isin(node: _*) && F.col("oKind").isin(node: _*)).count()
  }

  def inputTriples: Long = nTriples
  private def table = spark.read.parquet(triplesDir.toString)

  private def outcome(ds: Seq[(String, (String, Long))]): Outcome =
    Outcome(ds.map { case (k, (d, _)) => k -> d }.toMap, nTriples, Nil)

  def run(out: Path): Outcome = {
    val t = table
    outcome(Seq(
      "degrees" -> tableDigest(GraphOps.entityDegrees(t)),
      "pagerank" -> tableDigest(GraphOps.pageRank(t, 5)),
      "triangles" -> tableDigest(GraphOps.triangleCounts(t)),
      "communities" -> tableDigest(GraphOps.labelPropagation(t, 3))))
  }

  def traced(out: Path, tr: Tracer): Outcome = {
    val t = table
    val ds = Seq(
      "degrees" -> tr.span("kg.degrees")(tableDigest(GraphOps.entityDegrees(t))),
      "pagerank" -> tr.span("kg.pagerank")(tableDigest(GraphOps.pageRank(t, 5))),
      "triangles" -> tr.span("kg.triangles")(tableDigest(GraphOps.triangleCounts(t))),
      "communities" -> tr.span("kg.communities")(tableDigest(GraphOps.labelPropagation(t, 3))))
    tr.count("kg.edges", nEdges.toDouble)
    tr.count("kg.pagerank_nodes", ds(1)._2._2.toDouble)
    tr.count("kg.triangle_nodes", ds(2)._2._2.toDouble)
    outcome(ds)
  }

  override def pinnedKeys: Seq[String] = Seq("degrees", "pagerank", "triangles", "communities")

  def check(o: Outcome): Seq[String] = pinnedProblems(this, o, pinned)
}
