package graft

import graft.pipeline.{Pipeline, RdfPipeline}
import graft.sinks.{TtlSink, VisJson}
import org.apache.spark.sql.SparkSession

private object MainUtil {
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Main pipeline CLI over RDF files (the reference's `chilon_rs` binary,
  * `src/main.rs:38-165`): `runMain graft.Chilon <outDir> <file...>`.
  */
object Chilon {
  val Usage =
    "usage: Chilon [--ignore-unknown] [--no-infer-ns] [--min-occurs N] <outDir> <rdf-file...>"

  /** Parses the command line (flags mirror the reference CLI,
    * `src/args.rs:11-30`) into the pipeline config and the RDF inputs.
    * `--min-occurs` takes its value as the next argument or after `=`.
    * Left holds the reason and the usage line.
    */
  def parseArgs(args: Seq[String]): Either[String, (Pipeline.Config, Seq[String])] = {
    def minOccurs(v: String) =
      v.toIntOption.toRight(s"--min-occurs expects an integer, got '$v'")
    def loop(rest: List[String], cfg: Pipeline.Config, pos: Vector[String])
        : Either[String, (Pipeline.Config, Vector[String])] = rest match {
      case Nil => Right((cfg, pos))
      case "--ignore-unknown" :: t => loop(t, cfg.copy(ignoreUnknown = true), pos)
      case "--no-infer-ns" :: t => loop(t, cfg.copy(inferNs = false), pos)
      case "--min-occurs" :: t => minOccurs(t.headOption.getOrElse(""))
        .flatMap(n => loop(t.drop(1), cfg.copy(minOccurs = n), pos))
      case f :: t if f.startsWith("--min-occurs=") => minOccurs(f.stripPrefix("--min-occurs="))
        .flatMap(n => loop(t, cfg.copy(minOccurs = n), pos))
      case f :: _ if f.startsWith("--") => Left(s"unknown flag: $f")
      case p :: t => loop(t, cfg, pos :+ p)
    }
    loop(args.toList, Pipeline.Config(outDir = ""), Vector.empty) match {
      case Right((cfg, pos)) if pos.length >= 2 => Right((cfg.copy(outDir = pos.head), pos.tail))
      case Right(_) => Left(s"expected <outDir> and at least one RDF file\n$Usage")
      case Left(e) => Left(s"$e\n$Usage")
    }
  }

  def main(args: Array[String]): Unit = {
    val (cfg, inputs) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) => System.err.println(err); sys.exit(2)
    }
    val spark = MainUtil.session("graft-chilon")
    val res = RdfPipeline.run(spark, inputs, cfg)
    println(s"summary rows: ${res.summary.count()}; registry: ${res.registry.size} namespaces")
    spark.stop()
  }
}

/** Parse-validation loop (the reference's `test-files` binary,
  * `src/bin/test-files.rs:22-59`): parse each file, count triples, fail on error.
  */
object TestFiles {
  def main(args: Array[String]): Unit = {
    val spark = MainUtil.session("graft-test-files")
    val (triples, _) = graft.rdf.RdfSource.read(spark, args.toSeq)
    val n = triples.count() // forces a full parse of every file
    println(s"parsed $n triples from ${args.length} file(s)")
    spark.stop()
  }
}

/** Re-run visualization from a materialized summary (the reference's `gen-viz`
  * binary, `src/bin/gen-viz.rs:29-51`): reads the summary Parquet snapshot and
  * regenerates `vis-data.json`.
  */
object GenViz {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: GenViz <resultsDir> [minOccurs]")
    val outDir = args(0)
    val minOccurs = if (args.length > 1) args(1).toInt else 10
    val spark = MainUtil.session("graft-gen-viz")
    val summary = spark.read.parquet(s"$outDir/summary")
    val rows = TtlSink.collectRows(summary).filter(_.occurs >= minOccurs)
    // the used-groups sidecar the pipeline sink wrote — regenerated output is
    // byte-identical to the pipeline's vis-data.json for the same summary.
    // Output dirs from before the sidecar existed fall back to scraping the
    // full registry JSON (legacy behavior: over-reports aliases, breaks on
    // escaped quotes — kept only so old results stay regenerable).
    val tsv = java.nio.file.Paths.get(outDir, "used-groups.tsv")
    val aliases =
      if (java.nio.file.Files.exists(tsv)) TtlSink.readGroupsTsv(tsv)
      else {
        System.err.println(
          s"[gen-viz] $outDir has no used-groups.tsv (pre-sidecar output); " +
            "falling back to all-prefixes.json scrape")
        val regJson = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(outDir, "all-prefixes.json")), "UTF-8")
        val aliasRe = """"([^"]+)": \["([^"]+)", "[^"]+"\]""".r
        aliasRe.findAllMatchIn(regJson).map(m => m.group(1) -> m.group(2)).toMap
      }
    val vis = VisJson.build(rows, aliases)
    TtlSink.write(java.nio.file.Paths.get(outDir, "vis-data.json"), VisJson.toJson(vis))
    println(s"vis-data.json: ${vis.nodes.size} nodes, ${vis.edges.size} edges")
    spark.stop()
  }
}
