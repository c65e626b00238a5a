package graft.pipeline

import graft.model.PrefixDecl
import graft.ns.Registry
import graft.pipeline.Pipeline.timed
import graft.rdf.RdfSource
import graft.sinks.TtlSink
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.Paths

/** The reference's own entry point re-expressed: RDF files in, condensed
  * namespace summary out (chilon_rs `src/main.rs:38-165`).
  *
  * Stage order mirrors the reference: community registry -> file `@prefix`
  * decl merge (N7, `src/prefixes.rs:249-277`) -> inference rounds over
  * unresolved IRIs (Stage 2) -> normalize + summarize (Stage 3) -> sinks
  * (Stage 4: output.ttl, all-prefixes.json, vis-data.json, tasks.json).
  */
object RdfPipeline {

  /** The reference applies the 200-grapheme cap to EVERY parsed IRI
    * (`normalize_iri`, src/prefixes.rs:431-444), so corpora with >200-char
    * IRIs summarize identically. Applied to s (when IRI), p, o (when IRI) and
    * the datatype IRI. The UDF only runs on rows that can exceed the cap
    * (length guard keeps the common path in codegen).
    */
  def truncateIris(df: DataFrame): DataFrame = {
    val trunc = F.udf((s: String) => graft.extract.Canonical.graphemeTruncate(s))
    def capped(c: org.apache.spark.sql.Column) =
      F.when(F.length(c) > graft.extract.Canonical.MaxGraphemes, trunc(c)).otherwise(c)
    df
      .withColumn("s", F.when(F.col("sKind") === graft.model.Kind.IRI, capped(F.col("s")))
        .otherwise(F.col("s")))
      .withColumn("p", capped(F.col("p")))
      .withColumn("o", F.when(F.col("oKind") === graft.model.Kind.IRI, capped(F.col("o")))
        .otherwise(F.col("o")))
      .withColumn("oDt", capped(F.col("oDt")))
  }

  def run(spark: SparkSession, paths: Seq[String], cfg: Pipeline.Config): Pipeline.Result = {
    val metrics = Vector.newBuilder[Pipeline.StageMetrics]

    val (triplesDs, declsDs) = RdfSource.read(spark, paths)
    val triples = timed(metrics, "scan") {
      val df = truncateIris(triplesDs.toDF())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (df, df.count())
    }

    // registry: community + per-file @prefix decls (alias from file; generated
    // when the file declares the empty alias)
    val declared = timed(metrics, "prefix_decls") {
      val decls: Array[PrefixDecl] = declsDs.collect()
      (Registry.addDeclaredAll(Registry.community(),
        decls.sortBy(d => (d.ns.length, d.ns)).map(d => d.ns -> d.alias).toSeq),
        decls.length.toLong)
    }

    // inference rounds (chilon Stage 2), normalize + summarize (Stage 3) and
    // sinks (Stage 4), shared with the page pipeline
    val (res, hk) = Pipeline.runFromTriples(spark, triples, declared, cfg, paths, metrics)

    // per-file metrics (reference Task records, meta_info.rs:31-46): byte
    // size from the filesystem, kind tallies from one aggregation over the
    // triple table grouped by the srcUrl lineage column
    val files = timed(metrics, "file_metrics") {
      // srcUrl is the URI the scan stamped (file:/..., possibly file:///...);
      // normalize BOTH sides to an absolute filesystem path and match
      // exactly — suffix matching would misattribute when one input path is
      // a path-suffix of another (/data/x/g.ttl vs /backup/data/x/g.ttl)
      def canon(p: String): String = {
        val noScheme =
          if (p.startsWith("file:")) {
            try java.nio.file.Paths.get(new java.net.URI(p)).toString
            catch { case _: Exception => p.stripPrefix("file:") }
          } else p
        try Paths.get(noScheme).toAbsolutePath.normalize.toString
        catch { case _: Exception => noScheme }
      }
      val tallies = graft.sinks.Metrics.perSource(triples).collect()
        .map(r => canon(r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val fs = (p: String) =>
        try java.nio.file.Files.size(Paths.get(p)) catch { case _: Exception => 0L }
      // a directory input scans its contained files (non-recursive, like the
      // underlying binaryFiles/wholeTextFiles read), so expand it here: the
      // tally keys are individual file paths and a directory entry would
      // otherwise match nothing and report silent zeros
      def expand(p: String): Seq[String] =
        try {
          val path = Paths.get(p)
          if (java.nio.file.Files.isDirectory(path)) {
            val s = java.nio.file.Files.list(path)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala
                .filter(java.nio.file.Files.isRegularFile(_))
                .map(_.toString).toVector.sorted
            } finally s.close()
          } else Seq(p)
        } catch { case _: Exception => Seq(p) }
      val out = paths.flatMap(expand).map { p =>
        val (t, i, b, l) = tallies.getOrElse(canon(p), (0L, 0L, 0L, 0L))
        Pipeline.FileMetrics(p, fs(p), t, i, b, l)
      }
      (out, out.size.toLong)
    }
    val ms = metrics.result()
    TtlSink.write(Paths.get(cfg.outDir, "tasks.json"), Pipeline.tasksJson(ms, hk, files))
    res.copy(metrics = ms)
  }
}
