package graft.pipeline

import graft.extract.OpenIE
import graft.model.{Kind, Page, Triple}
import graft.ns.{Inference, NsSource, Registry}
import graft.sinks.{Snapshot, TtlSink, VisJson}
import graft.summarize.Normalize
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel
import java.nio.file.Paths

/** End-to-end KG-construction + namespace-summarization pipeline
  * (BASELINE.json north_rule), the Spark re-expression of chilon's three-stage
  * run (`/root/reference/src/main.rs:38-165`):
  *
  *   Stage A  pages -> triples (flatMap generator: extractText check, mentions,
  *            entity linking, OpenIE, canonicalization) — checkpointed snapshot
  *   Stage B  namespace inference rounds over still-unresolved IRIs
  *            (prefix aggregation -> driver expansion -> registry)
  *   Stage C  normalization + summary group-count
  *   Stage D  sinks: output.ttl, all-prefixes.json, vis-data.json, tasks.json,
  *            summary Parquet snapshot
  *
  * Unlike the reference's arrival-order-dependent mid-stream maintenance
  * (`src/prefixes.rs:209-247`), inference computes the order-independent fixed
  * point: rounds repeat on the remaining unresolved IRIs until no namespace is
  * added (bounded by `maxInferenceRounds`).
  */
object Pipeline {

  /** Pipeline settings. The inference thresholds default to the reference's
    * (`Inference.MinNsSize`, `Inference.MinDomainOccurs`); the per-round
    * expansion budget is the fixed `Inference.MaxNs`. `resume` checkpoints
    * the extracted triples as a parquet snapshot that inference and Stage C
    * re-read; without it the triple table is persisted in memory instead.
    */
  final case class Config(
      outDir: String,
      minOccurs: Int = 10,
      inferNs: Boolean = true,
      ignoreUnknown: Boolean = false,
      // expansion adds <= Inference.MaxNs namespaces per round, so rich
      // corpora need several rounds to converge; the fixed-point early exit
      // makes unused rounds free (a converged corpus stops after round 1)
      maxInferenceRounds: Int = 4,
      minNsSize: Long = Inference.MinNsSize,
      minDomainOccurs: Long = Inference.MinDomainOccurs,
      // driver-side candidate collect budget per round; corpora with more
      // above-threshold prefixes than this converge over multiple rounds
      // (rounds 3+ are delta-filtered, never a corpus rescan)
      maxCollected: Int = Inference.MaxCollected,
      resume: Boolean = true
  )

  final case class StageMetrics(name: String, rows: Long, wallMs: Long)

  private[graft] type MetricsBuilder =
    scala.collection.mutable.Builder[StageMetrics, Vector[StageMetrics]]

  /** Inference housekeeping roll-up (reference `InferHK`,
    * `src/meta_info.rs:104-141`): rounds run, total wall, namespaces the
    * expansion proposed vs actually added, and example IRIs still unresolved
    * after the last round.
    */
  final case class InferHk(
      rounds: Int, wallMs: Long, inferredNs: Long, addedNs: Long,
      exampleUnresolved: Seq[String] = Nil)

  /** Per-input-file record (reference `Task`, `src/meta_info.rs:31-46`):
    * byte size plus kind tallies. Per-file WALL duration is deliberately
    * absent — the reference parses one file per thread so a per-file wall
    * exists; a distributed scan splits one file across many tasks, so the
    * honest duration lives in the per-stage roll-up instead.
    */
  final case class FileMetrics(
      file: String, sizeBytes: Long, triples: Long, iris: Long, blanks: Long, literals: Long)

  final case class Result(
      summary: DataFrame,
      registry: Registry,
      triples: DataFrame,
      metrics: Seq[StageMetrics],
      inferredNamespaces: Seq[String]
  )

  /** Stage A: pages -> canonicalized triple table.
    *
    * Projects to (url, text) BEFORE the typed flatMap: extraction never
    * touches the `html` binary — the fattest column of the page table — so
    * Catalyst pushes the projection into the scan (ReadSchema drops `html`;
    * PlanSpec pins it) and the flatMap deserializes two strings instead of
    * the whole Page. At 100 TB that is the difference between reading the
    * text column family and reading the entire corpus.
    */
  def extractTriples(pages: Dataset[Page]): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    extractTriplesUrlText(pages.select($"url", $"text").as[(String, String)])
  }

  /** Stage A over an already-projected (url, text) relation — the shape the
    * generator-backed queries feed directly (Synth.pagesUrlText) so the
    * opaque page `map` never constructs the html payload the extractor
    * provably ignores. Identical per-row logic to [[extractTriples]].
    */
  def extractTriplesUrlText(urlText: Dataset[(String, String)]): Dataset[Triple] = {
    val spark = urlText.sparkSession
    import spark.implicits._
    urlText.flatMap { case (url, text) => OpenIE.extract(url, text) }
  }

  /** Stage A for corpora WITHOUT a trusted extracted-text column: re-derives
    * text from the html bytes with the pinned deterministic extractor (the
    * per-row invariant `extractText(html) == text`, BASELINE.json input_hint).
    */
  def extractTriplesFromHtml(pages: Dataset[Page]): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select($"url", $"html").as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        OpenIE.extract(url, graft.extract.HtmlText.extractText(html))
      }
  }

  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config): Result = {
    import spark.implicits._
    runUrlText(spark, pages.select($"url", $"text").as[(String, String)], cfg)
  }

  /** [[run]] over an already-projected (url, text) relation (see
    * [[extractTriplesUrlText]]): identical stages and outputs — the page
    * table's other columns never participate in the pipeline, so a caller
    * that HAS the projection (or a generator that can produce it without
    * building the html payload) skips the dead construction work.
    */
  def runUrlText(
      spark: SparkSession, urlText: Dataset[(String, String)], cfg: Config): Result = {
    val metrics = Vector.newBuilder[StageMetrics]

    // ---- Stage A: extraction (snapshot + resume) -------------------------
    val triplesDir = Paths.get(cfg.outDir, "triples").toString
    val triples = timed(metrics, "extract") {
      def extracted = extractTriplesUrlText(urlText).toDF()
      // snapshot-backed runs re-read the snapshot (no second corpus-sized copy)
      val df =
        if (cfg.resume) Snapshot.resumeOrWrite(spark, triplesDir, "triples", Seq("pages"))(extracted)
        else extracted.persist(StorageLevel.MEMORY_AND_DISK)
      (df, df.count())
    }
    val (res, hk) =
      runFromTriples(spark, triples, Registry.community(), cfg, Seq(triplesDir), metrics)
    TtlSink.write(Paths.get(cfg.outDir, "tasks.json"), tasksJson(res.metrics, hk, Nil))
    res
  }

  /** Chunked Stage A: the page corpus is processed in independent chunks,
    * each checkpointed under `triples/chunk=K` with its own per-partition
    * manifest; a re-run recomputes ONLY incomplete chunks (idempotent
    * partition-level resume, north rule). On a real cluster a chunk is an
    * input-split range of the Iceberg-style page table.
    */
  def runChunked(
      spark: SparkSession,
      nChunks: Int,
      chunk: Int => Dataset[Page],
      cfg: Config
  ): Result = {
    val metrics = Vector.newBuilder[StageMetrics]
    val triplesDir = Paths.get(cfg.outDir, "triples").toString
    val triples = timed(metrics, "extract") {
      var computed = 0
      (0 until nChunks).foreach { k =>
        val dir = Paths.get(triplesDir, s"chunk=$k").toString
        if (!(cfg.resume && Snapshot.isCompleteFor(dir, Seq(s"pages[chunk=$k]")))) {
          Snapshot.write(extractTriples(chunk(k)).toDF(), dir, s"triples/chunk=$k",
            Seq(s"pages[chunk=$k]"))
          computed += 1
        }
      }
      // always snapshot-backed here: the chunk parquet is the materialization
      val df = spark.read.parquet((0 until nChunks).map(k => s"$triplesDir/chunk=$k"): _*)
      metrics += StageMetrics("chunks_computed", computed.toLong, 0L)
      (df, df.count())
    }
    val (res, hk) =
      runFromTriples(spark, triples, Registry.community(), cfg, Seq(triplesDir), metrics)
    TtlSink.write(Paths.get(cfg.outDir, "tasks.json"), tasksJson(res.metrics, hk, Nil))
    res
  }

  /** Incremental Stage C over a new crawl segment: with the registry FROZEN
    * (inference refreshes are periodic full builds — the same contract as the
    * reference, which fixes the registry before its Stage 3), the namespace
    * summary of (previous corpus ∪ delta) is the per-group sum of the
    * previous summary SNAPSHOT and the delta's own summary
    * ([[Normalize.mergeSummaries]] — summary counts are additive over
    * disjoint triple sets). Cost: one distributed pass over the DELTA only;
    * the previous corpus is never re-read (its summary is group-space-sized).
    * With `outDir` set the merged summary is snapshotted with lineage =
    * previous lineage + the delta tag, so a chain of increments records its
    * full provenance.
    */
  def incrementalSummary(
      spark: SparkSession,
      prevSummaryDir: String,
      deltaTriples: DataFrame,
      registry: Registry,
      ignoreUnknown: Boolean = false,
      outDir: Option[String] = None,
      deltaTag: String = "delta"
  ): DataFrame = {
    val bc = spark.sparkContext.broadcast(registry)
    val prev = spark.read.parquet(prevSummaryDir)
    val deltaSum = Normalize.summarize(Normalize.normalize(deltaTriples, bc, ignoreUnknown))
    val merged = Normalize.mergeSummaries(prev, deltaSum)
    outDir match {
      case Some(d) =>
        // cache before count+write: otherwise the prev-snapshot read, delta
        // normalize/summarize and merge execute TWICE (once per action); the
        // merged summary is group-space-sized, so the cache is tiny
        merged.persist()
        try {
          val rows = merged.count()
          val prevInputs = Snapshot.readLineage(prevSummaryDir).map(_._2)
            .getOrElse(Seq(prevSummaryDir))
          Snapshot.writeSmall(merged, d, "summary", prevInputs :+ deltaTag, rows)
        } finally merged.unpersist()
        spark.read.parquet(d)
      case None => merged
    }
  }

  /** Appends one stage record (rows, wall) for the timed block. */
  private[pipeline] def timed[A](metrics: MetricsBuilder, name: String)(f: => (A, Long)): A = {
    val t0 = System.nanoTime()
    val (a, rows) = f
    metrics += StageMetrics(name, rows, (System.nanoTime() - t0) / 1000000)
    a
  }

  /** Stages B-D over a materialized triple table, shared by both pipelines:
    * inference from `initial`, the fused Stage-C summary, and the sinks
    * (output.ttl, all-prefixes.json, vis-data.json, used-groups.tsv and the
    * summary snapshot recorded with `lineage`). The caller appends any stages
    * of its own and then writes tasks.json from the returned housekeeping.
    */
  private[pipeline] def runFromTriples(
      spark: SparkSession,
      triples: DataFrame,
      initial: Registry,
      cfg: Config,
      lineage: Seq[String],
      metrics: MetricsBuilder
  ): (Result, InferHk) = {
    // ---- Stage B: inference rounds ---------------------------------------
    val (registry, hk, inferredAll) = runInference(triples, initial, cfg, metrics)

    // ---- Stage C: normalize + summarize (one fused job) -------------------
    val bc = spark.sparkContext.broadcast(registry)
    val (rows, groups) = timed(metrics, "summarize") {
      val (r, g, _, _) = Normalize.summarizeWithGroups(triples, bc, cfg.ignoreUnknown)
      ((r, g), r.size.toLong)
    }
    val summary = spark.createDataFrame(rows)
      .select(F.col("s_ns"), F.col("p_ns"), F.col("o_ns"), F.col("is_datatype"), F.col("occurs"))

    // ---- Stage D: sinks (driver-side; the summary is tiny by construction) -
    timed(metrics, "sinks") {
      TtlSink.write(Paths.get(cfg.outDir, "output.ttl"),
        TtlSink.render(rows, groups, cfg.minOccurs))
      TtlSink.write(Paths.get(cfg.outDir, "all-prefixes.json"), registry.toJson)
      val vis = VisJson.build(rows.filter(_.occurs >= cfg.minOccurs), groups.toMap)
      TtlSink.write(Paths.get(cfg.outDir, "vis-data.json"), VisJson.toJson(vis))
      TtlSink.write(Paths.get(cfg.outDir, "used-groups.tsv"), TtlSink.groupsTsv(groups))
      Snapshot.writeSmall(summary, Paths.get(cfg.outDir, "summary").toString,
        "summary", lineage, rows.size.toLong)
      ((), rows.size.toLong)
    }

    (Result(summary, registry, triples, metrics.result(), inferredAll), hk)
  }

  /** Stage B: inference rounds to the order-independent fixed point.
    *
    * Round 1 scans the triple table once (explode s/p/o, keep registry
    * misses). Rounds 2+ never rescan the corpus: longest-prefix resolution is
    * MONOTONE in the registry (adding namespaces only adds matches), so the
    * round-k unresolved set is exactly the round-(k-1) unresolved set minus
    * the IRIs matched by the namespaces added in round k-1 — a broadcast
    * delta-trie filter over the (persisted, shrinking) unresolved relation.
    * At 100 TB that is the difference between one corpus pass total and one
    * corpus pass PER ROUND.
    */
  private[graft] def runInference(
      triples: DataFrame,
      initial: Registry,
      cfg: Config,
      metrics: MetricsBuilder
  ): (Registry, InferHk, Vector[String]) = {
    var registry = initial
    val inferredAll = Vector.newBuilder[String]
    var hk = InferHk(0, 0L, 0L, 0L)
    var unresolved: DataFrame = null // persisted unresolved-IRI relation
    if (cfg.inferNs) {
      var round = 0
      var added = true
      var deltaPairs: Seq[(String, String)] = Nil
      while (added && round < cfg.maxInferenceRounds) {
        round += 1
        val t0 = System.nanoTime()
        added = {
          val t1 = System.nanoTime()
          // unresolved IRIs from all three positions, one row per occurrence
          // (reference inserts only registry-misses into the IriTrie,
          // src/prefixes.rs:193-207). Round 1 never caches (most corpora
          // converge in one round via the early exit — a cache write would be
          // pure overhead); round 2 scans once more with the grown registry
          // and persists its (smaller) result; rounds 3+ delta-filter the
          // cache. Cost is <= the rescan-every-round shape at EVERY round
          // count, and rounds 3+ stop touching the corpus entirely.
          val iris =
            if (unresolved == null) {
              val full = triples
                .select(F.explode(F.array(
                  F.when(F.col("sKind") === Kind.IRI, F.col("s")),
                  F.col("p"),
                  F.when(F.col("oKind") === Kind.IRI, F.col("o"))
                )).as("iri"))
                .filter(F.col("iri").isNotNull)
                .filter(Normalize.resolveCol(F.col("iri"), registry).isNull)
              if (round == 1) full
              else {
                val p = full.persist(StorageLevel.MEMORY_AND_DISK)
                unresolved = p
                p
              }
            } else {
              val deltaReg = Registry.fromPairs(deltaPairs, NsSource.Inference)
              val next = unresolved
                .filter(Normalize.resolveCol(F.col("iri"), deltaReg).isNull)
                .persist(StorageLevel.MEMORY_AND_DISK)
              next.count() // materialize before dropping the parent cache
              unresolved.unpersist()
              unresolved = next
              next
            }
          val (inferred, candidates) = Inference.inferFromIrisWithCandidates(
            iris, cfg.minNsSize, cfg.minDomainOccurs, cfg.maxCollected)
          val (reg2, addedNs) = registry.withNamespaces(inferred)
          registry = reg2
          inferredAll ++= addedNs
          deltaPairs = addedNs.map(ns => ns -> ns)
          // fixed-point early exit: if every above-threshold candidate is
          // dead (resolves, or provably drops below threshold next round),
          // don't pay another aggregate pass over the unresolved set
          val addedSizes = inferred.collect {
            case (ns, size, _) if addedNs.contains(ns) => (ns, size)
          }
          val exhausted = Inference.roundsExhausted(
            candidates, addedSizes, registry, cfg.minNsSize, cfg.maxCollected)
          // O6: once a round adds nothing, `iris` IS the still-unresolved
          // set — sample 10 examples (the reference logs example IRIs,
          // iri_trie.rs:232-236)
          val examples =
            if (addedNs.isEmpty) Inference.sampleUnresolved(iris)
            else hk.exampleUnresolved
          hk = InferHk(hk.rounds + 1, hk.wallMs + (System.nanoTime() - t1) / 1000000,
            hk.inferredNs + inferred.size, hk.addedNs + addedNs.size, examples)
          val go = addedNs.nonEmpty && !exhausted
          metrics += StageMetrics(s"infer_round_$round", addedNs.size.toLong,
            (System.nanoTime() - t0) / 1000000)
          go
        }
      }
      if (unresolved != null) unresolved.unpersist()
    }
    (registry, hk, inferredAll.result())
  }

  def metricsJson(ms: Seq[StageMetrics]): String =
    ms.map { m =>
      // rows/s telemetry per stage (reference logs resources/s + triples/s,
      // src/prefixes.rs:279-308 / counter.rs — ours is per stage, exact)
      val rps = if (m.wallMs > 0) m.rows * 1000 / m.wallMs else 0L
      s"""  {"stage": ${Registry.jstr(m.name)}, "rows": ${m.rows}, "wall_ms": ${m.wallMs}, "rows_per_sec": $rps}"""
    }.mkString("[\n", ",\n", "\n]")

  /** tasks.json (reference `MetaInfo`, `src/meta_info.rs:31-46,104-141,241-246`):
    * per-stage roll-ups (duration + row count), inference housekeeping, and —
    * on the RDF-file path — per-file byte size and kind tallies.
    */
  def tasksJson(ms: Seq[StageMetrics], hk: InferHk, files: Seq[FileMetrics]): String = {
    val filesJson = files.map { f =>
      s"""    {"file": ${Registry.jstr(f.file)}, "size_bytes": ${f.sizeBytes}, "triples": ${f.triples}, "iris": ${f.iris}, "blanks": ${f.blanks}, "literals": ${f.literals}}"""
    }.mkString("[\n", ",\n", "\n  ]")
    s"""{
  "stages": ${metricsJson(ms).linesIterator.mkString("\n  ")},
  "infer_hk": {"rounds": ${hk.rounds}, "wall_ms": ${hk.wallMs}, "inferred_ns": ${hk.inferredNs}, "added_ns": ${hk.addedNs}, "example_unresolved": ${hk.exampleUnresolved.map(Registry.jstr).mkString("[", ", ", "]")}},
  "files": ${if (files.isEmpty) "[]" else filesJson}
}"""
  }
}
