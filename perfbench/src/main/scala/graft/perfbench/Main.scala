package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.util.{Failure, Success, Try}

/** Benchmark process: one workload, one seed, one session.
  *
  * `run` stages the seeded inputs, warms up with one full run, then repeats
  * the workload for the requested seconds (closed loop, one run at a time) and
  * prints one machine line, `PERFBENCH {...}`, with the medians over the runs
  * whose output check passed. With `--trace 1` every untraced run is followed
  * by a traced run of the same stages, and the line carries the per-layer
  * metrics of the median traced run instead. `pin` records the output digests of every content seed;
  * `selftest` checks the benchmark itself.
  */
object Main {

  val EndToEnd = Seq("wall_s", "triples_per_s", "shuffle_mb", "peak_exec_mem_mb", "setup_s")

  val Spans = Seq("extract", "ns.infer", "ns.resolve", "summarize", "sinks",
    "rdf.scan", "rdf.prefix_decls", "sinks.file_metrics",
    "kg.degrees", "kg.pagerank", "kg.triangles", "kg.communities")
  val SpanMetrics = Seq("s", "core_util", "shuffle_mb", "sched_wait_s", "gc_share", "task_skew")
  val LayerCounts = Seq(
    "extract.pages", "extract.triples", "extract.snapshot_mb",
    "rdf.triples", "rdf.mb_read", "rdf.decls",
    "ns.unresolved_iris", "ns.rounds", "ns.candidates", "ns.added", "ns.added_per_candidate",
    "ns.registry_size", "ns.resolve_iris_per_s", "ns.resolve_hit_rate",
    "summarize.rows_in", "summarize.groups", "summarize.shuffle_records",
    "sinks.bytes_out",
    "kg.edges", "kg.pagerank_nodes", "kg.triangle_nodes",
    "failed_tasks", "trace_overhead", "trace.wall_s", "trace.unattributed_s")
  val PerLayer: Seq[String] = Spans.flatMap(s => SpanMetrics.map(m => s"$s.$m")) ++ LayerCounts

  /** Full runs before measuring: the first is 2-4x slower than the third. */
  val WarmupRuns = 2

  final case class Opts(
      mode: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, pinned: Path)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      mode = kv.getOrElse("mode", "run"),
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "0").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = Paths.get(kv("work")).toAbsolutePath,
      pinned = Paths.get(kv.getOrElse("pinned", "perfbench/pinned.tsv")))
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The repository mains' session settings: AQE on, shuffle partitions = cores. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val code = o.mode match {
      case "run" => run(o)
      case "pin" => pin(o)
      case "selftest" => SelfTest.run(o)
      case m => System.err.println(s"unknown mode $m"); 2
    }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  private def readPinned(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Drops everything a run cached (RdfPipeline keeps its triples persisted,
    * the graph algorithms local-checkpoint), so every run does the same work.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  final case class RunResult(
      traced: Boolean, wallS: Double, stats: TaskStats, problems: Seq[String],
      layer: Map[String, Double], completed: Boolean)

  private def json(s: String): String = graft.ns.Registry.jstr(s)
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sc = spark.sparkContext
    val collector = new Collector
    sc.addSparkListener(collector)
    val sessionS = secondsSince(t0)

    val w = Workloads(o.workload, spark, o.seed, readPinned(o.pinned))
    val t1 = System.nanoTime()
    w.stage(o.work.resolve("input"))
    val stageS = secondsSince(t1)

    // warm-up: JIT, codegen and file-system caches; its digests are the
    // reference every later run of this seed must reproduce
    val t2 = System.nanoTime()
    val warm = (1 to WarmupRuns).map { i =>
      val out = o.work.resolve(s"out-warmup-$i")
      val oc = w.run(out)
      cleanup(spark)
      Workloads.deleteTree(out)
      oc
    }.last
    val warmS = secondsSince(t2)
    val warmProblems = w.check(warm)
    warmProblems.foreach(p => System.err.println(s"[perfbench] warm-up check: $p"))
    val setupS = sessionS + stageS + warmS
    System.err.println(f"[perfbench] ${o.workload} seed ${o.seed}: session $sessionS%.2f s, " +
      f"staging $stageS%.2f s, warm-up $warmS%.2f s")

    def once(k: Int, traced: Boolean): RunResult = {
      val out = o.work.resolve(s"out-$k")
      collector.takeTotal(sc)
      val tr = if (traced) Some(new Tracer(spark, Cores)) else None
      val start = System.nanoTime()
      val res = Try(tr.fold(w.run(out))(w.traced(out, _)))
      val wall = secondsSince(start)
      val layer = tr.map(_.metrics(collector, wall)).getOrElse(Map.empty)
      val stats = collector.takeTotal(sc)
      val problems = res match {
        case Success(oc) =>
          w.check(oc) ++ warm.digests.toSeq.sorted.collect {
            case (k, d) if !oc.digests.get(k).contains(d) =>
              s"$k differs from the warm-up run (${oc.digests.getOrElse(k, "missing")} != $d)"
          }
        case Failure(e) => Seq(s"exception: $e")
      }
      cleanup(spark)
      Workloads.deleteTree(out)
      val tag = if (traced) "traced" else "run"
      System.err.println(f"[perfbench] $tag $k: $wall%.3f s" +
        (if (problems.isEmpty) "" else problems.mkString(", FAILED: ", "; ", "")))
      RunResult(traced, wall, stats, problems, layer, res.isSuccess)
    }

    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val runs = scala.collection.mutable.ArrayBuffer.empty[RunResult]
    var k = 0
    while (System.nanoTime() < deadline || runs.count(!_.traced) < (if (o.trace) 1 else w.minRuns)) {
      runs += once(k, traced = false)
      if (o.trace) runs += once(k + 1, traced = true)
      k += 2
    }

    // when no run's output is correct, the metrics describe the runs that
    // completed with a wrong output, and `correct` is false
    val ok = runs.filter(_.problems.isEmpty)
    val basis = if (ok.nonEmpty) ok else runs.filter(_.completed)
    val okPlain = basis.filter(!_.traced)
    val okTraced = basis.filter(_.traced)
    val failed = runs.count(_.problems.nonEmpty)
    val metrics: Seq[(String, Double)] =
      if (!o.trace && okPlain.nonEmpty) {
        val wall = median(okPlain.map(_.wallS).toSeq)
        Seq(
          "wall_s" -> wall,
          "triples_per_s" -> w.inputTriples / wall,
          "shuffle_mb" -> median(okPlain.map(_.stats.shuffleWriteBytes / 1e6).toSeq),
          "peak_exec_mem_mb" -> okPlain.map(_.stats.peakExecMem).max / 1e6,
          "setup_s" -> setupS)
      } else if (o.trace && okTraced.nonEmpty && okPlain.nonEmpty) {
        // all spans from one run (the median-wall traced run), so that the
        // self times and the unattributed remainder add up to its wall
        val mid = okTraced.sortBy(_.wallS).apply((okTraced.size - 1) / 2)
        mid.layer.toSeq ++ Seq(
          "failed_tasks" -> runs.map(_.stats.failedTasks).sum.toDouble,
          "trace_overhead" ->
            (median(okTraced.map(_.wallS).toSeq) - median(okPlain.map(_.wallS).toSeq)))
      } else Nil
    val unknown = metrics.map(_._1).filterNot((if (o.trace) PerLayer else EndToEnd).contains)
    require(unknown.isEmpty, s"metrics missing from the name table: ${unknown.mkString(", ")}")

    val problems = (warmProblems.map(p => s"warm-up: $p") ++ runs.flatMap(_.problems)).distinct
    val plainWalls = runs.filter(!_.traced).map(_.wallS)
    println("PERFBENCH " + Seq(
      s""""workload": ${json(o.workload)}""",
      s""""seed": ${o.seed}""",
      s""""trace": ${o.trace}""",
      s""""correct": ${problems.isEmpty && metrics.nonEmpty}""",
      s""""attempted": ${runs.size}""",
      s""""failed": $failed""",
      s""""samples": ${if (o.trace) okTraced.size else okPlain.size}""",
      s""""run_walls_s": ${plainWalls.map(num).mkString("[", ", ", "]")}""",
      s""""setup_parts_s": {"session": ${num(sessionS)}, "staging": ${num(stageS)}, "warmup": ${num(warmS)}}""",
      s""""problems": ${problems.map(json).mkString("[", ", ", "]")}""",
      s""""metrics": ${metrics.map { case (n, v) => s"${json(n)}: ${num(v)}" }.mkString("{", ", ", "}")}"""
    ).mkString("{", ", ", "}"))
    if (metrics.isEmpty) 1 else 0
  }

  /** Runs every content seed of the two pinned workloads once and writes the
    * digests of their outputs to `--pinned`.
    */
  def pin(o: Opts): Int = {
    val spark = session(o.work)
    val lines = for {
      name <- Seq("pages_kg", "kg_analytics")
      cs <- 0 until Workloads(name, spark, 0L, Map.empty).contents
    } yield {
      val w = Workloads(name, spark, cs.toLong, Map.empty)
      val dir = o.work.resolve(s"pin-$name-$cs")
      w.stage(dir.resolve("input"))
      val oc = w.run(dir.resolve("out"))
      cleanup(spark)
      Workloads.deleteTree(dir)
      val sum = oc.summary.map(_.occurs).sum
      require(oc.summary.isEmpty || sum == oc.triples, s"$name/$cs: sum(occurs)=$sum != ${oc.triples}")
      System.err.println(s"[perfbench] pinned $name content seed ${w.content}")
      w.pinnedKeys.map(k => s"${Workloads.pinnedKey(w, k)}\t${oc.digests(k)}")
    }
    val header = "# output digests per workload/content-seed/output, recorded with `run.py --pin`"
    Files.write(o.pinned, (header +: lines.flatten).mkString("", "\n", "\n").getBytes("UTF-8"))
    0
  }
}
