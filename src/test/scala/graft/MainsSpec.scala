package graft

import org.scalatest.funsuite.AnyFunSuite

/** Command-line parsing of the `graft.Chilon` main (no Spark session). */
class MainsSpec extends AnyFunSuite {

  private def parsed(args: String*) =
    Chilon.parseArgs(args).fold(e => fail(s"rejected: $e"), identity)

  private def rejected(args: String*): String =
    Chilon.parseArgs(args).fold(identity, ok => fail(s"accepted: $ok"))

  test("Chilon accepts --min-occurs N and --min-occurs=N alike") {
    val (spaced, spacedIn) = parsed("--min-occurs", "3", "out", "a.nt", "b.ttl")
    val (joined, joinedIn) = parsed("--min-occurs=3", "out", "a.nt", "b.ttl")
    assert(spaced == joined)
    assert(spaced.minOccurs == 3 && spaced.outDir == "out")
    assert(spacedIn == Seq("a.nt", "b.ttl") && joinedIn == spacedIn)
  }

  test("Chilon flags map to the pipeline config; defaults otherwise") {
    val (cfg, in) = parsed("out", "--ignore-unknown", "a.nt", "--no-infer-ns")
    assert(cfg.ignoreUnknown && !cfg.inferNs && cfg.minOccurs == 10)
    assert(cfg.outDir == "out" && in == Seq("a.nt"))
    val (plain, _) = parsed("out", "a.nt")
    assert(plain == graft.pipeline.Pipeline.Config(outDir = "out"))
  }

  test("Chilon rejects unknown flags, non-integer values and missing inputs with the usage") {
    Seq(
      Seq("--ignore-unkown", "out", "a.nt"),
      Seq("--min-occurs", "ten", "out", "a.nt"),
      Seq("--min-occurs=", "out", "a.nt"),
      Seq("out", "a.nt", "--min-occurs"),
      Seq("out"),
      Seq.empty[String]
    ).foreach { args =>
      val err = rejected(args: _*)
      assert(err.endsWith(Chilon.Usage), s"$args -> $err")
    }
    assert(rejected("--ignore-unkown", "out", "a.nt").startsWith("unknown flag: --ignore-unkown"))
  }
}
