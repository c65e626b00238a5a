package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded RDF corpus for the `rdf_summary` workload: N-Triples files plus
  * Turtle files with `@prefix` declarations, written line by line (not through
  * the library's writers, so a writer bug cannot hide a parser bug).
  *
  * Shape, chosen so every stage of the summarizer has work:
  *   - IRIs under community namespaces (rdf, rdfs, xsd, foaf, schema, dbr, dbo,
  *     wd, owl, dcterms, skos) and under two file-declared namespaces (bv, bd);
  *   - one hot domain (`hot.bench-kg.org`) holding the bulk of the entity IRIs;
  *   - planted namespaces at depths 1-3 with exact occurrence counts on both
  *     sides of the inference threshold (1000): `alpha/a/` and `alpha/b/` are
  *     inferred in round 1, and the remaining 1150 occurrences under `alpha/`
  *     (`c/` 600 + `d/` 550) only become a namespace in round 2; `beta/x/y/`
  *     is a depth-3 namespace; eight `tiny*` domains stay below the threshold;
  *   - blank nodes, plain, language-tagged and typed literals;
  *   - ~1% of subjects are IRIs longer than 200 graphemes (with combining marks), which the
  *     pipeline truncates.
  *
  * While writing, the generator tallies the summary counts it can know in
  * advance: per position (s, p, o), the occurrences of every community or
  * declared alias, of BLANK, and of the literal groups.
  */
object RdfGen {

  final case class Corpus(
      files: Seq[String], triples: Long, bytes: Long, expected: Map[String, Long])

  // Turtle files parse one task per file, so they are many and small
  val NtFiles = 4
  val TtlFiles = 4

  private val Ns = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "skos" -> "http://www.w3.org/2004/02/skos/core#",
    "dcterms" -> "http://purl.org/dc/terms/",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "schema" -> "https://schema.org/",
    "dbr" -> "http://dbpedia.org/resource/",
    "dbo" -> "http://dbpedia.org/ontology/",
    "wd" -> "http://www.wikidata.org/entity/",
    "bv" -> "http://vocab.bench-decl.org/terms/",
    "bd" -> "http://data.bench-decl.org/item/")

  /** The community namespaces used, with the alias the registry must give them. */
  def CommunityAliases: Seq[(String, String)] =
    Ns.toSeq.filterNot { case (a, _) => a == "bv" || a == "bd" }.sorted

  /** Declared in every Turtle file; all but bv and bd are already community
    * namespaces, so only those two enter the registry from the files.
    */
  val Declared: Seq[String] = Ns.keys.toSeq.sorted

  val HotNs = "http://hot.bench-kg.org/resource/"
  /** Planted namespaces with their exact subject occurrence counts. */
  val Planted: Seq[(String, Int)] = Seq(
    "http://alpha.bench-kg.org/a/" -> 3000,
    "http://alpha.bench-kg.org/b/" -> 1600,
    "http://alpha.bench-kg.org/c/" -> 600,
    "http://alpha.bench-kg.org/d/" -> 550,
    "http://beta.bench-kg.org/x/y/" -> 2500) ++
    (0 until 8).map(i => s"http://tiny$i.bench-kg.net/t/" -> (150 + 110 * i))

  private val Langs = Array("en", "pt", "de", "fr")
  private val Words = Array("river", "stone", "north", "garden", "signal", "amber",
    "delta", "harbor", "violet", "cedar", "lumen", "orbit", "quartz", "meadow")

  /** One generated term: its N-Triples form, its Turtle form, and the summary
    * key it must count under (None when the key depends on inference).
    */
  private final case class Term(nt: String, ttl: String, key: Option[String])

  private def iri(alias: String, local: String): Term =
    Term(s"<${Ns(alias)}$local>", s"$alias:$local", Some(alias))
  private def raw(full: String, key: Option[String]): Term = Term(s"<$full>", s"<$full>", key)

  def write(dir: Path, seed: Long, nTriples: Int, planted: Seq[(String, Int)] = Planted): Corpus = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val expected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ntPaths = (0 until NtFiles).map(i => dir.resolve(f"part-$i%02d.nt"))
    val ttlPaths = (0 until TtlFiles).map(i => dir.resolve(f"decl-$i%02d.ttl"))
    def open(p: Path) = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      StandardCharsets.UTF_8), 1 << 16)
    val nt = ntPaths.map(open)
    val ttl = ttlPaths.map(open)
    nt.foreach(_.write(s"# rdf_summary corpus, seed $seed\n"))
    ttl.foreach { w =>
      Declared.foreach(a => w.write(s"@prefix $a: <${Ns(a)}> .\n"))
      w.write("\n")
    }
    var count = 0L

    def word(): String = Words(rnd.nextInt(Words.length))
    def hot(): Term = raw(s"${HotNs}E${rnd.nextInt(60000)}", None)
    def blank(): Term = { val b = s"_:b${rnd.nextInt(20000)}"; Term(b, b, Some("BLANK")) }
    def longIri(): Term = {
      // 150 base letters each carrying a combining acute accent (2 chars, 1
      // grapheme) plus a 60-letter tail: 210+ graphemes
      val sb = new StringBuilder("Long_")
      (0 until 150).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar).append('\u0301'))
      (0 until 60).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      raw(Ns("dbr") + sb.toString, Some("dbr"))
    }
    def plain(): Term = { val l = s"\"${word()} ${word()}\""; Term(l, l, Some("xsd")) }
    def lang(): Term = {
      val l = s"\"${word()} ${rnd.nextInt(1000)}\"@${Langs(rnd.nextInt(Langs.length))}"
      Term(l, l, Some("rdf"))
    }
    def typed(): Term = rnd.nextInt(3) match {
      case 0 => val v = rnd.nextInt(100000); Term(s"\"$v\"^^<${Ns("xsd")}integer>", s"\"$v\"^^xsd:integer", Some("xsd"))
      case 1 => val v = "%.3f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 100); Term(s"\"$v\"^^<${Ns("xsd")}double>", s"\"$v\"^^xsd:double", Some("xsd"))
      case _ => val v = rnd.nextInt(10); Term(s"\"$v\"^^<${Ns("bv")}Score>", s"\"$v\"^^bv:Score", Some("bv"))
    }

    def subject(): Term = rnd.nextInt(100) match {
      case r if r < 45 => hot()
      case r if r < 60 => iri("dbr", s"R${rnd.nextInt(30000)}")
      case r if r < 70 => blank()
      case r if r < 80 => iri("bd", s"item${rnd.nextInt(20000)}")
      case r if r < 88 => iri("wd", s"Q${rnd.nextInt(90000)}")
      case r if r < 89 => longIri()
      case _ => iri("schema", s"Thing${rnd.nextInt(500)}")
    }
    def predObj(): (Term, Term) = rnd.nextInt(12) match {
      case 0 => (iri("rdf", "type"), rnd.nextInt(4) match {
        case 0 => iri("dbo", "Person"); case 1 => iri("schema", "Place")
        case 2 => iri("foaf", "Agent"); case _ => iri("bv", "Item")
      })
      case 1 => (iri("rdfs", "label"), lang())
      case 2 => (iri("skos", "prefLabel"), lang())
      case 3 => (iri("foaf", "name"), plain())
      case 4 => (iri("foaf", "knows"), if (rnd.nextBoolean()) blank() else hot())
      case 5 => (iri("schema", "about"), if (rnd.nextBoolean()) hot() else iri("dbr", s"R${rnd.nextInt(30000)}"))
      case 6 => (iri("dcterms", "subject"), iri("dbr", s"Category_${word()}"))
      case 7 => (iri("bv", "score"), typed())
      case 8 => (iri("bv", "relatedTo"), if (rnd.nextInt(50) == 0) longIri() else iri("bd", s"item${rnd.nextInt(20000)}"))
      case 9 => (iri("owl", "sameAs"), iri("wd", s"Q${rnd.nextInt(90000)}"))
      case 10 => (iri("dbo", "birthPlace"), iri("dbr", s"R${rnd.nextInt(30000)}"))
      case _ => (iri("dcterms", "created"), typed())
    }

    def tally(s: Term, p: Term, o: Term): Unit = {
      s.key.foreach(k => expected(s"s:$k") += 1)
      p.key.foreach(k => expected(s"p:$k") += 1)
      o.key.foreach(k => expected(s"o:$k") += 1)
      count += 1
    }
    def emitNt(w: BufferedWriter, s: Term, p: Term, o: Term): Unit = {
      w.write(s.nt); w.write(' '); w.write(p.nt); w.write(' '); w.write(o.nt); w.write(" .\n")
      tally(s, p, o)
    }

    val plantedNs = planted.flatMap { case (ns, n) => Iterator.fill(n)(ns) }.toArray
    var nextPlanted = 0
    val nGeneric = nTriples - plantedNs.length
    var i = 0
    while (i < nGeneric) {
      // planted subjects are spread evenly through the generic stream
      while (nextPlanted < plantedNs.length &&
          nextPlanted.toLong * nGeneric <= i.toLong * plantedNs.length) {
        val s = raw(s"${plantedNs(nextPlanted)}n${rnd.nextInt(400)}", None)
        emitNt(nt(rnd.nextInt(NtFiles)), s, iri("rdfs", "label"), plain())
        nextPlanted += 1
      }
      val s = subject()
      if (rnd.nextInt(5) == 0) {
        // Turtle: sometimes two predicate-object pairs after one subject
        val w = ttl(rnd.nextInt(TtlFiles))
        val (p1, o1) = predObj()
        w.write(s.ttl); w.write(' '); w.write(p1.ttl); w.write(' '); w.write(o1.ttl)
        tally(s, p1, o1)
        i += 1
        if (rnd.nextInt(3) == 0 && i < nGeneric) {
          val (p2, o2) = predObj()
          w.write(" ;\n    "); w.write(p2.ttl); w.write(' '); w.write(o2.ttl)
          tally(s, p2, o2)
          i += 1
        }
        w.write(" .\n")
      } else {
        val (p, o) = predObj()
        emitNt(nt(rnd.nextInt(NtFiles)), s, p, o)
        i += 1
      }
    }
    while (nextPlanted < plantedNs.length) {
      val s = raw(s"${plantedNs(nextPlanted)}n${rnd.nextInt(400)}", None)
      emitNt(nt(rnd.nextInt(NtFiles)), s, iri("rdfs", "label"), plain())
      nextPlanted += 1
    }
    (nt ++ ttl).foreach(_.close())
    val files = (ntPaths ++ ttlPaths).map(_.toString)
    val bytes = (ntPaths ++ ttlPaths).map(Files.size).sum
    Corpus(files, count, bytes, expected.toMap)
  }

  /** Per-position counts of a summary, keyed like [[Corpus.expected]]. */
  def observed(rows: Seq[graft.model.SummaryRow]): Map[String, Long] = {
    val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    rows.foreach { r =>
      m(s"s:${r.s_ns}") += r.occurs
      m(s"p:${r.p_ns}") += r.occurs
      m(s"o:${r.o_ns}") += r.occurs
    }
    m.toMap
  }

  /** Mismatches between the generator's expected counts and a summary. */
  def mismatches(c: Corpus, rows: Seq[graft.model.SummaryRow]): Seq[String] = {
    val obs = observed(rows)
    val total = rows.map(_.occurs).sum
    (if (total != c.triples) Seq(s"sum(occurs)=$total, generated ${c.triples}") else Nil) ++
      c.expected.toSeq.sorted.collect {
        case (k, n) if obs.getOrElse(k, 0L) != n => s"$k: observed ${obs.getOrElse(k, 0L)}, expected $n"
      }
  }
}
