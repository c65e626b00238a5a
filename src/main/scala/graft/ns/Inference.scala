package graft.ns

import org.apache.spark.sql.{DataFrame, functions => F}
import scala.collection.mutable

/** Namespace inference — the algorithmic heart of the reference
  * (chilon_rs `src/iri_trie.rs`, `src/seg_tree.rs`), re-expressed as a shuffled
  * Spark aggregation plus a driver-side expansion over the tiny thresholded result.
  *
  * The reference builds an in-memory char-trie of every unresolved IRI
  * (`IriTrie`), re-segments it at '/'/'#' boundaries into a `SegTree`
  * (`src/seg_tree.rs:16-64`), and expands a candidate heap
  * (`infer_namespaces_aux`, `src/seg_tree.rs:104-155`). Only segment-boundary
  * prefixes are ever read from the trie, so the distributed equivalent is:
  * explode each IRI into its host-gated segment prefixes, `groupBy(prefix).count`,
  * collect the >= MIN_NS_SIZE survivors, and run the same expansion loop on the
  * driver. This computes the order-independent fixed point over global counts
  * (the reference's result depends on arrival order via mid-stream maintenance,
  * `src/prefixes.rs:209-247`; the P/R gate tolerates the difference and ours is
  * strictly deterministic).
  */
object Inference {

  /** Reference thresholds (`src/seg_tree.rs:69-70,105`). */
  val MinNsSize = 1000L
  val MinDomainOccurs = 100L
  val MaxNs = 5

  /** Safety bound on the driver collect (zipfian corpora keep the >=MIN_NS_SIZE
    * set tiny; this guards degenerate inputs at web scale).
    */
  val MaxCollected = 100000

  /** Host-gated segment prefixes of an IRI (the SegTree node path,
    * `src/seg_tree.rs:34-63`): every prefix ending at a '/' or '#' boundary, where
    * the first emitted boundary must parse as a URL with a host (earlier
    * boundaries keep accumulating into the first segment); plus the full IRI as
    * leaf segment when it extends past the last boundary. An IRI with no
    * host-gated boundary yields itself as its only (top-level) segment.
    */
  def segPrefixes(iri: String): Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    val n = iri.length
    // host gate without java.net.URI (the hot path runs per IRI occurrence):
    // the first emitted boundary must close a non-empty authority after "://"
    val authStart = {
      val idx = iri.indexOf("://")
      def schemeOk = idx > 0 && iri.charAt(0).isLetter && (1 until idx).forall { j =>
        val c = iri.charAt(j)
        c.isLetterOrDigit || c == '+' || c == '-' || c == '.'
      }
      if (schemeOk) idx + 3 else -1
    }
    var i = if (authStart > 0) authStart else 0
    var hostFound = false
    var decided = authStart < 0 // no scheme://: never host-gated
    while (i < n) {
      val c = iri.charAt(i)
      if (c == '/' || c == '#') {
        if (hostFound) out += iri.substring(0, i + 1)
        else if (!decided) {
          // the first boundary after "://" closes the authority; a non-empty
          // authority is the host gate (java.net.URI agrees on these shapes
          // but costs ~1us per parse — far too hot for per-IRI use)
          decided = true
          if (i > authStart) { hostFound = true; out += iri.substring(0, i + 1) }
        }
      }
      i += 1
    }
    // an IRI like "scheme://host" with no boundary after the authority still
    // has a host but no segment boundary; it falls through to the leaf case
    if (out.isEmpty || out.last.length < n) out += iri
    out.toArray
  }

  /** Segment depth (1 = domain level) and parent prefix of a segment prefix. */
  private def segPath(prefix: String): Array[String] = segPrefixes(prefix)

  final case class PrefixCount(prefix: String, depth: Int, count: Long)

  /** (pos, prefix) explosion through the native [[SegPrefixesGen]] generator
    * (byte-walking, allocation-light); `posexplode(udf)` kept as the
    * cross-checked reference path (parity property test in InferenceSpec).
    */
  def segExplode(iris: DataFrame, useGenerator: Boolean = true): DataFrame =
    if (useGenerator)
      iris.select(org.apache.spark.sql.graftshim.ColumnShim
        .column(SegPrefixesGen(org.apache.spark.sql.graftshim.ColumnShim
          .expression(F.col("iri"))))
        .as(Seq("pos", "prefix")))
    else {
      val segUdf = F.udf((iri: String) => segPrefixes(iri))
      iris.select(F.posexplode(segUdf(F.col("iri"))).as(Seq("pos", "prefix")))
    }

  /** Distributed hierarchical prefix counting (replaces IriTrie build, SURVEY A2).
    *
    * @param iris DataFrame with a string column `iri`, one row per occurrence.
    * @param salt >0 adds a two-phase salted aggregation for skewed prefixes
    *             (hot dbpedia/schema.org-style domains); partial aggregation
    *             already absorbs most of it, and the pipeline runs unsalted.
    * @return DataFrame(prefix, depth, count) — one row per distinct segment prefix.
    */
  def prefixCounts(iris: DataFrame, salt: Int = 0): DataFrame = {
    val exploded = segExplode(iris)
      .select(F.col("prefix"), (F.col("pos") + 1).as("depth"))
    if (salt > 0) {
      exploded
        .withColumn("s", F.pmod(F.spark_partition_id() + F.crc32(F.col("prefix")), F.lit(salt)))
        .groupBy("prefix", "s")
        .agg(F.min("depth").as("depth"), F.count(F.lit(1)).as("c"))
        .groupBy("prefix")
        .agg(F.min("depth").as("depth"), F.sum("c").as("count"))
    } else {
      exploded.groupBy("prefix").agg(F.min("depth").as("depth"), F.count(F.lit(1)).as("count"))
    }
  }

  /** Full IriTrie-equivalent statistics per segment prefix (reference
    * `NodeStats {own, desc, uniq_desc}`, `src/iri_trie.rs:21-26`):
    *   - own: occurrences of exactly this IRI,
    *   - desc: occurrences of strict descendants,
    *   - uniq_desc: distinct strict-descendant IRIs — exact
    *     `count_distinct` by default; HLL (`approx_count_distinct`) for
    *     web-scale corpora where the 100/1000 thresholds tolerate sketch error
    *     (SURVEY A2).
    *
    * Note: the aggregation key is the prefix, so `desc`/`uniq_desc` here count
    * all descendants *including* the exact-match IRI; the trie's strict
    * variants are recovered as `desc - own` / distinct-minus-self, which is
    * what [[prefixStats]] returns.
    */
  def prefixStats(iris: DataFrame, approxUnique: Boolean = false): DataFrame = {
    val exploded = iris
      .select(F.col("iri"), org.apache.spark.sql.graftshim.ColumnShim
        .column(SegPrefixesGen(org.apache.spark.sql.graftshim.ColumnShim
          .expression(F.col("iri"))))
        .as(Seq("pos", "prefix")))
      .select(F.col("prefix"), (F.col("pos") + 1).as("depth"), F.col("iri"))
    val uniq =
      if (approxUnique) F.approx_count_distinct(F.when(F.col("iri") =!= F.col("prefix"), F.col("iri")))
      else F.count_distinct(F.when(F.col("iri") =!= F.col("prefix"), F.col("iri")))
    exploded
      .groupBy("prefix")
      .agg(
        F.min("depth").as("depth"),
        F.sum(F.when(F.col("iri") === F.col("prefix"), 1L).otherwise(0L)).as("own"),
        F.sum(F.when(F.col("iri") =!= F.col("prefix"), 1L).otherwise(0L)).as("desc"),
        uniq.as("uniq_desc"))
  }

  /** Candidate expansion over the thresholded aggregate (reference
    * `infer_namespaces` + `infer_namespaces_aux`, `src/seg_tree.rs:66-155`).
    *
    * Candidates start as domain-level prefixes with count >= minNsSize. While
    * fewer than [[MaxNs]] expansions have happened, the smallest candidate whose
    * suitable (>= minNsSize) children all fit in the MaxNs budget is replaced by
    * those children.
    *
    * Intentional divergences from the reference, tolerated by the P/R gate:
    *   - the reference's comparator (`src/seg_tree.rs:178-194`) compares
    *     `children` against `size` (an evident bug) and treats equal
    *     (size, children) candidates as duplicates (BTreeSet semantics); we order
    *     totally by (size, suitableChildCount, namespace);
    *   - `children.len()` counts all children in the reference; we only know the
    *     suitable ones post-threshold (affects ordering only on exact size ties).
    *
    * @param counts collected prefix counts: must include every prefix with
    *               count >= minNsSize (any depth); rows below threshold are ignored
    *               except depth-1 rows, which feed the garbage list.
    * @return (inferred namespaces as (ns, size, Inference), garbage-collected
    *         domain prefixes i.e. depth-1 with count < minDomainOccurs)
    */
  def inferNamespaces(
      counts: Seq[PrefixCount],
      minNsSize: Long = MinNsSize,
      minDomainOccurs: Long = MinDomainOccurs
  ): (Seq[(String, Long, NsSource)], Seq[String]) = {
    val garbage = counts.filter(c => c.depth == 1 && c.count < minDomainOccurs).map(_.prefix)

    val suitable = counts.filter(_.count >= minNsSize)
    // children keyed by parent prefix (parent = one segment up)
    val childrenOf = mutable.Map.empty[String, mutable.ArrayBuffer[PrefixCount]]
    suitable.foreach { pc =>
      if (pc.depth > 1) {
        val path = segPath(pc.prefix)
        if (path.length >= 2) {
          val parent = path(path.length - 2)
          childrenOf.getOrElseUpdate(parent, mutable.ArrayBuffer()) += pc
        }
      }
    }

    final case class Cand(prefix: String, size: Long) {
      def suitableChildren: Seq[PrefixCount] =
        childrenOf.getOrElse(prefix, mutable.ArrayBuffer()).toSeq
    }
    implicit val ord: Ordering[Cand] =
      Ordering.by(c => (c.size, c.suitableChildren.size, c.prefix))

    val h = mutable.SortedSet.empty[Cand]
    suitable.filter(_.depth == 1).foreach(pc => h += Cand(pc.prefix, pc.count))

    var expanded = 0
    var added = true
    while (added && expanded < MaxNs) {
      added = false
      // smallest candidate whose suitable children fit in the budget
      h.iterator
        .find { c =>
          val sc = c.suitableChildren
          sc.nonEmpty && sc.size + h.size <= MaxNs
        }
        .foreach { parent =>
          h -= parent
          expanded -= 1
          parent.suitableChildren.foreach { child =>
            expanded += 1
            added = true
            h += Cand(child.prefix, child.count)
          }
        }
    }

    (h.toSeq.map(c => (c.prefix, c.size, NsSource.Inference: NsSource)), garbage)
  }

  /** O6 diagnostic (reference logs example unresolved IRIs,
    * `src/iri_trie.rs:232-236`): a bounded sample of the still-unresolved set,
    * recorded into tasks.json so an operator can see WHAT is not resolving.
    */
  def sampleUnresolved(iris: DataFrame, n: Int = 10): Seq[String] =
    iris.limit(n).collect().map(_.getString(0)).toSeq

  /** Full distributed inference round: count, threshold, collect, expand.
    * Returns the inferred namespaces and the collected above-threshold
    * candidate prefixes, enabling the caller's FIXED-POINT EARLY EXIT (see
    * [[roundsExhausted]]): when every candidate resolves against the updated
    * registry, the next round cannot add anything — skipping it saves a full
    * explode+aggregate pass over the triple table per converged pipeline run.
    */
  def inferFromIrisWithCandidates(
      iris: DataFrame,
      minNsSize: Long = MinNsSize,
      minDomainOccurs: Long = MinDomainOccurs,
      maxCollected: Int = MaxCollected
  ): (Seq[(String, Long, NsSource)], Seq[PrefixCount]) = {
    // collect only what expansion can ever read: prefixes at/above the
    // candidate threshold
    val rows = prefixCounts(iris)
      .filter(F.col("count") >= minNsSize)
      .orderBy(F.col("count").desc, F.col("prefix"))
      .limit(maxCollected)
      .collect()
      .map(r => PrefixCount(r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    val (inferred, _) = inferNamespaces(rows, minNsSize, minDomainOccurs)
    (inferred, rows)
  }

  /** Sound fixed-point test for the inference round loop. A prefix can only
    * be a NEXT-round candidate if it was an above-threshold candidate THIS
    * round (the unresolved set shrinks monotonically, so per-prefix counts
    * only decrease). A candidate is dead for the next round when either
    *
    *   - its prefix string resolves against the updated registry (a
    *     registered namespace that prefixes the candidate prefixes every IRI
    *     under it — all its occurrences leave the unresolved set), or
    *   - its EXACT next-round count drops below the threshold: the namespaces
    *     added this round are prefix-free (subsumption in `withNamespaces`),
    *     so the occurrences leaving the unresolved set under candidate P are
    *     exactly the sizes of added namespaces that extend P.
    *
    * When the candidate collection was not truncated and every candidate is
    * dead, the next round provably adds nothing — skip the whole
    * explode+aggregate pass.
    */
  def roundsExhausted(
      candidates: Seq[PrefixCount],
      added: Seq[(String, Long)],
      registry: Registry,
      minNsSize: Long,
      maxCollected: Int = MaxCollected
  ): Boolean =
    candidates.size < maxCollected && candidates.forall { c =>
      registry.resolve(c.prefix).isDefined || {
        val resolvedUnder = added.collect {
          case (ns, size) if ns.startsWith(c.prefix) => size
        }.sum
        c.count - resolvedUnder < minNsSize
      }
    }
}
