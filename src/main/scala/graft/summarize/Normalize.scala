package graft.summarize

import graft.model.Kind
import graft.ns.Registry
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Triple normalization + namespace summarization — the reference's Stage 3
  * (chilon_rs `src/normalize.rs`), declared as Catalyst expressions over the
  * triple table. The only black box is the broadcast longest-prefix lookup
  * (`resolveNs`, reference `src/trie.rs:257-296`); every other classification is
  * a codegen'd `CASE WHEN` on the kind tags, and the count itself is a plain
  * hash aggregation with map-side partial aggregation (reference `TripleFreq`,
  * `src/normalize.rs:24-59`).
  */
/** Resolved (alias, namespace-prefix) pair of an IRI. */
final case class NsPair(alias: String, ns: String)

object Normalize {

  /** Fixed literal group namespaces (reference `src/normalize.rs:333-345`). */
  val PlainLitGroup: (String, String) = ("xsd", "http://www.w3.org/TR/xmlschema11-2/")
  val LangLitGroup: (String, String) = ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#")

  val Unknown = "UNKNOWN"
  val Blank = "BLANK"

  /** resolveNs(iri) -> struct(alias, ns) or null — the hot scalar function,
    * closing over the broadcast registry trie (SURVEY P4/J3: the idiomatic
    * broadcast map-side form of the prefix join `triples ⋈ namespaces`).
    *
    * UDF variant kept as the reference implementation; the hot path uses the
    * codegen'd [[graft.ns.ResolveNs]] expression (SURVEY §4.3).
    */
  def resolveUdf(bc: Broadcast[Registry]) =
    F.udf { (iri: String) =>
      if (iri == null) None
      else bc.value.resolve(iri).map { case (ns, e) => NsPair(e.alias, ns) }
    }

  /** Codegen'd resolver column (stays inside whole-stage codegen). */
  def resolveCol(iri: Column, registry: Registry): Column =
    graft.ns.ResolveNs.column(iri, registry)

  /** Adds group-key and (alias, ns) pair columns for s/p/o.
    *
    * Output adds: s_ns, p_ns, o_ns (string group keys), is_datatype, and
    * s_pair/p_pair/o_pair struct(alias, ns) columns (null for BLANK/UNKNOWN,
    * fixed groups for literals) feeding the used-groups aggregate.
    */
  def normalize(triples: DataFrame, bc: Broadcast[Registry], ignoreUnknown: Boolean = false): DataFrame = {
    val reg = bc.value
    def resolve(c: Column) = resolveCol(c, reg)
    val sRes = resolve(F.col("s"))
    val pRes = resolve(F.col("p"))
    val oRes = resolve(F.col("o"))
    val dtRes = resolve(F.col("oDt"))

    def pairCol(alias: Column, ns: Column): Column =
      F.struct(alias.as("alias"), ns.as("ns"))

    val withCols = triples
      .withColumn("_sr", sRes)
      .withColumn("_pr", pRes)
      .withColumn(
        "_or",
        F.when(F.col("oKind") === Kind.IRI, oRes)
          .when(F.col("oKind") === Kind.LIT_TYPED, dtRes)
          .otherwise(F.lit(null))
      )
      .withColumn(
        "s_ns",
        F.when(F.col("sKind") === Kind.BLANK, Blank)
          .otherwise(F.coalesce(F.col("_sr.alias"), F.lit(Unknown)))
      )
      .withColumn("p_ns", F.coalesce(F.col("_pr.alias"), F.lit(Unknown)))
      .withColumn(
        "o_ns",
        F.when(F.col("oKind") === Kind.BLANK, Blank)
          .when(F.col("oKind") === Kind.LIT_PLAIN, PlainLitGroup._1)
          .when(F.col("oKind") === Kind.LIT_LANG, LangLitGroup._1)
          .otherwise(F.coalesce(F.col("_or.alias"), F.lit(Unknown)))
      )
      .withColumn(
        "is_datatype",
        F.col("oKind").isin(Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED)
      )
      .withColumn("s_pair", pairCol(F.col("_sr.alias"), F.col("_sr.ns")))
      .withColumn("p_pair", pairCol(F.col("_pr.alias"), F.col("_pr.ns")))
      .withColumn(
        "o_pair",
        F.when(F.col("oKind") === Kind.LIT_PLAIN,
            pairCol(F.lit(PlainLitGroup._1), F.lit(PlainLitGroup._2)))
          .when(F.col("oKind") === Kind.LIT_LANG,
            pairCol(F.lit(LangLitGroup._1), F.lit(LangLitGroup._2)))
          .otherwise(pairCol(F.col("_or.alias"), F.col("_or.ns")))
      )
      .drop("_sr", "_pr", "_or")

    if (ignoreUnknown) {
      // reference --ignore-unknown drops the whole triple when any position is
      // an unresolved IRI (src/normalize.rs:463-469)
      withCols.filter(F.col("s_ns") =!= Unknown && F.col("p_ns") =!= Unknown && F.col("o_ns") =!= Unknown)
    } else withCols
  }

  /** The core summary group-count (reference `TripleFreq::add`,
    * `src/normalize.rs:34-46`): low-cardinality keys, so map-side combine
    * collapses hot-namespace skew before the shuffle.
    */
  def summarize(normalized: DataFrame): DataFrame =
    normalized
      .groupBy("s_ns", "p_ns", "o_ns", "is_datatype")
      .agg(F.count(F.lit(1)).as("occurs"))

  /** Merge summaries by summing per-group counts. Summary counts are
    * ADDITIVE over disjoint triple sets, so with a frozen registry
    * `summarize(A ∪ B) == mergeSummaries(summarize(A), summarize(B))` —
    * the algebra behind incremental Stage-C maintenance
    * ([[graft.pipeline.Pipeline.incrementalSummary]]): a new crawl segment
    * only ever aggregates ITS OWN triples; the merge input is two
    * summary-sized relations (hundreds of rows), never the corpus.
    */
  def mergeSummaries(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy("s_ns", "p_ns", "o_ns", "is_datatype")
      .agg(F.sum("occurs").as("occurs"))

  /** Deterministic reified-statement ids in lexicographic order (reference
    * BTreeMap iteration order + `#t%04d`, `src/normalize.rs:48-59,640-641`).
    *
    * The unpartitioned window (single-partition WindowExec warning) is
    * intentional and safe: its input is the SUMMARY, whose cardinality is the
    * namespace-pair group space — hundreds of rows at any corpus size, never
    * O(corpus).
    */
  def withStatementIds(summary: DataFrame, minOccurs: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("s_ns", "p_ns", "o_ns", "is_datatype")
    summary
      .filter(F.col("occurs") >= minOccurs)
      .withColumn("stmt_id", F.format_string("#t%04d", F.row_number().over(w)))
  }

  /** Fused Stage-C aggregation: summary rows, used (alias, ns) groups and
    * blank/unknown flags (reference `Groups`, `src/normalize.rs:140-151,316-361`)
    * from ONE distributed job (scale path — avoids caching the wide
    * normalized table and re-scanning it three times). The pre-aggregation
    * keys include the (alias, ns) pair structs; their cardinality is the same
    * order as the summary itself (a key determines its pair except for the two
    * fixed literal groups), so map-side combine collapses everything before
    * the shuffle and the driver folds a few hundred rows.
    */
  def summarizeWithGroups(
      triples: DataFrame,
      bc: Broadcast[Registry],
      ignoreUnknown: Boolean = false
  ): (Seq[graft.model.SummaryRow], Seq[(String, String)], Boolean, Boolean) = {
    val norm = normalize(triples, bc, ignoreUnknown)
    val rows = norm
      .groupBy("s_ns", "p_ns", "o_ns", "is_datatype", "s_pair", "p_pair", "o_pair")
      .agg(F.count(F.lit(1)).as("occurs"))
      .collect()
    val summary = scala.collection.mutable.Map.empty[(String, String, String, Boolean), Long]
    val groups = scala.collection.mutable.SortedSet.empty[(String, String)]
    var blank = false
    var unknown = false
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3))
      summary(key) = summary.getOrElse(key, 0L) + r.getLong(7)
      Seq(4, 5, 6).foreach { i =>
        val pair = r.getStruct(i)
        if (pair != null && !pair.isNullAt(0)) groups += ((pair.getString(0), pair.getString(1)))
      }
      if (key._1 == Blank || key._3 == Blank) blank = true
      if (key._1 == Unknown || key._2 == Unknown || key._3 == Unknown) unknown = true
    }
    val summaryRows = summary.toSeq
      .map { case ((s, p, o, dt), n) => graft.model.SummaryRow(s, p, o, dt, n) }
      .sortBy(r => (r.s_ns, r.p_ns, r.o_ns, r.is_datatype))
    (summaryRows, groups.toSeq, blank, unknown)
  }
}
