package graft

import graft.operators.{Components, Dedup, SigIndex, TextOps, TierFour}
import org.apache.spark.sql.functions._

/** The ingest-loop law for [[Dedup.maintain]]: chained maintain calls
  * over (corpus build; batch₁; batch₂) must equal the ONE-SHOT cluster
  * labels over the whole corpus — composing the two layer laws
  * (SigIndex probe ∪ corpus ≡ full pairs; Components.delta ≡ rebuild)
  * through the production wiring, including the absorb step (batch₂'s
  * pairs against batch₁ only exist if the append landed).
  */
class DedupMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sf, "documents").select("doc_id", "text")

  test("maintain ∘ maintain ≡ one-shot cluster labels over the union") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val b1 = docs.filter(col("doc_id") % 10 === 0)
    val b2 = docs.filter(col("doc_id") % 10 === 5)
    // the SigIndexSpec fixture invariant that makes frozen-vocab ranks ==
    // union-vocab ranks (genuinely-new tokens are the documented rebuild case)
    val unseen = TextOps.tokOf(docs).select("token").distinct()
      .join(TextOps.tokOf(corpus).select("token").distinct(),
        Seq("token"), "left_anti")
    assert(unseen.isEmpty, "fixture invariant: corpus covers the vocabulary")
    val name = SigIndex.scratchName(spark, "maintain_spec")
    SigIndex.build(corpus, name)
    val leaf0 = Components.connected(
        corpus.select(col("doc_id").as("id")),
        TierFour.minhashPairs(TextOps.tokOf(corpus))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val labels0 = leaf0.select(col("id").as("doc_id"), col("lbl").as("cluster"))
    val m1 = Dedup.maintain(name, labels0, b1)
    val m1Rows = m1.count()
    val m2 = Dedup.maintain(name, m1, b2)
    // maintain must NOT consume its input: m1 is a checkpointed leaf fed
    // into the second call, and the internal release must spare it
    // (ADVICE r13 — maintain releases only the leaves it created) so the
    // caller can still read it
    assert(m1.count() == m1Rows,
      "the previous round's labels must survive the next maintain")
    val got = m2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullLabels = Components.connected(
      docs.select(col("doc_id").as("id")),
      TierFour.minhashPairs(TextOps.tokOf(docs))
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val full = fullLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == full.keySet, "every doc must carry a label")
    assert(got == full,
      "chained maintain must equal the one-shot recompute exactly")
    // the folds did real work: some batch doc joined a corpus cluster
    assert(b1.collect().map(_.getLong(0)).exists(id => got(id) != id) ||
      b2.collect().map(_.getLong(0)).exists(id => got(id) != id),
      "fixture must attach at least one batch doc to an existing cluster")
    Seq(leaf0, m1, m2, fullLabels)
      .foreach(org.apache.spark.sql.GraftSqlBridge.releaseLeaf)
    spark.catalog.clearCache()
  }
}
