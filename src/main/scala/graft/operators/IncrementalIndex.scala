package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance for the persisted-index incremental-dedup family
  * (text [[TextDedup.minHashBandIndex]], embeddings
  * `Similarity.srpBucketIndex`, images [[Multimodal.pHashChunkIndex]],
  * audio [[Multimodal.AudioCode]] index) — closing the steady-state
  * loop the screen-only contract leaves open: without an append, the
  * index's staleness window grows with every ingest batch, and a
  * near-dup of an ACCEPTED probe sails through the next screen.
  *
  * The loop becomes: screen batch → keep the accepted probes → build
  * index rows for exactly those docs with the SAME builder that made
  * the corpus index → [[IncrementalIndex.append]] them. The builders
  * are deterministic row generators, so an incrementally-appended
  * index is row-identical to a from-scratch rebuild over the same doc
  * set (the append spec asserts set equality, which is what makes
  * increment-order irrelevant).
  */
object IncrementalIndex {

  /** Union `addition`'s rows into `index` with LAST-WRITE-WINS per
    * document: any existing rows for a doc_id present in `addition`
    * are dropped first, so re-indexing an updated document replaces
    * its entry set instead of leaving stale buckets behind (stale rows
    * are not harmless — they keep matching probes against content the
    * corpus no longer has).
    *
    * Scale shape: `addition` is batch-sized (one ingest batch's
    * accepted probes, or one update set), so the anti-join broadcasts
    * the addition's doc_ids and the full index STREAMS — no index
    * shuffle, no index rewrite beyond the scan a compaction pass does
    * anyway. On a real deployment this runs as the compaction step of
    * an append-only table (the ReplacingMergeTree pattern
    * `pipeline.SinkTable` implements): hot appends land as new files,
    * and this fold resolves doc_id precedence when rewriting. For the
    * common append-only ingest (every doc_id new), the anti-join
    * removes nothing and the operation degenerates to a pure union. */
  def append(index: DataFrame, addition: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    index.join(broadcast(addition.select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
      .unionByName(addition.select(index.columns.map(col): _*))
}
