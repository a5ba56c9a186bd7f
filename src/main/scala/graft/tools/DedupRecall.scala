package graft.tools

/** Measured acceptance evidence for the MinHash+LSH near-dup miner:
  * emit the verified pair set at several thresholds so
  * tools/dedup_recall.py can score RECALL against the exact
  * trigram-Jaccard ground truth (DuckDB). Precision is 1 by
  * construction — every banded candidate is verified with exact
  * Jaccard from the stored shingle sets before it is emitted — so the
  * only quality question is banding recall (b=16, r=2 over 32
  * hashes: analytically 1-(1-t²)^16), and this measures it instead of
  * arguing it. `runMain graft.tools.DedupRecall <sfDir> [t1,t2,...]`
  * prints one JSON line per threshold: {"t":0.6,"pairs":[[a,b],...]}.
  */
object DedupRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val ts = if (args.length > 1) args(1).split(",").map(_.toDouble).toSeq
             else Seq(0.5, 0.6, 0.7, 0.8)
    val spark = graft.LocalSession.local()
    val docs = graft.Tables.load(spark, sfDir, "documents")
    for (t <- ts) {
      val pairs = graft.operators.TextDedup.minhashLshPairs(docs, t)
        .select("doc_a", "doc_b")
        .collect().map(r => s"[${r.getLong(0)},${r.getLong(1)}]")
      println(s"""{"t":$t,"pairs":[${pairs.mkString(",")}]}""")
    }
    spark.stop()
  }
}
