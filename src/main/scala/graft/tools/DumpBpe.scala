package graft.tools

/** Dumps the BPE merge table trained on the gate corpus (sf0.01
  * documents) as the DuckDB MAP literal the q_bpe_count oracle embeds —
  * the same embed-the-model-at-gate-scale pattern as DumpSimhash. */
object DumpBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val numMerges = if (args.length > 1) args(1).toInt else 60
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.functions.Bpe.train(docs, "text", numMerges, 10000)
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val keys = merges.map { case (l, r) => s"${lit(l)} || chr(31) || ${lit(r)}" }
    val ranks = merges.indices
    println("-- merges (rank: l + r):")
    merges.zipWithIndex.foreach { case ((l, r), i) => println(s"--   $i: [$l]+[$r]") }
    println("MAP literal:")
    println(s"MAP([${keys.mkString(", ")}],\n    [${ranks.mkString(", ")}])")
    spark.stop()
  }
}
