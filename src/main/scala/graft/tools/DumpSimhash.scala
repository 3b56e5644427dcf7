// scratch: dump the per-document simhash signatures for the q_dedup_simhash
// oracle SQL (deterministic FNV+splitmix kernel — DuckDB cannot recompute
// them, so the oracle seeds from these exact production values and verifies
// the banding + hamming join independently)
package graft.tools

object DumpSimhash {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = graft.functions.Dedup.simhashSignatures(docs, "doc_id", "text")
      .orderBy("id").collect()
    // one VALUES tuple per line, ready to paste into the DuckDB CTE
    println(sigs.map(r => s"(${r.getLong(0)},${r.getLong(1)})").mkString(",\n"))
    spark.stop()
  }
}
