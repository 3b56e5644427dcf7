// scratch: deterministic 10x documents corpus for the dedup-tier scale smoke
// (same statistical shape as /root/testdata documents.parquet: small tech
// vocabulary, ~10-80 words/doc, a seeded fraction of near-duplicates and a
// shared boilerplate line so jaccard/minhash/boilerplate/CC all have work)
package graft.tools

object GenCorpus {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-scale10x")
    val nDocs = args.lift(1).map(_.toInt).getOrElse(50000)
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Heaps-like vocabulary mix (unlike the testdata's fixed 30-word vocab,
    // whose shingle doc-frequencies grow linearly with corpus size — a
    // worst case no real corpus shows): 20% of positions draw from 30
    // common words, 50% from 5000 mid-frequency words, 30% from a
    // per-document rare pool — so posting lists stay bounded as n grows.
    val common = Array("spark", "query", "table", "column", "scan", "sort", "join",
      "agg", "batch", "part", "line", "order", "small", "fast", "value", "vector",
      "hash", "merge", "filter", "group", "index", "cache", "shuffle", "stage",
      "task", "plan", "codegen", "parquet", "stream", "window")
    val boiler = "subscribe to our newsletter for updates"

    // per-partition deterministic RNG keyed by doc id: reproducible under
    // any partitioning, no shared state
    val docs = spark.range(nDocs).as[Long].mapPartitions { it =>
      it.map { id =>
        val rnd = new scala.util.Random(id * 0x9e3779b97f4a7c15L)
        val isDup = id % 10 == 1 && id >= 10 // ~10%: near-dup of id-1's content
        val baseId = if (isDup) id - 1 else id
        val baseRnd = new scala.util.Random(baseId * 0x9e3779b97f4a7c15L)
        val n = 10 + baseRnd.nextInt(71)
        val words = Array.fill(n) {
          baseRnd.nextInt(10) match {
            case k if k < 2 => common(baseRnd.nextInt(common.length))
            case k if k < 7 => s"m${baseRnd.nextInt(5000)}"
            case _ => s"r${baseId}x${baseRnd.nextInt(50)}"
          }
        }
        if (isDup && n > 2) words(rnd.nextInt(n)) = common(rnd.nextInt(common.length))
        val body = words.mkString(" ")
        val text = if (id % 4 == 0) body + "\n" + boiler else body
        val langs = Array("en", "fr", "es", "de", "zh")
        val lang = langs(rnd.nextInt(5))
        (id, text, lang, s"src${id % 10}", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"wrote $nDocs docs -> $outDir/documents.parquet")
    spark.stop()
  }
}
