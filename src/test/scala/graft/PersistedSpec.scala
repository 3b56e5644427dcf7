package graft

import graft.functions.{Corpus, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

class PersistedSpec extends SparkSpec {
  import spark.implicits._

  /** A small frame whose plan no other frame here shares. */
  private def frame(tag: Int): DataFrame = spark.range(10).selectExpr("id", s"id + $tag AS v$tag")
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a scope releases frames persisted on its thread and on threads it starts") {
    val before = cacheFootprint
    var theirs: DataFrame = null
    val mine = Persisted.scope {
      val mine = Persisted.persist(frame(1))
      mine.count()
      val t = new Thread(() => { theirs = Persisted.persist(frame(2)); theirs.count(); () })
      t.start()
      t.join()
      assert(cached(mine) && cached(theirs))
      mine
    }
    assert(!cached(mine) && !cached(theirs))
    assert(cacheFootprint == before)
  }

  test("a scope releases its frames when its body throws") {
    val before = cacheFootprint
    var df: DataFrame = null
    intercept[IllegalStateException](Persisted.scope {
      df = Persisted.persist(frame(3))
      df.count()
      throw new IllegalStateException("body failed")
    })
    assert(!cached(df))
    assert(cacheFootprint == before)
  }

  test("a nested scope releases only its own frames") {
    val before = cacheFootprint
    Persisted.scope {
      val outer = Persisted.persist(frame(4))
      val inner = Persisted.scope(Persisted.persist(frame(5)))
      assert(!cached(inner) && cached(outer))
    }
    assert(cacheFootprint == before)
  }

  test("a persist outside any scope is left alone") {
    val df = Persisted.persist(frame(6))
    try {
      Persisted.scope(frame(7).count())
      assert(cached(df))
    } finally df.unpersist()
  }

  // six distinct bodies, each twice: every pair path finds pairs
  private def docs: DataFrame = (1 to 12).map(i =>
    (i.toLong, s"scoped operator document number ${i % 6} with plenty of distinct words ${i % 6}"))
    .toDF("doc_id", "text")

  /** Run `op` and materialise its result inside a scope; the cache must be
    * as it was before. */
  private def leavesCacheAsFound(what: String)(op: => DataFrame): Unit = {
    val before = cacheFootprint
    val rows = Persisted.scope(op.collect())
    assert(rows.nonEmpty, s"$what found nothing, so it proves nothing")
    assert(cacheFootprint == before, s"$what left a cache behind")
  }

  test("pair and term operators run inside a scope leave the cache as they found it") {
    leavesCacheAsFound("jaccardPairs")(Dedup.jaccardPairs(docs, "doc_id", "text", 0.7))
    leavesCacheAsFound("similarityJoin")(
      Dedup.similarityJoin(docs, docs, "doc_id", "text", "doc_id", "text", 0.7))
    leavesCacheAsFound("minhashLshPairs")(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.7))
    leavesCacheAsFound("simhashPairs")(Dedup.simhashPairs(docs, "doc_id", "text"))
    leavesCacheAsFound("tfidfTopTerms")(Corpus.tfidfTopTerms(docs, "doc_id", "text"))
  }

  test("dedupNearIncrementalIndexed inside a scope leaves the cache as it found it, both arms") {
    val index = Dedup.shingleIndex(docs.filter($"doc_id" <= 3), "doc_id", "text")
    val batch = docs.filter($"doc_id" > 3)
    def kept = Dedup.dedupNearIncrementalIndexed(batch, index, "doc_id", "text", 0.7)
    leavesCacheAsFound("dedupNearIncrementalIndexed (fused)")(kept)
    spark.conf.set("spark.graft.dedup.narrowIndexBytes", "0") // forces the narrow arm
    try leavesCacheAsFound("dedupNearIncrementalIndexed (narrow)")(kept)
    finally spark.conf.unset("spark.graft.dedup.narrowIndexBytes")
  }
}
