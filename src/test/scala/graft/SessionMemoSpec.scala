package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session-memo lifecycle: compute-once within a context, and eviction
  * of every entry when the context ends. The ApplicationEnd listener
  * body (SessionMemo.evictApplication) is driven directly — actually
  * stopping the shared test SparkContext would kill every later suite
  * in the JVM; the listener registration itself is exercised by
  * getOrCompute on the live session. */
class SessionMemoSpec extends AnyFunSuite with SparkSpec {

  test("getOrCompute builds once per (context, key) and evicts on application end") {
    val memo = new SessionMemo[String, Long]
    val appId = spark.sparkContext.applicationId
    var builds = 0
    def get(): Long = memo.getOrCompute(spark, "k") { builds += 1; 42L }
    assert(get() === 42L && get() === 42L && builds === 1)
    assert(memo.contains(appId))
    // the listener body: context end drops every entry of that app...
    SessionMemo.evictApplication(appId)
    assert(!memo.contains(appId))
    // ...and a later context with the same id would re-build + re-hook
    assert(get() === 42L && builds === 2)
    SessionMemo.evictApplication(appId)
  }

  test("ListingMemo holds ONE entry per store and replaces it when the listing changes") {
    val memo = new ListingMemo[Long]
    val appId = spark.sparkContext.applicationId
    var builds = 0
    def get(listing: String): Long =
      memo.getOrCompute(spark, "/stores/a", listing) { builds += 1; listing.length.toLong }
    // unchanged listing: cached, zero rebuilds
    assert(get("s0;s1") === 5L && get("s0;s1") === 5L && builds === 1)
    // an append/fold changes the listing: the entry is REPLACED, not
    // accumulated — an indefinitely-mutating store stays at one entry
    assert(get("s0;s1;s2") === 8L && builds === 2)
    assert(get("s0;s1;s2") === 8L && builds === 2)
    // the superseded listing is GONE (replacement, not a side cache):
    // coming back to it recomputes rather than resurrecting stale state
    assert(get("s0;s1") === 5L && builds === 3)
    assert(memo.entryCount(appId) === 1,
      "one store dir must hold exactly one entry across mutations")
    // a second store adds its own single entry
    memo.getOrCompute(spark, "/stores/b", "x") { 1L }
    assert(memo.entryCount(appId) === 2)
    SessionMemo.evictApplication(appId)
    assert(memo.entryCount(appId) === 0)
  }

  test("ListingMemo releases the value a new listing replaces, and only that one") {
    val released = scala.collection.mutable.Buffer.empty[String]
    val memo = new ListingMemo[String]((old, next) => released += s"$old=>$next")
    val appId = spark.sparkContext.applicationId
    def get(listing: String): String =
      memo.getOrReplace(spark, "/stores/r", listing) { prev =>
        s"$listing<-${prev.getOrElse("none")}"
      }
    // the first listing has nothing to replace or release
    assert(get("s0") === "s0<-none" && released.isEmpty)
    // a hit releases nothing; a new listing sees and releases the old
    assert(get("s0") === "s0<-none" && released.isEmpty)
    assert(get("s0;s1") === "s0;s1<-s0<-none")
    assert(released.toSeq === Seq("s0<-none=>s0;s1<-s0<-none"))
    assert(memo.entryCount(appId) === 1)
    assert(memo.current(appId, "/stores/r") === Some("s0;s1<-s0<-none"))
    SessionMemo.evictApplication(appId)
  }

  test("the fitted-index and bloom memos are hooked to application end") {
    val appId = spark.sparkContext.applicationId
    // populate both module memos through their public routes
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding")
    graft.search.AnnIndex.sessionBrp(spark, sf001, e, numTables = 2)
    graft.queries.CurationQueries.queries("q65_bloom_decontam")(spark, sf001).count()
    assert(graft.search.AnnIndex.sessionIndexes.contains(appId))
    assert(graft.queries.CurationQueries.sessionBloom.contains(appId))
    SessionMemo.evictApplication(appId)
    assert(!graft.search.AnnIndex.sessionIndexes.contains(appId))
    assert(!graft.queries.CurationQueries.sessionBloom.contains(appId))
  }
}
