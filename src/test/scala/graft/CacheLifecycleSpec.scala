package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.AdaptiveCache.CensusPersist
import graft.CacheLifecycle.FreshPersist
import graft.operators.Dedup

/** The plain dedup entry points must not leak their persisted
  * intermediates into a long-lived session: after the returned plan
  * executes once, the caches are released (asynchronously, via a
  * one-shot QueryExecutionListener). The *WithCaches variants leave
  * lifetime to the caller. Each invocation owns its cache entries, so
  * one invocation's release never drops another's, on one thread or
  * two.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cachedRddIds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def persistentRddIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def inMemoryRelations(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.size

  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !cond) Thread.sleep(100)
    cond
  }

  test("plain lshCandidatePairs releases its signature cache after first use") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(50)
    val before = cachedRddIds()
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
    pairs.count() // first consuming execution
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "signature cache entry still present after the pair plan executed")
  }

  test("plain ngramJaccardPairs releases all three intermediates after first use") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(50)
    val before = cachedRddIds()
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    pairs.count()
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "posting-list/prefix caches still present after the pair plan executed")
  }

  test("bloom decontamination's eager sketch jobs do not release the benchmark cache early") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf).limit(80)
    val before = cachedRddIds()
    val out = graft.operators.Decontamination.contaminationReportBloom(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5)
    // the sketch build already ran jobs over the cached benchmark set;
    // their async listener events must NOT release it (the release is
    // keyed on the returned plan, which hasn't executed yet)
    Thread.sleep(1500)
    assert((cachedRddIds() -- before).nonEmpty,
      "benchmark shingle cache must stay pinned until the report executes")
    out.count()
    assert(eventually() { cachedRddIds().subsetOf(before) },
      "benchmark shingle cache still present after the report executed")
  }

  test("WithCaches variant leaves the cache to the caller") {
    // distinct parameterization from the plain-call tests above, so an
    // unconsumed listener from those can never match this plan
    val docs = Tables.documents(spark, TestSpark.sf).limit(60)
    val (pairs, sigs) =
      Dedup.lshCandidatePairsWithSignatures(docs, "doc_id", "text", numHashes = 32, bands = 8)
    pairs.count()
    assert(sigs.storageLevel != StorageLevel.NONE,
      "caller-managed signature cache must survive execution")
    sigs.unpersist(blocking = true)
  }

  test("lshNearDupPairs band-count prefilter is lossless vs full candidate scoring") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val full = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16)
      .filter(org.apache.spark.sql.functions.col("est_jaccard") >= 0.8)
    val pruned = Dedup.lshNearDupPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.8)
    assert(pruned.exceptAll(full).count() == 0 && full.exceptAll(pruned).count() == 0,
      "prefiltered result must equal the fully-scored thresholded result")
    assert(Dedup.minAgreeingBands(64, 16, 0.8) == 4)
    assert(Dedup.minAgreeingBands(64, 8, 0.8) == 1)   // floor degenerates, stays sound
    assert(Dedup.minAgreeingBands(64, 32, 0.9) == 26) // ⌈.9·64⌉=58 → 6 breakable
  }

  test("hot-bucket salting preserves the exact pair set") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, TestSpark.sf).limit(300)
    val (_, sigs) = Dedup.lshCandidatePairsWithSignatures(
      docs, "doc_id", "text", numHashes = 64, bands = 16)
    val banded = Dedup.bandedDebug(sigs, 64, 16, portable = false)
    def pairsAt(hotMin: Long) = Dedup.collisionPairsWithFeatures(
        banded, banded, Seq("band", "bucket"), ordered = true,
        featsA = sigs, featsB = sigs, minCollisions = 4,
        hotBucketMin = hotMin)
      .select(col("id_a"), col("id_b"))
    val plain = pairsAt(Long.MaxValue)  // nothing salted
    val salted = pairsAt(1L)            // every bucket salted
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salted within-bucket enumeration must emit the identical pair set")
    assert(plain.count() > 0, "prefilter sanity: some candidates survive")
    sigs.unpersist(blocking = true)
  }

  test("a fresh invocation caches apart from a pending claim on the same plan") {
    // the r20 q223 failure shape: invocation N's release event lags on
    // the async listener bus (here: its trigger has not executed yet)
    // while invocation N+1 persists the same plan. Each invocation owns
    // its entry, so N's late release cannot drop N+1's cache.
    def mk() = spark.range(500).selectExpr("id % 7 as k")
      .groupBy("k").count()
    val a = mk().persistFresh()
    val triggerA = a.selectExpr("sum(count) as s")
    CacheLifecycle.releaseWhenExecuted(triggerA, Seq(a))
    val b = mk().persistFresh()
    val triggerB = b.selectExpr("sum(count) as s")
    CacheLifecycle.releaseWhenExecuted(triggerB, Seq(b))
    assert(b.storageLevel != StorageLevel.NONE && a.storageLevel != StorageLevel.NONE,
      "each invocation's cache must be pinned while A's claim is pending")
    assert(inMemoryRelations(triggerB) == 1, "B must execute from its own cache")
    triggerA.collect()
    assert(eventually() { a.storageLevel == StorageLevel.NONE },
      "A's claim must release after A executes")
    assert(b.storageLevel != StorageLevel.NONE, "A's release must leave B's entry cached")
    assert(triggerB.collect().head.getLong(0) == 500L)
    assert(eventually() { b.storageLevel == StorageLevel.NONE },
      "B's own claim must still release after B executes")
  }

  test("a registration neither releases nor re-pins its caches, and releases them all after the trigger") {
    // a census found unpersisted at registration (a release that has
    // already landed) registered together with a materialized fresh
    // cache: registering must leave both as it found them, and the
    // trigger's execution must release both
    def base = spark.range(400).selectExpr("id % 11 as k", "id")
    val census = base.groupBy("k").count().persistCensus()
    census.unpersist(blocking = true)
    val fresh = base.selectExpr("k", "id * 2 as v").persistFresh()
    val before = persistentRddIds()
    fresh.count()
    val freshRdds = persistentRddIds() -- before
    assert(freshRdds.nonEmpty, "the fresh cache must be materialized")
    val trigger = fresh.join(census, "k").selectExpr("sum(v + count) as s")
    CacheLifecycle.releaseWhenExecuted(trigger, Seq(census, fresh))
    assert(census.storageLevel == StorageLevel.NONE, "registration re-pinned the census")
    assert(freshRdds.subsetOf(persistentRddIds()), "registration released the fresh cache")
    trigger.collect()
    assert(eventually() {
        census.storageLevel == StorageLevel.NONE && fresh.storageLevel == StorageLevel.NONE
      }, "registered caches still pinned after the trigger executed")
  }

  test("two threads running one managed-cache operator get the sequential results and release everything") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // a census core (persistCensus) and a run/truth pair (persistFresh)
    // consumed by two branches of the returned plan, as in q223
    def op(): DataFrame = {
      val base = spark.range(3000).select((col("id") % 53).as("q"), col("id").as("n"),
        (col("id") * 7 % 101).cast("double").as("s"))
      val core = base.groupBy("q").agg(count(lit(1)).as("c")).persistCensus()
      val run = base.filter(col("n") % 3 =!= 0).join(core, "q").persistFresh()
      val truth = base.filter(col("n") % 2 === 0).persistFresh()
      val hits = run.join(truth, Seq("q", "n")).groupBy("q").agg(count(lit(1)).as("hits"))
      val mass = run.groupBy("q").agg(sum(col("s")).as("mass"), max(col("c")).as("c"))
      val out = mass.join(hits, Seq("q"), "left").orderBy("q")
      CacheLifecycle.releaseWhenExecuted(out, Seq(core, run, truth))
      out
    }
    val sequential = op().collect().toSeq
    assert(sequential.length == 53)
    val before = persistentRddIds()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { _ =>
        val start = new java.util.concurrent.CountDownLatch(1)
        val runs = (1 to 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
            override def call() = {
              start.await()
              op().collect().toSeq
            }
          })
        }
        start.countDown()
        runs.foreach(r => assert(r.get(120, java.util.concurrent.TimeUnit.SECONDS) == sequential))
      }
    } finally pool.shutdown()
    assert(eventually() { persistentRddIds().subsetOf(before) },
      "persistent RDDs did not return to their starting set")
  }

  test("ngramJaccardPairs reads its posting caches from the pair plan") {
    // the pair plan must read the persisted frames the operator
    // returns, not their untagged inputs: 2 × prefix table (candidate
    // self-join) + 2 × filtered posting list (verification sets)
    val docs = Tables.documents(spark, TestSpark.sf).limit(30)
    val (pairs, caches) =
      Dedup.ngramJaccardPairsWithCaches(docs, "doc_id", "text", n = 3, threshold = 0.8)
    try assert(inMemoryRelations(pairs) == 4)
    finally caches.foreach(_.unpersist(blocking = true))
  }

  test("unrelated executions do not release caches prematurely") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(40)
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", numHashes = 16, bands = 4)
    // executions that do NOT consume the signatures
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).count()
    Thread.sleep(500) // allow listener-bus delivery of those events
    val n1 = pairs.count() // signatures still valid: plan executes correctly
    val n2 = pairs.count() // after release: recompute path, same answer
    assert(n1 == n2)
  }
}
