package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one memo mechanism: per-key locks live and die with their
  * entries, only a successful compute memoizes, keys are per session
  * OBJECT, every memo registers itself so [[SessionMemo.clearAll]]
  * reaches it, and path-keyed read plans evict prefix-safely.
  */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("eviction frees the per-key locks: nothing retains an evicted key") {
    val memo = new SessionMemo[Int]()
    // fresh (non-interned) key strings: once evicted, only a leftover
    // lock or entry could keep them reachable
    val refs = (1 to 200).map { i =>
      val k = s"a:$i"
      memo.getOrElsePut(spark, k)(i)
      new java.lang.ref.WeakReference(k)
    }
    (1 to 50).foreach(i => memo.getOrElsePut(spark, s"b:$i")(i))
    assert(memo.size == 250)
    memo.evictPrefix("a:")
    assert(memo.size == 50 && memo.keys.forall(_.startsWith("b:")))
    memo.clear()
    assert(memo.size == 0 && memo.keys.isEmpty)
    def released = refs.forall(_.get == null)
    var tries = 0
    while (!released && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(released, s"${refs.count(_.get != null)} evicted keys still reachable")
  }

  test("a throwing compute leaves no key and recomputes on the next call") {
    val memo = new SessionMemo[String]()
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      memo.getOrElsePut(spark, "k") {
        computes.incrementAndGet()
        throw new IllegalStateException("fit failed")
      }
    }
    assert(e.getMessage == "fit failed")
    assert(memo.keys.isEmpty && memo.size == 0)
    assert(memo.getOrElsePut(spark, "k") { computes.incrementAndGet(); "ok" } == "ok")
    assert(computes.get() == 2 && memo.keys == Set("k"))
    // a hit runs no compute
    assert(memo.getOrElsePut(spark, "k")(fail("recomputed a hit")) == "ok")
  }

  test("concurrent callers of a failing key all fail and leave no key") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val memo = new SessionMemo[Int]()
    val outcomes = Await.result(Future.sequence((1 to 6).map(_ => Future(
      scala.util.Try(memo.getOrElsePut(spark, "k") {
        Thread.sleep(100)
        throw new IllegalStateException("boom")
      })))), 60.seconds)
    assert(outcomes.forall(_.isFailure))
    assert(memo.size == 0 && memo.keys.isEmpty)
  }

  test("keys are per session object: same string, two sessions, two entries") {
    val memo = new SessionMemo[Int]()
    val other = spark.newSession()
    assert(memo.getOrElsePut(spark, "k")(1) == 1)
    assert(memo.getOrElsePut(other, "k")(2) == 2)
    assert(memo.size == 2)
    memo.evictPrefix(other, "k")
    assert(memo.size == 1 && memo.getOrElsePut(spark, "k")(3) == 1)
    assert(memo.entries(spark, "") == Seq("k" -> 1))
    assert(memo.entries(other, "").isEmpty)
  }

  test("every memo registers itself; clearAll empties all of them after a query mix") {
    val mix = Seq("q_overlap", "q_dcast", "q_cumsum_global", "q_cms_tokens",
      "q_dedup_minhash", "q_contamination_bloom", "q_ann_ivf", "q_mix")
    mix.foreach(n => SparkEntry.queries(n)(spark, SparkTestSession.sfDir).count())
    val local = new SessionMemo[Int]()
    local.getOrElsePut(spark, "k")(1)
    val memos = SessionMemo.registered
    assert(memos.exists(_ eq local))
    // the mix filled many distinct memos (tables, fits, persisted frames)
    assert(memos.count(_.size > 0) >= 8,
      s"query mix filled only ${memos.count(_.size > 0)} memos")
    SessionMemo.clearAll()
    val left = SessionMemo.registered.filter(_.size > 0)
    assert(left.isEmpty, s"memos not emptied by clearAll: ${left.map(_.keys)}")
  }

  test("a clear-all drops the overlap bin-width estimate, so it re-runs its jobs") {
    import spark.implicits._
    val x = (1 to 200).map(i => (i.toLong, i.toLong + i % 7)).toDF("xs", "xe")
    val y = (1 to 100).map(i => (2L * i, 2L * i + 3)).toDF("ys", "ye")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark.sparkContext, 10000L)
      jobs.set(0)
      body
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark.sparkContext, 10000L)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      def estimate() = operators.Joins.estimateBinWidth(x, "xs", "xe", y, "ys", "ye")
      SessionMemo.clearAll()
      var w1 = 0L
      assert(jobsOf { w1 = estimate() } > 0)
      assert(jobsOf(assert(estimate() == w1)) == 0, "a memo hit must run no job")
      SessionMemo.clearAll()
      assert(jobsOf(assert(estimate() == w1)) > 0,
        "the estimate survived a clear-all")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("evictReadPlans(root) keeps a sibling root that extends the path") {
    import spark.implicits._
    val dir = TestTmp.dir("graft_readplans")
    val idx = s"$dir/idx"
    val idx2 = s"$dir/idx2"
    Seq(idx, idx2).foreach(r =>
      Seq(1, 2, 3).toDF("v").write.parquet(s"$r/part"))
    val read = (r: String) => operators.IndexCommit.readComponent(spark, r, "part")
    val a1 = read(idx)
    val b1 = read(idx2)
    assert(read(idx) eq a1)
    assert(read(idx2) eq b1)
    operators.IndexCommit.evictReadPlans(idx)
    assert(!(read(idx) eq a1), "the evicted root's plan was served")
    assert(read(idx2) eq b1, "evicting /idx dropped the sibling /idx2")
    assert(read(idx2).agg(sum(col("v"))).head().getLong(0) == 6L)
  }
}
