package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[Memo]] builds once per (application, source dir stamp, extra) key;
  * [[Staging.cached]] derives its on-disk key the way the call sites
  * used to build it by hand. */
class MemoSpec extends SparkSpec {

  /** A fresh source dir holding one file; its path makes the key unique.
    * Lives under the per-JVM [[Staging.root]], removed at exit. */
  private def sourceDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory(
      java.nio.file.Paths.get(Staging.root), "memo_spec_src_")
    Files.write(d.resolve("part-0"), "v1".getBytes)
    d
  }

  test("concurrent callers on one key run exactly one build") {
    val memo = new Memo[Int]
    val dir = sourceDir().toString
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          memo(spark, dir) { Thread.sleep(200); builds.incrementAndGet() }
        }
      }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got.toSet == Set(1))
    } finally pool.shutdownNow()
  }

  test("rewriting a file under the dir (new stamp) rebuilds") {
    val memo = new Memo[String]
    val src = sourceDir()
    var builds = 0
    def get(): String = memo(spark, src.toString) { builds += 1; s"build$builds" }
    assert(get() == "build1" && get() == "build1" && builds == 1)
    Files.write(src.resolve("part-0"), "v2, longer".getBytes)
    assert(get() == "build2" && builds == 2)
    assert(get() == "build2" && builds == 2)
  }

  test("a build that calls a second Memo completes") {
    val inner = new Memo[Long]
    val outer = new Memo[Long]
    val dir = sourceDir().toString
    assert(outer(spark, dir) { inner(spark, dir)(20L) + 1L } == 21L)
    assert(inner(spark, dir)(fail("inner value must be memoized")) == 20L)
    assert(outer(spark, dir)(fail("outer value must be memoized")) == 21L)
  }

  test("the key carries the SparkContext's application id") {
    val dir = sourceDir().toString
    val appId = spark.sparkContext.applicationId
    val k = Memo.key(spark, dir, "x")
    assert(appId.nonEmpty && k.startsWith(appId), k)
    assert(k.contains(dir) && k.contains(Staging.stampOf(dir)), k)
    assert(Memo.key(spark, dir, "y") != k, "extra must be part of the key")
    // sessions of one context share its checkpoints, so they share keys
    assert(Memo.key(spark.newSession(), dir, "x") == k)
  }

  test("Staging.cached resolves the hand-built txnlog key path") {
    val root = operators.Maintenance.txnRoot(spark, sf)
    val expected = Staging.cacheRoot.resolve(
      s"txnlog_${Staging.keyOf(sf)}_${Staging.stampOf(sf)}_r2").toString
    assert(root == expected)
    assert(Staging.cached("txnlog", sf, rev = 2) {
      _ => fail("txn log must already be staged")
    } == expected)
    assert(Files.isDirectory(java.nio.file.Paths.get(expected, "_log")))
  }
}
