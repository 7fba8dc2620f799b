package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[Staging.deleteTree]] and [[Staging.copyTree]], the one recursive
  * delete and the one file-level tree copy, and the reaping of superseded
  * revisions by [[Staging.cached]]. */
class StagingSpec extends AnyFunSuite {

  /** a/x, a/b/y, a/b/c/ (empty), z under a fresh temp dir */
  private def nested(): Path = {
    val root = Files.createTempDirectory("staging_tree_")
    Files.createDirectories(root.resolve("a/b/c"))
    Files.write(root.resolve("a/x"), "x".getBytes)
    Files.write(root.resolve("a/b/y"), "yy".getBytes)
    Files.write(root.resolve("z"), "zzz".getBytes)
    root
  }

  private def listing(root: Path): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) "/" else Files.readString(p))
    }.toMap
    finally walk.close()
  }

  test("copyTree copies a nested tree byte for byte, empty dirs included") {
    val src = nested()
    val dst = Files.createTempDirectory("staging_copy_").resolve("out")
    Staging.copyTree(src, dst)
    assert(listing(dst) == listing(src))
    assert(listing(dst) == Map("a" -> "/", "a/x" -> "x", "a/b" -> "/",
      "a/b/y" -> "yy", "a/b/c" -> "/", "z" -> "zzz"))
    Staging.deleteTree(src)
    Staging.deleteTree(dst.getParent)
  }

  test("deleteTree removes a nested tree; a missing path is a no-op") {
    val root = nested()
    Staging.deleteTree(root)
    assert(!Files.exists(root))
    Staging.deleteTree(root)
    Staging.deleteTree(Paths.get(root.toString, "never", "made"))
  }

  test("a failing copy closes its walk: no directory handle leaks") {
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd")
    def openFds(): Int = {
      val l = Files.list(fdDir)
      try l.count().toInt finally l.close()
    }
    val src = nested()
    val dst = Files.createTempDirectory("staging_clash_")
    Staging.copyTree(src, dst)
    // every further copy hits an existing target file mid-walk; an
    // unclosed walk leaks one handle per directory it holds open
    val before = openFds()
    (1 to 300).foreach { _ =>
      intercept[FileAlreadyExistsException](Staging.copyTree(src, dst))
    }
    val grown = openFds() - before
    assert(grown < 50, s"$grown file descriptors leaked over 300 failed copies")
    Staging.deleteTree(src)
    Staging.deleteTree(dst)
  }

  test("cached reaps superseded revs of its own artifact once past the hour") {
    val src = nested() // the source whose key and stamp name the artifacts
    val name = s"stagingspec_${System.nanoTime()}"
    def stage(n: String, rev: Int): Path =
      Paths.get(Staging.cached(n, src.toString, rev) { t =>
        Files.write(Paths.get(t, "v"), s"$n r$rev".getBytes)
      })
    def age(p: Path): Unit =
      assert(p.toFile.setLastModified(System.currentTimeMillis() - 7200L * 1000))
    val r1 = stage(name, 1)
    val r2 = stage(name, 2)
    assert(Files.exists(r1), "a superseded rev younger than an hour stays")
    val r3 = stage(name, 3)
    val other = stage(s"${name}x", 1)
    Seq(r1, r3, other).foreach(age)
    // a cache hit at r2 reaps the old r1, never the newer r3 nor the r1
    // of another artifact built from the same source
    assert(stage(name, 2) == r2)
    assert(!Files.exists(r1))
    assert(Files.readString(r2.resolve("v")) == s"$name r2")
    assert(Files.exists(r3) && Files.exists(other))
    Seq(r2, r3, other, src).foreach(Staging.deleteTree)
  }
}
