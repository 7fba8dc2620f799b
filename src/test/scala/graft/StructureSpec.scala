package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards: what identifies a cached artifact is decided in
  * `Staging.scala` alone ([[Staging.cached]] and [[Memo]]), so no other
  * main source builds a cache key from `keyOf`/`stampOf`, and no
  * operator rolls its own memo map. */
class StructureSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def offenders(under: Path, token: String,
                        except: Set[String] = Set.empty): Seq[String] = {
    val walk = Files.walk(under)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !except.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(token) =>
            s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
  }

  test("cache keys are derived only in Staging.scala") {
    assert(Files.isRegularFile(main.resolve("graft/Staging.scala")))
    val hits = Seq("keyOf(", "stampOf(").flatMap(
      offenders(main, _, except = Set("Staging.scala")))
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("operators keep no hand-rolled memo maps") {
    val ops = main.resolve("graft/operators")
    assert(Files.isDirectory(ops))
    val hits = offenders(ops, "ConcurrentHashMap")
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }
}
