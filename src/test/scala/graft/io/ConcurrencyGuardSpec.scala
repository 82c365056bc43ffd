package graft.io

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[Jobs]] is the only place in the engine that creates a thread pool or
  * awaits a future: a hand-rolled pool elsewhere would bring back the
  * fail-fast await that returns while sibling writes still run.
  */
class ConcurrencyGuardSpec extends AnyFunSuite {

  test("no thread pool or future await outside graft/io/Jobs.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root not found")
    val banned = "newFixedThreadPool|fromExecutorService|Future\\.sequence|Await\\.result".r
    val jobs = root.resolve("graft/io/Jobs.scala")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != jobs)
        .flatMap { p: Path =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
