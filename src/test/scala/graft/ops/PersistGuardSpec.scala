package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every cache in the engine has an owner: a frame is persisted only
  * through [[Artifacts.persist]], which the innermost
  * [[Artifacts.scoped]] block releases. A bare `.persist(` or `.cache()`
  * in `src/main` would outlive its query, so none may appear outside
  * `Artifacts.scala`.
  */
class PersistGuardSpec extends AnyFunSuite {

  test("no bare .persist( or .cache() in src/main outside Artifacts") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val bare = """(?<!Artifacts)\.persist\(|\.cache\(\)""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Artifacts.scala").toSeq
    assert(files.size > 40, s"only ${files.size} sources under $root")
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if bare.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, s"${hits.size} bare caches:\n${hits.mkString("\n")}")
  }
}
