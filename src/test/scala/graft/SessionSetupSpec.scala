package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session set-up has one home: `Graft.session` builds every main's
  * session and `Graft.install` registers the native functions. A second
  * builder or registration path in `src/main` would let per-main confs
  * and function lists drift apart again, so this reads the sources and
  * names any file outside `Graft.scala` that does either. */
class SessionSetupSpec extends AnyFunSuite {

  private val forbidden = Seq("SparkSession.builder", "createOrReplaceTempFunction")

  test("only Graft.scala builds sessions or registers functions in src/main") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(root), s"no src/main under ${sys.props("user.dir")}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "Graft.scala"))
    val offenders = for {
      p: Path <- sources if p.getFileName.toString != "Graft.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- forbidden if line.contains(word)
    } yield s"${root.relativize(p)}:${i + 1}: $word"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
