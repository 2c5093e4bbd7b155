package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The main sources as the source-level lints read them: every code line
  * under src/main/scala/graft, keyed by its path relative to that
  * directory. Comment and scaladoc lines (prose mentioning an API or a
  * knob) are left out. */
object MainSources {
  private val root: Path = {
    // tests fork with cwd = repo root, but don't assume it
    val cand = Seq(Paths.get("src/main/scala/graft"),
      Paths.get(sys.props("user.dir"), "src/main/scala/graft"))
    cand.find(Files.isDirectory(_)).getOrElse(throw new IllegalStateException(
      s"cannot locate src/main/scala/graft from ${sys.props("user.dir")}"))
  }

  /** (file, line#, line) for every code line of every .scala source. */
  lazy val codeLines: Seq[(String, Int, String)] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala.filter(p =>
      p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    finally s.close()
    files.flatMap { p =>
      val rel = root.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !Seq("*", "//", "/*").exists(line.trim.startsWith) =>
          (rel, i + 1, line)
      }
    }
  }
}
