package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: a dim is timed, counted and explained through
  * [[graft.bench.DimRunner]] and [[Profile]], so `src/main/scala/graft/tools`
  * holds only the kept entry points below. A new `main` there is a copied
  * harness unless this list names it; every file declares `package
  * graft.tools`.
  */
class ToolsGuardSpec extends AnyFunSuite {

  private val mains =
    Set("CalibrateHost", "HostProbe", "Profile", "ScaleCorpus", "ScaleProbe", "StoreSmoke")

  test("only the kept tools under src/main/scala/graft/tools define a main") {
    val dir = Paths.get("src/main/scala/graft/tools")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(dir)
    val sources =
      try walk.filter(_.toString.endsWith(".scala")).toArray(n => new Array[Path](n)).toVector
      finally walk.close()
    val withMain = sources.filter(f => Files.readString(f).contains("def main(")).map(_.getFileName.toString)
    assert(withMain.toSet == mains.map(_ + ".scala"),
      s"time, count or explain a dim with graft.tools.Profile instead of a new tool: $withMain")
    val pkg = "(?m)^package graft\\.tools\\s*$".r
    val misplaced = sources.filter(f => pkg.findFirstIn(Files.readString(f)).isEmpty)
    assert(misplaced.isEmpty, s"declare package graft.tools: $misplaced")
  }
}
