package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the seven exact-set collapse families decide their branch
  * through one kernel, [[ExactSetCollapse]]. The pre-gate, the group shape
  * stats and the branch rule are called only in its file under
  * `src/main/scala`; a call anywhere else is a copied protocol. The counts
  * pin one call each, beside its definition.
  */
class CollapseGuardSpec extends AnyFunSuite {

  private val tokens = Seq("lowDupPreGate(", "groupShapeStats(", "shouldCollapse(")

  /** (file, token) -> occurrences required. */
  private val allowed = Map(
    ("ExactSetCollapse.scala", "lowDupPreGate(") -> 2,
    ("ExactSetCollapse.scala", "groupShapeStats(") -> 2,
    ("ExactSetCollapse.scala", "shouldCollapse(") -> 2)

  test("one exact-set collapse kernel under src/main/scala") {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(dir)
    val files =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      } finally walk.close()
    val found = for {
      f <- files
      text = Files.readString(f)
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (f.getFileName.toString, t) -> n
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"branch through ExactSetCollapse.run instead of copying its protocol: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
