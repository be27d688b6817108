package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the seven derived indexes keep current through one
  * protocol, [[IndexMaintenance]]. Restore catch-up, the file-granular
  * delete pass and the meta write are called, and the meta files named,
  * only in its file under `src/main/scala`; a use anywhere else is a copied
  * protocol. The counts pin one call site each: restore catch-up once
  * (from refresh), the delete pass once (from `Deletes.rewriteFiles`), the
  * meta write twice (build and refresh), each beside its definition.
  */
class IndexGuardSpec extends AnyFunSuite {

  private val tokens = Seq("restoreCatchUp(", "applyDeletesFiles(", "writeMeta(",
    "\"meta.txt\"", "\"version.txt\"")

  /** (file, token) -> occurrences required. */
  private val allowed = Map(
    ("IndexMaintenance.scala", "restoreCatchUp(") -> 2,
    ("IndexMaintenance.scala", "applyDeletesFiles(") -> 2,
    ("IndexMaintenance.scala", "writeMeta(") -> 3,
    ("IndexMaintenance.scala", "\"meta.txt\"") -> 1,
    ("IndexMaintenance.scala", "\"version.txt\"") -> 1)

  test("one index maintenance protocol under src/main/scala") {
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
      s"maintain indexes through IndexMaintenance instead of copying its protocol: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
