package graft.core

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the read path lists `_graft/`, loads a head manifest or
  * lists a batch directory only through [[VectorTable.snapshot]], which
  * does each once per committed version. Any other call site under
  * `src/main/scala` is a per-read listing unless the allow-list below names
  * it as write, maintenance or tooling code.
  */
class ReadPathGuardSpec extends AnyFunSuite {

  private val tokens = Seq("Manifest.load(", "Manifest.listVersions(", "partFiles(")

  /** (file, token) -> occurrences allowed. */
  private val allowed = Map(
    // snapshot reload; vacuum; `versions` (time travel)
    ("VectorTable.scala", "Manifest.listVersions(") -> 3,
    // snapshot span table; purge's affected-file discovery
    ("VectorTable.scala", "partFiles(") -> 2,
    // the definition
    ("DirectParquetRead.scala", "partFiles(") -> 1,
    // zone maps of a batch just written
    ("ZoneMaps.scala", "partFiles(") -> 1,
    // profiling tool
    ("ProfilePurge.scala", "partFiles(") -> 1)

  test("manifest loads and directory listings stay behind the head snapshot") {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(dir)
    val sources =
      try walk.filter(_.toString.endsWith(".scala")).toArray(n => new Array[Path](n)).toVector
      finally walk.close()
    val found = for {
      f <- sources
      text = Files.readString(f)
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (f.getFileName.toString, t) -> n
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"read through VectorTable.snapshot instead of listing or loading per read: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
