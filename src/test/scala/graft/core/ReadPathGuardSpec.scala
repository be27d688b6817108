package graft.core

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scans over `src/main/scala`:
  *
  *  - the read path lists `_graft/`, loads a head manifest or lists a batch
  *    directory only through [[VectorTable.snapshot]], which does each once
  *    per committed version. Any other call site is a per-read listing
  *    unless the allow-list names it as write or maintenance code;
  *  - every parquet footer opens through [[DirectParquetRead.openFile]],
  *    on its one loaded Hadoop conf: an open elsewhere would build and load
  *    a fresh `Configuration` per call;
  *  - parquet pages are read and decoded for point reads only in
  *    [[DirectParquetRead]]'s one decode function, whose units its
  *    decoded cache holds: a second decode path would bypass the cache.
  */
class ReadPathGuardSpec extends AnyFunSuite {

  private lazy val sources: Vector[(String, String)] = {
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(dir)
    val files =
      try walk.filter(_.toString.endsWith(".scala")).toArray(n => new Array[Path](n)).toVector
      finally walk.close()
    files.map(f => f.getFileName.toString -> Files.readString(f))
  }

  /** (file, token) -> occurrences beyond `allowed`, and allow-list entries
    * above what the sources hold.
    */
  private def scan(tokens: Seq[String], allowed: Map[(String, String), Int])
      : (Map[(String, String), Int], Map[(String, String), Int]) = {
    val found = (for {
      (name, text) <- sources
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (name, t) -> n).toMap
    (found.filter { case (k, n) => n > allowed.getOrElse(k, 0) },
      allowed.filter { case (k, n) => found.getOrElse(k, 0) < n })
  }

  test("manifest loads and directory listings stay behind the head snapshot") {
    val (unexpected, stale) = scan(
      Seq("Manifest.load(", "Manifest.listVersions(", "partFiles("),
      Map(
        // snapshot reload; vacuum; `versions` (time travel)
        ("VectorTable.scala", "Manifest.listVersions(") -> 3,
        // snapshot span table; purge's affected-file discovery
        ("VectorTable.scala", "partFiles(") -> 2,
        // the definition
        ("DirectParquetRead.scala", "partFiles(") -> 1,
        // zone maps of a batch just written
        ("ZoneMaps.scala", "partFiles(") -> 1))
    assert(unexpected.isEmpty,
      s"read through VectorTable.snapshot instead of listing or loading per read: $unexpected")
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }

  test("parquet footers open only through DirectParquetRead.openFile") {
    val (unexpected, stale) = scan(
      Seq("ParquetFileReader.open("),
      Map(("DirectParquetRead.scala", "ParquetFileReader.open(") -> 1)) // the helper
    assert(unexpected.isEmpty, s"open footers with DirectParquetRead.openFile: $unexpected")
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }

  test("parquet pages decode only in DirectParquetRead's one decode function") {
    val (unexpected, stale) = scan(
      Seq("readFilteredRowGroup(", "readNextFilteredRowGroup(", "readRowGroup(", "readNextRowGroup(",
        "new ColumnReaderImpl("),
      Map(
        ("DirectParquetRead.scala", "readFilteredRowGroup(") -> 1,
        ("DirectParquetRead.scala", "new ColumnReaderImpl(") -> 1))
    assert(unexpected.isEmpty, s"read point rows through DirectParquetRead's decoded cache: $unexpected")
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
