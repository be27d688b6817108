package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: operators memoize through [[graft.core.Memo]] only. A
  * `java.io.tmpdir` base dir, a `CREATE_NEW` pointer write or a
  * `ConcurrentHashMap` under `graft/operators` is a hand-copied memo
  * protocol unless the allow-list below names it.
  */
class MemoGuardSpec extends AnyFunSuite {

  private val tokens = Seq("java.io.tmpdir", "CREATE_NEW", "ConcurrentHashMap")

  /** (file, token) -> occurrences allowed. */
  private val allowed = Map(
    // catalog-backed bucketed tables: the heartbeat's live-dir set
    ("Relational.scala", "ConcurrentHashMap") -> 1)

  test("no hand-rolled memo protocol under src/main/scala/graft/operators") {
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val found = for {
      f <- graft.core.Fs.list(dir) if f.toString.endsWith(".scala")
      text = Files.readString(f)
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (f.getFileName.toString, t) -> n
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"use graft.core.Memo instead of copying the memo protocol: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
