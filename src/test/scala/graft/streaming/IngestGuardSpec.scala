package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: each ingest gate's verdict is written once, in its gate
  * kernel, and every gate starts its stream through one micro-batch
  * driver. The rolling-hash span verdict, the Jaccard verification, the
  * contamination pass and the ordered-arrival check each appear in one
  * file under `graft/streaming`, and `.writeStream` only in
  * [[StreamIngest.foreachBatch]] and [[AnnServe]] (which serves answers
  * to a sink, not into a table). A second occurrence is a copied gate
  * unless the allow-list below names it.
  */
class IngestGuardSpec extends AnyFunSuite {

  private val tokens = Seq("rollingHashes(", "sortedIntersectCount(",
    "semanticContaminationOf(", "requires id-ordered arrival", ".writeStream")

  /** (file, token) -> occurrences allowed. */
  private val allowed = Map(
    ("SpanScrubIngest.scala", "rollingHashes(") -> 1,
    ("LshDedupIngest.scala", "sortedIntersectCount(") -> 1,
    ("ContaminationIngest.scala", "semanticContaminationOf(") -> 1,
    ("StreamIngest.scala", "requires id-ordered arrival") -> 1,
    ("StreamIngest.scala", ".writeStream") -> 1,
    ("AnnServe.scala", ".writeStream") -> 1)

  test("one kernel per ingest gate and one micro-batch driver under src/main/scala/graft/streaming") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val found = for {
      f <- graft.core.Fs.list(dir) if f.toString.endsWith(".scala")
      text = Files.readString(f)
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (f.getFileName.toString, t) -> n
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"call the gate's kernel or StreamIngest.foreachBatch instead of copying it: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }
}
