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
  *
  * Per-batch bounds (`minBatchId`, `committedMax`) reach a column
  * comparison only through `BatchParam`: as a literal they would put each
  * batch's value into the generated source and recompile every batch.
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

  private def sources: Seq[(String, String)] = {
    val dir = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(dir), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    graft.core.Fs.list(dir).filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> Files.readString(f))
  }

  test("one kernel per ingest gate and one micro-batch driver under src/main/scala/graft/streaming") {
    val found = for {
      (name, text) <- sources
      t <- tokens
      n = text.split(java.util.regex.Pattern.quote(t), -1).length - 1 if n > 0
    } yield (name, t) -> n
    val unexpected = found.filter { case (k, n) => n > allowed.getOrElse(k, 0) }
    assert(unexpected.isEmpty,
      s"call the gate's kernel or StreamIngest.foreachBatch instead of copying it: $unexpected")
    val stale = allowed.filter { case (k, n) => found.toMap.getOrElse(k, 0) < n }
    assert(stale.isEmpty, s"shrink the allow-list to what remains: $stale")
  }

  test("per-batch bounds meet columns only through BatchParam") {
    val bound = "(?:minBatchId|committedMax)"
    val op = "(?:===|=!=|<=>|<=|>=|<|>)"
    // column-op-bound, bound-op-column, Column methods, lit(bound), a
    // literal scanWhere bound, and the bound interpolated into a SQL string
    val literalUses = Seq(
      s"""col\\([^)]*\\)\\s*$op\\s*$bound\\b""",
      s"""\\b$bound\\s*$op\\s*col\\(""",
      s"""\\.(?:lt|gt|leq|geq|equalTo|notEqual|between)\\(\\s*$bound\\b""",
      s"""\\blit\\(\\s*$bound\\b""",
      s"""scanWhere\\([^\\n]*\\b$bound\\b""",
      s"""(?:expr|where|filter|selectExpr)\\(s"[^"]*\\$$\\{?$bound\\b""").map(_.r)
    val found = for {
      (name, text) <- sources
      re <- literalUses
      m <- re.findAllIn(text)
    } yield s"$name: $m"
    assert(found.isEmpty, s"wrap the bound in BatchParam(...): $found")
    val viaParam = sources.map { case (name, text) =>
      name -> s"BatchParam\\($bound\\)".r.findAllIn(text).size }.toMap
    assert(viaParam.getOrElse("RefineryIngest.scala", 0) > 0 &&
      viaParam.getOrElse("SemanticDedupIngest.scala", 0) > 0,
      s"the scan must see the bounds it guards: $viaParam")
  }
}
