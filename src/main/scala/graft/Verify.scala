package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool (GRAFT_VERIFY_THREADS, default 6):
  * results are independent one-query-one-dir writes, Spark's scheduler
  * interleaves the jobs, and — the actual win on a slow machine — each
  * query's driver-side planning + Janino codegen compiles on its own
  * thread instead of serializing with every other query's. Failures stay
  * per-query (logged, other queries unaffected). The oracle_sql.json dump
  * is written FIRST so a wall-clock-truncated run still yields a usable
  * (partial) gate rather than zero rows.
  *
  * Submission order (round-4 lesson: a truncated run covered 0 of the 7
  * new queries because they sort mid-alphabet behind 40 already-proven
  * ones): queries NEVER recorded green in any committed
  * CORRECTNESS_r*.json run first, so truncation eats the already-proven
  * tail, not the new surface.
  */
object Verify {
  /** Query names ever recorded HASH-green by a past driver round — read
    * from the CORRECTNESS_r*.json files in cwd. hash_match is the driver's
    * strong signal; a rows-match-only query (right count, wrong values)
    * still counts as never-green so it re-runs in the truncation-safe
    * head of the queue. Unreadable/absent files contribute nothing
    * (fresh checkout ⇒ all queries count as new).
    */
  def previouslyGreen(): Set[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
    files.flatMap { f =>
      try JsonMethods.parse(Files.readString(f.toPath)) match {
        case JObject(fields) => fields.collect {
          case (name, JObject(v))
            if v.toMap.get("hash_match").contains(JBool(true)) => name
        }
        case _ => Nil
      } catch { case _: Throwable => Nil }
    }.toSet
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter for iteration
    val spark = graft.core.GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Register every temp view before the pool. Some query fns still
    // re-register the same views / run GraftCatalog.sql on their own
    // (Relational/TextOps); that concurrent re-registration is benign —
    // every definition is a pure function of sfDir, so workers only ever
    // replace a view with an identical one, and Spark's temp-view catalog
    // ops are synchronized — but it is re-registration, not absence of it.
    // Registration is PER TABLE and failure-isolated: in round 6 a single
    // events schema change made the all-tables register throw in main and
    // zeroed the whole correctness record — including the ~100 queries
    // that never touch events. A table that fails to register now costs
    // exactly the queries that read it (they fail per-query below).
    (GraftCatalog.tableNames :+ "events").foreach { t =>
      try GraftCatalog.register(spark, sfDir, Seq(t))
      catch { case e: Throwable =>
        System.err.println(s"[verify] view '$t' failed to register: ${e.getMessage}")
      }
    }

    val green = previouslyGreen()
    val picked = SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) }.toSeq
      .sortBy { case (n, _) => (green(n), n) } // never-green first, then by name
    val threads = math.max(1, sys.env.getOrElse("GRAFT_VERIFY_THREADS", "6").toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    // Each result is written to a dot-prefixed temp dir and renamed into
    // place only on success: a wall-clock kill mid-write then leaves NO
    // $outDir/$name dir (driver scores the query untested) instead of a
    // half-written/empty one (driver scored those as 0-row FAILs in
    // round 5: median_quantity_per_flag, mm_decode_features — both green
    // on re-run).
    val futures = picked.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val tmp = s"$outDir/.tmp-$name"
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp)
            val target = Paths.get(s"$outDir/$name")
            graft.core.Fs.deleteTree(target)
            Files.move(Paths.get(tmp), target,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    spark.stop()
  }
}
