package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional 3rd arg: comma-separated name filter for local
    // iteration, run in the given order; without it every query runs
    val queries = SparkEntry.queries
    val names = rest.headOption.fold(queries.keys.toSeq)(
      SparkEntry.selectNames(_, queries.keySet))
    val spark = LocalSession(LocalSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Written BEFORE the query loop (r12): it depends only on
    // SparkEntry.oracleSql, and a pipelined oracle lane polling this
    // outDir for _SUCCESS dumps needs the SQL long before a batched
    // scale leg finishes its last query.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    names.foreach { name =>
      val fn = queries(name)
      // NonFatal only (an OOM must abort, not cascade per-query
      // failures); the stderr line is single-line and null-safe so a
      // multi-line AnalysisException plan dump can't corrupt the
      // driver's line-oriented failure parsing
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Per-query wall on stderr for scale soaks that batch many
        // queries in one JVM (the decade tables read these). The tag
        // differs from the driver's `[verify] ... failed` failure
        // grammar, so line-oriented failure parsing is unaffected.
        System.err.println(f"[verify-time] $name ${
          (System.nanoTime() - t0) / 1e9}%.1f")
      }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: " +
          s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("")
            .replaceAll("\\s+", " ").take(300))
      }
      // Release per query like Bench does: cached plans pin their
      // lineage, and the ContextCleaner only deletes shuffle files
      // once the dependency objects are GC'd — at sf100 the
      // accumulated spill of a 32-query run crossed 26GB before the
      // heavy tail (observed live) and would exhaust the disk. The
      // explicit GC makes the cleanup prompt instead of
      // heap-pressure-dependent.
      graft.CachedPlans.release()
      System.gc()
    }
    graft.CachedPlans.release()
    spark.stop()
  }
}
