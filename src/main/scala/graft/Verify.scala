package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: extra args select a subset of queries (the driver
    // always calls with exactly two args → full run); typo'd names fail
    // loudly instead of silently verifying nothing
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Driver.session()
    new java.io.File(outDir).mkdirs()
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      // name order: deterministic memo-feeding and page-cache pattern,
      // so two sweeps of the same build are comparable (see Bench)
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
      Driver.watchdog(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.foreach { msg =>
        System.err.println(s"[verify] $name failed: $msg")
        // remove any previous run's output: stale parquet here would make
        // the driver hash-compare an OLD result instead of recording the
        // failure
        // depth-first recursive delete: an interrupted parquet write can
        // leave nested _temporary dirs a flat listFiles sweep misses
        def rmTree(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
          f.delete(); ()
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) rmTree(dir)
      }
    }
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
    // Self-documenting no_oracle entries: every query lacking an oracle
    // must be DECLARED (with its reason) in noOracleByDesign — the
    // driver's `err: "no_oracle"` rows then read as design, not
    // breakage. The equality check cuts both ways: an oracle dropped by
    // accident fails here instead of silently downgrading to rows-only,
    // and a stale declaration for a query that gained an oracle fails too.
    val undeclared =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
        SparkEntry.noOracleByDesign.keySet
    val stale = SparkEntry.noOracleByDesign.keySet & SparkEntry.oracleSql.keySet
    require(undeclared.isEmpty && stale.isEmpty,
      s"no_oracle drift — undeclared: $undeclared, stale declarations: $stale")
    val byDesign = SparkEntry.noOracleByDesign
      .map { case (k, v) => s"${q(k)}: {${q("by_design")}: true, ${q("reason")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_by_design.json"), byDesign)
    spark.stop()
  }
}
