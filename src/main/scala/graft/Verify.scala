package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[2,4,4096] runs the whole dump in
    // multi-JVM mode (separate executor processes — same harness as
    // tools/cluster_smoke.sh), turning the oracle gate into a
    // cluster-execution check (Tables.session)
    val spark = Tables.session("graft-verify", cpus,
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_SKIP: comma-separated query names to exclude at
    // stress SFs. q20 self-guards since round 5 (in-operator candidate
    // bound check), so this is a general escape hatch, not a q20
    // requirement. Skipped names are dropped from oracle_sql.json too, so
    // the DuckDB compare sees a consistent set. The driver's gate sets no
    // skip.
    val skip: Set[String] = sys.env.get("SPARK_GRAFT_VERIFY_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // a typo'd skip name would silently run the query it meant to exclude
    val unknownSkip = skip -- SparkEntry.queries.keySet
    require(unknownSkip.isEmpty,
      s"SPARK_GRAFT_VERIFY_SKIP names not registered: ${unknownSkip.mkString(",")}")
    SparkEntry.queries.filterNot(kv => skip(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql.filterNot(kv => skip(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
